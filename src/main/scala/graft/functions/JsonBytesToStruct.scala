package graft.functions

import java.io.ByteArrayInputStream

import com.fasterxml.jackson.core.{JsonFactory, JsonParser}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, ExprUtils, Expression, TimeZoneAwareExpression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.json.{CreateJacksonParser, JSONOptions, JacksonParser}
import org.apache.spark.sql.catalyst.util.FailureSafeParser
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** `from_json(json, schema)` for a struct schema, with Spark's own parser
  * (`JacksonParser` under a PERMISSIVE `FailureSafeParser`, default
  * `JSONOptions`, built as `JsonToStructsEvaluator` builds them), that
  * creates each record's Jackson parser over the record's UTF-8 bytes.
  *
  * Spark's `from_json` creates it with `CreateJacksonParser.utf8String`, a
  * `new InputStreamReader(new ByteArrayInputStream(..), UTF_8)`: every
  * record allocates a `StreamDecoder` with an 8 KB buffer and is decoded to
  * chars before Jackson's char-based parser tokenizes it. Here Jackson's
  * UTF-8 byte parser reads the `ByteArrayInputStream` itself, into its
  * recycled buffer. Three kinds of record go through Spark's reader
  * instead, because there the two disagree:
  *  - not valid UTF-8: the reader keeps each bad byte as U+FFFD, the byte
  *    parser rejects the record;
  *  - starting with the UTF-8 BOM: the byte parser skips it, the reader
  *    keeps it as U+FEFF and rejects the record;
  *  - a NUL among the first four bytes: the byte parser would detect
  *    UTF-16 or UTF-32 from it, the reader decodes UTF-8.
  *
  * `graft.plans.PruneJsonFields` narrows `schema` to the fields a query
  * reads.
  */
case class JsonBytesToStruct(child: Expression, schema: StructType,
    timeZoneId: Option[String] = None)
    extends UnaryExpression with TimeZoneAwareExpression with ExpectsInputTypes {

  // read where the plan is built, as JsonToStructs reads it
  val nameOfCorruptRecord: String = SQLConf.get.getConf(SQLConf.COLUMN_NAME_OF_CORRUPT_RECORD)

  override def inputTypes: Seq[DataType] = Seq(StringType)
  override def dataType: DataType = schema
  override def nullable: Boolean = true
  override def prettyName: String = "graft_from_json"
  override def withTimeZone(tz: String): TimeZoneAwareExpression = copy(timeZoneId = Some(tz))

  @transient private lazy val parser: FailureSafeParser[UTF8String] = {
    val options = new JSONOptions(Map.empty[String, String], timeZoneId.get, nameOfCorruptRecord)
    ExprUtils.verifyColumnNameOfCorruptRecord(schema, options.columnNameOfCorruptRecord)
    val raw = new JacksonParser(
      StructType(schema.filterNot(_.name == options.columnNameOfCorruptRecord)),
      options, allowArrayAsStructs = false)
    new FailureSafeParser[UTF8String](
      in => raw.parse(in, JsonBytesToStruct.createParser, identity[UTF8String]),
      options.parseMode, schema, options.columnNameOfCorruptRecord)
  }

  def parse(json: UTF8String): InternalRow = {
    val rows = parser.parse(json)
    if (rows.hasNext) rows.next() else null
  }

  override protected def nullSafeEval(json: Any): Any = parse(json.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("graftFromJson", this)
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = $self.parse($c); ${ev.isNull} = ${ev.value} == null;")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object JsonBytesToStruct {
  /** The SQL and Column form: `graft_from_json(json, 'a STRING, b INT')`.
    * Every field is made nullable, as `from_json` does.
    */
  def apply(child: Expression, ddl: String): JsonBytesToStruct =
    JsonBytesToStruct(child, nullable(StructType.fromDDL(ddl)).asInstanceOf[StructType])

  private def nullable(t: DataType): DataType = t match {
    case s: StructType => StructType(s.fields.map(f =>
      f.copy(dataType = nullable(f.dataType), nullable = true)))
    case a: ArrayType => ArrayType(nullable(a.elementType), containsNull = true)
    case m: MapType => MapType(m.keyType, nullable(m.valueType), valueContainsNull = true)
    case other => other
  }

  def createParser(factory: JsonFactory, record: UTF8String): JsonParser = {
    val bb = record.getByteBuffer
    val bytes = bb.array
    val off = bb.arrayOffset + bb.position
    val n = bb.remaining
    // isValid decodes byte by byte; an all-ASCII record is valid UTF-8
    if (utf8Only(bytes, off, n) && (ascii(bytes, off, n) || record.isValid))
      // a stream, not the array itself: Spark copies a non-string value read
      // as a string verbatim out of a byte-array source (`{ "a" : 1 }`) and
      // re-serializes it from any other source (`{"a":1}`), the reader's too
      factory.createParser(new ByteArrayInputStream(bytes, off, n))
    else CreateJacksonParser.utf8String(factory, record)
  }

  /** True when no byte has its high bit set; eight bytes per step. */
  private def ascii(b: Array[Byte], off: Int, n: Int): Boolean = {
    val base = Platform.BYTE_ARRAY_OFFSET + off
    var i = 0
    while (i + 8 <= n) {
      if ((Platform.getLong(b, base + i) & 0x8080808080808080L) != 0) return false
      i += 8
    }
    while (i < n) {
      if (b(off + i) < 0) return false
      i += 1
    }
    true
  }

  /** False where Jackson's byte-source bootstrap would read anything but
    * plain UTF-8: a UTF-8 BOM, or a NUL among the first four bytes (its
    * UTF-16/32 detection; the UTF-16/32 BOMs are not valid UTF-8).
    */
  private def utf8Only(b: Array[Byte], off: Int, n: Int): Boolean = {
    if (n >= 3 && b(off) == 0xEF.toByte && b(off + 1) == 0xBB.toByte && b(off + 2) == 0xBF.toByte)
      return false
    var i = 0
    while (i < math.min(n, 4)) {
      if (b(off + i) == 0) return false
      i += 1
    }
    true
  }
}
