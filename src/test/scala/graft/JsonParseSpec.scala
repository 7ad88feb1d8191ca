package graft

import java.nio.charset.StandardCharsets.{UTF_16LE, UTF_8}

import scala.collection.mutable.ArrayBuffer
import scala.util.Random

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.streaming.runtime.{MemoryStream, StreamingQueryWrapper}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StringType

import graft.functions.{GraftFunctions, JsonBytesToStruct}
import graft.model.{AttackResult, NetworkEvent}
import graft.sources.EventGen
import graft.streaming.StreamingAnomaly

/** `StreamingAnomaly.parse` (graft_from_json over the record bytes, its
  * schema narrowed by PruneJsonFields) against the `from_json` parse it
  * replaced, and the plans the rule narrows or leaves whole.
  */
class JsonParseSpec extends SparkSpecBase {
  import spark.implicits._

  private val events = EventGen.stream(seed = 7, n = 12000, burstLen = 15, attackEvery = 200)
  private lazy val wire: Seq[String] = spark.createDataset(events).toDF()
    .select(to_json(struct(StreamingAnomaly.eventSchema.fieldNames.toIndexedSeq.map(col): _*)))
    .as[String].collect().toSeq

  /** The parse `StreamingAnomaly.parse` replaced: Spark's `from_json`. */
  private def sparkParse(lines: DataFrame): Dataset[NetworkEvent] =
    lines.select(inline(array(from_json(col("value").cast(StringType), StreamingAnomaly.eventSchema))))
      .filter(Seq("ip_dst", "timestamp_start", "timestamp_end", "packets", "bytes")
        .map(col(_).isNotNull).reduce(_ && _))
      .as[NetworkEvent]

  private def counts[T](xs: Seq[T]): Map[T, Int] = xs.groupBy(identity).view.mapValues(_.size).toMap

  /** Both parses over the same binary lines: the whole struct per line
    * (parsed or null) and the events `parse` keeps, all twelve fields.
    */
  private def assertSameParse(lines: Seq[Array[Byte]]): Unit = {
    val df = lines.toDF("value").repartition(4).cache()
    try {
      val str = col("value").cast(StringType)
      val diff = df.select(col("value"),
          from_json(str, StreamingAnomaly.eventSchema).as("spark"),
          GraftFunctions.graftFromJson(str, StreamingAnomaly.eventSchema).as("graft"))
        .filter(!(col("spark") <=> col("graft")))
        .select(col("value").cast(StringType), to_json(col("spark")), to_json(col("graft")))
        .as[(String, String, String)].take(5)
      assert(diff.isEmpty, diff.mkString("\n"))
      val ours = StreamingAnomaly.parse(df).collect().toSeq
      val theirs = sparkParse(df).collect().toSeq
      assert(ours.length == theirs.length)
      assert(counts(ours) == counts(theirs))
    } finally df.unpersist()
  }

  private val good = wire.head
  private def utf8(s: String): Array[Byte] = s.getBytes(UTF_8)
  private def field(name: String, value: String): String =
    good.replaceFirst(s""""$name":[^,}]*""", s""""$name":$value""")
  private def withBytes(prefix: String, mid: Array[Byte], suffix: String): Array[Byte] =
    utf8(prefix) ++ mid ++ utf8(suffix)
  private val textAt = good.indexOf("\"text\":\"") + 8

  private val cases: Seq[(String, Array[Byte])] = Seq(
    "plain" -> utf8(good),
    "utf-8 BOM" -> (Array(0xEF, 0xBB, 0xBF).map(_.toByte) ++ utf8(good)),
    "invalid utf-8 in a string" -> withBytes(good.take(textAt), Array(0xC3, 0x28).map(_.toByte), good.drop(textAt)),
    "lone continuation byte" -> withBytes(good.take(textAt), Array(0x80.toByte), good.drop(textAt)),
    "invalid utf-8 as the whole key" -> withBytes("", Array(0xFF.toByte), ""),
    "NUL right after {" -> withBytes("{", Array(0.toByte), good.drop(1)),
    "NUL later in a string" -> withBytes(good.take(textAt), Array(0.toByte), good.drop(textAt)),
    "utf-16LE event" -> good.getBytes(UTF_16LE),
    "leading whitespace" -> utf8(" \t  " + good),
    "trailing garbage" -> utf8(good + "xyz"),
    "two objects on one line" -> utf8(good + wire(1)),
    "top-level array" -> utf8("[" + good + "]"),
    "float packets" -> utf8(field("packets", "5.0")),
    "overflowing packets" -> utf8(field("packets", "99999999999")),
    "string packets" -> utf8(field("packets", "\"5\"")),
    "object as text" -> utf8(field("text", """{ "a" : [1, 2.50, "x"] }""")),
    "number as text" -> utf8(field("text", "1.50e3")),
    "surrogate pair escape" -> utf8(field("text", "\"\\ud83d\\ude00\"")),
    "lone surrogate escape" -> utf8(field("text", "\"\\ud800\"")),
    "4-byte utf-8" -> utf8(field("text", "\"\uD83D\uDE00 ok\"")),
    "duplicate keys" -> utf8(good.dropRight(1) + ""","packets":3,"ip_dst":"9.9.9.9"}"""),
    "empty line" -> Array.emptyByteArray,
    "null" -> utf8("null"),
    "raw control character" -> withBytes(good.take(textAt), Array(0x01.toByte), good.drop(textAt)),
    "single quotes" -> utf8(good.replace('"', '\'')))

  test("parse returns the rows Spark's from_json parse returns on edge-case records") {
    cases.foreach { case (name, bytes) =>
      withClue(s"$name: ") { assertSameParse(Seq(bytes, utf8(good))) }
    }
    // the byte path keeps what the reader rejects only where it is not used
    assert(StreamingAnomaly.parse(Seq(cases(1)._2).toDF("value")).count() == 0)
  }

  /** One to three byte edits: set, delete, insert, truncate or repeat a
    * slice; half the bytes drawn from JSON syntax and UTF-8 lead bytes.
    */
  private def mutate(rng: Random, line: Array[Byte]): Array[Byte] = {
    val pool = utf8("{}[]:,\"\\0123456789.-+eE \t\nnulltruefalse") ++
      Array(0x00, 0x80, 0xBF, 0xC3, 0xE2, 0xED, 0xEF, 0xF0, 0xF4, 0xFF).map(_.toByte)
    def pick(): Byte = if (rng.nextBoolean()) pool(rng.nextInt(pool.length)) else rng.nextInt(256).toByte
    val b = ArrayBuffer.from(line)
    (0 to rng.nextInt(3)).foreach { _ =>
      if (b.nonEmpty) {
        val i = rng.nextInt(b.length)
        rng.nextInt(5) match {
          case 0 => b(i) = pick()
          case 1 => b.remove(i)
          case 2 => b.insert(i, pick())
          case 3 => b.remove(i, b.length - i)
          case _ => b.insertAll(i, b.slice(i, i + 1 + rng.nextInt(8)).toSeq)
        }
      }
    }
    b.toArray
  }

  private lazy val mutated: Seq[Array[Byte]] = {
    val rng = new Random(20261020L)
    wire.map(w => if (rng.nextInt(4) == 0) utf8(w) else mutate(rng, utf8(w)))
  }

  test("parse == Spark's from_json parse over 12k seeded byte mutations of generated events") {
    assert(mutated.length >= 12000)
    assertSameParse(mutated)
  }

  test("detectAttacks over the mutated lines == the batch fold over what from_json keeps") {
    implicit val sqlCtx = spark.sqlContext
    // a kept event whose timestamp_start (ms) overflows timestamp_millis'
    // microseconds fails detectAttacks whichever parse feeds it (ANSI long
    // overflow in its event-time column); those lines are left out here
    val limit = Long.MaxValue / 1000
    val lines = mutated.toDF("value")
      .withColumn("ts", from_json(col("value").cast(StringType),
        StreamingAnomaly.eventSchema).getField("timestamp_start"))
      .filter(col("ts").isNull || col("ts").between(-limit, limit))
      .select("value").as[Array[Byte]].collect().toSeq
    assert(lines.length > mutated.length * 9 / 10)
    val expected = StreamingAnomaly.detectAttacksBatch(sparkParse(lines.toDF("value")).collect().toSeq)
    assert(expected.nonEmpty)
    val mem = MemoryStream[Array[Byte]]
    val q = StreamingAnomaly.detectAttacks(StreamingAnomaly.parse(mem.toDF()))
      .writeStream.format("memory").queryName("attacks_mutated").outputMode("append").start()
    try {
      // one micro-batch: no watermark has passed yet, so nothing is late
      mem.addData(lines); q.processAllAvailable()
      val got = spark.table("attacks_mutated").as[AttackResult].collect().toSeq
      assert(counts(got) == counts(expected))
    } finally q.stop()
  }

  /** Starts `query` over a parsed MemoryStream, feeds one batch, and returns
    * the field names of the one graft_from_json in the optimized plan and
    * the executed plan.
    */
  private def parsedFields(name: String)(query: Dataset[NetworkEvent] => Dataset[_])
      : (Seq[String], SparkPlan) = {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[String]
    val q = query(StreamingAnomaly.parse(mem.toDF())).writeStream
      .format("memory").queryName(name).outputMode("append").start()
    try {
      mem.addData(wire.take(300)); q.processAllAvailable()
      val exec = q.asInstanceOf[StreamingQueryWrapper].streamingQuery.lastExecution
      val parses = exec.optimizedPlan.flatMap(_.expressions.flatMap(_.collect {
        case j: JsonBytesToStruct => j }))
      assert(parses.length == 1, exec.optimizedPlan.treeString)
      (parses.head.schema.fieldNames.toSeq, exec.executedPlan)
    } finally q.stop()
  }

  test("detectAttacks parses only the six CEP fields; the stream still shuffles once") {
    val (fields, plan) = parsedFields("narrow_cep")(StreamingAnomaly.detectAttacks(_))
    assert(fields == Seq("ip_src", "ip_dst", "timestamp_start", "timestamp_end", "packets", "bytes"))
    assert(plan.collect { case x: ShuffleExchangeExec => x }.length == 1, plan.treeString)
  }

  test("consumers of whole events keep all twelve parsed fields") {
    val all = StreamingAnomaly.eventSchema.fieldNames.toSeq
    val model = Seq(("10.34.0.1", "TCP", 0.5)).toDF("ip_dst", "ip_proto", "score")
    Seq[(String, Dataset[NetworkEvent] => Dataset[_])](
      "whole_parse" -> (ds => ds),
      "whole_dedup" -> (ds => StreamingAnomaly.dedupStream(ds)),
      "whole_score" -> (ds => StreamingAnomaly.scoreStream(ds, model, 0.9)),
      "whole_text" -> (ds => ds.map(_.text))
    ).foreach { case (name, query) =>
      assert(parsedFields(name)(query)._1 == all, name)
    }
  }

  test("parse works on a session that never registered graft's functions") {
    val fresh = spark.newSession()
    val id = FunctionIdentifier("graft_from_json")
    assert(!fresh.sessionState.functionRegistry.functionExists(id))
    val lines = fresh.createDataFrame(wire.take(50).map(Tuple1(_))).toDF("value")
    val got = StreamingAnomaly.parse(lines).collect().toSeq
    assert(got == events.take(50))
    assert(fresh.sessionState.functionRegistry.functionExists(id))
  }
}
