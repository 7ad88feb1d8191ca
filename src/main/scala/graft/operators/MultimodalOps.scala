package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.QueryDef
import graft.sources.Tables

/** Multimodal column plumbing: media payloads travel as opaque `binary`
  * columns with a typed metadata struct; decode / feature-extract runs
  * per-partition with bounded batch shape. The decode step here is a
  * deterministic fake (byte-level features) standing in for an image/audio
  * codec — the Spark-side schema, partitioning, and batch plumbing are real.
  */
object MultimodalOps {

  case class MmRecord(doc_id: Long, payload: Array[Byte], mime: String, n_bytes: Int)
  case class MmFeatures(doc_id: Long, n_bytes: Int, head_byte: Int,
      checksum: Long, n_distinct_bytes: Int)

  /** documents.text reinterpreted as a binary payload + metadata. */
  def asBinaryTable(s: SparkSession, dir: String): DataFrame =
    Tables.t(s, dir, "documents")
      .select(col("doc_id"),
        col("text").cast("binary").as("payload"),
        lit("text/plain").as("mime"),
        octet_length(col("text")).as("n_bytes"))

  /** Deterministic fake "decode": byte histogram features. A real codec
    * (the image/audio libraries absent from this container) would slot
    * in at exactly this boundary with the identical partition-local
    * batch shape — one record in, one feature row out, no shuffle.
    */
  def decodeStub(r: MmRecord): MmFeatures = {
    val bytes = r.payload
    var checksum = 0L
    val seen = new Array[Boolean](256)
    var i = 0
    while (i < bytes.length) {
      val b = bytes(i) & 0xff
      checksum = (checksum * 31 + b) & 0xFFFFFFFFL
      seen(b) = true
      i += 1
    }
    MmFeatures(r.doc_id, r.n_bytes, if (bytes.nonEmpty) bytes(0) & 0xff else -1,
      checksum, seen.count(identity))
  }

  /** Frame-sampling analog: take every k-th byte "frame" of the payload. */
  def frameSample(df: DataFrame, k: Int): DataFrame =
    df.withColumn("frames",
      expr(s"transform(sequence(1, octet_length(payload), $k), i -> substring(payload, i, 1))"))

  /** Resize analog: downsample the payload to `n` bytes by strided pick —
    * stands in for image resize; same partition-local batch shape a codec
    * kernel would use.
    */
  def resize(df: DataFrame, n: Int): DataFrame =
    df.withColumn("resized",
      expr(s"CASE WHEN octet_length(payload) <= $n THEN payload ELSE " +
        s"aggregate(transform(sequence(0, $n - 1), " +
        s"i -> substring(payload, 1 + CAST(i * octet_length(payload) / $n AS INT), 1)), " +
        "CAST('' AS BINARY), (acc, b) -> acc || b) END"))

  /** Batched decode: process records in bounded batches per partition
    * (real media codecs amortize per-call overhead across a batch; the
    * batch size bounds peak memory). Returns (batch sizes seen, features).
    */
  def decodeBatched(ds: Dataset[MmRecord], batchSize: Int): Dataset[MmFeatures] = {
    val spark = ds.sparkSession
    import spark.implicits._
    ds.mapPartitions(_.grouped(batchSize).flatMap { batch =>
      // a real codec would decode `batch` in one native call here
      batch.map(decodeStub)
    })
  }

  def binaryFeatures(s: SparkSession, dir: String): DataFrame = {
    val spark = s
    import spark.implicits._
    asBinaryTable(s, dir)
      .as[MmRecord]
      .mapPartitions(_.map(decodeStub))
      .toDF()
      .orderBy("doc_id")
  }

  /** Deterministic payload "embedding" — the codec-output stand-in for a
    * vision/audio encoder: L2-normalized 16-bucket byte histogram. Same
    * partition-local, no-shuffle shape a real encoder batch would have.
    */
  def embedStub(payload: Array[Byte]): Array[Float] = {
    val hist = new Array[Float](16)
    var i = 0
    while (i < payload.length) { hist((payload(i) & 0xff) >> 4) += 1f; i += 1 }
    var ss = 0.0
    hist.foreach(h => ss += h.toDouble * h)
    val n = math.sqrt(ss)
    if (n > 0) (0 until 16).foreach(j => hist(j) = (hist(j) / n).toFloat)
    hist
  }

  /** End-to-end multimodal asset dedup: binary payload -> partition-local
    * embed (encoder stand-in) -> EXACT cosine-threshold pair join via the
    * similarity stack's cell-blocked path (SimilarityOps.cosineDupsBlocked,
    * triangle-inequality pruning — recall 1.0). This is the composition a
    * 100 TB media-dedup pipeline runs: decode and embed never shuffle, and
    * the pair join is bounded by cluster structure, not n^2.
    */
  def embedDedup(s: SparkSession, dir: String): DataFrame = {
    val spark = s
    import spark.implicits._
    val emb = Tables.t(s, dir, "documents")
      .select(col("doc_id"), col("source"), col("text").cast("binary").as("payload"))
      .as[(Long, String, Array[Byte])]
      .mapPartitions(_.map { case (id, src, p) => (id, src, embedStub(p)) })
      .toDF("vec_id", "label", "embedding")
    SimilarityOps.cosineDupsBlocked(emb, t = 0.999, k = 8)
  }

  /** Frame-level near-dup across binary assets — the video-dedup shape:
    * two assets sharing enough FRAMES share content even when their
    * containers differ. Frames are strided fixed-length slices of the
    * payload (the [[frameSample]] idea made pairwise): per asset the
    * distinct frames, hot frames df-capped away (a frame in half the
    * corpus is a codec header, not content — the Jaccard hot-shingle
    * argument on bytes), then the inverted-index self-join counts shared
    * frames per pair. All on the `binary` column — no decode needed to
    * find container-level dups, which is why pipelines run this BEFORE
    * any expensive codec pass.
    */
  def frameDedup(s: SparkSession, dir: String): DataFrame = {
    val (frameLen, stride, dfCap, minShared) = (32, 16, 20L, 2L)
    val frames = asBinaryTable(s, dir)
      .select(col("doc_id"), explode(array_distinct(
        when(octet_length(col("payload")) >= frameLen,
          expr(s"transform(sequence(1, octet_length(payload) - ${frameLen - 1}, $stride), " +
            s"i -> substring(payload, i, $frameLen))"))
          .otherwise(expr("CAST(array() AS array<binary>)")))).as("frame"))
    val frameKey = Seq("frame")
    // the capped frame rows feed both sides of the self-join: persisted,
    // the strided frames and the hot-frame count are built once, not once
    // per side. Like the DedupOps pruned band rows, the cache lives as long
    // as the lazy result; an eager localCheckpoint that released it
    // measured slower than no cache at all
    val capped = Banding.capBuckets(frames, frameKey, dfCap)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // frames are distinct per asset, so each shared frame is one pair row
    Banding.selfPairs(capped, frameKey, "doc_id",
        col("a.doc_id").as("d1"), col("b.doc_id").as("d2"))
      .groupBy("d1", "d2")
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
      .orderBy("d1", "d2")
  }

  val frameDedupOracle: String =
    """WITH f AS (
      |  SELECT doc_id, unnest(list_distinct(list_transform(
      |    range(1, greatest(length(text) - 32 + 1, 0) + 1, 16),
      |    i -> substr(text, i, 32)))) AS frame
      |  FROM documents),
      |caps AS (SELECT frame FROM f GROUP BY frame HAVING COUNT(*) <= 20),
      |fk AS (SELECT f.doc_id, f.frame FROM f JOIN caps USING (frame))
      |SELECT a.doc_id AS d1, b.doc_id AS d2, CAST(COUNT(*) AS BIGINT) AS n_shared
      |FROM fk a JOIN fk b ON a.frame = b.frame AND a.doc_id < b.doc_id
      |GROUP BY 1, 2 HAVING COUNT(*) >= 2 ORDER BY d1, d2""".stripMargin

  /** DuckDB replay of [[binaryFeatures]] (hash-exact since r11): the
    * decode stub is byte-level integer arithmetic, so the oracle rebuilds
    * the byte array from hex(encode(text)) and replays the identical
    * (c·31 + b) mod 2³² fold — every op exact int64, independent of the
    * Spark mapPartitions path it checks.
    */
  val binaryFeaturesOracle: String =
    """WITH b AS (SELECT doc_id, hex(encode(text)) AS hx,
      |                  octet_length(encode(text)) AS n FROM documents),
      |y AS (SELECT doc_id, n, list_transform(generate_series(1, n), i ->
      |        CAST((strpos('0123456789ABCDEF', substr(hx, 2*i - 1, 1)) - 1) * 16
      |           + (strpos('0123456789ABCDEF', substr(hx, 2*i, 1)) - 1) AS BIGINT)) AS bytes
      |      FROM b)
      |SELECT doc_id,
      |  CAST(n AS INTEGER) AS n_bytes,
      |  CAST(CASE WHEN n > 0 THEN bytes[1] ELSE -1 END AS INTEGER) AS head_byte,
      |  CAST(list_reduce(list_prepend(CAST(0 AS BIGINT), bytes),
      |       (a, x) -> (a * 31 + x) % 4294967296) AS BIGINT) AS checksum,
      |  CAST(len(list_distinct(bytes)) AS INTEGER) AS n_distinct_bytes
      |FROM y ORDER BY doc_id""".stripMargin

  /** DuckDB replay of [[embedDedup]] (hash-exact since r11): the embed
    * stub is exact integer byte-histogram counts + one IEEE
    * sqrt/divide/float-narrow per bucket, so the oracle rebuilds the
    * 16-dim embedding bit-for-bit (same fold order, same REAL narrowing)
    * and verifies ALL pairs with the same quantized cosine the
    * similarity family gates on — independent of the cell-blocked
    * candidate stage it checks (which is exact by construction).
    */
  val embedDedupOracle: String = {
    def qdot(a: String, b: String): String =
      s"""CAST(list_sum(list_transform(list_zip($a, $b),
         |  z -> CAST(FLOOR(CAST(z[1] AS DOUBLE) * 1e9) AS BIGINT) *
         |       CAST(FLOOR(CAST(z[2] AS DOUBLE) * 1e9) AS BIGINT))) AS BIGINT)""".stripMargin
    def qcos(a: String, b: String): String =
      s"""(CAST(${qdot(a, b)} AS DOUBLE) /
         |  (SQRT(CAST(${qdot(a, a)} AS DOUBLE)) * SQRT(CAST(${qdot(b, b)} AS DOUBLE))))""".stripMargin
    """WITH raw AS (SELECT doc_id, source, hex(encode(text)) AS hx,
      |                    octet_length(encode(text)) AS n FROM documents),
      |byt AS (SELECT doc_id, source, list_transform(generate_series(1, n), i ->
      |          CAST((strpos('0123456789ABCDEF', substr(hx, 2*i - 1, 1)) - 1) * 16
      |             + (strpos('0123456789ABCDEF', substr(hx, 2*i, 1)) - 1) AS BIGINT)) AS bytes
      |        FROM raw),
      |hist AS (SELECT doc_id, source,
      |           list_transform(generate_series(0, 15), j ->
      |             CAST(len(list_filter(bytes, x -> x // 16 = j)) AS DOUBLE)) AS h
      |         FROM byt),
      |nrm AS (SELECT doc_id, source, h,
      |          SQRT(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
      |            list_transform(h, v -> v * v)), (a, b) -> a + b)) AS nn
      |        FROM hist),
      |emb AS (SELECT doc_id, source,
      |          CASE WHEN nn > 0 THEN list_transform(h, v -> CAST(v / nn AS REAL))
      |               ELSE list_transform(h, v -> CAST(v AS REAL)) END AS e
      |        FROM nrm)
      |""".stripMargin +
      s"""SELECT a.doc_id AS v1, b.doc_id AS v2, a.source AS label,
         |       ${qcos("a.e", "b.e")} AS sim
         |FROM emb a JOIN emb b
         |  ON a.source = b.source AND a.doc_id < b.doc_id
         |WHERE ${qcos("a.e", "b.e")} >= 0.999
         |ORDER BY v1, v2""".stripMargin
  }

  /** Perceptual-hash near-dup over the binary payloads (r13) — the
    * CONTENT-level member next to [[frameDedup]]'s container-level exact
    * frames: [[graft.functions.PHash64]] (integer 1D DCT pHash, exactly
    * brightness/contrast-invariant, small-crop tolerant) per asset, then
    * hamming <= 3 pairing via the pigeonhole 4x16-bit banding (lossless
    * at that radius — any two hashes within hamming 3 agree on >= 1 of 4
    * bands) with the hot-band df cap of the frame/shingle family.
    * MultimodalSpec plants brightness/contrast/crop twins and pins the
    * DELTA: pHash finds them, the byte checksum AND the exact-frame
    * query provably miss them. Scale shape: one map pass to 8-byte
    * hashes, band join bounded by bucket structure, verify on the tiny
    * banded pair set — the payloads never enter a pairwise join.
    */
  def phashDedup(s: SparkSession, dir: String): DataFrame =
    phashDedup(s, dir, materialize = true)

  /** `materialize = false` skips the eager checkpoint of the hash table
    * so plan tests can read the compiled shape (the hybridSearchOn
    * convention). With it on (production), the 8-byte-per-asset hash
    * frame materializes ONCE and the df-cap/band/pair machinery reads
    * the checkpoint — the payload column is scanned exactly once (the
    * r13 audit caught the lazy form re-decoding payloads ×4).
    */
  private[graft] def phashDedup(s: SparkSession, dir: String,
      materialize: Boolean): DataFrame = {
    val h0 = asBinaryTable(s, dir)
      .select(col("doc_id"),
        graft.functions.GraftFunctions.graftPHash64(col("payload")).as("ph"))
    phashPairsOf(if (materialize) h0.localCheckpoint(true) else h0)
  }

  /** Hot-band cap of the pHash pigeonhole banding. */
  private val PhashCap = 50L

  /** The banded hamming ≤ 3 pairing tail over an 8-byte hash frame
    * (doc_id, ph): pigeonhole 4×16-bit bands, hot-band df cap, verify on
    * the banded candidates only — shared by the corpus pairing query and
    * the jittered-twin gate.
    */
  private def phashPairsOf(h: DataFrame): DataFrame =
    Banding.selfCandidates(
        Banding.capBuckets(Banding.pigeonhole16(h, "ph"),
          Banding.PigeonholeKey, PhashCap),
        Banding.PigeonholeKey, "doc_id", col("a.doc_id").as("d1"), col("b.doc_id").as("d2"),
        col("a.ph").as("h1"), col("b.ph").as("h2"))
      .withColumn("hamming", expr("CAST(bit_count(h1 ^ h2) AS BIGINT)"))
      .filter(col("hamming") <= 3)
      .select("d1", "d2", "hamming")
      .orderBy("d1", "d2")

  /** DuckDB replay of [[phashDedup]]: bytes from hex, the SAME strided
    * picks / integer mean-centering / fixed-point DCT (basis literals
    * embedded from [[graft.functions.PHash64.sqlBasis]] — the oracle
    * never calls its own cos) / lower-median sign bits — with the 64-bit
    * hash carried as two 32-bit halves (DuckDB rejects 1::BIGINT << 63),
    * which changes no bit: bands read 16-bit windows of either half and
    * hamming sums the two halves' bit_counts.
    */
  val phashDedupOracle: String = {
    val n = graft.functions.PHash64.N
    val p = graft.functions.PHash64.P
    val bits = graft.functions.PHash64.Bits
    s"""WITH pb AS (SELECT doc_id, hex(encode(text)) AS hx,
       |                   octet_length(encode(text)) AS len FROM documents),
       |py AS (SELECT doc_id, len, list_transform(generate_series(1, len), i ->
       |         CAST((strpos('0123456789ABCDEF', substr(hx, 2*i - 1, 1)) - 1) * 16
       |            + (strpos('0123456789ABCDEF', substr(hx, 2*i, 1)) - 1) AS BIGINT)) AS bytes
       |       FROM pb WHERE len > 0),
       |ps AS (SELECT doc_id, list_transform(generate_series(0, ${n - 1}), nn ->
       |         CAST(list_sum(list_transform(generate_series(0, ${p - 1}), pp ->
       |           bytes[CAST(((nn * $p + pp) * len) // ${n * p} AS INT) + 1]))
       |         AS BIGINT)) AS x
       |       FROM py),
       |pm AS (SELECT doc_id, x,
       |         CAST(list_sum(x) AS BIGINT) AS sm FROM ps),
       |pc AS (SELECT doc_id, list_transform(${graft.functions.PHash64.sqlBasis},
       |         row -> CAST(list_sum(list_transform(generate_series(1, $n),
       |           i -> ($n * x[i] - sm) * row[i])) AS BIGINT)) AS coef
       |       FROM pm),
       |pmed AS (SELECT doc_id, coef, list_sort(coef)[${bits / 2}] AS med FROM pc),
       |ph0 AS (SELECT doc_id,
       |         CAST(list_sum(list_transform(generate_series(1, 32), k ->
       |           CASE WHEN coef[k] > med THEN (1::BIGINT << CAST(k - 1 AS INT))
       |                ELSE 0 END)) AS BIGINT) AS lo,
       |         CAST(list_sum(list_transform(generate_series(33, $bits), k ->
       |           CASE WHEN coef[k] > med THEN (1::BIGINT << CAST(k - 33 AS INT))
       |                ELSE 0 END)) AS BIGINT) AS hi
       |       FROM pmed
       |       UNION ALL
       |       SELECT doc_id, 0, 0 FROM pb WHERE len = 0),
       |bands AS (SELECT doc_id, lo, hi, t.b AS b,
       |            CASE WHEN t.b < 2 THEN (lo >> CAST(t.b * 16 AS INT)) & 65535
       |                 ELSE (hi >> CAST((t.b - 2) * 16 AS INT)) & 65535 END AS v
       |          FROM ph0 CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS b) t),
       |caps AS (SELECT b, v FROM bands GROUP BY b, v HAVING COUNT(*) <= 50),
       |kb AS (SELECT bands.* FROM bands JOIN caps USING (b, v)),
       |prs AS (SELECT DISTINCT a.doc_id AS d1, c.doc_id AS d2,
       |          a.lo AS lo1, a.hi AS hi1, c.lo AS lo2, c.hi AS hi2
       |        FROM kb a JOIN kb c
       |          ON a.b = c.b AND a.v = c.v AND a.doc_id < c.doc_id)
       |SELECT d1, d2,
       |       CAST(bit_count(xor(lo1, lo2)) + bit_count(xor(hi1, hi2)) AS BIGINT) AS hamming
       |FROM prs
       |WHERE bit_count(xor(lo1, lo2)) + bit_count(xor(hi1, hi2)) <= 3
       |ORDER BY d1, d2""".stripMargin
  }

  /** The per-asset pHash VALUES as a gated surface (r13): the pairing
    * query above legitimately returns zero rows on a corpus whose
    * near-dups are token-level edits (they shift every byte offset — the
    * transform class pHash does NOT cover; the planted-fixture spec pins
    * the class it does), so this query gates all 64 bits of every
    * asset's hash directly — carried as two 32-bit halves on both sides
    * (the oracle cannot build a bit-63 BIGINT literal shift).
    */
  def phashValues(s: SparkSession, dir: String): DataFrame =
    asBinaryTable(s, dir)
      .select(col("doc_id"),
        graft.functions.GraftFunctions.graftPHash64(col("payload")).as("ph"))
      .select(col("doc_id"),
        expr("shiftright(ph, 32) & 4294967295").as("ph_hi"),
        expr("ph & 4294967295").as("ph_lo"))
      .orderBy("doc_id")

  val phashValuesOracle: String = {
    // same construction CTEs as the dedup oracle, different tail
    val base = phashDedupOracle.substring(0, phashDedupOracle.indexOf(",\nbands AS"))
    s"""$base
       |SELECT doc_id, hi AS ph_hi, lo AS ph_lo
       |FROM ph0 ORDER BY doc_id""".stripMargin
  }

  /** Twin-id offset per jitter mode — twin ids never collide with corpus
    * doc_ids (gate corpora stay far below 1e8 ids).
    */
  private val JitterIdStride = 100000000L

  /** The pHash PAIRING path gated on a NON-EMPTY pair set (r14): the
    * corpus query above is the no-false-positive control (its token-level
    * near-dups legitimately produce 0 pairs — pHash does not cover byte-
    * offset-shifting edits), so until now the band join + hamming filter
    * never emitted a row both engines had to agree on. This query derives
    * DETERMINISTIC JITTERED TWINS from the existing payload bytes inside
    * the query itself — a +3 brightness shift (pHash-EXACT by integer
    * mean-centering), a ×2 contrast scale (pHash-EXACT by sign-invariance
    * under positive scaling), and a 2-byte head crop (pHash-tolerant) —
    * via [[graft.functions.ByteAffine]], whose overflow guard (empty
    * payload out) the oracle replays as a list_max predicate; the oracle
    * then re-derives the identical twins from the same bytes, so the
    * >0 pairs that flow through the band/cap/hamming machinery are
    * hash-checked end-to-end on both engines. Twin ids live on disjoint
    * [[JitterIdStride]] strata per mode.
    */
  def phashJitterDedup(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.GraftFunctions.{graftByteAffine, graftPHash64}
    // the stride assumption is ENFORCED, not assumed: a corpus id at or
    // above the twin strata would silently collide with a twin id and
    // fabricate pairs — raise loudly per offending row instead (map-side,
    // rides the projection the query already pays)
    val base = asBinaryTable(s, dir)
      .select(
        when(col("doc_id") >= 0 && col("doc_id") < lit(JitterIdStride),
          col("doc_id"))
          .otherwise(raise_error(concat(
            lit(s"mm_phash_jitter: doc_id outside [0, $JitterIdStride) " +
              "collides with a twin stratum: "),
            col("doc_id").cast("string")))).as("doc_id"),
        col("payload"), col("n_bytes"))
    def twins(mode: Int, mul: Int, add: Int, drop: Int, pred: Column) =
      base.filter(pred)
        .select((col("doc_id") + lit(mode * JitterIdStride)).as("doc_id"),
          graftByteAffine(col("payload"), mul, add, drop).as("payload"))
        .filter(octet_length(col("payload")) > 0)
    val all = base.select("doc_id", "payload")
      .unionByName(twins(1, 1, 3, 0, col("doc_id") % 7 === 0))
      .unionByName(twins(2, 2, 0, 0, col("doc_id") % 11 === 0))
      .unionByName(twins(3, 1, 0, 2,
        col("doc_id") % 13 === 0 && col("n_bytes") > 256))
    phashPairsOf(all
      .select(col("doc_id"), graftPHash64(col("payload")).as("ph"))
      .localCheckpoint(true))
  }

  /** DuckDB replay of [[phashJitterDedup]]: the [[phashDedupOracle]]
    * construction with a `jt` twin-derivation CTE unioned in — the same
    * byte lists transformed by the same affine maps under the same
    * overflow guards, then the identical hash/band/cap/hamming tail.
    */
  val phashJitterOracle: String = {
    val n = graft.functions.PHash64.N
    val p = graft.functions.PHash64.P
    val bits = graft.functions.PHash64.Bits
    s"""WITH pb AS (SELECT doc_id, hex(encode(text)) AS hx,
       |                   octet_length(encode(text)) AS len FROM documents),
       |py AS (SELECT doc_id, len, list_transform(generate_series(1, len), i ->
       |         CAST((strpos('0123456789ABCDEF', substr(hx, 2*i - 1, 1)) - 1) * 16
       |            + (strpos('0123456789ABCDEF', substr(hx, 2*i, 1)) - 1) AS BIGINT)) AS bytes
       |       FROM pb WHERE len > 0),
       |jt AS (SELECT doc_id + ${JitterIdStride} AS doc_id, len,
       |              list_transform(bytes, x -> x + 3) AS bytes
       |       FROM py WHERE doc_id % 7 = 0 AND list_max(bytes) <= 252
       |       UNION ALL
       |       SELECT doc_id + ${2 * JitterIdStride}, len,
       |              list_transform(bytes, x -> x * 2)
       |       FROM py WHERE doc_id % 11 = 0 AND list_max(bytes) <= 127
       |       UNION ALL
       |       SELECT doc_id + ${3 * JitterIdStride}, len - 2, bytes[3:]
       |       FROM py WHERE doc_id % 13 = 0 AND len > 256),
       |ally AS (SELECT * FROM py UNION ALL SELECT * FROM jt),
       |ps AS (SELECT doc_id, list_transform(generate_series(0, ${n - 1}), nn ->
       |         CAST(list_sum(list_transform(generate_series(0, ${p - 1}), pp ->
       |           bytes[CAST(((nn * $p + pp) * len) // ${n * p} AS INT) + 1]))
       |         AS BIGINT)) AS x
       |       FROM ally),
       |pm AS (SELECT doc_id, x,
       |         CAST(list_sum(x) AS BIGINT) AS sm FROM ps),
       |pc AS (SELECT doc_id, list_transform(${graft.functions.PHash64.sqlBasis},
       |         row -> CAST(list_sum(list_transform(generate_series(1, $n),
       |           i -> ($n * x[i] - sm) * row[i])) AS BIGINT)) AS coef
       |       FROM pm),
       |pmed AS (SELECT doc_id, coef, list_sort(coef)[${bits / 2}] AS med FROM pc),
       |ph0 AS (SELECT doc_id,
       |         CAST(list_sum(list_transform(generate_series(1, 32), k ->
       |           CASE WHEN coef[k] > med THEN (1::BIGINT << CAST(k - 1 AS INT))
       |                ELSE 0 END)) AS BIGINT) AS lo,
       |         CAST(list_sum(list_transform(generate_series(33, $bits), k ->
       |           CASE WHEN coef[k] > med THEN (1::BIGINT << CAST(k - 33 AS INT))
       |                ELSE 0 END)) AS BIGINT) AS hi
       |       FROM pmed
       |       UNION ALL
       |       SELECT doc_id, 0, 0 FROM pb WHERE len = 0)""".stripMargin +
      // the band/cap/pair/hamming tail is SHARED with the corpus oracle
      // (sliced, the phashValuesOracle convention) — one source of truth
      // for the banding radius, cap and hamming bound
      phashDedupOracle.substring(phashDedupOracle.indexOf(",\nbands AS"))
  }

  /** Scene segmentation over the frame stream (r13) — the video-pipeline
    * composition of the family's pieces: split each asset's payload into
    * contiguous 64-byte "frames" (the non-overlapping analog of
    * [[frameDedup]]'s strided windows — a video's decoded frame
    * sequence), pHash each frame with [[graft.functions.PHash64]], and
    * declare a scene cut wherever consecutive frames' hashes differ by
    * more than 26 of 64 bits (identical or near-identical content runs —
    * a static shot — stay in one scene; a content change breaks it).
    * Output is the scene table (doc_id, scene, start_frame, n_frames):
    * `start_frame` IS the keyframe a sampling pipeline would decode —
    * one frame per scene instead of every frame, the standard
    * shot-boundary sampling step of a video training-data pipeline.
    *
    * Scale shape: one map pass payload → (frame, 8-byte hash) rows
    * (the payload is never joined or re-scanned), one exchange on
    * doc_id for the lag/cumsum window, then a metadata-scale groupBy.
    * A 100 TB asset store with million-frame videos would hit the same
    * per-key window the CEP family bounds by day — the frame index is
    * the bounding key there.
    */
  def sceneCuts(s: SparkSession, dir: String): DataFrame =
    sceneCutsOn(asBinaryTable(s, dir))

  /** The scene fold over any (doc_id, payload) frame — the spec's
    * planted-fixture surface.
    */
  def sceneCutsOn(bin: DataFrame): DataFrame =
    sceneFold(bin)
      .groupBy(col("doc_id"), col("scene"))
      .agg(min(col("fi")).as("start_frame"), count(lit(1)).as("n_frames"))
      .orderBy("doc_id", "scene")

  /** The shared frame fold: payload → per-frame pHash rows with the
    * cut flag and running scene id ([[sceneCutsOn]] aggregates it;
    * [[keyframeDedupOn]] keeps the cut rows as keyframes).
    */
  private def sceneFold(bin: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val (frameLen, cutBar) = (64, 26)
    val frames = bin
      .filter(octet_length(col("payload")) >= frameLen)
      .select(col("doc_id"), posexplode(expr(
        s"transform(sequence(0, CAST(octet_length(payload) DIV $frameLen AS INT) - 1), " +
          s"i -> substring(payload, i * $frameLen + 1, $frameLen))")))
      .select(col("doc_id"), col("pos").cast("long").as("fi"),
        graft.functions.GraftFunctions.graftPHash64(col("col")).as("ph"))
    val w = Window.partitionBy("doc_id").orderBy("fi")
    frames
      .withColumn("prev", lag(col("ph"), 1).over(w))
      .withColumn("cut", col("prev").isNull ||
        expr(s"bit_count(ph ^ prev) > $cutBar"))
      .withColumn("scene",
        sum(when(col("cut"), 1L).otherwise(0L)).over(w) - 1)
  }

  /** Scene-level near-dup ACROSS assets (`mm_keyframe_dedup`) — the
    * video-dedup composition the scene table exists for: take each
    * asset's KEYFRAMES (the cut rows — one 8-byte hash per scene instead
    * of per frame), pair them across assets with the pigeonhole 4×16-bit
    * banding at hamming ≤ 3, and count shared scenes per asset pair.
    * Two encodings of the same footage — or two cuts sharing stock
    * content — pair at the scene level even when every frame byte
    * differs (the brightness/contrast class pHash cancels exactly).
    * Scale shape: the corpus collapses to ǀscenesǀ 8-byte hashes before
    * anything joins (strictly fewer rows than [[phashDedup]]'s per-asset
    * table on multi-scene assets), then the familiar bounded band join.
    */
  def keyframeDedup(s: SparkSession, dir: String): DataFrame =
    keyframeDedupOn(asBinaryTable(s, dir))

  def keyframeDedupOn(bin: DataFrame): DataFrame = {
    val keyframes = sceneFold(bin).filter(col("cut"))
      .select(col("doc_id"), col("fi"), col("ph"))
      .localCheckpoint(true)
    Banding.selfCandidates(
        Banding.capBuckets(Banding.pigeonhole16(keyframes, "ph"),
          Banding.PigeonholeKey, PhashCap),
        Banding.PigeonholeKey, "doc_id", col("a.doc_id").as("d1"), col("b.doc_id").as("d2"),
        col("a.fi").as("f1"), col("b.fi").as("f2"),
        col("a.ph").as("h1"), col("b.ph").as("h2"))
      .filter(expr("bit_count(h1 ^ h2) <= 3"))
      .groupBy("d1", "d2")
      .agg(count(lit(1)).as("n_shared"))
      .orderBy("d1", "d2")
  }

  /** DuckDB replay of [[sceneCuts]]: the per-frame pHash replay (the
    * [[phashDedupOracle]] construction with len fixed at 64 and bytes
    * sliced from the doc's hex at the frame offset), then the identical
    * lag/threshold/cumsum scene fold — hamming summed over the two
    * 32-bit halves as ever.
    */
  val sceneCutsOracle: String = sceneCtes +
    """,
      |sc_cut AS (SELECT doc_id, fi,
      |             CASE WHEN plo IS NULL THEN TRUE
      |                  ELSE bit_count(xor(lo, plo)) + bit_count(xor(hi, phi)) > 26
      |             END AS cut
      |           FROM sc_lag),
      |sc_sc AS (SELECT doc_id, fi,
      |            SUM(CASE WHEN cut THEN 1 ELSE 0 END)
      |              OVER (PARTITION BY doc_id ORDER BY fi) - 1 AS scene
      |          FROM sc_cut)
      |SELECT doc_id, CAST(scene AS BIGINT) AS scene,
      |       CAST(MIN(fi) AS BIGINT) AS start_frame,
      |       CAST(COUNT(*) AS BIGINT) AS n_frames
      |FROM sc_sc GROUP BY doc_id, scene ORDER BY doc_id, scene""".stripMargin

  /** DuckDB replay of [[keyframeDedup]]: the scene CTEs' cut rows as
    * keyframes, then the [[phashDedupOracle]] banding/cap/hamming tail
    * counting shared scenes per pair.
    */
  val keyframeDedupOracle: String = sceneCtes +
    """,
      |kc AS (SELECT doc_id, fi, lo, hi FROM sc_lag
      |       WHERE plo IS NULL
      |          OR bit_count(xor(lo, plo)) + bit_count(xor(hi, phi)) > 26),
      |kb AS (SELECT doc_id, fi, lo, hi, t.b AS b,
      |         CASE WHEN t.b < 2 THEN (lo >> CAST(t.b * 16 AS INT)) & 65535
      |              ELSE (hi >> CAST((t.b - 2) * 16 AS INT)) & 65535 END AS v
      |       FROM kc CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS b) t),
      |kcaps AS (SELECT b, v FROM kb GROUP BY b, v HAVING COUNT(*) <= 50),
      |kk AS (SELECT kb.* FROM kb JOIN kcaps USING (b, v)),
      |kp AS (SELECT DISTINCT a.doc_id AS d1, c.doc_id AS d2,
      |         a.fi AS f1, c.fi AS f2,
      |         a.lo AS lo1, a.hi AS hi1, c.lo AS lo2, c.hi AS hi2
      |       FROM kk a JOIN kk c
      |         ON a.b = c.b AND a.v = c.v AND a.doc_id < c.doc_id)
      |SELECT d1, d2, CAST(COUNT(*) AS BIGINT) AS n_shared
      |FROM kp
      |WHERE bit_count(xor(lo1, lo2)) + bit_count(xor(hi1, hi2)) <= 3
      |GROUP BY d1, d2 ORDER BY d1, d2""".stripMargin

  /** The shared frame-pHash replay CTEs (sc_pb .. sc_lag): bytes from
    * hex at the frame offset, the engine-basis DCT, hashes as two 32-bit
    * halves, and the per-doc lag.
    */
  private def sceneCtes: String = {
    val n = graft.functions.PHash64.N
    val p = graft.functions.PHash64.P
    val bits = graft.functions.PHash64.Bits
    s"""WITH sc_pb AS (SELECT doc_id, hex(encode(text)) AS hx,
       |                      octet_length(encode(text)) AS len FROM documents
       |               WHERE octet_length(encode(text)) >= 64),
       |sc_f AS (SELECT doc_id, unnest(generate_series(0, len // 64 - 1)) AS fi,
       |                hx
       |         FROM sc_pb),
       |sc_by AS (SELECT doc_id, fi, list_transform(generate_series(1, 64), k ->
       |            CAST((strpos('0123456789ABCDEF', substr(hx, 2*(fi*64 + k) - 1, 1)) - 1) * 16
       |               + (strpos('0123456789ABCDEF', substr(hx, 2*(fi*64 + k), 1)) - 1) AS BIGINT)) AS bytes
       |          FROM sc_f),
       |sc_ps AS (SELECT doc_id, fi, list_transform(generate_series(0, ${n - 1}), nn ->
       |            CAST(list_sum(list_transform(generate_series(0, ${p - 1}), pp ->
       |              bytes[CAST(((nn * $p + pp) * 64) // ${n * p} AS INT) + 1]))
       |            AS BIGINT)) AS x
       |          FROM sc_by),
       |sc_pm AS (SELECT doc_id, fi, x, CAST(list_sum(x) AS BIGINT) AS sm FROM sc_ps),
       |sc_pc AS (SELECT doc_id, fi, list_transform(${graft.functions.PHash64.sqlBasis},
       |            row -> CAST(list_sum(list_transform(generate_series(1, $n),
       |              i -> ($n * x[i] - sm) * row[i])) AS BIGINT)) AS coef
       |          FROM sc_pm),
       |sc_md AS (SELECT doc_id, fi, coef, list_sort(coef)[${bits / 2}] AS med FROM sc_pc),
       |sc_h AS (SELECT doc_id, fi,
       |           CAST(list_sum(list_transform(generate_series(1, 32), k ->
       |             CASE WHEN coef[k] > med THEN (1::BIGINT << CAST(k - 1 AS INT))
       |                  ELSE 0 END)) AS BIGINT) AS lo,
       |           CAST(list_sum(list_transform(generate_series(33, $bits), k ->
       |             CASE WHEN coef[k] > med THEN (1::BIGINT << CAST(k - 33 AS INT))
       |                  ELSE 0 END)) AS BIGINT) AS hi
       |         FROM sc_md),
       |sc_lag AS (SELECT doc_id, fi, lo, hi,
       |             lag(lo) OVER (PARTITION BY doc_id ORDER BY fi) AS plo,
       |             lag(hi) OVER (PARTITION BY doc_id ORDER BY fi) AS phi
       |           FROM sc_h)""".stripMargin
  }

  val defs: Seq[QueryDef] = Seq(
    QueryDef("mm_binary_features", binaryFeatures, Some(binaryFeaturesOracle)),
    QueryDef("mm_embed_dedup", embedDedup, Some(embedDedupOracle)),
    QueryDef("mm_frame_dedup", frameDedup, Some(frameDedupOracle)),
    QueryDef("mm_phash_dedup", phashDedup, Some(phashDedupOracle)),
    QueryDef("mm_phash_jitter", phashJitterDedup, Some(phashJitterOracle)),
    QueryDef("mm_phash", phashValues, Some(phashValuesOracle)),
    QueryDef("mm_scene_cuts", sceneCuts, Some(sceneCutsOracle)),
    QueryDef("mm_keyframe_dedup", keyframeDedup, Some(keyframeDedupOracle))
  )
}
