package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType

/** The banded near-dup candidate stage every sketch family shares: band
  * the sketch, drop hot buckets, pair the rows that share a bucket, then
  * verify each pair exactly. Each function owns one of those decisions;
  * callers keep their own cap value and persist/broadcast choices.
  */
object Banding {

  /** Keep the rows whose bucket (the `keys` columns) holds at most `cap`
    * rows: a near-identical cluster of n rows is O(n^2) candidates in its
    * shared buckets, which carry cluster structure, not pair signal. Hot
    * buckets are few, so their list broadcasts into a left-anti join.
    */
  def capBuckets(rows: DataFrame, keys: Seq[String], cap: Long): DataFrame = {
    val hot = rows.groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("bsz"))
      .filter(col("bsz") > cap)
      .select(keys.map(col): _*)
    rows.join(broadcast(hot), keys, "left_anti")
  }

  private def sameBucket(keys: Seq[String], l: String, r: String): Column =
    keys.map(k => col(s"$l.$k") === col(s"$r.$k")).reduce(_ && _)

  /** Pairs `a`, `b` of `rows` that share a bucket with `a.id < b.id`,
    * projected by `cols` and deduplicated (a pair may share several
    * bands).
    *
    * The self-join is deliberate (r17, measured negative result): a
    * grouped in-bucket expansion (groupBy the bucket key,
    * array_sort(collect_list(id)), explode the i < j combinations) yields
    * the same pairs but was ~25% slower on the bench corpus in a same-JVM
    * interleaved A/B (OPTIMIZATION_r17.md, "Tried, measured, REVERTED":
    * candidate stage 1.05 s vs 1.39 s, query 1.23 vs 1.57 s). The
    * caller's persisted pruned frame broadcasts locally, so the join is
    * map-side and shuffle-free, while the grouped form always pays a hash
    * exchange plus an object aggregate; at cluster scale AQE turns the
    * self-join into the sort-merge join every Spark LSH runs.
    */
  def selfCandidates(rows: DataFrame, keys: Seq[String], id: String,
      cols: Column*): DataFrame =
    selfPairs(rows, keys, id, cols: _*).distinct()

  /** [[selfCandidates]] without the dedup: one row per shared bucket. */
  def selfPairs(rows: DataFrame, keys: Seq[String], id: String,
      cols: Column*): DataFrame =
    rows.as("a")
      .join(rows.as("b"), sameBucket(keys, "a", "b") && col(s"a.$id") < col(s"b.$id"))
      .select(cols: _*)

  /** Pairs of a corpus row (alias `c`) and a batch row (alias `b`) that
    * share a bucket, projected by `cols` and deduplicated. Callers cap
    * the corpus side only, so only corpus rows count toward the cap.
    */
  def probeCandidates(corpus: DataFrame, batch: DataFrame, keys: Seq[String],
      cols: Column*): DataFrame =
    probePairs(corpus, batch, keys, cols: _*).distinct()

  /** [[probeCandidates]] without the dedup (a stream drops duplicate
    * pairs within its watermark instead).
    */
  def probePairs(corpus: DataFrame, batch: DataFrame, keys: Seq[String],
      cols: Column*): DataFrame =
    corpus.as("c").join(batch.as("b"), sameBucket(keys, "c", "b")).select(cols: _*)

  /** Bucket key of [[pigeonhole16]]'s rows. */
  val PigeonholeKey: Seq[String] = Seq("band", "chunk")

  /** Pigeonhole banding of the 64-bit fingerprint column `fp`: the input
    * rows plus (band 0-3, its 16-bit chunk), four rows each. Fingerprints
    * within hamming distance 3 share at least one chunk.
    */
  def pigeonhole16(df: DataFrame, fp: String): DataFrame = {
    val keep = df.columns.toSeq.map(col)
    val chunks = (0 until 4).map(i =>
      struct(lit(i).as("band"),
        shiftrightunsigned(col(fp), i * 16).bitwiseAND(lit(0xFFFFL)).as("chunk")))
    df.select(keep :+ explode(array(chunks: _*)).as("bk"): _*)
      .select(keep :+ col("bk.band").as("band") :+ col("bk.chunk").as("chunk"): _*)
  }

  /** Exact verify on hashed shingle sets: adds `common` (distinct shared
    * hashes of the array columns `a` and `b`) and `jaccard`.
    */
  def hashedJaccard(pairs: DataFrame, a: String, b: String): DataFrame =
    pairs
      .withColumn("common", size(array_intersect(col(a), col(b))))
      .withColumn("jaccard", col("common").cast(DoubleType) /
        (size(col(a)) + size(col(b)) - col("common")).cast(DoubleType))
}
