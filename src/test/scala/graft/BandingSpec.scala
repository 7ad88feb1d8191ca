package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

import graft.operators.Banding

/** The shared banded candidate stage on small hand-built frames. */
class BandingSpec extends SparkSpecBase {
  import spark.implicits._

  private val key = Seq("band", "bkey")

  /** (doc_id, band, bkey) rows: `n` docs from id `from` in one bucket. */
  private def bucket(bkey: Long, from: Long, n: Int): Seq[(Long, Int, Long)] =
    (0 until n).map(i => (from + i, 0, bkey))

  private def pairs(df: DataFrame): Set[(Long, Long)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  test("capBuckets keeps a bucket of exactly cap rows and drops one of cap + 1 (self form)") {
    val rows = (bucket(1L, 1, 3) ++ bucket(2L, 10, 4)).toDF("doc_id", "band", "bkey")
    val kept = Banding.capBuckets(rows, key, 3)
    assert(kept.select("doc_id").as[Long].collect().toSet == Set(1L, 2L, 3L))
    val cands = Banding.selfCandidates(kept, key, "doc_id",
      col("a.doc_id").as("d1"), col("b.doc_id").as("d2"))
    assert(pairs(cands) == Set((1L, 2L), (1L, 3L), (2L, 3L)))
  }

  test("probe form: the cap counts corpus rows only; batch rows never push a bucket over it") {
    // bucket 1: 3 corpus rows (= cap) plus 2 batch rows; bucket 2: 4 corpus
    // rows (cap + 1) plus 1 batch row
    val corpus = (bucket(1L, 1, 3) ++ bucket(2L, 10, 4)).toDF("doc_id", "band", "bkey")
    val batch = Seq((100L, 0, 1L), (101L, 0, 1L), (102L, 0, 2L)).toDF("doc_id", "band", "bkey")
    val cands = Banding.probeCandidates(Banding.capBuckets(corpus, key, 3), batch, key,
      col("b.doc_id").as("batch_doc"), col("c.doc_id").as("corpus_doc"))
    assert(pairs(cands) ==
      (for (b <- Seq(100L, 101L); c <- Seq(1L, 2L, 3L)) yield (b, c)).toSet)
  }

  test("a pair sharing several bands comes out once, with d1 < d2") {
    val rows = Seq((5L, 0, 9L), (2L, 0, 9L), (5L, 1, 7L), (2L, 1, 7L), (5L, 2, 3L),
      (2L, 2, 3L), (8L, 3, 1L)).toDF("doc_id", "band", "bkey")
    val cands = Banding.selfCandidates(rows, key, "doc_id",
      col("a.doc_id").as("d1"), col("b.doc_id").as("d2"))
    assert(cands.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq == Seq((2L, 5L)))
    // the undeduplicated form keeps one row per shared bucket
    assert(Banding.selfPairs(rows, key, "doc_id", col("a.doc_id")).count() == 3)
  }

  test("pigeonhole16 puts a pair at hamming distance 3 into a shared bucket") {
    val rnd = new scala.util.Random(17)
    val fps = (0 until 200).flatMap { i =>
      val fp = rnd.nextLong()
      val flips = rnd.shuffle((0 until 64).toList).take(3)
      val twin = flips.foldLeft(fp)((x, b) => x ^ (1L << b))
      Seq((2L * i, i, fp), (2L * i + 1, i, twin))
    }.toDF("doc_id", "pair", "sh64")
    val banded = Banding.pigeonhole16(fps, "sh64")
    assert(banded.columns.toSeq == Seq("doc_id", "pair", "sh64", "band", "chunk"))
    assert(banded.count() == 4 * 400)
    val shared = banded.groupBy("pair", "band", "chunk").count()
      .filter(col("count") === 2).select("pair").distinct().count()
    assert(shared == 200, "every hamming-3 pair must share a 16-bit chunk")
  }

  test("hashedJaccard gives 0.5 on {1,2,3} vs {2,3,4}") {
    val df = Seq((Seq(1L, 2L, 3L), Seq(2L, 3L, 4L))).toDF("h1", "h2")
    val r = Banding.hashedJaccard(df, "h1", "h2").select("common", "jaccard").head()
    assert(r.getInt(0) == 2)
    assert(r.getDouble(1) == 0.5)
  }
}
