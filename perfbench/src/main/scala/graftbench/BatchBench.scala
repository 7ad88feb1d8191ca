package graftbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.{QueryDef, Registry, SparkEntry}
import graft.sources.Tables

/** Batch workloads: passes over a fixed list of registry queries on the
  * sf0.1 tables. A pass runs each query once through the `noop` sink and
  * clears the cache after each, as `graft.Bench` does. A user waits one
  * pass for the result, so `latency_p50_ms` is the median pass time and
  * `throughput_rows_s` the input rows (`--input-tables`) over it.
  *
  * Before timing, one pass writes every query's result to parquet for the
  * launcher's DuckDB oracle check, then a fixed number of noop passes warm
  * the JIT and the codegen cache.
  */
object BatchBench {
  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    val defs = ctx.queries.map(Registry.byName)
    val errors = mutable.LinkedHashMap[String, String]()
    val queryS = mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]]()

    def exec(q: QueryDef)(action: org.apache.spark.sql.DataFrame => Unit): Double = {
      val t0 = System.nanoTime()
      try action(q.build(spark, ctx.dataDir))
      catch { case e: Exception =>
        if (!errors.contains(q.name)) errors(q.name) = e.toString.take(300)
        System.err.println(s"[graftbench] ${q.name}: $e")
      } finally spark.catalog.clearCache()
      val dt = (System.nanoTime() - t0) / 1e9
      queryS.getOrElseUpdate(q.name, mutable.ArrayBuffer()) += dt
      dt
    }
    def pass(): Double = defs.map(q => exec(q)(Main.noop)).sum

    // untimed correctness pass: results for the oracle check
    val warm0 = System.nanoTime()
    val checkDir = ctx.outDir.resolve("check")
    defs.foreach(q => exec(q)(_.write.mode("overwrite").parquet(checkDir.resolve(q.name).toString)))
    java.nio.file.Files.writeString(checkDir.resolve("oracle_sql.json"),
      Json.obj(defs.flatMap(q => SparkEntry.oracleSql.get(q.name).map(q.name -> _)): _*))

    val inputRows = ctx.args("input-tables").split(',').map(Tables.t(spark, ctx.dataDir, _).count()).sum
    val warm = warmUp(ctx, () => pass())
    val warmS = (System.nanoTime() - warm0) / 1e9
    val setupS = ctx.sinceLaunchS

    val tracer = if (ctx.trace) Some(new Tracer(spark)) else None
    val passes = mutable.ArrayBuffer[Double]()
    val traced = mutable.ArrayBuffer[(Double, Seq[Span])]() // (pass s, query spans)
    val root = tracer.map(_.open(s"workload ${ctx.workload}"))
    val minPasses = if (ctx.smoke) 1 else 3
    val t0 = System.nanoTime()
    var i = 0
    while (i < minPasses * (if (ctx.trace) 2 else 1) || (System.nanoTime() - t0) / 1e9 < ctx.seconds) {
      tracer match {
        // traced run: alternate untraced and traced passes, so the overhead
        // of the listeners is a same-JVM comparison
        case Some(tr) if i % 2 == 1 =>
          tr.attach()
          val p = tr.open(s"pass $i", root.get)
          val qs = defs.map { q =>
            val s = tr.open(q.name, p)
            tr.within(s)(exec(q)(Main.noop))
            tr.close(s)
          }
          tr.close(p)
          tr.detach()
          traced += ((p.durMs / 1000, qs))
        case _ => passes += pass()
      }
      i += 1
    }
    root.foreach(r => tracer.get.close(r))

    val metrics: Seq[(String, Double)] =
      if (!ctx.trace) {
        val passS = Stats.median(passes.toSeq)
        Seq("setup_s" -> setupS, "latency_p50_ms" -> passS * 1000, "throughput_rows_s" -> inputRows / passS)
      } else layerMetrics(tracer.get, traced.toSeq, passes.toSeq, warmS)
    tracer.foreach(_.write(ctx.outDir.resolve("trace.json")))

    val timedPasses = passes.length + traced.length
    val failedQueries = errors.keySet
    Outcome(
      metrics,
      attempted = (timedPasses * defs.length).toLong,
      failed = (timedPasses * failedQueries.size).toLong,
      info = Seq("passes" -> timedPasses, "warmup_passes" -> warm.length,
        "warmup_pass_s" -> warm, "pass_s_all" -> passes.toSeq,
        "query_s" -> queryS.map { case (k, v) => k -> v.toSeq }, "errors" -> errors.toMap))
  }

  /** A fixed number of noop passes after the checked one: pass times keep
    * falling for many passes (JIT, codegen cache), so a fixed count keeps
    * the timed passes at the same point of that curve in every run.
    */
  private def warmUp(ctx: Ctx, pass: () => Double): Seq[Double] =
    Seq.fill(if (ctx.smoke) 0 else ctx.int("warm-passes"))(pass())

  private def layerMetrics(tr: Tracer, traced: Seq[(Double, Seq[Span])],
      untraced: Seq[Double], warmS: Double): Seq[(String, Double)] =
    tr.engineMetrics(traced.map { case (_, qs) => qs.map(q => tr.summarize(q, tr.stagesUnder(q))) }) ++
      Seq(
        "session.warm_s" -> warmS,
        "trace.overhead_pct" -> (Stats.median(traced.map(_._1)) / Stats.median(untraced) - 1) * 100)

  private def reps(smoke: Boolean) = if (smoke) 1 else 3

  /** graft's native expressions alone, over cached sf0.1 inputs: word
    * shingles and MinHash signatures over the documents (replicated 6x),
    * quantized cosine over 600 x 600 embedding pairs.
    */
  def functionRates(spark: SparkSession, dir: String, smoke: Boolean): Seq[(String, Double)] = {
    import org.apache.spark.sql.functions._
    import graft.functions.GraftFunctions._
    val docs = Tables.t(spark, dir, "documents").select("doc_id", "text")
      .crossJoin(spark.range(6).withColumnRenamed("id", "copy"))
      .repartition(spark.sparkContext.defaultParallelism).cache()
    val nDocs = docs.count().toDouble
    val shingled = docs.select(graftWordShingles(col("text"), 3).as("sh")).cache()
    shingled.count()
    val emb = Tables.t(spark, dir, "embeddings").filter(col("vec_id") < 600)
      .select(col("vec_id"), col("embedding")).cache()
    val nEmb = emb.count().toDouble
    val pairs = emb.as("a").crossJoin(emb.as("b"))
      .select(graftCosine(col("a.embedding"), col("b.embedding")).as("c"))
    try Seq(
      "functions.word_shingles_rows_s" ->
        nDocs / Main.medianSeconds(reps(smoke))(Main.noop(docs.select(graftWordShingles(col("text"), 3)))),
      "functions.minhash_sig_rows_s" ->
        nDocs / Main.medianSeconds(reps(smoke))(Main.noop(shingled.select(graftMinHashSig(col("sh"))))),
      "functions.cosine_pairs_s" ->
        nEmb * nEmb / Main.medianSeconds(reps(smoke))(Main.noop(pairs)))
    finally spark.catalog.clearCache()
  }

  /** Parquet scans alone through `Tables.t`, in rows/s. */
  def scanRates(spark: SparkSession, dir: String, smoke: Boolean): Seq[(String, Double)] =
    Seq("lineitem", "events").map { t =>
      val rows = Tables.t(spark, dir, t).count().toDouble
      s"sources.${t}_scan_rows_s" -> rows / Main.medianSeconds(reps(smoke))(Main.noop(Tables.t(spark, dir, t)))
    }
}
