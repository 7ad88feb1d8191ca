package graftbench

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession

/** Everything one benchmark run needs, parsed from the launcher's flags. */
final case class Ctx(
    spark: SparkSession,
    workload: String,
    seed: Long,
    seconds: Double,
    trace: Boolean,
    smoke: Boolean,
    dataDir: String,
    outDir: Path,
    launchMs: Double,
    queries: Seq[String],
    args: Map[String, String]) {
  def int(k: String): Int = args(k).toInt

  /** Seconds from the launcher starting this JVM until now. */
  def sinceLaunchS: Double = (Stats.wallMs() - launchMs) / 1000
}

/** What a workload hands back: the metrics it measured, operations attempted
  * and failed, and notes for the log.
  */
final case class Outcome(
    metrics: Seq[(String, Double)],
    attempted: Long,
    failed: Long,
    info: Seq[(String, Any)])

/** Benchmark JVM. Launched by `perfbench/run.py`, which builds it,
  * pins the environment, checks batch outputs against the DuckDB oracle and
  * prints the final result line. This program writes `result.json` (and,
  * traced, `trace.json`) into `--out`.
  */
object Main {
  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val launchMs = args.get("launch-ms").fold(Stats.wallMs())(_.toDouble)
    val out = Paths.get(args("out"))
    Files.createDirectories(out)

    val t0 = System.nanoTime()
    val spark = graft.GraftSession.get("graftbench")
    val sessionS = (System.nanoTime() - t0) / 1e9
    val ctx = Ctx(spark, args("workload"), args("seed").toLong, args("seconds").toDouble,
      args.get("trace").contains("1"), args.get("smoke").contains("1"),
      args.getOrElse("data", ""), out, launchMs,
      args.get("queries").fold(Seq.empty[String])(_.split(',').toSeq.filter(_.nonEmpty)), args)

    val o =
      try args("kind") match {
        case "stream" => StreamBench.run(ctx)
        case "batch" => BatchBench.run(ctx)
        case k => throw new IllegalArgumentException(s"unknown workload kind $k")
      } finally spark.streams.active.foreach(q => scala.util.Try(q.stop()))

    // A traced run reports every layer, whichever workload it runs: the
    // isolated layer calls run in each, and a batch workload adds a short
    // stream for the streaming layer's micro-batch and state figures.
    val probe =
      if (ctx.trace && args("kind") == "batch") Some(streamProbe(ctx))
      else None
    val layer =
      if (!ctx.trace) Nil
      else probe.fold(Seq.empty[(String, Double)])(_.metrics.filter(_._1.startsWith("streaming."))) ++
        StreamBench.isolatedRates(ctx) ++
        BatchBench.functionRates(spark, ctx.dataDir, ctx.smoke) ++
        BatchBench.scanRates(spark, ctx.dataDir, ctx.smoke) ++
        Seq("session.get_s" -> sessionS, "host.calib_s" -> calib(spark))
    val json = Json.obj(
      "metrics" -> (o.metrics ++ layer).map { case (k, v) => k -> v }.toMap,
      "attempted" -> o.attempted, "failed" -> o.failed,
      "info" -> (o.info ++ probe.toSeq.flatMap(p => Seq(
        "stream_probe_attempted" -> p.attempted, "stream_probe_failed" -> p.failed))).toMap)
    Files.writeString(out.resolve("result.json"), json + "\n")
    spark.stop()
  }

  /** The stream workload cut short, traced, in its own output directory:
    * one warm-up cycle, then one untraced and one traced cycle, each of one
    * 10,152-event batch (47 attack periods) and two small ones. Its alerts
    * are checked as in the stream workload.
    */
  private def streamProbe(ctx: Ctx): Outcome =
    try StreamBench.run(ctx.copy(seconds = 0, outDir = ctx.outDir.resolve("stream"),
      args = ctx.args ++ Map("warm-cycles" -> "1", "min-cycles" -> "1", "large" -> "10152",
        "small-per-large" -> "2")))
    finally ctx.spark.streams.active.foreach(q => scala.util.Try(q.stop()))

  /** `graft.Bench`'s frozen host-speed calibration job, copied unchanged
    * (20M rows, 32 shuffle partitions): its time shows how fast this run's
    * share of the machine is, independent of any graft code. It runs once,
    * after the workload has warmed the JVM.
    */
  def calib(spark: SparkSession): Double = {
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "32")
    try {
      val t0 = System.nanoTime()
      spark.range(0L, 20000000L, 1L, 32)
        .selectExpr("id % 999983 AS k", "pmod(xxhash64(id), 1000000000) AS h")
        .groupBy("k").agg(org.apache.spark.sql.functions.sum("h").as("s"))
        .agg(org.apache.spark.sql.functions.sum("s"))
        .write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    } finally spark.conf.set("spark.sql.shuffle.partitions", prev)
  }

  /** Times `body` `n` times; returns the median seconds. */
  def medianSeconds(n: Int)(body: => Unit): Double =
    Stats.median(Seq.fill(n) {
      val t0 = System.nanoTime()
      body
      (System.nanoTime() - t0) / 1e9
    })

  def noop(df: org.apache.spark.sql.DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()
}
