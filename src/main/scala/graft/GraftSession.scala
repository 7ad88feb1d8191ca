package graft

import org.apache.spark.sql.SparkSession

/** Session factory: local[N] for tests/bench, but every setting mirrors what
  * the engine needs on a real cluster (AQE for skew joins + partition
  * coalescing, UTC, bounded shuffle partitions). Bench, Verify, the tools
  * and the test session all build from [[builder]], so the engine settings
  * live here once.
  */
object GraftSession {
  def cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")

  /** SPARK_GRAFT_CPUS may legally be any `local[...]` token (e.g. "*", or
    * "4,2" for 4 threads with 2 task retries), but
    * `spark.sql.shuffle.partitions` needs a positive integer: take the
    * leading integer, and fall back to the machine's core count when there
    * is none instead of failing session startup with an invalid config.
    */
  def shufflePartitions(cpus: String): String =
    "^\\s*(\\d+)".r.findFirstMatchIn(cpus).flatMap(_.group(1).toIntOption).filter(_ > 0)
      .getOrElse(Runtime.getRuntime.availableProcessors).toString

  def builder(appName: String = "graft", cpus: String = GraftSession.cpus): SparkSession.Builder =
    SparkSession
      .builder()
      .appName(appName)
      .master(s"local[$cpus]")
      // scale-adaptive, not a constant tuned for local[32]: shuffle
      // parallelism tracks the core count, so a low-core run pays no
      // 32-task scheduling overhead on tiny post-AQE shuffles. AQE
      // coalescing owns the final sizes.
      .config("spark.sql.shuffle.partitions", shufflePartitions(cpus))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      // events.parquet carries TIMESTAMP(NANOS); read as long, normalized
      // to micros in Tables.
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // the default 100-entry generated-class cache evicts a multi-query
      // workload's stages between repeats (Bench's interleaved passes,
      // Verify's whole registry), forcing janino + JIT from scratch each
      // time; hold the whole engine's code
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      // offset/commit logs and state-store files on local disk without a
      // forked chmod per file (see GraftCheckpointFileManager)
      .config(streaming.GraftCheckpointFileManager.ConfKey,
        classOf[streaming.GraftCheckpointFileManager].getName)
      .config("spark.ui.enabled", "false")

  /** Build the session and register graft's native SQL functions. */
  def get(appName: String = "graft"): SparkSession = {
    val spark = builder(appName).getOrCreate()
    functions.GraftFunctions.register(spark)
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
