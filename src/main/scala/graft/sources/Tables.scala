package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, expr, timestamp_micros}
import org.apache.spark.sql.types.{ArrayType, DoubleType, FloatType, LongType, TimestampNTZType, TimestampType}

/** Parquet table loaders for the driver-generated star schema.
  * One file per table; a 100 TB deployment would point `dir` at a
  * partitioned prefix instead — the API stays the same.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def t(spark: SparkSession, dir: String, name: String): DataFrame = {
    val raw = spark.read.parquet(s"$dir/$name.parquet")
    // Normalize every temporal column to a session-TZ (UTC) TIMESTAMP so
    // downstream operators can rely on instant semantics (`unix_micros`,
    // `window()`), whichever parquet writer produced the table:
    //  - TIMESTAMP(NANOS) reads as nanos-long under
    //    spark.sql.legacy.parquet.nanosAsLong — integer `div` to micros (a
    //    double division would lose precision above 2^53 ns);
    //  - TIMESTAMP(MICROS, isAdjustedToUTC=false) reads as TIMESTAMP_NTZ —
    //    cast reinterprets the wall clock in the session TZ (pinned UTC),
    //    the same instant DuckDB's naive epoch_us(ts) computes.
    raw.schema.fields.foldLeft(raw) { (df, f) =>
      f.dataType match {
        case LongType if name == "events" && f.name == "ts" =>
          df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
        case TimestampNTZType =>
          df.withColumn(f.name, col(f.name).cast(TimestampType))
        // the float-typed vector surface (encoders, codegen expressions)
        // assumes array<float>; a regenerated double-array table would
        // crash it the way the NTZ change crashed unix_micros
        case ArrayType(DoubleType, n) if name == "embeddings" && f.name == "embedding" =>
          df.withColumn(f.name, col(f.name).cast(ArrayType(FloatType, n)))
        case _ => df
      }
    }
  }

  /** The driver's tables are single-file/single-row-group parquet, which
    * caps scan parallelism at 1 task no matter the split size. When the
    * scan has fewer files than the cluster has cores ([[spreadTo]]),
    * insert one cheap round-robin shuffle so downstream map-heavy work
    * parallelizes. On a real multi-row-group / multi-file 100 TB layout
    * this is a no-op.
    */
  def spread(df: DataFrame): DataFrame =
    // streaming frames have no file listing (inputFiles throws) and their
    // parallelism is the source's concern — pass them through untouched.
    // File count is the static proxy for scan parallelism: checking
    // inputFiles stays on the driver's file index — unlike df.rdd, it never
    // materializes the physical plan's RDD lineage just to count partitions.
    if (df.isStreaming) df
    else spreadTo(df.inputFiles.length, df.sparkSession.sparkContext.defaultParallelism)
      .fold(df)(df.repartition)

  /** The partition count [[spread]] shuffles a scan of `files` files to on
    * `target` cores, or None to leave it alone. The rule is
    * `files < target`: any file-backed scan with fewer files than cores
    * leaves a core idle through its map stages. A stricter `files * 2 <
    * target` leaves one file on 2 cores unspread, and there, at sf0.1 on
    * local[2] (4-core VM), `doc_minhash_lsh`'s signature stage ran as one
    * 370 ms task while the other core's only task waited on its cache
    * block. Non-file-backed frames (ranges, memory tables) report 0 files
    * and are already parallel — never reshuffle those.
    */
  private[graft] def spreadTo(files: Int, target: Int): Option[Int] =
    if (files > 0 && files < target) Some(target) else None

  /** Register every table as a temp view (for spark.sql callers). */
  def registerAll(spark: SparkSession, dir: String): Unit =
    names.foreach(n => t(spark, dir, n).createOrReplaceTempView(n))
}
