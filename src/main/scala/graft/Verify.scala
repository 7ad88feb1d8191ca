package graft
import java.nio.file.{Files, Paths}
/** Correctness dump: each SparkEntry.queries result → parquet, plus
  * oracle_sql.json and queries.json, for the DuckDB compare (tools/check.py).
  *
  *   runMain graft.Verify <sfDir> <outDir> [name[,name…]]
  *
  * The optional 3rd argument restricts the run, and both JSON files, to the
  * named registry queries.
  */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args.take(2)
    val names = select(SparkEntry.queries.keySet, args.lift(2)) match {
      case Right(n) => n
      case Left(err) => System.err.println(s"[verify] $err"); sys.exit(2)
    }
    // Verify defaults to 4 cores where Bench defaults to 32
    val spark = GraftSession.builder("graft-verify",
      cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries.filter { case (n, _) => names(n) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      finally spark.catalog.clearCache()
    }
    val json = SparkEntry.oracleSql.filter { case (k, _) => names(k) }
      .map { case (k, v) => s"${Json.str(k)}: ${Json.str(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // full declared-query list, so the gate can flag a crashed ROWS-ONLY
    // query (absent from oracle_sql.json AND from the output dirs) instead
    // of silently skipping it
    Files.writeString(Paths.get(s"$outDir/queries.json"),
      names.toSeq.sorted.map(Json.str).mkString("[", ",", "]"))
    spark.stop()
  }

  /** The query names a run covers: every `known` name without a filter,
    * else the filter's comma-separated names. An unknown name is an error
    * that lists the known ones.
    */
  def select(known: Set[String], filter: Option[String]): Either[String, Set[String]] =
    filter.fold[Either[String, Set[String]]](Right(known)) { f =>
      val wanted = f.split(",").toSet
      val unknown = wanted -- known
      if (unknown.isEmpty) Right(wanted)
      else Left(s"unknown query ${unknown.toSeq.sorted.mkString(", ")} " +
        s"(known: ${known.toSeq.sorted.mkString(", ")})")
    }
}
