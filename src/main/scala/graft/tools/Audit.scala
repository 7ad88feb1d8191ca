package graft.tools

import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.{ReusedExchangeExec, ShuffleExchangeLike}

import graft.{GraftSession, Registry, Verify}

/** Exchange-reuse / rescan audit: run every registry query to completion
  * (driving the dataset's OWN QueryExecution, so AQE settles on its FINAL
  * plan), then tally shuffle exchanges, reused exchanges and
  * cached-relation scans by WALKING THE PLAN TREE — string counting
  * undercounts plans that mix materialized ShuffleQueryStage wrappers with
  * bare exchanges. Fact-table rescans still come from the printed plan (a
  * scan is a leaf string either way). The smell this surfaces at 100 TB:
  * the same FACT table scanned twice in one query without an
  * InMemoryRelation or ReusedExchange absorbing the second pass
  * (dimension-table rescans are fine — metadata-cheap, usually broadcast).
  */
object Audit {

  final case class Counts(exchanges: Int, reused: Int, cached: Int) {
    def +(o: Counts): Counts =
      Counts(exchanges + o.exchanges, reused + o.reused, cached + o.cached)
  }

  /** Tally over the tree, descending into AQE wrappers and materialized
    * query stages; a cached relation counts once and is not descended
    * (its plan's cost was paid when the cache was populated).
    */
  private[graft] def tally(p: SparkPlan): Counts = {
    val self = p match {
      case _: ShuffleExchangeLike => Counts(1, 0, 0)
      case _: ReusedExchangeExec => Counts(0, 1, 0)
      case _: InMemoryTableScanExec => Counts(0, 0, 1)
      case _ => Counts(0, 0, 0)
    }
    val below = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case s: QueryStageExec => Seq(s.plan)
      case _: ReusedExchangeExec | _: InMemoryTableScanExec => Nil
      case other => other.children
    }
    // scalar-subquery / DPP plans hang off expressions, not children — the
    // old string count saw them via the explain Subqueries section, so the
    // tree walk must too
    val subs = p match {
      case _: ReusedExchangeExec | _: InMemoryTableScanExec => Nil
      case other => other.subqueries
    }
    (below ++ subs).map(tally).foldLeft(self)(_ + _)
  }

  /** The queries named after the scale-factor directory (separate or
    * comma-joined arguments; none = every query), checked by
    * [[graft.Verify.select]] so an unknown name is rejected up front.
    */
  private[graft] def selection(args: Seq[String],
      known: Set[String]): Either[String, Set[String]] =
    Verify.select(known, if (args.length > 1) Some(args.drop(1).mkString(",")) else None)

  /** `Audit <sfDir> [query…]`: exits 2 on an unknown query name before any
    * query runs, and 1 when any audited query failed.
    */
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val names = selection(args.toSeq, Registry.all.map(_.name).toSet) match {
      case Right(n) => n
      case Left(err) => System.err.println(s"[audit] $err"); sys.exit(2)
    }
    val spark = GraftSession.get("audit")
    spark.sparkContext.setLogLevel("ERROR")
    val bigTables = Seq("lineitem", "orders", "events", "documents", "embeddings")
    println(f"${"query"}%-28s ex  reused  cached  multi-scanned-big-tables")
    var failed = 0
    Registry.all.filter(q => names(q.name)).foreach { q =>
      try {
        val df = q.build(spark, dir)
        // drive THIS df's QueryExecution (a sink write would run a
        // separate one, leaving df's adaptive plan unfinalized) without
        // materializing results on the driver — the audit may be pointed
        // at any scale factor
        df.queryExecution.toRdd.foreach(_ => ())
        val c = tally(df.queryExecution.executedPlan)
        val plan = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        def count(marker: String): Int =
          plan.sliding(marker.length).count(_ == marker)
        val rescans = bigTables.map(t => t -> count(s"$t.parquet"))
          .filter(_._2 > 1).map { case (t, n) => s"$t x$n" }.mkString(", ")
        println(f"${q.name}%-28s ${c.exchanges}%2d  ${c.reused}%6d  ${c.cached}%6d  $rescans")
        spark.catalog.clearCache()
      } catch { case e: Throwable =>
        failed += 1
        println(f"${q.name}%-28s FAILED: ${e.toString.take(100)}")
      }
    }
    spark.stop()
    if (failed > 0) {
      System.err.println(s"[audit] $failed of ${names.size} queries failed")
      sys.exit(1)
    }
  }
}
