package graft

import graft.operators.{Analytics, EventOps, SimilarityOps}

/** Plan-shape assertions: the scale claims (pushdown, pruning, broadcast,
  * rank-limit pushdown) hold in the compiled physical plan, not just in
  * prose.
  */
class PlanSpec extends SparkSpecBase {

  private def plan(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  import org.apache.spark.sql.execution.SparkPlan

  /** Every node of an executed plan, walked by node type through AQE's
    * wrappers, query stages and reused exchanges; with `intoCaches`, also
    * through the plans of the cached relations it reads.
    */
  private def nodes(p: SparkPlan, intoCaches: Boolean = false): Seq[SparkPlan] = {
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
    val below = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case s: QueryStageExec => Seq(s.plan)
      case r: ReusedExchangeExec => Seq(r.child)
      case c: InMemoryTableScanExec => if (intoCaches) Seq(c.relation.cachedPlan) else Nil
      case o => o.children
    }
    p +: below.flatMap(nodes(_, intoCaches))
  }

  /** A join of any strategy. `CartesianProductExec` is a `BaseJoinExec`
    * in Spark 4.1; "join detector: a cartesian product counts as a join"
    * fails if that ever stops holding.
    */
  private def isJoin(n: SparkPlan): Boolean =
    n.isInstanceOf[org.apache.spark.sql.execution.joins.BaseJoinExec] ||
      n.nodeName.contains("Join")

  test("q1: shipdate filter reaches the parquet scan; schema pruned") {
    val p = plan(Analytics.q1PricingSummary(spark, sf0001))
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate"))
    // l_orderkey IS read now (it feeds the overflow salt); l_partkey stays
    // the canary for column pruning
    assert(!p.contains("l_partkey"), "unused column not pruned from scan")
  }

  test("q5: bounded dims broadcast") {
    val p = plan(Analytics.q5LocalSupplier(spark, sf0001))
    assert(p.contains("BroadcastHashJoin"))
    assert(p.contains("PushedFilters: [IsNotNull(r_name), EqualTo(r_name,ASIA)"))
  }

  test("q3/q5: the fact table is never a broadcast build side") {
    // the scale claim behind the fact-streams-dims join shape: the only
    // broadcasts these queries REQUEST (hints) are bounded dims, never
    // lineitem. Stats-based broadcast is disabled for the check — at toy
    // scale the planner may legitimately broadcast a 6k-row "fact", which
    // says nothing about the shape — leaving exactly the joins the query
    // itself pinned.
    import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
    def broadcastsFact(df: org.apache.spark.sql.DataFrame): Boolean = {
      df.collect() // finalize any adaptive decisions before inspecting
      def walk(p: org.apache.spark.sql.execution.SparkPlan): Boolean = {
        val here = p match {
          case b: BroadcastExchangeExec => b.toString.contains("lineitem.parquet")
          case _ => false
        }
        val below = p match {
          case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
            Seq(a.executedPlan)
          case s: org.apache.spark.sql.execution.adaptive.QueryStageExec => Seq(s.plan)
          case o => o.children
        }
        here || below.exists(walk)
      }
      walk(df.queryExecution.executedPlan)
    }
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    try {
      assert(!broadcastsFact(Analytics.q3ShippingPriority(spark, sf0001)))
      assert(!broadcastsFact(Analytics.q5LocalSupplier(spark, sf0001)))
    } finally {
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")
    }
  }

  test("optimizer rule collapses array_distinct over graft_word_shingles") {
    import org.apache.spark.sql.functions._
    import graft.functions.GraftFunctions
    val df = graft.sources.Tables.t(spark, sf0001, "documents")
      .select(array_distinct(GraftFunctions.graftWordShingles(col("text"), 3)).as("s"))
    val optimized = df.queryExecution.optimizedPlan.toString
    assert(!optimized.contains("array_distinct"), optimized)
    assert(optimized.contains("graft_word_shingles"))
  }

  test("knn: rank<=k pushes a WindowGroupLimit below the final sort") {
    val p = plan(SimilarityOps.knnBrute(spark, sf0001))
    assert(p.contains("WindowGroupLimit"))
  }

  test("pq: ADC top-k is a WindowGroupLimit; both rerank-side joins broadcast") {
    val p = plan(SimilarityOps.knnPq(spark, sf0001))
    // the ADC candidate cut and the final top-10 both rank via row_number
    // <= k — per-partition heaps, not a global sort of the scored corpus
    assert(p.contains("WindowGroupLimit"))
    // query table (with LUTs) and the candidate list are hint-broadcast:
    // the corpus-sized sides are never a build side
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"))
    assert(!p.contains("SortMergeJoin"),
      "PQ path must not shuffle corpus-sized sides into a sort-merge join")
  }

  test("tfidf: rank<=3 compiles to WindowGroupLimit; corpus exploded once") {
    val df = graft.operators.TextOps.tfidfTop(spark, sf0001)
    val p = plan(df)
    assert(p.contains("WindowGroupLimit"))
    // df derives from the PERSISTED tf aggregate: BOTH consumers (join
    // probe + df aggregation) read the cache, so the raw token stream is
    // computed once. (The explode still prints per cache-scan node — each
    // InMemoryTableScan renders its cached plan — so count scans, not
    // explode strings.)
    assert("InMemoryTableScan".r.findAllIn(p).length >= 2, p.take(3000))
  }

  test("cep: one events scan, one event-level shuffle, no join at all") {
    // the scale claim (r16): the closing "normal" event is recovered with
    // lead() inside the single user_id window pass, so the plan has exactly
    // one scan of events, exactly one exchange of event-level data (the
    // window shuffle — the groupBy(user_id, grp) is satisfied by the same
    // hash(user_id) partitioning), and NO join — the old shape re-scanned
    // events and broadcast the whole rn-annotated fact table to join runs
    // with their closing event, which is a scale-killer the moment events
    // outgrows the broadcast cap.
    val df = graft.operators.EventOps.cepAttack(spark, sf0001)
    df.collect() // adaptive plan finalizes
    // walk the FINAL executed plan tree and assert on node types — the
    // string form is brittle across Spark versions (any node or expression
    // containing "Join", or an AQE header change, would flip the test
    // without a behavior change)
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
    val ns = nodes(df.queryExecution.executedPlan)
    assert(!ns.exists(isJoin), "single-pass CEP must not join")
    assert(ns.count(_.isInstanceOf[FileSourceScanExec]) == 1,
      "events must be scanned once")
    assert(!ns.exists(_.isInstanceOf[BroadcastExchangeExec]),
      "nothing to broadcast any more")
  }

  test("jaccard: persisted shingle/prefix intermediates are actually reused") {
    val p = plan(graft.operators.DedupOps.jaccardPairs(spark, sf0001))
    assert(p.contains("InMemoryTableScan"),
      "multi-consumer intermediates must read from cache, not recompute")
  }

  test("knn-join: per-vector top-k compiles to WindowGroupLimit; cell pairs broadcast") {
    val p = plan(SimilarityOps.knnJoin(spark, sf0001))
    // rank <= k over the symmetrized pairs = per-partition heaps, not a
    // global sort of the whole neighbor graph
    assert(p.contains("WindowGroupLimit"))
    // the admissible cell-pair table (k^2 metadata rows) broadcasts; the
    // corpus sides meet only through it
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoopJoin"))
  }

  test("quantiles: raw events never enter a per-type sort (windows rank the distinct-value frame)") {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    val df = EventOps.quantilesByType(spark, sf0001)
    df.collect() // finalize adaptive decisions
    def children(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case s: QueryStageExec => Seq(s.plan)
      case o => o.children
    }
    def collectAll[T](p: SparkPlan)(pf: PartialFunction[SparkPlan, T]): Seq[T] =
      (if (pf.isDefinedAt(p)) Seq(pf(p)) else Nil) ++ children(p).flatMap(collectAll(_)(pf))
    val root = df.queryExecution.executedPlan
    val windows = collectAll(root) {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }
    assert(windows.nonEmpty, s"expected rank windows in the quantile plan:\n$root")
    // every window (the un-splittable per-type stage) must consume the
    // (type, value) count aggregate, never the raw event stream — the
    // single-task sort is bounded by value cardinality, not event volume
    windows.foreach { w =>
      val aggBelow = collectAll(w.child) {
        case a: org.apache.spark.sql.execution.aggregate.BaseAggregateExec => a
      }
      assert(aggBelow.nonEmpty,
        s"window must rank the pre-aggregated frame, not raw events:\n$root")
    }
  }

  test("profile: five signals, ONE corpus scan, no shuffle before the output sort") {
    val df = operators.TextOps.profile(spark, sf0001)
    val p = df.queryExecution.sparkPlan // pre-AQE: structure visible directly
    val scans = p.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }
    assert(scans.size == 1, s"profiler must read the corpus once, got ${scans.size}")
    // the only exchange is the range partitioning of the deterministic
    // output sort — no hash shuffle, no aggregate, no window anywhere.
    // Exchanges only exist post-EnsureRequirements, so this must look at
    // executedPlan (collecting from sparkPlan finds none and passes
    // vacuously).
    assert(!plan(df).contains("Exchange hashpartitioning"),
      s"profile must not hash-shuffle:\n${plan(df)}")
    assert(p.collectFirst {
      case a: org.apache.spark.sql.execution.aggregate.HashAggregateExec => a
      case a: org.apache.spark.sql.execution.aggregate.ObjectHashAggregateExec => a
      case a: org.apache.spark.sql.execution.aggregate.SortAggregateExec => a
    }.isEmpty, "per-doc signals must stay map-side (no aggregation operator)")
  }

  test("bm25: no token explode; frozen stats ride as literals — one scoring scan, no join") {
    // since the bm25Fit/bm25Apply split, the stats pass runs EAGERLY at
    // fit time (one collected aggregate row — index metadata); the gated
    // query's lazy plan is the scoring pass alone: one corpus scan, the
    // model as literals, no join of any kind, no shuffle but the output
    // sort's range partitioning
    val df = operators.TextOps.bm25(spark, sf0001)
    val p = df.queryExecution.sparkPlan
    assert(p.collectFirst {
      case g: org.apache.spark.sql.execution.GenerateExec => g
    }.isEmpty, "per-term tf must be array-local filter counts, never an explode")
    val scans = p.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }
    assert(scans.size == 1,
      s"the lazy plan is the scoring pass alone, got ${scans.size} scans")
    assert(!p.toString.contains("Join"),
      s"frozen stats must be literals, not a joined side:\n$p")
    val shuffles = p.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }
    assert(shuffles.forall(e =>
      e.outputPartitioning.toString.contains("rangepartitioning") ||
        e.outputPartitioning.numPartitions == 1),
      s"no corpus-keyed hash shuffle allowed:\n$p")
  }

  test("gopher_rep: one corpus scan, argmax stays array-local (no explode, no agg)") {
    val df = operators.TextOps.gopherRep(spark, sf0001)
    val p = df.queryExecution.sparkPlan
    val scans = p.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }
    assert(scans.size == 1, s"must read the corpus once, got ${scans.size}")
    assert(p.collectFirst {
      case g: org.apache.spark.sql.execution.GenerateExec => g
    }.isEmpty, "grams must never explode into rows")
    val shuffles = p.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }
    assert(shuffles.forall(_.outputPartitioning.toString.contains("rangepartitioning")),
      s"no corpus-keyed hash shuffle allowed (run-length argmax is a HOF):\n$p")
    assert(p.collectFirst {
      case a: org.apache.spark.sql.execution.aggregate.HashAggregateExec => a
      case a: org.apache.spark.sql.execution.aggregate.ObjectHashAggregateExec => a
      case a: org.apache.spark.sql.execution.aggregate.SortAggregateExec => a
    }.isEmpty, "per-doc top-gram must not use an aggregation operator")
  }

  test("nb_classify: the serving pass is zero-shuffle (model rides as map literals)") {
    val df = operators.TextOps.nbClassify(spark, sf0001)
    val p = df.queryExecution.sparkPlan
    val scans = p.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }
    assert(scans.size == 1, s"scoring must read the corpus once, got ${scans.size}")
    val shuffles = p.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }
    assert(shuffles.forall(e =>
      e.outputPartitioning.toString.contains("rangepartitioning") ||
        e.outputPartitioning.isInstanceOf[org.apache.spark.sql.catalyst.plans.physical.RoundRobinPartitioning]),
      s"serving must not hash-shuffle (likelihoods are broadcast literals):\n$p")
    assert(p.collectFirst {
      case a: org.apache.spark.sql.execution.aggregate.HashAggregateExec => a
      case a: org.apache.spark.sql.execution.aggregate.ObjectHashAggregateExec => a
      case a: org.apache.spark.sql.execution.aggregate.SortAggregateExec => a
    }.isEmpty, "per-doc log-likelihood folds array-locally (no aggregation operator)")
  }

  test("lm_score: the scoring pass is zero-shuffle (model rides as map literals)") {
    val df = operators.TextOps.lmScore(spark, sf0001)
    val p = df.queryExecution.sparkPlan
    val scans = p.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }
    assert(scans.size == 1, s"scoring must read the corpus once, got ${scans.size}")
    val shuffles = p.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }
    // allowed exchanges: the output sort's range partitioning and the
    // degenerate-layout round-robin spread() — neither is keyed on data
    assert(shuffles.forall(e =>
      e.outputPartitioning.toString.contains("rangepartitioning") ||
        e.outputPartitioning.isInstanceOf[org.apache.spark.sql.catalyst.plans.physical.RoundRobinPartitioning]),
      s"scoring must not hash-shuffle (counts are broadcast literals):\n$p")
    assert(p.collectFirst {
      case a: org.apache.spark.sql.execution.aggregate.HashAggregateExec => a
      case a: org.apache.spark.sql.execution.aggregate.ObjectHashAggregateExec => a
      case a: org.apache.spark.sql.execution.aggregate.SortAggregateExec => a
    }.isEmpty, "per-doc nll folds array-locally (no aggregation operator)")
  }

  test("winnow: sketch + metrics are one scan, zero shuffle before the output sort") {
    val df = operators.TextOps.winnow(spark, sf0001)
    val p = df.queryExecution.sparkPlan
    val scans = p.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }
    assert(scans.size == 1, s"winnow must read the corpus once, got ${scans.size}")
    // exchanges only exist post-EnsureRequirements: assert on executedPlan
    // (sparkPlan contains none at all, which would pass vacuously)
    val ep = plan(df)
    assert(!ep.contains("Exchange hashpartitioning"),
      s"winnow must not hash-shuffle (sketch is per-doc HOFs):\n$ep")
    assert(p.collectFirst {
      case a: org.apache.spark.sql.execution.aggregate.HashAggregateExec => a
      case a: org.apache.spark.sql.execution.aggregate.SortAggregateExec => a
    }.isEmpty, "winnow metrics must stay map-side (no aggregation operator)")
  }

  test("cusum: both running windows and the final fold share ONE hash shuffle") {
    // executedPlan: exchanges are inserted by EnsureRequirements, so the
    // sparkPlan (pre-preparation) shows none at all
    val p = plan(graft.operators.EventOps.cusumDrift(spark, sf0001))
    val n = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(n == 1, s"cusum must exchange events on user_id exactly once, got $n:\n$p")
  }

  test("ccnet buckets: counts-then-rank — no ntile, raw-row sorts only within tie groups") {
    val p = plan(graft.operators.TextOps.ccnetBuckets(spark, sf0001))
    assert(!p.contains("ntile"),
      s"ccnet must not compute terciles via an ntile window (per-source serialization):\n$p")
    // the only sort touching raw doc rows (doc_id in its keys) must be the
    // tie-group sort — keyed by score too, so no partition ever holds a
    // whole source's rows
    val rawSorts = p.linesIterator.filter(l =>
      l.contains("Sort [") && l.contains("doc_id#")).toSeq
    assert(rawSorts.nonEmpty, "expected the tie-group rank sort in the plan")
    rawSorts.foreach(l => assert(l.contains("score#"),
      s"raw-row sort not keyed by tie group (per-source sort resurfaced): $l"))
  }

  test("windowed cusum: the day group key grows, the shuffle count does not") {
    val p = plan(graft.operators.EventOps.cusumDriftWindowed(spark, sf0001))
    val n = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(n == 1,
      s"windowed cusum must exchange events on (user_id, day_us) exactly once, got $n:\n$p")
  }

  test("retention: one fact scan, exactly two hash shuffles") {
    val df = graft.operators.EventOps.retentionCohorts(spark, sf0001)
    val scans = df.queryExecution.sparkPlan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }
    assert(scans.size == 1, s"retention must read events once, got ${scans.size}")
    val p = plan(df)
    val n = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(n == 2, s"retention must hash-shuffle exactly twice (user fold, cohort fold), got $n:\n$p")
  }

  private def pushedFilters(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.sparkPlan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec =>
        s.metadata.getOrElse("PushedFilters", "")
    }.mkString("\n")

  test("q6: every predicate reaches the scan — the whole query is the skip rate") {
    val f = pushedFilters(Analytics.q6ForecastRevenue(spark, sf0001))
    assert(f.contains("GreaterThanOrEqual(l_shipdate") &&
      f.contains("LessThan(l_shipdate"), s"date range must push:\n$f")
    assert(f.contains("GreaterThanOrEqual(l_discount") &&
      f.contains("LessThanOrEqual(l_discount"), s"discount bracket must push:\n$f")
    assert(f.contains("LessThan(l_quantity"), s"quantity bound must push:\n$f")
  }

  test("q19: the OR-of-conjunctions pushes into both scans") {
    val f = pushedFilters(Analytics.q19BracketRevenue(spark, sf0001))
    // Spark renders pushed disjunctions as Or(And(...)...) in PushedFilters
    assert(f.contains("Or(And("), s"disjunction must reach a scan:\n$f")
    assert(f.contains("p_brand"),
      s"brand branches must appear in the part scan's pushed filters:\n$f")
  }

  test("q17: decorrelated mean is one extra lineitem pass; brand filter pushed to part") {
    val df = Analytics.q17SmallQtyRevenue(spark, sf0001)
    val scans = df.queryExecution.sparkPlan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }
    val lineitem = scans.count(_.toString.contains("lineitem.parquet"))
    assert(lineitem == 2,
      s"q17 is the self-join of lineitem with its per-part aggregate — exactly 2 scans, got $lineitem")
    val p = plan(df)
    assert(p.contains("EqualTo(p_brand,Brand#4)"),
      "brand filter must reach the part scan")
    df.collect() // adaptive plan finalizes
    assert(!nodes(df.queryExecution.executedPlan).exists(
      _.isInstanceOf[org.apache.spark.sql.execution.joins.CartesianProductExec]),
      "no cartesian anywhere in q17")
  }

  test("join detector: a cartesian product counts as a join") {
    import org.apache.spark.sql.execution.joins.CartesianProductExec
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val prior = spark.conf.getOption(key)
    // no broadcast side: an unconditioned inner join plans as a cartesian product
    spark.conf.set(key, "-1")
    try {
      val df = spark.range(3).toDF("a").crossJoin(spark.range(3).toDF("b"))
      df.collect()
      val ns = nodes(df.queryExecution.executedPlan)
      assert(ns.exists(_.isInstanceOf[CartesianProductExec]), df.queryExecution.executedPlan)
      assert(ns.exists(isJoin))
    } finally prior.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  test("mad outliers: counts-then-rank — exactly two raw-event scans (counts + flag)") {
    val df = EventOps.madOutliers(spark, sf0001)
    val scans = df.queryExecution.sparkPlan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }
    val events = scans.count(_.toString.contains("events.parquet"))
    // one collapse to (type, value) counts — locally CHECKPOINTED, so
    // median, deviations and mad all read the materialized RDD; the only
    // raw file scan in the lazy plan is the flagging join's (the
    // checkpoint build is the other corpus pass: two total)
    assert(events == 1,
      s"mad must leave one raw scan (flag) outside the checkpointed counts, got $events")
    val p = plan(df)
    assert(p.contains("ExistingRDD") || p.contains("Scan ExistingRDD"),
      "median/dev/mad derivations must consume the checkpointed counts frame")
    assert(p.contains("BroadcastHashJoin"),
      "the (med, mad) row set must broadcast into the flagging join")
  }

  test("transition counts: lag window and edge fold — one scan, bounded second exchange") {
    val df = EventOps.transitionCounts(spark, sf0001)
    val scans = df.queryExecution.sparkPlan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }
    assert(scans.size == 1, s"one events scan, got ${scans.size}")
    val p = plan(df)
    val n = "Exchange hashpartitioning".r.findAllIn(p).size
    // user_id for the lag window + (prev, type) for the edge count — the
    // second carries at most |types|^2 rows per partition (map-side
    // partial agg collapses first)
    assert(n == 2, s"expected the window exchange + the tiny edge-fold exchange, got $n:\n$p")
    assert(p.contains("partial_count") || p.contains("HashAggregate"),
      "edge counts must partial-aggregate map-side")
  }

  test("rolling 1h: RANGE frame rides one user exchange; no extra aggregation pass") {
    val df = EventOps.valueRolling1h(spark, sf0001)
    val scans = df.queryExecution.sparkPlan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }
    assert(scans.size == 1, s"one events scan, got ${scans.size}")
    val p = plan(df)
    val n = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(n == 1, s"the RANGE window needs exactly the user_id exchange, got $n:\n$p")
  }

  test("top paths: all four windows share ONE user exchange; path fold is the tiny second") {
    val df = EventOps.topPaths(spark, sf0001)
    val scans = df.queryExecution.sparkPlan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }
    assert(scans.size == 1, s"one events scan, got ${scans.size}")
    val p = plan(df)
    val n = "Exchange hashpartitioning".r.findAllIn(p).size
    // the boundary lag, the sid running sum and BOTH leads partition by
    // user_id alone (leading sid instead of re-partitioning by the derived
    // (user_id, sid) key is exactly what keeps this at one exchange);
    // the second exchange carries <= |event_type|^3 partial path counts
    assert(n == 2, s"expected user window exchange + tiny path-count exchange, got $n:\n$p")
  }

  test("q7: nation dims broadcast; the symmetric pair predicate survives to the plan") {
    val p = plan(Analytics.q7NationTrade(spark, sf0001))
    assert(p.contains("BroadcastHashJoin"))
    assert("BroadcastExchange".r.findAllIn(p).size >= 3,
      "supplier + both nation dims must broadcast")
  }

  test("q8: numerator and denominator ride one aggregate — a single lineitem scan") {
    val df = Analytics.q8MarketShare(spark, sf0001)
    val scans = df.queryExecution.sparkPlan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }.map(_.toString)
    assert(scans.count(_.contains("lineitem.parquet")) == 1,
      s"market share must not scan lineitem twice: $scans")
  }

  test("hamming topk: signature build is map-side (one scan, no shuffle before ranking)") {
    val df = SimilarityOps.hammingTopk(spark, sf0001)
    val scans = df.queryExecution.sparkPlan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }
    // corpus side + broadcast query side read the same file: two scans max
    assert(scans.size == 2, s"corpus + query scans only, got ${scans.size}")
    val p = plan(df)
    // the only hash exchange feeds the per-query ranking window
    val n = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(n == 1, s"sign words must build map-side, got $n exchanges:\n$p")
  }

  test("novelty: inverted-index shape — gram exchange + doc exchange, nothing else") {
    // assert on the pre-checkpoint builder: the public noveltyScoreOn
    // localCheckpoints (cache hygiene), which hides the plan behind a
    // Scan ExistingRDD — the executed shape is this frame's
    val df = graft.operators.DedupOps.noveltyPlanOn(
      graft.sources.Tables.t(spark, sf0001, "documents"))
    val p = plan(df)
    val n = "Exchange hashpartitioning".r.findAllIn(p).size
    // min(doc_id) by gram (map-side combined), then counts by doc; the
    // join rides the gram partitioning of the first exchange
    assert(n <= 3, s"novelty must stay at the df-pass shuffle budget, got $n:\n$p")
    assert(p.contains("partial_min") || p.contains("HashAggregate"),
      "first-seen must partial-aggregate map-side")
  }

  test("q15: the revenue view is computed once (persisted), quarter filter pushed") {
    val df = Analytics.q15TopSupplier(spark, sf0001)
    val p = plan(df)
    // the max-equality probe must reuse the persisted view, not rescan
    // lineitem for the scalar max
    val scans = "lineitem.parquet".r.findAllIn(p).size
    assert(scans <= 1, s"the revenue view must not rescan lineitem: $scans scans\n$p")
  }

  test("q22: the lapse window reaches the orders scan; anti join present") {
    val p = plan(Analytics.q22SalesOpportunity(spark, sf0001))
    assert(p.contains("PushedFilters: [IsNotNull(o_orderdate), GreaterThanOrEqual(o_orderdate"),
      s"date filter must reach the orders scan:\n$p")
    assert(p.contains("LeftAnti"), "NOT EXISTS must compile to an anti join")
  }

  test("q12: one fact-fact join, conditional counts in a single aggregate") {
    val df = Analytics.q12LateShipments(spark, sf0001)
    val scans = df.queryExecution.sparkPlan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }
    assert(scans.size == 2, s"exactly lineitem + orders, got ${scans.size}")
    val aggs = "HashAggregate".r.findAllIn(plan(df)).size
    // partial + final of ONE aggregate (both conditional sums inside it)
    assert(aggs == 2, s"both counts must ride one aggregate, got $aggs HashAggregates")
  }

  test("hybrid: query side broadcasts, query-doc filter reaches a scan, rank cuts are group limits") {
    val p = plan(graft.operators.HybridSearch.hybridSearchOn(
      graft.sources.Tables.t(spark, sf0001, "documents"),
      graft.sources.Tables.t(spark, sf0001, "embeddings"), materialize = false))
    // lexical scoring is map-side over matched postings: terms/dfs/queries
    // all arrive as broadcasts
    assert(p.contains("BroadcastHashJoin"), "query-side joins must broadcast")
    // the more-like-this query set prunes at the scan, not in memory
    assert(p.contains("LessThan(doc_id,10)") || p.contains("LessThan(vec_id,10)"),
      s"query-set filter must push into a parquet scan:\n${p.take(2000)}")
    // per-query top-N/top-K rank filters compile to per-partition heaps
    assert(p.contains("WindowGroupLimit"), "rank cuts must push WindowGroupLimit")
  }

  test("kmeans: assignment is map-side (no join); update is one partial-agg exchange") {
    val df = graft.operators.SimilarityOps.kmeansOn(
      graft.sources.Tables.t(spark, sf0001, "embeddings"), 8, 3)
    val p = plan(df)
    // centroids ride as literals into the project — no join of any kind
    assert(!p.contains("Join"), s"assignment must be join-free:\n${p.take(1500)}")
    // the k*64-cell aggregate combines map-side before its single exchange
    assert(p.contains("HashAggregate") && p.contains("Exchange hashpartitioning(cl"),
      "update must be a partial-agg shuffle keyed on cl")
    assert("Exchange hashpartitioning".r.findAllIn(p).length == 1,
      "exactly one exchange in the whole iteration")
  }

  test("portable hll: register fold is a partial agg keyed (group, j); no corpus re-shuffle") {
    import org.apache.spark.sql.functions._
    val ev = graft.sources.Tables.t(spark, sf0001, "events")
      .select(unix_micros(date_trunc("DAY", col("ts"))).as("day_us"), col("user_id"))
    val p = plan(graft.operators.PortableHll.registers(ev, Seq("day_us"), col("user_id")))
    assert(p.contains("Exchange hashpartitioning(day_us"), "register fold shuffles on (group, j)")
    val aggs = "HashAggregate".r.findAllIn(p).length
    assert(aggs == 2, s"partial + final register MAX, got $aggs HashAggregates")
  }

  test("basket pairs: set fold + map-side expansion — no join, two exchanges, TakeOrdered") {
    val p = plan(Analytics.qBasketPairs(spark, sf0001))
    assert(!p.contains("Join"), s"pair expansion must be map-side, not a self-join:\n${p.take(1200)}")
    assert("Exchange hashpartitioning".r.findAllIn(p).length == 2,
      "exactly two shuffles: the order-set fold and the pair count")
    assert(p.contains("TakeOrderedAndProject"), "global top-20 must be a TakeOrdered")
  }

  test("editdist: the Levenshtein DP runs over banded candidates, never the corpus join") {
    val df = graft.operators.DedupOps.editDistPairsOn(
      graft.sources.Tables.t(spark, sf0001, "documents"), materialize = false)
    val p = plan(df)
    assert(p.contains("levenshtein"), "verify must be the native levenshtein")
    // text resolution joins the bounded candidate frame against the
    // corpus — broadcast, no corpus-by-corpus exchange on text
    assert(p.contains("BroadcastHashJoin"), "candidate-side text joins must broadcast")
  }

  test("relaxed CEP fold: one exchange on the key, no join, events filtered before the shuffle") {
    val df = graft.operators.EventOps.cepAttackFlinkOn(
      graft.sources.Tables.t(spark, sf0001, "events"))
    val p = plan(df)
    // the per-key NFA fold shuffles ONCE on the key and joins nothing
    assert(!p.contains("Join"), s"relaxed fold must be join-free:\n${p.take(1500)}")
    assert("Exchange hashpartitioning\\(user_id".r.findAllIn(p).length == 1,
      "exactly one key exchange feeding the fold")
    // neutral events drop BEFORE the shuffle: the filter sits under the
    // aggregate and reaches the scan subtree, so the per-key arrays carry
    // only pattern-relevant events
    assert(p.contains("Filter"), "run/next predicate filter must exist pre-shuffle")
  }

  test("bloom probe is pure map-side (literal word map); cm probe broadcasts the counter table") {
    // bloom: the <=256-row filter collects once and rides the probe plan
    // as a literal — the candidate stream is never joined or shuffled
    import graft.operators.PortableBloom
    val corpus = spark.range(1, 101).toDF("k")
    val merged = PortableBloom.words(corpus, Seq.empty,
      org.apache.spark.sql.functions.col("k"))
    val p1 = plan(PortableBloom.probe(spark.range(1, 11).toDF("k"), "k", merged))
    assert(!p1.contains("Join") && !p1.contains("Exchange"),
      s"bloom probe must be pure map-side:\n$p1")
    // cm: the <=8192-row counter table would bloat a literal (codegen
    // size), so it stays a broadcast-join side
    val p2 = plan(graft.operators.MembershipOps
      .cmFrequency(spark, sf0001, materialize = false))
    assert(p2.contains("BroadcastHashJoin"),
      "cm probe must join the broadcast counter table")
  }

  test("ewma: exactly one event-scale hash exchange feeds the per-key fold; no join") {
    val df = graft.operators.Ewma.ewmaOutliers(spark, sf0001)
    val p = plan(df)
    assert(!p.contains("Join"), s"ewma fold must be join-free:\n${p.take(1500)}")
    val n = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(n == 1, s"ewma must hash-shuffle exactly once (the key exchange), got $n:\n$p")
  }

  test("kll sketch: ONE hash exchange on the group key serves both windows") {
    import org.apache.spark.sql.functions._
    val ev = graft.sources.Tables.t(spark, sf0001, "events")
      .select(unix_micros(date_trunc("DAY", col("ts"))).as("day_us"),
        col("value").as("v"), col("event_id").cast("long").as("tie"))
    val surv = operators.PortableKll.sketch(ev, Seq("day_us"), col("v"), col("tie"))
    val p = plan(surv)
    val n = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(n == 1,
      s"row_number and the per-group count must share one day_us exchange, got $n:\n$p")
    assert(!p.contains("Join"), s"the sketch is join-free:\n${p.take(1200)}")
  }

  test("phash: the hash table is one payload scan, no join, no hash shuffle") {
    val df = operators.MultimodalOps.phashValues(spark, sf0001)
    val p = df.queryExecution.sparkPlan
    val scans = p.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }
    assert(scans.size == 1, s"phash values must scan documents once, got ${scans.size}")
    assert(!p.toString.contains("Join"), s"no join in the hash pass:\n$p")
    val hashShuffles = p.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
          if e.outputPartitioning.toString.contains("hashpartitioning") => e
    }
    assert(hashShuffles.isEmpty,
      s"the hash pass is map-side only (output sort is a range exchange):\n$p")
  }

  test("phash dedup (lazy twin): the pair machinery never rejoins payloads — only the 8-byte hash frame") {
    // the materialized form checkpoints the hash table (one payload scan
    // total — the r13 audit fix); the lazy twin exposes the compiled
    // shape, where every documents scan must read ONLY (doc_id, text)
    // for hashing and the verify carries hashes, not payloads
    val df = operators.MultimodalOps.phashDedup(spark, sf0001, materialize = false)
    val p = df.queryExecution.sparkPlan.toString
    assert(!p.contains("payload#"), // the binary column never travels a join
      s"pair machinery must carry hashes, not payloads:\n${p.take(1500)}")
  }

  test("holt: one fact scan; daily fold + per-type fold are the only hash shuffles") {
    val df = operators.Forecast.holtForecast(spark, sf0001)
    val scans = df.queryExecution.sparkPlan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }
    assert(scans.size == 1, s"holt must read events once, got ${scans.size}")
    val p = plan(df)
    val n = "Exchange hashpartitioning".r.findAllIn(p).size
    // exchange 1: the map-side-combined daily count (fact scale);
    // exchange 2: regroup the |types|x|days| daily rows per type
    // (metadata scale) — the smoothing fold itself adds none
    assert(n == 2, s"holt must hash-shuffle exactly twice, got $n:\n$p")
  }

  test("hampel: the +-5 window rides ONE hash exchange; no join anywhere") {
    val p = plan(operators.Forecast.hampelOutliers(spark, sf0001))
    val n = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(n == 1, s"hampel must exchange events on the type key exactly once, got $n:\n$p")
    assert(!p.contains("Join"), s"hampel is a window filter, never a self-join:\n$p")
  }

  test("scene cuts: one payload scan; lag + cumsum windows AND the scene agg share one doc exchange") {
    val df = operators.MultimodalOps.sceneCuts(spark, sf0001)
    val scans = df.queryExecution.sparkPlan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }
    assert(scans.size == 1, s"scene cuts must read payloads once, got ${scans.size}")
    val p = plan(df)
    val n = "Exchange hashpartitioning".r.findAllIn(p).size
    // hashpartitioning(doc_id) satisfies the (doc_id, scene) groupBy's
    // clustering, so the aggregate MUST reuse the window exchange
    assert(n == 1, s"both windows and the scene agg must share one doc_id exchange, got $n:\n$p")
    assert("Window".r.findAllIn(p).size >= 2,
      s"expected the lag and cumsum windows over the shared sort:\n$p")
  }

  test("minhash lsh: candidates are a self-join of the cached pruned frame, never a grouped expansion") {
    // the r17 decision as a checked fact: the bucket self-join over the
    // persisted pruned band rows (doc_id, band, bkey) is the candidate
    // stage; the reverted collect_list expansion (an object aggregate)
    // must not come back
    import org.apache.spark.sql.catalyst.expressions.aggregate.CollectList
    import org.apache.spark.sql.execution.aggregate.ObjectHashAggregateExec
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import org.apache.spark.sql.execution.joins.BaseJoinExec
    def readsPruned(side: SparkPlan): Boolean = nodes(side, intoCaches = false).exists {
      case c: InMemoryTableScanExec =>
        c.relation.output.map(_.name).toSet == Set("doc_id", "band", "bkey")
      case _ => false
    }
    val df = graft.operators.DedupOps.minHashLsh(spark, sf0001)
    try {
      df.collect() // adaptive plan finalizes
      val root = df.queryExecution.executedPlan
      val bucketJoins = nodes(root, intoCaches = false).collect { case j: BaseJoinExec =>
        j }.filter(j => j.children.forall(readsPruned))
      assert(bucketJoins.size == 1,
        s"expected one join whose two sides both read the cached pruned frame:\n$root")
      assert(bucketJoins.head.leftKeys.map(_.toString).exists(_.startsWith("band#")) &&
        bucketJoins.head.leftKeys.map(_.toString).exists(_.startsWith("bkey#")),
        s"the candidate join must key on (band, bkey): ${bucketJoins.head}")
      val all = nodes(root, intoCaches = true)
      assert(!all.exists(_.isInstanceOf[ObjectHashAggregateExec]), root)
      assert(!all.exists(_.expressions.exists(_.exists(_.isInstanceOf[CollectList]))), root)
    } finally spark.catalog.clearCache()
  }

  test("minhash lsh: each document is shingled once on the way to the signature cache") {
    // a filter on size(shs) over a projected shingle column is pushed below
    // the Project with the alias substituted, which shingles every document
    // twice; the generator shape keeps one shingle pass
    import graft.functions.WordShingles
    import org.apache.spark.sql.execution.FilterExec
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    def shingles(n: SparkPlan): Int =
      n.expressions.map(_.collect { case w: WordShingles => w }.size).sum
    val df = graft.operators.DedupOps.minHashLsh(spark, sf0001)
    try {
      df.collect() // adaptive plans finalize, cached relations included
      val all = nodes(df.queryExecution.executedPlan, intoCaches = true)
      val sigCaches = all.collect {
        case c: InMemoryTableScanExec
            if c.relation.output.map(_.name).toSet == Set("doc_id", "hsh", "sig") =>
          c.relation.cachedPlan
      }.distinct
      assert(sigCaches.size == 1, s"expected one signature cache:\n${df.queryExecution.executedPlan}")
      val path = nodes(sigCaches.head)
      assert(path.map(shingles).sum == 1,
        s"expected one graft_word_shingles on the scan -> sh path:\n${sigCaches.head}")
      assert(!all.exists {
        case f: FilterExec => f.condition.exists(_.isInstanceOf[WordShingles])
        case _ => false
      }, s"a filter re-shingles the documents:\n${sigCaches.head}")
    } finally spark.catalog.clearCache()
  }
}
