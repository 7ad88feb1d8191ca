package graft

/** Benchmark main: times the headline queries (full materialization through
  * the noop sink — no driver collect, no result truncation) and prints one
  * JSON line.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.get("graft-bench")

    // warm up codegen, FS layer and the JIT before timing
    spark.range(1000000).selectExpr("sum(id)").collect()
    spark.read.parquet(s"$sfDir/nation.parquet").count()

    // Frozen host-speed calibration (r15 verdict #5): the per-round bench
    // artifact is taken in whatever slot the driver lands on, and this
    // shared box drifts ~1.4x between slots (r15's same-window A/B). This
    // workload is FROZEN — pure synthetic range -> hash -> one shuffle ->
    // agg, no repo operator, no table — so its time across BENCH_rN files
    // is a pure slot-speed signal: divide any round's headline total by
    // (calib_rN / calib_rM) to compare tree M and tree N as if same-window.
    // Timed once before and once after the suite to bracket the window;
    // DO NOT change this job, its sizes, or its partitioning — a frozen
    // workload is only comparable while it stays frozen.
    def calibRun(): Double = {
      // pin the calib job's shuffle at the FROZEN 32 partitions regardless
      // of the session's cpus-tracking setting: since shuffle.partitions
      // started following SPARK_GRAFT_CPUS, an unpinned calib would change
      // partitioning on the driver's low-core scaling run and stop being
      // the cross-slot constant it exists to be (r16 ADVICE).
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
    calibRun() // untimed: the calib job's own codegen/JIT must not leak into pre
    val calibPre = Seq.fill(3)(calibRun()).min

    val targets = Registry.all.filter(_.headline)
    // three timed runs per query, report the best: the steady-state cost a
    // resident service would see. A query that throws is reported as null
    // (never a bogus elapsed time) and fails the run.
    //
    // The runs are INTERLEAVED as full passes over the suite, not repeated
    // back-to-back: on a shared box external contention arrives in windows
    // lasting many seconds (e.g. a concurrent oracle verify), and
    // back-to-back repeats land every sample of one query inside the same
    // window — an entire suite pass between samples gives each query three
    // temporally-separated draws, so min() dodges any window shorter than
    // the whole bench.
    val errors = scala.collection.mutable.LinkedHashMap[String, String]()
    def timedRun(q: QueryDef): Option[Double] = {
      val t0 = System.nanoTime()
      val ok =
        try { q.build(spark, sfDir).write.format("noop").mode("overwrite").save(); true }
        catch { case e: Throwable =>
          System.err.println(s"[bench] ${q.name}: $e")
          errors(q.name) = e.toString.take(200)
          false
        }
      val dt = (System.nanoTime() - t0) / 1e9
      spark.catalog.clearCache()
      if (ok) Some(dt) else None
    }
    val samples = scala.collection.mutable.LinkedHashMap[String, List[Double]]()
    targets.foreach(q => samples(q.name) = Nil)
    for (_ <- 1 to 3; q <- targets)
      timedRun(q).foreach(t => samples(q.name) = t :: samples(q.name))
    // the sketch-family queries (shingle explosion + signature arrays) have
    // the widest CROSS-RUN spread in the round history (driver draws up to
    // 2.1x the local closing number with in-run spread under the 2x
    // trigger below — r6 verdict nit 3): give them a fourth draw
    // unconditionally, one more temporally-separated chance to land
    // outside a contention window this run can't otherwise see
    val sketchFamily = Set("doc_minhash_lsh", "doc_jaccard_pairs")
    for (q <- targets if sketchFamily(q.name))
      timedRun(q).foreach(t => samples(q.name) = t :: samples(q.name))
    // queries whose spread exceeds 2x caught at least one contention
    // window — give them two extra temporally-separated draws so the
    // reported min is less likely to be a contaminated sample itself
    val noisy = targets.filter { q =>
      val ts = samples(q.name)
      ts.nonEmpty && ts.max / ts.min > 2.0
    }
    for (_ <- 1 to 2; q <- noisy)
      timedRun(q).foreach(t => samples(q.name) = t :: samples(q.name))
    val results = targets.map { q =>
      val times = samples(q.name)
      q.name -> (if (times.nonEmpty) Some(times.min) else None)
    }
    val qs = results.map { case (k, v) => Json.str(k) + ":" + v.fold("null")(_.toString) }
      .mkString("{", ",", "}")
    val total = results.flatMap(_._2).sum
    // streaming soak (sustained ev/s + bounded-state evidence) rides along
    // as its own key — NOT added to the headline total, which stays the sum
    // of the batch queries above. 0 seconds disables it.
    val soakSecs = sys.env.getOrElse("SPARK_GRAFT_SOAK_SECS", "45").toInt
    val soakJson =
      if (soakSecs <= 0) "null"
      else try streaming.Soak.json(streaming.Soak.runResilient(spark, soakSecs, 20000))
      catch { case e: Throwable =>
        System.err.println(s"[bench] soak: $e"); errors("soak") = e.toString.take(200); "null"
      }
    // near-dup streaming soak: docs/s + bounded pair-dedup state for the
    // stream probe topology, same reporting shape. 0 seconds disables it.
    val ndSecs = sys.env.getOrElse("SPARK_GRAFT_NEARDUP_SOAK_SECS", "30").toInt
    val ndJson =
      if (ndSecs <= 0) "null"
      else try streaming.Soak.json(streaming.Soak.runNearDup(spark, sfDir, ndSecs, 2000))
      catch { case e: Throwable =>
        System.err.println(s"[bench] neardup_soak: $e")
        errors("neardup_soak") = e.toString.take(200); "null"
      }
    // distinct-sketch streaming soak: every input row is a NEW user (the
    // worst case for exact distinct state) and the portable-HLL register
    // fold must plateau at <= days*1024 state rows. Same shape, own key.
    val dsSecs = sys.env.getOrElse("SPARK_GRAFT_DISTINCT_SOAK_SECS", "20").toInt
    val dsJson =
      if (dsSecs <= 0) "null"
      else try streaming.Soak.json(streaming.Soak.runDistinct(spark, dsSecs, 50000))
      catch { case e: Throwable =>
        System.err.println(s"[bench] distinct_soak: $e")
        errors("distinct_soak") = e.toString.take(200); "null"
      }
    // governance soak: the continuous DP release's full exactly-once cell
    // lifecycle (open -> cap -> watermark close -> release -> tombstone)
    // cycling every few seconds of real time under sustained load.
    val dpSecs = sys.env.getOrElse("SPARK_GRAFT_DP_SOAK_SECS", "15").toInt
    val dpJson =
      if (dpSecs <= 0) "null"
      else try streaming.Soak.json(streaming.Soak.runDpRelease(spark, dpSecs, 30000))
      catch { case e: Throwable =>
        System.err.println(s"[bench] dp_soak: $e")
        errors("dp_soak") = e.toString.take(200); "null"
      }
    // stream-stream interval-join soak: live enrichment (points ⋈
    // intervals with event-time range bounds) under sustained load, with
    // both sides' join state watermark-evicted to the horizon plateau.
    val ivjSecs = sys.env.getOrElse("SPARK_GRAFT_IVJOIN_SOAK_SECS", "15").toInt
    val ivjJson =
      if (ivjSecs <= 0) "null"
      else try streaming.Soak.json(streaming.Soak.runIntervalJoin(spark, ivjSecs, 20000))
      catch { case e: Throwable =>
        System.err.println(s"[bench] ivjoin_soak: $e")
        errors("ivjoin_soak") = e.toString.take(200); "null"
      }
    // in-stream frozen-model scoring soak: daily cells close at the
    // watermark and score against the broadcast frozen factors.
    val scSecs = sys.env.getOrElse("SPARK_GRAFT_SCORING_SOAK_SECS", "12").toInt
    val scJson =
      if (scSecs <= 0) "null"
      else try streaming.Soak.json(streaming.Soak.runScoring(spark, scSecs, 30000))
      catch { case e: Throwable =>
        System.err.println(s"[bench] scoring_soak: $e")
        errors("scoring_soak") = e.toString.take(200); "null"
      }
    // index-serving stage: per family (pq/ivfpq/minhash/cosine), the
    // one-time build cost vs the per-query direct-recompute vs the stored
    // serve path — the measured form of the write/serve/append story.
    // Rides along like the soaks (never in the headline total). 0 disables.
    val serveOn = sys.env.getOrElse("SPARK_GRAFT_SERVE", "1") != "0"
    val serveJson =
      if (!serveOn) "null"
      else try tools.ServeBench.run(spark, sfDir)
      catch { case e: Throwable =>
        System.err.println(s"[bench] index_serve: $e")
        errors("index_serve") = e.toString.take(200); "null"
      }
    // no stream may outlive the bench: a leaked soak query in a retried run
    // competes with the retry's timed queries and poisons its numbers
    spark.streams.active.foreach { s =>
      try s.stop() catch { case e: Throwable =>
        System.err.println(s"[bench] stop leaked stream ${s.id}: $e") }
    }
    val calibPost = Seq.fill(3)(calibRun()).min
    val calibJson = s"""{"sec":${math.min(calibPre, calibPost)},"pre":$calibPre,"post":$calibPost}"""
    val errJson2 = errors.map { case (k, v) => Json.str(k) + ":" + Json.str(v) }
      .mkString("{", ",", "}")
    val fullJson = s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"calib":$calibJson,"soak":$soakJson,"neardup_soak":$ndJson,"distinct_soak":$dsJson,"dp_soak":$dpJson,"ivjoin_soak":$ivjJson,"scoring_soak":$scJson,"index_serve":$serveJson,"errors":$errJson2,"sf":"$sfDir"}"""
    // The harness captures only the TAIL of stdout (a bounded window), and
    // the full payload line has outgrown it — the r13 artifact carried no
    // headline numbers. Self-containment discipline: the full payload goes
    // to a file AND an earlier stdout line; the LAST line is a compact
    // headline (totals + per-query seconds + errors) guaranteed to fit any
    // plausible tail window, so the artifact chain always has the numbers
    // of record.
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "target/bench_full.json")
    try {
      val p = java.nio.file.Paths.get(outPath)
      if (p.getParent != null) java.nio.file.Files.createDirectories(p.getParent)
      java.nio.file.Files.write(p, fullJson.getBytes("UTF-8"))
    } catch { case e: Throwable => System.err.println(s"[bench] write $outPath: $e") }
    println(fullJson)
    println(s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"calib":$calibJson,"errors":$errJson2,"sf":"$sfDir","full":${Json.str(outPath)}}""")
    spark.stop()
    if (errors.nonEmpty) sys.exit(1)
  }
}
