package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.GraftSession
import graft.operators.{DedupOps, EventOps, SimilarityOps, TextOps}
import graft.sources.Tables

/** Scale stress: replicate the sf0.1 tables 10-20x with key offsets (and
  * per-copy text perturbation so near-dup structure stays realistic instead
  * of exploding into cross-copy clusters), then time the heavy operators.
  * The point is the scaling CURVE, not the absolute numbers.
  */
object Stress {
  def time[T](label: String)(f: => T): Unit = {
    val t0 = System.nanoTime()
    val r = f
    println(f"[stress] $label: ${(System.nanoTime() - t0) / 1e9}%.2f s ($r)")
  }

  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val copies = if (args.length > 1) args(1).toInt else 10
    val eventsOnly = args.contains("--events-only")
    val spark = GraftSession.get("stress")
    import spark.implicits._
    spark.range(100).count()

    // documents x copies: a copy-specific marker token interleaved every 3
    // words preserves within-copy near-dup structure (both twins get the
    // same rewrite) while zeroing cross-copy similarity (every 5-gram
    // shingle spans a marker), so pair counts scale linearly with copies
    if (!eventsOnly) {
    val docs = Tables.t(spark, dir, "documents")
    def perturb(i: Int) = expr(
      s"concat_ws(' ', flatten(transform(split(text, ' '), " +
      s"(t, i) -> CASE WHEN i % 3 = 2 THEN array(t, 'cp$i') ELSE array(t) END)))")
    def corpusOf(n: Int) = (0 until n).map { i =>
      docs.select(
        (col("doc_id") + lit(i * 10000000L)).as("doc_id"),
        perturb(i).as("text"))
    }.reduce(_ unionByName _)
    val docsN = corpusOf(copies)
    time(s"docs x$copies count")(docsN.count())
    time(s"minhash-lsh x$copies")(DedupOps.minHashLshOn(docsN).count())
    time(s"jaccard x$copies")(DedupOps.jaccardPairsOn(docsN).count())
    spark.catalog.clearCache()

    // graph layer over the near-dup pairs: the marker interleave keeps
    // every cluster strictly within-copy, so triangle counts AND the
    // integer PageRank value histogram must be EXACTLY linear in copies
    // (each copy's subgraph is isomorphic to copy 0's; integer ranks are
    // partition-independent, so the multiset of ranks just replicates).
    // Hard requires, the winnow discipline; per-iteration PR wall time
    // is the printed curve.
    var tri1 = 0L
    var prHist1 = Map.empty[Long, Long]
    time("graph x1 triangles+pagerank") {
      val p1 = DedupOps.jaccardPairsOn(corpusOf(1)).select("d1", "d2")
        .localCheckpoint(true)
      tri1 = graft.operators.GraphOps.trianglesOn(p1).count()
      prHist1 = graft.operators.GraphOps.pageRank(p1, iters = 5)
        .groupBy("r").count()
        .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
      s"tri=$tri1 nodes=${prHist1.values.sum}"
    }
    spark.catalog.clearCache()
    time(s"graph x$copies triangles+pagerank") {
      val pN = DedupOps.jaccardPairsOn(docsN).select("d1", "d2")
        .localCheckpoint(true)
      val triN = graft.operators.GraphOps.trianglesOn(pN).count()
      require(triN == copies * tri1,
        s"triangles not linear: x1=$tri1, x$copies=$triN")
      val t0 = System.nanoTime()
      val prHistN = graft.operators.GraphOps.pageRank(pN, iters = 5)
        .groupBy("r").count()
        .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
      val perIter = (System.nanoTime() - t0) / 1e9 / 5
      require(prHistN == prHist1.map { case (r, n) => (r, n * copies) },
        s"pagerank histogram not a $copies-fold replica of x1")
      f"tri=$triN nodes=${prHistN.values.sum} pr_iter=$perIter%.2f s"
    }
    spark.catalog.clearCache()

    // substring-span dedup: the marker interleave kills every cross-copy
    // 8-gram (each window spans a marker), so total duplicated-token
    // coverage must be EXACTLY linear in copies
    time(s"substring-dup x$copies coverage")(
      DedupOps.substringDupOn(docsN).agg(sum("dup_tokens")).first().getLong(0))
    spark.catalog.clearCache()

    // maximal repeat mining: every copy's rewrite is identical (twin docs
    // get the same marker interleave), so each copy's repeat structure is
    // isomorphic to copy 0's and cross-copy grams are dead — the
    // (rep_len → count) HISTOGRAM must be an exact copies-fold replica
    // (hard require, the winnow discipline)
    var rm1 = Map.empty[Long, Long]
    time("repeat-mine x1 finds") {
      rm1 = DedupOps.repeatMineOn(corpusOf(1)).groupBy("rep_len").count()
        .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
      rm1.values.sum
    }
    spark.catalog.clearCache()
    time(s"repeat-mine x$copies finds") {
      val rmN = DedupOps.repeatMineOn(docsN).groupBy("rep_len").count()
        .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
      require(rmN == rm1.map { case (l, n) => (l, n * copies) },
        s"repeat-mine histogram not a $copies-fold replica of x1")
      rmN.values.sum
    }
    spark.catalog.clearCache()

    // chunk-grain dedup (r15): twin docs get the same marker interleave,
    // so each copy's chunk-dup structure replicates and cross-copy chunk
    // fingerprints are dead — the status histogram must be an exact
    // copies-fold replica of x1 (hard require)
    var cd1 = Map.empty[String, Long]
    time("chunk-dedup x1") {
      cd1 = DedupOps.chunkDedupOn(corpusOf(1)).groupBy("status").count()
        .collect().map(r => (r.getString(0), r.getLong(1))).toMap
      cd1.values.sum
    }
    spark.catalog.clearCache()
    time(s"chunk-dedup x$copies") {
      val cdN = DedupOps.chunkDedupOn(docsN).groupBy("status").count()
        .collect().map(r => (r.getString(0), r.getLong(1))).toMap
      require(cdN == cd1.map { case (k, n) => (k, n * copies) },
        s"chunk-dedup histogram not a $copies-fold replica of x1")
      cdN.values.sum
    }
    spark.catalog.clearCache()

    // chunk-grain NEAR dedup (r15): the marker interleave makes cross-copy
    // shingles dead, so band keys never collide across copies — each
    // copy's near-pair set replicates and the hot-bucket cap sees the
    // same per-copy bucket sizes. Pair count must be EXACTLY linear
    // (hard require); wall is the banding's scale curve.
    var cm1 = 0L
    time("chunk-minhash x1 pairs") {
      cm1 = DedupOps.chunkMinhashOn(corpusOf(1)).count(); cm1
    }
    spark.catalog.clearCache()
    time(s"chunk-minhash x$copies pairs") {
      val cmN = DedupOps.chunkMinhashOn(docsN).count()
      require(cmN == cm1 * copies,
        s"chunk-minhash pairs not linear in copies: $cm1 -> $cmN")
      cmN
    }
    spark.catalog.clearCache()

    // novelty + containment: the marker interleave makes every copy's
    // 5-grams copy-unique, so first-occurrence structure and containment
    // pairs are both strictly within-copy — totals must be EXACTLY linear
    // in copies (hard require, the winnow discipline)
    var novel1 = 0L
    time("novelty x1 n_novel") {
      novel1 = DedupOps.noveltyScoreOn(corpusOf(1))
        .agg(sum("n_novel")).first().getLong(0)
      novel1
    }
    spark.catalog.clearCache()
    time(s"novelty x$copies n_novel") {
      val nN = DedupOps.noveltyScoreOn(docsN)
        .agg(sum("n_novel")).first().getLong(0)
      require(nN == copies * novel1,
        s"novelty not linear: x1=$novel1, x$copies=$nN")
      nN
    }
    spark.catalog.clearCache()
    var cont1 = 0L
    time("containment x1 pairs") {
      cont1 = DedupOps.containmentPairsOn(corpusOf(1)).count(); cont1
    }
    spark.catalog.clearCache()
    time(s"containment x$copies pairs") {
      val cN = DedupOps.containmentPairsOn(docsN).count()
      require(cN == copies * cont1,
        s"containment pairs not linear: x1=$cont1, x$copies=$cN")
      cN
    }
    spark.catalog.clearCache()

    // BPE fit: the distributed cost is the word-count pass (linear in
    // corpus); the merge loop runs on the CAPPED vocab (grows only by the
    // `cpN` marker tokens here), so the x1 -> xN curve must track the
    // scan, not the corpus x vocab product
    time(s"bpe-fit x1")(
      TextOps.bpeFit(spark, corpusOf(1), 20)._2.length)
    spark.catalog.clearCache()
    time(s"bpe-fit x$copies")(
      TextOps.bpeFit(spark, docsN, 20)._2.length)
    spark.catalog.clearCache()

    // edit-distance near-dup: same banded candidates as minhash-lsh, so
    // the marker interleave keeps every candidate within-copy; for
    // copies <= 10 the 'cpN' markers are SAME-LENGTH and appear
    // identically on both sides of a pair, so each copy's pair set is a
    // character-consistent renaming of copy 0's — Levenshtein is
    // identity-based, every distance replicates, and the qualifying
    // pair count must be EXACTLY linear (hard require). Past 10 copies
    // marker lengths diverge and the check degrades to a printout.
    var ed1 = 0L
    time("editdist x1 pairs") {
      ed1 = DedupOps.editDistPairsOn(corpusOf(1)).count(); ed1
    }
    spark.catalog.clearCache()
    time(s"editdist x$copies pairs") {
      val eN = DedupOps.editDistPairsOn(docsN).count()
      if (copies <= 10)
        require(eN == copies * ed1,
          s"editdist pairs not linear: x1=$ed1, x$copies=$eN")
      eN
    }
    spark.catalog.clearCache()

    // hybrid retrieval: FIXED query set (copy 0's doc_id < 10) against a
    // corpus growing in both modalities — the serving scale shape. The
    // posting build and the brute semantic scan are each one linear
    // corpus pass; the fusion joins two <= topN-per-query frames, so
    // output stays pinned at topK x |queries| rows however large the
    // corpus gets (hard require on the row count, timing is the curve).
    {
      val emb0 = Tables.t(spark, dir, "embeddings")
      def embOf(n: Int) = (0 until n).map { i =>
        val flip = expr(
          s"transform(embedding, (x, j) -> CASE WHEN pmod(xxhash64(concat('cp$i', '_', j)), 2) = 0 THEN x ELSE -x END)")
        emb0.select((col("vec_id") + lit(i * 10000000L)).as("vec_id"),
          flip.as("embedding"), col("label"))
      }.reduce(_ unionByName _)
      time("hybrid x1")(
        graft.operators.HybridSearch.hybridSearchOn(corpusOf(1), embOf(1)).count())
      spark.catalog.clearCache()
      time(s"hybrid x$copies") {
        val n = graft.operators.HybridSearch
          .hybridSearchOn(docsN, embOf(copies)).count()
        require(n == 100L,
          s"hybrid output must stay topK x 10 queries = 100 rows, got $n")
        n
      }
      spark.catalog.clearCache()
    }

    // winnowing sketch: pure per-doc folds. Linearity needs TEXT-identical
    // copies (corpusOf's per-copy markers change the gram hashes and thus
    // which gram each window selects), so this stage replicates copy 0
    // verbatim under shifted ids — then xN selected-count must be EXACTLY
    // N x the x1 count, and the check is a hard require, not a printout.
    def sameTextCorpus(n: Int) = (0 until n).map { i =>
      docs.select((col("doc_id") + lit(i * 10000000L)).as("doc_id"),
        perturb(0).as("text"))
    }.reduce(_ unionByName _)
    var winnow1 = 0L
    time(s"winnow x1 selected") {
      winnow1 = TextOps.winnowSketch(sameTextCorpus(1))
        .agg(sum(size(col("sel")))).first().getLong(0)
      winnow1
    }
    spark.catalog.clearCache()
    time(s"winnow x$copies selected") {
      val wN = TextOps.winnowSketch(sameTextCorpus(copies))
        .agg(sum(size(col("sel")))).first().getLong(0)
      require(wN == copies * winnow1,
        s"winnow selection not linear: x1=$winnow1, x$copies=$wN")
      wN
    }
    spark.catalog.clearCache()

    // incremental probe: the corpus grows xN while the daily batch stays
    // fixed (a 10% slice of copy 0, id-shifted, text identical -> every
    // batch doc is an exact corpus dup). Probe cost must track ONE corpus
    // scan (linear in copies) and the result stays batch-bounded.
    val batch = docs.filter(col("doc_id") % 10 === 3)
      .select((col("doc_id") + lit(900000000L)).as("doc_id"),
        perturb(0).as("text"))
    // the corpus-doubling comparison needs two DIFFERENT corpus sizes —
    // at copies <= 1 both probes would time the identical corpus under
    // identical labels, so skip the half-size leg
    if (copies >= 2) {
      time(s"incr-dedup corpus x${copies / 2}")(
        DedupOps.incrementalDedupOn(corpusOf(copies / 2), batch).count())
      spark.catalog.clearCache()
    }
    time(s"incr-dedup corpus x$copies")(
      DedupOps.incrementalDedupOn(docsN, batch).count())
    spark.catalog.clearCache()

    // index-backed minhash probe: the write-once band index removes the
    // per-batch corpus shingling — probe cost must drop well under the
    // self-contained form at the same corpus size
    val mhIdx = java.nio.file.Files.createTempDirectory("graft-stress-mh")
      .toString + "/mh"
    time(s"minhash-index build x$copies")(
      { DedupOps.writeMinHashIndex(docsN, mhIdx); "ok" })
    spark.catalog.clearCache()
    time(s"incr-minhash self-contained x$copies")(
      DedupOps.incrementalMinHashOn(docsN, batch).count())
    spark.catalog.clearCache()
    time(s"incr-minhash from-index x$copies")(
      DedupOps.incrementalMinHashFromIndex(spark, batch, mhIdx).count())
    spark.catalog.clearCache()

    // keyword-search serving: the probe reads ONLY the query terms'
    // buckets, so while the posting lists for those terms grow linearly
    // with copies, the probe never touches the rest of the index — the
    // comparison to watch is probe vs the full-scan BM25 at the SAME
    // corpus size (the full scan pays the whole corpus each query).
    // Text-identical copies (sameTextCorpus) keep per-doc scores constant.
    val sIdx = java.nio.file.Files.createTempDirectory("graft-stress-se")
      .toString + "/search"
    val terms = Seq("spark", "vector", "customer")
    val docsSame = sameTextCorpus(copies)
    time(s"search-index build x$copies")(
      { graft.sources.SearchIndex.write(docsSame, sIdx); "ok" })
    spark.catalog.clearCache()
    time(s"search full-scan x$copies")(
      TextOps.bm25Apply(docsSame, TextOps.bm25Fit(docsSame, terms)).count())
    spark.catalog.clearCache()
    time(s"search probe x$copies")(
      graft.sources.SearchIndex.search(spark, sIdx, terms, 25).count())
    graft.sources.Bucketed.dropRegistration(spark, sIdx)
    spark.catalog.clearCache()

    // bloom runtime-filter join: fixed selective build side, probe side
    // grows xN. The invariant is the CUT — rows surviving the map-side
    // bloom filter track the true matches (+fp slack), so the exchange
    // carries ~matches at every scale instead of the whole probe side.
    val probeN = docsN.select(col("doc_id"), pmod(col("doc_id"), lit(50000L)).as("key"))
    val buildSide = spark.range(500).select((col("id") * 100L).as("key"))
    time(s"bloom-join cut x$copies") {
      val cut = graft.operators.BloomJoin.filterSide(probeN, buildSide, "key").count()
      val matches = graft.operators.BloomJoin
        .bloomFilteredJoin(probeN, buildSide, "key").count()
      require(cut <= matches * 2 + 1000,
        s"bloom cut not tracking matches: cut=$cut matches=$matches")
      s"cut=$cut matches=$matches"
    }
    spark.catalog.clearCache()
    }

    // interval-join scale: a per-key interval side far too big to
    // broadcast (copies x 2000 intervals). The declarative between-join
    // without a broadcast hint degrades toward nested-loop work per key;
    // the sweep operator's cost is the two sorts + the linear merge.
    // Both forms must agree exactly (hard require), the curve is the point.
    if (!eventsOnly) {
      val nK = 200L
      val pts = spark.range(100000L * copies).select(
        (col("id") % nK).as("k"), ((col("id") * 37) % 1000000L).as("ts"),
        col("id").as("pid"))
      val ivs = spark.range(2000L * copies).select(
        (col("id") % nK).as("ik"), ((col("id") * 53) % 999000L).as("s"),
        (((col("id") * 53) % 999000L) + 500L).as("e"), col("id").as("iid"))
      var sweepN = 0L
      time(s"interval-sweep x$copies") {
        sweepN = graft.plans.IntervalJoins
          .pointInInterval(pts, ivs, "k", "ts", "ik", "s", "e").count()
        sweepN
      }
      time(s"interval-declarative x$copies") {
        val d = pts.join(ivs, col("k") === col("ik") &&
          col("ts").between(col("s"), col("e"))).count()
        require(d == sweepN, s"sweep != declarative: $sweepN vs $d")
        d
      }
      spark.catalog.clearCache()
    }

    // events x copies on distinct user spaces
    val ev = Tables.t(spark, dir, "events")
    val evN = (0 until copies).map { i =>
      ev.select(
        (col("event_id") + lit(i * 100000000L)).as("event_id"),
        (col("user_id") + lit(i * 100000L)).as("user_id"),
        col("ts"), col("event_type"), col("value"), col("props"))
    }.reduce(_ unionByName _)
    time(s"events x$copies count")(evN.count())
    time(s"cep x$copies")(EventOps.cepAttackOn(evN).count())
    // relaxed-literal CEP (r12 NFA fold): copies live in disjoint user
    // spaces, so each copy's per-key fold is isomorphic to copy 0's —
    // match count must be EXACTLY linear (hard require); wall time is the
    // fold's scaling curve (one exchange + the per-key native CepFold)
    locally {
      var flink1 = 0L
      time("cep-flink x1")({ flink1 = EventOps.cepAttackFlinkOn(ev).count(); flink1 })
      time(s"cep-flink x$copies") {
        val n = EventOps.cepAttackFlinkOn(evN).count()
        require(n == copies * flink1,
          s"relaxed-CEP matches not linear: x1=$flink1, x$copies=$n")
        n
      }
      spark.catalog.clearCache()
    }

    // three-stage chain (CepFoldChain, one middle): same disjoint-user-
    // space argument — match count exactly linear (hard require); wall is
    // the fold's curve (one exchange + per-key pending-set fold)
    locally {
      var c3 = 0L
      time("cep-3stage x1")({ c3 = EventOps.cep3StageOn(ev).count(); c3 })
      time(s"cep-3stage x$copies") {
        val n = EventOps.cep3StageOn(evN).count()
        require(n == copies * c3,
          s"3-stage matches not linear: x1=$c3, x$copies=$n")
        n
      }
      spark.catalog.clearCache()
    }

    // N-step funnel (r10 DSL) at xN: copies live in DISJOINT user spaces,
    // so each copy's funnel is isomorphic to copy 0's — every stage count
    // must be EXACTLY linear in copies and every conversion ratio
    // IDENTICAL (hard require, the winnow discipline). Each stage's
    // exchange carries only its own step's events; superlinearity here
    // means a stage started carrying the whole table.
    {
      val winUs = 86400000000L
      val funnel = graft.operators.Funnel(Seq(
        graft.operators.Funnel.Step("signup", col("event_type") === "signup"),
        graft.operators.Funnel.Step("view", col("event_type") === "view", winUs),
        graft.operators.Funnel.Step("click", col("event_type") === "click", winUs),
        graft.operators.Funnel.Step("purchase", col("event_type") === "purchase", winUs)))
      var r1: org.apache.spark.sql.Row = null
      time("funnel-4step x1") {
        r1 = funnel.counts(ev).first()
        s"n=${(0 until 4).map(r1.getLong).mkString("/")}"
      }
      spark.catalog.clearCache()
      time(s"funnel-4step x$copies") {
        val rN = funnel.counts(evN).first()
        (0 until 4).foreach { i =>
          require(rN.getLong(i) == copies * r1.getLong(i),
            s"funnel stage $i not linear: x1=${r1.getLong(i)}, x$copies=${rN.getLong(i)}")
        }
        (4 until rN.length).foreach { i =>
          require(rN.getDouble(i) == r1.getDouble(i),
            s"funnel conversion col $i drifted: x1=${r1.getDouble(i)}, x$copies=${rN.getDouble(i)}")
        }
        s"n=${(0 until 4).map(rN.getLong).mkString("/")}"
      }
      spark.catalog.clearCache()
    }
    // hot-key skew: half of ALL events redirected to one target — the
    // worst case for the per-key window/sort CEP (one partition carries
    // half the volume; the pass is linear, so the curve shows the
    // single-key ceiling rather than a blowup)
    val hot = evN.withColumn("user_id",
      when(pmod(col("event_id"), lit(2)) === 0, lit(77L)).otherwise(col("user_id")))
    time(s"cep hot-key(50%) x$copies")(EventOps.cepAttackOn(hot).count())
    // the relaxed fold's single-key ceiling: one key carries half the
    // volume, so its per-key array is ~50% of ALL events — the worst case
    // for the per-key sequential NFA (the curve shows the one-task
    // ceiling, the pass itself stays linear in the array)
    time(s"cep-flink hot-key(50%) x$copies")(EventOps.cepAttackFlinkOn(hot).count())
    // 3-stage pending-set fold at the same single-key ceiling
    time(s"cep-3stage hot-key(50%) x$copies")(EventOps.cep3StageOn(hot).count())
    // general chain fold (4 stages) at the same single-key ceiling
    time(s"cep-4stage hot-key(50%) x$copies")(EventOps.cep4StageOn(hot).count())

    // skew-salting stage (r13, hard-required): the salting decision is
    // FED FROM the ev_key_skew measurement, not guessed; the salted join
    // must agree with the plain join exactly AND provably bound the
    // per-reducer load; the windowed folds on the same 50%-hot corpus
    // must stay inside a blowup guard (their day/window resets are the
    // documented lever — a quadratic regression here is what the guard
    // catches, not scheduler noise).
    {
      val par = spark.sparkContext.defaultParallelism
      var top1 = 0.0
      time(s"key-skew measure hot x$copies") {
        top1 = EventOps.keySkewOn(hot).first().getAs[Double]("top1_share")
        f"top1_share=$top1%.3f"
      }
      val salt = graft.operators.SkewJoin.saltFor(top1, par)
      require(salt > 1,
        s"the planted 50% hot key must trigger salting (top1=$top1, par=$par)")
      // the EVEN corpus must NOT trigger it — the decision discriminates
      val top1Even = EventOps.keySkewOn(evN).first().getAs[Double]("top1_share")
      require(graft.operators.SkewJoin.saltFor(top1Even, par) == 1,
        s"even corpus must not salt (top1=$top1Even)")
      // join the hot facts against a per-user dim, both ways
      val dim = hot.select("user_id").distinct()
        .withColumn("seg", pmod(col("user_id"), lit(7)))
        .localCheckpoint(true)
      var plainN = 0L
      time(s"hot-join plain x$copies") {
        plainN = hot.join(dim, "user_id").count(); plainN
      }
      time(s"hot-join salted($salt) x$copies") {
        val n = graft.operators.SkewJoin
          .saltedJoin(hot, dim, "user_id", salt).count()
        require(n == plainN, s"salted join diverged: $n vs $plainN")
        n
      }
      // partition-size bound: the hot key's largest salted shard must be
      // ~an even split (uniform salt assignment), within 35% + slack
      val hotCnt = hot.filter(col("user_id") === 77L).count()
      val maxShard = hot.filter(col("user_id") === 77L)
        .withColumn("__s", floor(rand(42L) * salt).cast("int"))
        .groupBy("__s").count().agg(max("count")).first().getLong(0)
      require(maxShard <= (hotCnt / salt * 1.35).toLong + 64,
        s"salting must bound the hot key's shards: max $maxShard of $hotCnt over $salt salts")
      // windowed folds under the same skew: time both corpora, guard the
      // ratio generously (the hot run IS slower — one key's sort/window
      // holds half the volume; the guard catches a superlinear blowup)
      def wall(f: => Long): Double = {
        val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
      }
      val cusumEven = wall(EventOps.cusumDriftWindowedOn(evN).count())
      val cusumHot = wall(EventOps.cusumDriftWindowedOn(hot).count())
      println(f"[stress] cusum-windowed even=$cusumEven%.2f s hot=$cusumHot%.2f s")
      require(cusumHot <= math.max(20 * cusumEven, 60.0),
        f"windowed CUSUM blew up under skew: $cusumHot%.1f s vs even $cusumEven%.1f s")
      val rollEven = wall(EventOps.valueRolling1hOn(evN).count())
      val rollHot = wall(EventOps.valueRolling1hOn(hot).count())
      println(f"[stress] rolling-1h even=$rollEven%.2f s hot=$rollHot%.2f s")
      require(rollHot <= math.max(20 * rollEven, 60.0),
        f"rolling window blew up under skew: $rollHot%.1f s vs even $rollEven%.1f s")
      spark.catalog.clearCache()
    }

    // planted-skew TASK bound (r16): one key holds 10% of the corpus and
    // the claim under test is about REAL task inputs, not plan strings —
    // a shuffle join on the hot key must keep its max-task shuffle read
    // bounded. Two runs of the identical join, hard-required both ways:
    // with AQE skew-split OFF the probe must SEE the planted skew (the
    // hot partition concentrates >= ~8% of the join stage's shuffle read
    // in one task — if it doesn't, the measurement is vacuous); with
    // skew-split ON (house thresholds scaled to the stress corpus) the
    // same plan's max-task share must drop under half that concentration.
    // This is the runtime half of the salting stage above: saltedJoin is
    // the explicit lever, AQE skew-split is the automatic one, and both
    // must provably bound per-task load on a 10%-hot corpus.
    {
      import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
      // an incompressible per-row payload keeps shuffle BYTES proportional
      // to rows: without it, lz4 flattens the hot partition (100k rows
      // sharing one user_id compress away) and the skew is invisible to
      // the byte metric AQE itself splits on
      // AQE calls a partition skewed above skewedPartitionFactor x the
      // median partition; with one shuffle partition per core (2 at 2
      // cores) the median is the mean, which no partition can exceed twice,
      // so the split could never fire: this leg shuffles into many
      // partitions. It can cut the hot partition only between map outputs,
      // and the events of a few copies are a few map tasks, so the hot side
      // is spread over one map partition per core up front. Not one per
      // shuffle partition: at 32 cores that is 256 x 256 shuffle blocks,
      // whose fixed per-block bytes grew the stage (17.9 MB, not 14.6 MB at
      // sf0.1 x 2) until the hot task's share fell under the probe's floor.
      val cores = spark.sparkContext.defaultParallelism
      val parts = 8 * cores
      val hot10 = evN.withColumn("user_id",
        when(pmod(col("event_id"), lit(10)) === 0, lit(777L))
          .otherwise(col("user_id")))
        .withColumn("payload",
          sha2(concat_ws(":", col("event_id"), col("user_id"), col("ts")), 256))
        .repartition(cores)
        .localCheckpoint(true)
      // one row per user; broadcast disabled below so the join shuffles
      val dim10 = hot10.select("user_id").distinct()
        .withColumn("w", pmod(col("user_id"), lit(997)))
        .localCheckpoint(true)
      def maxTaskShare(label: String)(job: => Long): (Double, Long) = {
        val perStage =
          new java.util.concurrent.ConcurrentHashMap[Int, (Long, Long)]()
        val lst = new SparkListener {
          override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
            val m = t.taskMetrics
            if (m != null) {
              val r = m.shuffleReadMetrics.totalBytesRead
              if (r > 0) perStage.merge(t.stageId, (r, r),
                (a, b) => (math.max(a._1, b._1), a._2 + b._2))
            }
          }
        }
        spark.sparkContext.addSparkListener(lst)
        val n =
          try { val x = job; Thread.sleep(3000L); x }
          finally spark.sparkContext.removeSparkListener(lst)
        import scala.jdk.CollectionConverters._
        val stages = perStage.asScala.values.toSeq
        require(stages.nonEmpty, s"$label: no shuffle-reading stage observed")
        // the join stage dominates the job's shuffle volume — take it
        val (mx, sm) = stages.maxBy(_._2)
        val share = mx.toDouble / sm
        println(f"[stress] $label: rows=$n maxTask=${mx / 1e6}%.1f MB " +
          f"of ${sm / 1e6}%.1f MB total (share=$share%.3f)")
        (share, sm)
      }
      val keep = Seq(
        "spark.sql.autoBroadcastJoinThreshold",
        "spark.sql.adaptive.autoBroadcastJoinThreshold",
        "spark.sql.adaptive.skewJoin.enabled",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes",
        "spark.sql.adaptive.coalescePartitions.enabled",
        "spark.sql.shuffle.partitions")
        .map(k => k -> spark.conf.getOption(k)).toMap
      try {
        spark.conf.set("spark.sql.shuffle.partitions", parts.toString)
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
        // coalescing would merge the skew-split partitions right back
        spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
        // the aggregate CONSUMES the payload so column pruning cannot
        // strip it from the exchange (a bare count() ships only the join
        // key — repeated identical longs that compress to nothing)
        def hotJoin(): Long = hot10.join(dim10, "user_id")
          .agg(sum(pmod(xxhash64(col("payload"), col("w")), lit(1000000L))))
          .first().getLong(0)
        spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "false")
        val (shareOff, sumOff) = maxTaskShare(
          s"hot10-join skew-split OFF x$copies")(hotJoin())
        require(shareOff >= 0.08,
          f"probe must observe the planted 10%% hot key: share=$shareOff%.3f")
        spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
        // the production 256 MB/64 MB thresholds scaled to THIS corpus's
        // measured stage size (threshold half the mean partition, split
        // grain a quarter of it, both well under the hot partition) — the
        // RATIO assert is size-free, so the stage holds at any SF the
        // driver runs
        spark.conf.set(
          "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
          math.max(sumOff / (2L * parts), 64L * 1024L).toString)
        spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
        spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes",
          math.max(sumOff / (4L * parts), 32L * 1024L).toString)
        val (shareOn, _) = maxTaskShare(
          s"hot10-join skew-split ON x$copies")(hotJoin())
        require(shareOn <= shareOff / 2,
          f"AQE skew-split must bound the hot task: ON=$shareOn%.3f vs OFF=$shareOff%.3f")
      } finally keep.foreach { case (k, v) =>
        v.fold(spark.conf.unset(k))(spark.conf.set(k, _))
      }
      spark.catalog.clearCache()
    }

    // EWMA fold linearity (r12 cont.): copy i shifts the fixture month by
    // i*40 days, so the fold's (type, day) keys are disjoint across
    // copies with byte-identical per-key content — key count AND total
    // spike count must replicate EXACTLY xN (hard require); per-key
    // arrays stay bounded by one type-day at any horizon
    {
      val dayUs = 86400000000L
      def prepared(n: Int) = (0 until n).map { i =>
        ev.select(col("event_type"),
          ((expr(s"unix_micros(ts) div $dayUs") * dayUs)
            + lit(i * 40L * dayUs)).as("day_us"),
          (unix_micros(col("ts")) + lit(i * 40L * dayUs)).as("ts_us"),
          col("event_id").cast("long").as("id"),
          col("value").as("x"))
      }.reduce(_ unionByName _)
      var base: (Long, Long) = null
      time("ewma-fold x1") {
        val r = graft.operators.Ewma.ewmaOutliersOn(prepared(1))
          .agg(count(lit(1)), sum(col("n_spikes"))).first()
        base = (r.getLong(0), r.getLong(1))
        s"keys=${base._1} spikes=${base._2}"
      }
      spark.catalog.clearCache()
      time(s"ewma-fold x$copies") {
        val r = graft.operators.Ewma.ewmaOutliersOn(prepared(copies))
          .agg(count(lit(1)), sum(col("n_spikes"))).first()
        require(r.getLong(0) == copies * base._1 &&
          r.getLong(1) == copies * base._2,
          s"ewma not exactly linear: x1=$base, " +
            s"x$copies=(${r.getLong(0)}, ${r.getLong(1)})")
        s"keys=${r.getLong(0)} spikes=${r.getLong(1)}"
      }
      spark.catalog.clearCache()
    }

    // anomaly-fold linearity (r13 cont.): token bucket, Holt forecast and
    // Hampel under xN. Copy i lives in a disjoint key space (users
    // shifted for the bucket; event_type suffixed for the per-type
    // folds) with byte-identical per-key content (the bucket meters
    // elapsed time only, so the i*40-day shift preserves every dt), so
    // throttle/flag counts must replicate EXACTLY xN — hard requires.
    {
      val dayUs = 86400000000L
      def shifted(n: Int) = (0 until n).map { i =>
        ev.select(
          concat(col("event_type"), lit(s"#cp$i")).as("event_type"),
          (col("user_id") + lit(i * 100000L)).cast("long").as("user_id"),
          (col("event_id") + lit(i * 100000000L)).cast("long").as("id"),
          (unix_micros(col("ts")) + lit(i * 40L * dayUs)).as("ts_us"),
          col("value").as("x"))
      }.reduce(_ unionByName _)
      def daily(n: Int) = shifted(n)
        .groupBy(col("event_type"),
          ((col("ts_us") - pmod(col("ts_us"), lit(dayUs)))).as("day_us"))
        .agg(count(lit(1)).cast("double").as("x"))
      var tb1 = 0L; var holt1: (Long, Long) = null; var ham1 = 0L
      time("token-bucket x1") {
        tb1 = graft.operators.RateLimit.tokenBucketOn(
          shifted(1).select("user_id", "id", "ts_us")).count()
        s"throttled=$tb1"
      }
      time(s"token-bucket x$copies") {
        val n = graft.operators.RateLimit.tokenBucketOn(
          shifted(copies).select("user_id", "id", "ts_us")).count()
        require(n == copies * tb1,
          s"token bucket not exactly linear: x1=$tb1, x$copies=$n")
        s"throttled=$n"
      }
      time("holt-fold x1") {
        val r = graft.operators.Forecast.holtForecastOn(daily(1))
          .agg(count(lit(1)), sum(when(col("is_out"), 1L).otherwise(0L)))
          .first()
        holt1 = (r.getLong(0), r.getLong(1)); s"days=${holt1._1} flags=${holt1._2}"
      }
      time(s"holt-fold x$copies") {
        val r = graft.operators.Forecast.holtForecastOn(daily(copies))
          .agg(count(lit(1)), sum(when(col("is_out"), 1L).otherwise(0L)))
          .first()
        require(r.getLong(0) == copies * holt1._1 &&
          r.getLong(1) == copies * holt1._2,
          s"holt not exactly linear: x1=$holt1, " +
            s"x$copies=(${r.getLong(0)}, ${r.getLong(1)})")
        s"days=${r.getLong(0)} flags=${r.getLong(1)}"
      }
      time("hampel x1") {
        ham1 = graft.operators.Forecast.hampelOutliersOn(shifted(1)
          .select("event_type", "id", "ts_us", "x")).count()
        s"flagged=$ham1"
      }
      time(s"hampel x$copies") {
        val n = graft.operators.Forecast.hampelOutliersOn(shifted(copies)
          .select("event_type", "id", "ts_us", "x")).count()
        require(n == copies * ham1,
          s"hampel not exactly linear: x1=$ham1, x$copies=$n")
        s"flagged=$n"
      }
      spark.catalog.clearCache()
    }

    // durable sketch store at a xN-day horizon (r12, verdict #4): copy i
    // shifts the fixture month by i*40 days, so the store holds ~31*N day
    // partitions. Hard requirements (the winnow discipline):
    //   1. a 7-day span serve reads EXACTLY the span's register files —
    //      O(span-days) scan regardless of store size (numFiles == the
    //      on-disk part-file count of those 7 partitions, never O(store));
    //   2. re-ingesting a day (appendDay of identical events) leaves the
    //      serve bit-identical — ingest retries are safe;
    //   3. appendDay of a NEW day extends the servable range (serve ==
    //      direct batch sketch of the span) without touching old spans.
    {
      import graft.sources.SketchStore
      import graft.operators.PortableHll
      val dayUs = 86400000000L
      val base = ev.select(
        (expr(s"unix_micros(ts) div $dayUs") * dayUs).as("day_us"),
        col("user_id"), col("value"), col("event_id"))
      val storeEv = (0 until copies).map { i =>
        base.select((col("day_us") + lit(i * 40L * dayUs)).as("day_us"),
          (col("user_id") + lit(i * 100000L)).as("user_id"), col("value"),
          (col("event_id") + lit(i * 100000000L)).as("event_id"))
      }.reduce(_ unionByName _)
      val root = java.nio.file.Files.createTempDirectory("graft-sks").toString
      val hll = s"$root/hll"
      val hist = s"$root/hist"
      var nDays = 0L
      time(s"sketch-store write x$copies (~${31 * copies} day partitions)") {
        SketchStore.writeDaily(storeEv.select("day_us", "user_id"), hll)
        SketchStore.writeDailyHist(storeEv.select("day_us", "value"), hist)
        nDays = spark.read.parquet(hll).select("day_us").distinct().count()
        s"days=$nDays"
      }
      val d0 = base.agg(min("day_us")).first().getLong(0)
      val span = (d0, d0 + 6 * dayUs)
      // on-disk part files of exactly the span's partitions
      def partFiles(path: String, from: Long, to: Long): Long = {
        val fs = new org.apache.hadoop.fs.Path(path)
          .getFileSystem(spark.sessionState.newHadoopConf())
        fs.listStatus(new org.apache.hadoop.fs.Path(path))
          .filter(_.isDirectory)
          .filter { d =>
            val v = d.getPath.getName.stripPrefix("day_us=").toLong
            v >= from && v <= to
          }
          .map(d => fs.listStatus(d.getPath)
            .count(f => f.getPath.getName.endsWith(".parquet")).toLong)
          .sum
      }
      def scannedFiles(df: org.apache.spark.sql.DataFrame): Long = {
        // collect() executes THIS QueryExecution, so its scan metrics
        // populate (a separate write would execute a different plan);
        // the span's registers are <= 7 x 1024 rows — driver-safe
        df.collect()
        df.queryExecution.executedPlan
          .collectFirst { case s: org.apache.spark.sql.execution.FileSourceScanExec => s }
          .map(_.metrics("numFiles").value)
          .getOrElse(sys.error("sketch-store: no file scan in range plan"))
      }
      time(s"sketch-store 7-day serve from ${31 * copies}-day store") {
        val expect = partFiles(hll, span._1, span._2)
        val got = scannedFiles(SketchStore.rangeRegisters(spark, hll, span._1, span._2))
        require(got == expect,
          s"span scan read $got files, the span's partitions hold $expect — pruning is O(store), not O(span)")
        val est = SketchStore.serveDistinct(spark, hll, span._1, span._2)
          .first().getDouble(2)
        val q = SketchStore.serveQuantiles(spark, hist, span._1, span._2).first()
        f"files=$got est=$est%.1f n=${q.getLong(2)}"
      }
      spark.catalog.clearCache()
      time("sketch-store re-ingest idempotence + new-day churn") {
        val probe = (d0 + 2 * dayUs, d0 + 2 * dayUs) // one mid-span day
        def serveBoth() = (
          SketchStore.serveDistinct(spark, hll, probe._1, probe._2).first().getDouble(2),
          SketchStore.serveQuantiles(spark, hist, probe._1, probe._2).first().toSeq)
        val before = serveBoth()
        val dayEv = base.filter(col("day_us") === probe._1)
        SketchStore.appendDay(dayEv.select("day_us", "user_id"), hll)
        SketchStore.appendDayHist(dayEv.select("day_us", "value"), hist)
        val after = serveBoth()
        require(before == after,
          s"re-ingesting a day changed its serve: $before -> $after")
        // new day one past the store's horizon: copy-0 events re-keyed
        val newDay = d0 + (40L * copies + 5) * dayUs
        val fresh = base.filter(col("day_us") === d0)
          .select(lit(newDay).as("day_us"),
            (col("user_id") + lit(copies * 100000L)).as("user_id"), col("value"))
          .localCheckpoint(true)
        SketchStore.appendDay(fresh.select("day_us", "user_id"), hll)
        SketchStore.appendDayHist(fresh.select("day_us", "value"), hist)
        val served = SketchStore.serveDistinct(spark, hll, newDay, newDay)
          .first().getDouble(2)
        val direct = PortableHll.groupedEstimate(
          fresh.select(lit(1).as("one"), col("user_id")), Seq("one"), col("user_id"))
          .first().getDouble(1)
        require(served == direct,
          s"new-day serve $served != direct batch sketch $direct")
        val unchanged = serveBoth()
        require(unchanged == after,
          s"appending a new day disturbed an old span: $after -> $unchanged")
        s"day_serve==direct ($served)"
      }
      // membership/frequency twins ride the same horizon (r12): a span
      // serve must equal the direct span sketch (bit_or / SUM merge loses
      // nothing at any store size), and re-ingesting a day is idempotent
      time(s"sketch-store bloom+cm span serve == direct at x$copies horizon") {
        import graft.operators.{PortableBloom, PortableCms}
        val bloom = s"$root/bloom"
        val cms = s"$root/cms"
        SketchStore.writeDailyBloom(storeEv.select("day_us", "user_id"), bloom)
        SketchStore.writeDailyCms(storeEv.select("day_us", "user_id"), cms)
        val cand = base.select("user_id").distinct().limit(500)
          .localCheckpoint(true)
        val spanEv = storeEv
          .filter(col("day_us") >= span._1 && col("day_us") <= span._2)
          .localCheckpoint(true)
        def servedM() = SketchStore
          .serveMembers(spark, bloom, span._1, span._2, cand, "user_id")
          .orderBy("user_id").collect().toSeq
        def servedF() = SketchStore
          .serveFrequency(spark, cms, span._1, span._2, cand, "user_id")
          .orderBy("user_id").collect().toSeq
        val (m0, f0) = (servedM(), servedF())
        val directM = PortableBloom.probe(cand, "user_id",
          PortableBloom.words(spanEv, Seq.empty, col("user_id")))
          .orderBy("user_id").collect().toSeq
        require(m0 == directM, "bloom span serve != direct span filter")
        val directF = PortableCms.estimate(cand, "user_id",
          PortableCms.counters(spanEv, Seq.empty, col("user_id")))
          .orderBy("user_id").collect().toSeq
        require(f0 == directF, "cm span serve != direct span sketch")
        val dayEv = storeEv.filter(col("day_us") === span._1)
        SketchStore.appendDayBloom(dayEv.select("day_us", "user_id"), bloom)
        SketchStore.appendDayCms(dayEv.select("day_us", "user_id"), cms)
        require(servedM() == m0, "bloom re-ingest changed its serve")
        require(servedF() == f0, "cm re-ingest changed its serve")
        s"cands=500 hits=${m0.count(_.getInt(1) == 1)}"
      }
      // KLL quantile store at the same xN horizon (r13): per-day survivor
      // tables (<= 1024 rows/day regardless of day size); a 7-day serve
      // must read O(span) files and be BIT-identical to the direct merge
      // of exactly those days' sketches; re-ingesting a day is idempotent
      time(s"sketch-store kll 7-day serve == direct merge at x$copies horizon") {
        import graft.operators.PortableKll
        val kll = s"$root/kll"
        val kev = storeEv.select(col("day_us"), col("value"),
          col("event_id").as("tie"))
        SketchStore.writeDailyKll(kev, kll)
        val expect = partFiles(kll, span._1, span._2)
        val got = scannedFiles(spark.read.parquet(kll)
          .filter(col("day_us") >= span._1 && col("day_us") <= span._2))
        require(got == expect,
          s"kll span scan read $got files, the span's partitions hold $expect")
        def serveRow() = SketchStore
          .serveKllQuantiles(spark, kll, span._1, span._2)
          .select("n", "w", "p50", "p95", "p99").first()
        val served = serveRow()
        val spanEv = kev.filter(col("day_us") >= span._1 && col("day_us") <= span._2)
        val surv = PortableKll.sketch(spanEv, Seq("day_us"), col("value"), col("tie"))
        val direct = PortableKll.walkQuantiles(
            PortableKll.collapse(surv, Seq("day_us", "rn")),
            Seq.empty, Seq("day_us", "rn"))
          .crossJoin(broadcast(surv.groupBy("day_us").agg(max(col("n")).as("n"))
            .agg(sum(col("n")).as("n"))))
          .select("n", "w", "p50", "p95", "p99").first()
        require(served == direct, s"kll serve $served != direct merge $direct")
        SketchStore.appendDayKll(kev.filter(col("day_us") === span._1), kll)
        require(serveRow() == served, "kll re-ingest changed the serve")
        s"files=$got n=${served.getLong(0)} w=${served.getLong(1)} p95=${served.getDouble(3)}"
      }
      import scala.reflect.io.Directory
      new Directory(new java.io.File(root)).deleteRecursively()
      spark.catalog.clearCache()
    }

    // adversarial common-prefix corpus: every doc = 25 shared words + a
    // 2-word unique tail, so every shingle in the shared block has df = n.
    // Without the df-cap the prefix index joins n docs on those hot
    // shingles (O(n^2) candidates); with the cap they are stop-shingled
    // and candidates collapse to ~0. Run capped at full n, uncapped only
    // at n/10 (the uncapped quadratic at full n would swamp the box).
    if (!eventsOnly) {
      val common = (1 to 25).map(w => s"w$w").mkString(" ")
      def adv(n: Long) = spark.range(n).select(col("id").as("doc_id"),
        concat_ws(" ", lit(common), concat(lit("u"), col("id"), lit("a")),
          concat(lit("u"), col("id"), lit("b"))).as("text"))
      val nAdv = 20000L * copies / 10
      time(s"jaccard-adv capped n=$nAdv cands")(
        DedupOps.jaccardCandidates(adv(nAdv), DedupOps.DfCap).count())
      time(s"jaccard-adv uncapped n=${nAdv / 10} cands")(
        DedupOps.jaccardCandidates(adv(nAdv / 10), Long.MaxValue).count())
      spark.catalog.clearCache()
    }

    // embeddings x copies: brute-force knn corpus scaling
    if (!eventsOnly) {
      val emb = Tables.t(spark, dir, "embeddings")
      val embN = (0 until copies).map { i =>
        emb.select((col("vec_id") + lit(i * 10000000L)).as("vec_id"),
          col("embedding"), col("label"))
      }.reduce(_ unionByName _)
      time(s"embeddings x$copies count")(embN.count())

      // k-center / k-means under EXACT duplication: cloning changes no
      // distance in the corpus, so greedy k-center must select the SAME
      // vec_ids (clone ties break to copy 0's lower ids) with a
      // bit-identical objective sequence, and Lloyd must keep
      // bit-identical centroids with per-cluster counts EXACTLY x copies
      // (sums and counts both scale by `copies`; the scaled division
      // rounds to the same double because both operands stay < 2^53).
      // Hard requires — a super-linear candidate path or an
      // order-dependent fold would break them loudly.
      val kc1 = SimilarityOps.kcenterOn(emb, 8).collect()
      time(s"kcenter x$copies") {
        val kcN = SimilarityOps.kcenterOn(embN, 8).collect()
        require(kcN.toSeq == kc1.toSeq,
          s"k-center must be duplication-invariant:\n x1: ${kc1.mkString(";")}\n xN: ${kcN.mkString(";")}")
        kcN.length
      }
      spark.catalog.clearCache()
      val km1 = SimilarityOps.kmeansOn(emb, 8, 3).collect()
      time(s"kmeans x$copies") {
        val kmN = SimilarityOps.kmeansOn(embN, 8, 3).collect()
        require(kmN.length == km1.length, s"${kmN.length} vs ${km1.length}")
        km1.zip(kmN).foreach { case (a, b) =>
          require(b.getInt(0) == a.getInt(0))
          require(b.getLong(1) == a.getLong(1) * copies,
            s"cluster ${a.getInt(0)}: ${b.getLong(1)} != ${a.getLong(1)} x $copies")
          (2 to 5).foreach(i => require(b.getDouble(i) == a.getDouble(i),
            s"cluster ${a.getInt(0)} centroid dim ${i - 2} drifted"))
        }
        kmN.length
      }
      spark.catalog.clearCache()

      val q = embN.filter(col("vec_id") < 10)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
      val scored = embN.crossJoin(broadcast(q))
        .filter(col("vec_id") =!= col("q_id"))
        .withColumn("sim", graft.functions.GraftFunctions.graftCosine(col("q_emb"), col("embedding")))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("q_id").orderBy(col("sim").desc, col("vec_id").asc)
      time(s"knn-brute x$copies")(
        scored.withColumn("rnk", row_number().over(w)).filter(col("rnk") <= 10).count())
      spark.catalog.clearCache()

      // codebook FIT cost alone: bounded-sample training must hold it
      // ~flat as the corpus grows. The prod cap (100k) is far above this
      // box's corpus, so pin the cap at the x1 corpus size — then the xN
      // leg trains on the SAME sample volume and a growing curve here
      // means the cap is not biting
      val prevCap = spark.conf.getOption("spark.graft.train.sampleCap")
      spark.conf.set("spark.graft.train.sampleCap", emb.count().toString)
      time(s"pq-train x1")(SimilarityOps.pqTrain(emb))
      spark.catalog.clearCache()
      time(s"pq-train x$copies")(SimilarityOps.pqTrain(embN))
      spark.catalog.clearCache()
      prevCap match {
        case Some(v) => spark.conf.set("spark.graft.train.sampleCap", v)
        case None => spark.conf.unset("spark.graft.train.sampleCap")
      }

      // PQ ANN: train+encode+ADC-scan+re-rank over the replicated corpus.
      // Encode is a map pass and the ADC scan is linear in rows, so the
      // curve must stay ~linear in copies (training cost is fixed: m
      // seeded KMeans on a corpus sample-scale input).
      time(s"knn-pq x1")(SimilarityOps.knnPqOn(emb).count())
      spark.catalog.clearCache()
      time(s"knn-pq x$copies")(SimilarityOps.knnPqOn(embN).count())
      spark.catalog.clearCache()
      time(s"knn-ivfpq x$copies")(SimilarityOps.knnIvfPqOn(embN).count())
      spark.catalog.clearCache()

      // cosine-dups candidate curve: copies get distinct labels and a
      // copy-specific SIGN-FLIP perturbation (s_j in {±1}): within-copy
      // dot products are unchanged ((s⊙a)·(s⊙b) = a·b) while cross-copy
      // sims decorrelate, so near-dup structure scales linearly and the
      // cell-blocked candidate count must track it ~linearly (cells scale
      // with corpus: k grows with copies).
      val embC = (0 until copies).map { i =>
        val flip = expr(
          s"transform(embedding, (x, j) -> CASE WHEN pmod(xxhash64(concat('cp$i', '_', j)), 2) = 0 THEN x ELSE -x END)")
        emb.select((col("vec_id") + lit(i * 10000000L)).as("vec_id"),
          flip.as("embedding"), (col("label") + lit(i * 100)).as("label"))
      }.reduce(_ unionByName _)
      // binary Hamming top-k: one signature map pass + a rank cut — the
      // whole cost is the corpus scan, so the x1 -> xN curve must stay
      // ~linear (fixed 10-query broadcast; output pinned at 100 rows)
      time("hamming-topk x1")(SimilarityOps.hammingTopkOn(emb).count())
      spark.catalog.clearCache()
      time(s"hamming-topk x$copies") {
        val n = SimilarityOps.hammingTopkOn(embC).count()
        require(n == 100L, s"top-10 x 10 queries must stay 100 rows, got $n")
        n
      }
      spark.catalog.clearCache()

      time(s"cosine-dups x1 cands")(
        SimilarityOps.cosineCandidates(emb, 0.4, 16).count())
      time(s"cosine-dups x$copies cands")(
        SimilarityOps.cosineCandidates(embC, 0.4, 16 * copies).count())
      time(s"cosine-dups x$copies pairs")(
        SimilarityOps.cosineDupsBlocked(embC, 0.4, 16 * copies).count())
      spark.catalog.clearCache()

      // AUTO cell sizing must track the hand-scaled curve above: a real
      // user won't pass k = 16 x copies, the default derives it from the
      // corpus count (x1 -> 16, x10 -> 157 at the 128-rows/cell target)
      println(s"[stress] auto-k: x1 -> ${SimilarityOps.autoCells(emb)}, " +
        s"x$copies -> ${SimilarityOps.autoCells(embC)} (manual: 16, ${16 * copies})")
      time(s"cosine-dups x$copies cands auto-k")(
        SimilarityOps.cosineCandidates(embC, 0.4,
          SimilarityOps.autoCells(embC)).count())
      spark.catalog.clearCache()

      // incremental cosine: FIXED batch (copy 0's first 50 vectors) vs a
      // corpus that grows by sign-flip copies. Each copy carries a flip
      // twin of every batch vector (vectors with concentrated mass keep
      // |sim| >= t under many flip patterns), so TRUE matches grow
      // linearly with copies — the invariants to watch are result count
      // ~linear (262 -> 505 at x5 -> x10) and probe TIME ~flat (one
      // corpus pass; the batch side is the broadcast)
      val batchE = embC.filter(col("vec_id") < 50)
      if (copies >= 2) {
        val embHalf = embC.filter(col("vec_id") < (copies / 2) * 10000000L)
        time(s"incr-cosine corpus x${copies / 2}")(
          SimilarityOps.incrementalCosineOn(
            embHalf.filter(col("vec_id") >= 50), batchE,
            k = 16 * (copies / 2)).count())
        spark.catalog.clearCache()
      }
      // cells scale with the corpus (as for cosine-dups) so per-cell radii
      // stay tight and the admissible-cell count tracks cluster structure
      time(s"incr-cosine corpus x$copies")(
        SimilarityOps.incrementalCosineOn(
          embC.filter(col("vec_id") >= 50), batchE, k = 16 * copies).count())
      spark.catalog.clearCache()

      // threshold-bounded kNN JOIN (label-free cell blocking): output is
      // CAPPED at topK x n rows, so it stays linear in the corpus even
      // when the sign-flip twins push most vectors past topK qualifying
      // neighbors (the x10 run saturates the cap: ~99k of the 100k max);
      // time tracks candidate volume, which follows cluster structure
      time(s"knn-join x1")(
        SimilarityOps.knnJoinOn(emb, cells = 16).count())
      spark.catalog.clearCache()
      time(s"knn-join x$copies")(
        SimilarityOps.knnJoinOn(embC, cells = 16 * copies).count())
      spark.catalog.clearCache()

      // index-backed cosine probe: the stored cell index removes the
      // per-batch KMeans fit AND the corpus assignment pass — the serve
      // cost is one partitioned-corpus pass against broadcast probes
      val cosIdx = java.nio.file.Files.createTempDirectory("graft-stress-cos")
        .toString + "/cos"
      time(s"cosine-index build x$copies")(
        { SimilarityOps.writeCosineCellIndex(
            embC.filter(col("vec_id") >= 50), cosIdx, k = 16 * copies); "ok" })
      spark.catalog.clearCache()
      time(s"incr-cosine from-index x$copies")(
        SimilarityOps.incrementalCosineFromIndex(spark, batchE, cosIdx).count())
    }

    // q21's three-pass lineitem chain (r10 unblock) at xN: orders and
    // lineitem replicate with offset orderkeys over the FIXED supplier
    // set, so every copy is an isomorphic order space and each supplier's
    // numwait must be EXACTLY linear in copies (hard require). The chain
    // is window + semi + anti all keyed on l_orderkey — superlinearity
    // would mean one of the passes degraded off the order-key shuffle.
    if (!eventsOnly) {
      import graft.operators.AnalyticsNested
      val li = Tables.t(spark, dir, "lineitem")
        .select("l_orderkey", "l_suppkey", "l_shipdate")
      val ord = Tables.t(spark, dir, "orders")
        .select("o_orderkey", "o_orderstatus")
      val supp = Tables.t(spark, dir, "supplier")
      val nat = Tables.t(spark, dir, "nation")
      def liOf(n: Int) = (0 until n).map { i =>
        li.select((col("l_orderkey") + lit(i * 100000000L)).as("l_orderkey"),
          col("l_suppkey"), col("l_shipdate"))
      }.reduce(_ unionByName _)
      def ordOf(n: Int) = (0 until n).map { i =>
        ord.select((col("o_orderkey") + lit(i * 100000000L)).as("o_orderkey"),
          col("o_orderstatus"))
      }.reduce(_ unionByName _)
      var wait1 = Map.empty[String, Long]
      time("q21-chain x1") {
        wait1 = AnalyticsNested.q21On(liOf(1), ordOf(1), supp, nat)
          .collect().map(r => (r.getString(0), r.getLong(1))).toMap
        s"suppliers=${wait1.size} numwait=${wait1.values.sum}"
      }
      spark.catalog.clearCache()
      time(s"q21-chain x$copies") {
        val waitN = AnalyticsNested.q21On(liOf(copies), ordOf(copies), supp, nat)
          .collect().map(r => (r.getString(0), r.getLong(1))).toMap
        require(waitN == wait1.map { case (k, v) => (k, v * copies) },
          s"q21 numwait not a $copies-fold replica of x1")
        s"suppliers=${waitN.size} numwait=${waitN.values.sum}"
      }
      spark.catalog.clearCache()
    }

    // targeted purge: the same drop-list against an id-CLUSTERED layout
    // and a shuffled control (both manifested). Clustered must rewrite a
    // small candidate set; shuffled degrades to a full rewrite — the
    // measured gap is what clustering buys corpus maintenance, and it
    // widens with table size because the candidate set tracks the
    // DROP-LIST footprint while the control tracks the TABLE
    if (!eventsOnly) {
      import graft.sources.{Deletes, Layout}
      val orders = Tables.t(spark, dir, "orders")
      val ordersN = (0 until copies).map { i =>
        orders.select((col("o_orderkey") + lit(i * 100000000L)).as("o_orderkey"),
          col("o_custkey"), col("o_orderstatus"), col("o_totalprice"),
          col("o_orderdate"), col("o_orderpriority"))
      }.reduce(_ unionByName _)
      val delBase = java.nio.file.Files.createTempDirectory("graft-stress-del").toString
      val clustered = s"$delBase/clustered"
      val shuffled = s"$delBase/shuffled"
      time(s"purge-prep x$copies (write 2 layouts)") {
        Layout.zorderWrite(ordersN, clustered, Seq("o_orderkey"), numFiles = 64)
        Layout.writeManifest(spark, clustered, Seq("o_orderkey"))
        ordersN.repartition(64).write.mode("overwrite").parquet(shuffled)
        Layout.writeManifest(spark, shuffled, Seq("o_orderkey"))
        "ok"
      }
      // drop-list: 200 ids from one narrow key range (a takedown batch)
      val dropIds = ordersN.filter(col("o_orderkey").between(1L, 4000L))
        .select(col("o_orderkey")).limit(200).localCheckpoint(true)
      time(s"readClean overhead x$copies (pending deletes)") {
        Deletes.delete(dropIds, clustered, "o_orderkey")
        Deletes.delete(dropIds, shuffled, "o_orderkey")
        val t0 = System.nanoTime()
        val plain = spark.read.parquet(clustered).count()
        val tPlain = (System.nanoTime() - t0) / 1e9
        val t1 = System.nanoTime()
        val clean = Deletes.readClean(spark, clustered).count()
        val tClean = (System.nanoTime() - t1) / 1e9
        f"plain $plain in $tPlain%.2f s, clean $clean in $tClean%.2f s"
      }
      time(s"purge clustered x$copies")(Deletes.purge(spark, clustered).get)
      time(s"purge shuffled-control x$copies")(Deletes.purge(spark, shuffled).get)
      assert(spark.read.parquet(clustered).count() ==
        spark.read.parquet(shuffled).count(), "purge results must agree")
    }

    // SCD2 at the xN horizon (r13 cont.): copy i lives in a disjoint user
    // space with byte-identical per-key content, so run and open-run
    // counts replicate EXACTLY xN (hard require); and the incremental
    // apply of the tail 40% of events onto the head 60%'s stored table
    // must equal the xN full rebuild — checked by count + order-free
    // row-hash sum, the maintenance invariant at scale.
    {
      import graft.operators.Scd2
      def chlog(n: Int) = (0 until n).map { i =>
        ev.select(
          (col("user_id") + lit(i * 100000L)).cast("long").as("user_id"),
          col("event_type").as("state"),
          unix_micros(col("ts")).as("ts_us"),
          (col("event_id") + lit(i * 100000000L)).cast("long").as("event_id"))
      }.reduce(_ unionByName _)
      var runs1 = (0L, 0L)
      time("scd2 x1") {
        val r = Scd2.scd2On(chlog(1))
          .agg(count(lit(1)), sum(when(col("is_current"), 1L).otherwise(0L)))
          .first()
        runs1 = (r.getLong(0), r.getLong(1))
        s"runs=${runs1._1} open=${runs1._2}"
      }
      spark.catalog.clearCache()
      var full: (Long, java.math.BigDecimal) = null
      // order-free exact checksum: decimal sum of row hashes (a plain
      // long sum overflows under ANSI at xN scale)
      def sig(df: org.apache.spark.sql.DataFrame) = {
        val r = df.agg(count(lit(1)),
          sum(xxhash64(col("user_id"), col("state"), col("valid_from_us"),
            coalesce(col("valid_to_us"), lit(-1L)), col("n_events"),
            col("is_current")).cast("decimal(38,0)"))).first()
        (r.getLong(0), r.getDecimal(1))
      }
      time(s"scd2 x$copies") {
        val f = Scd2.scd2On(chlog(copies))
        val r = f.agg(count(lit(1)),
          sum(when(col("is_current"), 1L).otherwise(0L))).first()
        require(r.getLong(0) == copies * runs1._1 &&
          r.getLong(1) == copies * runs1._2,
          s"scd2 not exactly linear: x1=$runs1, " +
            s"x$copies=(${r.getLong(0)}, ${r.getLong(1)})")
        full = sig(f)
        s"runs=${r.getLong(0)} open=${r.getLong(1)}"
      }
      spark.catalog.clearCache()
      time(s"scd2 apply==rebuild x$copies") {
        val all = chlog(copies)
        val cut = all.stat.approxQuantile("ts_us", Array(0.6), 0.001)(0).toLong
        val base = Scd2.scd2On(all.filter(col("ts_us") <= cut))
          .localCheckpoint(true)
        val incr = sig(Scd2.scd2ApplyOn(base, all.filter(col("ts_us") > cut)))
        require(incr == full,
          s"apply diverged from rebuild at x$copies: $incr vs $full")
        s"rows=${incr._1}"
      }
      spark.catalog.clearCache()
    }

    // materialized-view refresh at the xN horizon (r13 cont.): a table of
    // N order copies in many files, then a SMALL churn (one rewritten
    // file's worth). Hard requirements: (a) refresh == rebuild by
    // order-free checksum; (b) the feed's shared-file prune isolates
    // exactly the churned file (63 of 64 pruned) — the SCAN-FOOTPRINT
    // ratio is the scale signal. Wall-times print for reference only: at
    // toy scale the refresh's fixed costs (feed join, unique checks, view
    // swap) dominate and the tiny rebuild wins; the claim that matters at
    // 100 TB is bytes-read ∝ churn, which (b) pins exactly.
    if (!eventsOnly) {
      import graft.sources.{Materialized, Snapshots}
      import graft.sources.Materialized.AggView
      val orders = Tables.t(spark, dir, "orders")
      val ordersN = (0 until copies).map { i =>
        orders.select(
          (col("o_orderkey") + lit(i * 100000000L)).as("id"),
          col("o_orderpriority").as("grp"),
          (col("o_totalprice") * 100).cast("long").as("cents"))
      }.reduce(_ unionByName _)
      val base = java.nio.file.Files.createTempDirectory("graft-mvs").toString
      val table = s"$base/t"
      val mv = s"$base/mv"
      val view = AggView(Seq("grp"), Seq("cents"))
      var v1 = 0L
      time(s"mv build x$copies (64 files)") {
        ordersN.repartition(64).write.parquet(table)
        v1 = Snapshots.commit(spark, table)
        Materialized.create(spark, table, mv, view)
        s"groups=${Materialized.read(spark, mv).count()}"
      }
      // churn: rewrite ONE file's rows (drop half, bump the rest)
      val f = new org.apache.hadoop.fs.Path(table)
        .getFileSystem(spark.sessionState.newHadoopConf())
      val files = f.listStatus(new org.apache.hadoop.fs.Path(table))
        .map(_.getPath).filter(_.getName.endsWith(".parquet"))
      val churn = files.head
      var v2 = 0L
      time("mv churn commit (1 of 64 files rewritten)") {
        val rows = spark.read.parquet(churn.toString)
        rows.filter(col("id") % 2 === 0)
          .withColumn("cents", col("cents") + 1L)
          .coalesce(1).write.mode("append").parquet(table)
        val retired = new org.apache.hadoop.fs.Path(s"$table/_graft_retired")
        f.mkdirs(retired)
        require(f.rename(churn,
          new org.apache.hadoop.fs.Path(retired, churn.getName)))
        v2 = Snapshots.commit(spark, table)
        val (o1, o2, shared) = Snapshots.diffEntries(spark, table, v1, v2)
        require(shared.size == 63 && o1.size == 1 && o2.size == 1,
          s"prune must isolate the churned file: shared=${shared.size}, " +
            s"v1-only=${o1.size}, v2-only=${o2.size}")
        "ok"
      }
      def sig(df: org.apache.spark.sql.DataFrame): (Long, Any) = {
        val r = df.agg(count(lit(1)), sum(xxhash64(col("grp"), col("mv_n"),
          col("mv_sum_cents")).cast("decimal(38,0)"))).first()
        (r.getLong(0), r.getDecimal(1))
      }
      var tRefresh = 0.0; var tRebuild = 0.0
      time(s"mv incremental refresh x$copies") {
        val t0 = System.nanoTime()
        Materialized.refresh(spark, table, mv, Seq("id"), view)
        tRefresh = (System.nanoTime() - t0) / 1e9
        f"refresh=$tRefresh%.2f s"
      }
      time(s"mv full rebuild x$copies (control)") {
        val t0 = System.nanoTime()
        val rebuilt = Snapshots.readVersion(spark, table, v2)
          .groupBy("grp").agg(count(lit(1)).as("mv_n"),
            sum("cents").as("mv_sum_cents"))
        val want = sig(rebuilt)
        tRebuild = (System.nanoTime() - t0) / 1e9
        val got = sig(Materialized.read(spark, mv))
        require(got == want,
          s"incremental refresh diverged from rebuild: $got vs $want")
        f"rebuild=$tRebuild%.2f s (refresh was $tRefresh%.2f s)"
      }
      import scala.reflect.io.Directory
      new Directory(new java.io.File(base)).deleteRecursively()
      spark.catalog.clearCache()
    }

    spark.stop()
  }
}
