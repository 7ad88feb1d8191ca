package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Streaming ingest dedup: the continuous form of
  * `DedupOps.incrementalDedupOn`. A document stream is checked against a
  * STATIC corpus fingerprint index and against itself, emitting only docs
  * the corpus has never seen — the shape a continuous training-data ingest
  * runs 24/7.
  *
  * Plan shape (the part that must survive 100 TB):
  *  - the corpus index joins as a stream-static join — Spark re-plans the
  *    static side per micro-batch but never shuffles the STREAM by anything
  *    other than the join key, and a broadcast hint on the index keeps the
  *    micro-batch shuffle-free when the index fits (at full scale the
  *    index is itself a table and the join degrades gracefully to
  *    shuffle);
  *  - in-stream dedup is `dropDuplicatesWithinWatermark` on the content
  *    fingerprint: state holds one row per fp seen inside the watermark
  *    horizon and the engine GCs it as event time advances — BOUNDED
  *    state, vs plain dropDuplicates whose state grows with every distinct
  *    fp forever. (Exact replays inside the horizon are caught; a dup
  *    arriving later than the horizon is the corpus index's job — ingest
  *    appends each batch's fingerprints to it downstream.)
  */
object StreamingDedup {

  /** `docs` must carry (doc_id, text, ts); `corpusFps` is the static
    * fingerprint index (one `fp` column, md5 of lowercased text —
    * the same function `DedupOps` indexes).
    *
    * `broadcastIndex = true` (default) hints the index broadcast — right
    * while it fits (< the 8 GB broadcast-relation limit and driver heap).
    * Past that, pass `false`: an explicit hint would OVERRIDE Spark's
    * size-based planning and kill every micro-batch with a
    * too-large-to-broadcast error, whereas unhinted the join planner
    * degrades to a shuffle of the micro-batch against the index table.
    */
  def dedupStream(docs: DataFrame, corpusFps: DataFrame,
      watermark: String = "10 minutes",
      broadcastIndex: Boolean = true): DataFrame = {
    val fped = docs
      .withColumn("fp", md5(lower(col("text"))))
      .withWatermark("ts", watermark)
    val idx = corpusFps.select("fp")
    fped
      .join(if (broadcastIndex) broadcast(idx) else idx, Seq("fp"), "left_anti")
      .dropDuplicatesWithinWatermark("fp")
      .select("doc_id", "ts", "text", "fp")
  }

  /** Bloom-prefiltered exact ingest dedup — [[dedupStream]] with the
    * membership sketch as a zero-join first stage: the corpus
    * fingerprint filter rides as a LITERAL word map (≤ 256 entries at
    * any corpus size — `PortableBloom.wordsMap`), so a bloom MISS —
    * structurally impossible for a true duplicate — bypasses the exact
    * index join entirely, and only the sketch-admitted residue joins the
    * corpus index. Output is IDENTICAL to [[dedupStream]] over the same
    * stream (spec-pinned): false positives are filtered by the exact
    * stage; false negatives cannot exist. At 100 TB the per-batch
    * stream-static anti-join shrinks to the maybe-dup residue — for a
    * mostly-novel ingest stream, almost nothing.
    */
  def dedupStreamBloom(docs: DataFrame, corpusFps: DataFrame,
      watermark: String = "10 minutes",
      broadcastIndex: Boolean = true): DataFrame = {
    import graft.operators.PortableBloom
    val bloomWords = PortableBloom.wordsMap(corpusFps, col("fp"))
    val fped = docs
      .withColumn("fp", md5(lower(col("text"))))
      .withWatermark("ts", watermark)
      .withColumn("__maybe", PortableBloom.hitColumn(bloomWords, col("fp")))
    val idx = corpusFps.select("fp")
    val definitelyNew = fped.filter(!col("__maybe"))
    val residue = fped.filter(col("__maybe"))
      .join(if (broadcastIndex) broadcast(idx) else idx, Seq("fp"), "left_anti")
    definitelyNew.unionByName(residue)
      .dropDuplicatesWithinWatermark("fp")
      .select("doc_id", "ts", "text", "fp")
  }

  /** Load + prepare a `DedupOps.writeMinHashIndex` materialization for
    * streaming probes: the band table goes through the hot-bucket cap
    * once, and BOTH tables persist so micro-batches probe caches instead
    * of re-deriving/re-reading the index every batch. The CALLER owns the
    * caches — unpersist both frames when the stream stops (repeated
    * setup without release would pin one index copy per call).
    */
  def prepareNearDupIndex(s: org.apache.spark.sql.SparkSession,
      indexPath: String): (DataFrame, DataFrame) = {
    import graft.operators.{Banding, DedupOps}
    // a basis-mismatched index would make every stream probe silently
    // match nothing — same guard as the batch probe/append paths
    DedupOps.requireIndexBasis(s, indexPath)
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val bands = Banding.capBuckets(
        s.read.parquet(s"$indexPath/bands"), DedupOps.BandKey, DedupOps.MaxBucket)
      .withColumnRenamed("doc_id", "corpus_doc")
      .persist(lvl)
    // read the signature table through its bucketed registration when the
    // index carries one (writeMinHashIndex): the bucketed scan's hash
    // partitioning on doc_id survives the alias, so the per-batch verify
    // join shuffles only the micro-batch — the corpus side never moves
    val sigs = graft.sources.Bucketed.read(s, s"$indexPath/sigs")
      .map(_._1).getOrElse(s.read.parquet(s"$indexPath/sigs"))
      .select(col("doc_id").as("corpus_doc"), col("hsh").as("hsh_c"))
      .persist(lvl)
    (bands, sigs)
  }

  /** Streaming NEAR-dup probe: the continuous form of
    * `DedupOps.incrementalMinHashFromIndex`. Stream docs compute their
    * MinHash band keys map-side; candidates come from a stream-static
    * join against the prepared band table, are DEDUPED within the
    * watermark BEFORE verification (several bands surface one pair — the
    * batch probe's cands.distinct(), so the expensive signature join +
    * array intersection runs once per pair, not once per matching band),
    * then verified against the signature table at exact Jaccard >=
    * `threshold`.
    *
    * Plan shape: `broadcastBands = true` FORCES a broadcast hint on the
    * pruned BAND table — two longs per row, the light side — an explicit
    * opt-in for indexes known to fit. The default (`false`) leaves the
    * join unhinted: the planner picks broadcast vs shuffle from the cached
    * band table's OWN size stats, so a corpus-scale band index (the 100 TB
    * regime, where even two longs per corpus row exceed executor memory)
    * degrades to a shuffle join instead of OOMing on a forced hint. The
    * SIGNATURE table (full hashed-shingle arrays, corpus-text-scale) is
    * NEVER broadcast — the batch probe's asymmetric-plan invariant; the
    * per-batch join against it degrades to shuffle, and at full scale the
    * sigs table is bucketed by doc id so that join is a point lookup.
    */
  def nearDupStream(docs: DataFrame, bandsIdx: DataFrame, sigsIdx: DataFrame,
      watermark: String, threshold: Double,
      broadcastBands: Boolean): DataFrame = {
    import graft.operators.{Banding, DedupOps}
    val streamBands = DedupOps.bandRows(
      DedupOps.minhashSigs(docs, keep = Seq("ts")).withWatermark("ts", watermark),
      keep = Seq("ts", "hsh"))
    val pairs = Banding.probePairs(
        if (broadcastBands) broadcast(bandsIdx) else bandsIdx, streamBands, DedupOps.BandKey,
        col("b.doc_id"), col("b.ts"), col("b.hsh"), col("c.corpus_doc"))
      .dropDuplicatesWithinWatermark("doc_id", "corpus_doc")
    Banding.hashedJaccard(pairs.join(sigsIdx, Seq("corpus_doc")), "hsh", "hsh_c")
      .filter(col("jaccard") >= threshold)
      .select("doc_id", "ts", "corpus_doc", "jaccard")
  }

  /** Convenience form: prepares the index itself. The two index caches
    * then live until session end / `spark.catalog.clearCache()` — use
    * [[prepareNearDupIndex]] + the explicit overload to control release.
    */
  def nearDupStream(docs: DataFrame, indexPath: String,
      watermark: String = "10 minutes", threshold: Double = 0.7,
      broadcastBands: Boolean = false): DataFrame = {
    val (bands, sigs) = prepareNearDupIndex(docs.sparkSession, indexPath)
    nearDupStream(docs, bands, sigs, watermark, threshold, broadcastBands)
  }

  /** A refresh-aware handle on a `writeMinHashIndex` materialization, for
    * LONG-LIVED streams serving a GROWING index. [[prepareNearDupIndex]]'s
    * caches are frozen at setup: `DedupOps.appendToMinHashIndex` during a
    * live stream would keep serving the stale snapshot forever. This
    * handle re-checks a cheap directory signature (one file listing of the
    * two index subdirs — names, lengths, mtimes) on every [[probe]] and
    * atomically swaps the caches when the layout changed, so the NEXT
    * micro-batch probes the appended corpus; unchanged layouts pay only
    * the listing.
    *
    * Compose with `foreachBatch`:
    * {{{
    * val idx = NearDupIndex(spark, indexPath)
    * docs.writeStream.foreachBatch { (b, _) => sink(idx.probe(b)) }...
    * }}}
    * (Within one micro-batch each doc appears once, so the cross-batch
    * watermark dedup of [[nearDupStream]] isn't needed — candidate pairs
    * dedup per batch before the signature verify, same as the batch
    * probe.) Call [[close]] when the stream stops.
    */
  final class NearDupIndex private[streaming] (
      s: org.apache.spark.sql.SparkSession, indexPath: String) {
    // (cached pruned bands, cached sigs, raw sigs + bucket key, signature)
    private final case class State(bands: DataFrame, sigs: DataFrame,
        sigLookup: Option[(DataFrame, String, Int)], sig: String)
    @volatile private var state: State = null

    /** Cheap change detector: every append rewrites or adds files under
      * sigs/ or bands/, so (sorted names, lengths, mtimes) shifts. At
      * production file counts (post-compaction: ~one file per bucket)
      * this is one RPC-cheap listing per micro-batch.
      */
    private def dirSignature(): String = {
      val conf = s.sessionState.newHadoopConf()
      val parts = Seq(s"$indexPath/sigs", s"$indexPath/bands").flatMap { d =>
        val p = new org.apache.hadoop.fs.Path(d)
        val fs = p.getFileSystem(conf)
        if (!fs.exists(p)) Seq(s"$d:absent")
        else {
          val it = fs.listFiles(p, true)
          val b = scala.collection.mutable.ArrayBuffer.empty[String]
          while (it.hasNext) {
            val f = it.next()
            b += s"${f.getPath.getName}:${f.getLen}:${f.getModificationTime}"
          }
          b.sorted
        }
      }
      java.security.MessageDigest.getInstance("MD5")
        .digest(parts.mkString("\n").getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
    }

    /** The current (bands, sigs) caches, reloading iff the index layout
      * changed since the last call. Micro-batches of one query run
      * serially; the lock only guards overlapping queries sharing a
      * handle.
      */
    def current(): (DataFrame, DataFrame) = {
      val st = snapshot()
      (st.bands, st.sigs)
    }

    /** One consistent generation of the index caches — callers must take
      * the whole snapshot and use only it (reading the field again after
      * returning could observe a concurrent refresh's or close()'s
      * replacement: mixed generations or null).
      */
    private def snapshot(): State = synchronized {
      val sig = dirSignature()
      if (state == null || state.sig != sig) {
        if (state != null) {
          state.bands.unpersist(blocking = false)
          state.sigs.unpersist(blocking = false)
        }
        // a cross-session append through the bucketed catalog table won't
        // have invalidated THIS session's listing cache — drop it first
        graft.sources.Bucketed.refresh(s, s"$indexPath/sigs")
        val (bands, sigs) = prepareNearDupIndex(s, indexPath)
        val lookup = graft.sources.Bucketed.read(s, s"$indexPath/sigs")
        state = State(bands, sigs, lookup, sig)
      }
      state
    }

    /** Probe one micro-batch against the LATEST index state: the batch
      * analog of [[nearDupStream]]'s join pipeline (bands match, pair
      * dedup, signature verify at exact Jaccard >= `threshold`).
      *
      * Against a BUCKETED signature table the verify is a per-batch POINT
      * LOOKUP: the candidate corpus ids (bounded by batch x MaxBucket)
      * push down as an IN on the bucket key, so each micro-batch reads
      * only the sig buckets its candidates hash to — never the whole
      * (at scale, corpus-sized) signature table, and never a
      * corpus-sized cache. The candidate frame is intentionally built
      * twice (id collect + verify join) rather than persisted: it is one
      * map pass + broadcast join over the MICRO-BATCH, and a per-batch
      * persist with no unpersist point would leak one cache entry per
      * batch for the stream's lifetime.
      */
    def probe(batch: DataFrame, threshold: Double = 0.7,
        broadcastBands: Boolean = false): DataFrame = {
      import graft.operators.{Banding, DedupOps}
      val st = snapshot()
      val (bands, sigs, lookup) = (st.bands, st.sigs, st.sigLookup)
      def cands() = Banding.probeCandidates(
        if (broadcastBands) broadcast(bands) else bands,
        DedupOps.bandRows(DedupOps.minhashSigs(batch), keep = Seq("hsh")),
        DedupOps.BandKey, col("b.doc_id"), col("b.hsh"), col("c.corpus_doc"))
      val sigSide = lookup.flatMap { case (raw, key, n) =>
        graft.sources.Bucketed
          .boundedKeys(cands(), "corpus_doc", graft.sources.Bucketed.lookupMax(s))
          // an id set selecting ~every bucket makes the IN pure overhead
          // (Bucketed.lookupWorthwhile) — fall through to the cached sigs
          .filter(ids => ids.isEmpty ||
            graft.sources.Bucketed.lookupWorthwhile(s, ids.length, n))
          .map { ids =>
            val slice = if (ids.isEmpty) raw.limit(0)
              else raw.filter(col(key).isin(ids: _*))
            slice.select(col("doc_id").as("corpus_doc"), col("hsh").as("hsh_c"))
          }
      }.getOrElse(sigs)
      Banding.hashedJaccard(cands().join(sigSide, Seq("corpus_doc")), "hsh", "hsh_c")
        .filter(col("jaccard") >= threshold)
        .select("doc_id", "corpus_doc", "jaccard")
    }

    /** Release the caches (idempotent). */
    def close(): Unit = synchronized {
      if (state != null) {
        state.bands.unpersist(blocking = false)
        state.sigs.unpersist(blocking = false)
        state = null
      }
    }
  }

  object NearDupIndex {
    def apply(s: org.apache.spark.sql.SparkSession,
        indexPath: String): NearDupIndex = new NearDupIndex(s, indexPath)
  }
}
