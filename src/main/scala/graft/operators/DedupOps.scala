package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType

import graft.QueryDef
import graft.functions.GraftFunctions
import graft.sources.Tables

/** Deduplication family over `documents`. The exact/pair-join variants are
  * oracle-checked; MinHash-LSH and SimHash depend on engine hash functions
  * so they are rows-only checked plus unit-tested (candidate recall vs the
  * exact Jaccard query on the same data).
  */
object DedupOps {

  /** Word 5-gram shingles as a distinct array column (single pass, local).
    * 5-grams (vs 3) keep near-dup Jaccard high while making shingles rare
    * enough that inverted-index joins don't explode on a small vocabulary.
    */
  private def withShingles(df: DataFrame): DataFrame =
    Tables.spread(df).withColumn("shs",
      GraftFunctions.graftWordShingles(col("text"), 5))

  /** The shared per-doc shingle-set frame (doc_id, shs) every sketch
    * pipeline starts from — NOT persisted here; single-pipeline callers
    * consume it inline, composite evals persist it once and feed BOTH
    * legs ([[dedupEvalOn]], [[lshSweepOn]]) so the corpus is shingled
    * once instead of once per leg.
    */
  private[graft] def rawShingles(df: DataFrame): DataFrame = shingleRows(df, Nil)

  /** (doc_id, `keep`..., shs) for the documents with at least one shingle,
    * each document shingled ONCE. `shs` comes out of a generator rather
    * than a Project: Catalyst pushes a filter on a projected alias below
    * the Project and substitutes the alias, so `size(shs) > 0` over a
    * `withColumn("shs", …)` shingled every document twice (once for the
    * filter, once for the column). A filter on a generator's output stays
    * above it — the [[graft.streaming.StreamingAnomaly.parse]] shape.
    */
  private def shingleRows(df: DataFrame, keep: Seq[String]): DataFrame =
    Tables.spread(df)
      .select(col("doc_id") +: keep.map(col) :+ inline(array(struct(
        GraftFunctions.graftWordShingles(col("text"), 5).as("shs")))): _*)
      .filter(size(col("shs")) > 0)

  private val sqlShingles: String =
    """SELECT doc_id, list_distinct(list_transform(range(1, len(toks) - 3),
      |         i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3] || ' ' || toks[i+4])) AS shs
      |FROM (SELECT doc_id, str_split(text, ' ') AS toks FROM documents)
      |WHERE len(toks) >= 5""".stripMargin

  /** Exact duplicate groups by content hash; keeper = min doc_id. */
  def exactDedup(s: SparkSession, dir: String): DataFrame =
    Tables.t(s, dir, "documents")
      .groupBy(md5(lower(col("text"))).as("fp"))
      .agg(min(col("doc_id")).as("keeper"), count(lit(1)).as("n_copies"))
      .select("keeper", "n_copies", "fp")
      .orderBy("keeper")

  val exactOracle: String =
    """SELECT MIN(doc_id) AS keeper, COUNT(*) AS n_copies, md5(lower(text)) AS fp
      |FROM documents GROUP BY md5(lower(text)) ORDER BY keeper""".stripMargin

  /** Exact n-gram Jaccard near-dup pairs (threshold 0.8) via inverted-index
    * join on shingles: candidate generation shuffles only (shingle, doc_id)
    * pairs; at 100 TB the same plan holds with a document-frequency cap on
    * hot shingles (any shingle shared by half the corpus carries no signal).
    */
  def jaccardPairs(s: SparkSession, dir: String): DataFrame =
    jaccardPairsOn(Tables.t(s, dir, "documents"))

  /** Same, over any (doc_id, text) frame.
    *
    * Scale path: PPJoin-style prefix filtering. A raw inverted-index
    * self-join explodes on hot shingles (every pair sharing ANY shingle
    * becomes a candidate). Instead, order each doc's (df-capped) shingles
    * under a common total order — the sorted xxhash64 image, see
    * [[cappedShingles]] — and index only the prefix of length
    * n - ceil(t*n) + 1: any pair with J >= t must share a prefix shingle
    * (|A∩B| >= t*|A| when J >= t), so this is exact — candidates collapse
    * from "share anything" to "share a prefix shingle", with the df-cap
    * stop-shingling the corpus-hot ones out of the sets entirely.
    * Verification computes the true Jaccard on the candidates' full
    * (capped) string shingle arrays.
    */
  /** Adversarial-skew guard: shingles with global document frequency above
    * the cap are STOP-SHINGLES — removed from every document's shingle SET
    * before anything else happens, exactly like stop-words in classic IR. A
    * shingle shared by thousands of docs generates O(df^2) candidate pairs
    * while carrying ~no signal at t=0.8. Because the removal is applied to
    * the sets themselves (sizes, intersections and the prefix index all see
    * the capped sets), PPJoin prefix filtering stays LOSSLESS with respect
    * to the capped-set Jaccard, and the DuckDB oracle computes the
    * IDENTICAL function — the earlier formulation capped only the index,
    * which silently lost pairs whose whole prefix was corpus-hot while the
    * oracle kept them. The effective cap SCALES WITH THE CORPUS — max(DfCap,
    * 1% of docs) — so organic boilerplate shared by a fixed fraction of a
    * growing corpus never silently crosses an absolute constant; Stress
    * measures the candidate bound under a planted common-prefix corpus, and
    * DedupSimilaritySpec pins the capped semantics against a brute-force
    * oracle on a corpus where the cap BITES.
    */
  final val DfCap = 1000L

  /** Explicit marker for "derive the cap from the corpus" — never a silent
    * zero: a literal cap of 0 (drop everything) or a negative cap is a
    * caller bug and is rejected loudly by [[cappedShingles]].
    */
  final val AdaptiveCap = -1L

  def jaccardPairsOn(documents: DataFrame): DataFrame =
    jaccardPairsOn(documents, AdaptiveCap)

  private val T = 0.8

  /** Per-doc CAPPED shingle sets, persisted: (doc_id, shs, hsorted, n_sh)
    * where `shs` holds only shingles with df <= cap and `hsorted` is the
    * sorted xxhash64 image of that set (the PPJoin prefix is its leading
    * slice). PPJoin's prefix theorem needs only a COMMON TOTAL ORDER on
    * the shingle universe — rarity order is a candidate-count heuristic,
    * not a correctness requirement — so ordering by hash lets the whole
    * per-doc computation stay MAP-SIDE: the only shuffle over shingle
    * instances is the df partial-aggregate; the old plan's
    * inverted-index-wide df join + regroup-by-doc (a second full shuffle
    * of every (doc, shingle) pair plus a struct-array sort) disappears.
    * The candidate-count heuristic the hash order gives up is mostly
    * recovered by the df-cap itself: the shingles whose rarity ordering
    * mattered (corpus-hot ones) are stop-shingled out entirely.
    *
    * Stop-shingles are COLLECTED to the driver and removed with a
    * broadcast `array_except`: by pigeonhole at most
    * totalShingleInstances / cap shingles can exceed the cap — with the
    * adaptive cap (1% of docs) that is <= 100 * avgShinglesPerDoc entries
    * at ANY corpus size, metadata-scale like IVF's centroid pull.
    */
  /** dfCap = [[AdaptiveCap]] means max(DfCap, nDocs/100), with nDocs
    * counted off the materialized shingle cache (the handful of
    * sub-5-token docs it excludes vs a raw count can't move a 1%
    * threshold; the count triggers the caching the freq pass needs anyway,
    * so the old separate parquet-count job disappears).
    */
  private[graft] def cappedShingles(documents: DataFrame, dfCap: Long): DataFrame =
    // persist the RAW shingle arrays first: the df count and the capped
    // projection below both consume them, and without the cache the
    // shingling map phase — the single most expensive map stage — runs
    // twice (measured +47% on the 20x stress corpus)
    cappedShinglesFrom(rawShingles(documents)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK), dfCap)

  /** [[cappedShingles]] over an ALREADY-PERSISTED raw shingle frame —
    * the sharing point for evals that feed one shingle pass to several
    * pipelines.
    */
  private[graft] def cappedShinglesFrom(raw: DataFrame, dfCap: Long): DataFrame = {
    require(dfCap > 0 || dfCap == AdaptiveCap,
      s"dfCap must be positive or AdaptiveCap, got $dfCap")
    val cap = if (dfCap == AdaptiveCap) math.max(DfCap, raw.count() / 100) else dfCap
    // df via groupBy partial aggregation (map-side combine keeps the
    // exchange ~one row per distinct shingle per map partition; a
    // whole-partition window count was tried and reverted — un-splittable
    // hot groups); only the > cap tail is collected. Long.MaxValue means
    // UNCAPPED (the eval ground-truth runs): no df can exceed it, so the
    // corpus-wide aggregate would be a pure-overhead full shuffle — skip
    val hot =
      if (cap == Long.MaxValue) Array.empty[String]
      else raw.select(explode(col("shs")).as("sh"))
        .groupBy("sh").agg(count(lit(1)).as("df"))
        .filter(col("df") > cap)
        .collect().map(_.getString(0))
    val capped =
      if (hot.isEmpty) col("shs")
      else array_except(col("shs"), typedLit(hot.toSeq))
    // NOT persisted (r16): every consumer (prefix index, both verify join
    // sides) re-derives this frame from the `raw` cache with cheap map work
    // — array_except against the tiny broadcast stop-set and a per-row size.
    // A second MEMORY_AND_DISK build of the same string arrays cost more
    // than the recompute it saved (~0.3 s of the bench query at sf0.1) and
    // doubled the cached footprint at every scale; the one expensive
    // derived column (the sorted xxhash64 image) has a single consumer, so
    // it never needed cache protection either.
    raw.select(col("doc_id"), capped.as("shs"))
      .filter(size(col("shs")) > 0)
      .select(col("doc_id"), col("shs"),
        array_sort(transform(col("shs"), s => xxhash64(s))).as("hsorted"),
        size(col("shs")).as("n_sh"))
  }

  /** Candidate stage: prefix-index self-join over capped shingle sets.
    * The first (1 - t)*n + 1 entries of each doc's hash-sorted shingle
    * set; any pair with capped-set J >= t must collide on one of them
    * (prefix theorem under the common hash order — a 64-bit collision
    * between distinct shingles only ADDS a candidate, the exact
    * verification discards it; and the self-join shuffles 8-byte keys
    * instead of ~30-byte strings).
    */
  private[graft] def jaccardCandidatesFrom(eff: DataFrame, t: Double = T): DataFrame = {
    val prefix = eff.select(col("doc_id"), col("n_sh"),
      explode(slice(col("hsorted"), lit(1),
        (col("n_sh") - ceil(col("n_sh") * t) + 1).cast("int"))).as("h"))
    // size filter: J >= t forces min(|A|,|B|) >= t * max(|A|,|B|)
    prefix.as("a")
      .join(prefix.as("b"),
        col("a.h") === col("b.h") && col("a.doc_id") < col("b.doc_id") &&
          col("a.n_sh") >= col("b.n_sh") * t && col("b.n_sh") >= col("a.n_sh") * t)
      .select(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"))
      .distinct()
  }

  /** Stress probe: candidate count for a corpus at a given df-cap. */
  private[graft] def jaccardCandidates(documents: DataFrame, dfCap: Long): DataFrame =
    jaccardCandidatesFrom(cappedShingles(documents, dfCap))

  def jaccardPairsOn(documents: DataFrame, dfCap: Long): DataFrame =
    jaccardPairsOn(documents, dfCap, T)

  /** PPJoin at an arbitrary threshold `t` — the 0.8 default is the gated
    * near-dup query; [[dedupEval]] runs t = 0.7 (the LSH verify bar) to
    * build the exact ground truth its recall/precision measure against.
    *
    * Caching contract (lazy query paths, here and [[minHashLshOn]]): the
    * returned frame is lazy, so the internal MEMORY_AND_DISK shingle
    * cache stays pinned after the caller's action — the gate/bench
    * harnesses `spark.catalog.clearCache()` after each query, and any
    * long-lived library caller must do the same (or use the eager
    * compositions, which release their own caches: [[dedupEvalOn]],
    * [[lshSweepOn]], [[editDistPairsOn]]).
    */
  private[graft] def jaccardPairsOn(documents: DataFrame, dfCap: Long,
      t: Double): DataFrame =
    jaccardPairsFrom(rawShingles(documents)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK), dfCap, t)

  /** PPJoin over an already-persisted raw shingle frame — used by
    * [[dedupEvalOn]]/[[lshSweepOn]] to share one corpus shingle pass
    * between the exact-truth leg and the sketch leg.
    */
  private[graft] def jaccardPairsFrom(raw: DataFrame, dfCap: Long,
      t: Double): DataFrame = {
    val eff = cappedShinglesFrom(raw, dfCap)
    // NOT persisted (r17): the candidate frame has exactly ONE consumer —
    // the verify chain below — so the MEMORY_AND_DISK build was pure
    // overhead (same reasoning that dropped the capped-shingles cache in
    // r16); the verify joins stream it once
    val cands = jaccardCandidatesFrom(eff, t)
    cands
      .join(eff.select(col("doc_id").as("d1"), col("shs").as("shs1"),
        col("n_sh").as("n1")), "d1")
      .join(eff.select(col("doc_id").as("d2"), col("shs").as("shs2"),
        col("n_sh").as("n2")), "d2")
      .withColumn("common", size(array_intersect(col("shs1"), col("shs2"))).cast("long"))
      .withColumn("jaccard", col("common").cast(DoubleType) /
        (col("n1") + col("n2") - col("common")).cast(DoubleType))
      .filter(col("jaccard") >= t)
      .select("d1", "d2", "common", "jaccard")
      .orderBy("d1", "d2")
  }

  /** Shared oracle fragment: capped shingle sets + exact pair computation,
    * the same function as [[jaccardPairsOn]] (adaptive cap included — the
    * GREATEST over the SHINGLED doc count mirrors `max(DfCap,
    * raw.count()/100)` with integer division).
    */
  private[operators] val sqlCappedPairs: String =
    s"""sh AS ($sqlShingles),
       |inv AS (SELECT doc_id, unnest(shs) AS sh FROM sh),
       |freq AS (SELECT sh, COUNT(*) AS df FROM inv GROUP BY sh),
       |capv AS (SELECT GREATEST(1000, COUNT(*) // 100) AS cap FROM sh),
       |invf AS (SELECT i.doc_id, i.sh FROM inv i JOIN freq f ON i.sh = f.sh, capv
       |         WHERE f.df <= capv.cap),
       |sz AS (SELECT doc_id, COUNT(*) AS n_sh FROM invf GROUP BY doc_id),
       |c AS (
       |  SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS common
       |  FROM invf a JOIN invf b ON a.sh = b.sh AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2),
       |jp AS (
       |  SELECT d1, d2, common,
       |         CAST(common AS DOUBLE) / CAST(x.n_sh + y.n_sh - common AS DOUBLE) AS jaccard
       |  FROM c JOIN sz x ON x.doc_id = d1 JOIN sz y ON y.doc_id = d2
       |  WHERE CAST(common AS DOUBLE) / CAST(x.n_sh + y.n_sh - common AS DOUBLE) >= 0.8)""".stripMargin

  val jaccardOracle: String =
    s"""WITH $sqlCappedPairs
       |SELECT d1, d2, common, jaccard FROM jp ORDER BY d1, d2""".stripMargin

  // ---- MinHash + LSH ----------------------------------------------------
  // 64 permutations, 16 bands x 4 rows. Signatures come from the native
  // MinHashSig expression — one pass over the shingles per row, ZERO
  // shuffle until the banding join.
  final val NumPerm = graft.functions.MinHashSig.NumPerm
  final val Bands = 16
  final val RowsPerBand = NumPerm / Bands

  /** Hot-bucket cap of the sketch families ([[Banding.capBuckets]]). */
  final val MaxBucket = 100L

  /** Bucket key of the MinHash band rows ([[bandRows]]). */
  private[graft] val BandKey = Seq("band", "bkey")

  /** Engine-portable 32-bit shingle hash — the leading 8 hex chars of
    * md5 as a long, identical to [[graft.functions.Md5Basis.h32]] and to
    * what the DuckDB oracle rebuilds with a hex-digit polynomial. The
    * verify joins intersect THESE, so |A∩B| agrees across engines.
    */
  private def md5h32(c: Column): Column =
    conv(substring(md5(c), 1, 8), 16, 10).cast("long")

  /** Engine-portable band-bucket key: 60-bit md5 prefix (15 hex chars —
    * one short of the sign position) over the band's signature values
    * rendered canonically as "v1,v2,v3,v4" — both engines print longs
    * identically, so the bucket assignment is oracle-replayable.
    */
  private def md5bkey(rows: Seq[Column]): Column =
    conv(substring(md5(concat_ws(",", rows: _*)), 1, 15), 16, 10).cast("long")

  /** 32-bit shingle hash in the selected basis. PRODUCTION default is the
    * xxhash64 low word ([[graft.functions.XxBasis.h32]] — codegen'd, no
    * digest allocation, ~10x cheaper than md5); `md5Parity = true` is the
    * DuckDB-replayable twin the hash-exact oracles rebuild. The verify
    * math downstream (|A∩B|, Jaccard) is basis-INDEPENDENT — equal
    * strings hash equal in either basis — so the two bases differ only in
    * which candidates the bands surface; BasisParitySpec pins the
    * surviving pair sets equal on the gate corpus.
    */
  private def h32col(c: Column, md5Parity: Boolean): Column =
    if (md5Parity) md5h32(c)
    else xxhash64(c).bitwiseAND(lit(0xffffffffL))

  /** Band-bucket key in the selected basis: xxhash64 straight over the
    * band's signature columns (no string materialization) in production;
    * the md5-prefix form for the oracle-parity twin.
    */
  private def bkeyCol(rows: Seq[Column], md5Parity: Boolean): Column =
    if (md5Parity) md5bkey(rows) else xxhash64(rows: _*)

  /** MinHash-LSH near-dup: candidates from band-bucket join, verified with
    * exact Jaccard on the (few) candidates via array_intersect.
    *
    * The GATED query runs the xxhash64 production basis against the md5
    * band replay ([[minhashOracle]]): the output (d1, d2, jaccard) is a
    * deterministic function of the surviving pair set alone (Jaccard is
    * computed from the hashed shingle SETS, identical-size in either
    * basis), and BasisParitySpec pins the two bases' pair sets equal on
    * the gate corpus. `doc_minhash_md5` gates the md5 twin end-to-end
    * (exact band replay) so the oracle's own pipeline stays validated.
    */
  def minHashLsh(s: SparkSession, dir: String): DataFrame =
    minHashLshOn(Tables.t(s, dir, "documents"))

  def minHashLshMd5(s: SparkSession, dir: String): DataFrame =
    minHashLshOn(Tables.t(s, dir, "documents"), md5Parity = true)

  def minHashLshOn(documents: DataFrame, md5Parity: Boolean = false): DataFrame =
    minHashLshFromShingles(rawShingles(documents), md5Parity)

  /** [[minHashLshOn]] over a pre-shingled (doc_id, shs) frame — the
    * sharing point for [[dedupEvalOn]], whose truth leg consumes the same
    * shingle pass.
    */
  private[graft] def minHashLshFromShingles(raw: DataFrame,
      md5Parity: Boolean = false): DataFrame =
    minHashLshPairsFrom(raw, md5Parity)._1

  /** [[minHashLshFromShingles]] plus a release hook for its internal
    * signature cache — eager compositions ([[dedupEvalOn]]) call it once
    * materialized instead of pinning the corpus-scale long arrays for the
    * rest of the session (the chunkMinhashPairs convention).
    */
  private[graft] def minHashLshPairsFrom(raw: DataFrame,
      md5Parity: Boolean = false): (DataFrame, () => Unit) = {
    // hsh = per-doc shingle set as 64-bit hashes: the verify stage
    // intersects THESE instead of the string arrays (equal strings hash
    // equal, so |A∩B| is preserved up to 64-bit collisions — this query is
    // sketch-based/rows-only by design). Both hsh and the MinHash
    // signature are computed BEFORE the persist and the string arrays are
    // DROPPED, so the cached frame (the thing that must fit at corpus
    // scale) holds only longs — ~5x smaller than caching the strings.
    val sh = minhashSigsFrom(raw, md5Parity)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val pruned = Banding.capBuckets(bandRows(sh, md5Parity = md5Parity), BandKey, MaxBucket)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val cands = Banding.selfCandidates(pruned, BandKey, "doc_id",
      col("a.doc_id").as("d1"), col("b.doc_id").as("d2"))
    val pairs = Banding.hashedJaccard(cands
        .join(sh.select(col("doc_id").as("d1"), col("hsh").as("hsh1")), "d1")
        .join(sh.select(col("doc_id").as("d2"), col("hsh").as("hsh2")), "d2"),
        "hsh1", "hsh2")
      .filter(col("jaccard") >= 0.7)
      .select("d1", "d2", "jaccard")
      .orderBy("d1", "d2")
    (pairs, () => { pruned.unpersist(); sh.unpersist() })
  }

  /** SimHash near-dup: 64-bit fingerprints from the native SimHash64
    * expression; pigeonhole banding (4 x 16-bit chunks) guarantees recall
    * for hamming <= 3; verify with bit_count(xor).
    */
  /** The GATED simhash keys keep the md5-parity basis: unlike MinHash
    * (whose gated output is basis-independent given equal pair sets),
    * the hamming VALUES here are a function of the fingerprint bits
    * themselves, so the oracle must replay the same basis. The library
    * default stays xxhash64 (production: soaks, index paths, ad-hoc use).
    */
  def simHashPairs(s: SparkSession, dir: String): DataFrame =
    simHashPairsOn(Tables.t(s, dir, "documents"), md5Parity = true)

  /** doc_id -> 64-bit SimHash fingerprint (tokenize + native SimHash64). */
  private def simhashFps(df: DataFrame, md5Parity: Boolean): DataFrame = df
    .withColumn("toks", split(col("text"), " "))
    .withColumn("sh64", GraftFunctions.graftSimHash64(col("toks"), md5Parity))
    .select("doc_id", "sh64")

  /** `capped = false` skips the hot-bucket prune — the 4 x 16-bit
    * pigeonhole banding is then LOSSLESS for hamming <= 3 (any pair with
    * <= 3 differing bits shares an identical chunk), which is what makes
    * the uncapped form the exact ground truth [[simhashEvalOn]] measures
    * the production cap against. Production keeps the cap: an identical
    * cluster of n docs is O(n^2) candidates in its shared buckets.
    */
  def simHashPairsOn(documents: DataFrame, md5Parity: Boolean = false,
      capped: Boolean = true): DataFrame = {
    // persist the fingerprints: banding feeds the hot-bucket count, the
    // anti-join AND both self-join sides — unpersisted, the tokenize +
    // SimHash64 map pass (the expensive part) ran four times
    val d = simhashFps(documents, md5Parity)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val banded = Banding.pigeonhole16(d, "sh64")
    val pruned = (if (capped) Banding.capBuckets(banded, Banding.PigeonholeKey, MaxBucket)
      else banded)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    Banding.selfCandidates(pruned, Banding.PigeonholeKey, "doc_id",
        col("a.doc_id").as("d1"), col("b.doc_id").as("d2"),
        bit_count(col("a.sh64").bitwiseXOR(col("b.sh64"))).as("hamming"))
      .filter(col("hamming") <= 3)
      .orderBy("d1", "d2")
  }

  // ---- DuckDB replay of the md5-basis sketch family (r11) ---------------
  // The basis hash is the md5 prefix (Md5Basis), identical in both
  // engines, so signatures, band keys, hot-bucket caps and verify joins
  // are all deterministic integer arithmetic the oracle replays exactly.

  /** Big-endian hex-digit polynomial over chars [start, start+len) of a
    * lowercase-hex column — DuckDB's stand-in for `conv(..., 16, 10)`.
    */
  private def sqlHexPoly(mCol: String, start: Int, len: Int): String =
    (0 until len).map { i =>
      val pow = java.math.BigInteger.valueOf(16L).pow(len - 1 - i)
      s"(strpos('0123456789abcdef', substring($mCol, ${start + i}, 1)) - 1) * $pow"
    }.mkString("(", " + ", ")")

  /** The oracles' hot-bucket cap, written apart from
    * [[Banding.capBuckets]] (the reference the gate checks it against):
    * `bsz` sizes each (band, `key`) bucket of the CTE `src`, and `pb`
    * keeps the `src` rows whose bucket holds at most [[MaxBucket]] rows.
    */
  private def sqlBucketCap(src: String, key: String): String =
    s"""bsz AS (SELECT band, $key, COUNT(*) AS n FROM $src GROUP BY band, $key),
       |pb AS (SELECT $src.* FROM $src
       |       JOIN bsz ON $src.band = bsz.band AND $src.$key = bsz.$key
       |       WHERE bsz.n <= $MaxBucket)""".stripMargin

  /** Shared CTE chain `sh` -> `hv` (doc_id, 32-bit shingle hash) ->
    * `sig` (doc_id, 64-value signature list) -> `bands` (doc_id, band,
    * 60-bit bucket key), mirroring [[minhashSigs]] + [[bandRows]].
    */
  private def sqlMinhashCtes: String = {
    val perms = graft.functions.MinHashSig.A
      .zip(graft.functions.MinHashSig.B).zipWithIndex
      .map { case ((a, b), p) => s"($p, $a, $b)" }
      .mkString(", ")
    val bandConcat = (1 to RowsPerBand)
      .map(r => s"CAST(sig[band * $RowsPerBand + $r] AS VARCHAR)")
      .mkString(" || ',' || ")
    s"""sh AS ($sqlShingles),
       |inv AS (SELECT doc_id, unnest(shs) AS s FROM sh),
       |hh AS (SELECT doc_id, md5(s) AS m FROM inv),
       |hv AS (SELECT doc_id, ${sqlHexPoly("m", 1, 8)} AS h FROM hh),
       |perms AS (SELECT * FROM (VALUES $perms) AS t(p, a, b)),
       |sigv AS (SELECT doc_id, p, MIN((a * h + b) % ${graft.functions.MinHashSig.P}) AS v
       |         FROM hv, perms GROUP BY doc_id, p),
       |sig AS (SELECT doc_id, list(v ORDER BY p) AS sig FROM sigv GROUP BY doc_id),
       |bm AS (SELECT doc_id, band, md5($bandConcat) AS m
       |       FROM sig, unnest(generate_series(0, ${Bands - 1})) AS t(band)),
       |bands AS (SELECT doc_id, band, ${sqlHexPoly("m", 1, 15)} AS bkey FROM bm),
       |nsh AS (SELECT doc_id, COUNT(*) AS n FROM hv GROUP BY doc_id)""".stripMargin
  }

  /** [[sqlMinhashCtes]] plus the capped bucket self-join `cand` (d1 <
    * d2): the replay of the doc-grain minhash candidate stage.
    */
  private def sqlMinhashCands: String =
    s"""$sqlMinhashCtes,
       |${sqlBucketCap("bands", "bkey")},
       |cand AS (SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
       |         FROM pb a JOIN pb b ON a.band = b.band AND a.bkey = b.bkey
       |           AND a.doc_id < b.doc_id)""".stripMargin

  /** Verify-join fragment over candidate pairs (`cand` with columns
    * aliased d1/d2): distinct-common-hash count (array_intersect
    * semantics) + Jaccard on the hashed shingle multiset sizes.
    */
  private def sqlMinhashVerify(c1: String, c2: String): String =
    s"""com AS (SELECT c.d1, c.d2, COUNT(DISTINCT x.h) AS common
       |        FROM cand c JOIN hv x ON x.doc_id = c.d1
       |        JOIN hv y ON y.doc_id = c.d2 AND y.h = x.h
       |        GROUP BY c.d1, c.d2),
       |jp AS (SELECT com.d1 AS $c1, com.d2 AS $c2,
       |         CAST(common AS DOUBLE) / CAST(n1.n + n2.n - common AS DOUBLE) AS jaccard
       |       FROM com JOIN nsh n1 ON n1.doc_id = com.d1
       |       JOIN nsh n2 ON n2.doc_id = com.d2
       |       WHERE CAST(common AS DOUBLE) / CAST(n1.n + n2.n - common AS DOUBLE) >= 0.7)""".stripMargin

  val minhashOracle: String =
    s"""WITH $sqlMinhashCands,
       |${sqlMinhashVerify("d1", "d2")}
       |SELECT d1, d2, jaccard FROM jp ORDER BY d1, d2""".stripMargin

  /** Incremental replay: the hot-bucket cap counts over CORPUS bands
    * only (the probe prunes the corpus index before the batch joins it),
    * batch bands join unpruned — exactly [[minhashProbe]].
    */
  val incrMinhashOracle: String =
    s"""WITH $sqlMinhashCtes,
       |cb AS (SELECT * FROM bands WHERE doc_id % 5 <> 0),
       |bb AS (SELECT * FROM bands WHERE doc_id % 5 = 0),
       |${sqlBucketCap("cb", "bkey")},
       |cand AS (SELECT DISTINCT b.doc_id AS d1, c.doc_id AS d2
       |         FROM pb c JOIN bb b ON c.band = b.band AND c.bkey = b.bkey),
       |${sqlMinhashVerify("batch_doc", "corpus_doc")}
       |SELECT batch_doc, corpus_doc, jaccard FROM jp
       |ORDER BY batch_doc, corpus_doc""".stripMargin

  /** Shared CTE chain for the simhash replay: per-token md5 64-bit basis
    * as two 32-bit words (chars 1-8 / 9-16 — bit 63 stays out of the
    * sign position in both engines), per-bit +1/-1 votes with token
    * multiplicity, fingerprint words, and the 4 x 16-bit pigeonhole
    * chunks; hamming is computed from the word xors.
    */
  private def sqlSimhashCtes: String =
    s"""toks AS (SELECT doc_id, unnest(str_split(text, ' ')) AS tok FROM documents),
       |tm AS (SELECT doc_id, md5(tok) AS m FROM toks),
       |th AS (SELECT doc_id, ${sqlHexPoly("m", 1, 8)} AS hi,
       |              ${sqlHexPoly("m", 9, 8)} AS lo FROM tm),
       |bits AS (SELECT doc_id, b,
       |    SUM((CASE WHEN b < 32 THEN (lo >> b) & 1 ELSE (hi >> (b - 32)) & 1 END) * 2 - 1) AS v
       |  FROM th, unnest(generate_series(0, 63)) AS t(b) GROUP BY doc_id, b),
       |words AS (SELECT doc_id,
       |    CAST(SUM(CASE WHEN v > 0 AND b < 32 THEN (CAST(1 AS BIGINT) << b) ELSE 0 END) AS BIGINT) AS w_lo,
       |    CAST(SUM(CASE WHEN v > 0 AND b >= 32 THEN (CAST(1 AS BIGINT) << (b - 32)) ELSE 0 END) AS BIGINT) AS w_hi
       |  FROM bits GROUP BY doc_id),
       |bands AS (SELECT doc_id, w_lo, w_hi, b AS band,
       |    CASE b WHEN 0 THEN w_lo & 65535 WHEN 1 THEN (w_lo >> 16) & 65535
       |           WHEN 2 THEN w_hi & 65535 ELSE (w_hi >> 16) & 65535 END AS chunk
       |  FROM words, unnest(generate_series(0, 3)) AS t(b))""".stripMargin

  val simhashOracle: String =
    s"""WITH $sqlSimhashCtes,
       |${sqlBucketCap("bands", "chunk")}
       |SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2,
       |  CAST(bit_count(xor(a.w_lo, b.w_lo)) + bit_count(xor(a.w_hi, b.w_hi)) AS INT) AS hamming
       |FROM pb a JOIN pb b ON a.band = b.band AND a.chunk = b.chunk
       |  AND a.doc_id < b.doc_id
       |WHERE bit_count(xor(a.w_lo, b.w_lo)) + bit_count(xor(a.w_hi, b.w_hi)) <= 3
       |ORDER BY d1, d2""".stripMargin

  val incrSimhashOracle: String =
    s"""WITH $sqlSimhashCtes,
       |cb AS (SELECT * FROM bands WHERE doc_id % 5 <> 0),
       |bb AS (SELECT * FROM bands WHERE doc_id % 5 = 0),
       |${sqlBucketCap("cb", "chunk")}
       |SELECT DISTINCT b.doc_id AS batch_doc, c.doc_id AS corpus_doc,
       |  CAST(bit_count(xor(c.w_lo, b.w_lo)) + bit_count(xor(c.w_hi, b.w_hi)) AS INT) AS hamming
       |FROM pb c JOIN bb b ON c.band = b.band AND c.chunk = b.chunk
       |WHERE bit_count(xor(c.w_lo, b.w_lo)) + bit_count(xor(c.w_hi, b.w_hi)) <= 3
       |ORDER BY batch_doc, corpus_doc""".stripMargin

  // ---- dedup-quality eval (LSH recall / precision) ----------------------

  /** Measured QUALITY of the banded near-dup pipeline — the QA row every
    * production dedup run ships next to its pair counts: exact ground
    * truth = ALL pairs with shingle-set Jaccard >= 0.7 (the LSH verify
    * bar), computed losslessly by the PPJoin at t = 0.7 with NO df cap
    * (the LSH pipeline shingles uncapped, so both sides measure the same
    * similarity function); candidates = the gated [[minHashLshOn]]
    * output. One row: pair counts, hits, recall (bands' true-pair
    * coverage) and precision (1.0 unless a 32-bit verify collision ever
    * fires — measured, not assumed).
    *
    * Scale shape: the truth side is the eval's cost — an uncapped
    * t = 0.7 prefix join; run the eval on a sampled corpus slice (or
    * pass a cap) at 100 TB, exactly like any labeled-eval job. The
    * measured figure generalizes; the production pipeline itself never
    * runs all-pairs.
    *
    * Eager: the call runs the whole eval and returns its one row as a
    * local frame ([[collected]]). Both sides ride their pipelines'
    * keep-cached intermediates (reused several times WITHIN one eval),
    * and every internal cache is released before return (r16 ADVICE) — a
    * long-lived session can loop corpus evals without accumulating
    * corpus-scale cached frames.
    */
  def dedupEval(s: SparkSession, dir: String): DataFrame =
    dedupEvalOn(Tables.t(s, dir, "documents"))

  def dedupEvalOn(documents: DataFrame): DataFrame = {
    // ONE corpus shingle pass feeds both legs (r16): the truth PPJoin and
    // the LSH pipeline previously each ran their own withShingles scan —
    // the eval's single most expensive map stage, duplicated. The shared
    // frame is persisted once; each leg still persists only its own
    // derived columns (capped/sorted sets vs hsh+sig longs). The one-row
    // result is collected EAGERLY (the lshSweepOn convention, r17) so
    // every internal cache is released before return instead of pinning
    // two corpus-scale frames until the session clears them.
    val raw = rawShingles(documents)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val (lshPairs, releaseLsh) = minHashLshPairsFrom(raw)
    try {
      val truth = jaccardPairsFrom(raw, Long.MaxValue, 0.7)
        .select(col("d1"), col("d2"), lit(1L).as("__t"))
      val lsh = lshPairs
        .select(col("d1"), col("d2"), lit(1L).as("__l"))
      val eval = truth.join(lsh, Seq("d1", "d2"), "full_outer")
        .agg(coalesce(sum("__t"), lit(0L)).as("n_true"),
          coalesce(sum("__l"), lit(0L)).as("n_lsh"),
          coalesce(sum(col("__t") * col("__l")), lit(0L)).as("n_hit"))
        .select(col("n_true"), col("n_lsh"), col("n_hit"),
          (col("n_hit").cast(DoubleType) / col("n_true").cast(DoubleType)).as("recall"),
          (col("n_hit").cast(DoubleType) / col("n_lsh").cast(DoubleType)).as("precision"))
      collected(eval)
    } finally {
      releaseLsh()
      raw.unpersist()
    }
  }

  /** `df`'s few result rows, collected to the driver and served back as a
    * local frame with the same schema: an eval's one-row (or one-row-per-
    * geometry) result outlives the caches it was built from without
    * pinning executor blocks — a `localCheckpoint` is lost with its
    * executor, and then the released inputs cannot rebuild it.
    */
  private def collected(df: DataFrame): DataFrame =
    df.sparkSession.createDataFrame(df.collectAsList(), df.schema)

  /** Oracle: the md5-basis LSH replay ([[minhashOracle]]'s pipeline) full-
    * outer-joined against an exact >= 0.7 truth over the hashed shingle
    * sets; counts are integers, recall/precision one IEEE division each.
    */
  val dedupEvalOracle: String =
    s"""WITH $sqlMinhashCands,
       |${sqlMinhashVerify("d1", "d2")},
       |tc AS (SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(DISTINCT a.h) AS common
       |       FROM hv a JOIN hv b ON a.h = b.h AND a.doc_id < b.doc_id
       |       GROUP BY 1, 2),
       |truth AS (SELECT tc.d1, tc.d2 FROM tc
       |          JOIN nsh x ON x.doc_id = tc.d1 JOIN nsh y ON y.doc_id = tc.d2
       |          WHERE CAST(tc.common AS DOUBLE)
       |                / CAST(x.n + y.n - tc.common AS DOUBLE) >= 0.7),
       |m AS (SELECT COALESCE(t.hit, 0) AS th, COALESCE(l.hit, 0) AS lh
       |      FROM (SELECT d1, d2, 1 AS hit FROM truth) t
       |      FULL OUTER JOIN (SELECT d1, d2, 1 AS hit FROM jp) l
       |        ON t.d1 = l.d1 AND t.d2 = l.d2)
       |SELECT CAST(SUM(th) AS BIGINT) AS n_true,
       |       CAST(SUM(lh) AS BIGINT) AS n_lsh,
       |       CAST(SUM(th * lh) AS BIGINT) AS n_hit,
       |       CAST(SUM(th * lh) AS DOUBLE) / CAST(SUM(th) AS DOUBLE) AS recall,
       |       CAST(SUM(th * lh) AS DOUBLE) / CAST(SUM(lh) AS DOUBLE) AS precision
       |FROM m""".stripMargin

  /** LSH S-curve tuning table (`doc_lsh_sweep`) — the parameter-selection
    * artifact a production dedup runs BEFORE committing to a (bands,
    * rows) point: one shared 64-value signature table, swept through the
    * three geometries r ∈ {2, 4, 8} (b = 64/r). Per geometry: candidates
    * = pairs sharing ≥ 1 band key (UNCAPPED — the geometry's own S-curve,
    * no hot-bucket interference), full-outer-joined against the same
    * exact ≥ 0.7 ground truth as [[dedupEvalOn]]. One row per geometry:
    * (bands, rows_per_band, n_cand, n_true, n_hit, recall) — more rows
    * per band (larger r) = sharper S-curve = fewer candidates AND lower
    * recall; the table shows the trade measured on THIS corpus. md5
    * basis end-to-end so the oracle replays every band key exactly; the
    * r = 4 row is the production geometry's uncapped anchor. Scale
    * caveat as [[dedupEvalOn]]: the truth side is the eval's cost —
    * sample the corpus at 100 TB. Signatures and truth each compute ONCE
    * across the three geometries (persisted, dropped before return); the
    * call is eager, as [[dedupEvalOn]] is.
    */
  def lshSweep(s: SparkSession, dir: String): DataFrame =
    lshSweepOn(Tables.t(s, dir, "documents"))

  def lshSweepOn(documents: DataFrame): DataFrame = {
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    // shared shingle pass for the signature AND truth legs (r16, same
    // sharing as dedupEvalOn) — unpersisted with the other intermediates
    val raw = rawShingles(documents).persist(lvl)
    try {
    val sig = minhashSigsFrom(raw, md5Parity = true)
      .select("doc_id", "sig").persist(lvl)
    try {
      val truth = jaccardPairsFrom(raw, Long.MaxValue, 0.7)
        .select(col("d1"), col("d2"), lit(1L).as("__t")).persist(lvl)
      try {
        val rows = Seq(2, 4, 8).map { r =>
          val b = NumPerm / r
          val cands = Banding.selfCandidates(
              bandRows(sig, md5Parity = true, rows = r), BandKey, "doc_id",
              col("a.doc_id").as("d1"), col("b.doc_id").as("d2"))
            .withColumn("__c", lit(1L))
          cands.join(truth, Seq("d1", "d2"), "full_outer")
            .agg(coalesce(sum("__c"), lit(0L)).as("n_cand"),
              coalesce(sum("__t"), lit(0L)).as("n_true"),
              coalesce(sum(col("__c") * col("__t")), lit(0L)).as("n_hit"))
            .select(lit(b).as("bands"), lit(r).as("rows_per_band"),
              col("n_cand"), col("n_true"), col("n_hit"),
              (col("n_hit").cast(DoubleType) / col("n_true").cast(DoubleType))
                .as("recall"))
        }
        collected(rows.reduce(_ unionByName _).orderBy("rows_per_band"))
      } finally truth.unpersist()
    } finally sig.unpersist()
    } finally raw.unpersist()
  }

  /** Oracle: the shared md5 signature CTE swept through the same three
    * band geometries; truth is [[dedupEvalOracle]]'s exact ≥ 0.7 pair set
    * over the hashed shingle sets.
    */
  val lshSweepOracle: String = {
    def geom(r: Int): String = {
      val b = NumPerm / r
      val concat = (1 to r)
        .map(j => s"CAST(sig[band * $r + $j] AS VARCHAR)")
        .mkString(" || ',' || ")
      s"""sw${r}_bm AS (SELECT doc_id, band, md5($concat) AS m
         |              FROM sig, unnest(generate_series(0, ${b - 1})) AS t(band)),
         |sw${r}_bands AS (SELECT doc_id, ${sqlHexPoly("m", 1, 15)} AS bkey, band
         |                 FROM sw${r}_bm),
         |sw${r}_cand AS (SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
         |                FROM sw${r}_bands a JOIN sw${r}_bands b
         |                  ON a.band = b.band AND a.bkey = b.bkey
         |                 AND a.doc_id < b.doc_id),
         |sw${r}_m AS (SELECT COALESCE(c.hit, 0) AS ch, COALESCE(t.hit, 0) AS th
         |             FROM (SELECT d1, d2, 1 AS hit FROM sw${r}_cand) c
         |             FULL OUTER JOIN (SELECT d1, d2, 1 AS hit FROM truth) t
         |               ON c.d1 = t.d1 AND c.d2 = t.d2),
         |sw${r}_row AS (SELECT CAST($b AS INT) AS bands,
         |                 CAST($r AS INT) AS rows_per_band,
         |                 CAST(SUM(ch) AS BIGINT) AS n_cand,
         |                 CAST(SUM(th) AS BIGINT) AS n_true,
         |                 CAST(SUM(ch * th) AS BIGINT) AS n_hit,
         |                 CAST(SUM(ch * th) AS DOUBLE) / CAST(SUM(th) AS DOUBLE) AS recall
         |               FROM sw${r}_m)""".stripMargin
    }
    s"""WITH $sqlMinhashCtes,
       |tc AS (SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(DISTINCT a.h) AS common
       |       FROM hv a JOIN hv b ON a.h = b.h AND a.doc_id < b.doc_id
       |       GROUP BY 1, 2),
       |truth AS (SELECT tc.d1, tc.d2 FROM tc
       |          JOIN nsh x ON x.doc_id = tc.d1 JOIN nsh y ON y.doc_id = tc.d2
       |          WHERE CAST(tc.common AS DOUBLE)
       |                / CAST(x.n + y.n - tc.common AS DOUBLE) >= 0.7),
       |${geom(2)},
       |${geom(4)},
       |${geom(8)}
       |SELECT * FROM sw2_row UNION ALL SELECT * FROM sw4_row
       |UNION ALL SELECT * FROM sw8_row ORDER BY rows_per_band""".stripMargin
  }

  /** Hamming-family QA twin of [[dedupEvalOn]]: the pigeonhole banding is
    * LOSSLESS for hamming <= 3, so the only recall the production query
    * can lose is what the hot-bucket cap drops — this measures exactly
    * that (ground truth = the uncapped banding, an exact computation).
    * One row: n_true, n_found, recall. Found pairs are a subset of truth
    * by construction (the cap only removes band rows), so precision is
    * structurally 1 and not reported. Same scale caveat as the Jaccard
    * eval: the uncapped truth side is the eval's cost — sample at 100 TB.
    * Caching differs from [[dedupEval]], which materializes eagerly and
    * releases its caches: this result is lazy, and each [[simHashPairsOn]]
    * leg pins its own fingerprint and band caches after the action, so a
    * long-lived session clears them (`spark.catalog.clearCache()`)
    * between corpora.
    */
  def simhashEval(s: SparkSession, dir: String): DataFrame =
    simhashEvalOn(Tables.t(s, dir, "documents"))

  def simhashEvalOn(documents: DataFrame): DataFrame = {
    val truth = simHashPairsOn(documents, md5Parity = true, capped = false)
      .select(col("d1"), col("d2"), lit(1L).as("__t"))
    val got = simHashPairsOn(documents, md5Parity = true)
      .select(col("d1"), col("d2"), lit(1L).as("__g"))
    truth.join(got, Seq("d1", "d2"), "left_outer")
      .agg(coalesce(sum("__t"), lit(0L)).as("n_true"),
        coalesce(sum("__g"), lit(0L)).as("n_found"))
      .select(col("n_true"), col("n_found"),
        (col("n_found").cast(DoubleType) / col("n_true").cast(DoubleType)).as("recall"))
  }

  val simhashEvalOracle: String =
    s"""WITH $sqlSimhashCtes,
       |tp AS (SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
       |       FROM bands a JOIN bands b ON a.band = b.band AND a.chunk = b.chunk
       |         AND a.doc_id < b.doc_id
       |       WHERE bit_count(xor(a.w_lo, b.w_lo)) + bit_count(xor(a.w_hi, b.w_hi)) <= 3),
       |${sqlBucketCap("bands", "chunk")},
       |gp AS (SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
       |       FROM pb a JOIN pb b ON a.band = b.band AND a.chunk = b.chunk
       |         AND a.doc_id < b.doc_id
       |       WHERE bit_count(xor(a.w_lo, b.w_lo)) + bit_count(xor(a.w_hi, b.w_hi)) <= 3),
       |m AS (SELECT 1 AS th, CASE WHEN gp.d1 IS NULL THEN 0 ELSE 1 END AS gh
       |      FROM tp LEFT JOIN gp ON tp.d1 = gp.d1 AND tp.d2 = gp.d2)
       |SELECT CAST(SUM(th) AS BIGINT) AS n_true,
       |       CAST(SUM(gh) AS BIGINT) AS n_found,
       |       CAST(SUM(gh) AS DOUBLE) / CAST(SUM(th) AS DOUBLE) AS recall
       |FROM m""".stripMargin

  // ---- edit-distance (fuzzy) near-dup ----------------------------------

  /** Fuzzy near-dup pairs by EDIT DISTANCE — the record-linkage member
    * of the near-dup family (Jaccard measures set overlap and misses
    * transpositions/small in-word edits; Levenshtein is the standard
    * fuzzy-match verifier). Candidates come from the SAME md5-basis
    * MinHash bands as [[minHashLshOn]] (banded recall, hot buckets
    * capped — never all-pairs), then each candidate pair is verified
    * with the unit-cost Levenshtein DP, which both engines implement
    * identically (integer-exact), normalized by the longer text.
    *
    * Scale shape: identical to the LSH query until the verify — the
    * bounded candidate set joins the corpus texts per side (broadcast
    * candidates, point-ish text fetch) and the O(len_a x len_b) DP runs
    * only on candidates the bands already vouched for.
    */
  /** `materialize = false` skips the eager checkpoint (and the cache
    * release) — plan-inspection tests only (see hybridSearchOn).
    */
  def editDistPairsOn(documents: DataFrame, maxNorm: Double = 0.25,
      materialize: Boolean = true): DataFrame = {
    val sh = minhashSigs(documents)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val pruned = Banding.capBuckets(bandRows(sh), BandKey, MaxBucket)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val cands = Banding.selfCandidates(pruned, BandKey, "doc_id",
        col("a.doc_id").as("d1"), col("b.doc_id").as("d2"))
      val t = Tables.spread(documents).select(col("doc_id"), col("text"))
      val out = cands
        .join(t.select(col("doc_id").as("d1"), col("text").as("t1")), "d1")
        .join(t.select(col("doc_id").as("d2"), col("text").as("t2")), "d2")
        .withColumn("edit_dist", levenshtein(col("t1"), col("t2")).cast("long"))
        .withColumn("norm_dist", col("edit_dist").cast(DoubleType) /
          greatest(length(col("t1")), length(col("t2"))).cast(DoubleType))
        .filter(col("norm_dist") <= maxNorm)
        .select("d1", "d2", "edit_dist", "norm_dist")
        .orderBy("d1", "d2")
      // the verified pair set is tiny — materialize it eagerly so the
      // two pipeline caches can be dropped before return instead of
      // accumulating across repeated invocations (bench/serve loops)
      if (materialize) out.localCheckpoint(true) else out
    } finally if (materialize) {
      pruned.unpersist()
      sh.unpersist()
    }
  }

  def editDistPairs(s: SparkSession, dir: String): DataFrame =
    editDistPairsOn(Tables.t(s, dir, "documents"))

  /** Oracle: the md5-basis band-candidate replay ([[sqlMinhashCtes]])
    * plus DuckDB's own levenshtein — the same unit-cost DP, so the
    * verify is integer-exact and the normalization one IEEE division.
    */
  val editDistOracle: String =
    s"""WITH $sqlMinhashCands,
       |v AS (SELECT c.d1, c.d2,
       |        CAST(levenshtein(x.text, y.text) AS BIGINT) AS edit_dist,
       |        CAST(levenshtein(x.text, y.text) AS DOUBLE) /
       |          CAST(GREATEST(length(x.text), length(y.text)) AS DOUBLE) AS norm_dist
       |      FROM cand c JOIN documents x ON x.doc_id = c.d1
       |      JOIN documents y ON y.doc_id = c.d2)
       |SELECT d1, d2, edit_dist, norm_dist FROM v
       |WHERE norm_dist <= 0.25 ORDER BY d1, d2""".stripMargin

  /** Connected components over the near-dup pair graph -> dedup clusters
    * (cluster id = min doc_id reachable; keep-list = docs equal to their
    * cluster id). Alternating large-star/small-star (Kiveris et al.,
    * "Connected Components in MapReduce and Beyond", SoCC 2014): converges
    * in O(log n) rounds on ANY graph — vs graph-diameter rounds for naive
    * label propagation, which silently mislabels deep chains past a round
    * cap. The oracle is an independent DuckDB recursive CTE.
    */
  def dupClusters(s: SparkSession, dir: String): DataFrame =
    clusterPairs(jaccardPairsOn(Tables.t(s, dir, "documents")).select("d1", "d2"))

  def clusterPairs(pairs: DataFrame): DataFrame = clusterPairsWithStats(pairs)._1

  /** Large-star: every node links its LARGER neighbors to the minimum of its
    * closed neighborhood. Small-star: every node links its smaller-or-equal
    * neighbors (and itself) to that minimum. Each round is two
    * groupBy-min + join passes over the edge list; the edge set's fixed
    * point is a star forest rooted at component minima. Per-round driver
    * work is one (count, checksum) aggregate to detect the fixed point;
    * every intermediate is unpersisted as soon as it is superseded, and the
    * final labels are localCheckpoint'ed so nothing stays pinned after
    * return. Throws (never silently returns wrong labels) if the round cap
    * is somehow hit.
    */
  private[graft] def clusterPairsWithStats(pairs: DataFrame,
      maxRounds: Int = 50): (DataFrame, Int) = {
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    // canonical undirected edges, larger id first; self-loops dropped.
    // Each round ends in localCheckpoint, not persist: persist caches DATA
    // but the logical plan still nests round-over-round (the self-joins
    // reference the previous round's subtree several times, so plan SIZE
    // grows exponentially — OOMs in plan stringification long before the
    // data is big). Checkpointing makes each round's edges a leaf scan.
    var edges = pairs
      .select(greatest(col("d1"), col("d2")).as("u"),
        least(col("d1"), col("d2")).as("v"))
      .filter(col("u") =!= col("v")).distinct().localCheckpoint(true)
    // output domain = nodes appearing in ANY pair — taken from the RAW
    // input, so a node only mentioned in a self-pair (d1 = d2) still gets
    // a (singleton) label even though its edge is dropped above
    val nodes = pairs.select(col("d1").as("id"))
      .union(pairs.select(col("d2").as("id"))).distinct().persist(lvl)

    def sym(df: DataFrame): DataFrame =
      df.union(df.select(col("v").as("u"), col("u").as("v")))
    def minOfNeighborhood(df: DataFrame): DataFrame =
      sym(df).groupBy("u").agg(least(min(col("v")), col("u")).as("m"))
        .select(col("u").as("mu"), col("m"))
    def canonical(df: DataFrame): DataFrame =
      df.select(greatest(col("u"), col("v")).as("u"),
        least(col("u"), col("v")).as("v"))
        .filter(col("u") =!= col("v")).distinct()

    def checksum(df: DataFrame): (Long, Long) = {
      // set signature: count + order-independent XOR of row hashes (XOR
      // cannot overflow; edges are distinct so nothing self-cancels)
      val row = df.agg(count(lit(1)), expr("bit_xor(xxhash64(u, v))")).head()
      (row.getLong(0), if (row.isNullAt(1)) 0L else row.getLong(1))
    }

    var sig = checksum(edges)
    var rounds = 0
    var converged = false
    while (!converged && rounds < maxRounds) {
      // large-star: (v, m(u)) for v in N(u), v > u
      val large = canonical(
        sym(edges).join(minOfNeighborhood(edges), col("u") === col("mu"))
          .filter(col("v") > col("u"))
          .select(col("v").as("u"), col("m").as("v"))).localCheckpoint(true)
      // small-star over the large-star output: (v, m(u)) for v <= u, plus u
      val smallIn = large
      val small = canonical(
        sym(smallIn).filter(col("v") < col("u"))
          .union(smallIn.select(col("u"), col("u").as("v"))) // closed: u itself
          .groupBy("u").agg(min(col("v")).as("m"))
          .join(sym(smallIn).filter(col("v") < col("u"))
            .union(smallIn.select(col("u"), col("u").as("v"))), "u")
          .select(col("v").as("u"), col("m").as("v"))).localCheckpoint(true)
      val nsig = checksum(small)
      edges = small
      converged = nsig == sig
      sig = nsig
      rounds += 1
    }
    if (!converged) throw new IllegalStateException(
      s"clusterPairs: no fixed point after $maxRounds rounds — refusing to return possibly-wrong labels")

    // fixed point is a star forest: every non-root points at its component
    // min; roots appear only on the v side (or not at all for... roots are
    // the m of their own star). Labels: node -> its v, roots -> themselves.
    val labels = nodes
      .join(edges.select(col("u").as("id"), col("v").as("root")), Seq("id"), "left")
      .select(col("id").as("doc_id"),
        coalesce(col("root"), col("id")).as("cluster_id"))
      .withColumn("keep", col("doc_id") === col("cluster_id"))
      .orderBy("doc_id")
      .localCheckpoint(true) // cut the iterative lineage, then unpin inputs
    nodes.unpersist()
    (labels, rounds)
  }

  // ---- incremental (batch-vs-corpus) dedup ------------------------------
  // The steady-state shape of a training-data pipeline is NOT "dedup the
  // whole corpus": it is "a new batch arrived; which of its docs are
  // already in the corpus?". The scale asymmetry is extreme — the corpus
  // index is the 100 TB side, the daily batch is ~0.1% of it — so the only
  // plan that survives is: BROADCAST the batch fingerprints, STREAM the
  // corpus index past them once. No shuffle of the big side, ever; the
  // corpus index itself is maintained incrementally (append the batch's
  // new fingerprints after the check, exactly like Layout.appendWithManifest
  // maintains file stats).
  //
  // Here the "batch" is carved deterministically out of `documents`
  // (doc_id % 5 == 0 → 20% of docs) so the oracle can compute the identical
  // function; the operator itself takes any (corpus, batch) pair.

  /** Exact incremental dedup: classify each batch doc as `dup_corpus`
    * (its content hash exists in the corpus — `dup_of` = the corpus
    * keeper), `dup_batch` (first seen earlier in this same batch), or
    * `new`. Corpus hits win over batch hits, matching what an ingest
    * pipeline does: docs already ingested are dropped first, then the
    * batch is internally deduped.
    */
  def incrementalDedupOn(corpus: DataFrame, batch: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    def fp(df: DataFrame) = df.select(col("doc_id"), md5(lower(col("text"))).as("fp"))
    // corpus-side index: one fingerprint per distinct content, smallest
    // doc_id as keeper. At scale this frame is precomputed and appended to
    // per batch — recomputing it here is the self-contained-query form.
    val corpusIdx = fp(corpus).groupBy("fp").agg(min(col("doc_id")).as("corpus_keeper"))
    // the batch side feeds BOTH the broadcast probe and the in-batch
    // window; it is small by assumption (it broadcasts), so persist it and
    // scan the batch input once. The corpus — the 100 TB side — is scanned
    // exactly once by construction; Audit pins both counts.
    val batchFp = fp(batch)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // the ONE join against the big side: corpus index streams, batch
    // broadcasts. Inner join → only the hit rows come back.
    val corpusHits = corpusIdx.join(broadcast(batchFp), Seq("fp"))
      .select(col("doc_id"), col("corpus_keeper"))
    // batch-internal keeper: a window over the (small) batch only
    val withBatchKeeper = batchFp.withColumn("batch_keeper",
      min(col("doc_id")).over(Window.partitionBy(col("fp"))))
    withBatchKeeper.join(corpusHits, Seq("doc_id"), "left")
      .select(
        col("doc_id"),
        when(col("corpus_keeper").isNotNull, lit("dup_corpus"))
          .when(col("batch_keeper") < col("doc_id"), lit("dup_batch"))
          .otherwise(lit("new")).as("status"),
        when(col("corpus_keeper").isNotNull, col("corpus_keeper"))
          .when(col("batch_keeper") < col("doc_id"), col("batch_keeper"))
          .as("dup_of"))
      .orderBy("doc_id")
  }

  def incrementalDedup(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.t(s, dir, "documents")
    incrementalDedupOn(
      docs.filter(col("doc_id") % 5 =!= 0),
      docs.filter(col("doc_id") % 5 === 0))
  }

  val incrementalOracle: String =
    """WITH d AS (SELECT doc_id, md5(lower(text)) AS fp FROM documents),
      |corpus AS (SELECT fp, MIN(doc_id) AS corpus_keeper FROM d WHERE doc_id % 5 <> 0 GROUP BY fp),
      |batch AS (SELECT doc_id, fp, MIN(doc_id) OVER (PARTITION BY fp) AS batch_keeper
      |          FROM d WHERE doc_id % 5 = 0)
      |SELECT b.doc_id,
      |       CASE WHEN c.corpus_keeper IS NOT NULL THEN 'dup_corpus'
      |            WHEN b.batch_keeper < b.doc_id THEN 'dup_batch'
      |            ELSE 'new' END AS status,
      |       CASE WHEN c.corpus_keeper IS NOT NULL THEN c.corpus_keeper
      |            WHEN b.batch_keeper < b.doc_id THEN b.batch_keeper END AS dup_of
      |FROM batch b LEFT JOIN corpus c ON b.fp = c.fp
      |ORDER BY b.doc_id""".stripMargin

  // ---- chunk-grain dedup (r15) -----------------------------------------
  // doc_chunk emits md5 chunk fingerprints precisely so dedup can run at
  // CHUNK grain: cross-doc boilerplate (headers, license blocks, templated
  // paragraphs) duplicates chunks long before whole documents match.
  // These queries wire the chunker into the dedup family end-to-end:
  // per-chunk keeper verdicts, per-doc boilerplate fractions with a
  // keep/scrub verdict, and the incremental batch-vs-corpus novelty
  // probe. The scale shape is inherited: the chunker is a pure map stage,
  // and everything after is one hash-shuffle on chunk_fp — the same plan
  // exact doc dedup runs, at ~n/stride x the row count.

  /** Per-chunk exact dedup over the chunk fingerprint table: the keeper
    * of a fingerprint is the lexicographically smallest (doc_id,
    * chunk_idx) occurrence; every other occurrence is a `dup` pointing at
    * it. Keeper rows of multi-occurrence groups report `keeper`,
    * singletons `uniq`, so downstream scrubbing can distinguish "drop
    * this chunk" from "this chunk is the canonical copy".
    */
  def chunkDedupOn(docs: DataFrame): DataFrame = {
    // persist the 3-column chunk table: it feeds both the keeper
    // aggregate and the join-back, and an unpersisted branch pair would
    // re-run the chunker (and re-SCAN the text) twice — Audit pins the
    // single documents scan
    val ch = TextOps.chunkOn(docs).select("doc_id", "chunk_idx", "chunk_fp")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // groupBy + join-back, NOT a window over chunk_fp: a hot boilerplate
    // fingerprint (a license block in millions of docs) would make the
    // window buffer every occurrence in one task; the aggregate gets
    // map-side partial combine and the join redistributes normally —
    // the same shape the DuckDB oracle (kd/ki CTEs) replays
    val kd = ch.groupBy("chunk_fp").agg(
      min(struct(col("doc_id"), col("chunk_idx"))).as("k"),
      count(lit(1)).as("cnt"))
    ch.join(kd, Seq("chunk_fp"))
      .withColumn("is_keeper",
        col("doc_id") === col("k.doc_id") && col("chunk_idx") === col("k.chunk_idx"))
      .select(
        col("doc_id"), col("chunk_idx"), col("chunk_fp"),
        when(col("is_keeper") && col("cnt") > 1, lit("keeper"))
          .when(col("is_keeper"), lit("uniq"))
          .otherwise(lit("dup")).as("status"),
        when(!col("is_keeper"), col("k.doc_id")).as("keeper_doc"),
        when(!col("is_keeper"), col("k.chunk_idx")).as("keeper_idx"))
      .orderBy("doc_id", "chunk_idx")
  }

  def chunkDedup(s: SparkSession, dir: String): DataFrame =
    chunkDedupOn(Tables.t(s, dir, "documents"))

  val chunkDedupOracle: String =
    s"""WITH ${TextOps.chunkCteSql("documents")},
       |ch AS (SELECT doc_id, chunk_idx, md5(chunk_text) AS chunk_fp FROM cx),
       |kd AS (SELECT chunk_fp, MIN(doc_id) AS keeper_doc,
       |              CAST(COUNT(*) AS BIGINT) AS cnt
       |       FROM ch GROUP BY chunk_fp),
       |ki AS (SELECT ch.chunk_fp, MIN(ch.chunk_idx) AS keeper_idx
       |       FROM ch JOIN kd ON ch.chunk_fp = kd.chunk_fp
       |                      AND ch.doc_id = kd.keeper_doc
       |       GROUP BY ch.chunk_fp)
       |SELECT ch.doc_id, ch.chunk_idx, ch.chunk_fp,
       |  CASE WHEN ch.doc_id = kd.keeper_doc AND ch.chunk_idx = ki.keeper_idx
       |       THEN CASE WHEN kd.cnt > 1 THEN 'keeper' ELSE 'uniq' END
       |       ELSE 'dup' END AS status,
       |  CASE WHEN ch.doc_id = kd.keeper_doc AND ch.chunk_idx = ki.keeper_idx
       |       THEN NULL ELSE kd.keeper_doc END AS keeper_doc,
       |  CASE WHEN ch.doc_id = kd.keeper_doc AND ch.chunk_idx = ki.keeper_idx
       |       THEN NULL ELSE ki.keeper_idx END AS keeper_idx
       |FROM ch
       |JOIN kd ON ch.chunk_fp = kd.chunk_fp
       |JOIN ki ON ch.chunk_fp = ki.chunk_fp
       |ORDER BY ch.doc_id, ch.chunk_idx""".stripMargin

  /** Per-doc boilerplate verdict: a chunk is boilerplate when its
    * fingerprint occurs in >= 2 DISTINCT docs (cross-doc repetition, the
    * signature of templated text — intra-doc repeats are doc_repetition's
    * job). A doc whose boilerplate fraction reaches 1/2 is `scrub`,
    * else `keep`; the threshold compares 2*n_boiler >= n_chunks in
    * integers so neither engine's float rounding can flip a verdict.
    */
  def chunkBoilerplateOn(docs: DataFrame): DataFrame = {
    // persisted for the same two-consumer reason as chunkDedupOn
    val ch = TextOps.chunkOn(docs).select("doc_id", "chunk_idx", "chunk_fp")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val nd = ch.groupBy("chunk_fp")
      .agg(countDistinct(col("doc_id")).as("n_docs"))
    ch.join(nd, Seq("chunk_fp"))
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_chunks"),
        sum(when(col("n_docs") >= 2, 1L).otherwise(0L)).as("n_boiler"))
      .select(
        col("doc_id"), col("n_chunks"), col("n_boiler"),
        (col("n_boiler").cast(DoubleType) / col("n_chunks").cast(DoubleType))
          .as("boiler_frac"),
        when(col("n_boiler") * 2 >= col("n_chunks"), lit("scrub"))
          .otherwise(lit("keep")).as("verdict"))
      .orderBy("doc_id")
  }

  def chunkBoilerplate(s: SparkSession, dir: String): DataFrame =
    chunkBoilerplateOn(Tables.t(s, dir, "documents"))

  val chunkBoilerplateOracle: String =
    s"""WITH ${TextOps.chunkCteSql("documents")},
       |ch AS (SELECT doc_id, chunk_idx, md5(chunk_text) AS chunk_fp FROM cx),
       |nd AS (SELECT chunk_fp, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs
       |       FROM ch GROUP BY chunk_fp),
       |agg AS (SELECT ch.doc_id,
       |          CAST(COUNT(*) AS BIGINT) AS n_chunks,
       |          CAST(SUM(CASE WHEN nd.n_docs >= 2 THEN 1 ELSE 0 END) AS BIGINT)
       |            AS n_boiler
       |        FROM ch JOIN nd ON ch.chunk_fp = nd.chunk_fp
       |        GROUP BY ch.doc_id)
       |SELECT doc_id, n_chunks, n_boiler,
       |       CAST(n_boiler AS DOUBLE) / CAST(n_chunks AS DOUBLE) AS boiler_frac,
       |       CASE WHEN n_boiler * 2 >= n_chunks THEN 'scrub' ELSE 'keep' END
       |         AS verdict
       |FROM agg ORDER BY doc_id""".stripMargin

  /** Chunk-grain SCRUB — the action the boilerplate verdict feeds: drop
    * from each doc every token covered ONLY by boilerplate chunks (fp in
    * >= 2 distinct docs) and emit the rebuilt text. With overlapping
    * windows a token can sit under one boiler and one clean chunk — such
    * tokens survive (the clean chunk proves local context that isn't
    * templated), which is why this runs at token grain over the chunk
    * covers rather than dropping whole chunks. An exact-dup doc loses
    * everything (clean_text = ''), the doc-grain dedup family's verdict
    * by other means; a doc QUOTING boilerplate loses just the quoted
    * window. Scale shape: the chunker's map stage, one fp-shuffle for
    * the df counts, one (doc, pos)-shuffle for the cover fold, rebuild
    * map-side over each doc's own token array.
    */
  def chunkScrubOn(docs: DataFrame): DataFrame = {
    // two consumers (df counts + the cover explode): persist so the
    // chunker and its text scan run once; the token-rebuild pass below
    // is the query's one other documents scan (it needs the raw text)
    val ch = TextOps.chunkOn(docs)
      .select("doc_id", "start_tok", "n_tok", "chunk_fp")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val nd = ch.groupBy("chunk_fp")
      .agg(countDistinct(col("doc_id")).as("n_docs"))
    val cover = ch.join(nd, Seq("chunk_fp"))
      .select(col("doc_id"), (col("n_docs") >= 2).as("boiler"),
        explode(sequence(col("start_tok"),
          col("start_tok") + col("n_tok") - 1)).as("pos"))
    val dropped = cover.groupBy("doc_id", "pos")
      .agg(expr("bool_and(boiler)").as("all_boiler"))
      .filter(col("all_boiler"))
      .select(col("doc_id"), col("pos"), lit(true).as("drop"))
    // token-grain rebuild (linear): mark dropped positions with a join,
    // re-assemble kept tokens in position order. An array_contains scan
    // of a drops array per token would be O(n_tokens x n_dropped) on a
    // mostly-boilerplate doc; this is one (doc, pos) join + one per-doc
    // sort-agg, linear like the rest of the pipeline.
    docs
      .select(col("doc_id"),
        posexplode(split(col("text"), " ")).as(Seq("pos0", "t")))
      .withColumn("pos", col("pos0").cast("long"))
      .join(dropped, Seq("doc_id", "pos"), "left")
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_tokens"),
        sum(when(col("drop"), 1L).otherwise(0L)).as("n_dropped"),
        concat_ws(" ", transform(
          array_sort(collect_list(
            when(col("drop").isNull, struct(col("pos"), col("t"))))),
          x => x.getField("t"))).as("clean_text"))
      .select("doc_id", "n_tokens", "n_dropped", "clean_text")
      .orderBy("doc_id")
  }

  def chunkScrub(s: SparkSession, dir: String): DataFrame =
    chunkScrubOn(Tables.t(s, dir, "documents"))

  val chunkScrubOracle: String =
    s"""WITH ${TextOps.chunkCteSql("documents")},
       |ch AS (SELECT doc_id, start_tok, n_tok, md5(chunk_text) AS chunk_fp
       |       FROM cx),
       |nd AS (SELECT chunk_fp, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs
       |       FROM ch GROUP BY chunk_fp),
       |cover AS (SELECT ch.doc_id, nd.n_docs >= 2 AS boiler,
       |            start_tok + CAST(unnest(generate_series(0, n_tok - 1))
       |              AS BIGINT) AS pos
       |          FROM ch JOIN nd ON ch.chunk_fp = nd.chunk_fp),
       |dropped AS (SELECT doc_id, pos FROM cover GROUP BY doc_id, pos
       |            HAVING bool_and(boiler)),
       |tok AS (SELECT c.doc_id, CAST(i - 1 AS BIGINT) AS pos, c.toks[i] AS t
       |        FROM ct c, unnest(generate_series(1, len(c.toks))) AS u(i)),
       |agg AS (SELECT t.doc_id,
       |          CAST(COUNT(*) AS BIGINT) AS n_tokens,
       |          CAST(COUNT(d.pos) AS BIGINT) AS n_dropped,
       |          COALESCE(string_agg(CASE WHEN d.pos IS NULL THEN t.t END,
       |            ' ' ORDER BY t.pos), '') AS clean_text
       |        FROM tok t
       |        LEFT JOIN dropped d ON d.doc_id = t.doc_id AND d.pos = t.pos
       |        GROUP BY t.doc_id)
       |SELECT doc_id, n_tokens, n_dropped, clean_text
       |FROM agg ORDER BY doc_id""".stripMargin

  /** Incremental chunk novelty — the batch-vs-corpus probe at chunk
    * grain: which fraction of an arriving doc's chunks already exist in
    * the corpus chunk-fingerprint store? Same asymmetric plan as
    * [[incrementalDedupOn]]: the batch's distinct fps BROADCAST, the
    * corpus store streams past them ONCE (at scale the store is a
    * maintained table appended per admitted batch, not recomputed); the
    * bounded hit set broadcasts back onto the batch chunks. A doc is
    * `dup_corpus` when every chunk is known, `new` when none is, and —
    * the verdict exact doc dedup cannot give — `partial` when it shares
    * some chunks (an edited near-copy or a doc quoting corpus text).
    */
  def incrementalChunkOn(corpus: DataFrame, batch: DataFrame): DataFrame =
    incrementalChunkAgainst(TextOps.chunkOn(corpus).select("chunk_fp"), batch)

  /** The probe core over any corpus fingerprint frame (one `chunk_fp`
    * column, duplicates tolerated) — shared by the self-contained query
    * and the persisted-store path ([[incrementalChunkFromStore]]).
    */
  def incrementalChunkAgainst(corpusFps: DataFrame, batch: DataFrame): DataFrame = {
    // the batch side feeds both the broadcast probe and the per-doc
    // aggregate; it is small by assumption, so persist it and chunk the
    // batch input once (the incrementalDedupOn discipline) — the corpus
    // side streams exactly once by construction
    val batchCh = TextOps.chunkOn(batch).select("doc_id", "chunk_idx", "chunk_fp")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val batchFps = batchCh.select("chunk_fp").distinct()
    val knownFps = corpusFps.select("chunk_fp")
      .join(broadcast(batchFps), Seq("chunk_fp"))
      .distinct()
    batchCh
      .join(broadcast(knownFps.withColumn("known", lit(1L))), Seq("chunk_fp"), "left")
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_chunks"),
        sum(coalesce(col("known"), lit(0L))).as("n_known"))
      .select(
        col("doc_id"), col("n_chunks"), col("n_known"),
        (col("n_known").cast(DoubleType) / col("n_chunks").cast(DoubleType))
          .as("known_frac"),
        when(col("n_known") === col("n_chunks"), lit("dup_corpus"))
          .when(col("n_known") === 0L, lit("new"))
          .otherwise(lit("partial")).as("status"))
      .orderBy("doc_id")
  }

  def incrementalChunk(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.t(s, dir, "documents")
    incrementalChunkOn(
      docs.filter(col("doc_id") % 5 =!= 0),
      docs.filter(col("doc_id") % 5 === 0))
  }

  /** Persisted chunk-fingerprint store — the maintained-table form of the
    * incremental probe's corpus side, mirroring the novelty index
    * lifecycle ([[writeNoveltyIndex]]): build once from the corpus,
    * probe arriving batches with ZERO corpus re-chunking, append each
    * admitted batch's fingerprints so the next batch sees it as corpus.
    * Rows are (chunk_fp, n) occurrence counts, bucketed on chunk_fp; the
    * store is bounded by DISTINCT fingerprints per write — appending a
    * batch adds at most its distinct-fp count, never its chunk count
    * (ChunkDedupSpec pins the bound; the StreamingSpec leg drives the
    * full stream lifecycle through foreachBatch).
    */
  def writeChunkFpStore(corpus: DataFrame, storePath: String): Unit = {
    val fps = TextOps.chunkOn(corpus)
      .groupBy("chunk_fp").agg(count(lit(1)).as("n"))
    graft.sources.Bucketed.write(fps, s"$storePath/fps", "chunk_fp",
      graft.sources.Bucketed.indexBuckets(corpus.sparkSession))
  }

  /** Probe: identical semantics to [[incrementalChunkOn]] over whatever
    * corpus the store covers.
    */
  def incrementalChunkFromStore(s: SparkSession, batch: DataFrame,
      storePath: String): DataFrame = {
    val fps = graft.sources.Bucketed.read(s, s"$storePath/fps")
      .map(_._1).getOrElse(s.read.parquet(s"$storePath/fps"))
    incrementalChunkAgainst(fps.select("chunk_fp"), batch)
  }

  def appendToChunkFpStore(batch: DataFrame, storePath: String): Unit = {
    val fps = TextOps.chunkOn(batch)
      .groupBy("chunk_fp").agg(count(lit(1)).as("n"))
    if (!graft.sources.Bucketed.append(fps, s"$storePath/fps"))
      fps.write.mode("append").parquet(s"$storePath/fps")
  }

  val incrementalChunkOracle: String =
    s"""WITH ${TextOps.chunkCteSql("documents")},
       |ch AS (SELECT doc_id, chunk_idx, md5(chunk_text) AS chunk_fp FROM cx),
       |corp AS (SELECT DISTINCT chunk_fp FROM ch WHERE doc_id % 5 <> 0),
       |b AS (SELECT doc_id, chunk_idx, chunk_fp FROM ch WHERE doc_id % 5 = 0),
       |agg AS (SELECT b.doc_id,
       |          CAST(COUNT(*) AS BIGINT) AS n_chunks,
       |          CAST(SUM(CASE WHEN corp.chunk_fp IS NOT NULL THEN 1 ELSE 0 END)
       |            AS BIGINT) AS n_known
       |        FROM b LEFT JOIN corp ON b.chunk_fp = corp.chunk_fp
       |        GROUP BY b.doc_id)
       |SELECT doc_id, n_chunks, n_known,
       |       CAST(n_known AS DOUBLE) / CAST(n_chunks AS DOUBLE) AS known_frac,
       |       CASE WHEN n_known = n_chunks THEN 'dup_corpus'
       |            WHEN n_known = 0 THEN 'new'
       |            ELSE 'partial' END AS status
       |FROM agg ORDER BY doc_id""".stripMargin

  /** Chunk-grain NEAR dedup — the fuzzy catcher the exact chunk
    * fingerprints cannot be: a 32-token boilerplate window with ONE
    * edited token has a fresh md5 (invisible to `doc_chunk_dedup`) but
    * word-5-shingle Jaccard ~0.86+, squarely in MinHash-band range. Same
    * machinery as the doc-grain [[minHashLshOn]] — one-pass native
    * `MinHashSig` over the chunker's windows, 16x4 banding, hot-bucket
    * cap, exact-Jaccard verify on the hashed shingle sets — keyed on
    * (doc_id, chunk_idx). Pairs are CROSS-DOC only (within-doc window
    * overlap is structural, and intra-doc repetition is doc_repetition's
    * job) and exclude exact-equal fingerprints (those are
    * doc_chunk_dedup's rows); output is the near-miss remainder, the
    * lightly-edited templated text a scrubber wants flagged.
    *
    * Basis contract mirrors the doc family: production (and the gate)
    * runs the xxhash64 basis, the DuckDB oracle replays the md5 basis,
    * and the output (d1, c1, d2, c2, jaccard) is a basis-independent
    * function of the surviving pair set — BasisParitySpec pins the two
    * bases' chunk pair sets equal on the gate corpus.
    *
    * Scale shape: chunker map stage, signature map stage, one shuffle on
    * (band, bkey), candidate-only verify joins — ~n_chunks = n_tokens /
    * stride rows through the same plan the doc-grain query runs, no
    * all-pairs anywhere.
    */
  def chunkMinhash(s: SparkSession, dir: String): DataFrame =
    chunkMinhashOn(Tables.t(s, dir, "documents"))

  /** Per-chunk index rows — (doc_id, chunk_idx), fp, hashed shingle set,
    * MinHash signature — shared by the one-shot pair query and the
    * incremental probe.
    */
  private def chunkSigs(docs: DataFrame, md5Parity: Boolean): DataFrame =
    TextOps.chunkOn(docs)
      .select(col("doc_id"), col("chunk_idx"), col("chunk_fp"),
        GraftFunctions.graftWordShingles(col("chunk_text"), 5).as("shs"))
      .filter(size(col("shs")) > 0)
      .select(col("doc_id"), col("chunk_idx"), col("chunk_fp"),
        transform(col("shs"), x => h32col(x, md5Parity)).as("hsh"),
        GraftFunctions.graftMinHashSig(col("shs"), md5Parity).as("sig"))

  /** Exploded (doc_id, band, bkey, chunk_idx) band-bucket rows. */
  private def chunkBands(sh: DataFrame, md5Parity: Boolean): DataFrame =
    bandRows(sh, keep = Seq("chunk_idx"), md5Parity = md5Parity)

  def chunkMinhashOn(docs: DataFrame, md5Parity: Boolean = false): DataFrame =
    // one-shot gated form: the two internal caches stay pinned until the
    // session clears them (the result is lazy; compositions that can
    // materialize eagerly use [[chunkMinhashPairs]] and release)
    chunkMinhashPairs(docs, md5Parity)._1

  /** [[chunkMinhashOn]] plus a release hook for its two internal caches —
    * compositions that materialize the pair set (near-boilerplate, the
    * QA eval) call the hook once done instead of pinning the
    * MEMORY_AND_DISK chunk-grain frames for the rest of the session.
    */
  private[graft] def chunkMinhashPairs(docs: DataFrame,
      md5Parity: Boolean): (DataFrame, () => Unit) = {
    // chunk frame + shingle hashes + signatures, persisted: bands feed
    // the hot-bucket count AND the candidate join, and the verify stage
    // joins back twice — unpersisted, the chunker + signature pass (the
    // expensive map work) would run four times
    val sh = chunkSigs(docs, md5Parity)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val pruned = Banding.capBuckets(chunkBands(sh, md5Parity), BandKey, MaxBucket)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val cands = Banding.selfCandidates(pruned, BandKey, "doc_id",
      col("a.doc_id").as("d1"), col("a.chunk_idx").as("c1"),
      col("b.doc_id").as("d2"), col("b.chunk_idx").as("c2"))
    val pairs = Banding.hashedJaccard(cands
        .join(sh.select(col("doc_id").as("d1"), col("chunk_idx").as("c1"),
          col("chunk_fp").as("fp1"), col("hsh").as("hsh1")), Seq("d1", "c1"))
        .join(sh.select(col("doc_id").as("d2"), col("chunk_idx").as("c2"),
          col("chunk_fp").as("fp2"), col("hsh").as("hsh2")), Seq("d2", "c2"))
        .filter(col("fp1") =!= col("fp2")),
        "hsh1", "hsh2")
      .filter(col("jaccard") >= 0.7)
      .select("d1", "c1", "d2", "c2", "jaccard")
      .orderBy("d1", "c1", "d2", "c2")
    (pairs, () => { sh.unpersist(); pruned.unpersist() })
  }

  /** Shared CTE chain for the chunk-grain minhash replays on the md5
    * basis — the chunker, per-chunk shingles, 32-bit basis hashes,
    * signatures, band-bucket keys and shingle-set sizes, all keyed on
    * (doc_id, chunk_idx). Terminal CTEs: `sh` (fp + shingles), `hv`
    * (hashes), `bands`, `nsh` — callers append cap/candidate/verify
    * stages ([[chunkMinhashOracle]], [[incrChunkMinhashOracle]]).
    */
  private def sqlChunkMinhashCtes: String = {
    val perms = graft.functions.MinHashSig.A
      .zip(graft.functions.MinHashSig.B).zipWithIndex
      .map { case ((a, b), p) => s"($p, $a, $b)" }
      .mkString(", ")
    val bandConcat = (1 to RowsPerBand)
      .map(r => s"CAST(sig[band * $RowsPerBand + $r] AS VARCHAR)")
      .mkString(" || ',' || ")
    s"""${TextOps.chunkCteSql("documents")},
       |chv AS (SELECT doc_id, chunk_idx, md5(chunk_text) AS chunk_fp,
       |          str_split(chunk_text, ' ') AS toks
       |        FROM cx WHERE len(str_split(chunk_text, ' ')) >= 5),
       |sh AS (SELECT doc_id, chunk_idx, chunk_fp,
       |         list_distinct(list_transform(range(1, len(toks) - 3),
       |           i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' ' ||
       |                toks[i+3] || ' ' || toks[i+4])) AS shs
       |       FROM chv),
       |inv AS (SELECT doc_id, chunk_idx, unnest(shs) AS s FROM sh),
       |hh AS (SELECT doc_id, chunk_idx, md5(s) AS m FROM inv),
       |hv AS (SELECT doc_id, chunk_idx, ${sqlHexPoly("m", 1, 8)} AS h FROM hh),
       |perms AS (SELECT * FROM (VALUES $perms) AS t(p, a, b)),
       |sigv AS (SELECT doc_id, chunk_idx, p,
       |           MIN((a * h + b) % ${graft.functions.MinHashSig.P}) AS v
       |         FROM hv, perms GROUP BY doc_id, chunk_idx, p),
       |sig AS (SELECT doc_id, chunk_idx, list(v ORDER BY p) AS sig
       |        FROM sigv GROUP BY doc_id, chunk_idx),
       |bm AS (SELECT doc_id, chunk_idx, band, md5($bandConcat) AS m
       |       FROM sig, unnest(generate_series(0, ${Bands - 1})) AS t(band)),
       |bands AS (SELECT doc_id, chunk_idx, band, ${sqlHexPoly("m", 1, 15)} AS bkey
       |          FROM bm),
       |nsh AS (SELECT doc_id, chunk_idx, COUNT(*) AS n FROM hv
       |        GROUP BY doc_id, chunk_idx)""".stripMargin
  }

  /** DuckDB replay of [[chunkMinhashOn]] on the md5 basis: the chunker
    * CTE chain, then the doc-grain minhash pipeline keyed on
    * (doc_id, chunk_idx).
    */
  /** The full pair pipeline on top of [[sqlChunkMinhashCtes]] — cap,
    * candidates, exact-fp exclusion, Jaccard verify — terminal CTE `jp`
    * (d1, c1, d2, c2, jaccard). Shared by the pair replay and the
    * near-boilerplate composition.
    */
  private def sqlChunkMinhashPairCtes: String =
    s"""$sqlChunkMinhashCtes,
       |${sqlBucketCap("bands", "bkey")},
       |cand AS (SELECT DISTINCT a.doc_id AS d1, a.chunk_idx AS c1,
       |           b.doc_id AS d2, b.chunk_idx AS c2
       |         FROM pb a JOIN pb b ON a.band = b.band AND a.bkey = b.bkey
       |           AND a.doc_id < b.doc_id),
       |candx AS (SELECT c.* FROM cand c
       |          JOIN sh x ON x.doc_id = c.d1 AND x.chunk_idx = c.c1
       |          JOIN sh y ON y.doc_id = c.d2 AND y.chunk_idx = c.c2
       |          WHERE x.chunk_fp <> y.chunk_fp),
       |com AS (SELECT c.d1, c.c1, c.d2, c.c2, COUNT(DISTINCT x.h) AS common
       |        FROM candx c
       |        JOIN hv x ON x.doc_id = c.d1 AND x.chunk_idx = c.c1
       |        JOIN hv y ON y.doc_id = c.d2 AND y.chunk_idx = c.c2 AND y.h = x.h
       |        GROUP BY c.d1, c.c1, c.d2, c.c2),
       |jp AS (SELECT com.d1, com.c1, com.d2, com.c2,
       |         CAST(common AS DOUBLE) / CAST(n1.n + n2.n - common AS DOUBLE)
       |           AS jaccard
       |       FROM com
       |       JOIN nsh n1 ON n1.doc_id = com.d1 AND n1.chunk_idx = com.c1
       |       JOIN nsh n2 ON n2.doc_id = com.d2 AND n2.chunk_idx = com.c2
       |       WHERE CAST(common AS DOUBLE) / CAST(n1.n + n2.n - common AS DOUBLE)
       |         >= 0.7)""".stripMargin

  val chunkMinhashOracle: String =
    s"""WITH $sqlChunkMinhashPairCtes
       |SELECT d1, c1, d2, c2, jaccard FROM jp ORDER BY d1, c1, d2, c2""".stripMargin

  /** Near-aware boilerplate verdict — the COMPLETE fuzzy detector the
    * exact verdict (chunkBoilerplateOn) approximates: a chunk is
    * boilerplate when its fingerprint occurs in >= 2 distinct docs
    * (exact, 27l5's rule) OR when it sits in a verified >= 0.7 near pair
    * with another doc's chunk (the lightly-edited template the md5 rule
    * misses). Same integer 1/2 scrub threshold; `n_exact_boiler` and
    * `n_near_boiler` are reported separately so the near rule's marginal
    * catch is visible per doc. The verdict depends on the near PAIR SET
    * only (never on basis-specific jaccard values), so the xx-basis gate
    * replays against the md5 oracle under the same BasisParitySpec pin
    * as the pair query itself.
    */
  def chunkNearBoilerplate(s: SparkSession, dir: String): DataFrame =
    chunkNearBoilerplateOn(Tables.t(s, dir, "documents"))

  def chunkNearBoilerplateOn(docs: DataFrame): DataFrame = {
    // ALL chunks (the pair pipeline drops <5-token windows — those can
    // still be exact boilerplate, so the verdict counts over the full
    // chunk table)
    val ch = TextOps.chunkOn(docs).select("doc_id", "chunk_idx", "chunk_fp")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val nd = ch.groupBy("chunk_fp")
      .agg(countDistinct(col("doc_id")).as("n_docs"))
    val (pairs, releasePairs) = chunkMinhashPairs(docs, md5Parity = false)
    val nearIds = pairs
      .select(col("d1").as("doc_id"), col("c1").as("chunk_idx"))
      .unionByName(pairs.select(col("d2").as("doc_id"), col("c2").as("chunk_idx")))
      .distinct()
      .withColumn("near", lit(1L))
    val verdicts = ch.join(nd, Seq("chunk_fp"))
      .join(nearIds, Seq("doc_id", "chunk_idx"), "left")
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_chunks"),
        sum(when(col("n_docs") >= 2, 1L).otherwise(0L)).as("n_exact_boiler"),
        sum(when(col("n_docs") < 2 && col("near").isNotNull, 1L).otherwise(0L))
          .as("n_near_boiler"))
      .withColumn("n_boiler", col("n_exact_boiler") + col("n_near_boiler"))
      .withColumn("verdict",
        when(col("n_boiler") * 2 >= col("n_chunks"), lit("scrub"))
          .otherwise(lit("keep")))
      .select("doc_id", "n_chunks", "n_exact_boiler", "n_near_boiler",
        "n_boiler", "verdict")
      .orderBy("doc_id")
    // Materialize the per-doc verdicts eagerly (one 6-scalar row per doc,
    // orders smaller than the chunk sig/band frames upstream), then
    // release the three MEMORY_AND_DISK caches the composition pinned —
    // the lazy form kept all three alive for the rest of the session.
    val out = verdicts.localCheckpoint()
    ch.unpersist()
    releasePairs()
    out
  }

  val chunkNearBoilerplateOracle: String =
    s"""WITH $sqlChunkMinhashPairCtes,
       |ch AS (SELECT doc_id, chunk_idx, md5(chunk_text) AS chunk_fp FROM cx),
       |nd AS (SELECT chunk_fp, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs
       |       FROM ch GROUP BY chunk_fp),
       |near AS (SELECT DISTINCT doc_id, chunk_idx FROM (
       |           SELECT d1 AS doc_id, c1 AS chunk_idx FROM jp
       |           UNION ALL SELECT d2, c2 FROM jp)),
       |agg AS (SELECT ch.doc_id,
       |          CAST(COUNT(*) AS BIGINT) AS n_chunks,
       |          CAST(SUM(CASE WHEN nd.n_docs >= 2 THEN 1 ELSE 0 END) AS BIGINT)
       |            AS n_exact_boiler,
       |          CAST(SUM(CASE WHEN nd.n_docs < 2 AND near.doc_id IS NOT NULL
       |            THEN 1 ELSE 0 END) AS BIGINT) AS n_near_boiler
       |        FROM ch
       |        JOIN nd ON ch.chunk_fp = nd.chunk_fp
       |        LEFT JOIN near ON near.doc_id = ch.doc_id
       |                      AND near.chunk_idx = ch.chunk_idx
       |        GROUP BY ch.doc_id)
       |SELECT doc_id, n_chunks, n_exact_boiler, n_near_boiler,
       |       n_exact_boiler + n_near_boiler AS n_boiler,
       |       CASE WHEN (n_exact_boiler + n_near_boiler) * 2 >= n_chunks
       |            THEN 'scrub' ELSE 'keep' END AS verdict
       |FROM agg ORDER BY doc_id""".stripMargin

  /** Incremental chunk-grain NEAR-dup — the missing cell of the
    * {exact, near} x {batch, incremental} x {doc, chunk} matrix: an
    * arriving batch's chunks probe the corpus chunk band index for
    * lightly-EDITED boilerplate ([[incrementalChunkOn]] answers only
    * "chunk fp already known"). Same asymmetric plan as the doc-grain
    * probe: the batch's band keys BROADCAST, the corpus band index
    * streams past them once (hot-bucket cap counted over corpus bands
    * only — the index is pruned before any batch arrives); candidate
    * chunk pairs verify with exact Jaccard, exact-equal fps excluded
    * (those are the exact probe's rows).
    */
  def incrementalChunkMinhash(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.t(s, dir, "documents")
    chunkMinhashProbeOn(
      docs.filter(col("doc_id") % 5 =!= 0),
      docs.filter(col("doc_id") % 5 === 0))
  }

  def chunkMinhashProbeOn(corpus: DataFrame, batch: DataFrame,
      md5Parity: Boolean = false): DataFrame = {
    // self-contained form: corpus signatures recomputed here and
    // persisted (bands + verify join consume them); the steady-state
    // ingest path serves them from the stored index instead
    // ([[writeChunkMinhashIndex]] / [[incrementalChunkMinhashFromIndex]])
    val cs = chunkSigs(corpus, md5Parity)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    chunkProbeCore(cs, chunkBands(cs, md5Parity), batch, md5Parity)
  }

  /** Probe core over a given corpus side (recomputed or stored): the
    * batch side is broadcast-sized by the incremental contract; the
    * corpus signature table streams past the candidates ONCE.
    */
  private def chunkProbeCore(cs: DataFrame, corpusBands: DataFrame,
      batch: DataFrame, md5Parity: Boolean): DataFrame = {
    val bs = chunkSigs(batch, md5Parity)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val cands = Banding.probeCandidates(
      Banding.capBuckets(corpusBands, BandKey, MaxBucket),
      broadcast(chunkBands(bs, md5Parity)), BandKey,
      col("b.doc_id").as("batch_doc"), col("b.chunk_idx").as("batch_idx"),
      col("c.doc_id").as("corpus_doc"), col("c.chunk_idx").as("corpus_idx"))
    Banding.hashedJaccard(cands
        .join(broadcast(bs.select(col("doc_id").as("batch_doc"),
          col("chunk_idx").as("batch_idx"), col("chunk_fp").as("fp_b"),
          col("hsh").as("hsh_b"))), Seq("batch_doc", "batch_idx"))
        .join(cs.select(col("doc_id").as("corpus_doc"),
          col("chunk_idx").as("corpus_idx"), col("chunk_fp").as("fp_c"),
          col("hsh").as("hsh_c")), Seq("corpus_doc", "corpus_idx"))
        .filter(col("fp_b") =!= col("fp_c")),
        "hsh_b", "hsh_c")
      .filter(col("jaccard") >= 0.7)
      .select("batch_doc", "batch_idx", "corpus_doc", "corpus_idx", "jaccard")
      .orderBy("batch_doc", "batch_idx", "corpus_doc", "corpus_idx")
  }

  /** DuckDB replay of [[incrementalChunkMinhash]] on the md5 basis:
    * corpus = doc_id % 5 <> 0, batch = doc_id % 5 = 0, cap counted over
    * CORPUS bands only, batch bands join unpruned.
    */
  val incrChunkMinhashOracle: String = {
    s"""WITH $sqlChunkMinhashCtes,
       |cb AS (SELECT * FROM bands WHERE doc_id % 5 <> 0),
       |bb AS (SELECT * FROM bands WHERE doc_id % 5 = 0),
       |${sqlBucketCap("cb", "bkey")},
       |cand AS (SELECT DISTINCT b.doc_id AS batch_doc, b.chunk_idx AS batch_idx,
       |           c.doc_id AS corpus_doc, c.chunk_idx AS corpus_idx
       |         FROM pb c JOIN bb b ON c.band = b.band AND c.bkey = b.bkey),
       |candx AS (SELECT c.* FROM cand c
       |          JOIN sh x ON x.doc_id = c.batch_doc AND x.chunk_idx = c.batch_idx
       |          JOIN sh y ON y.doc_id = c.corpus_doc AND y.chunk_idx = c.corpus_idx
       |          WHERE x.chunk_fp <> y.chunk_fp),
       |com AS (SELECT c.batch_doc, c.batch_idx, c.corpus_doc, c.corpus_idx,
       |          COUNT(DISTINCT x.h) AS common
       |        FROM candx c
       |        JOIN hv x ON x.doc_id = c.batch_doc AND x.chunk_idx = c.batch_idx
       |        JOIN hv y ON y.doc_id = c.corpus_doc AND y.chunk_idx = c.corpus_idx
       |          AND y.h = x.h
       |        GROUP BY c.batch_doc, c.batch_idx, c.corpus_doc, c.corpus_idx),
       |jp AS (SELECT com.batch_doc, com.batch_idx, com.corpus_doc, com.corpus_idx,
       |         CAST(common AS DOUBLE) / CAST(n1.n + n2.n - common AS DOUBLE)
       |           AS jaccard
       |       FROM com
       |       JOIN nsh n1 ON n1.doc_id = com.batch_doc AND n1.chunk_idx = com.batch_idx
       |       JOIN nsh n2 ON n2.doc_id = com.corpus_doc AND n2.chunk_idx = com.corpus_idx
       |       WHERE CAST(common AS DOUBLE) / CAST(n1.n + n2.n - common AS DOUBLE)
       |         >= 0.7)
       |SELECT batch_doc, batch_idx, corpus_doc, corpus_idx, jaccard FROM jp
       |ORDER BY batch_doc, batch_idx, corpus_doc, corpus_idx""".stripMargin
  }

  /** Measured QUALITY of the chunk-grain banded pipeline — the QA row
    * 30e ships for the doc grain, at chunk grain: exact ground truth =
    * ALL cross-doc, non-exact chunk pairs with RAW-shingle-string
    * Jaccard >= 0.7 (computed losslessly by an inverted-index join over
    * the shingle strings themselves — no banding, no cap, and no 32-bit
    * hashing on the truth side), candidates = the gated
    * [[chunkMinhashOn]] output, which verifies over the 32-bit hashed
    * sets. One row: pair counts, hits, recall (band coverage of true
    * pairs) and precision. Because truth and candidates use DIFFERENT
    * shingle representations, a 32-bit collision that pushes a
    * sub-threshold pair over 0.7 in hashed space lands in n_lsh but not
    * n_true — precision is a real measurement, not a tautology (the
    * pre-r16 form computed truth over the same hashed sets, making the
    * verified output a subset of truth by construction). The truth side
    * is the eval's cost, exactly as at doc grain: an inverted-index
    * self-join that explodes on hot shingles — run it when tuning, not
    * per ingest.
    */
  def chunkDedupEval(s: SparkSession, dir: String): DataFrame =
    chunkDedupEvalOn(Tables.t(s, dir, "documents"))

  def chunkDedupEvalOn(docs: DataFrame): DataFrame = {
    val sh = TextOps.chunkOn(docs)
      .select(col("doc_id"), col("chunk_idx"), col("chunk_fp"),
        GraftFunctions.graftWordShingles(col("chunk_text"), 5).as("shs"))
      .filter(size(col("shs")) > 0)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val hv = sh.select(col("doc_id"), col("chunk_idx"), explode(col("shs")).as("s"))
    val nsh = sh.select(col("doc_id"), col("chunk_idx"),
      size(col("shs")).cast("long").as("n"))
    val tc = hv.as("a")
      .join(hv.as("b"),
        col("a.s") === col("b.s") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("d1"), col("a.chunk_idx").as("c1"),
        col("b.doc_id").as("d2"), col("b.chunk_idx").as("c2"))
      .agg(countDistinct(col("a.s")).as("common"))
    val truth = tc
      .join(nsh.select(col("doc_id").as("d1"), col("chunk_idx").as("c1"),
        col("n").as("n1")), Seq("d1", "c1"))
      .join(nsh.select(col("doc_id").as("d2"), col("chunk_idx").as("c2"),
        col("n").as("n2")), Seq("d2", "c2"))
      .join(sh.select(col("doc_id").as("d1"), col("chunk_idx").as("c1"),
        col("chunk_fp").as("fp1")), Seq("d1", "c1"))
      .join(sh.select(col("doc_id").as("d2"), col("chunk_idx").as("c2"),
        col("chunk_fp").as("fp2")), Seq("d2", "c2"))
      .filter(col("fp1") =!= col("fp2"))
      .filter(col("common").cast(DoubleType) /
        (col("n1") + col("n2") - col("common")).cast(DoubleType) >= 0.7)
      .select(col("d1"), col("c1"), col("d2"), col("c2"), lit(1L).as("__t"))
    val (pairs, releasePairs) = chunkMinhashPairs(docs, md5Parity = false)
    val lsh = pairs
      .select(col("d1"), col("c1"), col("d2"), col("c2"), lit(1L).as("__l"))
    val eval = truth.join(lsh, Seq("d1", "c1", "d2", "c2"), "full_outer")
      .agg(coalesce(sum("__t"), lit(0L)).as("n_true"),
        coalesce(sum("__l"), lit(0L)).as("n_lsh"),
        coalesce(sum(col("__t") * col("__l")), lit(0L)).as("n_hit"))
      .select(col("n_true"), col("n_lsh"), col("n_hit"),
        (col("n_hit").cast(DoubleType) / col("n_true").cast(DoubleType)).as("recall"),
        (col("n_hit").cast(DoubleType) / col("n_lsh").cast(DoubleType)).as("precision"))
    // single summary row: materialize eagerly, release both caches
    val out = eval.localCheckpoint()
    sh.unpersist()
    releasePairs()
    out
  }

  /** Oracle: the md5-basis chunk pair replay full-outer-joined against
    * an exact >= 0.7 truth over the RAW shingle strings (inverted-index
    * `tc` on `inv.s`, sizes from `len(shs)`, fps-differ, no cap) —
    * the truth side never touches the 32-bit hash basis, so a verify
    * collision is a measurable precision miss; counts integers,
    * recall/precision one IEEE division each.
    */
  val chunkDedupEvalOracle: String =
    s"""WITH $sqlChunkMinhashPairCtes,
       |nshr AS (SELECT doc_id, chunk_idx, CAST(len(shs) AS BIGINT) AS n FROM sh),
       |tc AS (SELECT a.doc_id AS d1, a.chunk_idx AS c1,
       |         b.doc_id AS d2, b.chunk_idx AS c2, COUNT(DISTINCT a.s) AS common
       |       FROM inv a JOIN inv b ON a.s = b.s AND a.doc_id < b.doc_id
       |       GROUP BY 1, 2, 3, 4),
       |truth AS (SELECT tc.d1, tc.c1, tc.d2, tc.c2 FROM tc
       |          JOIN nshr x ON x.doc_id = tc.d1 AND x.chunk_idx = tc.c1
       |          JOIN nshr y ON y.doc_id = tc.d2 AND y.chunk_idx = tc.c2
       |          JOIN sh fx ON fx.doc_id = tc.d1 AND fx.chunk_idx = tc.c1
       |          JOIN sh fy ON fy.doc_id = tc.d2 AND fy.chunk_idx = tc.c2
       |          WHERE fx.chunk_fp <> fy.chunk_fp
       |            AND CAST(tc.common AS DOUBLE)
       |                / CAST(x.n + y.n - tc.common AS DOUBLE) >= 0.7),
       |m AS (SELECT COALESCE(t.hit, 0) AS th, COALESCE(l.hit, 0) AS lh
       |      FROM (SELECT d1, c1, d2, c2, 1 AS hit FROM truth) t
       |      FULL OUTER JOIN (SELECT d1, c1, d2, c2, 1 AS hit FROM jp) l
       |        ON t.d1 = l.d1 AND t.c1 = l.c1 AND t.d2 = l.d2 AND t.c2 = l.c2)
       |SELECT CAST(SUM(th) AS BIGINT) AS n_true,
       |       CAST(SUM(lh) AS BIGINT) AS n_lsh,
       |       CAST(SUM(th * lh) AS BIGINT) AS n_hit,
       |       CAST(SUM(th * lh) AS DOUBLE) / CAST(SUM(th) AS DOUBLE) AS recall,
       |       CAST(SUM(th * lh) AS DOUBLE) / CAST(SUM(lh) AS DOUBLE) AS precision
       |FROM m""".stripMargin

  /** Materialize the chunk MinHash band index — the steady-state ingest
    * form of [[chunkMinhashProbeOn]]: corpus chunking/shingling/hashing
    * happens ONCE at build; every subsequent batch probes the stored
    * tables and appends its own rows without touching any existing
    * corpus chunk. Same marker discipline as the doc-grain index (drop
    * first, write LAST after both parquet writes): a crashed rebuild
    * leaves a marker-less index that fails loudly, never a valid marker
    * over partial band rows. Sigs bucket on doc_id (a doc's chunks
    * colocate; the probe's verify join against a bucketed layout needs
    * no corpus-side exchange).
    */
  def writeChunkMinhashIndex(corpus: DataFrame, indexPath: String): Unit = {
    dropBasisMarker(corpus.sparkSession, indexPath)
    val sig = chunkSigs(corpus, md5Parity = false)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    graft.sources.Bucketed.write(sig, s"$indexPath/sigs", "doc_id",
      graft.sources.Bucketed.indexBuckets(corpus.sparkSession))
    chunkBands(sig, md5Parity = false).write.mode("overwrite")
      .parquet(s"$indexPath/bands")
    sig.unpersist()
    writeBasisMarker(corpus.sparkSession, indexPath)
  }

  /** Probe a stored chunk index: identical semantics to
    * [[chunkMinhashProbeOn]] over whatever corpus the index covers, with
    * zero corpus recomputation (hot-bucket pruning runs over the stored
    * band table, so appended hot clusters stay capped).
    */
  def incrementalChunkMinhashFromIndex(s: SparkSession, batch: DataFrame,
      indexPath: String): DataFrame = {
    requireIndexBasis(s, indexPath)
    val sigs = graft.sources.Bucketed.read(s, s"$indexPath/sigs")
      .map(_._1).getOrElse(s.read.parquet(s"$indexPath/sigs"))
    chunkProbeCore(sigs, s.read.parquet(s"$indexPath/bands"), batch,
      md5Parity = false)
  }

  /** Extend the chunk index with a new batch: one map pass over the
    * batch only; the next batch's probe sees these chunks as corpus.
    * Appends run under the same marker discipline as rebuilds (drop
    * first, restore LAST): a crash between the sig and band appends
    * would otherwise leave a valid-marker index whose new chunks are
    * silently invisible to probes — sig rows with no band rows, or
    * band candidates whose verify join finds no signature.
    */
  def appendToChunkMinhashIndex(batch: DataFrame, indexPath: String): Unit = {
    requireIndexBasis(batch.sparkSession, indexPath)
    dropBasisMarker(batch.sparkSession, indexPath)
    val sig = chunkSigs(batch, md5Parity = false)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    if (!graft.sources.Bucketed.append(sig, s"$indexPath/sigs"))
      sig.write.mode("append").parquet(s"$indexPath/sigs")
    chunkBands(sig, md5Parity = false).write.mode("append")
      .parquet(s"$indexPath/bands")
    sig.unpersist()
    writeBasisMarker(batch.sparkSession, indexPath)
  }

  /** Chunk-grain twin of [[compactMinHashIndex]]: rewrite the chunk
    * index's append deltas (one sig delta per bucket plus band part
    * files per ingest batch) into one fresh tiling with identical probe
    * results. Register with `Maintain.runIndex` like the doc-grain
    * family so steady-state appends stay bounded.
    */
  def compactChunkMinhashIndex(s: SparkSession, indexPath: String): Unit = {
    import graft.sources.IndexCompact
    if (!IndexCompact.rewriteBucketed(s, s"$indexPath/sigs"))
      IndexCompact.rewritePlain(s, s"$indexPath/sigs", Seq("doc_id"))
    IndexCompact.rewritePlain(s, s"$indexPath/bands", Seq("band", "bkey"))
  }

  /** Incremental NEAR-dup: batch docs probe the corpus's MinHash band
    * index. Same asymmetric plan — the corpus band index (at scale: a
    * maintained table, 16 rows per corpus doc) streams past the
    * broadcast batch band keys; candidates verify with exact Jaccard on
    * the hashed shingle arrays. Sketch-based → rows-only gate, recall
    * unit-tested against the exact pair join.
    */
  /** Per-doc index rows — doc_id, hashed shingle set, MinHash signature —
    * shared by the one-shot, index-backed and streaming probe paths.
    * `keep` columns ride along (e.g. the stream's event-time column).
    * One shingle pass per document ([[shingleRows]]).
    */
  private[graft] def minhashSigs(df: DataFrame, keep: Seq[String] = Nil,
      md5Parity: Boolean = false): DataFrame =
    shingleRows(df, keep)
      .select(col("doc_id") +:
        transform(col("shs"), s => h32col(s, md5Parity)).as("hsh") +:
        GraftFunctions.graftMinHashSig(col("shs"), md5Parity).as("sig") +: keep.map(col): _*)

  /** [[minhashSigs]] over a pre-shingled (doc_id, shs) frame (the
    * [[minHashLshPairsFrom]] and [[lshSweepOn]] sharing point).
    */
  private[graft] def minhashSigsFrom(raw: DataFrame,
      md5Parity: Boolean = false): DataFrame =
    raw.select(col("doc_id"),
      transform(col("shs"), s => h32col(s, md5Parity)).as("hsh"),
      GraftFunctions.graftMinHashSig(col("shs"), md5Parity).as("sig"))

  /** (doc_id, band, bkey) band-bucket rows of a signature frame, `rows`
    * signature values per band (the production geometry by default).
    */
  private[graft] def bandRows(df: DataFrame, keep: Seq[String] = Nil,
      md5Parity: Boolean = false, rows: Int = RowsPerBand): DataFrame = {
    val bandKeys = (0 until NumPerm / rows).map { b =>
      val vals = (0 until rows).map(r => col("sig").getItem(b * rows + r))
      struct(lit(b).as("band"), bkeyCol(vals, md5Parity).as("bkey"))
    }
    df.select(col("doc_id") +: explode(array(bandKeys: _*)).as("bk") +: keep.map(col): _*)
      .select(col("doc_id") +: col("bk.band").as("band") +:
        col("bk.bkey").as("bkey") +: keep.map(col): _*)
  }

  /** The probe core: batch band keys broadcast against the corpus band
    * rows (hot buckets pruned), candidates verified with exact Jaccard on
    * the hashed shingle arrays. The corpus side — band rows AND signature
    * rows — only ever streams: candidates are bounded by the batch
    * (x MaxBucket matches), so both verify joins broadcast the candidate
    * frame, never a shuffle of the 100 TB signatures by corpus_doc.
    */
  private def minhashProbe(corpusSig: DataFrame, corpusBands: DataFrame,
      batch: DataFrame, sigLookup: Option[(String, Int)] = None,
      md5Parity: Boolean = false): DataFrame = {
    // basis must match the corpus side the caller computed/stored
    val batchSig = minhashSigs(batch, md5Parity = md5Parity)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val cands = Banding.probeCandidates(
      Banding.capBuckets(corpusBands, BandKey, MaxBucket),
      broadcast(bandRows(batchSig, md5Parity = md5Parity)), BandKey,
      col("b.doc_id").as("batch_doc"), col("c.doc_id").as("corpus_doc"))
    // verify resolution: when the signature table is a BUCKETED serving
    // layout (writeMinHashIndex), the candidate PAIRS — bounded by
    // |batch| x MaxBucket — are collected ONCE (two longs per pair, the
    // same driver-scale bound as the id IN-list they imply) and drive
    // both sides of the verify: the corpus ids push down as an IN on the
    // bucket key (the scan reads only the buckets they hash to instead of
    // streaming the whole corpus signature table), and the verify join
    // rebuilds the candidate frame from the DRIVER-LOCAL pairs — the
    // corpus band table is scanned exactly once per probe, and nothing
    // needs a per-probe persist. Past the lookup cap (or for legacy
    // plain-parquet indexes) fall back to the single-plan streaming form:
    // full signature scan, candidate subtree shared inside one plan.
    val s = corpusSig.sparkSession
    val lookupPairs: Option[Array[org.apache.spark.sql.Row]] =
      sigLookup.flatMap { _ =>
        val cap = graft.sources.Bucketed.lookupMax(s)
        val rows = cands.limit(cap + 1).collect()
        if (rows.length > cap) None else Some(rows)
      }
    val candB = lookupPairs match {
      case Some(rows) =>
        import s.implicits._
        val local = rows.map(r => (r.getLong(0), r.getLong(1))).toIndexedSeq
          .toDF("batch_doc", "corpus_doc")
        local.join(broadcast(batchSig.select(
          col("doc_id").as("batch_doc"), col("hsh").as("hsh_b"))), "batch_doc")
      case None =>
        cands.join(broadcast(batchSig.select(
          col("doc_id").as("batch_doc"), col("hsh").as("hsh_b"))), "batch_doc")
    }
    val sigSide = (sigLookup, lookupPairs) match {
      case (Some((key, n)), Some(rows)) =>
        val ids = rows.map(_.getLong(1)).distinct.toIndexedSeq
        if (ids.isEmpty) corpusSig.limit(0)
        // an id set that would select ~every bucket anyway makes the IN
        // pure overhead — stream the table instead (the driver-local
        // pairs still replace the candidate subtree either way)
        else if (graft.sources.Bucketed.lookupWorthwhile(s, ids.length, n))
          corpusSig.filter(col(key).isin(ids: _*))
        else corpusSig
      case _ => corpusSig
    }
    Banding.hashedJaccard(sigSide
        .select(col("doc_id").as("corpus_doc"), col("hsh").as("hsh_c"))
        .join(broadcast(candB), "corpus_doc"), "hsh_b", "hsh_c")
      .filter(col("jaccard") >= 0.7)
      .select("batch_doc", "corpus_doc", "jaccard")
      .orderBy("batch_doc", "corpus_doc")
  }

  def incrementalMinHashOn(corpus: DataFrame, batch: DataFrame,
      md5Parity: Boolean = false): DataFrame = {
    // self-contained form: the corpus signatures are recomputed here (and
    // persisted — band building and candidate verify both consume them);
    // the steady-state ingest path serves them from a maintained table
    // instead ([[writeMinHashIndex]] / [[incrementalMinHashFromIndex]])
    val corpusSig = minhashSigs(corpus, md5Parity = md5Parity)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    minhashProbe(corpusSig, bandRows(corpusSig, md5Parity = md5Parity), batch,
      md5Parity = md5Parity)
  }

  /** The stored index's hash-basis marker. A probe or append whose basis
    * differs from the one that BUILT the index is not an error Spark can
    * see: band keys simply never match, so probes return an empty pair
    * set (silent 0 recall) and appends interleave mixed-basis rows —
    * permanent corruption. The layout therefore records its basis
    * (`_graft_basis`, one line) and every reader/appender verifies it.
    * Current build basis: xxhash64; an r11-era md5 index (pre-marker)
    * fails the check with a rebuild instruction instead of silently
    * matching nothing.
    */
  private val IndexBasis = "xx"
  private def basisPath(indexPath: String) =
    new org.apache.hadoop.fs.Path(s"$indexPath/_graft_basis")
  private def writeBasisMarker(spark: SparkSession, indexPath: String): Unit = {
    val p = basisPath(indexPath)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    val out = fs.create(p, true)
    try out.write(IndexBasis.getBytes("UTF-8")) finally out.close()
  }
  private def dropBasisMarker(spark: SparkSession, indexPath: String): Unit = {
    val p = basisPath(indexPath)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    if (fs.exists(p)) fs.delete(p, false)
  }
  private[graft] def requireIndexBasis(spark: SparkSession, indexPath: String): Unit = {
    val p = basisPath(indexPath)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    val found =
      if (!fs.exists(p)) "absent (pre-marker index)"
      else {
        val in = fs.open(p)
        try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
        finally in.close()
      }
    require(found == IndexBasis,
      s"$indexPath: index basis is $found but this build probes/appends " +
        s"with $IndexBasis — rebuild the index (writeMinHashIndex) " +
        "instead of silently matching nothing / mixing bases")
  }

  /** Materialize the MinHash band index: the per-doc signature table and
    * the exploded band-bucket table, both write-once parquet. This is the
    * steady-state ingest form — corpus shingling/hashing happens ONCE at
    * index build; every subsequent batch probes the stored tables and
    * appends its own rows ([[appendToMinHashIndex]]) without touching any
    * existing corpus document.
    */
  def writeMinHashIndex(corpus: DataFrame, indexPath: String): Unit = {
    // Marker discipline: DROP any existing marker first and write the
    // fresh one LAST, after both parquet writes succeed. A rebuild that
    // crashes mid-write then leaves the index marker-less — and the
    // absent-marker path fails loudly in requireIndexBasis — instead of
    // leaving a valid marker over stale/partial band rows that would
    // silently match nothing.
    dropBasisMarker(corpus.sparkSession, indexPath)
    val sig = minhashSigs(corpus)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // signatures are the POINT-LOOKUP side of every probe's verify join:
    // write them bucketed by doc_id so a probe reads only the buckets its
    // candidate ids hash to, and a stream-static verify needs no exchange
    // on the corpus side
    graft.sources.Bucketed.write(sig, s"$indexPath/sigs", "doc_id",
      graft.sources.Bucketed.indexBuckets(corpus.sparkSession))
    bandRows(sig).write.mode("overwrite").parquet(s"$indexPath/bands")
    sig.unpersist()
    writeBasisMarker(corpus.sparkSession, indexPath)
  }

  /** Probe a stored index: identical semantics to
    * [[incrementalMinHashOn]] over whatever corpus the index covers, with
    * zero corpus recomputation (hot-bucket pruning runs over the stored
    * band table, so appended hot clusters stay capped). Against a
    * bucketed signature table the verify join is a bucket-pruned point
    * lookup (see [[minhashProbe]]).
    */
  def incrementalMinHashFromIndex(s: SparkSession, batch: DataFrame,
      indexPath: String): DataFrame = {
    requireIndexBasis(s, indexPath)
    graft.sources.Bucketed.read(s, s"$indexPath/sigs") match {
      case Some((sigs, key, n)) =>
        minhashProbe(sigs, s.read.parquet(s"$indexPath/bands"), batch,
          sigLookup = Some((key, n)))
      case None =>
        minhashProbe(s.read.parquet(s"$indexPath/sigs"),
          s.read.parquet(s"$indexPath/bands"), batch)
    }
  }

  /** Extend the index with a new batch: compute the batch's signatures and
    * band rows (one map pass over the batch only) and append both tables.
    * The next batch's probe sees these docs as corpus. Marker discipline
    * as in [[appendToChunkMinhashIndex]]: drop before the two appends,
    * restore after both succeed, so a crashed append fails loudly in
    * [[requireIndexBasis]] instead of silently losing recall.
    */
  def appendToMinHashIndex(batch: DataFrame, indexPath: String): Unit = {
    requireIndexBasis(batch.sparkSession, indexPath)
    dropBasisMarker(batch.sparkSession, indexPath)
    val sig = minhashSigs(batch)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    if (!graft.sources.Bucketed.append(sig, s"$indexPath/sigs"))
      sig.write.mode("append").parquet(s"$indexPath/sigs")
    bandRows(sig).write.mode("append").parquet(s"$indexPath/bands")
    sig.unpersist()
    writeBasisMarker(batch.sparkSession, indexPath)
  }

  /** Rewrite the index's append deltas into one fresh tiling — same
    * probe results, a bounded file count (daily appends otherwise
    * accumulate part files forever). The sigs table keeps its bucket spec
    * (probes keep bucket-pruning on doc_id); bands re-sort by (band,
    * bkey) so row groups cluster by bucket.
    */
  def compactMinHashIndex(s: SparkSession, indexPath: String): Unit = {
    import graft.sources.IndexCompact
    if (!IndexCompact.rewriteBucketed(s, s"$indexPath/sigs"))
      IndexCompact.rewritePlain(s, s"$indexPath/sigs", Seq("doc_id"))
    IndexCompact.rewritePlain(s, s"$indexPath/bands", Seq("band", "bkey"))
  }

  /** Index-side delete: drop `ids` (one-column frame of doc ids) from the
    * stored signature and band tables, preserving their layouts — the
    * index counterpart of a corpus `Deletes.purge`, without re-shingling
    * anything. Probes stop returning the dropped docs immediately.
    */
  def removeFromMinHashIndex(s: SparkSession, indexPath: String,
      ids: DataFrame): Unit = {
    // sortCols apply only when a table is in the plain (non-bucketed)
    // fallback layout — mirrors what compactMinHashIndex maintains
    graft.sources.IndexCompact.removeKeys(s, s"$indexPath/sigs", "doc_id", ids,
      Seq("doc_id"))
    graft.sources.IndexCompact.removeKeys(s, s"$indexPath/bands", "doc_id", ids,
      Seq("band", "bkey"))
  }

  def incrementalMinHash(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.t(s, dir, "documents")
    incrementalMinHashOn(
      docs.filter(col("doc_id") % 5 =!= 0),
      docs.filter(col("doc_id") % 5 === 0))
  }

  /** Incremental SimHash near-dup — the fourth member of the incremental
    * family (exact fingerprint, MinHash band, cosine cell, and this):
    * batch fingerprints probe the corpus's pigeonhole bands with the same
    * asymmetric plan (batch bands BROADCAST, corpus bands stream once,
    * hot buckets capped), candidates verified with bit_count(xor) <= 3.
    */
  def incrementalSimHashOn(corpus: DataFrame, batch: DataFrame,
      md5Parity: Boolean = false): DataFrame = {
    val batchFp = simhashFps(batch, md5Parity)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // corpus fingerprints persist because the bucket cap consumes the
    // band frame twice (hot-bucket count + anti-join) — unpersisted, the
    // expensive tokenize+SimHash64 corpus pass would run twice; the band
    // re-explode off the cache is cheap (same rationale as simHashPairsOn)
    val corpusFp = simhashFps(corpus, md5Parity)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    Banding.probeCandidates(
        Banding.capBuckets(Banding.pigeonhole16(corpusFp, "sh64"),
          Banding.PigeonholeKey, MaxBucket),
        broadcast(Banding.pigeonhole16(batchFp, "sh64")), Banding.PigeonholeKey,
        col("b.doc_id").as("batch_doc"), col("c.doc_id").as("corpus_doc"),
        bit_count(col("c.sh64").bitwiseXOR(col("b.sh64"))).as("hamming"))
      .filter(col("hamming") <= 3)
      .orderBy("batch_doc", "corpus_doc")
  }

  def incrementalSimHash(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.t(s, dir, "documents")
    // md5 twin basis: gated against the exact band replay (see simHashPairs)
    incrementalSimHashOn(
      docs.filter(col("doc_id") % 5 =!= 0),
      docs.filter(col("doc_id") % 5 === 0), md5Parity = true)
  }

  // ------------------------------------------------------- substring spans

  /** Window length for exact duplicated-substring detection. Lee et al.
    * ("Deduplicating Training Data Makes Language Models Better", ACL
    * 2022) use 50-token spans over web corpora; the synthetic docs here
    * average ~50 tokens TOTAL, so 8 keeps the same "long enough that
    * chance repeats are negligible" property at test scale.
    */
  private[graft] final val SpanK = 8

  /** (doc_id, toks, n_tokens) — token array stays array-local. */
  private def spanToks(docs: DataFrame): DataFrame =
    Tables.spread(docs)
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
      .withColumn("n_tokens", size(col("toks")).cast("long"))

  /** One row per k-token window: (doc_id, pos, gram). Window construction
    * is a transform HOF over each doc's OWN token array (no row-per-token
    * explode ever exists); the per-window rows that do explode are exactly
    * the units the global duplicate count groups.
    */
  private def spanGrams(toks: DataFrame): DataFrame =
    toks.filter(col("n_tokens") >= SpanK)
      .select(col("doc_id"), posexplode(expr(
        s"transform(sequence(0, size(toks) - $SpanK)," +
          s" i -> concat_ws(' ', slice(toks, i + 1, $SpanK)))")))
      .select(col("doc_id"), col("pos").cast("long").as("pos"),
        col("col").as("gram"))

  /** Exact duplicated-SUBSTRING coverage (re-derivation of the exact-match
    * half of Lee et al. 2022, the span-level dedup family the doc-level
    * ops cannot see): a k-token window is duplicated iff its exact token
    * sequence occurs MORE THAN ONCE in the corpus (within or across
    * documents — a boilerplate header shared by a million otherwise-unique
    * pages never reaches doc-level Jaccard 0.8, yet every copy of it is
    * pure duplication). Per document: how many token positions sit under
    * at least one duplicated window.
    *
    * Scale shape: the paper's suffix array is a single-machine structure;
    * the distributed equivalent is this windowed-fingerprint plan. One
    * corpus scan builds windows array-locally; the windows shuffle ONCE by
    * gram (count-over-window, no self-join); duplicated hits shuffle by
    * doc (bounded by corpus window count); the per-doc interval union is
    * an aggregate HOF over each doc's own sorted hit positions (list
    * bounded by doc length). The gram strings themselves are the shuffle
    * key here for oracle parity — at 100 TB you'd key on a 128-bit
    * fingerprint of the window (collision odds ~n²/2¹²⁸) to cut shuffle
    * bytes; the plan is otherwise unchanged.
    */
  def substringDupOn(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = spanToks(docs)
    val hits = spanGrams(toks)
      .withColumn("n", count(lit(1)).over(Window.partitionBy("gram")))
      .filter(col("n") >= 2)
      .select("doc_id", "pos")
    // union of [p, p+k-1] intervals over the doc's sorted hit positions:
    // each window adds its length minus the overlap with the covered
    // prefix ending at `e` (positions are distinct, so the contribution
    // stays in [1, k])
    val covered = hits.groupBy("doc_id")
      .agg(sort_array(collect_list(col("pos"))).as("ps"))
      .select(col("doc_id"), expr(
        s"""aggregate(ps,
           |  named_struct('cov', CAST(0 AS BIGINT), 'e', CAST(-1 AS BIGINT)),
           |  (acc, p) -> named_struct(
           |    'cov', acc.cov + p + ${SpanK - 1} - greatest(acc.e, p - 1),
           |    'e', greatest(acc.e, p + ${SpanK - 1})),
           |  acc -> acc.cov)""".stripMargin).as("dup_tokens"))
    toks.select("doc_id", "n_tokens")
      .join(covered, Seq("doc_id"), "left")
      .withColumn("dup_tokens", coalesce(col("dup_tokens"), lit(0L)))
      .withColumn("dup_ratio",
        col("dup_tokens").cast(DoubleType) / col("n_tokens"))
      .orderBy("doc_id")
  }

  def substringDup(s: SparkSession, dir: String): DataFrame =
    substringDupOn(Tables.t(s, dir, "documents"))

  private val sqlSpanGrams: String =
    """tok AS (SELECT doc_id, str_split(text, ' ') AS toks FROM documents),
      |base AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens, toks FROM tok),
      |gi AS (SELECT doc_id, toks, unnest(generate_series(1, len(toks) - 7)) AS i
      |       FROM base WHERE n_tokens >= 8),
      |grams AS (SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos,
      |                 array_to_string(toks[i:i+7], ' ') AS gram FROM gi)""".stripMargin

  val substringDupOracle: String =
    s"""WITH $sqlSpanGrams,
       |dup AS (SELECT gram FROM grams GROUP BY gram HAVING COUNT(*) >= 2),
       |hits AS (SELECT g.doc_id, g.pos FROM grams g JOIN dup USING (gram)),
       |cov AS (SELECT doc_id, pos,
       |  pos + 7 - greatest(coalesce(max(pos + 7) OVER (PARTITION BY doc_id ORDER BY pos
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1), pos - 1) AS contrib
       |  FROM hits),
       |agg AS (SELECT doc_id, SUM(contrib) AS dup_tokens FROM cov GROUP BY doc_id)
       |SELECT b.doc_id, b.n_tokens, CAST(coalesce(a.dup_tokens, 0) AS BIGINT) AS dup_tokens,
       |       CAST(coalesce(a.dup_tokens, 0) AS DOUBLE) / b.n_tokens AS dup_ratio
       |FROM base b LEFT JOIN agg a USING (doc_id) ORDER BY doc_id""".stripMargin

  /** The ACTION the detector feeds (Lee et al. drop all but one occurrence
    * of each duplicated span): rank every occurrence of a duplicated
    * window under a global total order (doc_id, pos) and scrub the token
    * positions covered only by NON-first occurrences — the corpus keeps
    * exactly one copy of every duplicated span, preserving it where it
    * appears first. Same plan as [[substringDupOn]] with the count-window
    * swapped for a rank-window (identical exchange); the rebuild is a
    * per-doc filter HOF over the token array against the doc's own sorted
    * scrub positions (O(len · hits) per doc, both bounded by doc length).
    */
  def substringScrubOn(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = spanToks(docs)
    val scrubHits = spanGrams(toks)
      .withColumn("rn", row_number().over(
        Window.partitionBy("gram").orderBy(col("doc_id"), col("pos"))))
      .filter(col("rn") > 1)
      .select("doc_id", "pos")
    val ps = scrubHits.groupBy("doc_id")
      .agg(sort_array(collect_list(col("pos"))).as("ps"))
    toks.join(ps, Seq("doc_id"), "left")
      .withColumn("ps", coalesce(col("ps"), expr("CAST(array() AS ARRAY<BIGINT>)")))
      .withColumn("kept", expr(
        s"filter(transform(toks, (t, q) -> named_struct('t', t, 'q', CAST(q AS BIGINT)))," +
          s" x -> NOT exists(ps, p -> p <= x.q AND x.q <= p + ${SpanK - 1}))"))
      .select(col("doc_id"), col("n_tokens"),
        (col("n_tokens") - size(col("kept")).cast("long")).as("n_removed"),
        concat_ws(" ", expr("transform(kept, x -> x.t)")).as("text_clean"))
      .orderBy("doc_id")
  }

  def substringScrub(s: SparkSession, dir: String): DataFrame =
    substringScrubOn(Tables.t(s, dir, "documents"))

  val substringScrubOracle: String =
    s"""WITH $sqlSpanGrams,
       |dup AS (SELECT gram FROM grams GROUP BY gram HAVING COUNT(*) >= 2),
       |hits AS (SELECT g.doc_id, g.pos, g.gram FROM grams g JOIN dup USING (gram)),
       |ranked AS (SELECT doc_id, pos,
       |    row_number() OVER (PARTITION BY gram ORDER BY doc_id, pos) AS rn FROM hits),
       |scrub AS (SELECT DISTINCT doc_id, pos FROM ranked WHERE rn > 1),
       |tp AS (SELECT doc_id, toks, unnest(generate_series(1, len(toks))) AS q1 FROM base),
       |keepq AS (
       |  SELECT t.doc_id, t.q1, t.toks[t.q1] AS token
       |  FROM tp t
       |  WHERE NOT EXISTS (SELECT 1 FROM scrub s
       |                    WHERE s.doc_id = t.doc_id AND s.pos <= t.q1 - 1 AND t.q1 - 1 <= s.pos + 7)),
       |cleaned AS (SELECT doc_id, string_agg(token, ' ' ORDER BY q1) AS text_clean,
       |                   COUNT(*) AS n_kept FROM keepq GROUP BY doc_id)
       |SELECT b.doc_id, b.n_tokens,
       |       CAST(b.n_tokens - coalesce(c.n_kept, 0) AS BIGINT) AS n_removed,
       |       coalesce(c.text_clean, '') AS text_clean
       |FROM base b LEFT JOIN cleaned c USING (doc_id) ORDER BY doc_id""".stripMargin

  /** MAXIMAL repeated-substring mining (r14) — the discovery half of the
    * Lee et al. 2022 suffix-array dedup, re-expressed Spark-first: the
    * fixed-k window family above answers "how much of this doc is
    * duplicated span" but FRAGMENTS a long repeat into k-sized pieces
    * and never reports its true extent. This operator recovers the full
    * repeat via seed-and-chain: the SAME k-token window pass (one
    * corpus-scale exchange — the exchange [[substringDupOn]] already
    * pays), df-capped seed pairing, then DIAGONAL CHAINING — matched
    * positions of one true repeat between (d1, d2) lie on one diagonal
    * (p2 − p1 constant) at consecutive positions, so a gaps-and-islands
    * pass (p1 − row_number per diagonal) merges them into one maximal
    * run of length (maxP1 − minP1 + k) tokens, with NO re-access to the
    * document text. A repeat of ANY length ≥ k surfaces as one row with
    * its full extent; `minLen > k` keeps only the beyond-fixed-n finds.
    *
    * Scale: corpus-scale cost = window construction (array-local HOF) +
    * one df aggregate + a semi-join; the pair set is bounded by
    * cap²·|duplicated grams| (hot boilerplate windows above `cap`
    * occurrences are dropped — the family's measured-cap discipline);
    * the island sort runs on the PAIR set (output-scale, not corpus-
    * scale). At 100 TB the group/join key swaps from the gram string to
    * xxhash64(gram) — 8 bytes a row, the `doc_minhash_lsh` basis
    * discipline with its md5 oracle-parity twin.
    */
  /** Shared defaults for the repeat-mining family, interpolated into
    * BOTH the Scala signatures and the oracle SQL so the documented
    * DuckDB replay can never silently diverge from the defaults (the
    * oracles replay exactly this configuration; non-default calls are a
    * Scala-API-only surface).
    */
  private[graft] final val RepMinLen = 20L
  private[graft] final val RepDfCap = 20L

  def repeatMineOn(docs: DataFrame, minLen: Long = RepMinLen,
      cap: Long = RepDfCap): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val grams = spanGrams(spanToks(docs))
    val kept = grams.join(
      grams.groupBy("gram").agg(count(lit(1)).as("df"))
        .filter(col("df") >= 2 && col("df") <= cap).select("gram"),
      Seq("gram"), "left_semi")
    val pairs = kept.as("a").join(kept.as("b"),
        col("a.gram") === col("b.gram") &&
          (col("a.doc_id") < col("b.doc_id") ||
            (col("a.doc_id") === col("b.doc_id") &&
              col("a.pos") < col("b.pos"))))
      .select(col("a.doc_id").as("d1"), col("a.pos").as("p1"),
        col("b.doc_id").as("d2"), col("b.pos").as("p2"),
        (col("b.pos") - col("a.pos")).as("diag"))
    val w = Window.partitionBy("d1", "d2", "diag").orderBy("p1")
    pairs
      .withColumn("grp", col("p1") - row_number().over(w).cast("long"))
      .groupBy("d1", "d2", "diag", "grp")
      .agg(min(col("p1")).as("s1"), min(col("p2")).as("s2"),
        (max(col("p1")) - min(col("p1")) + lit(SpanK.toLong)).as("rep_len"))
      .filter(col("rep_len") >= minLen)
      .select(col("d1"), col("s1").as("p1"), col("d2"),
        col("s2").as("p2"), col("rep_len"))
      .orderBy("d1", "p1", "d2", "p2")
  }

  def repeatMine(s: SparkSession, dir: String): DataFrame =
    repeatMineOn(Tables.t(s, dir, "documents"))

  /** DuckDB replay of [[repeatMineOn]]: the shared window CTEs, the same
    * df band, the same diagonal gaps-and-islands chaining.
    */
  val repeatMineOracle: String =
    s"""WITH $sqlSpanGrams,
       |rdf AS (SELECT gram FROM grams GROUP BY gram
       |        HAVING COUNT(*) BETWEEN 2 AND $RepDfCap),
       |rk AS (SELECT g.doc_id, g.pos, g.gram FROM grams g JOIN rdf USING (gram)),
       |rp AS (SELECT a.doc_id AS d1, a.pos AS p1, b.doc_id AS d2, b.pos AS p2,
       |              b.pos - a.pos AS diag
       |       FROM rk a JOIN rk b ON a.gram = b.gram AND
       |         (a.doc_id < b.doc_id OR
       |          (a.doc_id = b.doc_id AND a.pos < b.pos))),
       |isl AS (SELECT d1, d2, diag, p1, p2,
       |          p1 - row_number() OVER (PARTITION BY d1, d2, diag ORDER BY p1) AS grp
       |        FROM rp),
       |runs AS (SELECT d1, d2, MIN(p1) AS p1, MIN(p2) AS p2,
       |           CAST(MAX(p1) - MIN(p1) + $SpanK AS BIGINT) AS rep_len
       |         FROM isl GROUP BY d1, d2, diag, grp)
       |SELECT d1, p1, d2, p2, rep_len FROM runs WHERE rep_len >= $RepMinLen
       |ORDER BY d1, p1, d2, p2""".stripMargin

  /** Incremental repeat mining — the fifth incremental-ingest member
    * (exact fingerprint, MinHash band, SimHash band, Bloom novelty, and
    * now maximal repeats): a NEW batch's windows probe the corpus gram
    * index and diagonal-chain into maximal batch×corpus repeats. The
    * INCREMENTAL asymmetry carries the scale shape: the batch's gram set
    * is small by assumption (it BROADCASTS), so the probe join streams
    * the corpus grams past it ONCE map-side — the `doc_incr_dedup`
    * invariant — and the chaining sort runs on the matched-pair set
    * (output-scale). The df band [2, cap] is computed over corpus ∪
    * batch so the probe admits exactly the grams the self-contained
    * [[repeatMineOn]] would (corpus-hot boilerplate stays capped away);
    * at scale that df index is PRECOMPUTED and appended to per batch
    * (the `incrementalDedupOn` corpus-index note) — recomputing it here
    * is the self-contained-query form and its one corpus aggregate.
    * Cross-pairs only by design: d1 is always the corpus doc, d2 the
    * batch doc (within-corpus history is [[repeatMineOn]]'s job;
    * within-batch repeats are a batch-local rerun of it).
    */
  def incrementalRepeatOn(corpus: DataFrame, batch: DataFrame,
      minLen: Long = RepMinLen, cap: Long = RepDfCap): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cg = spanGrams(spanToks(corpus))
    val bg = spanGrams(spanToks(batch))
    // df over the union: a gram hot in the corpus must stay capped even
    // if the batch holds it once
    val df = cg.select("gram").unionByName(bg.select("gram"))
      .groupBy("gram").agg(count(lit(1)).as("df"))
      .filter(col("df") >= 2 && col("df") <= cap).select("gram")
    val bk = broadcast(bg.join(df, Seq("gram"), "left_semi")
      .select(col("gram"), col("doc_id").as("d2"), col("pos").as("p2")))
    val pairs = cg.join(bk, "gram")
      .select(col("doc_id").as("d1"), col("pos").as("p1"),
        col("d2"), col("p2"), (col("p2") - col("pos")).as("diag"))
    val w = Window.partitionBy("d1", "d2", "diag").orderBy("p1")
    pairs
      .withColumn("grp", col("p1") - row_number().over(w).cast("long"))
      .groupBy("d1", "d2", "diag", "grp")
      .agg(min(col("p1")).as("s1"), min(col("p2")).as("s2"),
        (max(col("p1")) - min(col("p1")) + lit(SpanK.toLong)).as("rep_len"))
      .filter(col("rep_len") >= minLen)
      .select(col("d1"), col("s1").as("p1"), col("d2"),
        col("s2").as("p2"), col("rep_len"))
      .orderBy("d1", "p1", "d2", "p2")
  }

  def incrementalRepeat(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.t(s, dir, "documents")
    incrementalRepeatOn(
      docs.filter(col("doc_id") % 5 =!= 0),
      docs.filter(col("doc_id") % 5 === 0))
  }

  val incrementalRepeatOracle: String =
    s"""WITH $sqlSpanGrams,
       |ig AS (SELECT doc_id, pos, gram, doc_id % 5 = 0 AS is_batch
       |       FROM grams),
       |idf AS (SELECT gram FROM ig GROUP BY gram
       |        HAVING COUNT(*) BETWEEN 2 AND $RepDfCap),
       |ip AS (SELECT c.doc_id AS d1, c.pos AS p1, b.doc_id AS d2,
       |              b.pos AS p2, b.pos - c.pos AS diag
       |       FROM ig c JOIN ig b ON c.gram = b.gram
       |         AND NOT c.is_batch AND b.is_batch
       |       WHERE c.gram IN (SELECT gram FROM idf)),
       |iisl AS (SELECT d1, d2, diag, p1, p2,
       |           p1 - row_number() OVER (PARTITION BY d1, d2, diag ORDER BY p1) AS grp
       |         FROM ip),
       |iruns AS (SELECT d1, d2, MIN(p1) AS p1, MIN(p2) AS p2,
       |            CAST(MAX(p1) - MIN(p1) + $SpanK AS BIGINT) AS rep_len
       |          FROM iisl GROUP BY d1, d2, diag, grp)
       |SELECT d1, p1, d2, p2, rep_len FROM iruns WHERE rep_len >= $RepMinLen
       |ORDER BY d1, p1, d2, p2""".stripMargin

  val dupClustersOracle: String =
    s"""WITH RECURSIVE $sqlCappedPairs,
       |pairs AS (SELECT d1, d2 FROM jp),
       |edges AS (SELECT d1 AS a, d2 AS b FROM pairs UNION SELECT d2, d1 FROM pairs),
       |nodes AS (SELECT DISTINCT a AS id FROM edges),
       |reach AS (
       |  SELECT id, id AS r FROM nodes
       |  UNION
       |  SELECT e.a AS id, r.r FROM edges e JOIN reach r ON r.id = e.b)
       |SELECT id AS doc_id, MIN(r) AS cluster_id, id = MIN(r) AS keep
       |FROM reach GROUP BY id ORDER BY doc_id""".stripMargin

  /** Canonical-document selection over near-dup clusters — the step after
    * clustering that decides WHICH copy survives: rather than keep-min-id,
    * each cluster keeps its highest-quality member (lexical-diversity
    * score; ties broken by doc_id so selection is total). This is the
    * published pipeline shape (RefinedWeb/FineWeb keep the best/longest
    * representative, not an arbitrary one). Plan: cluster labels (already
    * a star forest over only the docs that appear in some pair — a small
    * frame relative to the corpus) join the per-doc quality signals on
    * doc_id, then ONE window per cluster picks the argmax; cluster sizes
    * bound the window partitions, and the quality scan never shuffles raw
    * text — only (doc_id, two longs). The ranking key is a ratio of two
    * engine-exact integers, so the IEEE division — and therefore the
    * ranking — is bit-identical in both engines.
    */
  def dedupKeepBest(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.t(s, dir, "documents")
    val labels = clusterPairs(jaccardPairsOn(d).select("d1", "d2"))
      .select("doc_id", "cluster_id")
    val toks = split(col("text"), " ")
    val q = d.select(col("doc_id"),
      (size(array_distinct(toks)).cast(DoubleType) / size(toks)).as("q"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("cluster_id").orderBy(col("q").desc, col("doc_id").asc)
    labels.join(q, "doc_id")
      .withColumn("rk", row_number().over(w))
      .withColumn("n_docs", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy("cluster_id")))
      .filter(col("rk") === 1)
      .select(col("cluster_id"), col("doc_id").as("keeper"),
        col("q").as("keeper_quality"), col("n_docs"))
      .orderBy("cluster_id")
  }

  val keepBestOracle: String =
    s"""WITH RECURSIVE $sqlCappedPairs,
       |pairs AS (SELECT d1, d2 FROM jp),
       |edges AS (SELECT d1 AS a, d2 AS b FROM pairs UNION SELECT d2, d1 FROM pairs),
       |nodes AS (SELECT DISTINCT a AS id FROM edges),
       |reach AS (
       |  SELECT id, id AS r FROM nodes
       |  UNION
       |  SELECT e.a AS id, r.r FROM edges e JOIN reach r ON r.id = e.b),
       |lab AS (SELECT id AS doc_id, MIN(r) AS cluster_id FROM reach GROUP BY id),
       |qual AS (SELECT doc_id,
       |           CAST(len(list_distinct(str_split(text, ' '))) AS DOUBLE) /
       |           len(str_split(text, ' ')) AS q
       |         FROM documents),
       |scored AS (
       |  SELECT cluster_id, l.doc_id, q,
       |         row_number() OVER (PARTITION BY cluster_id
       |                            ORDER BY q DESC, l.doc_id) AS rk,
       |         COUNT(*) OVER (PARTITION BY cluster_id) AS n_docs
       |  FROM lab l JOIN qual USING (doc_id))
       |SELECT cluster_id, doc_id AS keeper, q AS keeper_quality, n_docs
       |FROM scored WHERE rk = 1 ORDER BY cluster_id""".stripMargin

  /** The dedup CAPSTONE — the published pipeline order run end-to-end in
    * one query: exact dedup first (hash groups, keep min id — cheap, kills
    * byte-identical copies), then NEAR-dup clustering over the SURVIVORS
    * only (fuzzy matching never pays for rows exact dedup already
    * removed), then keep-best canonical selection within each cluster.
    * Reported as the per-source yield funnel (raw → after-exact →
    * clean) — the number a data-curation run is judged by. Every stage is
    * the already-gated operator; the composition itself is what this
    * query pins (the oracle recomputes the whole funnel independently,
    * recursive-CTE clustering included).
    */
  def corpusClean(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.t(s, dir, "documents")
    val survIds = d.groupBy(md5(lower(col("text"))).as("fp"))
      .agg(min(col("doc_id")).as("doc_id")).select("doc_id")
    val surv = d.join(survIds, Seq("doc_id"), "left_semi")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val labels = clusterPairs(jaccardPairsOn(surv).select("d1", "d2"))
        .select("doc_id", "cluster_id")
      val toks = split(col("text"), " ")
      val q = surv.select(col("doc_id"),
        (size(array_distinct(toks)).cast(DoubleType) / size(toks)).as("q"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("cluster_id").orderBy(col("q").desc, col("doc_id").asc)
      val fuzzyDrops = labels.join(q, "doc_id")
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") > 1).select("doc_id")
      val dropsBySrc = surv.join(fuzzyDrops, Seq("doc_id"), "left_semi")
        .groupBy("source").agg(count(lit(1)).as("n_dropped"))
      d.groupBy("source").agg(count(lit(1)).as("n_raw"))
        .join(surv.groupBy("source").agg(count(lit(1)).as("n_after_exact")), Seq("source"))
        .join(dropsBySrc, Seq("source"), "left")
        .select(col("source"), col("n_raw"), col("n_after_exact"),
          (col("n_after_exact") - coalesce(col("n_dropped"), lit(0L))).as("n_clean"))
        .orderBy("source")
    } finally surv.unpersist()
  }

  val corpusCleanOracle: String = {
    val overSurv = sqlCappedPairs.replace("FROM documents", "FROM surv")
    s"""WITH RECURSIVE keepers AS (
       |  SELECT MIN(doc_id) AS doc_id FROM documents GROUP BY md5(lower(text))),
       |surv AS (SELECT d.* FROM documents d JOIN keepers USING (doc_id)),
       |$overSurv,
       |pairs AS (SELECT d1, d2 FROM jp),
       |edges AS (SELECT d1 AS a, d2 AS b FROM pairs UNION SELECT d2, d1 FROM pairs),
       |nodes AS (SELECT DISTINCT a AS id FROM edges),
       |reach AS (
       |  SELECT id, id AS r FROM nodes
       |  UNION
       |  SELECT e.a AS id, r.r FROM edges e JOIN reach r ON r.id = e.b),
       |lab AS (SELECT id AS doc_id, MIN(r) AS cluster_id FROM reach GROUP BY id),
       |qual AS (SELECT doc_id,
       |           CAST(len(list_distinct(str_split(text, ' '))) AS DOUBLE) /
       |           len(str_split(text, ' ')) AS q
       |         FROM surv),
       |drops AS (
       |  SELECT doc_id FROM (
       |    SELECT l.doc_id,
       |           row_number() OVER (PARTITION BY cluster_id
       |                              ORDER BY q DESC, l.doc_id) AS rk
       |    FROM lab l JOIN qual USING (doc_id))
       |  WHERE rk > 1),
       |raw AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_raw
       |        FROM documents GROUP BY source),
       |ex AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_after_exact
       |       FROM surv GROUP BY source),
       |dr AS (SELECT s.source, CAST(COUNT(*) AS BIGINT) AS n_dropped
       |       FROM surv s JOIN drops USING (doc_id) GROUP BY s.source)
       |SELECT source, n_raw, n_after_exact,
       |       n_after_exact - coalesce(n_dropped, 0) AS n_clean
       |FROM raw JOIN ex USING (source) LEFT JOIN dr USING (source)
       |ORDER BY source""".stripMargin
  }

  /** Cross-source duplication matrix — WHO copies from WHOM: near-dup
    * pairs cross-tabbed by their source pair (canonical order). The
    * curation signal behind source-level dedup decisions (a source that
    * is mostly near-dups of another adds tokens, not information, and
    * its mixing weight should say so). Pair volume is the already-capped
    * Jaccard output; the source join touches only (doc_id, source).
    */
  def dupSourceMatrix(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.t(s, dir, "documents").select("doc_id", "source")
    val pairs = jaccardPairsOn(Tables.t(s, dir, "documents")).select("d1", "d2")
    pairs
      .join(d.select(col("doc_id").as("d1"), col("source").as("src_a")), "d1")
      .join(d.select(col("doc_id").as("d2"), col("source").as("src_b")), "d2")
      .select(least(col("src_a"), col("src_b")).as("s1"),
        greatest(col("src_a"), col("src_b")).as("s2"))
      .groupBy("s1", "s2").agg(count(lit(1)).as("n_pairs"))
      .orderBy("s1", "s2")
  }

  val dupSourceMatrixOracle: String =
    s"""WITH $sqlCappedPairs,
       |m AS (
       |  SELECT LEAST(a.source, b.source) AS s1,
       |         GREATEST(a.source, b.source) AS s2
       |  FROM jp
       |  JOIN documents a ON a.doc_id = jp.d1
       |  JOIN documents b ON b.doc_id = jp.d2)
       |SELECT s1, s2, CAST(COUNT(*) AS BIGINT) AS n_pairs
       |FROM m GROUP BY s1, s2 ORDER BY s1, s2""".stripMargin

  /** Corpus dedup-inflation stats — the one-row headline every dedup run
    * reports first: how many documents (and token instances) survive
    * exact dedup, and the inflation factor the duplicates added. ONE
    * pass to (fingerprint → copies, tokens-per-copy) partial aggregates;
    * keeper tokens count each distinct content once. Integer counts +
    * one IEEE division — the number quoted in every dataset card
    * ("N docs, M after dedup, inflation 1.07x").
    */
  def dedupStats(s: SparkSession, dir: String): DataFrame =
    Tables.t(s, dir, "documents")
      .select(md5(lower(col("text"))).as("fp"),
        size(split(col("text"), " ")).cast("long").as("n_toks"))
      .groupBy("fp")
      .agg(count(lit(1)).as("copies"), min(col("n_toks")).as("toks_one"))
      .agg(
        sum(col("copies")).as("n_docs"),
        count(lit(1)).as("n_unique"),
        sum(col("copies") * col("toks_one")).as("tokens_total"),
        sum(col("toks_one")).as("tokens_unique"))
      .withColumn("inflation",
        col("tokens_total").cast(DoubleType) / col("tokens_unique").cast(DoubleType))

  val dedupStatsOracle: String =
    """WITH g AS (
      |  SELECT md5(lower(text)) AS fp, COUNT(*) AS copies,
      |         MIN(len(str_split(text, ' '))) AS toks_one
      |  FROM documents GROUP BY md5(lower(text)))
      |SELECT CAST(SUM(copies) AS BIGINT) AS n_docs,
      |       COUNT(*) AS n_unique,
      |       CAST(SUM(copies * toks_one) AS BIGINT) AS tokens_total,
      |       CAST(SUM(toks_one) AS BIGINT) AS tokens_unique,
      |       CAST(SUM(copies * toks_one) AS DOUBLE)
      |         / CAST(SUM(toks_one) AS DOUBLE) AS inflation
      |FROM g""".stripMargin

  /** CONTAINMENT near-dup pairs (Broder's asymmetric measure):
    * C(A→B) = |A∩B| / |A| for the smaller set A — the signal Jaccard
    * structurally misses when sizes differ (a 30-gram doc fully embedded
    * in a 600-gram doc has J ≈ 0.05 but C = 1.0: quote farms, boilerplate
    * wrappers, copy-paste expansion). Same capped-shingle substrate as
    * the Jaccard family; the candidate stage is the containment variant
    * of the prefix theorem — only the CONTAINED side explodes a prefix
    * (length n − ⌈t·n⌉ + 2; the +2 over the theorem's +1 makes the slice
    * immune to the float product rounding up at integer t·n, which would
    * shorten the prefix and silently lose exact-boundary pairs), the
    * container side indexes all its hashes. Size orientation (smaller =
    * contained, doc_id tiebreak) halves the join; sets under 5 grams are
    * excluded — a 1-gram set is "contained" anywhere its gram occurs.
    * Verification is exact on the capped string sets, so 64-bit prefix
    * collisions only ever ADD candidates.
    */
  final private val Tc = 0.9

  def containmentPairs(s: SparkSession, dir: String): DataFrame =
    containmentPairsOn(Tables.t(s, dir, "documents"))

  def containmentPairsOn(documents: DataFrame): DataFrame = {
    val eff = cappedShingles(documents, AdaptiveCap)
    val prefix = eff.select(col("doc_id"), col("n_sh"),
      explode(slice(col("hsorted"), lit(1),
        (col("n_sh") - ceil(col("n_sh") * Tc) + 2).cast("int"))).as("h"))
    val full = eff.select(col("doc_id"), col("n_sh"), explode(col("hsorted")).as("h"))
    val cands = prefix.as("a")
      .join(full.as("b"),
        col("a.h") === col("b.h") &&
          (col("a.n_sh") < col("b.n_sh") ||
            (col("a.n_sh") === col("b.n_sh") && col("a.doc_id") < col("b.doc_id"))))
      .select(col("a.doc_id").as("d_small"), col("b.doc_id").as("d_big"))
      .distinct()
    cands
      .join(eff.select(col("doc_id").as("d_small"), col("shs").as("shs1"),
        col("n_sh").cast("long").as("n_small")), "d_small")
      .join(eff.select(col("doc_id").as("d_big"), col("shs").as("shs2")), "d_big")
      .withColumn("common", size(array_intersect(col("shs1"), col("shs2"))).cast("long"))
      .withColumn("containment",
        col("common").cast(DoubleType) / col("n_small").cast(DoubleType))
      .filter(col("containment") >= Tc && col("n_small") >= 5)
      .select("d_small", "d_big", "common", "n_small", "containment")
      .orderBy("d_small", "d_big")
  }

  val containmentOracle: String =
    s"""WITH $sqlCappedPairs,
       |pairs AS (
       |  SELECT c.d1, c.d2, c.common, x.n_sh AS n1, y.n_sh AS n2
       |  FROM c JOIN sz x ON x.doc_id = c.d1 JOIN sz y ON y.doc_id = c.d2),
       |oriented AS (
       |  SELECT CASE WHEN n1 < n2 OR (n1 = n2 AND d1 < d2) THEN d1 ELSE d2 END AS d_small,
       |         CASE WHEN n1 < n2 OR (n1 = n2 AND d1 < d2) THEN d2 ELSE d1 END AS d_big,
       |         common, LEAST(n1, n2) AS n_small
       |  FROM pairs)
       |SELECT d_small, d_big, common, n_small,
       |       CAST(common AS DOUBLE) / CAST(n_small AS DOUBLE) AS containment
       |FROM oriented
       |WHERE CAST(common AS DOUBLE) / CAST(n_small AS DOUBLE) >= $Tc AND n_small >= 5
       |ORDER BY d_small, d_big""".stripMargin

  /** First-occurrence NOVELTY score per document: the fraction of a doc's
    * distinct 5-gram shingles never seen in any LOWER-doc_id document —
    * the continuous generalization of keep-first dedup (novelty 1.0 =
    * fully novel; near 0 = assembled from text the corpus already has;
    * substring-scrub removes spans, this SCORES docs for selection /
    * dedup-aware sampling, the signal train-data pipelines weight by).
    * Plan: the same inverted-index shape as the df pass — one shuffle of
    * (gram, doc_id) to take min(doc_id) per gram (an exact, cheap partial
    * agg: hot grams need NO cap because min combines map-side to one row
    * per gram per partition), one shuffle back by doc for the two counts.
    * Ratio is one IEEE division of two exact longs — engine-exact.
    */
  def noveltyScore(s: SparkSession, dir: String): DataFrame =
    noveltyScoreOn(Tables.t(s, dir, "documents"))

  def noveltyScoreOn(documents: DataFrame): DataFrame = {
    // persist the inverted frame: it feeds BOTH the first-seen fold and
    // the join side, and without the cache the shingling map — the
    // expensive stage — runs twice (the jaccard/winnow discipline;
    // caught by the Audit rescan tally)
    val inv = withShingles(documents)
      .select(col("doc_id"), explode(col("shs")).as("sh"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try noveltyFold(inv).localCheckpoint(true)
    finally inv.unpersist()
  }

  /** The un-checkpointed novelty pipeline — the PLAN the public path
    * executes before its localCheckpoint hygiene opaquifies it into a
    * `Scan ExistingRDD`. PlanSpec asserts the inverted-index shape
    * (gram exchange + doc exchange, map-side partial min) on THIS,
    * keeping the cache hygiene on the gated path.
    */
  private[graft] def noveltyPlanOn(documents: DataFrame): DataFrame =
    noveltyFold(withShingles(documents)
      .select(col("doc_id"), explode(col("shs")).as("sh")))

  private def noveltyFold(inv: DataFrame): DataFrame = {
    val firstSeen = inv.groupBy("sh").agg(min(col("doc_id")).as("first_doc"))
    inv.join(firstSeen, "sh")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("doc_id") === col("first_doc"), 1L).otherwise(0L)).as("n_novel"))
      .withColumn("novelty",
        col("n_novel").cast(DoubleType) / col("n_grams").cast(DoubleType))
      .orderBy("doc_id")
  }

  /** Containment REDUCTION — the corpus-level consumer of
    * [[containmentPairsOn]]: drop every document that is ≥90% contained
    * in some other document (the d_small of any pair), keep the
    * containers — the "delete the quote, keep the source" pass a
    * training corpus runs after span-level scrubbing. One-shot rule, not
    * a fixpoint: a doc contained ONLY in docs that are themselves
    * dropped still drops (conservative over-drop on >2-deep ≥0.9 chains
    * — at threshold 1.0 containment is transitive so nothing is lost;
    * below 1.0 the transitive container may fall under threshold, and
    * the one-shot rule trades that corner for determinism and a single
    * anti-join instead of an iterative closure). Output is the kept
    * corpus' ids with per-doc capped-gram counts — the anti-join is
    * against the (bounded) distinct d_small set, broadcast.
    */
  def keepContainers(s: SparkSession, dir: String): DataFrame =
    keepContainersOn(Tables.t(s, dir, "documents"))

  def keepContainersOn(documents: DataFrame): DataFrame = {
    val pairs = containmentPairsOn(documents)
    val contained = pairs.select(col("d_small").as("doc_id")).distinct()
    val eff = cappedShingles(documents, AdaptiveCap)
    eff.select(col("doc_id"), col("n_sh").cast("long").as("n_grams"))
      .join(broadcast(contained), Seq("doc_id"), "left_anti")
      .orderBy("doc_id")
  }

  val keepContainersOracle: String =
    s"""WITH $sqlCappedPairs,
       |pairs AS (
       |  SELECT c.d1, c.d2, c.common, x.n_sh AS n1, y.n_sh AS n2
       |  FROM c JOIN sz x ON x.doc_id = c.d1 JOIN sz y ON y.doc_id = c.d2),
       |oriented AS (
       |  SELECT CASE WHEN n1 < n2 OR (n1 = n2 AND d1 < d2) THEN d1 ELSE d2 END AS d_small,
       |         common, LEAST(n1, n2) AS n_small
       |  FROM pairs),
       |dropped AS (
       |  SELECT DISTINCT d_small AS doc_id FROM oriented
       |  WHERE CAST(common AS DOUBLE) / CAST(n_small AS DOUBLE) >= 0.9
       |    AND n_small >= 5)
       |SELECT s.doc_id, s.n_sh AS n_grams
       |FROM sz s LEFT JOIN dropped d ON s.doc_id = d.doc_id
       |WHERE d.doc_id IS NULL
       |ORDER BY s.doc_id""".stripMargin

  /** Containment-reduction FIXPOINT — [[keepContainersOn]] without the
    * one-shot rule's over-drop: a document drops only if it is
    * ≥t-contained in a SURVIVING document. On the containment DAG
    * (edges d_small → d_big, strictly increasing (size, id), so acyclic)
    * that labeling is UNIQUE — kept(d) ⟺ no container of d is kept
    * (induction up the topological order) — and resolves chains the way
    * a curator expects: in A ⊆ B ⊆ C with A ⊄ C, the one-shot rule
    * drops both A and B; the fixpoint drops B (contained in surviving
    * C) but KEEPS A, whose only container is gone.
    *
    * Computed as the CC-style bounded iteration: pure containers decide
    * kept immediately; each round decides every pending doc whose
    * containers are all decided (dropped if any kept container exists,
    * kept if all containers dropped). The (n, id)-maximal pending doc
    * always qualifies, so rounds ≤ the longest containment chain — tiny
    * in practice, hard-capped at 64 with a loud failure. Per-round work
    * is two joins + one aggregate over the REMAINING pair list (bounded
    * by the gated pair count, not the corpus); per-round
    * localCheckpoint cuts lineage exactly like the CC loop. Gate is
    * rows-only (the iterative closure is not SQL-expressible); the spec
    * pins the two properties that uniquely determine the output — no
    * surviving doc is contained in a surviving doc, every dropped doc
    * is contained in a surviving doc — plus the planted 3-chain.
    */
  def keepContainersFix(s: SparkSession, dir: String): DataFrame =
    keepContainersFixOn(Tables.t(s, dir, "documents"))

  def keepContainersFixOn(documents: DataFrame): DataFrame = {
    val pairs = containmentPairsOn(documents)
      .select(col("d_small"), col("d_big")).localCheckpoint(true)
    val eff = cappedShingles(documents, AdaptiveCap)
      .select(col("doc_id"), col("n_sh").cast("long").as("n_grams"))
    val containedIds = pairs.select(col("d_small").as("id")).distinct()
    // graph nodes that are never contained start decided-kept; docs
    // outside the pair graph entirely are kept and never enter the loop
    var decided = pairs.select(col("d_big").as("id")).distinct()
      .join(containedIds, Seq("id"), "left_anti")
      .select(col("id"), lit(true).as("kept"))
      .localCheckpoint(true)
    var pending = pairs // edges whose d_small is still undecided
    var rounds = 0
    while (pending.count() > 0) {
      rounds += 1
      require(rounds <= 64,
        "keepContainersFix: containment chain deeper than 64 — not a DAG?")
      val cls = pending.join(
        decided.select(col("id").as("d_big"), col("kept")), Seq("d_big"), "left")
      val agg = cls.groupBy("d_small").agg(
        max(when(col("kept") === true, 1).otherwise(0)).as("any_kept"),
        max(when(col("kept").isNull, 1).otherwise(0)).as("any_open"))
      val newDecided = agg
        .filter(col("any_kept") === 1 || col("any_open") === 0)
        .select(col("d_small").as("id"), (col("any_kept") === 0).as("kept"))
        .localCheckpoint(true)
      require(newDecided.count() > 0,
        "keepContainersFix: no progress — containment graph is not a DAG?")
      decided = decided.unionByName(newDecided).localCheckpoint(true)
      pending = pending.join(
        newDecided.select(col("id").as("d_small")), Seq("d_small"), "left_anti")
        .localCheckpoint(true)
    }
    val dropped = decided.filter(!col("kept")).select(col("id").as("doc_id"))
    eff.join(dropped, Seq("doc_id"), "left_anti").orderBy("doc_id")
  }

  /** One unrolled fixpoint round: decide every still-open contained doc
    * whose containers are all decided (kept iff no kept container) —
    * EXACTLY the Spark loop's any_kept/any_open rule. Extra rounds past
    * the actual chain depth are no-ops (fn_i empty), so the unroll count
    * only needs to be ≥ depth, not equal.
    */
  private def fixRound(i: Int): String = {
    val prev = s"fd${i - 1}"
    // AS MATERIALIZED is load-bearing: each round references the previous
    // decided set 3×, and DuckDB's default inlining re-expands the whole
    // chain exponentially (observed as a file-handle explosion at 24 rounds)
    s"""fn$i AS MATERIALIZED (
       |  SELECT p.d_small AS id,
       |         MAX(CASE WHEN d.kept THEN 1 ELSE 0 END) = 0 AS kept
       |  FROM pr p LEFT JOIN $prev d ON d.id = p.d_big
       |  WHERE p.d_small NOT IN (SELECT id FROM $prev)
       |  GROUP BY p.d_small
       |  HAVING MAX(CASE WHEN d.kept THEN 1 ELSE 0 END) = 1
       |      OR MAX(CASE WHEN d.id IS NULL THEN 1 ELSE 0 END) = 0),
       |fd$i AS MATERIALIZED (SELECT * FROM $prev UNION ALL SELECT * FROM fn$i)""".stripMargin
  }

  /** The containment fixpoint IS SQL-expressible once the bounded
    * iteration is unrolled (the kernel labeling is non-monotone, so a
    * recursive CTE can't carry it — but rounds ≤ the longest containment
    * chain, and each round is plain SQL over the cumulative decided set).
    * 24 rounds comfortably exceeds any chain the capped-shingle pair
    * builder admits (Spark's own loop hard-fails at 64; observed depth on
    * the fixtures is ≤3) — a shortfall would surface as a LOUD gate
    * mismatch, never a silent wrong answer.
    */
  val keepContainersFixOracle: String = {
    val rounds = 24
    s"""WITH $sqlCappedPairs,
       |prj AS (
       |  SELECT c.d1, c.d2, c.common, x.n_sh AS n1, y.n_sh AS n2
       |  FROM c JOIN sz x ON x.doc_id = c.d1 JOIN sz y ON y.doc_id = c.d2),
       |pr AS MATERIALIZED (
       |  SELECT CASE WHEN n1 < n2 OR (n1 = n2 AND d1 < d2) THEN d1 ELSE d2 END AS d_small,
       |         CASE WHEN n1 < n2 OR (n1 = n2 AND d1 < d2) THEN d2 ELSE d1 END AS d_big
       |  FROM prj
       |  WHERE CAST(common AS DOUBLE) / CAST(LEAST(n1, n2) AS DOUBLE) >= $Tc
       |    AND LEAST(n1, n2) >= 5),
       |fd0 AS MATERIALIZED (SELECT d_big AS id, TRUE AS kept FROM pr
       |        WHERE d_big NOT IN (SELECT d_small FROM pr) GROUP BY d_big),
       |${(1 to rounds).map(fixRound).mkString(",\n")}
       |SELECT s.doc_id, s.n_sh AS n_grams
       |FROM sz s
       |WHERE s.doc_id NOT IN (SELECT id FROM fd$rounds WHERE NOT kept)
       |ORDER BY s.doc_id""".stripMargin
  }

  /** INCREMENTAL novelty — the serving form of [[noveltyScoreOn]] for an
    * ingest pipeline: each batch doc scored against the FROZEN corpus
    * gram set, order-free (batch-internal first occurrences do NOT count
    * as seen: two batch docs sharing a brand-new gram are both fully
    * novel on it — the batch is appended afterwards and the NEXT batch
    * sees it; same contract as the rest of the incremental family).
    * Plan: corpus streams ONCE, batch broadcasts — `seen` is the corpus
    * gram table inner-joined to the batch's (broadcast) distinct grams,
    * bounded by the batch's gram count; per-doc totals and the anti-join
    * novel counts both fold over the persisted batch inversion. No
    * corpus-side shuffle of anything doc-sized.
    */
  def incrementalNoveltyOn(corpus: DataFrame, batch: DataFrame): DataFrame = {
    val corpusGrams = withShingles(corpus)
      .select(explode(col("shs")).as("sh")).distinct()
    noveltyProbeAgainst(corpusGrams, batch)
  }

  private def noveltyProbeAgainst(corpusGrams: DataFrame, batch: DataFrame): DataFrame = {
    val inv = withShingles(batch)
      .select(col("doc_id"), explode(col("shs")).as("sh"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val seen = corpusGrams
        .join(broadcast(inv.select("sh").distinct()), Seq("sh"))
        .select("sh").distinct()
      val totals = inv.groupBy("doc_id").agg(count(lit(1)).as("n_grams"))
      val novel = inv.join(broadcast(seen), Seq("sh"), "left_anti")
        .groupBy("doc_id").agg(count(lit(1)).as("n_novel"))
      totals.join(novel, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_grams"),
          coalesce(col("n_novel"), lit(0L)).as("n_novel"))
        .withColumn("novelty",
          col("n_novel").cast(DoubleType) / col("n_grams").cast(DoubleType))
        .orderBy("doc_id")
        .localCheckpoint(true)
    } finally inv.unpersist()
  }

  def incrementalNovelty(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.t(s, dir, "documents")
    incrementalNoveltyOn(
      docs.filter(col("doc_id") % 5 =!= 0),
      docs.filter(col("doc_id") % 5 === 0))
  }

  val incrementalNoveltyOracle: String =
    """WITH toks AS (SELECT doc_id, str_split(text, ' ') AS toks FROM documents),
      |sh AS (SELECT doc_id, list_distinct(list_transform(range(1, len(toks) - 3),
      |         i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3] || ' ' || toks[i+4])) AS shs
      |       FROM toks WHERE len(toks) >= 5),
      |cg AS (SELECT DISTINCT unnest(shs) AS sh FROM sh WHERE doc_id % 5 <> 0),
      |inv AS (SELECT doc_id, unnest(shs) AS sh FROM sh WHERE doc_id % 5 = 0)
      |SELECT i.doc_id, COUNT(*) AS n_grams,
      |  CAST(COALESCE(SUM(CASE WHEN cg.sh IS NULL THEN 1 END), 0) AS BIGINT) AS n_novel,
      |  CAST(COALESCE(SUM(CASE WHEN cg.sh IS NULL THEN 1 END), 0) AS DOUBLE)
      |    / CAST(COUNT(*) AS DOUBLE) AS novelty
      |FROM inv i LEFT JOIN cg ON i.sh = cg.sh
      |GROUP BY i.doc_id ORDER BY i.doc_id""".stripMargin

  /** First-seen gram index: write / probe / append. The stored table is
    * (sh, df) bucketed by gram; PRESENCE is the probe contract (append
    * may re-emit a gram with its batch-local df — probing only asks "was
    * this gram ever seen", so duplicate rows are harmless and appends
    * stay one map pass over the batch, no index rewrite).
    */
  def writeNoveltyIndex(corpus: DataFrame, indexPath: String): Unit = {
    val grams = withShingles(corpus)
      .select(explode(col("shs")).as("sh"))
      .groupBy("sh").agg(count(lit(1)).as("df"))
    graft.sources.Bucketed.write(grams, s"$indexPath/grams", "sh",
      graft.sources.Bucketed.indexBuckets(corpus.sparkSession))
  }

  /** Probe: identical semantics to [[incrementalNoveltyOn]] over whatever
    * corpus the index covers, zero corpus re-shingling.
    */
  def noveltyFromIndex(s: SparkSession, batch: DataFrame,
      indexPath: String): DataFrame = {
    val grams = graft.sources.Bucketed.read(s, s"$indexPath/grams")
      .map(_._1).getOrElse(s.read.parquet(s"$indexPath/grams"))
    noveltyProbeAgainst(grams.select("sh"), batch)
  }

  def appendToNoveltyIndex(batch: DataFrame, indexPath: String): Unit = {
    val grams = withShingles(batch)
      .select(explode(col("shs")).as("sh"))
      .groupBy("sh").agg(count(lit(1)).as("df"))
    if (!graft.sources.Bucketed.append(grams, s"$indexPath/grams"))
      grams.write.mode("append").parquet(s"$indexPath/grams")
  }

  val noveltyOracle: String =
    s"""WITH sh AS ($sqlShingles),
       |inv AS (SELECT doc_id, unnest(shs) AS sh FROM sh),
       |f AS (SELECT sh, MIN(doc_id) AS first_doc FROM inv GROUP BY sh)
       |SELECT i.doc_id, COUNT(*) AS n_grams,
       |  CAST(COALESCE(SUM(CASE WHEN i.doc_id = f.first_doc THEN 1 END), 0) AS BIGINT) AS n_novel,
       |  CAST(COALESCE(SUM(CASE WHEN i.doc_id = f.first_doc THEN 1 END), 0) AS DOUBLE)
       |    / CAST(COUNT(*) AS DOUBLE) AS novelty
       |FROM inv i JOIN f USING (sh)
       |GROUP BY i.doc_id ORDER BY i.doc_id""".stripMargin

  val defs: Seq[QueryDef] = Seq(
    QueryDef("doc_exact_dedup", exactDedup, Some(exactOracle)),
    QueryDef("doc_dedup_stats", dedupStats, Some(dedupStatsOracle)),
    QueryDef("doc_novelty", noveltyScore, Some(noveltyOracle)),
    QueryDef("doc_incr_novelty", incrementalNovelty, Some(incrementalNoveltyOracle)),
    QueryDef("doc_jaccard_pairs", jaccardPairs, Some(jaccardOracle), headline = true),
    QueryDef("doc_containment_pairs", containmentPairs, Some(containmentOracle)),
    QueryDef("doc_keep_containers", keepContainers, Some(keepContainersOracle)),
    QueryDef("doc_keep_containers_fix", keepContainersFix, Some(keepContainersFixOracle)),
    QueryDef("doc_minhash_lsh", minHashLsh, Some(minhashOracle), headline = true),
    QueryDef("doc_minhash_md5", minHashLshMd5, Some(minhashOracle)),
    QueryDef("doc_dedup_eval", dedupEval, Some(dedupEvalOracle)),
    QueryDef("doc_lsh_sweep", lshSweep, Some(lshSweepOracle)),
    QueryDef("doc_simhash_eval", simhashEval, Some(simhashEvalOracle)),
    QueryDef("doc_simhash", simHashPairs, Some(simhashOracle)),
    QueryDef("doc_editdist_pairs", editDistPairs, Some(editDistOracle)),
    QueryDef("doc_dup_clusters", dupClusters, Some(dupClustersOracle)),
    QueryDef("doc_substring_dup", substringDup, Some(substringDupOracle)),
    QueryDef("doc_repeat_mine", repeatMine, Some(repeatMineOracle)),
    QueryDef("doc_incr_repeat", incrementalRepeat,
      Some(incrementalRepeatOracle)),
    QueryDef("doc_substring_scrub", substringScrub, Some(substringScrubOracle)),
    QueryDef("doc_incr_dedup", incrementalDedup, Some(incrementalOracle)),
    QueryDef("doc_chunk_dedup", chunkDedup, Some(chunkDedupOracle)),
    QueryDef("doc_chunk_boilerplate", chunkBoilerplate,
      Some(chunkBoilerplateOracle)),
    QueryDef("doc_incr_chunk", incrementalChunk, Some(incrementalChunkOracle)),
    QueryDef("doc_chunk_scrub", chunkScrub, Some(chunkScrubOracle)),
    QueryDef("doc_chunk_minhash", chunkMinhash, Some(chunkMinhashOracle)),
    QueryDef("doc_incr_chunk_minhash", incrementalChunkMinhash,
      Some(incrChunkMinhashOracle)),
    QueryDef("doc_chunk_near_boiler", chunkNearBoilerplate,
      Some(chunkNearBoilerplateOracle)),
    QueryDef("doc_chunk_dedup_eval", chunkDedupEval,
      Some(chunkDedupEvalOracle)),
    QueryDef("doc_incr_minhash", incrementalMinHash, Some(incrMinhashOracle)),
    QueryDef("doc_incr_simhash", incrementalSimHash, Some(incrSimhashOracle)),
    QueryDef("doc_dedup_keep_best", dedupKeepBest, Some(keepBestOracle)),
    QueryDef("doc_corpus_clean", corpusClean, Some(corpusCleanOracle)),
    QueryDef("doc_dup_source_matrix", dupSourceMatrix, Some(dupSourceMatrixOracle))
  )
}
