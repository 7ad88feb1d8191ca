package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType}

import graft.QueryDef
import graft.Exact._
import graft.sources.Tables

/** Event-stream semantics over the `events` table (batch = deterministic
  * replay of the stream; the streaming module runs the same logic with
  * watermarks + state). Temporal outputs are epoch-microsecond BIGINTs so
  * both engines hash identically.
  */
object EventOps {

  // ---- CEP parameters (reference: flink-app/.../AnomalyDetection.java:126-132:
  // runs of 10..30 events with packets<10 followed by one with packets>10
  // within 1 minute, keyed by ip_dst). Same shape re-parameterized for the
  // events table: key=user_id, packets=value.
  final val LowThresh = 50.0
  final val HighThresh = 100.0
  final val MinRun = 3L
  final val MaxRun = 8L // times(min,max) upper bound for the bounded variant
  final val WithinUs = 24L * 3600 * 1000000 // gap run-end -> normal event

  /** Tumbling event-time window (1 hour) per event type. */
  def tumblingHourly(s: SparkSession, dir: String): DataFrame =
    Tables.t(s, dir, "events")
      .groupBy(unix_micros(date_trunc("hour", col("ts"))).as("hour_us"),
        col("event_type"))
      .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value"))
      .withColumn("avg_value", col("sum_value") / col("n"))
      .orderBy("hour_us", "event_type")

  val tumblingOracle: String =
    s"""SELECT epoch_us(date_trunc('hour', ts)) AS hour_us, event_type,
       |       COUNT(*) AS n, ${sqlDsum("value")} AS sum_value,
       |       ${sqlDsum("value")} / COUNT(*) AS avg_value
       |FROM events GROUP BY 1, 2 ORDER BY hour_us, event_type""".stripMargin

  /** Sliding (hopping) window: 6h length, 3h slide -> each event lands in
    * exactly two windows. Spark's window() assigns both in the map phase;
    * the only shuffle is the final aggregation.
    */
  def sliding6h(s: SparkSession, dir: String): DataFrame =
    Tables.t(s, dir, "events")
      .groupBy(window(col("ts"), "6 hours", "3 hours"))
      .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value"))
      .select(unix_micros(col("window.start")).as("wstart_us"),
        col("n"), col("sum_value"))
      .orderBy("wstart_us")

  val slidingOracle: String =
    s"""SELECT wstart_us, COUNT(*) AS n, ${sqlDsum("value")} AS sum_value
       |FROM (
       |  SELECT ((epoch_us(ts) // 10800000000) - k.k) * 10800000000 AS wstart_us,
       |         value
       |  FROM events CROSS JOIN (VALUES (CAST(0 AS BIGINT)), (CAST(1 AS BIGINT))) k(k)
       |)
       |GROUP BY wstart_us ORDER BY wstart_us""".stripMargin

  /** Gap-based sessionization (12h inactivity closes a session). One shuffle
    * on user_id; both window passes and the final aggregation reuse that
    * partitioning — Catalyst plans a single exchange.
    */
  def sessionize(s: SparkSession, dir: String): DataFrame =
    sessionizeOn(Tables.t(s, dir, "events"))

  def sessionizeOn(events: DataFrame): DataFrame = {
    val byUser = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val gapUs = 12L * 3600 * 1000000
    events
      .withColumn("prev_us", lag(unix_micros(col("ts")), 1).over(byUser))
      .withColumn("new_s",
        when(col("prev_us").isNull ||
          unix_micros(col("ts")) - col("prev_us") > gapUs, 1L).otherwise(0L))
      .withColumn("sid", sum(col("new_s")).over(
        byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy("user_id", "sid")
      .agg(
        min(unix_micros(col("ts"))).as("s_start_us"),
        max(unix_micros(col("ts"))).as("s_end_us"),
        count(lit(1)).as("n_events"),
        dsum(col("value")).as("sum_value"))
      .orderBy("user_id", "sid")
  }

  val sessionizeOracle: String =
    s"""WITH e AS (
       |  SELECT user_id, event_id, ts, value,
       |         lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_us
       |  FROM events),
       |f AS (
       |  SELECT *, CASE WHEN prev_us IS NULL OR epoch_us(ts) - prev_us > 43200000000
       |                 THEN 1 ELSE 0 END AS new_s FROM e),
       |g AS (
       |  SELECT *, CAST(SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
       |                 ROWS UNBOUNDED PRECEDING) AS BIGINT) AS sid FROM f)
       |SELECT user_id, sid, MIN(epoch_us(ts)) AS s_start_us,
       |       MAX(epoch_us(ts)) AS s_end_us, COUNT(*) AS n_events,
       |       ${sqlDsum("value")} AS sum_value
       |FROM g GROUP BY user_id, sid ORDER BY user_id, sid""".stripMargin

  /** Top session PATHS — the clickstream path-mining step on top of the
    * 14's session boundaries: the most common 3-step event-type sequences
    * executed WITHIN a session (transition counts are lag-1 Markov edges;
    * paths are the order-3 generalization product analytics ranks —
    * "what do users actually do in a sitting"). ALL windows — the
    * boundary lag, the session-id running sum, and both leads — partition
    * by user_id alone (the leads deliberately do NOT partition by the
    * derived (user_id, sid) key, which would cost a second exchange);
    * session containment is enforced by leading sid alongside the types
    * and keeping only rows whose next-two sids match — so no path crosses
    * a session boundary, and the whole derivation rides ONE exchange.
    * The path count is a second, tiny exchange on the path key (bounded
    * by |event_type|^3, map-side-combined to almost nothing); global
    * top-20 with full deterministic tiebreak is a TakeOrdered, no sort.
    */
  def topPaths(s: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val gapUs = 12L * 3600 * 1000000
    Tables.t(s, dir, "events")
      .withColumn("prev_us", lag(unix_micros(col("ts")), 1).over(byUser))
      .withColumn("new_s",
        when(col("prev_us").isNull ||
          unix_micros(col("ts")) - col("prev_us") > gapUs, 1L).otherwise(0L))
      .withColumn("sid", sum(col("new_s")).over(
        byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("e2", lead(col("event_type"), 1).over(byUser))
      .withColumn("e3", lead(col("event_type"), 2).over(byUser))
      .withColumn("sid2", lead(col("sid"), 1).over(byUser))
      .withColumn("sid3", lead(col("sid"), 2).over(byUser))
      .filter(col("sid2") === col("sid") && col("sid3") === col("sid"))
      .groupBy(col("event_type").as("step1"), col("e2").as("step2"),
        col("e3").as("step3"))
      .agg(count(lit(1)).as("n_paths"))
      .orderBy(col("n_paths").desc, col("step1").asc, col("step2").asc,
        col("step3").asc)
      .limit(20)
  }

  val topPathsOracle: String =
    """WITH e AS (
      |  SELECT user_id, event_id, ts, event_type,
      |         lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_us
      |  FROM events),
      |f AS (
      |  SELECT *, CASE WHEN prev_us IS NULL OR epoch_us(ts) - prev_us > 43200000000
      |                 THEN 1 ELSE 0 END AS new_s FROM e),
      |g AS (
      |  SELECT *, CAST(SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |                 ROWS UNBOUNDED PRECEDING) AS BIGINT) AS sid FROM f),
      |p AS (
      |  SELECT event_type AS step1,
      |         lead(event_type, 1) OVER w AS step2,
      |         lead(event_type, 2) OVER w AS step3
      |  FROM g WINDOW w AS (PARTITION BY user_id, sid ORDER BY ts, event_id))
      |SELECT step1, step2, step3, COUNT(*) AS n_paths
      |FROM p WHERE step2 IS NOT NULL AND step3 IS NOT NULL
      |GROUP BY step1, step2, step3
      |ORDER BY n_paths DESC, step1, step2, step3
      |LIMIT 20""".stripMargin

  /** CEP fragmentation-attack analog (reference AnomalyDetection.java:126-167):
    * per key, a maximal run of >= MinRun consecutive low-value events
    * immediately followed by a high-value event within WithinUs. Islands are
    * found with two ranking passes over the same (user_id, ts) partitioning —
    * a single shuffle, linear per-partition work, no self-join blowup.
    * Output mirrors AttackResult (avg_fragment_size, avg_packets,
    * size_reduction_percent).
    */
  def cepAttack(s: SparkSession, dir: String): DataFrame =
    cepAttackOn(Tables.t(s, dir, "events"))

  /** Same, over any (user_id, event_id, ts, value) frame.
    *
    * Single-pass shape (r16): the closing "normal" event of a run is the
    * event at rn_end + 1, which is exactly `lead(...)` of the run's LAST
    * low row in the same (user_id, ts, event_id) window that computes rn —
    * so instead of re-scanning events and self-joining on
    * (user_id, rn_end + 1), annotate every event with its successor's
    * (value, epoch) up front and recover the join columns as conditional
    * aggregates. A low row is last-of-run iff its successor is absent or
    * not itself low (rn is consecutive over ALL events, so a low successor
    * is always the same run's next fragment), and each run has exactly one
    * such row. One events scan instead of two, and the runs⋈events
    * sort-merge join (one more full exchange + sort of the fact table)
    * disappears; output is row-identical, same oracle.
    */
  def cepAttackOn(events: DataFrame): DataFrame = {
    val byUser = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val e = events
      .select("user_id", "event_id", "ts", "value")
      .withColumn("rn", row_number().over(byUser))
      .withColumn("nv", lead(col("value"), 1).over(byUser))
      .withColumn("nts", lead(unix_micros(col("ts")), 1).over(byUser))

    e.filter(col("value") < LowThresh)
      .withColumn("grp", col("rn") - row_number().over(byUser))
      // NOT(nv < LowThresh) rather than nv >= LowThresh: the predicate must
      // be the exact negation of the run-membership test so a NaN successor
      // still terminates the run
      .withColumn("is_last", col("nv").isNull || !(col("nv") < LowThresh))
      .groupBy("user_id", "grp")
      .agg(
        count(lit(1)).as("fragment_count"),
        min(unix_micros(col("ts"))).as("attack_start_us"),
        max(unix_micros(col("ts"))).as("attack_end_us"),
        dsum(col("value")).as("sum_low"),
        max(when(col("is_last"), col("nv"))).as("avg_packets"),
        max(when(col("is_last"), col("nts"))).as("normal_ts_us"))
      .filter(col("fragment_count") >= MinRun)
      .filter(col("avg_packets") > HighThresh &&
        col("normal_ts_us") - col("attack_end_us") <= WithinUs)
      .withColumn("avg_fragment_size", col("sum_low") / col("fragment_count"))
      .withColumn("size_reduction_percent",
        (col("avg_packets") - col("avg_fragment_size")) / col("avg_packets") * 100)
      .select(col("user_id").as("target_id"), col("attack_start_us"),
        col("attack_end_us"), col("normal_ts_us"), col("fragment_count"),
        col("avg_fragment_size"), col("avg_packets"), col("size_reduction_percent"))
      .orderBy("target_id", "attack_start_us")
  }

  val cepOracle: String =
    s"""WITH e AS (
       |  SELECT user_id, event_id, ts, value,
       |         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
       |  FROM events),
       |i AS (
       |  SELECT *, rn - row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS grp
       |  FROM e WHERE value < $LowThresh),
       |runs AS (
       |  SELECT user_id, grp, COUNT(*) AS fragment_count, MAX(rn) AS rn_end,
       |         MIN(epoch_us(ts)) AS attack_start_us,
       |         MAX(epoch_us(ts)) AS attack_end_us,
       |         ${sqlDsum("value")} AS sum_low
       |  FROM i GROUP BY user_id, grp HAVING COUNT(*) >= $MinRun)
       |SELECT r.user_id AS target_id, r.attack_start_us, r.attack_end_us,
       |       epoch_us(n.ts) AS normal_ts_us, r.fragment_count,
       |       r.sum_low / r.fragment_count AS avg_fragment_size,
       |       n.value AS avg_packets,
       |       (n.value - r.sum_low / r.fragment_count) / n.value * 100 AS size_reduction_percent
       |FROM runs r JOIN e n ON n.user_id = r.user_id AND n.rn = r.rn_end + 1
       |WHERE n.value > $HighThresh
       |  AND epoch_us(n.ts) - r.attack_end_us <= $WithinUs
       |ORDER BY target_id, attack_start_us""".stripMargin

  /** Bounded-run CEP — the batch form of `StreamingAnomaly.step`'s
    * ring-buffer truncation: one match per maximal low-run, built from the
    * run's LAST `min(L, maxRun)` fragments (the fragments closest to the
    * closing high event), match window from the first KEPT fragment to the
    * closing high event, skip-past-last (one match per run). NOTE this is
    * the repo's own bounded-run semantics, oracle-gated — NOT a literal
    * replay of the reference's Flink pattern
    * (AnomalyDetection.java:126-132), which uses non-greedy `times(10,30)`
    * with no `consecutive()` and under skip-past-last would emit the FIRST
    * `min` repetitions of a run instead of the last ones the streaming
    * ring buffer keeps. `ev_cep_attack` keeps the unbounded maximal-run
    * analog; [[cepAttackFlink]] (`ev_cep_flink`) is the literal
    * relaxed-contiguity replay.
    *
    * Shape: same single exchange on user_id; the truncation is one extra
    * windowed max over the (user, run) islands of the LOW rows only —
    * partitioned finer than user_id, linear per partition.
    */
  def cepAttackBounded(s: SparkSession, dir: String): DataFrame =
    cepAttackBoundedOn(Tables.t(s, dir, "events"))

  def cepAttackBoundedOn(events: DataFrame): DataFrame = {
    val byUser = Window.partitionBy("user_id").orderBy("ts", "event_id")
    // Same single-pass shape as [[cepAttackOn]] (successor columns via
    // lead() instead of a runs⋈events self-join): the truncation keeps the
    // last min(L, MaxRun) fragments of each run, which always includes the
    // max-rn row — the one whose is_last flag carries the closing event.
    val e = events
      .select("user_id", "event_id", "ts", "value")
      .withColumn("rn", row_number().over(byUser))
      .withColumn("nv", lead(col("value"), 1).over(byUser))
      .withColumn("nts", lead(unix_micros(col("ts")), 1).over(byUser))

    val lows = e
      .filter(col("value") < LowThresh)
      .withColumn("grp", col("rn") - row_number().over(byUser))
    // times(min,max) truncation: keep only the LAST MaxRun fragments of
    // each island (run rns are consecutive, so a max-rn window suffices —
    // no per-run sort)
    val kept = lows
      .withColumn("rn_last", max(col("rn")).over(Window.partitionBy("user_id", "grp")))
      .filter(col("rn") > col("rn_last") - MaxRun)
      .withColumn("is_last", col("nv").isNull || !(col("nv") < LowThresh))

    kept
      .groupBy("user_id", "grp")
      .agg(
        count(lit(1)).as("fragment_count"),
        min(unix_micros(col("ts"))).as("attack_start_us"),
        max(unix_micros(col("ts"))).as("attack_end_us"),
        dsum(col("value")).as("sum_low"),
        max(when(col("is_last"), col("nv"))).as("avg_packets"),
        max(when(col("is_last"), col("nts"))).as("normal_ts_us"))
      .filter(col("fragment_count") >= MinRun)
      .filter(col("avg_packets") > HighThresh &&
        col("normal_ts_us") - col("attack_start_us") <= WithinUs) // Flink `within`: whole-match window
      .withColumn("avg_fragment_size", col("sum_low") / col("fragment_count"))
      .withColumn("size_reduction_percent",
        (col("avg_packets") - col("avg_fragment_size")) / col("avg_packets") * 100)
      .select(col("user_id").as("target_id"), col("attack_start_us"),
        col("attack_end_us"), col("normal_ts_us"), col("fragment_count"),
        col("avg_fragment_size"), col("avg_packets"), col("size_reduction_percent"))
      .orderBy("target_id", "attack_start_us")
  }

  val cepBoundedOracle: String =
    s"""WITH e AS (
       |  SELECT user_id, event_id, ts, value,
       |         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
       |  FROM events),
       |i AS (
       |  SELECT *, rn - row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS grp
       |  FROM e WHERE value < $LowThresh),
       |k AS (
       |  SELECT * FROM (
       |    SELECT *, MAX(rn) OVER (PARTITION BY user_id, grp) AS rn_last FROM i)
       |  WHERE rn > rn_last - $MaxRun),
       |runs AS (
       |  SELECT user_id, grp, COUNT(*) AS fragment_count, MAX(rn) AS rn_end,
       |         MIN(epoch_us(ts)) AS attack_start_us,
       |         MAX(epoch_us(ts)) AS attack_end_us,
       |         ${sqlDsum("value")} AS sum_low
       |  FROM k GROUP BY user_id, grp HAVING COUNT(*) >= $MinRun)
       |SELECT r.user_id AS target_id, r.attack_start_us, r.attack_end_us,
       |       epoch_us(n.ts) AS normal_ts_us, r.fragment_count,
       |       r.sum_low / r.fragment_count AS avg_fragment_size,
       |       n.value AS avg_packets,
       |       (n.value - r.sum_low / r.fragment_count) / n.value * 100 AS size_reduction_percent
       |FROM runs r JOIN e n ON n.user_id = r.user_id AND n.rn = r.rn_end + 1
       |WHERE n.value > $HighThresh
       |  AND epoch_us(n.ts) - r.attack_start_us <= $WithinUs
       |ORDER BY target_id, attack_start_us""".stripMargin

  /** LITERAL Flink-semantics CEP — the reference pattern
    * (AnomalyDetection.java:126-132) replayed with ITS contiguity and
    * match-selection rules rather than the repo's strict-run variants:
    * non-greedy `times(min,max)`, relaxed `followedBy` (neither-predicate
    * events — here value in [LowThresh, HighThresh] — do NOT break the
    * run), `AfterMatchSkipStrategy.skipPastLastEvent()`. Under those
    * rules a long fragment run matches on its FIRST `min` repetitions
    * from the earliest `within`-alive start — vs `ev_cep_bounded`'s
    * last-`max` truncation — the closing high event both completes and
    * consumes every live partial (skip-past-last), and sub-min partials
    * CARRY ACROSS a non-completing high event (the relaxed IGNORE edge).
    * Compiled through [[CepPattern]]'s `followedBy` mode — since r12 the
    * per-key NFA fold cross-checked against an independent documented-
    * rules interpreter on fuzzed traffic (`CepNfaSpec`); the spec also
    * pins DSL == this gated query == the streaming twin. The oracle
    * replays the identical fold as a per-key recursive-CTE state machine
    * (integer arithmetic only).
    */
  def cepAttackFlink(s: SparkSession, dir: String): DataFrame =
    cepAttackFlinkOn(Tables.t(s, dir, "events"))

  def cepAttackFlinkOn(events: DataFrame): DataFrame =
    CepPattern.on("user_id")
      .where(col("value") < LowThresh)
      .times(MinRun, MaxRun)
      .followedBy(col("value") > HighThresh)
      .within(WithinUs)
      .detect(events.select("user_id", "event_id", "ts", "value"))
      .select(col("user_id").as("target_id"),
        col("run_start_us").as("attack_start_us"),
        col("run_end_us").as("attack_end_us"),
        col("next_ts_us").as("normal_ts_us"),
        col("run_count").as("fragment_count"))
      .orderBy("target_id", "attack_start_us")

  val cepFlinkOracle: String =
    s"""WITH RECURSIVE e AS (
       |  SELECT user_id, epoch_us(ts) AS t, (value > $HighThresh) AS isn,
       |         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
       |  FROM events WHERE value < $LowThresh OR value > $HighThresh),
       |step AS (
       |  SELECT user_id, 0 AS i, CAST([] AS BIGINT[]) AS buf
       |  FROM (SELECT DISTINCT user_id FROM e)
       |  UNION ALL
       |  SELECT s.user_id AS user_id, s.i + 1 AS i,
       |    CASE WHEN ev.isn THEN
       |      CASE WHEN len(list_filter(s.buf, x -> ev.t - x <= $WithinUs)) >= $MinRun
       |           THEN CAST([] AS BIGINT[]) ELSE s.buf END
       |    ELSE list_filter(list_append(s.buf, ev.t), x -> ev.t - x <= $WithinUs)
       |    END AS buf
       |  FROM step s JOIN e ev ON ev.user_id = s.user_id AND ev.rn = s.i + 1)
       |SELECT s.user_id AS target_id,
       |       list_filter(s.buf, x -> ev.t - x <= $WithinUs)[1] AS attack_start_us,
       |       list_filter(s.buf, x -> ev.t - x <= $WithinUs)[$MinRun] AS attack_end_us,
       |       ev.t AS normal_ts_us, CAST($MinRun AS BIGINT) AS fragment_count
       |FROM step s JOIN e ev ON ev.user_id = s.user_id AND ev.rn = s.i + 1
       |WHERE ev.isn AND len(list_filter(s.buf, x -> ev.t - x <= $WithinUs)) >= $MinRun
       |ORDER BY target_id, attack_start_us""".stripMargin

  /** The NEGATIVE pattern — Flink `notFollowedBy` (r13): a fragment run
    * of >= MinRun low events whose `within` window closes with NO
    * high event — "the attack that fizzled", the alert-fatigue
    * complement of [[cepAttackFlink]] (a probe that never escalated is a
    * different signal from an attack, and a fleet-wide fizzle rate is
    * the detector's own false-start metric). Same relaxed-NFA rules
    * (terminator kills every partial it "follows"; reluctant first-min;
    * skip-past-last; expiry = run_start + within), derived from Flink's
    * documented Pattern API semantics and pinned THREE independent ways:
    * the engine's event-driven [[graft.functions.CepNegFold]] fold, the
    * spec's declarative candidate/greedy-chain interpreter
    * (`FlinkNfaRef.replayNegative`, fuzz-matched batch AND streaming),
    * and this oracle's closed-form SQL (viability self-join + recursive
    * skip-past-last chain — deliberately the declarative encoding, not a
    * replay of the fold). `expiry_us` stands where the positive match
    * carries `normal_ts_us` — there is no terminator row; the match IS
    * its absence.
    */
  def cepFizzle(s: SparkSession, dir: String): DataFrame =
    CepPattern.on("user_id")
      .where(col("value") < LowThresh)
      .times(MinRun, MaxRun)
      .notFollowedBy(col("value") > HighThresh)
      .within(WithinUs)
      .detect(Tables.t(s, dir, "events")
        .select("user_id", "event_id", "ts", "value"))
      .select(col("user_id").as("target_id"),
        col("run_start_us").as("attack_start_us"),
        col("run_end_us").as("attack_end_us"),
        col("next_ts_us").as("expiry_us"),
        col("run_count").as("fragment_count"))
      .orderBy("target_id", "attack_start_us")

  val cepFizzleOracle: String =
    s"""WITH RECURSIVE cz_e AS (
       |  SELECT user_id, epoch_us(ts) AS t, (value > $HighThresh) AS isb
       |  FROM events WHERE value < $LowThresh OR value > $HighThresh),
       |cz_a AS (SELECT user_id, t FROM cz_e WHERE NOT isb),
       |cz_b AS (SELECT user_id, t FROM cz_e WHERE isb),
       |cz_cand0 AS (
       |  SELECT a.user_id, a.t AS s, COUNT(*) AS cnt,
       |         (list(r.t ORDER BY r.t))[$MinRun] AS e
       |  FROM cz_a a JOIN cz_a r
       |    ON r.user_id = a.user_id AND r.t >= a.t AND r.t <= a.t + $WithinUs
       |  GROUP BY a.user_id, a.t),
       |cz_cand AS (
       |  SELECT c.user_id, c.s, c.e,
       |         row_number() OVER (PARTITION BY c.user_id ORDER BY c.s) AS rn
       |  FROM cz_cand0 c
       |  WHERE c.cnt >= $MinRun
       |    AND NOT EXISTS (SELECT 1 FROM cz_b b WHERE b.user_id = c.user_id
       |                    AND b.t > c.s AND b.t <= c.s + $WithinUs)),
       |cz_chain AS (
       |  SELECT user_id, s, e, rn FROM cz_cand WHERE rn = 1
       |  UNION ALL
       |  SELECT c.user_id, c.s, c.e, c.rn
       |  FROM cz_chain ch JOIN cz_cand c
       |    ON c.user_id = ch.user_id AND c.s > ch.e
       |   AND NOT EXISTS (SELECT 1 FROM cz_cand c2
       |                   WHERE c2.user_id = ch.user_id AND c2.s > ch.e
       |                     AND c2.rn < c.rn))
       |SELECT user_id AS target_id, s AS attack_start_us, e AS attack_end_us,
       |       s + $WithinUs AS expiry_us, CAST($MinRun AS BIGINT) AS fragment_count
       |FROM cz_chain
       |ORDER BY target_id, attack_start_us""".stripMargin

  /** THREE-stage CEP chain (r13) — `fragments{3,} followedBy probe
    * followedBy high within 24h`: a fragment run, then a mid-band probe
    * event (the reconnaissance step between the flood and the strike),
    * then the high event — the natural escalation of the reference's
    * two-stage pattern, compiled through the builder's chained
    * `followedBy`. Semantics = the documented rules with the stage-2
    * state generalized to a PENDING SET (every viable alive start takes
    * its first probe; a later high completes the earliest within-alive
    * pending even after earlier starts age out — `CepNfaSpec` pins the
    * multi-pending counterexample a single-pending model misses, plus
    * batch+streaming fuzz vs the partial-set interpreter). One exchange
    * + the native [[graft.functions.CepFoldChain]] per-key fold with one
    * middle stage; the oracle replays the identical fold as a per-key
    * recursive CTE carrying the loop buffer AND the three pending lists.
    */
  def cep3Stage(s: SparkSession, dir: String): DataFrame =
    cep3StageOn(Tables.t(s, dir, "events"))

  def cep3StageOn(events: DataFrame): DataFrame =
    CepPattern.on("user_id")
      .where(col("value") < LowThresh)
      .times(MinRun, MaxRun)
      .followedBy(col("value") >= LowThresh && col("value") <= HighThresh)
      .followedBy(col("value") > HighThresh)
      .within(WithinUs)
      .detect(events.select("user_id", "event_id", "ts", "value"))
      .select(col("user_id").as("target_id"),
        col("run_start_us").as("attack_start_us"),
        col("run_end_us").as("attack_end_us"),
        element_at(col("mid_ts_us_list"), 1).as("probe_ts_us"),
        col("next_ts_us").as("normal_ts_us"),
        col("run_count").as("fragment_count"))
      .orderBy("target_id", "attack_start_us")

  val cep3StageOracle: String = {
    val (w, min) = (WithinUs, MinRun)
    // pruned-state helper fragments (DuckDB lateral column references let
    // the recursive term name its intermediates once)
    s"""WITH RECURSIVE c3_e AS (
       |  SELECT user_id, epoch_us(ts) AS t,
       |         CASE WHEN value > $HighThresh THEN 2
       |              WHEN value >= $LowThresh THEN 1 ELSE 0 END AS k,
       |         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
       |  FROM events),
       |step AS (
       |  SELECT user_id, 0 AS i,
       |         CAST([] AS BIGINT[]) AS buf, CAST([] AS BIGINT[]) AS ps,
       |         CAST([] AS BIGINT[]) AS pe, CAST([] AS BIGINT[]) AS pb
       |  FROM (SELECT DISTINCT user_id FROM c3_e)
       |  UNION ALL
       |  SELECT user_id, i, buf2 AS buf, ps2 AS ps, pe2 AS pe, pb2 AS pb FROM (
       |    SELECT s.user_id AS user_id, s.i + 1 AS i, ev.k AS k, ev.t AS t,
       |      list_filter(s.buf, x -> ev.t - x <= $w) AS nb,
       |      len(s.ps) - len(list_filter(s.ps, x -> ev.t - x <= $w)) AS dp,
       |      s.ps[dp+1:] AS kps, s.pe[dp+1:] AS kpe, s.pb[dp+1:] AS kpb,
       |      CASE WHEN k = 1 THEN list_filter(
       |             list_transform(generate_series(1, greatest(len(nb) - $min + 1, 0)),
       |               j -> {'s': nb[j], 'e': nb[j + $min - 1]}),
       |             r -> struct_extract(r, 's') >
       |                  coalesce(kps[-1], -9223372036854775807))
       |           ELSE CAST([] AS STRUCT(s BIGINT, e BIGINT)[]) END AS cand,
       |      CASE WHEN k = 2 AND len(kps) > 0 THEN CAST([] AS BIGINT[])
       |           WHEN k = 0 THEN list_append(nb, t) ELSE nb END AS buf2,
       |      CASE WHEN k = 2 AND len(kps) > 0 THEN CAST([] AS BIGINT[])
       |           WHEN k = 1 THEN kps || list_transform(cand, r -> struct_extract(r, 's'))
       |           ELSE kps END AS ps2,
       |      CASE WHEN k = 2 AND len(kps) > 0 THEN CAST([] AS BIGINT[])
       |           WHEN k = 1 THEN kpe || list_transform(cand, r -> struct_extract(r, 'e'))
       |           ELSE kpe END AS pe2,
       |      CASE WHEN k = 2 AND len(kps) > 0 THEN CAST([] AS BIGINT[])
       |           WHEN k = 1 THEN kpb || list_transform(cand, r -> ev.t)
       |           ELSE kpb END AS pb2
       |    FROM step s JOIN c3_e ev ON ev.user_id = s.user_id AND ev.rn = s.i + 1))
       |SELECT target_id, attack_start_us, attack_end_us, probe_ts_us,
       |       normal_ts_us, fragment_count FROM (
       |  SELECT s.user_id AS target_id,
       |         len(s.ps) - len(list_filter(s.ps, x -> ev.t - x <= $w)) AS dp,
       |         (s.ps[dp+1:])[1] AS attack_start_us,
       |         (s.pe[dp+1:])[1] AS attack_end_us,
       |         (s.pb[dp+1:])[1] AS probe_ts_us,
       |         ev.t AS normal_ts_us,
       |         CAST($min AS BIGINT) AS fragment_count,
       |         ev.k AS k, len(s.ps[dp+1:]) AS np
       |  FROM step s JOIN c3_e ev ON ev.user_id = s.user_id AND ev.rn = s.i + 1)
       |WHERE k = 2 AND np > 0
       |ORDER BY target_id, attack_start_us""".stripMargin
  }

  /** FOUR-stage CEP chain (r13 cont.) — `fragments{3,} followedBy probe1
    * followedBy probe2 followedBy high within 24h`: the full kill-chain
    * escalation (flood → low recon → high recon → strike), compiled
    * through the builder's arbitrary-depth `followedBy` onto the general
    * native [[graft.functions.CepFoldChain]] (the pending-set rules
    * applied stage-by-stage; induction + fuzz vs the independent
    * `CepNfaSpec.replayChain` interpreter). Stage bands: value < 50 loop,
    * [50, 75) probe1, [75, 100] probe2, > 100 strike. One exchange + the
    * per-key fold; the oracle replays the identical fold as a per-key
    * recursive CTE carrying the loop buffer AND both pending stages.
    * Window 72 h (see [[Chain4WithinUs]]).
    */
  def cep4Stage(s: SparkSession, dir: String): DataFrame =
    cep4StageOn(Tables.t(s, dir, "events"))

  final val MidSplit = 75.0
  /** The 4-stage window: the full escalation plays out over days, not the
    * two-stage pattern's 24 h — 72 h keeps 42 matches at sf0.01 (24 h
    * leaves 1: the chain would gate without exercising the fold).
    */
  final val Chain4WithinUs = 72L * 3600 * 1000000

  def cep4StageOn(events: DataFrame): DataFrame =
    CepPattern.on("user_id")
      .where(col("value") < LowThresh)
      .times(MinRun, MaxRun)
      .followedBy(col("value") >= LowThresh && col("value") < MidSplit)
      .followedBy(col("value") >= MidSplit && col("value") <= HighThresh)
      .followedBy(col("value") > HighThresh)
      .within(Chain4WithinUs)
      .detect(events.select("user_id", "event_id", "ts", "value"))
      .select(col("user_id").as("target_id"),
        col("run_start_us").as("attack_start_us"),
        col("run_end_us").as("attack_end_us"),
        element_at(col("mid_ts_us_list"), 1).as("probe1_ts_us"),
        element_at(col("mid_ts_us_list"), 2).as("probe2_ts_us"),
        col("next_ts_us").as("strike_ts_us"),
        col("run_count").as("fragment_count"))
      .orderBy("target_id", "attack_start_us")

  val cep4StageOracle: String = {
    val (w, min) = (Chain4WithinUs, MinRun)
    s"""WITH RECURSIVE c4_e AS (
       |  SELECT user_id, epoch_us(ts) AS t,
       |         CASE WHEN value > $HighThresh THEN 3
       |              WHEN value >= $MidSplit THEN 2
       |              WHEN value >= $LowThresh THEN 1 ELSE 0 END AS k,
       |         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
       |  FROM events),
       |step4 AS (
       |  SELECT user_id, 0 AS i,
       |         CAST([] AS BIGINT[]) AS buf,
       |         CAST([] AS BIGINT[]) AS p1s, CAST([] AS BIGINT[]) AS p1e,
       |         CAST([] AS BIGINT[]) AS p1b,
       |         CAST([] AS BIGINT[]) AS p2s, CAST([] AS BIGINT[]) AS p2e,
       |         CAST([] AS BIGINT[]) AS p2a, CAST([] AS BIGINT[]) AS p2b
       |  FROM (SELECT DISTINCT user_id FROM c4_e)
       |  UNION ALL
       |  SELECT user_id, i, nbuf AS buf, np1s AS p1s, np1e AS p1e,
       |         np1b AS p1b, np2s AS p2s, np2e AS p2e, np2a AS p2a,
       |         np2b AS p2b FROM (
       |    SELECT s.user_id AS user_id, s.i + 1 AS i, ev.k AS k, ev.t AS t,
       |      list_filter(s.buf, x -> ev.t - x <= $w) AS fb,
       |      len(s.p1s) - len(list_filter(s.p1s, x -> ev.t - x <= $w)) AS d1,
       |      s.p1s[d1+1:] AS k1s, s.p1e[d1+1:] AS k1e, s.p1b[d1+1:] AS k1b,
       |      len(s.p2s) - len(list_filter(s.p2s, x -> ev.t - x <= $w)) AS d2,
       |      s.p2s[d2+1:] AS k2s, s.p2e[d2+1:] AS k2e,
       |      s.p2a[d2+1:] AS k2a, s.p2b[d2+1:] AS k2b,
       |      -- stage-1 installs at a B1: alive runs with s past the last p1 entry
       |      CASE WHEN k = 1 THEN list_filter(
       |             list_transform(generate_series(1, greatest(len(fb) - $min + 1, 0)),
       |               j -> {'s': fb[j], 'e': fb[j + $min - 1]}),
       |             r -> struct_extract(r, 's') >
       |                  coalesce(k1s[-1], -9223372036854775807))
       |           ELSE CAST([] AS STRUCT(s BIGINT, e BIGINT)[]) END AS c1,
       |      -- stage-2 installs at a B2: stage-1 entries past the last p2 entry
       |      CASE WHEN k = 2 THEN list_filter(
       |             list_transform(generate_series(1, len(k1s)),
       |               j -> {'s': k1s[j], 'e': k1e[j], 'a': k1b[j]}),
       |             r -> struct_extract(r, 's') >
       |                  coalesce(k2s[-1], -9223372036854775807))
       |           ELSE CAST([] AS STRUCT(s BIGINT, e BIGINT, a BIGINT)[]) END AS c2,
       |      (k = 3 AND len(k2s) > 0) AS hit,
       |      CASE WHEN hit THEN CAST([] AS BIGINT[])
       |           WHEN k = 0 THEN list_append(fb, t) ELSE fb END AS nbuf,
       |      CASE WHEN hit THEN CAST([] AS BIGINT[])
       |           WHEN k = 1 THEN k1s || list_transform(c1, r -> struct_extract(r, 's'))
       |           ELSE k1s END AS np1s,
       |      CASE WHEN hit THEN CAST([] AS BIGINT[])
       |           WHEN k = 1 THEN k1e || list_transform(c1, r -> struct_extract(r, 'e'))
       |           ELSE k1e END AS np1e,
       |      CASE WHEN hit THEN CAST([] AS BIGINT[])
       |           WHEN k = 1 THEN k1b || list_transform(c1, r -> ev.t)
       |           ELSE k1b END AS np1b,
       |      CASE WHEN hit THEN CAST([] AS BIGINT[])
       |           WHEN k = 2 THEN k2s || list_transform(c2, r -> struct_extract(r, 's'))
       |           ELSE k2s END AS np2s,
       |      CASE WHEN hit THEN CAST([] AS BIGINT[])
       |           WHEN k = 2 THEN k2e || list_transform(c2, r -> struct_extract(r, 'e'))
       |           ELSE k2e END AS np2e,
       |      CASE WHEN hit THEN CAST([] AS BIGINT[])
       |           WHEN k = 2 THEN k2a || list_transform(c2, r -> struct_extract(r, 'a'))
       |           ELSE k2a END AS np2a,
       |      CASE WHEN hit THEN CAST([] AS BIGINT[])
       |           WHEN k = 2 THEN k2b || list_transform(c2, r -> ev.t)
       |           ELSE k2b END AS np2b
       |    FROM step4 s JOIN c4_e ev ON ev.user_id = s.user_id AND ev.rn = s.i + 1))
       |SELECT target_id, attack_start_us, attack_end_us, probe1_ts_us,
       |       probe2_ts_us, strike_ts_us, fragment_count FROM (
       |  SELECT s.user_id AS target_id,
       |         len(s.p2s) - len(list_filter(s.p2s, x -> ev.t - x <= $w)) AS d2,
       |         (s.p2s[d2+1:])[1] AS attack_start_us,
       |         (s.p2e[d2+1:])[1] AS attack_end_us,
       |         (s.p2a[d2+1:])[1] AS probe1_ts_us,
       |         (s.p2b[d2+1:])[1] AS probe2_ts_us,
       |         ev.t AS strike_ts_us,
       |         CAST($min AS BIGINT) AS fragment_count,
       |         ev.k AS k, len(s.p2s[d2+1:]) AS np
       |  FROM step4 s JOIN c4_e ev ON ev.user_id = s.user_id AND ev.rn = s.i + 1)
       |WHERE k = 3 AND np > 0
       |ORDER BY target_id, attack_start_us""".stripMargin
  }

  /** IPInsights analog (reference sagemaker notebook: entity<->IP
    * co-occurrence scoring). Rarity = expected/observed co-occurrence of
    * (user, event_type): integer-exact counts, one final IEEE division.
    */
  def rarityScore(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.t(s, dir, "events")
    // ONE scan of the fact table: the (user, type) contingency counts are a
    // sufficient statistic — every marginal is a tiny roll-up of `pair`
    // (sums of disjoint counts are counts), so the three extra fact-table
    // passes the naive form takes collapse into aggregations of an already
    // user x type sized frame. Persisted: consumed by three derivations +
    // the final join.
    val pair = e.groupBy("user_id", "event_type").agg(count(lit(1)).as("n_pair"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val byUser = pair.groupBy("user_id").agg(sum(col("n_pair")).as("n_user"))
    val byType = pair.groupBy("event_type").agg(sum(col("n_pair")).as("n_type"))
    val total = pair.agg(sum(col("n_pair")).as("n_total"))
    pair
      .join(byUser, "user_id")
      .join(broadcast(byType), "event_type")
      .crossJoin(broadcast(total))
      .withColumn("rarity",
        (col("n_user") * col("n_type")).cast(DoubleType) /
          (col("n_total") * col("n_pair")).cast(DoubleType))
      .select("user_id", "event_type", "n_pair", "rarity")
      .orderBy("user_id", "event_type")
  }

  val rarityOracle: String =
    """WITH p AS (SELECT user_id, event_type, COUNT(*) AS n_pair FROM events GROUP BY 1,2),
      |u AS (SELECT user_id, COUNT(*) AS n_user FROM events GROUP BY 1),
      |t AS (SELECT event_type, COUNT(*) AS n_type FROM events GROUP BY 1),
      |tot AS (SELECT COUNT(*) AS n_total FROM events)
      |SELECT p.user_id, p.event_type, p.n_pair,
      |       CAST(u.n_user * t.n_type AS DOUBLE) /
      |       CAST(tot.n_total * p.n_pair AS DOUBLE) AS rarity
      |FROM p JOIN u USING (user_id) JOIN t USING (event_type) CROSS JOIN tot
      |ORDER BY user_id, event_type""".stripMargin

  /** Exact rank-based quantiles per group (value at rank ceil(q*n) — the
    * "lower" quantile, no interpolation, so it is deterministic and
    * oracle-checkable; the sketch path for 100 TB is approx_percentile).
    *
    * Scale shape: the raw events NEVER enter a per-type sort — a full sort
    * of one type is an un-splittable single task, and at 100 TB with a
    * handful of types that task holds the biggest type's entire volume.
    * Instead the fact table collapses to (type, value) COUNTS first (a
    * splittable, map-side-combined aggregate), and only the distinct-value
    * frame — bounded by the value cardinality, not the event count — is
    * ranked: value at rank r = the smallest value whose running count
    * reaches r.
    */
  def quantilesByType(s: SparkSession, dir: String): DataFrame = {
    val byVal = Window.partitionBy("event_type").orderBy("value")
    val byType = Window.partitionBy("event_type")
    def pick(q: Double) =
      min(when(col("cum") >= ceil(lit(q) * col("n")).cast(LongType), col("value")))
    Tables.t(s, dir, "events")
      .groupBy("event_type", "value")
      .agg(count(lit(1)).as("cnt"))
      .withColumn("cum", sum(col("cnt")).over(byVal))
      .withColumn("n", sum(col("cnt")).over(byType))
      .groupBy("event_type")
      .agg(pick(0.5).as("p50"), pick(0.95).as("p95"), pick(0.99).as("p99"))
      .orderBy("event_type")
  }

  val quantilesOracle: String =
    """WITH r AS (
      |  SELECT event_type, value, event_id,
      |         row_number() OVER (PARTITION BY event_type ORDER BY value, event_id) AS rn,
      |         COUNT(*) OVER (PARTITION BY event_type) AS n
      |  FROM events)
      |SELECT event_type,
      |  MAX(CASE WHEN rn = CAST(CEIL(0.5 * n) AS BIGINT) THEN value END) AS p50,
      |  MAX(CASE WHEN rn = CAST(CEIL(0.95 * n) AS BIGINT) THEN value END) AS p95,
      |  MAX(CASE WHEN rn = CAST(CEIL(0.99 * n) AS BIGINT) THEN value END) AS p99
      |FROM r GROUP BY event_type ORDER BY event_type""".stripMargin

  /** IPInsights-style TRAINED co-occurrence scorer (the reference trains a
    * SageMaker IPInsights embedding on (entity, ip) pairs — sagemaker
    * notebook cells 10-13 — and scores event pairs against it). Spark-first
    * analog: MLlib ALS with implicit feedback learns entity/type latent
    * factors from co-occurrence counts; score = <user_vec, type_vec>, low
    * score for an observed pair = anomalous association. Model-dependent ->
    * rows-only; monotonicity vs raw counts is unit-tested.
    */
  /** Distributed categorical index assignment for the ALS item column:
    * dense_rank over the (tiny) distinct type set, broadcast back onto the
    * co-occurrence pairs. No driver collect, no UDF — the single-partition
    * window runs on the post-distinct handful of rows only, and the sort
    * order matches a sorted.zipWithIndex exactly.
    */
  private[graft] def indexedPairs(e: DataFrame): DataFrame = {
    val typeIdx = e.select("event_type").distinct()
      .withColumn("type_idx",
        (dense_rank().over(Window.orderBy("event_type")) - 1).cast("int"))
    e.groupBy("user_id", "event_type")
      .agg(count(lit(1)).as("n_pair"))
      .join(broadcast(typeIdx), "event_type")
      .withColumn("strength", log1p(col("n_pair")))
  }

  def ipinsightsScore(s: SparkSession, dir: String): DataFrame =
    ipinsightsScoreOn(Tables.t(s, dir, "events"))

  /** Same, over any (user_id, event_type) frame — the trained-model table
    * a serving layer (e.g. `StreamingAnomaly.scoreStream`) consumes.
    */
  def ipinsightsScoreOn(e: DataFrame): DataFrame = {
    import org.apache.spark.ml.recommendation.ALS
    // consumed by fit AND transform — without the persist the pair
    // aggregation (a full fact-table pass) runs twice
    val pairs = indexedPairs(e)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val als = new ALS()
      .setUserCol("user_id").setItemCol("type_idx").setRatingCol("strength")
      .setImplicitPrefs(true).setRank(8).setMaxIter(5).setSeed(42L)
    val model = als.fit(pairs)
    model.setColdStartStrategy("drop")
    model.transform(pairs)
      .select(col("user_id"), col("event_type"), col("n_pair"),
        col("prediction").cast(DoubleType).as("score"))
      .orderBy("user_id", "event_type")
  }

  /** The fitted factor tables behind [[ipinsightsScoreOn]], widened to
    * Double (float -> double is exact) and keyed by the natural ids —
    * the freeze surface ([[graft.tools.AlsFreeze]] ships them as
    * `model/AlsRef` literals) and the frozen==fresh pinning spec both
    * call this. Bounded driver pull: |users| + |types| factor rows.
    */
  private[graft] def ipinsightsFit(
      e: DataFrame): (Array[(Long, Array[Double])], Array[(String, Array[Double])]) = {
    import org.apache.spark.ml.recommendation.ALS
    val pairs = indexedPairs(e)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val als = new ALS()
        .setUserCol("user_id").setItemCol("type_idx").setRatingCol("strength")
        .setImplicitPrefs(true).setRank(8).setMaxIter(5).setSeed(42L)
      val model = als.fit(pairs)
      def factors(df: DataFrame): Array[(Long, Array[Double])] =
        df.collect().map { r =>
          (r.getInt(0).toLong, r.getSeq[Float](1).map(_.toDouble).toArray)
        }.sortBy(_._1)
      val idxToType = pairs.select("type_idx", "event_type").distinct()
        .collect().map(r => r.getInt(0) -> r.getString(1)).toMap
      val users = factors(model.userFactors)
      val types = factors(model.itemFactors)
        .map { case (i, f) => (idxToType(i.toInt), f) }.sortBy(_._1)
      (users, types)
    } finally pairs.unpersist()
  }

  /** The frozen-factor scoring tail shared by the batch gate and the
    * STREAMING serving leg ([[graft.streaming.StreamingScoring]]): join
    * any (user_id, event_type, …) frame against the broadcast `AlsRef`
    * factor tables and append the ordered zip_with product + 0.0-seeded
    * left fold in DOUBLE — one expression, so batch and stream scores
    * are bit-equal BY CONSTRUCTION (and spec-pinned). Unknown keys drop
    * (inner join) = the trainer's cold-start drop. Works unchanged on a
    * streaming frame: both factor sides are broadcast statics and the
    * score is a map-side projection.
    */
  private[graft] def alsServeScore(pairs: DataFrame): DataFrame = {
    val s = pairs.sparkSession
    import s.implicits._
    val uf = graft.model.AlsRef.Users.toSeq.toDF("user_id", "uf")
    val tf = graft.model.AlsRef.Types.toSeq.toDF("event_type", "tf")
    pairs
      .join(broadcast(uf), "user_id")
      .join(broadcast(tf), "event_type")
      .withColumn("score", expr(
        "aggregate(zip_with(uf, tf, (x, y) -> x * y), CAST(0.0 AS DOUBLE), (a, v) -> a + v)"))
      .drop("uf", "tf")
  }

  /** FROZEN-model serving twin of [[ipinsightsScoreOn]] — the gated form.
    * The r11 freeze-the-fit pattern applied to the ALS analog of the
    * reference's SageMaker IPInsights deployment (the notebook trains
    * once, the endpoint serves the frozen weights — this is that shape):
    * the seeded fit's (user, type) factor tables ship as `model/AlsRef`
    * literals (spec-pinned to a fresh deterministic fit replay), scored
    * through [[alsServeScore]] — the exact IEEE op sequence DuckDB
    * replays with list_reduce/list_prepend, making the last rows-only
    * gate hash-exact. Scale shape: ONE fact-scale aggregate; both
    * factor sides broadcast.
    */
  def ipinsightsServe(s: SparkSession, dir: String): DataFrame =
    alsServeScore(
      Tables.t(s, dir, "events")
        .groupBy("user_id", "event_type")
        .agg(count(lit(1)).as("n_pair")))
      .select("user_id", "event_type", "n_pair", "score")
      .orderBy("user_id", "event_type")

  /** DuckDB replay of [[ipinsightsServe]]: the frozen factor tables as
    * VALUES literals (E-notation — strtod path), the same count
    * aggregate, and the same ordered product fold.
    */
  lazy val ipinsightsOracle: String = {
    def dbl(x: Double): String = {
      val s = x.toString
      if (s.contains('E') || s.contains('e')) s else s + "E0"
    }
    def lst(f: Array[Double]): String = f.map(dbl).mkString("[", ", ", "]")
    val uvals = graft.model.AlsRef.Users
      .map { case (u, f) => s"($u, ${lst(f)})" }.mkString(",\n  ")
    val tvals = graft.model.AlsRef.Types
      .map { case (t, f) => s"('$t', ${lst(f)})" }.mkString(",\n  ")
    s"""WITH uf(user_id, f) AS (VALUES
       |  $uvals),
       |tf(event_type, g) AS (VALUES
       |  $tvals),
       |p AS (SELECT user_id, event_type, COUNT(*) AS n_pair
       |      FROM events GROUP BY user_id, event_type)
       |SELECT p.user_id, p.event_type, CAST(p.n_pair AS BIGINT) AS n_pair,
       |  list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
       |    list_transform(list_zip(uf.f, tf.g), z -> z[1] * z[2])),
       |    (a, v) -> a + v) AS score
       |FROM p JOIN uf USING (user_id) JOIN tf USING (event_type)
       |ORDER BY user_id, event_type""".stripMargin
  }

  /** Z-score outliers per event type. Moments from exact decimal sums; the
    * naive-variance formula is written identically in both engines so the
    * IEEE op sequence matches bit-for-bit.
    */
  def zscoreOutliers(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.t(s, dir, "events")
    val stats = e.groupBy("event_type").agg(
      count(lit(1)).as("n"),
      dsum(col("value")).as("sx"),
      sum(d2(col("value")) * d2(col("value"))).cast(DoubleType).as("sxx"))
    val mean = col("sx") / col("n")
    val std = sqrt(col("sxx") / col("n") - (col("sx") / col("n")) * (col("sx") / col("n")))
    e.join(broadcast(stats), "event_type")
      .filter(abs(col("value") - mean) > lit(2.5) * std)
      .select("event_id", "event_type", "value")
      .orderBy("event_id")
  }

  val zscoreOracle: String =
    s"""WITH s AS (
       |  SELECT event_type, COUNT(*) AS n, ${sqlDsum("value")} AS sx,
       |         CAST(SUM(CAST(value AS DECIMAL(18,2)) * CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sxx
       |  FROM events GROUP BY event_type)
       |SELECT e.event_id, e.event_type, e.value
       |FROM events e JOIN s USING (event_type)
       |WHERE ABS(e.value - s.sx / s.n) >
       |      2.5 * SQRT(s.sxx / s.n - (s.sx / s.n) * (s.sx / s.n))
       |ORDER BY event_id""".stripMargin

  /** Weekly cohort retention matrix — the product-analytics staple over
    * event streams: users cohorted by their FIRST active week, each later
    * week counted as (cohort, weeks-since) actives. ONE fact scan and
    * two hash shuffles (plan-asserted): the per-user fold collects the
    * user's distinct active weeks as a set — bounded by calendar weeks
    * (~52/year), so the "array per key" is a few hundred ints at ANY
    * scale, with map-side partial merge — cohort = its min; the second
    * shuffle is the tiny (cohort, k) fold. (A distinct + min + join
    * formulation costs three shuffles and two scans: (user, wk) and
    * (user) partitionings don't align, and the optimizer computes the
    * min off a second scan.) Integer week arithmetic (epoch-us div), no
    * calendar functions, so the cohort keys are engine-exact.
    */
  def retentionCohorts(s: SparkSession, dir: String): DataFrame = {
    val wkUs = 7L * 86400L * 1000000L
    Tables.t(s, dir, "events")
      .select(col("user_id"), expr(s"unix_micros(ts) div $wkUs").as("wk"))
      .groupBy("user_id")
      .agg(expr("array_sort(collect_set(wk))").as("wks"))
      .select(explode(col("wks")).as("wk"),
        expr("element_at(wks, 1)").as("cohort_wk"))
      .withColumn("k", col("wk") - col("cohort_wk"))
      .groupBy("cohort_wk", "k")
      .agg(count(lit(1)).as("n_users"))
      .orderBy("cohort_wk", "k")
  }

  val retentionOracle: String = {
    val wkUs = 7L * 86400L * 1000000L
    s"""WITH a AS (SELECT DISTINCT user_id, epoch_us(ts) // $wkUs AS wk FROM events),
       |f AS (SELECT user_id, MIN(wk) AS cohort_wk FROM a GROUP BY user_id)
       |SELECT f.cohort_wk, a.wk - f.cohort_wk AS k, CAST(COUNT(*) AS BIGINT) AS n_users
       |FROM a JOIN f USING (user_id)
       |GROUP BY 1, 2 ORDER BY cohort_wk, k""".stripMargin
  }

  /** Seasonality-aware deviation detection — the diurnal-baseline member
    * of the anomaly family: the z-score filter compares against a GLOBAL
    * per-type mean, so normal nightly troughs and daily peaks both read as
    * outliers; here the baseline is per (event_type, hour-of-day) — 24
    * profiles per type — and an event flags only when it exceeds its own
    * hour's seasonal mean by the factor. Baseline means use the exact
    * decimal-sum discipline (one IEEE division at the end); the stats side
    * is at most 24 x |types| rows, so it reaches the flagging pass as a
    * broadcast — the fact table is never reshuffled, though it IS scanned
    * twice (stats pass + probe pass; Spark reuses exchanges, not scans),
    * the same shape as [[zscoreOutliers]].
    */
  def seasonalBaseline(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.t(s, dir, "events")
      .withColumn("hod", hour(col("ts")).cast("long"))
    val stats = e.groupBy("event_type", "hod").agg(
      count(lit(1)).as("n"), dsum(col("value")).as("sx"))
    val mean = col("sx") / col("n")
    e.join(broadcast(stats), Seq("event_type", "hod"))
      .filter(col("value") > lit(3.0) * mean)
      .select("event_id", "event_type", "hod", "value")
      .orderBy("event_id")
  }

  val seasonalOracle: String =
    s"""WITH s AS (
       |  SELECT event_type, hour(ts) AS hod, COUNT(*) AS n,
       |         ${sqlDsum("value")} AS sx
       |  FROM events GROUP BY event_type, hour(ts))
       |SELECT e.event_id, e.event_type, CAST(hour(e.ts) AS BIGINT) AS hod, e.value
       |FROM events e JOIN s ON s.event_type = e.event_type AND s.hod = hour(e.ts)
       |WHERE e.value > 3.0 * (s.sx / s.n)
       |ORDER BY event_id""".stripMargin

  /** Detector ENSEMBLE — the production anomaly surface is never one
    * statistic: each detector has a blind spot (z-score goes blind under
    * heavy tails, MAD has no seasonal model, the diurnal baseline misses
    * global shifts), so events are flagged on AGREEMENT — at least 2 of
    * the 3 per-event detectors. Each member runs its own already-gated
    * plan; the vote is a union of three (event_id) streams folded by one
    * tiny aggregate, and the detail join recovers the event row. The
    * composition costs the members' documented passes plus one
    * id-sized fold — nothing new touches the fact table.
    */
  def anomalyEnsemble(s: SparkSession, dir: String): DataFrame = {
    val votes = zscoreOutliers(s, dir).select("event_id")
      .union(madOutliers(s, dir).select("event_id"))
      .union(seasonalBaseline(s, dir).select("event_id"))
      .groupBy("event_id").agg(count(lit(1)).as("votes"))
      .filter(col("votes") >= 2)
    Tables.t(s, dir, "events")
      .join(broadcast(votes), "event_id")
      .select("event_id", "event_type", "value", "votes")
      .orderBy("event_id")
  }

  val ensembleOracle: String =
    s"""WITH zs AS (
       |  SELECT event_type, COUNT(*) AS n, ${sqlDsum("value")} AS sx,
       |         CAST(SUM(CAST(value AS DECIMAL(18,2)) * CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sxx
       |  FROM events GROUP BY event_type),
       |zf AS (
       |  SELECT e.event_id FROM events e JOIN zs USING (event_type)
       |  WHERE ABS(e.value - zs.sx / zs.n) >
       |        2.5 * SQRT(zs.sxx / zs.n - (zs.sx / zs.n) * (zs.sx / zs.n))),
       |mc AS (SELECT event_type, value, CAST(COUNT(*) AS BIGINT) AS cnt
       |       FROM events GROUP BY event_type, value),
       |mr AS (SELECT event_type, value, cnt,
       |              SUM(cnt) OVER (PARTITION BY event_type ORDER BY value
       |                             ROWS UNBOUNDED PRECEDING) AS cum,
       |              SUM(cnt) OVER (PARTITION BY event_type) AS n
       |       FROM mc),
       |mmed AS (SELECT event_type, MIN(value) AS med FROM mr
       |         WHERE cum * 2 >= n + (n % 2) GROUP BY event_type),
       |mdc AS (SELECT mc.event_type, ABS(mc.value - mmed.med) AS dev,
       |               SUM(mc.cnt) AS cnt
       |        FROM mc JOIN mmed USING (event_type)
       |        GROUP BY mc.event_type, ABS(mc.value - mmed.med)),
       |mdr AS (SELECT event_type, dev, cnt,
       |               SUM(cnt) OVER (PARTITION BY event_type ORDER BY dev
       |                              ROWS UNBOUNDED PRECEDING) AS cum,
       |               SUM(cnt) OVER (PARTITION BY event_type) AS n
       |        FROM mdc),
       |mmad AS (SELECT event_type, MIN(dev) AS mad FROM mdr
       |         WHERE cum * 2 >= n + (n % 2) GROUP BY event_type),
       |mf AS (
       |  SELECT e.event_id FROM events e
       |  JOIN mmed USING (event_type) JOIN mmad USING (event_type)
       |  WHERE ABS(e.value - mmed.med) > 5.0 * mmad.mad),
       |ss AS (
       |  SELECT event_type, hour(ts) AS hod, COUNT(*) AS n,
       |         ${sqlDsum("value")} AS sx
       |  FROM events GROUP BY event_type, hour(ts)),
       |sf AS (
       |  SELECT e.event_id FROM events e
       |  JOIN ss ON ss.event_type = e.event_type AND ss.hod = hour(e.ts)
       |  WHERE e.value > 3.0 * (ss.sx / ss.n)),
       |u AS (SELECT * FROM zf UNION ALL SELECT * FROM mf UNION ALL SELECT * FROM sf),
       |v AS (SELECT event_id, CAST(COUNT(*) AS BIGINT) AS votes
       |      FROM u GROUP BY event_id HAVING COUNT(*) >= 2)
       |SELECT e.event_id, e.event_type, e.value, v.votes
       |FROM events e JOIN v USING (event_id)
       |ORDER BY event_id""".stripMargin

  /** CUSUM drift detection per key (Page 1954 re-derived for SQL windows):
    * the sequential changepoint statistic the z-score filter cannot
    * replace — z-score flags single outliers, CUSUM accumulates SMALL
    * sustained shifts (a slow-ramp exfiltration that never trips a
    * per-event threshold). The recursion S_i = max(0, S_{i-1} + dev_i) is
    * not window-expressible directly, but its closed form is:
    * S_i = cum_i - min(0, min_{j<=i} cum_j) over the running sum of
    * deviations — two stacked running windows, exactly one shuffle by key.
    *
    * Everything is integer math: values quantize to floor(value*1e6),
    * deviations scale by the key's event count n (dev = n*x - S_tot -
    * S_tot div 10, i.e. 10% slack over the key's own mean) so no division
    * ever happens. (`div`, Scala `/` and DuckDB `//` all truncate toward
    * zero — verified, so the slack term agrees across engines for any
    * sign.) Overflow bound: |cum| <= n^2 * vmax * 1e6 must stay under
    * 2^63 — at vmax ~ 600 that is ~1.2e5 events per key; past that,
    * [[cusumDriftWindowedOn]] (`ev_cusum_windowed`) IS the default scale
    * form — same plan with day in the group key, which caps n by
    * construction.
    */
  def cusumDrift(s: SparkSession, dir: String): DataFrame =
    cusumDriftOn(Tables.t(s, dir, "events"))

  def cusumDriftOn(events: DataFrame): DataFrame = {
    val byUser = Window.partitionBy("user_id")
    val ord = Window.partitionBy("user_id").orderBy(col("ts_us"), col("event_id"))
    val run = ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    events
      .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("ts_us"),
        floor(col("value") * lit(1e6)).cast("long").as("x"))
      .withColumn("n", count(lit(1)).over(byUser))
      .withColumn("s_tot", sum(col("x")).over(byUser))
      .withColumn("dev", col("n") * col("x") - col("s_tot") - expr("s_tot div 10"))
      .withColumn("cum", sum(col("dev")).over(run))
      .withColumn("runmin", min(col("cum")).over(run))
      .withColumn("cusum", col("cum") - least(lit(0L), col("runmin")))
      .groupBy("user_id")
      .agg(max(col("n")).as("n_events"),
        max(col("cusum")).as("max_cusum"),
        sum(when(col("cusum") > lit(2L) * col("s_tot"), 1L).otherwise(0L)).as("n_breach"),
        min(when(col("cusum") > lit(2L) * col("s_tot"), col("ts_us"))).as("first_breach_us"))
      .orderBy("user_id")
  }

  val cusumOracle: String =
    """WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS ts_us,
      |             CAST(FLOOR(value * 1e6) AS BIGINT) AS x FROM events),
      |w AS (SELECT *, COUNT(*) OVER (PARTITION BY user_id) AS n,
      |        CAST(SUM(x) OVER (PARTITION BY user_id) AS BIGINT) AS s_tot FROM e),
      |c AS (SELECT *, n * x - s_tot - s_tot // 10 AS dev FROM w),
      |r AS (SELECT *, CAST(SUM(dev) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
      |        ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum FROM c),
      |m AS (SELECT *, MIN(cum) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
      |        ROWS UNBOUNDED PRECEDING) AS runmin FROM r),
      |f AS (SELECT *, cum - LEAST(0, runmin) AS cusum FROM m)
      |SELECT user_id, MAX(n) AS n_events, MAX(cusum) AS max_cusum,
      |  CAST(COALESCE(SUM(CASE WHEN cusum > 2 * s_tot THEN 1 END), 0) AS BIGINT) AS n_breach,
      |  MIN(CASE WHEN cusum > 2 * s_tot THEN ts_us END) AS first_breach_us
      |FROM f GROUP BY user_id ORDER BY user_id""".stripMargin

  /** Day-windowed CUSUM — the DEFAULT form at scale, the window the
    * unwindowed query's overflow note prescribes: the statistic (and its
    * baseline n / S_tot) resets per (user_id, day), which caps n at one
    * day's events per key, so the |cum| <= n^2 * x_max bound is enforced
    * by construction instead of by hoping keys stay cold. Same plan
    * shape: ONE exchange on (user_id, day) shared by both running windows
    * and the final fold (the group key grew, the shuffle count did not),
    * and each day's partition is independent — hot keys parallelize
    * across days instead of serializing into one window. A drift that
    * spans a day boundary shows up in the next day's statistic against
    * that day's own baseline (the standard rolling-reset trade).
    * [[CusumWindowedSpec]] pins integer-exactness against a BigInt driver
    * fold AT the overflow boundary where the unwindowed form wraps.
    */
  def cusumDriftWindowedOn(events: DataFrame): DataFrame = {
    val byKey = Window.partitionBy("user_id", "day_us")
    val ord = Window.partitionBy("user_id", "day_us")
      .orderBy(col("ts_us"), col("event_id"))
    val run = ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    events
      // day as epoch-micros of the day boundary (the tumbling-hourly
      // pattern): DATE columns are not canonicalization-stable across the
      // gate's readers, longs are
      .select(col("user_id"), col("event_id"),
        unix_micros(date_trunc("day", col("ts"))).as("day_us"),
        unix_micros(col("ts")).as("ts_us"),
        floor(col("value") * lit(1e6)).cast("long").as("x"))
      .withColumn("n", count(lit(1)).over(byKey))
      .withColumn("s_tot", sum(col("x")).over(byKey))
      .withColumn("dev", col("n") * col("x") - col("s_tot") - expr("s_tot div 10"))
      .withColumn("cum", sum(col("dev")).over(run))
      .withColumn("runmin", min(col("cum")).over(run))
      .withColumn("cusum", col("cum") - least(lit(0L), col("runmin")))
      .groupBy("user_id", "day_us")
      .agg(max(col("n")).as("n_events"),
        max(col("cusum")).as("max_cusum"),
        sum(when(col("cusum") > lit(2L) * col("s_tot"), 1L).otherwise(0L)).as("n_breach"),
        min(when(col("cusum") > lit(2L) * col("s_tot"), col("ts_us"))).as("first_breach_us"))
      .orderBy("user_id", "day_us")
  }

  def cusumDriftWindowed(s: SparkSession, dir: String): DataFrame =
    cusumDriftWindowedOn(Tables.t(s, dir, "events"))

  val cusumWindowedOracle: String =
    """WITH e AS (SELECT user_id, event_id, epoch_us(date_trunc('day', ts)) AS day_us,
      |             epoch_us(ts) AS ts_us,
      |             CAST(FLOOR(value * 1e6) AS BIGINT) AS x FROM events),
      |w AS (SELECT *, COUNT(*) OVER (PARTITION BY user_id, day_us) AS n,
      |        CAST(SUM(x) OVER (PARTITION BY user_id, day_us) AS BIGINT) AS s_tot FROM e),
      |c AS (SELECT *, n * x - s_tot - s_tot // 10 AS dev FROM w),
      |r AS (SELECT *, CAST(SUM(dev) OVER (PARTITION BY user_id, day_us ORDER BY ts_us, event_id
      |        ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum FROM c),
      |m AS (SELECT *, MIN(cum) OVER (PARTITION BY user_id, day_us ORDER BY ts_us, event_id
      |        ROWS UNBOUNDED PRECEDING) AS runmin FROM r),
      |f AS (SELECT *, cum - LEAST(0, runmin) AS cusum FROM m)
      |SELECT user_id, day_us, MAX(n) AS n_events, MAX(cusum) AS max_cusum,
      |  CAST(COALESCE(SUM(CASE WHEN cusum > 2 * s_tot THEN 1 END), 0) AS BIGINT) AS n_breach,
      |  MIN(CASE WHEN cusum > 2 * s_tot THEN ts_us END) AS first_breach_us
      |FROM f GROUP BY user_id, day_us ORDER BY user_id, day_us""".stripMargin

  /** Exactly-once replay semantics: deterministic dedup on (user_id, ts),
    * keeping the lowest event_id (dropDuplicates would be nondeterministic).
    */
  def dedupReplay(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id", "ts").orderBy("event_id")
    Tables.t(s, dir, "events")
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_events"), dsum(col("value")).as("sum_value"))
      .orderBy("user_id")
  }

  val dedupReplayOracle: String =
    s"""WITH d AS (
       |  SELECT *, row_number() OVER (PARTITION BY user_id, ts ORDER BY event_id) AS rn
       |  FROM events)
       |SELECT user_id, COUNT(*) AS n_events, ${sqlDsum("value")} AS sum_value
       |FROM d WHERE rn = 1 GROUP BY user_id ORDER BY user_id""".stripMargin

  /** Schema'd JSON extraction (reference serde:
    * flink-app/.../serde/JsonDeserializationSchema.java) — one
    * `get_json_object` path per row, cast to the field's type, no UDF.
    * `get_json_object` takes part in whole-stage codegen; `from_json`
    * (`JsonToStructs`, Spark 4.1) is `CodegenFallback`, an interpreted
    * parse per evaluation.
    */
  def jsonExtract(s: SparkSession, dir: String): DataFrame =
    Tables.t(s, dir, "events")
      .withColumn("k", get_json_object(col("props"), "$.k").cast(LongType))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum(col("k")).cast(LongType).as("sum_k"))
      .withColumn("avg_k", col("sum_k").cast(DoubleType) / col("n"))
      .orderBy("event_type")

  val jsonExtractOracle: String =
    """SELECT event_type, COUNT(*) AS n,
      |       CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
      |       CAST(CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS DOUBLE) / COUNT(*) AS avg_k
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  /** As-of join: each event picks the latest order of the same customer at
    * or before its timestamp. Spark has no native ASOF; the scalable
    * composition is union + one keyed window pass (a single shuffle on the
    * key — never a per-row range subquery). The oracle is DuckDB's native
    * ASOF JOIN, i.e. an independent implementation of the same semantics.
    * Orders are first reduced to one per (custkey, orderdate) so the as-of
    * pick is unambiguous in both engines.
    */
  def asofLastOrder(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.t(s, dir, "events")
    val o = Tables.t(s, dir, "orders")
      .groupBy("o_custkey", "o_orderdate")
      .agg(max("o_orderkey").as("o_orderkey"))
    val oTag = o.select(
      col("o_custkey").as("k"), epochUs(col("o_orderdate")).as("t"),
      lit(null).cast(LongType).as("event_id"),
      col("o_orderkey"), lit(0).as("tag"))
    val eTag = e.select(
      col("user_id").as("k"), epochUs(col("ts")).as("t"),
      col("event_id"), lit(null).cast(LongType).as("o_orderkey"), lit(1).as("tag"))
    // at equal t the order row sorts first, so "ts >= orderdate" includes it
    val w = Window.partitionBy("k").orderBy("t", "tag")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    oTag.unionByName(eTag)
      .withColumn("mk", last(col("o_orderkey"), ignoreNulls = true).over(w))
      .withColumn("mt", last(when(col("tag") === 0, col("t")), ignoreNulls = true).over(w))
      .filter(col("tag") === 1 && col("mk").isNotNull)
      .select(col("event_id"), col("k").as("user_id"),
        col("mk").as("o_orderkey"), col("mt").as("odate_us"))
      .orderBy("event_id")
  }

  val asofOracle: String =
    """WITH orders_d AS (
      |  SELECT o_custkey, o_orderdate, MAX(o_orderkey) AS o_orderkey
      |  FROM orders GROUP BY o_custkey, o_orderdate)
      |SELECT e.event_id, e.user_id, o.o_orderkey, epoch_us(o.o_orderdate) AS odate_us
      |FROM events e ASOF JOIN orders_d o
      |  ON e.user_id = o.o_custkey AND e.ts >= o.o_orderdate
      |ORDER BY event_id""".stripMargin

  /** Interval (range) join: enrich each detected attack with the events
    * that fall inside its window — a non-equi join on
    * key = key AND start <= ts <= end. The attack side is small by
    * construction, so it broadcasts and the range predicate evaluates
    * map-side against the events scan (no cartesian at scale).
    */
  def attackContext(s: SparkSession, dir: String): DataFrame = {
    val attacks = cepAttackOn(Tables.t(s, dir, "events"))
      .select("target_id", "attack_start_us", "normal_ts_us")
    val e = Tables.t(s, dir, "events")
      .select(col("user_id"), unix_micros(col("ts")).as("ts_us"),
        col("value"))
    e.join(broadcast(attacks),
        col("user_id") === col("target_id") &&
          col("ts_us") >= col("attack_start_us") &&
          col("ts_us") <= col("normal_ts_us"))
      .groupBy("target_id", "attack_start_us")
      .agg(count(lit(1)).as("n_ctx"), dsum(col("value")).as("sum_ctx"))
      .orderBy("target_id", "attack_start_us")
  }

  /** The same context enrichment through the CUSTOM SWEEP OPERATOR
    * ([[graft.plans.IntervalJoins]]) — the scale form for when the
    * interval side outgrows a broadcast (the declarative `between` join
    * above degrades to nested-loop then): co-partition by key, sort by
    * time, one linear sweep. Gated against the IDENTICAL oracle as the
    * declarative query, so the custom physical operator's semantics are
    * hash-checked end-to-end, not just spec'd.
    */
  def attackContextSweep(s: SparkSession, dir: String): DataFrame = {
    val attacks = cepAttackOn(Tables.t(s, dir, "events"))
      .select(col("target_id"), col("attack_start_us"),
        col("normal_ts_us").as("attack_end_win_us"))
    val e = Tables.t(s, dir, "events")
      .select(col("user_id"), unix_micros(col("ts")).as("ts_us"), col("value"))
    graft.plans.IntervalJoins.pointInInterval(e, attacks,
        "user_id", "ts_us", "target_id", "attack_start_us", "attack_end_win_us")
      .groupBy("target_id", "attack_start_us")
      .agg(count(lit(1)).as("n_ctx"), dsum(col("value")).as("sum_ctx"))
      .orderBy("target_id", "attack_start_us")
  }

  val attackContextOracle: String =
    s"""WITH e0 AS (
       |  SELECT user_id, event_id, ts, value,
       |         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
       |  FROM events),
       |i AS (
       |  SELECT *, rn - row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS grp
       |  FROM e0 WHERE value < $LowThresh),
       |runs AS (
       |  SELECT user_id, grp, COUNT(*) AS fragment_count, MAX(rn) AS rn_end,
       |         MIN(epoch_us(ts)) AS attack_start_us,
       |         MAX(epoch_us(ts)) AS attack_end_us
       |  FROM i GROUP BY user_id, grp HAVING COUNT(*) >= $MinRun),
       |attacks AS (
       |  SELECT r.user_id AS target_id, r.attack_start_us,
       |         epoch_us(n.ts) AS normal_ts_us
       |  FROM runs r JOIN e0 n ON n.user_id = r.user_id AND n.rn = r.rn_end + 1
       |  WHERE n.value > $HighThresh
       |    AND epoch_us(n.ts) - r.attack_end_us <= $WithinUs)
       |SELECT a.target_id, a.attack_start_us, COUNT(*) AS n_ctx,
       |       ${sqlDsum("e.value")} AS sum_ctx
       |FROM events e JOIN attacks a
       |  ON e.user_id = a.target_id
       | AND epoch_us(e.ts) >= a.attack_start_us
       | AND epoch_us(e.ts) <= a.normal_ts_us
       |GROUP BY a.target_id, a.attack_start_us
       |ORDER BY target_id, attack_start_us""".stripMargin

  /** Two-step behavioral funnel (signup -> later purchase): first-touch
    * timestamps per user, conversions where step 2 strictly follows step 1.
    * One declarative plan, one Spark job: the per-user converted flag and
    * both funnel counts fold into a single aggregate tree — the signup
    * first-touch is computed once (no recompute, no separate count() jobs).
    */
  def funnel2Step(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.t(s, dir, "events")
    // Join-free: "any purchase after the FIRST signup" == "LAST purchase
    // after the first signup", so both funnel steps fold into one
    // conditional aggregation — one shuffle on user_id, one Spark job,
    // the first-touch aggregate computed exactly once.
    e.filter(col("event_type").isin("signup", "purchase"))
      .groupBy("user_id")
      .agg(
        min(when(col("event_type") === "signup", unix_micros(col("ts"))))
          .as("t_signup"),
        max(when(col("event_type") === "purchase", unix_micros(col("ts"))))
          .as("t_p_last"))
      .filter(col("t_signup").isNotNull)
      .agg(count(lit(1)).as("n_signup_users"),
        // coalesce: sum over ZERO rows is NULL, but an empty funnel must
        // report 0 conversions like the oracle's COUNT(*)
        coalesce(sum(when(col("t_p_last") > col("t_signup"), 1).otherwise(0)),
          lit(0L)).as("n_converted_users"))
      .select(col("n_signup_users"), col("n_converted_users"),
        (col("n_converted_users").cast(DoubleType) /
          col("n_signup_users").cast(DoubleType)).as("conversion"))
  }

  val funnelOracle: String =
    """WITH first AS (
      |  SELECT user_id, MIN(epoch_us(ts)) AS t_signup FROM events
      |  WHERE event_type = 'signup' GROUP BY user_id),
      |conv AS (
      |  SELECT DISTINCT e.user_id FROM events e JOIN first f USING (user_id)
      |  WHERE e.event_type = 'purchase' AND epoch_us(e.ts) > f.t_signup)
      |SELECT (SELECT COUNT(*) FROM first) AS n_signup_users,
      |       (SELECT COUNT(*) FROM conv) AS n_converted_users,
      |       CAST((SELECT COUNT(*) FROM conv) AS DOUBLE) /
      |       CAST((SELECT COUNT(*) FROM first) AS DOUBLE) AS conversion""".stripMargin

  /** Hourly active users — exact DISTINCT keys per event-time window, the
    * composition the engagement dashboards run. Spark plans the distinct
    * as a two-level aggregate: partial distinct per (window, user) on the
    * map side, then one shuffle keyed by the window — the per-partition
    * state is bounded by the ACTIVE-user count per hour, not the event
    * count (the HLL sketch variant q_approx_distinct covers the case
    * where even that is too much).
    */
  def hourlyActiveUsers(s: SparkSession, dir: String): DataFrame =
    Tables.t(s, dir, "events")
      .groupBy(unix_micros(date_trunc("hour", col("ts"))).as("hour_us"))
      .agg(countDistinct(col("user_id")).as("n_users"),
        count(lit(1)).as("n_events"))
      .orderBy("hour_us")

  val hourlyActiveOracle: String =
    """SELECT epoch_us(date_trunc('hour', ts)) AS hour_us,
      |       COUNT(DISTINCT user_id) AS n_users, COUNT(*) AS n_events
      |FROM events GROUP BY 1 ORDER BY hour_us""".stripMargin

  /** Calendar densification — the time-series gap fill every dashboard
    * and training join needs before resampling: one row per day across
    * the OBSERVED span, zero-filled where no events landed (a groupBy
    * alone silently omits empty days and every downstream moving average
    * is wrong). The span is a 2-value aggregate broadcast into a
    * `sequence` explode — the calendar frame is ǀdaysǀ rows at any corpus
    * size, so the left join against the per-day counts is a broadcast of
    * metadata, never a shuffle of the fact table.
    */
  def dailyDense(s: SparkSession, dir: String): DataFrame = {
    val dayUs = 86400000000L
    val e = Tables.t(s, dir, "events")
      .select(expr(s"unix_micros(ts) div $dayUs").as("day"))
    val counts = e.groupBy("day").agg(count(lit(1)).as("n"))
    val cal = e.agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
      .select(explode(sequence(col("d0"), col("d1"))).as("day"))
    cal.join(counts, Seq("day"), "left")
      .select((col("day") * dayUs).as("day_us"),
        coalesce(col("n"), lit(0L)).as("n_events"))
      .orderBy("day_us")
  }

  val dailyDenseOracle: String =
    """WITH d AS (SELECT epoch_us(ts) // 86400000000 AS day FROM events),
      |c AS (SELECT day, CAST(COUNT(*) AS BIGINT) AS n FROM d GROUP BY day),
      |span AS (SELECT MIN(day) AS d0, MAX(day) AS d1 FROM d),
      |cal AS (SELECT unnest(generate_series(d0, d1)) AS day FROM span)
      |SELECT day * 86400000000 AS day_us, coalesce(n, 0) AS n_events
      |FROM cal LEFT JOIN c USING (day) ORDER BY day_us""".stripMargin

  /** Longest consecutive-day activity streak per user — the engagement
    * gaps-and-islands (CEP's island fold applied to calendar days): the
    * fact table collapses FIRST to distinct (user, day) — bounded by
    * users × days at any event volume — then day − row_number labels each
    * run and two tiny folds take the longest. One exchange on user_id
    * serves the distinct, the window and the fold.
    */
  def activeStreak(s: SparkSession, dir: String): DataFrame = {
    val dayUs = 86400000000L
    val w = Window.partitionBy("user_id").orderBy("day")
    Tables.t(s, dir, "events")
      .select(col("user_id"), expr(s"unix_micros(ts) div $dayUs").as("day"))
      .distinct()
      .withColumn("grp", col("day") - row_number().over(w))
      .groupBy("user_id", "grp").agg(count(lit(1)).as("len"))
      .groupBy("user_id")
      .agg(max(col("len")).as("longest_streak"),
        sum(col("len")).as("n_active_days"))
      .orderBy("user_id")
  }

  val streakOracle: String =
    """SELECT user_id, MAX(len) AS longest_streak,
      |       CAST(SUM(len) AS BIGINT) AS n_active_days
      |FROM (
      |  SELECT user_id, grp, CAST(COUNT(*) AS BIGINT) AS len
      |  FROM (SELECT user_id, day,
      |               day - row_number() OVER (PARTITION BY user_id ORDER BY day) AS grp
      |        FROM (SELECT DISTINCT user_id, epoch_us(ts) // 86400000000 AS day
      |              FROM events))
      |  GROUP BY user_id, grp)
      |GROUP BY user_id ORDER BY user_id""".stripMargin

  /** Key-skew diagnostics — the measurement that DECIDES the salting/
    * AQE-skew-join question instead of guessing: per-key event counts
    * collapse map-side, then the tiny per-key frame ranks by count and
    * reports the concentration numbers that matter for a shuffle (share
    * of the top key, of the top 10, distinct keys, max/mean ratio). At
    * 100 TB this reads the fact table once and shuffles ≤ ǀkeysǀ rows —
    * run it BEFORE picking join strategies, feed the answer to
    * [[SkewJoin]].
    */
  def keySkew(s: SparkSession, dir: String): DataFrame =
    keySkewOn(Tables.t(s, dir, "events"))

  /** The measurement over any frame carrying user_id — the stress/
    * embedding surface ([[graft.operators.SkewJoin.saltFor]] consumes
    * the `top1_share` column to size the salt).
    */
  def keySkewOn(events: DataFrame): DataFrame = {
    val perKey = events
      .groupBy("user_id").agg(count(lit(1)).as("n"))
    val w = Window.orderBy(col("n").desc, col("user_id").asc)
    perKey.withColumn("rk", row_number().over(w))
      .agg(
        count(lit(1)).as("n_keys"),
        sum(col("n")).as("n_events"),
        max(col("n")).as("max_key"),
        sum(when(col("rk") <= 1, col("n")).otherwise(0L)).as("top1"),
        sum(when(col("rk") <= 10, col("n")).otherwise(0L)).as("top10"))
      .select(col("n_keys"), col("n_events"), col("max_key"),
        (col("top1").cast(DoubleType) / col("n_events")).as("top1_share"),
        (col("top10").cast(DoubleType) / col("n_events")).as("top10_share"),
        (col("max_key").cast(DoubleType) * col("n_keys") / col("n_events"))
          .as("max_over_mean"))
  }

  val keySkewOracle: String =
    """SELECT n_keys, n_events, max_key,
      |       CAST(top1 AS DOUBLE) / n_events AS top1_share,
      |       CAST(top10 AS DOUBLE) / n_events AS top10_share,
      |       CAST(max_key AS DOUBLE) * n_keys / n_events AS max_over_mean
      |FROM (
      |  SELECT CAST(COUNT(*) AS BIGINT) AS n_keys,
      |         CAST(SUM(n) AS BIGINT) AS n_events,
      |         CAST(MAX(n) AS BIGINT) AS max_key,
      |         CAST(SUM(CASE WHEN rk <= 1 THEN n ELSE 0 END) AS BIGINT) AS top1,
      |         CAST(SUM(CASE WHEN rk <= 10 THEN n ELSE 0 END) AS BIGINT) AS top10
      |  FROM (SELECT n, row_number() OVER (ORDER BY n DESC, user_id) AS rk
      |        FROM (SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n
      |              FROM events GROUP BY user_id)))""".stripMargin

  /** Time-weighted average value per user (TWAP — the metrics/finance
    * aggregate where COUNT-weighted means lie: a value held for an hour
    * must weigh 3600x one held a second). Each event's value is weighted
    * by its holding time (until the next event); one exchange on user_id
    * serves the lead window and the fold. Exact arithmetic end-to-end:
    * value quantizes to integer cents, holding times are integer micros,
    * per-event products stay under 2^63 (600·100 cents × months of
    * micros ≈ 1.6e17) and the per-user sum accumulates as DECIMAL(38,0)
    * — overflow-safe at any event density — with ONE shared IEEE
    * division sequence at the end.
    */
  def twap(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ts_us"), col("event_id"))
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    Tables.t(s, dir, "events")
      .select(col("user_id"), col("event_id"),
        unix_micros(col("ts")).as("ts_us"), col("value"))
      .withColumn("dt_us", lead(col("ts_us"), 1).over(w) - col("ts_us"))
      .filter(col("dt_us").isNotNull)
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_held"),
        sum(col("dt_us")).as("total_us"),
        sum((cents(col("value")) * col("dt_us")).cast(dec)).as("sum_vdt"))
      .select(col("user_id"), col("n_held"), col("total_us"),
        (col("sum_vdt").cast(DoubleType) / col("total_us").cast(DoubleType)
          / lit(100.0)).as("twap"))
      .orderBy("user_id")
  }

  val twapOracle: String =
    """SELECT user_id, COUNT(*) AS n_held,
      |       CAST(SUM(dt_us) AS BIGINT) AS total_us,
      |       CAST(SUM(CAST(FLOOR(value*100 + 0.5) AS BIGINT) * dt_us) AS DOUBLE)
      |         / CAST(SUM(dt_us) AS DOUBLE) / 100.0 AS twap
      |FROM (SELECT user_id, value,
      |             lead(epoch_us(ts)) OVER (PARTITION BY user_id
      |               ORDER BY epoch_us(ts), event_id) - epoch_us(ts) AS dt_us
      |      FROM events)
      |WHERE dt_us IS NOT NULL
      |GROUP BY user_id ORDER BY user_id""".stripMargin

  /** Inter-arrival gap statistics per user — the signal session-gap and
    * rate-limit thresholds are tuned from. ONE exchange on user_id serves
    * both the lag window and the per-user aggregate (Catalyst reuses the
    * partitioning; the window's per-key state is one previous timestamp).
    * Gaps are integer micros; the mean is the single IEEE division both
    * engines share.
    */
  def gapStats(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ts_us"), col("event_id"))
    Tables.t(s, dir, "events")
      .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("ts_us"))
      .withColumn("gap_us", col("ts_us") - lag(col("ts_us"), 1).over(w))
      .filter(col("gap_us").isNotNull)
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_gaps"),
        min(col("gap_us")).as("min_gap_us"),
        max(col("gap_us")).as("max_gap_us"),
        sum(col("gap_us")).as("sum_gap_us"))
      .withColumn("mean_gap_us",
        col("sum_gap_us").cast(DoubleType) / col("n_gaps"))
      .orderBy("user_id")
  }

  val gapStatsOracle: String =
    """SELECT user_id, COUNT(*) AS n_gaps,
      |       MIN(gap_us) AS min_gap_us, MAX(gap_us) AS max_gap_us,
      |       CAST(SUM(gap_us) AS BIGINT) AS sum_gap_us,
      |       CAST(SUM(gap_us) AS DOUBLE) / COUNT(*) AS mean_gap_us
      |FROM (SELECT user_id,
      |             epoch_us(ts) - lag(epoch_us(ts)) OVER (
      |               PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS gap_us
      |      FROM events)
      |WHERE gap_us IS NOT NULL
      |GROUP BY user_id ORDER BY user_id""".stripMargin

  /** Median/MAD robust outliers per event type — the z-score member's
    * robust sibling: a heavy-tailed burst inflates mean AND stddev until
    * the z-score goes blind to itself, while the median and the median
    * absolute deviation barely move. Exact medians at scale via the
    * counts-then-rank discipline (`ev_quantiles_by_type`): the fact table
    * collapses ONCE to (type, value) counts; the lower median (smallest
    * value whose running count reaches ceil(n/2) — stated explicitly, no
    * engine percentile function) ranks over that tiny frame; deviation
    * counts derive from the SAME counts frame (|v − med| with the value's
    * own count — no second corpus scan), and MAD ranks them the same way.
    * The only second pass over raw events is the final flagging join
    * against the broadcast (med, mad) row set. Deviations are |a − b| of
    * two ≤2-decimal doubles — one correctly-rounded IEEE op, identical in
    * both engines, so even the double-keyed dev grouping is engine-exact.
    */
  def madOutliers(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.t(s, dir, "events")
    // the sufficient statistic, materialized ONCE: median, deviations AND
    // mad all derive from it — without this each derivation re-scans the
    // fact table (PlanSpec pins the shape). localCheckpoint, NOT persist:
    // a persist left registered in the cache manager substitutes into any
    // LATER query whose plan contains the same (type, value) aggregate
    // subtree (it silently rewrote ev_quantiles' plan in the full suite),
    // while a checkpointed RDD is private to this query's lineage.
    val counts = e.groupBy("event_type", "value").agg(count(lit(1)).as("cnt"))
      .localCheckpoint(true)
    val wRank = Window.partitionBy("event_type").orderBy("value")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy("event_type")
    val ranked = counts
      .withColumn("cum", sum(col("cnt")).over(wRank))
      .withColumn("n", sum(col("cnt")).over(wAll))
    val med = ranked.filter(col("cum") * 2 >= col("n") + (col("n") % 2))
      .groupBy("event_type").agg(min(col("value")).as("med"))
    val devRanked = counts.join(broadcast(med), "event_type")
      .select(col("event_type"), abs(col("value") - col("med")).as("dev"), col("cnt"))
      .groupBy("event_type", "dev").agg(sum(col("cnt")).as("cnt"))
      .withColumn("cum", sum(col("cnt")).over(
        Window.partitionBy("event_type").orderBy("dev")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("n", sum(col("cnt")).over(wAll))
    val mad = devRanked.filter(col("cum") * 2 >= col("n") + (col("n") % 2))
      .groupBy("event_type").agg(min(col("dev")).as("mad"))
    e.join(broadcast(med), "event_type").join(broadcast(mad), "event_type")
      .filter(abs(col("value") - col("med")) > lit(5.0) * col("mad"))
      .select("event_id", "event_type", "value", "med", "mad")
      .orderBy("event_id")
  }

  /** The (median, MAD) table as a frozen artifact — the robust sibling of
    * the z-score baseline, fitted once offline. Driver pull bounded by
    * ǀtypesǀ rows (codebook pattern).
    */
  def madFit(events: DataFrame): Seq[(String, Double, Double)] = {
    val counts = events.groupBy("event_type", "value").agg(count(lit(1)).as("cnt"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val wRank = Window.partitionBy("event_type").orderBy("value")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wAll = Window.partitionBy("event_type")
      val ranked = counts
        .withColumn("cum", sum(col("cnt")).over(wRank))
        .withColumn("n", sum(col("cnt")).over(wAll))
      val med = ranked.filter(col("cum") * 2 >= col("n") + (col("n") % 2))
        .groupBy("event_type").agg(min(col("value")).as("med"))
      val mad = counts.join(broadcast(med), "event_type")
        .select(col("event_type"), abs(col("value") - col("med")).as("dev"), col("cnt"))
        .groupBy("event_type", "dev").agg(sum(col("cnt")).as("cnt"))
        .withColumn("cum", sum(col("cnt")).over(
          Window.partitionBy("event_type").orderBy("dev")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .withColumn("n", sum(col("cnt")).over(wAll))
        .filter(col("cum") * 2 >= col("n") + (col("n") % 2))
        .groupBy("event_type").agg(min(col("dev")).as("mad"))
      med.join(mad, "event_type").collect().toIndexedSeq
        .map(r => (r.getString(0), r.getDouble(1), r.getDouble(2)))
    } finally counts.unpersist()
  }

  /** Score ANY (event_id, event_type, value) frame against the frozen
    * (med, mad) table — the stats ride as TWO map literals, so the pass
    * is stateless/zero-shuffle and serves a live stream unchanged
    * (StreamingSpec pins stream == the batch query's flag set).
    */
  def madApply(frame: DataFrame, fit: Seq[(String, Double, Double)]): DataFrame = {
    val medMap = typedLit(fit.map(t => t._1 -> t._2).toMap)
    val madMap = typedLit(fit.map(t => t._1 -> t._3).toMap)
    frame
      .withColumn("med", element_at(medMap, col("event_type")))
      .withColumn("mad", element_at(madMap, col("event_type")))
      .filter(col("med").isNotNull &&
        abs(col("value") - col("med")) > lit(5.0) * col("mad"))
      .select("event_id", "event_type", "value", "med", "mad")
  }

  val madOracle: String =
    """WITH c AS (SELECT event_type, value, CAST(COUNT(*) AS BIGINT) AS cnt
      |           FROM events GROUP BY event_type, value),
      |r AS (SELECT event_type, value, cnt,
      |             SUM(cnt) OVER (PARTITION BY event_type ORDER BY value
      |                            ROWS UNBOUNDED PRECEDING) AS cum,
      |             SUM(cnt) OVER (PARTITION BY event_type) AS n
      |      FROM c),
      |med AS (SELECT event_type, MIN(value) AS med FROM r
      |        WHERE cum * 2 >= n + (n % 2) GROUP BY event_type),
      |dc AS (SELECT c.event_type, ABS(c.value - med.med) AS dev,
      |              SUM(c.cnt) AS cnt
      |       FROM c JOIN med USING (event_type)
      |       GROUP BY c.event_type, ABS(c.value - med.med)),
      |dr AS (SELECT event_type, dev, cnt,
      |              SUM(cnt) OVER (PARTITION BY event_type ORDER BY dev
      |                             ROWS UNBOUNDED PRECEDING) AS cum,
      |              SUM(cnt) OVER (PARTITION BY event_type) AS n
      |       FROM dc),
      |mad AS (SELECT event_type, MIN(dev) AS mad FROM dr
      |        WHERE cum * 2 >= n + (n % 2) GROUP BY event_type)
      |SELECT e.event_id, e.event_type, e.value, med.med, mad.mad
      |FROM events e JOIN med USING (event_type) JOIN mad USING (event_type)
      |WHERE ABS(e.value - med.med) > 5.0 * mad.mad
      |ORDER BY event_id""".stripMargin

  /** Event-type transition counts — the Markov-bigram fold behind
    * next-action prediction and anomalous-sequence scoring: every user's
    * time-ordered stream contributes its (previous type, type) edges,
    * counted corpus-wide. ONE shuffle on user_id feeds the lag window
    * (frame = 1 preceding row, so state per key is a single value no
    * matter how long the stream), then the edge count collapses map-side —
    * the second exchange carries at most |types|² rows per partition.
    * Tiebreak (ts_us, event_id) makes the sequence — and therefore every
    * edge — engine-exact.
    */
  def transitionCounts(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ts_us"), col("event_id"))
    Tables.t(s, dir, "events")
      .select(col("user_id"), col("event_id"),
        unix_micros(col("ts")).as("ts_us"), col("event_type"))
      .withColumn("prev_type", lag(col("event_type"), 1).over(w))
      .filter(col("prev_type").isNotNull)
      .groupBy("prev_type", "event_type")
      .agg(count(lit(1)).as("n"))
      .orderBy("prev_type", "event_type")
  }

  val transitionOracle: String =
    """SELECT prev_type, event_type, COUNT(*) AS n
      |FROM (SELECT event_type,
      |             lag(event_type) OVER (PARTITION BY user_id
      |                                   ORDER BY epoch_us(ts), event_id) AS prev_type
      |      FROM events)
      |WHERE prev_type IS NOT NULL
      |GROUP BY prev_type, event_type
      |ORDER BY prev_type, event_type""".stripMargin

  /** Rolling 1-hour per-user aggregate via a RANGE frame over epoch-micros
    * — the event-time sibling of the ROWS cumulative window (q_cumsum):
    * each row sees exactly the trailing hour regardless of event density,
    * which is the semantics a rate limiter / burst detector needs. One
    * exchange on user_id; the frame is evaluated with a sliding two-pointer
    * pass inside each partition, so cost is O(events) not O(events ×
    * frame). RANGE peers (tied timestamps) enter the frame atomically in
    * both engines, and the summed values are exact decimals, so no
    * ordering ambiguity can leak into the output.
    */
  def valueRolling1h(s: SparkSession, dir: String): DataFrame =
    valueRolling1hOn(Tables.t(s, dir, "events"))

  def valueRolling1hOn(events: DataFrame): DataFrame = {
    val hourUs = 3600L * 1000000L
    val w = Window.partitionBy("user_id").orderBy(col("ts_us"))
      .rangeBetween(-hourUs, 0)
    events
      .select(col("user_id"), col("event_id"),
        unix_micros(col("ts")).as("ts_us"), col("value"))
      .withColumn("rolling_sum", sum(d2(col("value"))).over(w).cast(DoubleType))
      .withColumn("rolling_n", count(lit(1)).over(w))
      .select("user_id", "event_id", "ts_us", "rolling_sum", "rolling_n")
      .orderBy("user_id", "ts_us", "event_id")
  }

  val rollingOracle: String =
    """SELECT user_id, event_id, ts_us,
      |  CAST(SUM(CAST(value AS DECIMAL(18,2))) OVER (
      |    PARTITION BY user_id ORDER BY ts_us
      |    RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW) AS DOUBLE) AS rolling_sum,
      |  COUNT(*) OVER (
      |    PARTITION BY user_id ORDER BY ts_us
      |    RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW) AS rolling_n
      |FROM (SELECT user_id, event_id, epoch_us(ts) AS ts_us, value FROM events)
      |ORDER BY user_id, ts_us, event_id""".stripMargin

  /** Exponentially-WEIGHTED moving average per key, integer-exact: the
    * true EWMA recursion s_t = αx + (1−α)s_{t−1} is a float fold whose
    * association order is partition-dependent — ungateable (the Math.log
    * lesson applies to any per-row transcendental OR long float chain).
    * The gateable form every monitoring pipeline actually ships: a
    * FINITE geometric kernel — weights 8/4/2/1 over the last 4 events
    * (α = 1/2 truncated at 4 taps), values quantized to micro-units, so
    * numerator and denominator are exact int64 and the single IEEE
    * division at the end agrees bit-for-bit on both engines. Ramp-in
    * uses the weights of the taps PRESENT (denominator 15/7/3/1), not
    * zero-padding — the standard bias correction. ONE shuffle by key;
    * lag frames are O(1) state per row at any scale.
    */
  def weightedMa(s: SparkSession, dir: String): DataFrame = {
    val ord = Window.partitionBy("user_id").orderBy(col("ts_us"), col("event_id"))
    Tables.t(s, dir, "events")
      .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("ts_us"),
        floor(col("value") * lit(1e6)).cast("long").as("x"))
      .withColumn("x1", lag(col("x"), 1).over(ord))
      .withColumn("x2", lag(col("x"), 2).over(ord))
      .withColumn("x3", lag(col("x"), 3).over(ord))
      .withColumn("wsum",
        lit(8L) * col("x") + lit(4L) * coalesce(col("x1"), lit(0L)) +
          lit(2L) * coalesce(col("x2"), lit(0L)) + coalesce(col("x3"), lit(0L)))
      .withColumn("wden",
        lit(8L) + when(col("x1").isNotNull, 4L).otherwise(0L) +
          when(col("x2").isNotNull, 2L).otherwise(0L) +
          when(col("x3").isNotNull, 1L).otherwise(0L))
      .withColumn("wma",
        col("wsum").cast(DoubleType) / (col("wden") * lit(1000000L)).cast(DoubleType))
      .select("user_id", "event_id", "ts_us", "wsum", "wden", "wma")
      .orderBy("user_id", "ts_us", "event_id")
  }

  val weightedMaOracle: String =
    """WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS ts_us,
      |             CAST(FLOOR(value * 1e6) AS BIGINT) AS x FROM events),
      |l AS (SELECT *,
      |        lag(x, 1) OVER w AS x1, lag(x, 2) OVER w AS x2, lag(x, 3) OVER w AS x3
      |      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id))
      |SELECT user_id, event_id, ts_us,
      |  8 * x + 4 * COALESCE(x1, 0) + 2 * COALESCE(x2, 0) + COALESCE(x3, 0) AS wsum,
      |  CAST(8 + CASE WHEN x1 IS NOT NULL THEN 4 ELSE 0 END
      |    + CASE WHEN x2 IS NOT NULL THEN 2 ELSE 0 END
      |    + CASE WHEN x3 IS NOT NULL THEN 1 ELSE 0 END AS BIGINT) AS wden,
      |  CAST(8 * x + 4 * COALESCE(x1, 0) + 2 * COALESCE(x2, 0) + COALESCE(x3, 0) AS DOUBLE)
      |    / CAST((8 + CASE WHEN x1 IS NOT NULL THEN 4 ELSE 0 END
      |              + CASE WHEN x2 IS NOT NULL THEN 2 ELSE 0 END
      |              + CASE WHEN x3 IS NOT NULL THEN 1 ELSE 0 END) * 1000000 AS DOUBLE) AS wma
      |FROM l ORDER BY user_id, ts_us, event_id""".stripMargin

  /** Mergeable-sketch distinct serving — THE 100 TB distinct-count
    * pattern: per-day HLL sketches materialize in ONE pass over each
    * day's events; any period's distinct-user count is then a
    * metadata-scale union-merge of the daily sketches (sketch bytes, not
    * events — no fact rescan, spans composable after the fact), which is
    * exactly what `approx_count_distinct` alone cannot give you (its
    * per-group results don't merge). Output: per-day exact vs sketch
    * estimate, plus the ALL row whose estimate comes from the union
    * merge (the exact total is a second scan here ONLY as the gate's
    * ground truth — production serves the merge and never rescans).
    * HLL register maxima are order-independent, so the estimates are
    * deterministic at any partitioning — and since r11 the gated form
    * runs on the engine-portable sketch ([[PortableHll]]), so they are
    * HASH-EXACT vs DuckDB, with the merge==direct associativity property
    * proven BY the gate: Spark's ALL row max-folds the daily register
    * tables while the oracle sketches the whole span directly — equal
    * hashes mean the merge lost nothing. The datasketches-native twin
    * (`hllDailyUnionNative`) keeps the raw-throughput path spec-pinned.
    */
  def hllDailyUnion(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.t(s, dir, "events")
      .select(unix_micros(date_trunc("DAY", col("ts"))).as("day_us"),
        col("user_id"))
    val regs = PortableHll.registers(ev, Seq("day_us"), col("user_id"))
      .persist()
    // materialize-then-unpersist (the dupTriangles discipline): the cache
    // backs both scans only until the result exists, never outliving the
    // call in a long-lived Bench/serving session
    try {
      val exactDay = ev.groupBy("day_us")
        .agg(countDistinct(col("user_id")).as("exact_users"))
      val perDay = PortableHll.estimate(regs, Seq("day_us"))
        .join(exactDay, "day_us")
        .select(col("day_us"), col("exact_users"), col("est").as("est_users"))
      // the serve path: ANY span = a register max-fold, never an event rescan
      val merged = regs.groupBy("j").agg(max(col("mj")).as("mj"))
        .withColumn("day_us", lit(-1L))
      val total = PortableHll.estimate(merged, Seq("day_us"))
        .crossJoin(broadcast(
          ev.agg(countDistinct(col("user_id")).as("exact_users"))))
        .select(col("day_us"), col("exact_users"), col("est").as("est_users"))
      perDay.unionByName(total).orderBy("day_us").localCheckpoint(true)
    } finally regs.unpersist()
  }

  val hllDailyUnionOracle: String = {
    val day = "epoch_us(date_trunc('day', ts))"
    s"""WITH ${PortableHll.sqlEstimateCte("du", "events", day, "user_id")},
       |${PortableHll.sqlEstimateCte("al", "events", "CAST(-1 AS BIGINT)", "user_id")},
       |ex AS (SELECT $day AS g, COUNT(DISTINCT user_id) AS exact_users
       |       FROM events GROUP BY 1),
       |ext AS (SELECT COUNT(DISTINCT user_id) AS exact_users FROM events)
       |SELECT g AS day_us, ex.exact_users, du_est.est AS est_users
       |FROM du_est JOIN ex USING (g)
       |UNION ALL
       |SELECT al_est.g AS day_us, ext.exact_users, al_est.est AS est_users
       |FROM al_est, ext
       |ORDER BY day_us""".stripMargin
  }

  /** The datasketches-native daily union (engine-specific estimates →
    * spec-pinned for accuracy + merge==direct, not gated).
    */
  private[graft] def hllDailyUnionNative(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.t(s, dir, "events")
    val daily = ev
      .groupBy(unix_micros(date_trunc("DAY", col("ts"))).as("day_us"))
      .agg(hll_sketch_agg(col("user_id")).as("sk"),
        countDistinct(col("user_id")).as("exact_users"))
      .persist()
    try {
      val perDay = daily.select(col("day_us"), col("exact_users"),
        hll_sketch_estimate(col("sk")).as("est_users"))
      val total = daily
        .agg(hll_sketch_estimate(hll_union_agg(col("sk"))).as("est_users"))
        .crossJoin(broadcast(
          ev.agg(countDistinct(col("user_id")).as("exact_users"))))
        .select(lit(-1L).as("day_us"), col("exact_users"), col("est_users"))
      perDay.unionByName(total).orderBy("day_us").localCheckpoint(true)
    } finally daily.unpersist()
  }

  /** Audience-overlap matrix — distinct users active on BOTH day A and
    * day B, for every ordered day pair in the span: the retention/
    * cross-exposure question sketch UNIONS cannot answer (HLL merges
    * give |A∪B|; the intersection needs either exact sets or a theta-
    * style intersectable sketch — exact is the gate-scale form here, and
    * the inclusion-exclusion |A∩B| = |A|+|B|−|A∪B| route loses all
    * precision when the overlap is small, which is exactly when you
    * care). Plan: events collapse ONCE to distinct (day, user) pairs —
    * one shuffle, map-side combined; the pair matrix is a self-join on
    * user (each user contributes |days-active|² rows — bounded by the
    * span, not the event count) + a count by day pair (≤ |days|² rows).
    * All-integer, hash-exact.
    */
  def audienceOverlap(s: SparkSession, dir: String): DataFrame = {
    val du = Tables.t(s, dir, "events")
      .select(unix_micros(date_trunc("DAY", col("ts"))).as("day_us"),
        col("user_id"))
      .distinct()
    du.as("a")
      .join(du.as("b"), Seq("user_id"))
      .filter(col("a.day_us") < col("b.day_us"))
      .groupBy(col("a.day_us").as("day_a"), col("b.day_us").as("day_b"))
      .agg(count(lit(1)).as("n_both"))
      .orderBy("day_a", "day_b")
  }

  val audienceOverlapOracle: String =
    """WITH du AS (SELECT DISTINCT epoch_us(date_trunc('day', ts)) AS day_us, user_id
      |            FROM events)
      |SELECT a.day_us AS day_a, b.day_us AS day_b, COUNT(*) AS n_both
      |FROM du a JOIN du b ON a.user_id = b.user_id AND a.day_us < b.day_us
      |GROUP BY day_a, day_b ORDER BY day_a, day_b""".stripMargin

  /** 3-step WINDOWED funnel (view → click → purchase, each step within
    * 24h of the previous) — the product-analytics semantics the 2-step
    * query deliberately simplifies away: ORDERED first-touch progression
    * with per-step conversion windows (first view; first click AFTER it
    * within the window; first purchase after THAT within the window —
    * later views never reopen the funnel, the first-touch rule every
    * funnel tool defaults to). One conditional aggregate collapses each
    * user's three step-streams to first-touch candidates... except step
    * ordering is data-dependent, so steps 2/3 need the events of their
    * type AFTER a per-user timestamp: two more user-keyed joins against
    * the (already type-filtered) slices — three event-scale passes
    * total, each filtered to one type before its shuffle, all keyed on
    * user_id so the exchange layout is shared. Summary row: stage
    * counts + stepwise/overall conversion (IEEE ratios of exact longs).
    */
  def funnel3Step(s: SparkSession, dir: String): DataFrame = {
    val winUs = 86400000000L
    val e = Tables.t(s, dir, "events")
      .select(col("user_id"), col("event_type"), unix_micros(col("ts")).as("t"))
    val s1 = e.filter(col("event_type") === "view")
      .groupBy("user_id").agg(min(col("t")).as("t1"))
    val s2 = e.filter(col("event_type") === "click")
      .join(s1, "user_id")
      .filter(col("t") > col("t1") && col("t") <= col("t1") + lit(winUs))
      .groupBy("user_id").agg(min(col("t")).as("t2"))
    val s3 = e.filter(col("event_type") === "purchase")
      .join(s2, "user_id")
      .filter(col("t") > col("t2") && col("t") <= col("t2") + lit(winUs))
      .groupBy("user_id").agg(min(col("t")).as("t3"))
    // stage counts as one-row aggregates composed with broadcasts — no
    // driver-side action inside the operator; s1/s2 persist because each
    // feeds BOTH its own count and the next stage's join
    s1.persist(); s2.persist()
    try {
      val c1 = s1.agg(count(lit(1)).as("n_view"))
      val c2 = s2.agg(count(lit(1)).as("n_click"))
      val c3 = s3.agg(count(lit(1)).as("n_purchase"))
      c1.crossJoin(broadcast(c2)).crossJoin(broadcast(c3))
        .select(col("n_view"), col("n_click"), col("n_purchase"),
          when(col("n_view") === 0, 0.0).otherwise(
            col("n_click").cast(DoubleType) / col("n_view").cast(DoubleType))
            .as("conv_click"),
          when(col("n_click") === 0, 0.0).otherwise(
            col("n_purchase").cast(DoubleType) / col("n_click").cast(DoubleType))
            .as("conv_purchase"),
          when(col("n_view") === 0, 0.0).otherwise(
            col("n_purchase").cast(DoubleType) / col("n_view").cast(DoubleType))
            .as("conv_overall"))
        .localCheckpoint(true)
    } finally { s1.unpersist(); s2.unpersist() }
  }

  val funnel3Oracle: String =
    """WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS t FROM events),
      |s1 AS (SELECT user_id, MIN(t) AS t1 FROM e WHERE event_type = 'view'
      |       GROUP BY user_id),
      |s2 AS (SELECT e.user_id, MIN(t) AS t2 FROM e JOIN s1 USING (user_id)
      |       WHERE event_type = 'click' AND t > t1 AND t <= t1 + 86400000000
      |       GROUP BY e.user_id),
      |s3 AS (SELECT e.user_id, MIN(t) AS t3 FROM e JOIN s2 USING (user_id)
      |       WHERE event_type = 'purchase' AND t > t2 AND t <= t2 + 86400000000
      |       GROUP BY e.user_id)
      |SELECT (SELECT COUNT(*) FROM s1) AS n_view,
      |       (SELECT COUNT(*) FROM s2) AS n_click,
      |       (SELECT COUNT(*) FROM s3) AS n_purchase,
      |       CASE WHEN (SELECT COUNT(*) FROM s1) = 0 THEN 0.0
      |            ELSE CAST((SELECT COUNT(*) FROM s2) AS DOUBLE)
      |                 / CAST((SELECT COUNT(*) FROM s1) AS DOUBLE) END AS conv_click,
      |       CASE WHEN (SELECT COUNT(*) FROM s2) = 0 THEN 0.0
      |            ELSE CAST((SELECT COUNT(*) FROM s3) AS DOUBLE)
      |                 / CAST((SELECT COUNT(*) FROM s2) AS DOUBLE) END AS conv_purchase,
      |       CASE WHEN (SELECT COUNT(*) FROM s1) = 0 THEN 0.0
      |            ELSE CAST((SELECT COUNT(*) FROM s3) AS DOUBLE)
      |                 / CAST((SELECT COUNT(*) FROM s1) AS DOUBLE) END AS conv_overall""".stripMargin

  /** 4-step funnel (signup → view → click → purchase, 1 day per step)
    * through the [[Funnel]] DSL — the N-step generalization consumed as
    * a gated query: the DSL must compile an arbitrary ordered step list
    * to the same filtered-join-per-stage plan the hand-built 3-step
    * query uses (spec-pinned equal on the 3-step instance).
    */
  def funnel4Step(s: SparkSession, dir: String): DataFrame = {
    val winUs = 86400000000L
    Funnel(Seq(
      Funnel.Step("signup", col("event_type") === "signup"),
      Funnel.Step("view", col("event_type") === "view", winUs),
      Funnel.Step("click", col("event_type") === "click", winUs),
      Funnel.Step("purchase", col("event_type") === "purchase", winUs)))
      .counts(Tables.t(s, dir, "events"))
  }

  val funnel4Oracle: String =
    """WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS t FROM events),
      |s1 AS (SELECT user_id, MIN(t) AS t1 FROM e WHERE event_type = 'signup'
      |       GROUP BY user_id),
      |s2 AS (SELECT e.user_id, MIN(t) AS t2 FROM e JOIN s1 USING (user_id)
      |       WHERE event_type = 'view' AND t > t1 AND t <= t1 + 86400000000
      |       GROUP BY e.user_id),
      |s3 AS (SELECT e.user_id, MIN(t) AS t3 FROM e JOIN s2 USING (user_id)
      |       WHERE event_type = 'click' AND t > t2 AND t <= t2 + 86400000000
      |       GROUP BY e.user_id),
      |s4 AS (SELECT e.user_id, MIN(t) AS t4 FROM e JOIN s3 USING (user_id)
      |       WHERE event_type = 'purchase' AND t > t3 AND t <= t3 + 86400000000
      |       GROUP BY e.user_id)
      |SELECT (SELECT COUNT(*) FROM s1) AS n_signup,
      |       (SELECT COUNT(*) FROM s2) AS n_view,
      |       (SELECT COUNT(*) FROM s3) AS n_click,
      |       (SELECT COUNT(*) FROM s4) AS n_purchase,
      |       CASE WHEN (SELECT COUNT(*) FROM s1) = 0 THEN 0.0
      |            ELSE CAST((SELECT COUNT(*) FROM s2) AS DOUBLE)
      |                 / CAST((SELECT COUNT(*) FROM s1) AS DOUBLE) END AS conv_view,
      |       CASE WHEN (SELECT COUNT(*) FROM s2) = 0 THEN 0.0
      |            ELSE CAST((SELECT COUNT(*) FROM s3) AS DOUBLE)
      |                 / CAST((SELECT COUNT(*) FROM s2) AS DOUBLE) END AS conv_click,
      |       CASE WHEN (SELECT COUNT(*) FROM s3) = 0 THEN 0.0
      |            ELSE CAST((SELECT COUNT(*) FROM s4) AS DOUBLE)
      |                 / CAST((SELECT COUNT(*) FROM s3) AS DOUBLE) END AS conv_purchase,
      |       CASE WHEN (SELECT COUNT(*) FROM s1) = 0 THEN 0.0
      |            ELSE CAST((SELECT COUNT(*) FROM s4) AS DOUBLE)
      |                 / CAST((SELECT COUNT(*) FROM s1) AS DOUBLE) END AS conv_overall""".stripMargin

  /** Event-MIX drift per day — distribution-shift detection on the type
    * mix (a day whose click/error/purchase proportions depart from the
    * corpus-wide mix signals an incident or a traffic-source change even
    * when VOLUME looks normal — the complement of the per-key volume
    * and per-value outlier detectors). The comparison is cleared of
    * division into integer space: observed-vs-expected for (day d, type
    * t) is the exact cross-product deviation n_dt·n − n_d·n_t (zero ⇔
    * the day's share of t exactly matches the corpus share; the ± sign
    * says over/under). Bound: each factor ≤ total events, so the
    * product sits under 2^63 until ~3e9 events — past that the query
    * RAISES (runtime guard on the one-row total) instead of silently
    * wrapping; compute on scaled shares beyond the bound.
    * Two tiny aggregates (day totals, type
    * totals) broadcast back over the (day, type) counts; ONE event-scale
    * shuffle total. All-integer, hash-exact.
    */
  def mixDrift(s: SparkSession, dir: String): DataFrame = {
    val dt = Tables.t(s, dir, "events")
      .groupBy(unix_micros(date_trunc("DAY", col("ts"))).as("day_us"),
        col("event_type"))
      .agg(count(lit(1)).as("n_dt"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val dayTot = dt.groupBy("day_us").agg(sum(col("n_dt")).as("n_d"))
      val typeTot = dt.groupBy("event_type").agg(sum(col("n_dt")).as("n_t"))
      val total = dt.agg(sum(col("n_dt")).as("n"))
      // int64 overflow guard: every factor is <= n, so the cross products
      // stay exact while n <= floor(sqrt(2^63 - 1)). Past that the column
      // would silently wrap — fail LOUDLY instead and tell the caller to
      // scale the shares (the documented 100 TB path).
      val maxSafeN = 3037000499L
      dt.join(broadcast(dayTot), "day_us")
        .join(broadcast(typeTot), "event_type")
        .crossJoin(broadcast(total))
        .withColumn("deviation",
          when(col("n") <= maxSafeN,
            col("n_dt") * col("n") - col("n_d") * col("n_t"))
            .otherwise(raise_error(concat(lit(
              s"mixDrift: total events exceed $maxSafeN; " +
                "n_dt*n - n_d*n_t would overflow int64 - " +
                "compute on scaled shares instead (n="), col("n"), lit(")")))
              .cast(LongType)))
        .select("day_us", "event_type", "n_dt", "n_d", "n_t", "n", "deviation")
        .orderBy("day_us", "event_type")
        .localCheckpoint(true)
    } finally dt.unpersist()
  }

  val mixDriftOracle: String =
    """WITH dt AS (SELECT epoch_us(date_trunc('day', ts)) AS day_us, event_type,
      |                   COUNT(*) AS n_dt
      |            FROM events GROUP BY 1, 2),
      |d AS (SELECT day_us, CAST(SUM(n_dt) AS BIGINT) AS n_d FROM dt GROUP BY day_us),
      |t AS (SELECT event_type, CAST(SUM(n_dt) AS BIGINT) AS n_t FROM dt GROUP BY event_type),
      |tot AS (SELECT CAST(SUM(n_dt) AS BIGINT) AS n FROM dt)
      |SELECT dt.day_us, dt.event_type, dt.n_dt, d.n_d, t.n_t, tot.n,
      |       dt.n_dt * tot.n - d.n_d * t.n_t AS deviation
      |FROM dt JOIN d USING (day_us) JOIN t USING (event_type), tot
      |ORDER BY dt.day_us, dt.event_type""".stripMargin

  /** Behavioral diversity per user — the bot signal: accounts that repeat
    * ONE action dominate abuse traffic, organic users mix types. Shannon
    * entropy over the per-user type distribution is the textbook score
    * but its log is float-ungateable (the measured Math.log/libm trap —
    * doc_char_entropy's lesson); the gate ships the Rényi-2 surrogate:
    * the integer COLLISION statistic Σ n_t² against n² (collision
    * probability = Σn_t²/n², a strictly monotone transform of Rényi-2
    * entropy — ranking and thresholding are unchanged). collision = 1.0
    * ⇔ single-type account. One shuffle to (user, type) counts, a tiny
    * per-user fold (≤ ǀtypesǀ rows each), one IEEE division.
    */
  def behaviorCollision(s: SparkSession, dir: String): DataFrame =
    Tables.t(s, dir, "events")
      .groupBy("user_id", "event_type")
      .agg(count(lit(1)).as("n_t"))
      .groupBy("user_id")
      .agg(sum(col("n_t")).as("n_events"),
        sum(col("n_t") * col("n_t")).as("sum_sq"),
        count(lit(1)).as("n_types"))
      .withColumn("collision",
        col("sum_sq").cast(DoubleType) /
          (col("n_events").cast(DoubleType) * col("n_events").cast(DoubleType)))
      .orderBy("user_id")

  val behaviorCollisionOracle: String =
    """WITH t AS (SELECT user_id, event_type, COUNT(*) AS n_t
      |           FROM events GROUP BY user_id, event_type)
      |SELECT user_id, CAST(SUM(n_t) AS BIGINT) AS n_events,
      |       CAST(SUM(n_t * n_t) AS BIGINT) AS sum_sq,
      |       COUNT(*) AS n_types,
      |       CAST(SUM(n_t * n_t) AS DOUBLE)
      |         / (CAST(SUM(n_t) AS DOUBLE) * CAST(SUM(n_t) AS DOUBLE)) AS collision
      |FROM t GROUP BY user_id ORDER BY user_id""".stripMargin

  /** DAU/WAU stickiness — the engagement ratio every consumer dashboard
    * headlines: daily actives over trailing-7-day actives, per day.
    * Distinct-over-a-sliding-window is not window-expressible (COUNT
    * (DISTINCT) OVER a frame is unsupported for exactly the reason it
    * would be wrong — the set doesn't decompose); the scale-safe exact
    * form CONTRIBUTES instead: each distinct (day, user) row feeds the 7
    * WAU days it participates in (a 7-row explode of the already-
    * collapsed per-day frame, NOT of raw events), and WAU = distinct
    * (target_day, user). Output keeps only days with a full 7-day
    * lookback inside the observed span (a partial window inflates
    * stickiness exactly when the dashboard is newest). One event-scale
    * shuffle (the collapse); everything after runs on (days x users)
    * rows. Ratio is one IEEE division of exact longs.
    */
  def stickiness(s: SparkSession, dir: String): DataFrame = {
    val dayUs = 86400000000L
    val du = Tables.t(s, dir, "events")
      .select(unix_micros(date_trunc("DAY", col("ts"))).as("day_us"),
        col("user_id"))
      .distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val dau = du.groupBy("day_us").agg(count(lit(1)).as("dau"))
      val wau = du
        .select(explode(sequence(col("day_us"),
          col("day_us") + lit(6L * dayUs), lit(dayUs))).as("day_us"),
          col("user_id"))
        .distinct()
        .groupBy("day_us").agg(count(lit(1)).as("wau"))
      val span = du.agg(min(col("day_us")).as("first_day"),
        max(col("day_us")).as("last_day"))
      dau.join(wau, "day_us")
        .crossJoin(broadcast(span))
        .filter(col("day_us") >= col("first_day") + lit(6L * dayUs) &&
          col("day_us") <= col("last_day"))
        .select(col("day_us"), col("dau"), col("wau"),
          (col("dau").cast(DoubleType) / col("wau").cast(DoubleType))
            .as("stickiness"))
        .orderBy("day_us")
        .localCheckpoint(true)
    } finally du.unpersist()
  }

  val stickinessOracle: String =
    """WITH du AS (SELECT DISTINCT epoch_us(date_trunc('day', ts)) AS day_us, user_id
      |            FROM events),
      |dau AS (SELECT day_us, COUNT(*) AS dau FROM du GROUP BY day_us),
      |contrib AS (SELECT DISTINCT du.day_us + i * 86400000000 AS day_us, user_id
      |            FROM du, UNNEST(range(0, 7)) AS r(i)),
      |wau AS (SELECT day_us, COUNT(*) AS wau FROM contrib GROUP BY day_us),
      |span AS (SELECT MIN(day_us) AS first_day, MAX(day_us) AS last_day FROM du)
      |SELECT d.day_us, d.dau, w.wau,
      |       CAST(d.dau AS DOUBLE) / CAST(w.wau AS DOUBLE) AS stickiness
      |FROM dau d JOIN wau w ON d.day_us = w.day_us, span
      |WHERE d.day_us >= span.first_day + 6 * 86400000000
      |  AND d.day_us <= span.last_day
      |ORDER BY d.day_us""".stripMargin

  /** Persisted theta sketch table — [[thetaOverlap]] upgraded to the
    * artifact-store pattern the index family uses: per-day sketches
    * materialize ONCE to parquet (day_us, sk); any later overlap/churn
    * question is answered from the stored bytes with zero event rescans;
    * appends land as NEW (day, sketch) rows (one pass over the batch
    * only) and the probe folds duplicate day rows with `graft_theta_union`
    * — theta merge is associative/commutative, so the stored partials
    * compose under ANY append history (spec: write split A, append
    * overlapping split B, probe == the self-contained query on A∪B,
    * exact-mode EQUAL).
    */
  def writeThetaDaily(events: DataFrame, path: String): Unit = {
    import graft.functions.GraftFunctions.graftTheta
    events
      .groupBy(unix_micros(date_trunc("DAY", col("ts"))).as("day_us"))
      .agg(graftTheta(col("user_id"), 4096).as("sk"))
      .write.mode("overwrite").parquet(path)
  }

  def appendThetaDaily(batch: DataFrame, path: String): Unit = {
    import graft.functions.GraftFunctions.graftTheta
    batch
      .groupBy(unix_micros(date_trunc("DAY", col("ts"))).as("day_us"))
      .agg(graftTheta(col("user_id"), 4096).as("sk"))
      .write.mode("append").parquet(path)
  }

  def thetaOverlapFromStore(s: SparkSession, path: String): DataFrame = {
    import graft.functions.GraftFunctions.{graftThetaIntersectEst, graftThetaUnion}
    val daily = s.read.parquet(path)
      .groupBy("day_us").agg(graftThetaUnion(col("sk")).as("sk"))
    daily.select(col("day_us").as("day_a"), col("sk").as("sk_a"))
      .join(daily.select(col("day_us").as("day_b"), col("sk").as("sk_b")),
        col("day_a") < col("day_b"))
      .select(col("day_a"), col("day_b"),
        graftThetaIntersectEst(col("sk_a"), col("sk_b")).as("est_both"))
      .orderBy("day_a", "day_b")
  }

  /** Growth accounting — the canonical daily RETAINED / CHURNED / NEW
    * decomposition (every DAU dashboard's second page): for each day,
    * how many of its actives were active the previous calendar day
    * (retained), how many of the previous day's actives went silent
    * (churned), how many actives weren't there yesterday (new). One
    * collapse of events to distinct (day, user) — the only event-scale
    * shuffle — then a self-join on (user, day = day−1): each user row
    * meets at most one predecessor row, so the join output is bounded by
    * the (day, user) frame itself, never quadratic. FULL outer keeps the
    * asymmetric cases (a user present only yesterday must count as
    * churned on today's row). All-integer, hash-exact. First day
    * reports only `new` (no predecessor baseline — rows with no
    * previous day are excluded rather than fabricating zero churn).
    */
  def growthAccounting(s: SparkSession, dir: String): DataFrame = {
    val dayUs = 86400000000L
    val du = Tables.t(s, dir, "events")
      .select(unix_micros(date_trunc("DAY", col("ts"))).as("day_us"),
        col("user_id"))
      .distinct()
    val prev = du.select((col("day_us") + lit(dayUs)).as("day_us"),
      col("user_id"), lit(1L).as("was_active"))
    val cur = du.withColumn("is_active", lit(1L))
    val days = du.select("day_us").distinct()
    cur.join(prev, Seq("day_us", "user_id"), "full_outer")
      // keep only day rows that HAVE a predecessor day in the data —
      // the semi join is against the tiny distinct-day frame
      .join(broadcast(days.select((col("day_us") + lit(dayUs)).as("day_us"))),
        Seq("day_us"), "left_semi")
      .groupBy("day_us")
      .agg(
        sum(when(col("is_active").isNotNull && col("was_active").isNotNull, 1L)
          .otherwise(0L)).as("retained"),
        sum(when(col("is_active").isNotNull && col("was_active").isNull, 1L)
          .otherwise(0L)).as("new_users"),
        sum(when(col("is_active").isNull && col("was_active").isNotNull, 1L)
          .otherwise(0L)).as("churned"))
      .orderBy("day_us")
  }

  val growthOracle: String =
    """WITH du AS (SELECT DISTINCT epoch_us(date_trunc('day', ts)) AS day_us, user_id
      |            FROM events),
      |prev AS (SELECT day_us + 86400000000 AS day_us, user_id, 1 AS was_active FROM du),
      |cur AS (SELECT day_us, user_id, 1 AS is_active FROM du),
      |j AS (SELECT COALESCE(c.day_us, p.day_us) AS day_us,
      |             c.is_active, p.was_active
      |      FROM cur c FULL OUTER JOIN prev p
      |        ON c.day_us = p.day_us AND c.user_id = p.user_id),
      |days AS (SELECT DISTINCT day_us + 86400000000 AS day_us FROM du)
      |SELECT j.day_us,
      |  CAST(COALESCE(SUM(CASE WHEN is_active IS NOT NULL AND was_active IS NOT NULL
      |                         THEN 1 END), 0) AS BIGINT) AS retained,
      |  CAST(COALESCE(SUM(CASE WHEN is_active IS NOT NULL AND was_active IS NULL
      |                         THEN 1 END), 0) AS BIGINT) AS new_users,
      |  CAST(COALESCE(SUM(CASE WHEN is_active IS NULL AND was_active IS NOT NULL
      |                         THEN 1 END), 0) AS BIGINT) AS churned
      |FROM j SEMI JOIN days ON j.day_us = days.day_us
      |GROUP BY j.day_us ORDER BY j.day_us""".stripMargin

  /** Sketch-served audience overlap — [[audienceOverlap]]'s scale path
    * made concrete with the native `graft_theta` aggregate: per-day
    * theta sketches materialize in one pass (partials are ≤ k hashes, a
    * few KB per day regardless of event count), then EVERY day-pair
    * intersection is answered from sketch bytes — the exact query's
    * per-user self-join fan-out disappears; what remains event-scale is
    * one distinct-ish aggregate. At gate scale the per-day distinct
    * counts sit under nominalEntries, so the sketches are in EXACT mode
    * and the spec pins this query EQUAL to the exact matrix (plus
    * partitioning-independence); at corpus scale the same plan degrades
    * gracefully to estimates with theta's published error bounds.
    */
  def thetaOverlap(s: SparkSession, dir: String): DataFrame =
    thetaOverlapOn(Tables.t(s, dir, "events"))

  def thetaOverlapOn(events: DataFrame): DataFrame = {
    import graft.functions.GraftFunctions.{graftTheta, graftThetaIntersectEst}
    val daily = events
      .groupBy(unix_micros(date_trunc("DAY", col("ts"))).as("day_us"))
      .agg(graftTheta(col("user_id"), 4096).as("sk"))
    daily.select(col("day_us").as("day_a"), col("sk").as("sk_a"))
      .join(daily.select(col("day_us").as("day_b"), col("sk").as("sk_b")),
        col("day_a") < col("day_b"))
      .select(col("day_a"), col("day_b"),
        graftThetaIntersectEst(col("sk_a"), col("sk_b")).as("est_both"))
      .orderBy("day_a", "day_b")
  }

  /** Oracle for [[thetaOverlap]] — valid because the gate corpora keep
    * every per-day distinct-user count under nominalEntries (sf0.01 max
    * 141/day, sf0.1 max 1356/day vs k=4096), so every sketch is in EXACT
    * mode (theta = 1, all hashes retained) and the intersection estimate
    * IS the exact |A∩B| as a double — integers are exactly representable,
    * so the hash gate holds. At corpus scale the same query degrades to
    * estimates and the gate would (correctly) revert to rows-only; the
    * spec additionally pins exact-mode == exact-matrix equality and
    * partition-independence. Day pairs with empty intersection still
    * emit (est 0.0) — the pair frame is the day cross join, not the
    * match join.
    */
  val thetaOverlapOracle: String =
    """WITH du AS (SELECT DISTINCT epoch_us(date_trunc('day', ts)) AS day_us, user_id
      |            FROM events),
      |days AS (SELECT DISTINCT day_us FROM du),
      |pairs AS (SELECT a.day_us AS day_a, b.day_us AS day_b
      |          FROM days a JOIN days b ON a.day_us < b.day_us),
      |hits AS (SELECT x.day_us AS day_a, y.day_us AS day_b, COUNT(*) AS n
      |         FROM du x JOIN du y ON x.user_id = y.user_id AND x.day_us < y.day_us
      |         GROUP BY 1, 2)
      |SELECT p.day_a, p.day_b, CAST(COALESCE(h.n, 0) AS DOUBLE) AS est_both
      |FROM pairs p LEFT JOIN hits h ON p.day_a = h.day_a AND p.day_b = h.day_b
      |ORDER BY p.day_a, p.day_b""".stripMargin

  /** RFM segmentation — the user-value rollup every growth/analytics
    * stack ships: per user recency (last event time), frequency (event
    * count) and monetary (exact integer-cents value sum), each scored
    * into quintiles, users counted per (r, f, m) segment. Scoring uses
    * ntile(5) with a FULLY deterministic order (metric, then user_id —
    * a bare metric order makes tied users' buckets engine-dependent);
    * ntile's standard fill (first buckets take the remainder) is the
    * same rule in Spark and DuckDB, so the gate is all-integer exact.
    * Scale note: the three global ntiles sort the PER-USER frame (one
    * row per user — orders of magnitude under the event count); the
    * event-scale work is the one partial-agg shuffle. If even the user
    * frame outgrows a sort, the counts-then-rank discipline
    * (`ev_quantiles_by_type`) computes the same quintile boundaries
    * from (metric, count) pre-aggregates — the named drop-in.
    */
  def rfmSegments(s: SparkSession, dir: String): DataFrame = {
    val per = Tables.t(s, dir, "events")
      .groupBy("user_id")
      .agg(max(unix_micros(col("ts"))).as("recency_us"),
        count(lit(1)).as("freq"),
        sum(cents(col("value"))).as("monetary_c"))
    val r = ntile(5).over(Window.orderBy(col("recency_us").asc, col("user_id").asc))
    val f = ntile(5).over(Window.orderBy(col("freq").asc, col("user_id").asc))
    val m = ntile(5).over(Window.orderBy(col("monetary_c").asc, col("user_id").asc))
    per
      .withColumn("r_score", r.cast("long"))
      .withColumn("f_score", f.cast("long"))
      .withColumn("m_score", m.cast("long"))
      .groupBy("r_score", "f_score", "m_score")
      .agg(count(lit(1)).as("n_users"))
      .orderBy("r_score", "f_score", "m_score")
  }

  val rfmOracle: String =
    """WITH per AS (
      |  SELECT user_id, MAX(epoch_us(ts)) AS recency_us, COUNT(*) AS freq,
      |         CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS monetary_c
      |  FROM events GROUP BY user_id),
      |scored AS (
      |  SELECT CAST(ntile(5) OVER (ORDER BY recency_us, user_id) AS BIGINT) AS r_score,
      |         CAST(ntile(5) OVER (ORDER BY freq, user_id) AS BIGINT) AS f_score,
      |         CAST(ntile(5) OVER (ORDER BY monetary_c, user_id) AS BIGINT) AS m_score
      |  FROM per)
      |SELECT r_score, f_score, m_score, COUNT(*) AS n_users
      |FROM scored GROUP BY r_score, f_score, m_score
      |ORDER BY r_score, f_score, m_score""".stripMargin

  /** Mergeable-quantile serving — the third member of the sketch family
    * (HLL = distinct, Misra–Gries = heavy hitters, this = quantiles): a
    * FIXED-BIN integer histogram (1024 unit-width bins, values clamped to
    * [0, 1023]) materializes per day in one pass; any span's quantiles
    * are then a metadata-scale SUM-merge of bin counts + an integer
    * cumulative walk — sketch bytes, never an event rescan, spans
    * composable after the fact. Everything is exact integer arithmetic
    * (bin = clamped floor, rank = ceil(q·n) via (n·q100+99) div 100,
    * quantile = min bin with cum ≥ rank), so unlike t-digest/KLL the
    * sketch AND its estimates are hash-exact across engines, and the gate
    * itself proves merge==direct: Spark's ALL row sums the daily bin
    * tables while the oracle histograms the whole span. Estimate error is
    * bounded by the bin width (≤ 1.0 here), spec-pinned vs the exact
    * percentile. State/shuffle bound: |days|·1024 longs, any corpus size.
    */
  def histQuantiles(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.t(s, dir, "events")
      .select(unix_micros(date_trunc("DAY", col("ts"))).as("day_us"),
        least(greatest(floor(col("value")).cast("long"), lit(0L)), lit(1023L))
          .as("bin"))
    val daily = ev.groupBy("day_us", "bin").agg(count(lit(1)).as("cnt"))
      .persist()
    try {
      def quants(h: DataFrame): DataFrame = {
        val wc = Window.partitionBy("day_us").orderBy("bin")
        val wn = Window.partitionBy("day_us")
        val c = h.withColumn("cum", sum(col("cnt")).over(wc))
          .withColumn("n", sum(col("cnt")).over(wn))
        def q(p: Int) = min(when(
          col("cum") >= expr(s"(n * $p + 99) div 100"), col("bin"))).as(s"p$p")
        c.groupBy("day_us").agg(max(col("n")).as("n"), q(50), q(95), q(99))
      }
      val perDay = quants(daily)
      val total = quants(daily.groupBy("bin").agg(sum(col("cnt")).as("cnt"))
        .withColumn("day_us", lit(-1L)))
      perDay.unionByName(total).orderBy("day_us").localCheckpoint(true)
    } finally daily.unpersist()
  }

  val histQuantilesOracle: String = {
    val day = "epoch_us(date_trunc('day', ts))"
    def chain(pfx: String, grp: String) =
      s"""${pfx}_h AS (SELECT $grp AS day_us, bin, COUNT(*) AS cnt
         |            FROM hq_b GROUP BY 1, 2),
         |${pfx}_c AS (SELECT day_us, bin,
         |            CAST(SUM(cnt) OVER (PARTITION BY day_us ORDER BY bin) AS BIGINT) AS cum,
         |            CAST(SUM(cnt) OVER (PARTITION BY day_us) AS BIGINT) AS n
         |            FROM ${pfx}_h),
         |${pfx}_q AS (SELECT day_us, MAX(n) AS n,
         |            MIN(CASE WHEN cum >= (n * 50 + 99) // 100 THEN bin END) AS p50,
         |            MIN(CASE WHEN cum >= (n * 95 + 99) // 100 THEN bin END) AS p95,
         |            MIN(CASE WHEN cum >= (n * 99 + 99) // 100 THEN bin END) AS p99
         |            FROM ${pfx}_c GROUP BY day_us)""".stripMargin
    s"""WITH hq_b AS (SELECT ts,
       |  LEAST(GREATEST(CAST(FLOOR(value) AS BIGINT), 0), 1023) AS bin
       |  FROM events),
       |${chain("hd", day)},
       |${chain("ha", "CAST(-1 AS BIGINT)")}
       |SELECT day_us, n, p50, p95, p99 FROM hd_q
       |UNION ALL
       |SELECT day_us, n, p50, p95, p99 FROM ha_q
       |ORDER BY day_us""".stripMargin
  }

  /** Pearson correlation matrix of hourly event-type volumes — "which
    * signals move together" (error spikes tracking clicks, purchase dips
    * tracking errors), the ops-analytics staple. Exactness discipline:
    * the (hour, type) counts densify over the observed hour×type GRID
    * (absent cells are REAL zeros — dropping them biases r toward
    * agreement), every moment (Σx, Σx², Σxy, n) is an exact integer long,
    * and r = num / (sqrt(d_a)·sqrt(d_b)) is three IEEE ops both engines
    * perform identically — hash-exact. Scale shape: one fact pass to the
    * (hour, type) partial-agg (bounded |hours|·|types| cells), then all
    * joins/folds run on that metadata-scale grid; the pair space is
    * |types|², never event-scale.
    */
  def typeCorrelation(s: SparkSession, dir: String): DataFrame = {
    val counts = Tables.t(s, dir, "events")
      .groupBy(unix_micros(date_trunc("hour", col("ts"))).as("hour_us"),
        col("event_type"))
      .agg(count(lit(1)).as("c"))
    val hours = counts.select("hour_us").distinct()
    val types = counts.select("event_type").distinct()
    val grid = hours.crossJoin(broadcast(types))
      .join(counts, Seq("hour_us", "event_type"), "left")
      .select(col("hour_us"), col("event_type"),
        coalesce(col("c"), lit(0L)).as("c"))
    val paired = grid.as("a")
      .join(grid.as("b"),
        col("a.hour_us") === col("b.hour_us") &&
          col("a.event_type") < col("b.event_type"))
    paired.groupBy(col("a.event_type").as("type_a"),
        col("b.event_type").as("type_b"))
      .agg(count(lit(1)).as("n"),
        sum(col("a.c")).as("sa"), sum(col("b.c")).as("sb"),
        sum(col("a.c") * col("a.c")).as("saa"),
        sum(col("b.c") * col("b.c")).as("sbb"),
        sum(col("a.c") * col("b.c")).as("sab"))
      .select(col("type_a"), col("type_b"),
        ((col("n") * col("sab") - col("sa") * col("sb")).cast("double") /
          (sqrt((col("n") * col("saa") - col("sa") * col("sa")).cast("double")) *
            sqrt((col("n") * col("sbb") - col("sb") * col("sb")).cast("double"))))
          .as("r"))
      .orderBy("type_a", "type_b")
  }

  val typeCorrelationOracle: String =
    """WITH tc_c AS (
      |  SELECT epoch_us(date_trunc('hour', ts)) AS hour_us, event_type,
      |         COUNT(*) AS c
      |  FROM events GROUP BY 1, 2),
      |tc_g AS (
      |  SELECT h.hour_us, t.event_type, COALESCE(c.c, 0) AS c
      |  FROM (SELECT DISTINCT hour_us FROM tc_c) h
      |  CROSS JOIN (SELECT DISTINCT event_type FROM tc_c) t
      |  LEFT JOIN tc_c c
      |    ON c.hour_us = h.hour_us AND c.event_type = t.event_type),
      |tc_m AS (
      |  SELECT a.event_type AS type_a, b.event_type AS type_b,
      |         CAST(COUNT(*) AS BIGINT) AS n,
      |         CAST(SUM(a.c) AS BIGINT) AS sa, CAST(SUM(b.c) AS BIGINT) AS sb,
      |         CAST(SUM(a.c * a.c) AS BIGINT) AS saa,
      |         CAST(SUM(b.c * b.c) AS BIGINT) AS sbb,
      |         CAST(SUM(a.c * b.c) AS BIGINT) AS sab
      |  FROM tc_g a JOIN tc_g b
      |    ON a.hour_us = b.hour_us AND a.event_type < b.event_type
      |  GROUP BY 1, 2)
      |SELECT type_a, type_b,
      |       CAST(n * sab - sa * sb AS DOUBLE) /
      |         (SQRT(CAST(n * saa - sa * sa AS DOUBLE))
      |          * SQRT(CAST(n * sbb - sb * sb AS DOUBLE))) AS r
      |FROM tc_m ORDER BY type_a, type_b""".stripMargin

  /** First/last-touch conversion attribution — which channel gets credit
    * for each purchase: every purchase joins its same-user touch events
    * (any non-purchase type) in the 7 days before it — the watermarkable
    * interval-join shape of 20d, candidates bounded by rate × horizon per
    * user — then ONE deterministic argmax/argmin per purchase picks the
    * last/first touch ((ts, event_id) ordering, no FP anywhere), and the
    * credit counts roll up per touch type. All-integer → hash-exact.
    */
  def attribution(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.t(s, dir, "events")
      .select(col("event_id"), col("user_id"), col("event_type"),
        unix_micros(col("ts")).as("ts_us"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("p_id"), col("user_id"),
        col("ts_us").as("p_ts"))
    val touches = ev.filter(col("event_type") =!= "purchase")
    val horizon = 7L * 86400L * 1000000L
    val joined = purchases.join(touches, Seq("user_id"))
      .filter(col("ts_us") < col("p_ts") &&
        col("ts_us") >= col("p_ts") - lit(horizon))
    val wLast = Window.partitionBy("p_id")
      .orderBy(col("ts_us").desc, col("event_id").desc)
    val wFirst = Window.partitionBy("p_id")
      .orderBy(col("ts_us").asc, col("event_id").asc)
    val credited = joined
      .withColumn("rl", row_number().over(wLast))
      .withColumn("rf", row_number().over(wFirst))
    credited.filter(col("rl") === 1 || col("rf") === 1)
      .groupBy(col("event_type").as("touch_type"))
      .agg(sum(when(col("rl") === 1, 1L).otherwise(0L)).as("last_touch"),
        sum(when(col("rf") === 1, 1L).otherwise(0L)).as("first_touch"))
      .orderBy("touch_type")
  }

  val attributionOracle: String =
    """WITH at_e AS (
      |  SELECT event_id, user_id, event_type, epoch_us(ts) AS ts_us
      |  FROM events),
      |at_j AS (
      |  SELECT p.event_id AS p_id, t.event_type, t.ts_us, t.event_id,
      |         ROW_NUMBER() OVER (PARTITION BY p.event_id
      |           ORDER BY t.ts_us DESC, t.event_id DESC) AS rl,
      |         ROW_NUMBER() OVER (PARTITION BY p.event_id
      |           ORDER BY t.ts_us ASC, t.event_id ASC) AS rf
      |  FROM at_e p JOIN at_e t
      |    ON p.event_type = 'purchase' AND t.event_type <> 'purchase'
      |   AND t.user_id = p.user_id
      |   AND t.ts_us < p.ts_us AND t.ts_us >= p.ts_us - 604800000000)
      |SELECT event_type AS touch_type,
      |       CAST(SUM(CASE WHEN rl = 1 THEN 1 ELSE 0 END) AS BIGINT) AS last_touch,
      |       CAST(SUM(CASE WHEN rf = 1 THEN 1 ELSE 0 END) AS BIGINT) AS first_touch
      |FROM at_j WHERE rl = 1 OR rf = 1
      |GROUP BY 1 ORDER BY touch_type""".stripMargin

  /** Exact association scoring — the closed-form twin of the learned
    * `ev_ipinsights_score` (same question: is this (user, type) pairing
    * surprising?): the PMI lift n_pair·N / (n_user·n_type) over the
    * co-occurrence table, emitted as an EXACT INTEGER in parts-per-million
    * (floor division of exact integer products) — ln(lift) is monotone in
    * lift, so the ranking signal is identical to PMI while the gate stays
    * hash-exact with ZERO floating point anywhere (cross-engine ln was
    * measured 1-ulp apart even on plain integer args, so a pmi double
    * would not gate). lift_ppm < 1e6 = the user hits a type less than
    * their volumes predict (the
    * anomalous-association signal); the ALS row remains the learned,
    * generalizing variant. One fact pass to the (user, type) partial agg;
    * user/type marginals REUSE that tiny table (no second fact scan) and
    * the type side broadcasts.
    */
  def assocScore(s: SparkSession, dir: String): DataFrame = {
    val pairs = Tables.t(s, dir, "events")
      .groupBy("user_id", "event_type").agg(count(lit(1)).as("n_pair"))
      .localCheckpoint(true) // three derived folds reuse it, never rescan
    val users = pairs.groupBy("user_id").agg(sum(col("n_pair")).as("n_user"))
    val types = pairs.groupBy("event_type").agg(sum(col("n_pair")).as("n_type"))
    val total = pairs.agg(sum(col("n_pair")).as("n_total"))
    pairs.join(users, "user_id")
      .join(broadcast(types), "event_type")
      .crossJoin(broadcast(total))
      .select(col("user_id"), col("event_type"), col("n_pair"),
        expr("(n_pair * n_total * CAST(1000000 AS BIGINT)) div (n_user * n_type)")
          .as("lift_ppm"))
      .orderBy("user_id", "event_type")
  }

  val assocScoreOracle: String =
    """WITH as_p AS (
      |  SELECT user_id, event_type, COUNT(*) AS n_pair
      |  FROM events GROUP BY 1, 2),
      |as_u AS (SELECT user_id, CAST(SUM(n_pair) AS BIGINT) AS n_user
      |         FROM as_p GROUP BY 1),
      |as_t AS (SELECT event_type, CAST(SUM(n_pair) AS BIGINT) AS n_type
      |         FROM as_p GROUP BY 1),
      |as_n AS (SELECT CAST(SUM(n_pair) AS BIGINT) AS n_total FROM as_p)
      |SELECT p.user_id, p.event_type, p.n_pair,
      |       (p.n_pair * n.n_total * CAST(1000000 AS BIGINT))
      |         // (u.n_user * t.n_type) AS lift_ppm
      |FROM as_p p
      |JOIN as_u u USING (user_id)
      |JOIN as_t t USING (event_type), as_n n
      |ORDER BY user_id, event_type""".stripMargin

  val defs: Seq[QueryDef] = Seq(
    QueryDef("ev_hist_quantiles", histQuantiles, Some(histQuantilesOracle)),
    QueryDef("ev_type_correlation", typeCorrelation, Some(typeCorrelationOracle)),
    QueryDef("ev_attribution", attribution, Some(attributionOracle)),
    QueryDef("ev_assoc_score", assocScore, Some(assocScoreOracle)),
    QueryDef("ev_asof_last_order", asofLastOrder, Some(asofOracle)),
    QueryDef("ev_weighted_ma", weightedMa, Some(weightedMaOracle)),
    QueryDef("ev_rfm_segments", rfmSegments, Some(rfmOracle)),
    QueryDef("ev_hll_daily_union", hllDailyUnion, Some(hllDailyUnionOracle)),
    QueryDef("ev_audience_overlap", audienceOverlap, Some(audienceOverlapOracle)),
    QueryDef("ev_theta_overlap", thetaOverlap, Some(thetaOverlapOracle)),
    QueryDef("ev_growth_accounting", growthAccounting, Some(growthOracle)),
    QueryDef("ev_stickiness", stickiness, Some(stickinessOracle)),
    QueryDef("ev_funnel_3step", funnel3Step, Some(funnel3Oracle)),
    QueryDef("ev_funnel_4step", funnel4Step, Some(funnel4Oracle)),
    QueryDef("ev_behavior_collision", behaviorCollision, Some(behaviorCollisionOracle)),
    QueryDef("ev_mix_drift", mixDrift, Some(mixDriftOracle)),
    QueryDef("ev_attack_context", attackContext, Some(attackContextOracle)),
    QueryDef("ev_attack_context_sweep", attackContextSweep, Some(attackContextOracle)),
    QueryDef("ev_funnel_2step", funnel2Step, Some(funnelOracle)),
    QueryDef("ev_tumbling_hourly", tumblingHourly, Some(tumblingOracle)),
    QueryDef("ev_sliding_6h", sliding6h, Some(slidingOracle)),
    QueryDef("ev_sessionize", sessionize, Some(sessionizeOracle)),
    QueryDef("ev_top_paths", topPaths, Some(topPathsOracle)),
    QueryDef("ev_cep_attack", cepAttack, Some(cepOracle), headline = true),
    QueryDef("ev_cep_bounded", cepAttackBounded, Some(cepBoundedOracle)),
    QueryDef("ev_cep_flink", cepAttackFlink, Some(cepFlinkOracle)),
    QueryDef("ev_cep_fizzle", cepFizzle, Some(cepFizzleOracle)),
    QueryDef("ev_cep_3stage", cep3Stage, Some(cep3StageOracle)),
    QueryDef("ev_cep_4stage", cep4Stage, Some(cep4StageOracle)),
    QueryDef("ev_rarity_score", rarityScore, Some(rarityOracle)),
    QueryDef("ev_ipinsights_score", ipinsightsServe, Some(ipinsightsOracle)),
    QueryDef("ev_quantiles_by_type", quantilesByType, Some(quantilesOracle)),
    QueryDef("ev_zscore_outliers", zscoreOutliers, Some(zscoreOracle)),
    QueryDef("ev_cusum_drift", cusumDrift, Some(cusumOracle)),
    QueryDef("ev_cusum_windowed", cusumDriftWindowed, Some(cusumWindowedOracle)),
    QueryDef("ev_seasonal_outliers", seasonalBaseline, Some(seasonalOracle)),
    QueryDef("ev_retention_cohorts", retentionCohorts, Some(retentionOracle)),
    QueryDef("ev_dedup_replay", dedupReplay, Some(dedupReplayOracle)),
    QueryDef("ev_json_extract", jsonExtract, Some(jsonExtractOracle)),
    QueryDef("ev_transition_counts", transitionCounts, Some(transitionOracle)),
    QueryDef("ev_hourly_active", hourlyActiveUsers, Some(hourlyActiveOracle)),
    QueryDef("ev_gap_stats", gapStats, Some(gapStatsOracle)),
    QueryDef("ev_daily_dense", dailyDense, Some(dailyDenseOracle)),
    QueryDef("ev_twap", twap, Some(twapOracle)),
    QueryDef("ev_key_skew", keySkew, Some(keySkewOracle)),
    QueryDef("ev_active_streak", activeStreak, Some(streakOracle)),
    QueryDef("ev_mad_outliers", madOutliers, Some(madOracle)),
    QueryDef("ev_anomaly_ensemble", anomalyEnsemble, Some(ensembleOracle)),
    QueryDef("ev_value_rolling_1h", valueRolling1h, Some(rollingOracle))
  )
}
