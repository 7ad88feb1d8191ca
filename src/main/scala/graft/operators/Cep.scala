package graft.operators

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoder}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}

import graft.functions.{CepFold, CepFoldChain, CepNegFold, GraftFunctions, LongRing}

/** Flink-CEP-style pattern surface — the reference's API shape
  * (`Pattern.begin("frag").where(pkts < 10).times(10, 30)
  * .followedBy("normal").where(pkts > 10).within(60 s)`,
  * `AnomalyDetection.java:126-132`) as a builder that COMPILES to the
  * engine's plans instead of interpreting a state machine per event.
  * Two contiguity modes, chosen by how the second stage is attached:
  *
  * '''`next` — strict contiguity''' (the repo's own bounded-run
  * semantics): maximal runs of `where`-events truncated to their LAST
  * `max` members, at least `min` long, whose IMMEDIATELY next event per
  * key satisfies the `next` predicate within `within` micros of the kept
  * run's start; skip-past-last (one match per island, islands disjoint).
  * An event satisfying both predicates extends the run. Batch compiles
  * to the gaps-and-islands fold + a run_end+1 join; the streaming twin
  * keeps a ring buffer of at most `max` run timestamps per key.
  *
  * '''`followedBy` — relaxed contiguity''' (the replay of the
  * reference's own pattern CONFIGURATION): non-greedy `times(min,max)` +
  * relaxed `followedBy` under `AfterMatchSkipStrategy.skipPastLastEvent()`.
  * Semantics, per key in (ts, id) order — the NFA of Flink's documented
  * rules, cross-checked in `CepNfaSpec` against an independent
  * driver-side interpreter on fuzzed traffic (r12; no Flink runtime
  * exists in this sandbox, so the DOCUMENTED rules are the ground truth):
  *  - events that satisfy NEITHER predicate are transparent — relaxed
  *    contiguity's IGNORE edge skips them in every state;
  *  - every `where`-event starts a new partial match AND extends every
  *    live one (relaxed contiguity inside the loop), so the live partial
  *    set is exactly the `within`-alive run-event buffer;
  *  - a `followedBy`-event completes the EARLIEST-starting branch that
  *    can still complete (>= `min` run events, next_ts - start <=
  *    `within`); non-greedy completion keeps the FIRST `min` repetitions
  *    from that start — so `max` never shows in the literal-mode OUTPUT,
  *    and on a >max-long run the two modes differ exactly as Flink does
  *    from the bounded form: first-`min` vs last-`max` truncation;
  *  - skip-past-last on a match: every partial started before the
  *    terminator — i.e. ALL of them — is discarded;
  *  - a `followedBy`-event that completes NO branch is itself just a
  *    non-matching event to the sub-min partials: they CARRY ACROSS it
  *    (the relaxed IGNORE edge), so a later terminator can complete a
  *    match whose repetitions span earlier failed terminators. (The
  *    pre-r12 implementation ended the island here — that divergence
  *    class and its fix are pinned by CepNfaSpec's counterexample.)
  *  An event satisfying BOTH predicates acts as the `followedBy`
  *  terminator (next-precedence).
  *
  * Strict mode compiles batch-side to windows + one join (Catalyst sees
  * ordinary operators; one exchange on the key, reused by the stacked
  * windows); relaxed mode to one exchange + a per-key ordered fold run
  * by the native [[graft.functions.CepFold]] expression (see
  * [[detectRelaxed]]). Stream-side every mode is one
  * `flatMapGroupsWithState` runner ([[streamFold]]) whose per-key state
  * is bounded: O(max) timestamps for strict, O(events in one `within`
  * window) for the relaxed modes (entries too old to ever start a future
  * match are pruned as they age out), plus the ordering cursor with the
  * same late-event drop guard as `cusumStream` (CEP is sequential;
  * folding a late event would rewrite match history). Each relaxed fold
  * is written once: the stream resumes the batch expression's own step
  * from the key's state.
  */
final case class CepPattern(
    keyCol: String,
    runPred: Column,
    minTimes: Long,
    maxTimes: Long,
    nextPred: Column,
    withinUs: Long,
    tsCol: String = "ts",
    idCol: String = "event_id",
    relaxed: Boolean = false,
    negative: Boolean = false,
    greedyLoop: Boolean = false,
    optionalLoop: Boolean = false,
    midPreds: Seq[Column] = Nil) {

  require(minTimes >= 1 && maxTimes >= minTimes,
    s"times($minTimes, $maxTimes) is not a valid quantifier")
  require(withinUs > 0, "within must be positive")
  require(!negative || relaxed,
    "notFollowedBy is a relaxed-contiguity stage (Flink has no strict negative)")
  require(!(negative && (greedyLoop || optionalLoop)),
    "greedy/optional modify the positive completion; the negative match is first-min")
  require(!(greedyLoop && optionalLoop),
    "greedy and optional are mutually exclusive quantifier modes")
  require(midPreds.isEmpty || (relaxed && !negative && !greedyLoop && !optionalLoop),
    "chained followedBy stages are relaxed, positive, reluctant (Flink's defaults)")

  /** Batch detection over any frame carrying (key, ts, id) + whatever the
    * predicates reference. Output: key, run_start_us, run_end_us,
    * next_ts_us, run_count — for the NEGATIVE pattern next_ts_us is the
    * window-expiry instant run_start_us + within (there is no terminator
    * row; the match IS its absence); a chained pattern adds the taken
    * middle timestamps as `mid_ts_us_list` before next_ts_us.
    */
  def detect(events: DataFrame): DataFrame =
    if (midPreds.nonEmpty) detectChain(events)
    else if (negative) detectNegative(events)
    else if (relaxed) detectRelaxed(events)
    else detectStrict(events)

  /** Each event's stage, the one classification batch and stream share:
    * 0 = loop, 1..m = the m middles in order, m + 1 = the terminator,
    * -1 = neutral (matches no stage). The relaxed modes give the LATEST
    * stage precedence (an event matching the loop and the terminator
    * terminates); strict mode lets the loop win (such an event extends
    * the run). In the two-stage relaxed modes a loop event also needs a
    * non-null terminator predicate — a null one leaves it neutral.
    */
  private def kindCol: Column = {
    val m = midPreds.size
    if (!relaxed) when(runPred, 0).when(nextPred, 1).otherwise(-1)
    else midPreds.zipWithIndex.reverse
      .foldLeft(when(nextPred, m + 1)) { case (acc, (p, j)) => acc.when(p, j + 1) }
      .when(if (m == 0) runPred && !nextPred else runPred, 0)
      .otherwise(-1)
  }

  /** The fold modes order same-timestamp ties by the id as a long, and
    * the streams key their state by the key as a long: a fractional or
    * string column would cast to a truncated or null long and silently
    * reorder, merge or drop events (two ids 1.2 and 1.7 at one ts both
    * become 1, and the second reads as late) — refuse it loud.
    */
  private def requireIntegral(events: DataFrame, c: String): Unit = {
    val t = events.schema(c).dataType
    require(Seq(ByteType, ShortType, IntegerType, LongType).contains(t),
      s"CEP needs an integral '$c' column; it is ${t.catalogString} — " +
        "map it to a numeric id first")
  }

  /** The plan every fold mode shares: ONE exchange on the key, then a
    * per-key ordered fold. Neutral events are filtered BEFORE the
    * shuffle, so the per-key array carries only pattern-relevant events;
    * each key's (t, id, flag) events are sorted by (t, id) and `fold`
    * runs over the array; `out` picks the match struct `m`'s fields.
    */
  private def foldPlan(events: DataFrame, flag: (String, Column),
      fold: Column => Column, out: Column*): DataFrame = {
    requireIntegral(events, idCol)
    events
      .withColumn("__k", kindCol)
      .filter(col("__k") >= 0)
      .select(col(keyCol),
        unix_micros(col(tsCol)).as("t"),
        col(idCol).cast("long").as("id"),
        flag._2.as(flag._1))
      .groupBy(keyCol)
      .agg(collect_list(struct(col("t"), col("id"), col(flag._1))).as("__evs"))
      .select(col(keyCol), explode(fold(array_sort(col("__evs")))).as("m"))
      .select(col(keyCol) +: out: _*)
      .orderBy(keyCol, "run_start_us")
  }

  /** The chain `A{min,} followedBy B1 … followedBy Bm followedBy C
    * within w` for m ≥ 1 middles — the shared one-exchange plan, run by
    * [[graft.functions.CepFoldChain]] (its scaladoc carries the
    * pending-set rules and the induction). Classification precedence
    * latest-stage-first (C > Bm > … > B1 > A), consistent with the
    * two-stage form; neutral events transparent and filtered before the
    * shuffle. Output carries the m taken middle timestamps as
    * `mid_ts_us_list` in stage order.
    */
  private def detectChain(events: DataFrame): DataFrame =
    foldPlan(events, "k" -> col("__k"),
      GraftFunctions.graftCepFoldChain(_, minTimes, withinUs, midPreds.size),
      col("m.s").as("run_start_us"), col("m.e").as("run_end_us"),
      col("m.bs").as("mid_ts_us_list"), col("m.n").as("next_ts_us"),
      lit(minTimes).as("run_count"))

  private def detectStrict(events: DataFrame): DataFrame = {
    val byKey = Window.partitionBy(keyCol).orderBy(tsCol, idCol)
    val e = events.withColumn("__rn", row_number().over(byKey))
    val runs = e.filter(runPred)
      .withColumn("__grp", col("__rn") - row_number().over(byKey))
      .withColumn("__rn_last",
        max(col("__rn")).over(Window.partitionBy(keyCol, "__grp")))
      .filter(col("__rn") > col("__rn_last") - maxTimes) // times(min,max) truncation
      .groupBy(keyCol, "__grp")
      .agg(count(lit(1)).as("run_count"),
        max(col("__rn")).as("__rn_end"),
        min(unix_micros(col(tsCol))).as("run_start_us"),
        max(unix_micros(col(tsCol))).as("run_end_us"))
      .filter(col("run_count") >= minTimes)
    val nxt = e.filter(nextPred).select(
      col(keyCol).as("__k"), col("__rn").as("__nrn"),
      unix_micros(col(tsCol)).as("next_ts_us"))
    runs
      .join(nxt, col(keyCol) === col("__k") && col("__nrn") === col("__rn_end") + 1)
      .filter(col("next_ts_us") - col("run_start_us") <= withinUs)
      .select(col(keyCol), col("run_start_us"), col("run_end_us"),
        col("next_ts_us"), col("run_count"))
      .orderBy(keyCol, "run_start_us")
  }

  /** The literal-replay plan: the shared one-exchange plan, with the
    * native [[graft.functions.CepFold]] expression over the key's sorted
    * run/next events as the fold that IS the NFA — buffer of live branch
    * starts, alive-suffix viability at each terminator, skip-past-last
    * clear on match, partials carried across non-completing terminators.
    * The fold state is `within`-pruned (the same ring the stream resumes
    * in [[detectStream]], whose state never exceeds one `within`
    * window). Relaxed-literal CEP is intrinsically sequential per key
    * (Flink's own runtime keys the stream exactly the same way). The
    * fold is native because the equivalent `aggregate` HOF form measured
    * ~48 us/event on the x20 hot-key stress: interpreted lambdas plus an
    * immutable accumulator that copies the buffer per event.
    *
    * The alive-suffix trick that keeps the fold branch-free: a branch
    * started at s is viable at terminator n iff it has >= min loop
    * events and n - s <= within; every loop event AFTER a live start is
    * itself alive, so `filter(buf, t -> n - t <= within)` is exactly the
    * earliest viable branch's repetition list — element 1 is the match
    * start, element `min` its last kept repetition.
    */
  private def detectRelaxed(events: DataFrame): DataFrame =
    foldPlan(events, "isn" -> (col("__k") === 1),
      GraftFunctions.graftCepFold(_, minTimes, withinUs, greedyLoop, optionalLoop),
      col("m.s").as("run_start_us"), col("m.e").as("run_end_us"),
      col("m.n").as("next_ts_us"), col("m.c").as("run_count"))

  /** The NEGATIVE (`notFollowedBy`) plan — the shared one-exchange plan,
    * run by the native [[graft.functions.CepNegFold]] expression: a run
    * of >= min loop events whose `within` window closes WITHOUT a
    * terminator (the "attack that fizzled"). A both-event terminates, as
    * in the positive mode: it "follows" the partials and kills them.
    * Batch data is complete, so branches still alive after a key's last
    * event flush at their expiries (the fold's `flush = true`); the
    * stream cannot know the future and emits a branch's match when a
    * later event passes its expiry.
    */
  private def detectNegative(events: DataFrame): DataFrame =
    foldPlan(events, "isb" -> (col("__k") === 1),
      GraftFunctions.graftCepNegFold(_, minTimes, withinUs),
      col("m.s").as("run_start_us"), col("m.e").as("run_end_us"),
      col("m.x").as("next_ts_us"), col("m.c").as("run_count"))

  /** The stream runner both stream entries share. `events` must carry an
    * integral key and id and an epoch-micro LongType `tsCol`, checked
    * before any query starts. Events are classified by [[kindCol]] and
    * grouped by key; per key and micro-batch they are sorted by (ts, id),
    * and every event at or before the key's cursor is dropped — a
    * cross-batch late event (or a replay) is never folded out of order
    * (the cusumStream discipline). `fold(key, state, events, lastTs,
    * lastId)` resumes the key's fold from its state over the fresh
    * (ts, kind) events and returns the state to store, stamped with the
    * new cursor, and the matches. The closure captures only `fold`, never
    * `this`: the pattern holds Column trees, which do not serialize.
    */
  private def streamFold[S <: CepPattern.Cursor : Encoder, M : Encoder](
      events: DataFrame)(
      fold: (Long, Option[S], Array[(Long, Int)], Long, Long) => (S, Iterator[M])
  ): Dataset[M] = {
    requireIntegral(events, keyCol)
    requireIntegral(events, idCol)
    val tsT = events.schema(tsCol).dataType
    require(tsT == LongType,
      s"a CEP stream's '$tsCol' must be epoch micros as bigint; it is ${tsT.catalogString}")
    val spark = events.sparkSession
    import spark.implicits._
    events
      .select(col(keyCol).cast("long"), col(idCol).cast("long"), col(tsCol),
        kindCol)
      .as[(Long, Long, Long, Int)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[S, M](OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (key: Long, it: Iterator[(Long, Long, Long, Int)], state: GroupState[S]) =>
          val prev = state.getOption
          var lastTs = prev.fold(Long.MinValue)(_.lastTs)
          var lastId = prev.fold(Long.MinValue)(_.lastId)
          val fresh = it.toArray.sortBy(r => (r._3, r._2)).flatMap {
            case (_, id, ts, k) =>
              if (ts < lastTs || (ts == lastTs && id <= lastId)) None
              else { lastTs = ts; lastId = id; Some((ts, k)) }
          }
          if (fresh.isEmpty) Iterator.empty
          else {
            val (st, out) = fold(key, prev, fresh, lastTs, lastId)
            state.update(st)
            out
          }
      }
  }

  /** Streaming detection for the two-stage patterns. `events` must be a
    * streaming frame whose key and id columns are integral and whose
    * `tsCol` is epoch-micro LongType (streams carry epoch integers;
    * batch callers convert once). Same output row per match as
    * [[detect]], as they arrive. The relaxed and negative modes resume
    * the batch folds' own steps ([[graft.functions.CepFold.step]],
    * [[graft.functions.CepNegFold.step]]) from the key's state; strict
    * mode keeps a ring of at most `max` run timestamps per key.
    */
  def detectStream(events: DataFrame): Dataset[CepPattern.Match] = {
    require(midPreds.isEmpty, "chained patterns stream via detectChainStream")
    val spark = events.sparkSession
    import spark.implicits._
    // only the bounds ship in the stateful closure, never `this`
    val (min, maxT, w) = (minTimes.toInt, maxTimes.toInt, withinUs)
    val (isRelaxed, isNegative) = (relaxed, negative)
    val (greedy, optional) = (greedyLoop, optionalLoop)
    streamFold[CepPattern.State, CepPattern.Match](events) {
      (key, prev, evs, lastTs, lastId) =>
        val buf0 = prev.fold(List.empty[Long])(_.buf)
        if (!isRelaxed) {
          var buf = buf0
          val out = List.newBuilder[CepPattern.Match]
          evs.foreach { case (ts, k) =>
            if (k == 0) buf = (buf :+ ts).takeRight(maxT)
            else {
              if (k == 1 && buf.size >= min && ts - buf.head <= w)
                out += CepPattern.Match(key, buf.head, buf.last, ts, buf.size.toLong)
              buf = Nil // island broken (or consumed: skip-past-last)
            }
          }
          (CepPattern.State(buf, lastTs, lastId), out.result().iterator)
        } else {
          val live = LongRing.sized(buf0.size + evs.length)
          buf0.foreach(live.push)
          val out = ArrayBuffer.empty[Any]
          evs.foreach { case (ts, k) =>
            if (isNegative) {
              // a neutral event is transparent, but its time still passes
              if (k < 0) CepNegFold.expireBefore(live, ts, min, w, out)
              else CepNegFold.step(live, ts, k == 1, min, w, out)
            } else if (k >= 0) CepFold.step(live, ts, k == 1, min, w, greedy, optional, out)
          }
          (CepPattern.State(live.toList, lastTs, lastId), out.iterator.map { a =>
            val r = a.asInstanceOf[InternalRow]
            CepPattern.Match(key, r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
          })
        }
    }
  }

  /** Streaming twin of [[detectChain]]: the same
    * [[graft.functions.CepFoldChain.step]], resumed from the key's state
    * (loop buffer + one pending list per middle, all within-pruned,
    * O(one window) per stage per key), matches emitted as they arrive.
    * `CepNfaSpec` pins an in-order replay bit-identical to the batch
    * detect across micro-batch boundaries.
    */
  def detectChainStream(events: DataFrame): Dataset[CepPattern.MatchChain] = {
    require(midPreds.nonEmpty, "detectChainStream folds one or more middle stages")
    val spark = events.sparkSession
    import spark.implicits._
    val (min, w, m) = (minTimes.toInt, withinUs, midPreds.size)
    streamFold[CepPattern.StateChain, CepPattern.MatchChain](events) {
      (key, prev, evs, lastTs, lastId) =>
        val st = new CepFoldChain.State(
          prev.fold(0)(_.buf.size) + evs.length, m)
        prev.foreach { p =>
          p.buf.foreach(st.loop.push)
          p.pends.zip(st.stages).foreach { case (pend, stage) =>
            pend.foreach(e => stage.install(e.s, e.e, e.bs.toArray))
          }
        }
        val out = ArrayBuffer.empty[Any]
        evs.foreach { case (ts, k) =>
          if (k >= 0) CepFoldChain.step(st, ts, k, min, w, out)
        }
        val pends = st.stages.toList.map { stage =>
          (stage.head until stage.tail).toList.map(i =>
            CepPattern.PendEntry(stage.s(i), stage.e(i), stage.bs(i).toList))
        }
        (CepPattern.StateChain(st.loop.toList, pends, lastTs, lastId),
          out.iterator.map { a =>
            val r = a.asInstanceOf[InternalRow]
            CepPattern.MatchChain(key, r.getLong(0), r.getLong(1),
              r.getArray(2).toLongArray().toList, r.getLong(3), min.toLong)
          })
    }
  }
}

object CepPattern {
  /** A stream state's ordering cursor: the last folded event's (ts, id). */
  sealed trait Cursor { def lastTs: Long; def lastId: Long }
  final case class State(buf: List[Long], lastTs: Long, lastId: Long)
      extends Cursor
  final case class Match(key: Long, run_start_us: Long, run_end_us: Long,
      next_ts_us: Long, run_count: Long)
  final case class PendEntry(s: Long, e: Long, bs: List[Long])
  final case class StateChain(buf: List[Long],
      pends: List[List[PendEntry]], lastTs: Long, lastId: Long)
      extends Cursor
  final case class MatchChain(key: Long, run_start_us: Long,
      run_end_us: Long, mid_ts_us_list: List[Long], next_ts_us: Long,
      run_count: Long)

  /** Entry point mirroring `Pattern.begin(...)`: key first, then the
    * fluent stages.
    */
  def on(keyCol: String): WhereStep = new WhereStep(keyCol)

  final class WhereStep private[CepPattern] (keyCol: String) {
    /** The run stage's predicate (Flink `begin().where(...)`). */
    def where(pred: Column): TimesStep = new TimesStep(keyCol, pred)
  }
  final class TimesStep private[CepPattern] (keyCol: String, runPred: Column) {
    /** Flink `times(min, max)`. */
    def times(min: Long, max: Long): NextStep = new NextStep(keyCol, runPred, min, max)
    /** Flink `oneOrMore()` — times(1, unbounded); reluctant by default
      * (Flink's own default), `.greedy` flips completion.
      */
    def oneOrMore: NextStep = new NextStep(keyCol, runPred, 1L, Int.MaxValue.toLong)
  }
  final class NextStep private[CepPattern] (keyCol: String, runPred: Column,
      min: Long, max: Long, greedy0: Boolean = false, optional0: Boolean = false) {
    /** Flink `.greedy()` on the loop quantifier: a completing terminator
      * keeps EVERY alive repetition from the earliest viable start,
      * instead of the reluctant first-`min` (relaxed mode only — strict
      * mode's last-`max` truncation already is the bounded greedy form).
      */
    def greedy: NextStep = new NextStep(keyCol, runPred, min, max,
      greedy0 = true, optional0 = optional0)
    /** Flink `.optional()` on the loop quantifier: a terminator that
      * completes no branch matches EMPTY (zero repetitions) instead of
      * being ignored — and skip-past-last then consumes the sub-min
      * partials (relaxed mode only).
      */
    def optional: NextStep = new NextStep(keyCol, runPred, min, max,
      greedy0 = greedy0, optional0 = true)
    /** Flink `next().where(...)` — strict contiguity. */
    def next(pred: Column): WithinStep =
      new WithinStep(keyCol, runPred, min, max, pred, relaxed = false)
    /** Flink `followedBy().where(...)` — relaxed contiguity, the
      * reference pattern's own attachment (non-greedy first-`min`
      * matches; see the class doc's literal-mode semantics).
      */
    def followedBy(pred: Column): WithinStep =
      new WithinStep(keyCol, runPred, min, max, pred, relaxed = true,
        greedy = greedy0, optional = optional0)
    /** Flink `notFollowedBy().where(...)` — the NEGATIVE pattern: the
      * loop matches only when NO terminator arrives inside the window
      * ("the attack that fizzled"). Relaxed contiguity (Flink has no
      * strict negative); requires `within` like Flink's own
      * end-in-notFollowedBy rule, because the match IS the window
      * closing empty.
      */
    def notFollowedBy(pred: Column): WithinStep =
      new WithinStep(keyCol, runPred, min, max, pred, relaxed = true,
        negative = true)
  }
  final class WithinStep private[CepPattern] (keyCol: String, runPred: Column,
      min: Long, max: Long, nextPred: Column, relaxed: Boolean,
      negative: Boolean = false, greedy: Boolean = false,
      optional: Boolean = false) {
    /** Flink `within(...)`, in micros over the whole match. */
    def within(us: Long): CepPattern =
      CepPattern(keyCol, runPred, min, max, nextPred, us, relaxed = relaxed,
        negative = negative, greedyLoop = greedy, optionalLoop = optional)
    /** Chain a THIRD stage: `...followedBy(B).followedBy(C)` — the
      * previous stage's predicate becomes the relaxed middle stage, this
      * one the terminator (classification precedence C > B > A). Relaxed
      * positive reluctant only, like Flink's defaults.
      */
    def followedBy(pred: Column): WithinStep3 = {
      require(relaxed && !negative && !greedy && !optional,
        "three-stage chains are relaxed, positive, reluctant")
      new WithinStep3(keyCol, runPred, min, max, Seq(nextPred), pred)
    }
  }
  final class WithinStep3 private[CepPattern] (keyCol: String, runPred: Column,
      min: Long, max: Long, mids: Seq[Column], nextPred: Column) {
    /** Chain a FURTHER stage: the current terminator becomes one more
      * relaxed middle stage and `pred` the new terminator — arbitrary
      * chain depth, compiled onto the general [[graft.functions.CepFoldChain]].
      */
    def followedBy(pred: Column): WithinStep3 =
      new WithinStep3(keyCol, runPred, min, max, mids :+ nextPred, pred)
    def within(us: Long): CepPattern =
      CepPattern(keyCol, runPred, min, max, nextPred, us, relaxed = true,
        midPreds = mids)
  }
}
