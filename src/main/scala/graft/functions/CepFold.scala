package graft.functions

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** The loop-event buffer every CEP fold keeps: a growable ring of
  * timestamps in arrival order, appended at the tail, expired at the head
  * and cleared on a match — no per-event copying. A stream refills it
  * from the key's state list and stores it back ([[toList]]).
  */
final class LongRing(cap: Int) {
  private var buf = new Array[Long](cap)
  private var head = 0
  private var tail = 0 // exclusive

  def size: Int = tail - head
  /** The `i`-th live entry, oldest first. */
  def apply(i: Int): Long = buf(head + i)
  def popHead(): Unit = head += 1
  def clear(): Unit = { head = 0; tail = 0 }
  /** Drops the entries more than `withinUs` before `now`: too old to
    * start any match that ends at `now` or later.
    */
  def dropOlder(now: Long, withinUs: Long): Unit =
    while (head < tail && now - buf(head) > withinUs) head += 1
  def push(t: Long): Unit = {
    if (tail == buf.length) {
      // compact ONLY when it reclaims at least half the buffer —
      // amortized O(1) per event. Compacting on any head > 0 looks
      // harmless but degrades to one O(window) arraycopy PER EVENT
      // when the alive window sits within a few slots of capacity
      // (each event expires ~one head entry, tail re-hits capacity
      // immediately, and the buffer never grows)
      val into = if (head >= buf.length / 2) buf else new Array[Long](buf.length * 2)
      System.arraycopy(buf, head, into, 0, tail - head)
      buf = into
      tail -= head; head = 0
    }
    buf(tail) = t
    tail += 1
  }
  def toList: List[Long] = List.tabulate(size)(apply)
}

object LongRing {
  /** A ring sized for `n` events, capped at 64Ki (a hot key grows it). */
  def sized(n: Int): LongRing = new LongRing(math.min(math.max(n, 8), 1 << 16))
}

/** The relaxed-CEP per-key NFA fold as ONE native expression over the
  * key's sorted (t, id, isn) event array — the hot loop of
  * `CepPattern.detectRelaxed`. Replaces the `aggregate` HOF formulation:
  * Spark evaluates higher-order lambdas interpretively per element AND
  * the immutable accumulator copies the buffer array per event — measured
  * ~48 us/event on the x20 hot-key stress (one key, 1M events, 48.6 s);
  * this loop with a head-pointer ring does the same fold allocation-free
  * per event. Semantics are EXACTLY the documented-rules NFA that
  * `CepNfaSpec` pins (alive-suffix viability, first-min completion,
  * skip-past-last clear, sub-min carry-over) — integer arithmetic only,
  * so the value equality with the HOF form (and the DuckDB recursive-CTE
  * oracle replay) is exact, not approximate.
  *
  * r13 extends the fold with the two Flink quantifier modes the builder
  * grew (both pinned by `CepNfaSpec`'s extended interpreter):
  *  - `greedy` — Flink `oneOrMore().greedy()` / `times(..).greedy()`:
  *    of the branches a terminator completes, keep the earliest start
  *    with the MOST repetitions (every alive run event), instead of the
  *    reluctant first-`min`; skip-past-last is unchanged (all partials
  *    are consumed either way).
  *  - `optional` — Flink `times(..).optional()`: a terminator that
  *    completes no branch emits the EMPTY match (zero repetitions,
  *    s = e = the terminator) — match preference still prefers any
  *    >= min branch (earlier start) over the empty one — and
  *    skip-past-last then discards the sub-min partials that in plain
  *    mode would carry across.
  * The output struct carries the actual repetition count `c` (== min in
  * reluctant mode, the alive count in greedy mode, 0 for an empty match).
  */
case class CepFold(child: Expression, minTimes: Long, withinUs: Long,
    greedy: Boolean = false, optional: Boolean = false)
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("s", LongType, nullable = false),
    StructField("e", LongType, nullable = false),
    StructField("n", LongType, nullable = false),
    StructField("c", LongType, nullable = false))), containsNull = false)

  override def prettyName: String = "graft_cep_fold"

  override protected def nullSafeEval(input: Any): Any =
    CepFold.compute(input.asInstanceOf[ArrayData], minTimes, withinUs,
      greedy, optional)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.CepFold.compute($c, ${minTimes}L, " +
        s"${withinUs}L, $greedy, $optional);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object CepFold {

  /** Folds one run (`isn = false`) or terminator event at `t` into `live`,
    * the within-alive run-event ring, and appends a completed match
    * (s, e, n, c) to `out`. Batch ([[compute]]) and stream
    * (`CepPattern.detectStream`, from the key's state) both run this
    * step, in (t, id) order with neutral events left out.
    */
  def step(live: LongRing, t: Long, isn: Boolean, min: Int, withinUs: Long,
      greedy: Boolean, optional: Boolean,
      out: scala.collection.mutable.ArrayBuffer[Any]): Unit = {
    live.dropOlder(t, withinUs)
    if (!isn) live.push(t)
    else if (live.size >= min) {
      val c = if (greedy) live.size else min
      out += new GenericInternalRow(Array[Any](live(0), live(c - 1), t, c.toLong))
      live.clear() // skip-past-last: discard every partial
    } else if (optional) {
      // no branch reaches min: the optional loop matches EMPTY (zero
      // repetitions, the terminator alone); skip-past-last then
      // consumes the sub-min partials that plain mode carries
      out += new GenericInternalRow(Array[Any](t, t, t, 0L))
      live.clear()
    }
    // else: sub-min partials carry across (relaxed IGNORE edge)
  }

  /** `arr`: array<struct<t:long, id:long, isn:boolean>> in (t, id) order.
    * Returns array<struct<s, e, n, c>> of matches.
    */
  def compute(arr: ArrayData, minTimes: Long, withinUs: Long,
      greedy: Boolean, optional: Boolean): ArrayData = {
    val n = arr.numElements()
    val live = LongRing.sized(n)
    val out = scala.collection.mutable.ArrayBuffer.empty[Any]
    var i = 0
    while (i < n) {
      val row = arr.getStruct(i, 3)
      step(live, row.getLong(0), row.getBoolean(2), minTimes.toInt, withinUs,
        greedy, optional, out)
      i += 1
    }
    new GenericArrayData(out.toArray)
  }
}

/** The NEGATIVE-pattern fold — Flink `notFollowedBy` as a per-key native
  * expression over the key's sorted (t, id, isb) event array: a run of
  * >= min loop events NOT followed by a terminator within `within` of the
  * run's start ("the attack that fizzled"). Semantics derived from the
  * same documented rules the positive fold encodes (and pinned by
  * `CepNfaSpec`'s independent negative interpreter):
  *
  *  - a terminator (isb) KILLS every live partial — under relaxed
  *    contiguity it "follows" each of them, which is exactly what the
  *    negative pattern forbids;
  *  - a branch started at s MATCHES at its window expiry s + within iff
  *    it collected >= min loop events in [s, s + within] and no
  *    terminator occurred in (s, s + within];
  *  - reluctant first-min kept repetitions; the match's synthetic end
  *    time is the expiry s + within (there is no terminator row);
  *  - skipPastLastEvent: a match consumes every partial started at or
  *    before its last kept repetition; LATER starts survive (they can
  *    fizzle on their own windows);
  *  - expiries are processed in event-time order, driven by the next
  *    arriving event; `flush = true` (the batch form — the data is
  *    complete) expires every branch still alive after the last event.
  *    The stream runs the same [[CepNegFold.step]] without the flush
  *    and emits a branch's match when a later event's timestamp passes
  *    its expiry.
  *
  * Output struct: (s = run start, e = last kept repetition,
  * x = s + within the expiry instant, c = min).
  */
case class CepNegFold(child: Expression, minTimes: Long, withinUs: Long,
    flush: Boolean = true) extends UnaryExpression {

  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("s", LongType, nullable = false),
    StructField("e", LongType, nullable = false),
    StructField("x", LongType, nullable = false),
    StructField("c", LongType, nullable = false))), containsNull = false)

  override def prettyName: String = "graft_cep_neg_fold"

  override protected def nullSafeEval(input: Any): Any =
    CepNegFold.compute(input.asInstanceOf[ArrayData], minTimes, withinUs, flush)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.CepNegFold.compute($c, ${minTimes}L, " +
        s"${withinUs}L, $flush);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object CepNegFold {

  /** Expires every branch whose window closed strictly before `now`:
    * heads pop in start order; a viable head (>= min reps inside its
    * window) appends its match (s, e, x, c) to `out` and consumes entries
    * up to its last kept repetition (skip-past-last); a sub-min head just
    * dies. All repetitions of a branch are already in `live` when its
    * expiry is processed (events fold in time order and expiry waits for
    * now > s + within). The stream also calls this alone for a neutral
    * event: its time still passes.
    */
  def expireBefore(live: LongRing, now: Long, min: Int, withinUs: Long,
      out: scala.collection.mutable.ArrayBuffer[Any]): Unit =
    while (live.size > 0 && live(0) + withinUs < now) {
      val s = live(0)
      if (live.size >= min && live(min - 1) <= s + withinUs) {
        val e = live(min - 1)
        out += new GenericInternalRow(Array[Any](s, e, s + withinUs, min.toLong))
        // consume every entry <= e (ties at e share its timestamp and
        // are part of the consumed prefix under skip-past-last)
        while (live.size > 0 && live(0) <= e) live.popHead()
      } else {
        // sub-min, or the min-th repetition lies outside the window:
        // the head branch dies alone; later starts keep their own
        // (later-closing) windows
        live.popHead()
      }
    }

  /** Folds one loop (`isb = false`) or terminator event at `t` into
    * `live`, appending the matches whose windows it closes. Batch
    * ([[compute]]) and stream (`CepPattern.detectStream`, from the key's
    * state) both run this step in (t, id) order.
    */
  def step(live: LongRing, t: Long, isb: Boolean, min: Int, withinUs: Long,
      out: scala.collection.mutable.ArrayBuffer[Any]): Unit = {
    expireBefore(live, t, min, withinUs, out)
    // the terminator follows (relaxed) every live partial: all die
    if (isb) live.clear() else live.push(t)
  }

  /** `arr`: array<struct<t:long, id:long, isb:boolean>> in (t, id) order
    * (loop events and terminators only — neutral events are transparent
    * and pre-filtered). Returns array<struct<s, e, x, c>>.
    */
  def compute(arr: ArrayData, minTimes: Long, withinUs: Long,
      flush: Boolean): ArrayData = {
    val n = arr.numElements()
    val min = minTimes.toInt
    val live = LongRing.sized(n)
    val out = scala.collection.mutable.ArrayBuffer.empty[Any]
    var i = 0
    while (i < n) {
      val row = arr.getStruct(i, 3)
      step(live, row.getLong(0), row.getBoolean(2), min, withinUs, out)
      i += 1
    }
    if (flush) expireBefore(live, Long.MaxValue, min, withinUs, out)
    new GenericArrayData(out.toArray)
  }
}

/** The GENERAL chain fold — `A{min,} followedBy B1 … followedBy Bm
  * followedBy C within w` for any m ≥ 1, as one native expression over
  * the key's sorted (t, id, k) event array, k ∈ {0 = A, 1..m = Bj,
  * m+1 = C}; neutral events pre-filtered. The same documented rules as
  * the two-stage fold, with each middle stage's state generalized to a
  * PENDING SET — the r12 carried-partial lesson one stage up: at a B1
  * event every viable alive start (not only the earliest) takes its
  * first B1 and becomes a pending (s, e, bs); each later Bj converts the
  * stage below the same way; a C completes the earliest within-alive
  * final pending — which may not be the earliest-installed one, because
  * starts age out of their windows independently — and skip-past-last
  * clears everything. A C with no live final pending is transparent
  * (loop partials AND pendings carry). The induction that makes the
  * stage-by-stage form sound:
  *
  *  - each pending stage's entries are installed in strictly increasing
  *    start order (stage j installs only entries whose s exceeds the
  *    last entry already in stage j, and its SOURCE stage is itself
  *    s-ordered), so "has this entry already taken its Bj" is the single
  *    comparison s > last-installed-s — no membership set needed;
  *  - within-pruning pops stage heads on the SAME s + w bound at every
  *    stage, so an entry that converted and then aged out of stage j has
  *    also aged out of stage j−1 and can never re-convert;
  *  - a C completes the EARLIEST within-alive final-stage pending and
  *    skip-past-last clears every stage (sub-min loop partials and all
  *    pendings consumed); a C with no live final pending is transparent.
  *
  * `CepNfaSpec.replayChain` is the independent interpreter (an explicit
  * already-taken SET instead of the monotonicity argument) this fold is
  * fuzz-matched against (`replayThreeStage` at m = 1). Output:
  * (s = run start, e = min-th repetition, bs = the m taken middle
  * timestamps in stage order, n = the C's ts). State is within-pruned:
  * O(one window) per stage.
  */
case class CepFoldChain(child: Expression, minTimes: Long, withinUs: Long,
    nMids: Int) extends UnaryExpression {

  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("s", LongType, nullable = false),
    StructField("e", LongType, nullable = false),
    StructField("bs", ArrayType(LongType, containsNull = false),
      nullable = false),
    StructField("n", LongType, nullable = false))), containsNull = false)

  override def prettyName: String = "graft_cep_fold_chain"

  override protected def nullSafeEval(input: Any): Any =
    CepFoldChain.compute(input.asInstanceOf[ArrayData], minTimes, withinUs,
      nMids)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.CepFoldChain.compute($c, ${minTimes}L, " +
        s"${withinUs}L, $nMids);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object CepFoldChain {

  /** One pending stage: parallel growable ring buffers for (s, e) plus
    * the bs taken so far (bs stored as an array per entry — entries are
    * O(window) and m is tiny, so per-entry allocation is acceptable
    * here; the loop ring stays allocation-free per event).
    */
  private[graft] final class Stage(cap: Int) {
    var s = new Array[Long](cap)
    var e = new Array[Long](cap)
    var bs = new Array[Array[Long]](cap)
    var head = 0
    var tail = 0
    def size: Int = tail - head
    def lastS: Long = if (tail > head) s(tail - 1) else Long.MinValue
    def prune(now: Long, w: Long): Unit = {
      while (head < tail && now - s(head) > w) head += 1
    }
    def clear(): Unit = { head = 0; tail = 0 }
    def grow(): Unit =
      if (tail == s.length) {
        if (head >= s.length / 2) {
          System.arraycopy(s, head, s, 0, tail - head)
          System.arraycopy(e, head, e, 0, tail - head)
          System.arraycopy(bs, head, bs, 0, tail - head)
          tail -= head; head = 0
        } else {
          val m = s.length * 2
          val (ns, ne, nb) = (new Array[Long](m), new Array[Long](m),
            new Array[Array[Long]](m))
          System.arraycopy(s, head, ns, 0, tail - head)
          System.arraycopy(e, head, ne, 0, tail - head)
          System.arraycopy(bs, head, nb, 0, tail - head)
          tail -= head; head = 0; s = ns; e = ne; bs = nb
        }
      }
    def install(s0: Long, e0: Long, bs0: Array[Long]): Unit = {
      grow(); s(tail) = s0; e(tail) = e0; bs(tail) = bs0; tail += 1
    }
  }

  /** One key's chain state: the loop ring and one pending stage per
    * middle, sized for `n` events.
    */
  private[graft] final class State(n: Int, nMids: Int) {
    val loop: LongRing = LongRing.sized(n)
    val stages: Array[Stage] =
      Array.fill(nMids)(new Stage(math.min(math.max(n, 8), 1 << 12)))

    /** Drops every loop entry and pending start more than `w` before `t`. */
    def prune(t: Long, w: Long): Unit = {
      loop.dropOlder(t, w)
      var j = 0
      while (j < nMids) { stages(j).prune(t, w); j += 1 }
    }

    /** A C at `t`: completes the earliest final-stage pending, if any,
      * and clears every stage (skip-past-last).
      */
    def complete(t: Long, out: scala.collection.mutable.ArrayBuffer[Any]): Unit = {
      val fin = stages(nMids - 1)
      if (fin.size > 0) {
        out += new GenericInternalRow(Array[Any](
          fin.s(fin.head), fin.e(fin.head),
          new GenericArrayData(fin.bs(fin.head)), t))
        loop.clear()
        var j = 0
        while (j < nMids) { stages(j).clear(); j += 1 }
      }
    }

    /** A B1 at `t`: every viable loop start not yet in stage 1 takes it.
      * Loop starts and each stage's entries are in start order, so the
      * entries past the target stage's last start are a suffix: found
      * from the end, at the cost of the installs alone.
      */
    def convertLoop(t: Long, min: Int): Unit = {
      val dst = stages(0)
      val bar = dst.lastS
      val last = loop.size - min
      var p = last
      while (p >= 0 && loop(p) > bar) p -= 1
      while (p < last) {
        p += 1
        dst.install(loop(p), loop(p + min - 1), Array(t))
      }
    }

    /** A Bk at `t`, k >= 2: every entry of stage k - 1 not yet in stage
      * k takes it, carrying its taken middles plus `t`.
      */
    def convertStage(k: Int, t: Long): Unit = {
      val (src, dst) = (stages(k - 2), stages(k - 1))
      val bar = dst.lastS
      var p = src.tail - 1
      while (p >= src.head && src.s(p) > bar) p -= 1
      while (p < src.tail - 1) {
        p += 1
        val nb = new Array[Long](src.bs(p).length + 1)
        System.arraycopy(src.bs(p), 0, nb, 0, src.bs(p).length)
        nb(nb.length - 1) = t
        dst.install(src.s(p), src.e(p), nb)
      }
    }
  }

  /** Folds one event of kind `k` (0 = A, 1..m = Bk, m+1 = C) at `t` into
    * `st`, appending a completed match (s, e, bs, n) to `out`. Batch
    * ([[compute]]) and stream (`CepPattern.detectChainStream`, from the
    * key's state) both run this step, in (t, id) order with neutral
    * events left out.
    */
  def step(st: State, t: Long, k: Int, min: Int, withinUs: Long,
      out: scala.collection.mutable.ArrayBuffer[Any]): Unit = {
    st.prune(t, withinUs)
    if (k == st.stages.length + 1) st.complete(t, out)
    else if (k == 1) st.convertLoop(t, min)
    else if (k >= 2) st.convertStage(k, t)
    else st.loop.push(t) // A
  }

  /** `arr`: array<struct<t:long, id:long, k:int>> in (t, id) order. */
  def compute(arr: ArrayData, minTimes: Long, withinUs: Long,
      nMids: Int): ArrayData = {
    val n = arr.numElements()
    val st = new State(n, nMids)
    val out = scala.collection.mutable.ArrayBuffer.empty[Any]
    var i = 0
    while (i < n) {
      val row = arr.getStruct(i, 3)
      step(st, row.getLong(0), row.getInt(2), minTimes.toInt, withinUs, out)
      i += 1
    }
    new GenericArrayData(out.toArray)
  }
}
