package graft

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.{CepFold, CepFoldChain, CepNegFold}

/** Direct unit coverage of the CEP folds' ring buffer's memory-management
  * branches — the NFA SEMANTICS are property-pinned in CepNfaSpec on
  * fuzzed traffic, but those traces never push a within-window past the
  * 64Ki initial capacity (growth) and only lightly exercise the
  * compact-in-place path; a wrong copy there would corrupt matches only
  * at exactly the corpus scales tests don't reach. Every fold shares the
  * ring, so the growth, compaction and near-capacity traces also run
  * through the negative fold (the run events alone, flushed) and the
  * one-middle chain fold (the terminator read as a middle, then an end).
  */
class CepFoldSpec extends AnyFunSuite {

  private def arr(events: Seq[(Long, Boolean)]): GenericArrayData =
    // (ts, isNext); id unused by the fold
    new GenericArrayData(events.zipWithIndex.map { case ((t, isn), i) =>
      new GenericInternalRow(Array[Any](t, i.toLong, isn))
    }.toArray[Any])

  private def matches(events: Seq[(Long, Boolean)], min: Long,
      within: Long): Seq[(Long, Long, Long)] = {
    val out = CepFold.compute(arr(events), min, within,
      greedy = false, optional = false)
    (0 until out.numElements()).map { i =>
      val r = out.getStruct(i, 4)
      (r.getLong(0), r.getLong(1), r.getLong(2))
    }
  }

  /** The negative fold over the run events of `events`, flushed. */
  private def negMatches(events: Seq[(Long, Boolean)], min: Long,
      within: Long): Seq[(Long, Long, Long)] = {
    val out = CepNegFold.compute(arr(events.filterNot(_._2)), min, within,
      flush = true)
    (0 until out.numElements()).map { i =>
      val r = out.getStruct(i, 4)
      (r.getLong(0), r.getLong(1), r.getLong(2))
    }
  }

  /** Dense run events from ts 1, each branch's window closing empty:
    * every 4 consecutive starts fizzle together.
    */
  private def fizzles(n: Int, within: Long): Seq[(Long, Long, Long)] =
    (0 until n / 4).map(j => (1L + 4 * j, 4L + 4 * j, 1L + 4 * j + within))

  /** The one-middle chain fold over `events` with its single terminator
    * at t replaced by a middle at t and an end at t + 1.
    */
  private def chainMatches(events: Seq[(Long, Boolean)], min: Long,
      within: Long): Seq[(Long, Long, Seq[Long], Long)] = {
    val kinds = events.flatMap { case (t, isn) =>
      if (isn) Seq((t, 1), (t + 1, 2)) else Seq((t, 0))
    }
    val out = CepFoldChain.compute(
      new GenericArrayData(kinds.zipWithIndex.map { case ((t, k), i) =>
        new GenericInternalRow(Array[Any](t, i.toLong, k))
      }.toArray[Any]), min, within, nMids = 1)
    (0 until out.numElements()).map { i =>
      val r = out.getStruct(i, 4)
      (r.getLong(0), r.getLong(1), r.getArray(2).toLongArray().toSeq,
        r.getLong(3))
    }
  }

  test("growth path: a within-window larger than the initial capacity keeps every start") {
    // 100_000 dense frags (1 tick apart), within covers them all -> the
    // buffer must double past its 65536 initial capacity without losing
    // or reordering entries; the terminator completes from frag 1
    val n = 100000
    val evs = (1 to n).map(i => (i.toLong, false)) :+ ((n + 1).toLong, true)
    val got = matches(evs, min = 4, within = 10_000_000L)
    assert(got == Seq((1L, 4L, (n + 1).toLong)))
    assert(negMatches(evs, 4, 10_000_000L) == fizzles(n, 10_000_000L))
    assert(chainMatches(evs, 4, 10_000_000L) ==
      Seq((1L, 4L, Seq((n + 1).toLong), (n + 2).toLong)))
  }

  test("compaction path: a sliding window over a long stream compacts in place without corruption") {
    // 200_000 frags, window keeps ~1000: head advances constantly, so the
    // fixed-capacity buffer compacts repeatedly; each of 50 terminators
    // must complete from the earliest ALIVE start at that moment
    val w = 1000L
    val evs = scala.collection.mutable.ArrayBuffer.empty[(Long, Boolean)]
    var ts = 0L
    (1 to 200000).foreach { _ => ts += 1; evs += ((ts, false)) }
    // terminators every 4000 ticks after the run
    val got = matches(evs.toSeq :+ ((ts + 1, true)), min = 4, within = w)
    // earliest alive start at ts+1 is (ts + 1 - w); 4th frag from it
    assert(got == Seq((ts + 1 - w, ts + 4 - w, ts + 1)))
    assert(negMatches(evs.toSeq, 4, w) == fizzles(200000, w))
    // the end at ts + 2 has aged the earliest pending start out
    assert(chainMatches(evs.toSeq :+ ((ts + 1, true)), 4, w) ==
      Seq((ts + 2 - w, ts + 5 - w, Seq(ts + 1), ts + 2)))
  }

  test("near-capacity window: grows (head-offset copy) instead of compacting per event") {
    // the adversarial regime for compact-before-grow: the alive window
    // (65535 = within + 1 dense ticks) sits ONE slot under the 65536
    // initial capacity, so each event expires ~one head entry and tail
    // re-hits capacity immediately — the old head>0-always-compacts
    // policy did an O(window) arraycopy per event here (never growing);
    // the fix grows with a head-offset copy when compaction would
    // reclaim under half the buffer. Correctness of that copy is what
    // this pins; the stream is long enough to cross the boundary many
    // times over
    val w = 65534L
    val n = 200000
    val evs = (1 to n).map(i => (i.toLong, false)) :+ ((n + 1).toLong, true)
    val got = matches(evs, min = 4, within = w)
    assert(got == Seq((n + 1 - w, n + 4 - w, (n + 1).toLong)))
    assert(negMatches(evs, 4, w) == fizzles(n, w))
    assert(chainMatches(evs, 4, w) ==
      Seq((n + 2 - w, n + 5 - w, Seq((n + 1).toLong), (n + 2).toLong)))
  }

  test("interleaved matches + carry-over across a long stream equal the reference NFA") {
    // deterministic mixed traffic long enough to exercise compaction many
    // times, checked against the straightforward reference fold
    val rng = new scala.util.Random(31337)
    var ts = 0L
    val evs = (1 to 50000).map { _ =>
      ts += 1 + rng.nextInt(3)
      (ts, rng.nextInt(10) == 0)
    }
    def reference(min: Int, w: Long): Seq[(Long, Long, Long)] = {
      var buf = Vector.empty[Long]
      val out = Seq.newBuilder[(Long, Long, Long)]
      evs.foreach { case (t, isn) =>
        if (isn) {
          val alive = buf.dropWhile(t - _ > w)
          if (alive.size >= min) { out += ((alive(0), alive(min - 1), t)); buf = Vector.empty }
        } else buf = (buf :+ t).dropWhile(t - _ > w)
      }
      out.result()
    }
    assert(matches(evs, 4, 100L) == reference(4, 100L))
    assert(matches(evs, 7, 40L) == reference(7, 40L))
  }

  test("edges: empty input, all-terminators, sub-min everything") {
    assert(matches(Nil, 4, 100L).isEmpty)
    assert(matches(Seq((1L, true), (2L, true), (3L, true)), 2, 100L).isEmpty)
    assert(matches(Seq((1L, false), (2L, true)), 2, 100L).isEmpty)
  }
}
