package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.operators.CepPattern

/** Third-party semantics cross-check for the relaxed (`followedBy`) CEP
  * mode — r11 verdict #7: no Flink runtime exists in this sandbox, so the
  * reference pattern's semantics are encoded ONCE more, independently, as
  * a direct driver-side NFA interpreter built from Flink's DOCUMENTED
  * rules, and the engine (batch plan AND streaming fold) is
  * property-tested against it on seeded randomized traffic. This turns
  * the two previously inferred-not-validated assumptions in Cep.scala's
  * class doc into tested semantics.
  *
  * The documented rules the interpreter encodes (Flink CEP docs:
  * "Conditions on Contiguity", "After Match Skip Strategy"):
  *  - every loop-matching event starts a new partial match (branch) and
  *    extends every live branch (relaxed contiguity inside `times`);
  *  - relaxed contiguity's IGNORE edge skips any event that does not
  *    match the take condition — so a `followedBy`-event that completes
  *    NO branch is simply ignored by sub-min partials, which CARRY
  *    ACROSS it (this is where the r11 island model diverged);
  *  - non-greedy `times(min, max)`: of the branches a terminator
  *    completes, the match preference is earliest start, then fewest
  *    repetitions — the first `min` loop events from that start (the
  *    skip-strategy doc table for `b+ c` keeps the earliest-starting
  *    match under skipPastLastEvent);
  *  - `within` spans first loop event -> terminator; dead starts can
  *    never complete (pruned);
  *  - skipPastLastEvent: after a match every partial that started before
  *    the match's last event (the terminator) is discarded — i.e. ALL
  *    current partials.
  */
object FlinkNfaRef {

  /** One key's traffic in (ts, id) order -> matches
    * (run_start, run_end, next_ts, count = min).
    * Events are (ts, isRun, isNext); next has precedence when both hold,
    * neither = transparent; `withinUs` the window, `min` the non-greedy
    * repetition count.
    */
  def replay(events: Seq[(Long, Boolean, Boolean)], min: Int,
      withinUs: Long, greedy: Boolean = false,
      optional: Boolean = false): Seq[(Long, Long, Long, Long)] = {
    var buf = Vector.empty[Long] // live branch starts == loop-event ts's
    val out = Seq.newBuilder[(Long, Long, Long, Long)]
    events.foreach { case (ts, isRun, isNext) =>
      if (isNext) {
        // a branch is viable iff alive under `within`; every loop event
        // after a live start is itself alive, so the alive suffix IS the
        // earliest viable branch's repetition list
        val alive = buf.dropWhile(ts - _ > withinUs)
        if (alive.size >= min) {
          // greedy (Flink `.greedy()`): the loop takes every repetition
          // it can — all alive events — before handing to the next stage;
          // reluctant (default): the first `min`
          val c = if (greedy) alive.size else min
          out += ((alive(0), alive(c - 1), ts, c.toLong))
          buf = Vector.empty // skipPastLastEvent: discard every partial
        } else if (optional) {
          // Flink `.optional()` on the loop: with no >= min branch the
          // empty (zero-repetition) match completes on the terminator
          // alone; skipPastLastEvent still discards the partials
          out += ((ts, ts, ts, 0L))
          buf = Vector.empty
        }
        // else: no branch completes -> relaxed IGNORE edge, partials carry
      } else if (isRun) {
        buf = (buf :+ ts).dropWhile(ts - _ > withinUs)
      } // neither predicate: transparent under relaxed contiguity
    }
    out.result()
  }

  /** THREE-stage chain `A{min,} followedBy B followedBy C within w` under
    * the same documented rules (relaxed contiguity at every stage,
    * non-greedy first-min loop, earliest-start match preference,
    * skipPastLastEvent), tracked with the FULL stage-2 partial set — the
    * generalization of the r12 carried-partial lesson: at a B event,
    * EVERY viable alive start (not just the earliest) takes the B and
    * becomes a pending (s, e, b); a later C completes the earliest
    * within-alive pending even if earlier pendings' starts have aged
    * out. Kinds: 0 = A, 1 = B, 2 = C (precedence C > B > A resolved by
    * the caller); neutral (3) events are transparent.
    * Matches: (run_start, min-th rep, b_ts, c_ts, min).
    */
  def replayThreeStage(events: Seq[(Long, Int)], min: Int,
      withinUs: Long): Seq[(Long, Long, Long, Long, Long)] = {
    var loop = Vector.empty[Long]                 // alive A starts
    var pend = Vector.empty[(Long, Long, Long)]   // (s, e, b), by s
    val out = Seq.newBuilder[(Long, Long, Long, Long, Long)]
    events.foreach { case (ts, kind) =>
      loop = loop.dropWhile(ts - _ > withinUs)
      pend = pend.dropWhile(p => ts - p._1 > withinUs)
      kind match {
        case 2 => // C completes the earliest live pending; skip-past-last
          if (pend.nonEmpty) {
            val (s, e, b) = pend.head
            out += ((s, e, b, ts, min.toLong))
            loop = Vector.empty; pend = Vector.empty
          } // else transparent: partials and pendings carry
        case 1 => // B: every viable alive start takes its FIRST b
          val already = pend.map(_._1).toSet
          val cand = (0 to loop.size - min)
            .map(i => (loop(i), loop(i + min - 1), ts))
            .filterNot(p => already(p._1))
          pend = (pend ++ cand).sortBy(_._1)
        case 0 => loop = loop :+ ts
        case _ => () // neutral: transparent
      }
    }
    out.result()
  }

  /** The GENERAL chain interpreter — kinds 0 = A, 1..m = Bj, m+1 = C,
    * anything else neutral. Deliberately uses explicit already-taken
    * SETS per stage (membership), NOT the fold's monotone-install
    * shortcut, so the two encodings of "each entry takes its first Bj"
    * stay independent. Matches: (run_start, min-th rep, taken mids in
    * stage order, c_ts).
    */
  def replayChain(events: Seq[(Long, Int)], min: Int, withinUs: Long,
      m: Int): Seq[(Long, Long, Seq[Long], Long)] = {
    var loop = Vector.empty[Long]
    val pend = Array.fill(m)(Vector.empty[(Long, Long, Vector[Long])])
    val out = Seq.newBuilder[(Long, Long, Seq[Long], Long)]
    events.foreach { case (ts, kind) =>
      loop = loop.dropWhile(ts - _ > withinUs)
      (0 until m).foreach(j =>
        pend(j) = pend(j).dropWhile(p => ts - p._1 > withinUs))
      if (kind == m + 1) { // C completes the earliest final pending
        if (pend(m - 1).nonEmpty) {
          val (s, e, bs) = pend(m - 1).head
          out += ((s, e, bs, ts))
          loop = Vector.empty
          (0 until m).foreach(j => pend(j) = Vector.empty)
        }
      } else if (kind >= 1 && kind <= m) { // Bj converts from below
        val j = kind - 1
        val already = pend(j).map(_._1).toSet
        val cand =
          if (j == 0)
            (0 to loop.size - min)
              .map(i => (loop(i), loop(i + min - 1), Vector(ts)))
              .filterNot(p => already(p._1))
          else
            pend(j - 1).filterNot(p => already(p._1))
              .map(p => (p._1, p._2, p._3 :+ ts))
        pend(j) = (pend(j) ++ cand).sortBy(_._1)
      } else if (kind == 0) loop = loop :+ ts
    }
    out.result()
  }

  /** The NEGATIVE pattern (`notFollowedBy` + `within`): a branch started
    * at s matches at its window expiry s + within iff it collected >= min
    * loop events in [s, s + within] and NO terminator occurred in
    * (s, s + within] — a terminator kills every live partial (relaxed
    * contiguity: it "follows" each of them). Reluctant first-min kept;
    * skipPastLastEvent consumes partials up to the match's last kept
    * repetition; `flush` expires the branches still alive after the last
    * event (the batch form — data is complete).
    * Matches: (run_start, last kept rep, expiry = start + within, min).
    */
  def replayNegative(events: Seq[(Long, Boolean, Boolean)], min: Int,
      withinUs: Long): Seq[(Long, Long, Long, Long)] = {
    // deliberately NOT the engine's event-driven fold: the declarative
    // closed form (per-candidate viability + greedy chain), so the two
    // encodings of the semantics are independent
    val as = events.collect { case (ts, isRun, isB) if isRun && !isB => ts }
    val bs = events.collect { case (ts, _, isB) if isB => ts }
    val cands = as.flatMap { s =>
      val reps = as.filter(a => a >= s && a <= s + withinUs)
      val clean = !bs.exists(b => b > s && b <= s + withinUs)
      if (clean && reps.size >= min) Some((s, reps(min - 1))) else None
    }
    // skipPastLastEvent chain: accept candidates in start order, each
    // accepted match consumes every start up to its last kept repetition
    var lastEnd = Long.MinValue
    cands.flatMap { case (s, e) =>
      if (s > lastEnd) { lastEnd = e; Some((s, e, s + withinUs, min.toLong)) }
      else None
    }
  }
}

class CepNfaSpec extends SparkSpecBase {
  import spark.implicits._

  private val Min = 4L
  private val Max = 8L
  private val Within = 100L

  /** Seeded random per-key traffic: frag (kind 0), normal (kind 1) and
    * neutral (kind 2) events with mostly-dense, occasionally-long gaps so
    * `within` boundaries, sub-min islands and long runs all occur.
    */
  private def randomTraffic(rng: scala.util.Random): Seq[(Long, Int)] = {
    val n = rng.nextInt(61)
    var ts = 1000L
    (0 until n).map { _ =>
      ts += (if (rng.nextInt(7) == 0) 40L + rng.nextInt(100) else 1L + rng.nextInt(15))
      val kind = rng.nextInt(8) match {
        case 0 | 1 => 1 // normal
        case 2     => 2 // neutral
        case _     => 0 // frag
      }
      (ts, kind)
    }
  }

  private def pattern = CepPattern.on("user_id")
    .where(col("value") < 10).times(Min, Max)
    .followedBy(col("value") > 90).within(Within)

  private def toRows(traffic: Seq[(Long, Seq[(Long, Int)])]): Seq[(Long, Long, Long, Double)] =
    traffic.flatMap { case (key, evs) =>
      evs.zipWithIndex.map { case ((ts, kind), i) =>
        val value = kind match { case 0 => 5.0; case 1 => 95.0; case _ => 50.0 }
        (key, key * 100000L + i, ts, value)
      }
    }

  private def toDf(traffic: Seq[(Long, Seq[(Long, Int)])]) =
    toRows(traffic).toDF("user_id", "event_id", "__us", "value")
      .withColumn("ts", timestamp_micros(col("__us")))
      .drop("__us")

  private def nfaExpected(traffic: Seq[(Long, Seq[(Long, Int)])]) =
    traffic.flatMap { case (key, evs) =>
      FlinkNfaRef.replay(
        evs.map { case (ts, k) => (ts, k == 0, k == 1) }, Min.toInt, Within)
        .map { case (s, e, n, c) => (key, s, e, n, c) }
    }.sortBy(m => (m._1, m._2))

  private def collectMatches(df: org.apache.spark.sql.DataFrame) = df
    .select("user_id", "run_start_us", "run_end_us", "next_ts_us", "run_count")
    .collect()
    .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    .toSeq.sortBy(m => (m._1, m._2))

  test("batch relaxed mode == documented-rules Flink NFA replay on fuzzed traffic") {
    val rng = new scala.util.Random(4242)
    (1 to 30).foreach { round =>
      val traffic = (0 until 6).map(k => (k.toLong, randomTraffic(rng)))
      val got = collectMatches(pattern.detect(toDf(traffic)))
      val want = nfaExpected(traffic)
      assert(got == want,
        s"round $round diverged from the NFA replay\n traffic=$traffic\n got=$got\n want=$want")
    }
  }

  test("sub-min carry-over counterexample: partial repetitions survive a non-completing terminator") {
    // 3 frags, a normal (completes nothing at min=4), 1 more frag, then a
    // normal: Flink's relaxed IGNORE edge carries the 3 partials across
    // the first normal, so the second normal completes (start = frag 1).
    // The r11 island model found NO match here — the divergence class the
    // class doc used to carry as assumption 1.
    val traffic = Seq((1L, Seq((10L, 0), (20L, 0), (30L, 0), (40L, 1), (50L, 0), (60L, 1))))
    val got = collectMatches(pattern.detect(toDf(traffic)))
    assert(got == Seq((1L, 10L, 50L, 60L, Min)),
      s"expected the cross-terminator match, got $got")
    assert(got == nfaExpected(traffic))
  }

  private def negPattern = CepPattern.on("user_id")
    .where(col("value") < 10).times(Min, Max)
    .notFollowedBy(col("value") > 90).within(Within)

  private def negExpected(traffic: Seq[(Long, Seq[(Long, Int)])]) =
    traffic.flatMap { case (key, evs) =>
      FlinkNfaRef.replayNegative(
        evs.map { case (ts, k) => (ts, k == 0, k == 1) }, Min.toInt, Within)
        .map { case (s, e, x, c) => (key, s, e, x, c) }
    }.sortBy(m => (m._1, m._2))

  test("batch greedy / optional / oneOrMore modes == extended NFA replay on fuzzed traffic") {
    val rng = new scala.util.Random(9321)
    def expectedWith(traffic: Seq[(Long, Seq[(Long, Int)])], min: Long,
        greedy: Boolean, optional: Boolean) =
      traffic.flatMap { case (key, evs) =>
        FlinkNfaRef.replay(evs.map { case (ts, k) => (ts, k == 0, k == 1) },
          min.toInt, Within, greedy = greedy, optional = optional)
          .map { case (s, e, n, c) => (key, s, e, n, c) }
      }.sortBy(m => (m._1, m._2))
    (1 to 15).foreach { round =>
      val traffic = (0 until 6).map(k => (k.toLong, randomTraffic(rng)))
      val df = toDf(traffic)
      // greedy times(min, max): completion keeps every alive repetition
      val greedyPat = CepPattern.on("user_id")
        .where(col("value") < 10).times(Min, Max).greedy
        .followedBy(col("value") > 90).within(Within)
      assert(collectMatches(greedyPat.detect(df)) ==
        expectedWith(traffic, Min, greedy = true, optional = false),
        s"greedy round $round diverged\n traffic=$traffic")
      // optional loop: a non-completing terminator emits the empty match
      val optPat = CepPattern.on("user_id")
        .where(col("value") < 10).times(Min, Max).optional
        .followedBy(col("value") > 90).within(Within)
      assert(collectMatches(optPat.detect(df)) ==
        expectedWith(traffic, Min, greedy = false, optional = true),
        s"optional round $round diverged\n traffic=$traffic")
      // oneOrMore (reluctant): times(1, unbounded) — every terminator
      // with at least one alive run event completes on the first rep
      val oneOrMorePat = CepPattern.on("user_id")
        .where(col("value") < 10).oneOrMore
        .followedBy(col("value") > 90).within(Within)
      assert(collectMatches(oneOrMorePat.detect(df)) ==
        expectedWith(traffic, 1L, greedy = false, optional = false),
        s"oneOrMore round $round diverged\n traffic=$traffic")
      // oneOrMore.greedy: the classic b+ c with greedy consumption
      val oomGreedy = CepPattern.on("user_id")
        .where(col("value") < 10).oneOrMore.greedy
        .followedBy(col("value") > 90).within(Within)
      assert(collectMatches(oomGreedy.detect(df)) ==
        expectedWith(traffic, 1L, greedy = true, optional = false),
        s"oneOrMore.greedy round $round diverged\n traffic=$traffic")
    }
  }

  test("batch notFollowedBy == independent declarative negative replay on fuzzed traffic") {
    val rng = new scala.util.Random(5150)
    (1 to 30).foreach { round =>
      val traffic = (0 until 6).map(k => (k.toLong, randomTraffic(rng)))
      val got = collectMatches(negPattern.detect(toDf(traffic)))
      val want = negExpected(traffic)
      assert(got == want,
        s"negative round $round diverged\n traffic=$traffic\n got=$got\n want=$want")
    }
  }

  test("notFollowedBy hand-checked: a fizzled run matches at expiry; a terminator kills") {
    // key 1: 4 frags then silence -> the run fizzles, match at start+Within
    // key 2: 4 frags then a normal inside the window -> killed, no match
    // key 3: 4 frags, a normal AFTER the window -> the window closed clean
    val traffic = Seq(
      (1L, Seq((10L, 0), (12L, 0), (14L, 0), (16L, 0))),
      (2L, Seq((10L, 0), (12L, 0), (14L, 0), (16L, 0), (50L, 1))),
      (3L, Seq((10L, 0), (12L, 0), (14L, 0), (16L, 0), (200L, 1))))
    val got = collectMatches(negPattern.detect(toDf(traffic)))
    assert(got == Seq(
      (1L, 10L, 16L, 10L + Within, Min),
      (3L, 10L, 16L, 10L + Within, Min)), s"got $got")
    assert(got == negExpected(traffic))
  }

  test("streaming notFollowedBy == negative replay (expiry driven by later events)") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val rng = new scala.util.Random(31337)
    (1 to 6).foreach { round =>
      // append a far-future terminator per key: it first drives every
      // pending expiry (the event-time emission), then kills an empty
      // buffer — so stream output == the batch/declarative truth
      val traffic = (0 until 3).map { k =>
        (k.toLong, randomTraffic(rng) :+ ((1000000L, 1)))
      }
      val mem = MemoryStream[(Long, Long, Long, Double)]
      mem.addData(toRows(traffic))
      val out = negPattern.detectStream(
        mem.toDF.toDF("user_id", "event_id", "ts", "value"))
      val qn = s"cepneg_$round"
      val q = out.writeStream.format("memory").queryName(qn)
        .outputMode("append").start()
      try q.processAllAvailable() finally q.stop()
      val got = spark.table(qn).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
        .toSeq.sortBy(m => (m._1, m._2))
      assert(got == negExpected(traffic),
        s"streaming negative round $round diverged\n traffic=$traffic\n got=$got\n want=${negExpected(traffic)}")
    }
  }

  test("batch + streaming three-stage chain == partial-set interpreter on fuzzed traffic") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val rng = new scala.util.Random(60902)
    // four kinds: 0 = A (value 5), 1 = C (95), 2 = neutral (would-be 50 —
    // excluded from every stage below), 3 = B (70)
    def traffic3(): Seq[(Long, Int)] = {
      val n = rng.nextInt(61)
      var ts = 1000L
      (0 until n).map { _ =>
        ts += (if (rng.nextInt(7) == 0) 40L + rng.nextInt(100) else 1L + rng.nextInt(15))
        (ts, rng.nextInt(10) match {
          case 0 | 1 => 1 // C
          case 2 | 3 => 3 // B
          case 4     => 2 // neutral
          case _     => 0 // A
        })
      }
    }
    def valueOf(kind: Int): Double = kind match {
      case 0 => 5.0; case 1 => 95.0; case 3 => 70.0; case _ => 50.0
    }
    val pat3 = CepPattern.on("user_id")
      .where(col("value") < 10).times(Min, Max)
      .followedBy(col("value") > 60 && col("value") < 80)
      .followedBy(col("value") > 90)
      .within(Within)
    def toDf3(traffic: Seq[(Long, Seq[(Long, Int)])]) =
      traffic.flatMap { case (key, evs) =>
        evs.zipWithIndex.map { case ((ts, kind), i) =>
          (key, key * 100000L + i, ts, valueOf(kind))
        }
      }.toDF("user_id", "event_id", "__us", "value")
        .withColumn("ts", timestamp_micros(col("__us"))).drop("__us")
    def expected3(traffic: Seq[(Long, Seq[(Long, Int)])]) =
      traffic.flatMap { case (key, evs) =>
        // interpreter kinds: 0 = A, 1 = B, 2 = C, 3 = neutral
        FlinkNfaRef.replayThreeStage(
          evs.map { case (ts, k) =>
            (ts, k match { case 0 => 0; case 3 => 1; case 1 => 2; case _ => 3 })
          }, Min.toInt, Within)
          .map { case (s, e, b, c, n) => (key, s, e, b, c, n) }
      }.sortBy(m => (m._1, m._2))
    (1 to 25).foreach { round =>
      val traffic = (0 until 6).map(k => (k.toLong, traffic3()))
      val got = pat3.detect(toDf3(traffic))
        .select(col("user_id"), col("run_start_us"), col("run_end_us"),
          element_at(col("mid_ts_us_list"), 1), col("next_ts_us"),
          col("run_count"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getLong(4), r.getLong(5)))
        .toSeq.sortBy(m => (m._1, m._2))
      assert(got == expected3(traffic),
        s"3-stage round $round diverged\n traffic=$traffic\n got=$got\n want=${expected3(traffic)}")
    }
    // streaming twin on a few rounds
    (1 to 4).foreach { round =>
      val traffic = (0 until 3).map(k => (k.toLong, traffic3()))
      val mem = MemoryStream[(Long, Long, Long, Double)]
      mem.addData(traffic.flatMap { case (key, evs) =>
        evs.zipWithIndex.map { case ((ts, kind), i) =>
          (key, key * 100000L + i, ts, valueOf(kind))
        }
      })
      val qn = s"cep3_$round"
      val q = pat3.detectChainStream(
          mem.toDF.toDF("user_id", "event_id", "ts", "value"))
        .writeStream.format("memory").queryName(qn)
        .outputMode("append").start()
      try q.processAllAvailable() finally q.stop()
      val got = spark.table(qn).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getSeq[Long](3).head, r.getLong(4), r.getLong(5)))
        .toSeq.sortBy(m => (m._1, m._2))
      assert(got == expected3(traffic),
        s"3-stage streaming round $round diverged\n traffic=$traffic")
    }
  }

  test("three-stage hand-checked: pending set survives start aging (the multi-pending case)") {
    // A@10 A@12 A@14 A@16 (min=4 satisfied), B@20 installs pendings for
    // starts 10..16? viable starts: only start 10 has 4 reps by B@20 —
    // wait: starts are ALL A's; start 12 has reps 12,14,16 (3 < min).
    // Another A@30 makes start 12 viable at B@40 (reps 12,14,16,30).
    // C@105: start 10's window [10,110] — pending (10, e=16, b=20) is
    // still alive -> match starts at 10. But C@111 (second scenario,
    // separate key): start 10 aged out (111-10 > 100); pending
    // (12, e=30, b=40) completes — the match the single-pending model
    // would MISS (b=40 happened while pending 10 was live).
    val traffic = Seq(
      (1L, Seq((10L, 0), (12L, 0), (14L, 0), (16L, 0), (20L, 3), (30L, 0),
        (40L, 3), (105L, 1))),
      (2L, Seq((10L, 0), (12L, 0), (14L, 0), (16L, 0), (20L, 3), (30L, 0),
        (40L, 3), (111L, 1))))
    def valueOf(kind: Int): Double = kind match {
      case 0 => 5.0; case 1 => 95.0; case 3 => 70.0; case _ => 50.0
    }
    val df = traffic.flatMap { case (key, evs) =>
      evs.zipWithIndex.map { case ((ts, kind), i) =>
        (key, key * 100000L + i, ts, valueOf(kind))
      }
    }.toDF("user_id", "event_id", "__us", "value")
      .withColumn("ts", timestamp_micros(col("__us"))).drop("__us")
    val pat3 = CepPattern.on("user_id")
      .where(col("value") < 10).times(Min, Max)
      .followedBy(col("value") > 60 && col("value") < 80)
      .followedBy(col("value") > 90)
      .within(Within)
    val got = pat3.detect(df)
      .select(col("user_id"), col("run_start_us"), col("run_end_us"),
        element_at(col("mid_ts_us_list"), 1), col("next_ts_us"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSeq.sortBy(_._1)
    assert(got == Seq(
      (1L, 10L, 16L, 20L, 105L),
      (2L, 12L, 30L, 40L, 111L)), s"got $got")
  }

  test("streaming greedy / optional folds == extended NFA replay on fuzzed traffic") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val rng = new scala.util.Random(2718)
    def runStream(pat: CepPattern,
        traffic: Seq[(Long, Seq[(Long, Int)])], qn: String) = {
      val mem = MemoryStream[(Long, Long, Long, Double)]
      mem.addData(toRows(traffic))
      val q = pat.detectStream(mem.toDF.toDF("user_id", "event_id", "ts", "value"))
        .writeStream.format("memory").queryName(qn)
        .outputMode("append").start()
      try q.processAllAvailable() finally q.stop()
      spark.table(qn).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
        .toSeq.sortBy(m => (m._1, m._2))
    }
    def expectedWith(traffic: Seq[(Long, Seq[(Long, Int)])],
        greedy: Boolean, optional: Boolean) =
      traffic.flatMap { case (key, evs) =>
        FlinkNfaRef.replay(evs.map { case (ts, k) => (ts, k == 0, k == 1) },
          Min.toInt, Within, greedy = greedy, optional = optional)
          .map { case (s, e, n, c) => (key, s, e, n, c) }
      }.sortBy(m => (m._1, m._2))
    (1 to 4).foreach { round =>
      val traffic = (0 until 3).map(k => (k.toLong, randomTraffic(rng)))
      val greedyPat = CepPattern.on("user_id")
        .where(col("value") < 10).times(Min, Max).greedy
        .followedBy(col("value") > 90).within(Within)
      assert(runStream(greedyPat, traffic, s"cepg_$round") ==
        expectedWith(traffic, greedy = true, optional = false),
        s"streaming greedy round $round diverged\n traffic=$traffic")
      val optPat = CepPattern.on("user_id")
        .where(col("value") < 10).times(Min, Max).optional
        .followedBy(col("value") > 90).within(Within)
      assert(runStream(optPat, traffic, s"cepo_$round") ==
        expectedWith(traffic, greedy = false, optional = true),
        s"streaming optional round $round diverged\n traffic=$traffic")
    }
  }

  test("checkpoint recovery carries sub-min partials across restart (the r12 NFA state)") {
    // The exact state the r12 correction added: partials that SURVIVED a
    // non-completing terminator (the relaxed IGNORE edge). Run 1 ends
    // with 3 sub-min frag partials that already rode across a failed
    // normal; the query stops (simulated failure); run 2 on the SAME
    // checkpoint delivers one more frag and a completing normal. The
    // match must start at run 1's FIRST frag — provable only if the
    // carried-partial buffer survived the checkpoint round-trip (a
    // restart that lost state would match nothing, one that cleared on
    // the failed terminator would start at 50).
    val base = java.nio.file.Files.createTempDirectory("graft-cep-ck").toString
    val (in, out, ck) = (s"$base/in", s"$base/out", s"$base/ck")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(in))
    def writeFile(name: String, rows: Seq[(Long, Long, Long, Double)]): Unit =
      java.nio.file.Files.write(java.nio.file.Paths.get(in, name),
        rows.map { case (k, id, ts, v) =>
          s"""{"user_id":$k,"event_id":$id,"ts":$ts,"value":$v}"""
        }.mkString("\n").getBytes("UTF-8"))
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "user_id LONG, event_id LONG, ts LONG, value DOUBLE")
    def runOnce(): Unit = {
      val src = spark.readStream.format("json").schema(schema).load(in)
      val q = pattern.detectStream(src).writeStream.format("json")
        .option("path", out).option("checkpointLocation", ck)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    // run 1: 3 frags, then a normal that completes nothing at Min=4 —
    // the partials must CARRY across it into the checkpointed state
    writeFile("p1.jsonl", Seq(
      (1L, 1L, 10L, 5.0), (1L, 2L, 20L, 5.0), (1L, 3L, 30L, 5.0),
      (1L, 4L, 40L, 95.0)))
    runOnce()
    assert(spark.read.schema(org.apache.spark.sql.types.StructType.fromDDL(
        "key LONG, run_start_us LONG, run_end_us LONG, next_ts_us LONG, run_count LONG"))
      .json(out).count() == 0, "nothing completes in run 1")
    // run 2: the 4th frag and the completing normal
    writeFile("p2.jsonl", Seq((1L, 5L, 50L, 5.0), (1L, 6L, 60L, 95.0)))
    runOnce()
    val got = spark.read.json(out)
      .select("key", "run_start_us", "run_end_us", "next_ts_us", "run_count")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSeq
    assert(got == Seq((1L, 10L, 50L, 60L, Min)),
      s"carried partials must survive the restart: got $got")

    // negative-mode leg: run 1 ends with a sub-min-silent buffer (4 frags,
    // nothing after); run 2's far-future event drives the expiry — the
    // fizzle match must start at run 1's first frag
    val (in2, out2, ck2) = (s"$base/in2", s"$base/out2", s"$base/ck2")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(in2))
    def writeFile2(name: String, rows: Seq[(Long, Long, Long, Double)]): Unit =
      java.nio.file.Files.write(java.nio.file.Paths.get(in2, name),
        rows.map { case (k, id, ts, v) =>
          s"""{"user_id":$k,"event_id":$id,"ts":$ts,"value":$v}"""
        }.mkString("\n").getBytes("UTF-8"))
    def runNeg(): Unit = {
      val src = spark.readStream.format("json").schema(schema).load(in2)
      val q = negPattern.detectStream(src).writeStream.format("json")
        .option("path", out2).option("checkpointLocation", ck2)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    writeFile2("p1.jsonl", Seq(
      (1L, 1L, 10L, 5.0), (1L, 2L, 20L, 5.0), (1L, 3L, 30L, 5.0), (1L, 4L, 40L, 5.0)))
    runNeg()
    writeFile2("p2.jsonl", Seq((1L, 5L, 100000L, 50.0))) // neutral, but time passes
    runNeg()
    val gotNeg = spark.read.json(out2)
      .select("key", "run_start_us", "run_end_us", "next_ts_us", "run_count")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSeq
    assert(gotNeg == Seq((1L, 10L, 40L, 10L + Within, Min)),
      s"negative-mode buffer must survive the restart: got $gotNeg")
  }

  test("streaming relaxed fold == documented-rules NFA replay on fuzzed traffic") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val rng = new scala.util.Random(777)
    (1 to 6).foreach { round =>
      val traffic = (0 until 3).map(k => (k.toLong, randomTraffic(rng)))
      val mem = MemoryStream[(Long, Long, Long, Double)]
      mem.addData(toRows(traffic))
      val out = pattern.detectStream(
        mem.toDF.toDF("user_id", "event_id", "ts", "value"))
      val qn = s"cepnfa_$round"
      val q = out.writeStream.format("memory").queryName(qn)
        .outputMode("append").start()
      try q.processAllAvailable() finally q.stop()
      val got = spark.table(qn).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
        .toSeq.sortBy(m => (m._1, m._2))
      assert(got == nfaExpected(traffic),
        s"streaming round $round diverged\n traffic=$traffic\n got=$got\n want=${nfaExpected(traffic)}")
    }
  }

  test("batch N-stage chain == generalized interpreter on fuzzed traffic") {
    val rng = new scala.util.Random(81311)
    import spark.implicits._
    // kinds: 0 = A (5), 1 = B1 (65), 2 = B2 (75), 3 = C (95), 4 = neutral
    def trafficN(): Seq[(Long, Int)] = {
      val n = rng.nextInt(71)
      var ts = 1000L
      (0 until n).map { _ =>
        ts += (if (rng.nextInt(7) == 0) 40L + rng.nextInt(100) else 1L + rng.nextInt(12))
        (ts, rng.nextInt(12) match {
          case 0 | 1     => 1 // B1
          case 2 | 3     => 2 // B2
          case 4 | 5     => 3 // C
          case 6         => 4 // neutral
          case _         => 0 // A
        })
      }
    }
    def valueOf(kind: Int): Double = kind match {
      case 0 => 5.0; case 1 => 65.0; case 2 => 75.0; case 3 => 95.0
      case _ => 50.0
    }
    val pat4 = CepPattern.on("user_id")
      .where(col("value") < 10).times(Min, Max)
      .followedBy(col("value") >= 60 && col("value") < 70)
      .followedBy(col("value") >= 70 && col("value") < 80)
      .followedBy(col("value") > 90)
      .within(Within)
    def toDf(traffic: Seq[(Long, Seq[(Long, Int)])]) =
      traffic.flatMap { case (key, evs) =>
        evs.zipWithIndex.map { case ((ts, kind), i) =>
          (key, key * 100000L + i, ts, valueOf(kind))
        }
      }.toDF("user_id", "event_id", "__us", "value")
        .withColumn("ts", timestamp_micros(col("__us"))).drop("__us")
    def want(traffic: Seq[(Long, Seq[(Long, Int)])]) =
      traffic.flatMap { case (key, evs) =>
        FlinkNfaRef.replayChain(
          evs.map { case (ts, k) => (ts, if (k == 4) 9 else k) },
          Min.toInt, Within, 2)
          .map { case (st, e, bs, c) => (key, st, e, bs, c) }
      }.sortBy(m => (m._1, m._2)).toSeq
    (1 to 25).foreach { round =>
      val traffic = (0 until 6).map(k => (k.toLong, trafficN()))
      val got = pat4.detect(toDf(traffic))
        .select("user_id", "run_start_us", "run_end_us", "mid_ts_us_list",
          "next_ts_us")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getSeq[Long](3), r.getLong(4)))
        .toSeq.sortBy(m => (m._1, m._2))
      assert(got.map(g => (g._1, g._2, g._3, g._4.toVector, g._5)) ==
        want(traffic).map(w => (w._1, w._2, w._3, w._4.toVector, w._5)),
        s"chain round $round diverged\n traffic=$traffic\n got=$got\n want=${want(traffic)}")
    }
  }

  test("streaming N-stage chain == batch detect across micro-batches, drops late events") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val rng = new scala.util.Random(90210)
    def trafficN(): Seq[(Long, Int)] = {
      val n = rng.nextInt(71)
      var ts = 1000L
      (0 until n).map { _ =>
        ts += (if (rng.nextInt(7) == 0) 40L + rng.nextInt(100) else 1L + rng.nextInt(12))
        (ts, rng.nextInt(12) match {
          case 0 | 1 => 1; case 2 | 3 => 2; case 4 | 5 => 3; case 6 => 4
          case _     => 0
        })
      }
    }
    def valueOf(kind: Int): Double = kind match {
      case 0 => 5.0; case 1 => 65.0; case 2 => 75.0; case 3 => 95.0
      case _ => 50.0
    }
    val pat4 = CepPattern.on("user_id")
      .where(col("value") < 10).times(Min, Max)
      .followedBy(col("value") >= 60 && col("value") < 70)
      .followedBy(col("value") >= 70 && col("value") < 80)
      .followedBy(col("value") > 90)
      .within(Within)
    (1 to 4).foreach { round =>
      val traffic = (0 until 3).map(k => (k.toLong, trafficN()))
      val rows = traffic.flatMap { case (key, evs) =>
        evs.zipWithIndex.map { case ((ts, kind), i) =>
          (key, key * 100000L + i, ts, valueOf(kind))
        }
      }.sortBy(r => (r._3, r._2))
      val want = pat4.detect(
        rows.toDF("user_id", "event_id", "__us", "value")
          .withColumn("ts", timestamp_micros(col("__us"))).drop("__us"))
        .select("user_id", "run_start_us", "run_end_us", "mid_ts_us_list",
          "next_ts_us")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getSeq[Long](3).toVector, r.getLong(4))).toSet
      val mem = MemoryStream[(Long, Long, Long, Double)]
      val q = pat4.copy(tsCol = "ts").detectChainStream(
          mem.toDF().toDF("user_id", "event_id", "ts", "value"))
        .writeStream.format("memory").queryName(s"cepN_$round")
        .outputMode("append").start()
      try {
        val (b1, b2) = rows.splitAt(rows.length / 2)
        mem.addData(b1.toIndexedSeq); q.processAllAvailable()
        mem.addData(b2.toIndexedSeq); q.processAllAvailable()
        if (rows.nonEmpty) { // late replay of the first event: dropped
          mem.addData(Seq(rows.head)); q.processAllAvailable()
        }
        val got = spark.table(s"cepN_$round")
          .as[(Long, Long, Long, List[Long], Long, Long)].collect()
          .map(r => (r._1, r._2, r._3, r._4.toVector, r._5)).toSet
        assert(got == want,
          s"chain stream round $round diverged\n got=$got\n want=$want")
      } finally q.stop()
    }
  }

  test("chain checkpoint recovery: both pending stages survive a restart") {
    // key 1 stops AFTER its stage-2 pending is installed; key 2 stops
    // after only stage 1. Run 2 completes both. The matches' run starts
    // are provable only if the per-stage pending lists (not just the
    // loop buffer) round-tripped the checkpoint.
    val base = java.nio.file.Files.createTempDirectory("graft-cepn-ck").toString
    val (in, out, ck) = (s"$base/in", s"$base/out", s"$base/ck")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(in))
    val chainPattern = CepPattern.on("user_id")
      .where(col("value") < 10).times(Min, Max)
      .followedBy(col("value") >= 60 && col("value") < 70)
      .followedBy(col("value") >= 70 && col("value") < 80)
      .followedBy(col("value") > 90)
      .within(Within)
    def writeFile(name: String, rows: Seq[(Long, Long, Long, Double)],
        dir: String = in): Unit =
      java.nio.file.Files.write(java.nio.file.Paths.get(dir, name),
        rows.map { case (k, id, ts, v) =>
          s"""{"user_id":$k,"event_id":$id,"ts":$ts,"value":$v}"""
        }.mkString("\n").getBytes("UTF-8"))
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "user_id LONG, event_id LONG, ts LONG, value DOUBLE")
    def runOnce(pattern: CepPattern = chainPattern, dirs: (String, String,
        String) = (in, out, ck)): Unit = {
      val src = spark.readStream.format("json").schema(schema).load(dirs._1)
      val q = pattern.detectChainStream(src).writeStream.format("json")
        .option("path", dirs._2).option("checkpointLocation", dirs._3)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    writeFile("p1.jsonl",
      (1 to Min.toInt).map(i => (1L, i.toLong, i * 10L, 5.0)) ++ Seq(
        (1L, 90L, 50L, 65.0), (1L, 91L, 60L, 75.0)) ++
      (1 to Min.toInt).map(i => (2L, i.toLong, i * 10L, 5.0)) ++ Seq(
        (2L, 90L, 50L, 65.0)))
    runOnce()
    val outSchema = org.apache.spark.sql.types.StructType.fromDDL(
      "key LONG, run_start_us LONG, run_end_us LONG, " +
        "mid_ts_us_list ARRAY<LONG>, next_ts_us LONG, run_count LONG")
    assert(spark.read.schema(outSchema).json(out).count() == 0,
      "nothing completes in run 1")
    writeFile("p2.jsonl", Seq(
      (1L, 92L, 70L, 95.0),
      (2L, 91L, 55L, 75.0), (2L, 92L, 65L, 95.0)))
    runOnce()
    val got = spark.read.schema(outSchema).json(out)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getSeq[Long](3).toVector, r.getLong(4), r.getLong(5)))
      .toSeq.sortBy(_._1)
    assert(got == Seq(
      (1L, 10L, Min * 10L, Vector(50L, 60L), 70L, Min),
      (2L, 10L, Min * 10L, Vector(50L, 55L), 65L, Min)),
      s"pending stages must survive the restart: got $got")

    // one-middle leg, through the same chain fold: key 1 stops after its
    // pending entry is installed, key 2 before it
    val oneMid = (s"$base/in1", s"$base/out1", s"$base/ck1")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(oneMid._1))
    val oneMidPattern = CepPattern.on("user_id")
      .where(col("value") < 10).times(Min, Max)
      .followedBy(col("value") >= 60 && col("value") < 70)
      .followedBy(col("value") > 90)
      .within(Within)
    writeFile("p1.jsonl",
      (1 to Min.toInt).map(i => (1L, i.toLong, i * 10L, 5.0)) ++ Seq(
        (1L, 90L, 50L, 65.0)) ++
      (1 to Min.toInt).map(i => (2L, i.toLong, i * 10L, 5.0)), oneMid._1)
    runOnce(oneMidPattern, oneMid)
    assert(spark.read.schema(outSchema).json(oneMid._2).count() == 0,
      "nothing completes in the one-middle run 1")
    writeFile("p2.jsonl", Seq(
      (1L, 91L, 70L, 95.0),
      (2L, 90L, 55L, 65.0), (2L, 91L, 65L, 95.0)), oneMid._1)
    runOnce(oneMidPattern, oneMid)
    val gotOne = spark.read.schema(outSchema).json(oneMid._2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getSeq[Long](3).toVector, r.getLong(4), r.getLong(5)))
      .toSeq.sortBy(_._1)
    assert(gotOne == Seq(
      (1L, 10L, Min * 10L, Vector(50L), 70L, Min),
      (2L, 10L, Min * 10L, Vector(55L), 65L, Min)),
      s"the one-middle pending entry must survive the restart: got $gotOne")
  }

  test("interpreter self-consistency: replayChain at m = 1 == replayThreeStage") {
    val rng = new scala.util.Random(4177)
    (1 to 200).foreach { _ =>
      val n = rng.nextInt(60)
      var ts = 1000L
      val evs = (0 until n).map { _ =>
        ts += 1L + rng.nextInt(30)
        (ts, rng.nextInt(4)) // 0 = A, 1 = B, 2 = C, 3 = neutral
      }
      val viaChain = FlinkNfaRef.replayChain(
        evs.map { case (t, k) => (t, if (k == 3) 9 else k) },
        Min.toInt, Within, 1)
        .map { case (s, e, bs, c) => (s, e, bs.head, c, Min) }
      val via3 = FlinkNfaRef.replayThreeStage(evs, Min.toInt, Within)
      assert(viaChain == via3, s"m=1 chain semantics drifted on $evs")
    }
  }

  test("4-stage hand-checked: stage order is enforced and mids carry in order") {
    import spark.implicits._
    val min2 = CepPattern.on("user_id")
      .where(col("value") < 10).times(2, 8)
      .followedBy(col("value") >= 60 && col("value") < 70)
      .followedBy(col("value") >= 70 && col("value") < 80)
      .followedBy(col("value") > 90)
      .within(1000L)
    def df(evs: Seq[(Long, Double)]) =
      evs.zipWithIndex.map { case ((ts, v), i) => (1L, i.toLong, ts, v) }
        .toDF("user_id", "event_id", "__us", "value")
        .withColumn("ts", timestamp_micros(col("__us"))).drop("__us")
    // in-order chain matches, mids carried in stage order
    val ok = min2.detect(df(Seq(
      (10L, 5.0), (20L, 5.0), (30L, 65.0), (40L, 75.0), (50L, 95.0))))
      .select("run_start_us", "run_end_us", "mid_ts_us_list", "next_ts_us")
      .collect()
    assert(ok.length == 1)
    assert(ok.head.getLong(0) == 10L && ok.head.getLong(1) == 20L)
    assert(ok.head.getSeq[Long](2) == Seq(30L, 40L))
    assert(ok.head.getLong(3) == 50L)
    // B2 before B1 must NOT satisfy the chain (stage order matters)
    val bad = min2.detect(df(Seq(
      (10L, 5.0), (20L, 5.0), (30L, 75.0), (40L, 65.0), (50L, 95.0))))
    assert(bad.count() == 0L,
      "a B2 preceding B1 must never complete the chain")
  }

  test("a non-integral id is refused by every fold mode, batch and stream, before any query starts") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    // two run events at one ts with ids 1.2 and 1.7: as longs both are 1,
    // so the tie order is lost and a stream would drop the second as late
    val rows = Seq((1L, 1.0, 10L, 5.0), (1L, 1.2, 20L, 5.0),
      (1L, 1.7, 20L, 5.0), (1L, 2.0, 30L, 95.0))
    val df = rows.toDF("user_id", "event_id", "__us", "value")
      .withColumn("ts", timestamp_micros(col("__us"))).drop("__us")
    val relaxed = CepPattern.on("user_id")
      .where(col("value") < 10).times(2, 8)
      .followedBy(col("value") > 90).within(Within)
    val strict = CepPattern.on("user_id")
      .where(col("value") < 10).times(2, 8)
      .next(col("value") > 90).within(Within)
    val chain = CepPattern.on("user_id")
      .where(col("value") < 10).times(2, 8)
      .followedBy(col("value") > 60 && col("value") < 80)
      .followedBy(col("value") > 90).within(Within)
    def refused(column: String)(run: => Any): Unit = {
      val e = intercept[IllegalArgumentException](run)
      assert(e.getMessage.contains(s"'$column'"), e.getMessage)
    }
    refused("event_id")(relaxed.detect(df))
    refused("event_id")(negPattern.detect(df))
    refused("event_id")(chain.detect(df))
    val src = MemoryStream[(Long, Double, Long, Double)].toDF()
      .toDF("user_id", "event_id", "ts", "value")
    refused("event_id")(relaxed.detectStream(src))
    refused("event_id")(negPattern.detectStream(src))
    refused("event_id")(strict.detectStream(src))
    refused("event_id")(chain.detectChainStream(src))
    // the streams also key by an integral key and read epoch-micro longs
    val doubleKeys = MemoryStream[(Double, Long, Long, Double)].toDF()
      .toDF("user_id", "event_id", "ts", "value")
    refused("user_id")(relaxed.detectStream(doubleKeys))
    refused("ts")(chain.detectChainStream(doubleKeys
      .withColumn("user_id", col("user_id").cast("long"))
      .withColumn("ts", timestamp_micros(col("ts")))))
    assert(spark.streams.active.isEmpty)
  }
}
