package graftbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Dataset, Encoders}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.{StateOperatorProgress, StreamingQueryProgress}

import graft.model.{AttackResult, NetworkEvent}
import graft.sources.EventGen
import graft.streaming.{KafkaIO, StreamingAnomaly}

/** The paper's detector as a stream: JSON events in Kafka frames ->
  * `fromKafkaFrames` -> `detectAttacks` -> `toKafkaFrames` -> a sink that
  * stamps arrival times.
  *
  * One load thread (this one) runs a closed loop: it hands a batch to the
  * memory source, prepares the next batch while the engine works, and waits
  * until the query has committed before handing off again. The loop
  * interleaves one large batch with a fixed number of small ones. Small
  * batches are dominated by the fixed per-micro-batch cost (state store
  * commit, offset and commit logs, planning, task launch); large ones by
  * the per-event cost (JSON parse, the CEP fold).
  */
object StreamBench {
  /** Background events per generated segment. A multiple of the generator's
    * attack interval, so each segment ends with a closed attack and no CEP
    * run crosses two segments: the reference can be computed per segment.
    */
  private val SegmentNormal = 2000

  /** Events before the first cut beyond a whole number of attack periods
    * (200 background events + 15 fragments + the closing event = 216).
    * Batch sizes are whole periods, so every cut then falls after the 8th
    * fragment of an attack: each micro-batch ends with one open CEP run
    * that the next must finish from state.
    */
  private val Period = 216
  private val CutPhase = 208

  /** Events generated from the seed and cut into batches of fixed sizes.
    * Batches are prepared ahead of their hand-off; the reference alerts
    * count only what was handed off.
    */
  final class Load(seed: Long) {
    // generated segments not yet fully handed off, with their reference alerts
    private val segs = mutable.Queue[(Array[NetworkEvent], Seq[AttackResult])]()
    private var prepSeg = 0 // index into segs of the next event to prepare
    private var prepPos = 0
    private var handedInFront = 0
    private var segNo = 0
    private var cursorMs = 1700000000000L
    val expected: mutable.ArrayBuffer[AttackResult] = mutable.ArrayBuffer()
    // keys whose fragment run is open after the events prepared so far:
    // exactly the keys holding a non-empty CEP buffer in the stream's state
    private val open = mutable.HashSet[String]()

    /** Next `n` events as JSON lines, plus the open-run count after them. */
    def next(n: Int): (Array[String], Int) = {
      val out = new Array[String](n)
      var i = 0
      while (i < n) {
        if (prepSeg == segs.length) {
          val seg = EventGen.stream(seed * 1000003L + segNo, SegmentNormal, cursorMs).toArray
          segNo += 1
          cursorMs = seg.last.timestamp_end + 100
          segs.enqueue((seg, StreamingAnomaly.detectAttacksBatch(seg.toSeq)))
        }
        val seg = segs(prepSeg)._1
        val e = seg(prepPos)
        if (e.packets < 10) open += e.ip_dst else if (e.packets > 10) open -= e.ip_dst
        out(i) = eventJson(e)
        i += 1
        prepPos += 1
        if (prepPos == seg.length) { prepSeg += 1; prepPos = 0 }
      }
      (out, open.size)
    }

    /** Marks the oldest `n` prepared events as handed off. */
    def handedOff(n: Int): Unit = {
      var left = n
      while (left > 0) {
        val (seg, alerts) = segs.head
        val take = math.min(left, seg.length - handedInFront)
        handedInFront += take
        left -= take
        if (handedInFront == seg.length) {
          expected ++= alerts
          segs.dequeue()
          prepSeg -= 1
          handedInFront = 0
        }
      }
    }

    /** Adds the reference alerts of the handed-off part of the last segment. */
    def settle(): Unit = if (handedInFront > 0) {
      expected ++= StreamingAnomaly.detectAttacksBatch(segs.head._1.take(handedInFront).toSeq)
      handedInFront = 0
    }
  }

  /** The wire format `StreamingAnomaly.eventSchema` reads. */
  def eventJson(e: NetworkEvent): String = Json.obj(
    "event_type" -> e.event_type, "ip_src" -> e.ip_src, "ip_dst" -> e.ip_dst,
    "port_src" -> e.port_src, "port_dst" -> e.port_dst, "ip_proto" -> e.ip_proto,
    "timestamp_start" -> e.timestamp_start, "timestamp_end" -> e.timestamp_end,
    "packets" -> e.packets, "bytes" -> e.bytes, "writer_id" -> e.writer_id, "text" -> e.text)

  /** One handed-off batch. Times are System.nanoTime. */
  final case class Handoff(seq: Int, large: Boolean, events: Int, openRuns: Int,
      handoffNs: Long, committedNs: Long, genMs: Double, gcMs: Double, traced: Boolean)

  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    import spark.implicits._
    val small = ctx.int("small")
    val large = ctx.int("large")
    require(small % Period == 0 && large % Period == 0, s"batch sizes must be multiples of $Period")
    val smallPerLarge = ctx.int("small-per-large")
    val warmCycles = if (ctx.smoke) 1 else ctx.int("warm-cycles")
    val minCycles = ctx.args.get("min-cycles").fold(if (ctx.smoke) 1 else 2)(_.toInt)

    val warm0 = System.nanoTime()
    val load = new Load(ctx.seed)
    val source = MemoryStream[String](Encoders.STRING, spark.sqlContext)
    val frames = KafkaIO.asKafkaFrames(source.toDF(), "events")
    val alerts = KafkaIO.toKafkaFrames(StreamingAnomaly.detectAttacks(KafkaIO.fromKafkaFrames(frames)))

    // sink: every alert value with its arrival time and the batch in flight
    val inFlight = new AtomicInteger(-1)
    val received = new ConcurrentLinkedQueue[(String, Long, Int)]()
    val query = alerts.writeStream
      .outputMode("append")
      .option("checkpointLocation", ctx.outDir.resolve("checkpoint").toString)
      .foreachBatch { (df: DataFrame, _: Long) =>
        val rows = df.select("value").as[String].collect()
        val t = System.nanoTime()
        val seq = inFlight.get
        rows.foreach(v => received.add((v, t, seq)))
      }
      .start()

    val tracer = if (ctx.trace) Some(new Tracer(spark)) else None
    val handoffs = mutable.ArrayBuffer[Handoff]()
    var pending = {
      val t = System.nanoTime()
      val (json, openRuns) = load.next(large + CutPhase)
      (json, openRuns, (System.nanoTime() - t) / 1e6)
    }

    /** Hands off the prepared batch, prepares the next one while the engine
      * works, then waits for the commit.
      */
    def step(isLarge: Boolean, nextLarge: Boolean, traced: Boolean): Unit = {
      val (json, openRuns, genMs) = pending
      val seq = handoffs.length
      val gc0 = Stats.gcMs()
      inFlight.set(seq)
      val t0 = System.nanoTime()
      source.addData(json.toSeq)
      load.handedOff(json.length)
      val g0 = System.nanoTime()
      val prepared = load.next(if (nextLarge) large else small)
      pending = (prepared._1, prepared._2, (System.nanoTime() - g0) / 1e6)
      query.processAllAvailable()
      val t1 = System.nanoTime()
      handoffs += Handoff(seq, isLarge, json.length, openRuns, t0, t1, genMs,
        Stats.gcMs() - gc0, traced)
    }
    def cycle(traced: Boolean): Unit = {
      step(isLarge = true, nextLarge = smallPerLarge == 0, traced)
      (1 to smallPerLarge).foreach(i => step(isLarge = false, nextLarge = i == smallPerLarge, traced))
    }

    // warm-up: fills the state store to its plateau and warms the JIT
    (1 to warmCycles).foreach(_ => cycle(traced = false))
    val warmS = (System.nanoTime() - warm0) / 1e9
    val setupS = ctx.sinceLaunchS
    val timedFrom = handoffs.length

    val root = tracer.map(_.open(s"workload ${ctx.workload}"))
    val t0 = System.nanoTime()
    var c = 0
    while (c < minCycles * (if (ctx.trace) 2 else 1) || (System.nanoTime() - t0) / 1e9 < ctx.seconds) {
      // traced run: odd cycles traced, even ones not, for the overhead
      val traced = ctx.trace && c % 2 == 1
      if (traced) tracer.get.attach()
      cycle(traced)
      if (traced) tracer.get.detach()
      c += 1
    }
    root.foreach(r => tracer.get.close(r))
    query.stop()
    load.settle()

    // correctness: every alert against the single-threaded reference fold
    val got = received.asScala.toSeq
    val gotAlerts: Seq[AttackResult] = spark.read
      .schema(Encoders.product[AttackResult].schema)
      .json(spark.createDataset(got.map(_._1)))
      .as[AttackResult].collect().toSeq
    val want = mutable.Map[AttackResult, Int]().withDefaultValue(0)
    load.expected.foreach(a => want(a) += 1)
    var matched = 0
    gotAlerts.foreach(a => if (want(a) > 0) { want(a) -= 1; matched += 1 })
    val missing = load.expected.length - matched
    val surplus = gotAlerts.length - matched
    val failed = math.max(missing, surplus)

    val timed = handoffs.drop(timedFrom).toSeq
    val byBatch = handoffs.map(h => h.seq -> h).toMap
    // one latency sample per alert of a small timed batch
    def latencies(traced: Boolean): Seq[Double] = got.collect {
      case (_, t, seq) if byBatch.get(seq).exists(h => !h.large && seq >= timedFrom && h.traced == traced) =>
        (t - byBatch(seq).handoffNs) / 1e6
    }
    val lat = latencies(traced = false)
    val smallBatches = timed.count(h => !h.large && !h.traced)
    def ingest(hs: Seq[Handoff]) =
      Stats.median(hs.filter(_.large).map(h => h.events / ((h.committedNs - h.handoffNs) / 1e9)))

    val metrics =
      if (!ctx.trace) Seq(
        "setup_s" -> setupS,
        "latency_p50_ms" -> Stats.quantile(lat, 0.5),
        "throughput_rows_s" -> ingest(timed.filterNot(_.traced)))
      else layerMetrics(tracer.get, root.get, timed, lat, latencies(traced = true), warmS)
    tracer.foreach(_.write(ctx.outDir.resolve("trace.json")))

    Outcome(metrics, attempted = math.max(load.expected.length, gotAlerts.length).toLong,
      failed = failed.toLong,
      info = Seq("alerts_expected" -> load.expected.length, "alerts_received" -> gotAlerts.length,
        "alerts_missing" -> missing, "alerts_surplus" -> surplus,
        "latency_samples" -> lat.length, "latency_small_batches" -> smallBatches,
        "alert_latency_p90_ms" -> Stats.quantile(lat, 0.9),
        "large_batches" -> timed.count(h => h.large && !h.traced),
        "timed_batches" -> timed.length, "warmup_batches" -> timedFrom,
        "events_handed_off" -> handoffs.map(_.events.toLong).sum,
        "batch_ms_all" -> handoffs.map(h => (if (h.large) "L" else "S") +
          f"${(h.committedNs - h.handoffNs) / 1e6}%.0f")))
  }

  private def layerMetrics(tr: Tracer, root: Span, timed: Seq[Handoff],
      untracedLat: Seq[Double], tracedLat: Seq[Double],
      warmS: Double): Seq[(String, Double)] = {
    val batchSpans = tr.addBatchSpans(root)
    // the k-th data batch (input rows > 0) is the k-th hand-off
    val dataBatches = tr.progress.filter(_.numInputRows > 0).sortBy(_.batchId)
    val tracedHandoffs = timed.filter(_.traced)
    if (dataBatches.length != tracedHandoffs.length)
      System.err.println(s"[graftbench] ${dataBatches.length} traced data batches for " +
        s"${tracedHandoffs.length} hand-offs")
    val pairs = tracedHandoffs.zip(dataBatches)
    val (lg, sm) = pairs.partition(_._1.large)
    def dur(p: StreamingQueryProgress, k: String): Double =
      Option(p.durationMs.get(k)).fold(0.0)(_.doubleValue)
    def state(p: StreamingQueryProgress)(f: StateOperatorProgress => Double): Double =
      p.stateOperators.headOption.fold(0.0)(f)
    def med(xs: Seq[Double]) = Stats.median(xs)
    val smP = sm.map(_._2)
    val lgP = lg.map(_._2)
    val engine = tr.engineMetrics(smP.map { p =>
      Seq(tr.summarize(batchSpans(p.batchId), tr.stagesOfJobs(tr.jobsOfBatch(p.batchId)))
        + ("plan_ms" -> dur(p, "queryPlanning")))
    })
    engine ++ Seq(
      // alerts of one micro-batch arrive together, so the p90 rests on about
      // a tenth of the small batches: a diagnostic, not a bounded metric
      "streaming.alert_latency_p90_ms" -> Stats.quantile(untracedLat, 0.9),
      "streaming.batch_ms" -> med(smP.map(dur(_, "triggerExecution"))),
      "streaming.add_batch_ms" -> med(smP.map(dur(_, "addBatch"))),
      "streaming.log_commit_ms" -> med(smP.map(p => dur(p, "walCommit") + dur(p, "commitOffsets"))),
      "streaming.state_rows" -> med(smP.map(state(_)(_.numRowsTotal.toDouble))),
      "streaming.state_commit_ms" -> med(smP.map(state(_)(_.commitTimeMs.toDouble))),
      "streaming.state_open_ratio" -> Stats.mean(sm.map { case (h, p) =>
        h.openRuns / math.max(1.0, state(p)(_.numRowsTotal.toDouble)) }),
      "streaming.large_batch_ms" -> med(lgP.map(dur(_, "triggerExecution"))),
      "streaming.state_update_ms" -> med(lgP.map(state(_)(_.allUpdatesTimeMs.toDouble))),
      "streaming.state_removal_ms" -> med(lgP.map(state(_)(_.allRemovalsTimeMs.toDouble))),
      "streaming.state_mem_mb" -> med(lgP.map(state(_)(_.memoryUsedBytes / 1e6))),
      "streaming.gc_ms" -> med(lg.map(_._1.gcMs)),
      "streaming.gen_ms" -> med(timed.filter(!_.large).map(_.genMs)),
      "session.warm_s" -> warmS,
      "trace.overhead_pct" -> (med(tracedLat) / med(untracedLat) - 1) * 100)
  }

  /** The stream's layers called alone on one fixed set of generated events:
    * JSON parse (`fromKafkaFrames`), the distributed CEP fold
    * (`detectAttacksBatchDs`) and the single-threaded reference fold.
    */
  def isolatedRates(ctx: Ctx): Seq[(String, Double)] = {
    val spark = ctx.spark
    import spark.implicits._
    val n = if (ctx.smoke) 10000 else 30000
    val events = EventGen.stream(ctx.seed, n * 200 / 216).toArray.toSeq
    val reps = if (ctx.smoke) 1 else 3
    val json = spark.createDataset(events.map(eventJson)).toDF("value").cache()
    json.count()
    val typed: Dataset[NetworkEvent] = spark.createDataset(events).cache()
    typed.count()
    try Seq(
      "streaming.parse_ev_s" -> events.length / Main.medianSeconds(reps)(
        Main.noop(KafkaIO.fromKafkaFrames(KafkaIO.asKafkaFrames(json, "events")).toDF())),
      "streaming.cep_fold_ev_s" -> events.length / Main.medianSeconds(reps)(
        Main.noop(StreamingAnomaly.detectAttacksBatchDs(typed).toDF())),
      "streaming.cep_local_ev_s" -> events.length / Main.medianSeconds(reps)(
        StreamingAnomaly.detectAttacksBatch(events)))
    finally spark.catalog.clearCache()
  }
}
