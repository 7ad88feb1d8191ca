package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types._

import graft.functions.GraftFunctions
import graft.model.{AttackResult, NetworkEvent}

/** Structured-Streaming re-expression of the reference Flink job
  * (flink-app/.../AnomalyDetection.java): JSON events in -> keyed CEP
  * fragmentation-attack detection -> JSON attack results out.
  *
  * Source/sink are pluggable DataFrames (Kafka, files, rate, MemoryStream —
  * anything readStream produces); this module owns serde + detection.
  */
object StreamingAnomaly {

  /** Wire schema (reference serde/JsonDeserializationSchema.java +
    * process/model/Event.java field annotations).
    */
  val eventSchema: StructType = StructType(Seq(
    StructField("event_type", StringType),
    StructField("ip_src", StringType),
    StructField("ip_dst", StringType),
    StructField("port_src", StringType),
    StructField("port_dst", StringType),
    StructField("ip_proto", StringType),
    StructField("timestamp_start", LongType),
    StructField("timestamp_end", LongType),
    StructField("packets", IntegerType),
    StructField("bytes", IntegerType),
    StructField("writer_id", StringType),
    StructField("text", StringType)))

  /** JSON lines -> typed events (bad records dropped, like the reference's
    * deserializer returning null on parse failure). A record is kept only
    * if it carries the key and every field `NetworkEvent` holds as a
    * primitive: a missing or non-numeric one would fail the whole query at
    * deserialization.
    *
    * Each line is parsed by `graft_from_json` ([[graft.functions.JsonBytesToStruct]]):
    * Spark's `from_json` parser, fed the line's UTF-8 bytes instead of a
    * per-record char reader, and returning the same rows. On a session
    * with graft's rules, `graft.plans.PruneJsonFields` narrows its schema
    * to the fields read downstream: under [[detectAttacks]] it converts
    * only the six `CepEvent` fields; a consumer of whole events keeps all
    * twelve.
    *
    * The columns come out of a generator rather than a `select("e.*")` over
    * a parsed struct: Catalyst pushes a filter on the struct's fields below
    * that Project and substitutes the alias, so the parse would run once
    * per conjunct plus once for the columns. A filter on a generator's
    * output stays above it, so each line is parsed once; for a line that
    * does not parse, `inline` yields an all-null row, which the filter
    * drops.
    */
  def parse(jsonLines: DataFrame): Dataset[NetworkEvent] = {
    val spark = jsonLines.sparkSession
    import spark.implicits._
    GraftFunctions.ensure(spark, "graft_from_json")
    jsonLines
      .select(inline(array(GraftFunctions.graftFromJson(col("value").cast(StringType), eventSchema))))
      .filter(Seq("ip_dst", "timestamp_start", "timestamp_end", "packets", "bytes")
        .map(col(_).isNotNull).reduce(_ && _))
      .as[NetworkEvent]
  }

  /** Attack results -> JSON lines (reference JsonSerializationSchema). */
  def toJson(results: Dataset[AttackResult]): DataFrame =
    results.select(to_json(struct(results.columns.toIndexedSeq.map(col): _*)).as("value"))

  // CEP parameters — the reference pattern (AnomalyDetection.java:126-132):
  // 10..30 events with packets < 10, then one with packets > 10, within 1 min.
  final case class CepParams(
      lowPackets: Int = 10,
      highPackets: Int = 10,
      minRun: Int = 10,
      maxRun: Int = 30,
      withinMs: Long = 60000L)

  /** The fields of an event the CEP fold reads. The detectors narrow their
    * input to these before the shuffle, so the exchange, the sort and the
    * decoding skip the payload text and the other unread columns.
    */
  final case class CepEvent(ip_src: String, ip_dst: String, timestamp_start: Long,
      timestamp_end: Long, packets: Int, bytes: Int)

  private val cepColumns: Seq[Column] =
    Encoders.product[CepEvent].schema.fieldNames.toSeq.map(col)

  /** One buffered fragment of the open run. */
  final case class Frag(startMs: Long, endMs: Long, size: Double, src: String)

  /** Per-key CEP state carried across micro-batches: the last <= maxRun
    * fragments of the open run (Flink's greedy times(min,max) +
    * skipPastLastEvent matches the LAST <= maxRun fragments of a longer
    * run, so a bounded ring buffer is exactly the state needed — O(maxRun)
    * per key).
    */
  final case class RunState(frags: Vector[Frag])

  /** Fold one event through the state machine; emits a result when a
    * high-packet event closes a qualifying run (reference semantics:
    * avg_fragment_size = mean(bytes/packets) over the matched fragments,
    * avg_packets = mean(packets) over the single "normal" event).
    */
  private def step(st: Option[RunState], e: CepEvent, p: CepParams)
      : (Option[RunState], Option[AttackResult]) = {
    if (e.packets < p.lowPackets) {
      val frag = Frag(e.timestamp_start, e.timestamp_end,
        e.bytes.toDouble / e.packets, e.ip_src)
      val next = st match {
        case Some(r) => r.copy(frags = (r.frags :+ frag).takeRight(p.maxRun))
        case None => RunState(Vector(frag))
      }
      (Some(next), None)
    } else if (e.packets > p.highPackets) {
      val res = st.collect {
        case r if r.frags.length >= p.minRun &&
          e.timestamp_start - r.frags.head.startMs <= p.withinMs =>
          val n = r.frags.length
          val avgFrag = r.frags.map(_.size).sum / n
          val avgPk = e.packets.toDouble
          AttackResult(r.frags.head.startMs, r.frags.last.endMs,
            r.frags.head.src, e.ip_dst, n.toLong, avgPk, avgFrag,
            (avgPk - avgFrag) / avgPk * 100)
      }
      (None, res) // skip-past-last-event: state always resets on a high event
    } else (st, None)
  }

  /** Streaming CEP via flatMapGroupsWithState keyed by ip_dst. Events within
    * a micro-batch arrive unordered — they are sorted by event time before
    * folding (the sort is bounded by the batch's per-key volume; the open
    * run itself is O(maxRun)). Only keys with an open fragment run keep a
    * state row: a key whose run closed or never opened has no state, which
    * `step` already reads as `None`. An open run whose key goes quiet is
    * dropped by an event-time timeout 10x the match window after its last
    * event, so state stays bounded by the open runs, not by the key space.
    */
  def detectAttacks(events: Dataset[NetworkEvent], p: CepParams = CepParams())
      : Dataset[AttackResult] = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .withColumn("event_time", timestamp_millis(col("timestamp_start")))
      .withWatermark("event_time", "2 minutes")
      .select(cepColumns :+ col("event_time"): _*) // the timeout needs the watermark column
      .as[CepEvent]
      .groupByKey(_.ip_dst)
      .flatMapGroupsWithState[RunState, AttackResult](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        case (_, it, state: GroupState[RunState]) =>
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            val sorted = it.toArray.sortBy(e => (e.timestamp_start, e.timestamp_end))
            var st = state.getOption
            val out = Seq.newBuilder[AttackResult]
            sorted.foreach { e =>
              val (ns, res) = step(st, e, p)
              st = ns
              res.foreach(out += _)
            }
            st match {
              case Some(r) =>
                state.update(r)
                state.setTimeoutTimestamp(sorted.last.timestamp_start + 10 * p.withinMs)
              case None => if (state.exists) state.remove()
            }
            out.result().iterator
          }
      }
  }

  /** Distributed batch replay with EXACT reference semantics at scale:
    * hash-repartition by key, sort within partitions by (key, time), then
    * one linear mapPartitions pass running the same `step` fold across key
    * boundaries. No window self-joins, no per-group materialization —
    * memory is O(maxRun) per open key, and the sort spills. This is the
    * one place composition genuinely can't express the semantics
    * (greedy times(min,max) + skip-past-last with run truncation), so
    * mapPartitions is warranted.
    */
  def detectAttacksBatchDs(events: Dataset[NetworkEvent], p: CepParams = CepParams())
      : Dataset[AttackResult] = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .select(cepColumns: _*)
      .as[CepEvent]
      .repartition(col("ip_dst"))
      .sortWithinPartitions(col("ip_dst"), col("timestamp_start"), col("timestamp_end"))
      .mapPartitions { it =>
        var curKey: String = null
        var st: Option[RunState] = None
        it.flatMap { e =>
          if (e.ip_dst != curKey) { curKey = e.ip_dst; st = None }
          val (ns, res) = step(st, e, p)
          st = ns
          res.iterator
        }
      }
  }

  /** Local batch replay of the same detection (identical `step` fold, so
    * local, distributed-batch and streaming agree by construction).
    */
  def detectAttacksBatch(events: Seq[NetworkEvent], p: CepParams = CepParams())
      : Seq[AttackResult] = {
    events.map(e => CepEvent(e.ip_src, e.ip_dst, e.timestamp_start, e.timestamp_end,
        e.packets, e.bytes)).groupBy(_.ip_dst).toSeq.flatMap { case (_, es) =>
      val sorted = es.sortBy(e => (e.timestamp_start, e.timestamp_end))
      var st: Option[RunState] = None
      val out = Seq.newBuilder[AttackResult]
      sorted.foreach { e =>
        val (ns, res) = step(st, e, p)
        st = ns
        res.foreach(out += _)
      }
      out.result()
    }
  }

  /** Exactly-once ingest semantics for at-least-once transports (the
    * reference's Kafka -> Firehose fan-out replays on retry): drop replayed
    * events by identity key within the watermark horizon. State is bounded
    * by the watermark, so this holds at stream scale.
    */
  def dedupStream(events: Dataset[NetworkEvent]): Dataset[NetworkEvent] = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .withColumn("event_time", timestamp_millis(col("timestamp_start")))
      .withWatermark("event_time", "2 minutes")
      .dropDuplicatesWithinWatermark("ip_src", "ip_dst", "timestamp_start", "writer_id")
      .drop("event_time")
      .as[NetworkEvent]
  }

  /** Model serving on the stream: the reference calls a SageMaker endpoint
    * per event (CallSageMakerTest.java); the Spark-first analog joins the
    * stream against a broadcast static score table (stream-static join —
    * no state, no per-event RPC, model refresh = replace the static side).
    * Events whose (key, feature) score exceeds `threshold` are flagged.
    */
  def scoreStream(events: Dataset[NetworkEvent], model: DataFrame,
      threshold: Double): DataFrame = {
    // model: (ip_dst, ip_proto, score) — higher = more anomalous
    events.join(broadcast(model), Seq("ip_dst", "ip_proto"), "left")
      .withColumn("score", coalesce(col("score"), lit(1.0))) // unseen pair = max anomaly
      .withColumn("flagged", col("score") >= threshold)
  }

  /** Stream-stream interval join — the streaming counterpart of the batch
    * range join `ev_attack_context`: each attack (from [[detectAttacks]]
    * or a replayed attack log) is enriched with the context events of the
    * SAME attacker ip whose event time falls in [attack_time - before,
    * attack_time + after]. Both inputs carry watermarks and the join
    * condition time-bounds each side against the other — exactly the two
    * things Spark needs to EXPIRE the join buffers: buffered rows age out
    * at watermark + range, so join state is bounded by rate x horizon,
    * never by stream length. Inner join, so matches emit in the
    * micro-batch that completes them (append mode).
    */
  def attackContextStream(attacks: Dataset[AttackResult],
      events: Dataset[NetworkEvent],
      before: String = "30 seconds", after: String = "30 seconds"): DataFrame = {
    val a = attacks.toDF()
      .withColumn("attack_time", timestamp_millis(col("attack_start_time")))
      .withWatermark("attack_time", "2 minutes")
      .select("attack_time", "attack_start_time", "attacker_id", "target_ip",
        "fragment_count")
    val e = events.toDF()
      .withColumn("event_time", timestamp_millis(col("timestamp_start")))
      .withWatermark("event_time", "2 minutes")
      .select("event_time", "ip_src", "ip_dst", "event_type", "packets", "bytes")
    a.join(e,
      col("attacker_id") === col("ip_src") &&
        col("event_time") >= col("attack_time") - expr(s"INTERVAL $before") &&
        col("event_time") <= col("attack_time") + expr(s"INTERVAL $after"))
      .select(col("attack_start_time"), col("attacker_id"), col("target_ip"),
        col("fragment_count"), col("event_time"), col("ip_dst"),
        col("event_type"), col("packets"), col("bytes"))
  }

  /** Session windows on the stream (gap-based, like EventOps.sessionize):
    * Spark's native session_window merges windows as events arrive; the
    * watermark closes and emits sessions.
    */
  def sessionCounts(events: Dataset[NetworkEvent], gap: String = "30 seconds"): DataFrame =
    events
      .withColumn("event_time", timestamp_millis(col("timestamp_start")))
      .withWatermark("event_time", "2 minutes")
      .groupBy(session_window(col("event_time"), gap), col("ip_dst"))
      .agg(count(lit(1)).as("n"), sum(col("bytes")).as("sum_bytes"))
      .select(col("session_window.start").as("s_start"),
        col("session_window.end").as("s_end"), col("ip_dst"), col("n"), col("sum_bytes"))

  /** Watermarked tumbling event-time aggregation (the streaming counterpart
    * of EventOps.tumblingHourly, at 1-minute granularity).
    */
  def tumblingCounts(events: Dataset[NetworkEvent]): DataFrame =
    events
      .withColumn("event_time", timestamp_millis(col("timestamp_start")))
      .withWatermark("event_time", "2 minutes")
      .groupBy(window(col("event_time"), "1 minute"), col("ip_proto"))
      .agg(count(lit(1)).as("n"), sum(col("bytes")).as("sum_bytes"))
      .select(col("window.start").as("wstart"), col("ip_proto"), col("n"), col("sum_bytes"))
}
