package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.Encoders
import org.apache.spark.sql.functions._

import graft.model.{AttackResult, NetworkEvent}
import graft.sources.EventGen
import graft.streaming.StreamingAnomaly

class StreamingSpec extends SparkSpecBase {
  import spark.implicits._

  private val events = EventGen.stream(seed = 1, n = 1000, burstLen = 15, attackEvery = 200)
  private val expectedAttacks = StreamingAnomaly.detectAttacksBatch(events)

  test("generator plants detectable attacks; batch fold finds all 5 bursts") {
    assert(expectedAttacks.length == 5, s"got ${expectedAttacks.length}")
    expectedAttacks.foreach { a =>
      assert(a.fragment_count == 15)
      assert(a.avg_fragment_size < 64.0)
      assert(a.size_reduction_percent > 50.0)
    }
  }

  test("streaming CEP over MemoryStream matches the batch fold") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[String]
    val parsed = StreamingAnomaly.parse(mem.toDF())
    val results = StreamingAnomaly.detectAttacks(parsed)
    val query = StreamingAnomaly.toJson(results).writeStream
      .format("memory").queryName("attacks_out").outputMode("append").start()
    try {
      val json = events.map { e =>
        Seq(
          s""""event_type":"${e.event_type}"""",
          s""""ip_src":"${e.ip_src}"""",
          s""""ip_dst":"${e.ip_dst}"""",
          s""""port_src":"${e.port_src}"""",
          s""""port_dst":"${e.port_dst}"""",
          s""""ip_proto":"${e.ip_proto}"""",
          s""""timestamp_start":${e.timestamp_start}""",
          s""""timestamp_end":${e.timestamp_end}""",
          s""""packets":${e.packets}""",
          s""""bytes":${e.bytes}""",
          s""""writer_id":"${e.writer_id}"""",
          s""""text":"${e.text.replace("\\", "\\\\").replace("\"", "\\\"")}""""
        ).mkString("{", ",", "}")
      }
      // two micro-batches to exercise cross-batch state carry-over
      val (b1, b2) = json.splitAt(json.length / 2)
      mem.addData(b1)
      query.processAllAvailable()
      mem.addData(b2)
      query.processAllAvailable()
      val got = spark.table("attacks_out")
        .select(from_json(col("value"), spark.range(1).select(
          lit(0L).as("attack_start_time"), lit(0L).as("attack_end_time"),
          lit("").as("attacker_id"), lit("").as("target_ip"),
          lit(0L).as("fragment_count"), lit(0.0).as("avg_packets"),
          lit(0.0).as("avg_fragment_size"), lit(0.0).as("size_reduction_percent")
        ).schema).as("r"))
        .select("r.*").collect()
      assert(got.length == expectedAttacks.length,
        s"streaming found ${got.length}, batch found ${expectedAttacks.length}")
      val gotKeys = got.map(r =>
        (r.getAs[Long]("attack_start_time"), r.getAs[String]("target_ip"),
          r.getAs[Long]("fragment_count"))).toSet
      val expKeys = expectedAttacks.map(a =>
        (a.attack_start_time, a.target_ip, a.fragment_count)).toSet
      assert(gotKeys == expKeys)
    } finally query.stop()
  }

  test("watermarked tumbling aggregation emits finalized windows") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[NetworkEvent]
    val agg = StreamingAnomaly.tumblingCounts(mem.toDS())
    val query = agg.writeStream
      .format("memory").queryName("tumbling_out").outputMode("append").start()
    try {
      // ~7 min of traffic so the 2-min watermark finalizes early windows
      val long = EventGen.stream(seed = 2, n = 4000, attackEvery = 0)
      mem.addData(long.take(3000))
      query.processAllAvailable()
      mem.addData(long.drop(3000))
      query.processAllAvailable()
      assert(spark.table("tumbling_out").count() > 0)
    } finally query.stop()
  }

  test("distributed batch CEP (sorted mapPartitions) matches the local fold") {
    val ds = spark.createDataset(events)(implicitly)
    val got = StreamingAnomaly.detectAttacksBatchDs(ds).collect()
      .map(a => (a.attack_start_time, a.target_ip, a.fragment_count)).toSet
    val exp = expectedAttacks
      .map(a => (a.attack_start_time, a.target_ip, a.fragment_count)).toSet
    assert(got == exp)
  }

  test("long runs match the LAST maxRun fragments (Flink greedy + skip-past-last)") {
    val long = EventGen.stream(seed = 3, n = 400, burstLen = 45, attackEvery = 200)
    val res = StreamingAnomaly.detectAttacksBatch(long)
    assert(res.nonEmpty)
    assert(res.forall(_.fragment_count == 30), res.map(_.fragment_count).toString)
    // and runs shorter than minRun never match
    val tiny = EventGen.stream(seed = 4, n = 400, burstLen = 5, attackEvery = 200)
    assert(StreamingAnomaly.detectAttacksBatch(tiny).isEmpty)
  }

  test("session windows close after the gap + watermark") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[NetworkEvent]
    val agg = StreamingAnomaly.sessionCounts(mem.toDS(), gap = "5 seconds")
    val query = agg.writeStream
      .format("memory").queryName("session_out").outputMode("append").start()
    try {
      val long = EventGen.stream(seed = 5, n = 4000, attackEvery = 0)
      mem.addData(long.take(3000))
      query.processAllAvailable()
      mem.addData(long.drop(3000))
      query.processAllAvailable()
      val rows = spark.table("session_out").collect()
      assert(rows.nonEmpty)
      // session invariant: end - start >= gap floor, n >= 1
      assert(rows.forall(_.getAs[Long]("n") >= 1))
    } finally query.stop()
  }

  test("dedupStream drops replayed events within the watermark") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[NetworkEvent]
    val deduped = StreamingAnomaly.dedupStream(mem.toDS())
    val query = deduped.writeStream
      .format("memory").queryName("dedup_out").outputMode("append").start()
    try {
      val base = events.take(50)
      mem.addData(base ++ base.take(20)) // 20 replays in the same batch
      query.processAllAvailable()
      mem.addData(base.take(10))         // replays in a later batch
      query.processAllAvailable()
      assert(spark.table("dedup_out").count() == 50)
    } finally query.stop()
  }

  test("stream-static model scoring flags unseen key pairs") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[NetworkEvent]
    // "trained" model: every (ip_dst, ip_proto) seen in the first 500
    // events is benign (0.0); anything else defaults to 1.0
    val model = spark.createDataset(events.take(500))(implicitly)
      .select(col("ip_dst"), col("ip_proto")).distinct()
      .withColumn("score", lit(0.0))
    val scored = StreamingAnomaly.scoreStream(mem.toDS(), model, threshold = 0.5)
    val query = scored.writeStream
      .format("memory").queryName("scored_out").outputMode("append").start()
    try {
      mem.addData(events.take(500))
      mem.addData(events.takeRight(100))
      query.processAllAvailable()
      val out = spark.table("scored_out")
      assert(out.count() == 600)
      val flaggedKnown = out.filter(col("flagged") && col("score") === 0.0).count()
      assert(flaggedKnown == 0)
      assert(out.filter(col("flagged")).count() > 0,
        "later traffic contains unseen (dst, proto) pairs")
    } finally query.stop()
  }

  test("trained ALS scorer serves the stream: rare/unseen associations flagged, frequent pass") {
    implicit val sqlCtx = spark.sqlContext
    // history: users 1..4 pair heavily with TCP (20x each); user 1 pairs
    // with UDP exactly once — the rare association the trained model must
    // rank anomalous (the reference scores each event against its trained
    // IPInsights endpoint; here the trained ev_ipinsights_score table IS
    // the model the stream joins against)
    val hist = (for { u <- 1L to 4L; _ <- 1 to 20 } yield (u, "TCP")) ++ Seq((1L, "UDP"))
    val als = graft.operators.EventOps.ipinsightsScoreOn(
      hist.toDF("user_id", "event_type"))
    // serving form: invert affinity to an anomaly score in [0,1] (1 = the
    // weakest observed association); unseen pairs default to 1.0 inside
    // scoreStream
    val b = als.agg(min(col("score")).as("lo"), max(col("score")).as("hi")).head()
    val (lo, hi) = (b.getDouble(0), b.getDouble(1))
    val model = als.select(
      concat(lit("10.0.0."), col("user_id")).as("ip_dst"),
      col("event_type").as("ip_proto"),
      ((lit(hi) - col("score")) / lit(hi - lo)).as("score"))
    val mem = MemoryStream[NetworkEvent]
    val scored = StreamingAnomaly.scoreStream(mem.toDS(), model, threshold = 0.9)
    val query = scored.writeStream
      .format("memory").queryName("als_scored").outputMode("append").start()
    try {
      def ev(dst: String, proto: String) = NetworkEvent(
        "netflow", "192.168.0.1", dst, "1", "2", proto, 1000L, 1001L, 50, 500, "w0", "t")
      mem.addData(Seq(
        ev("10.0.0.1", "TCP"),  // frequent association -> benign
        ev("10.0.0.1", "UDP"),  // planted rare association -> anomalous
        ev("10.0.0.9", "TCP"))) // unseen entity -> max anomaly
      query.processAllAvailable()
      val out = spark.table("als_scored").collect()
      assert(out.length == 3)
      def rowFor(dst: String, proto: String) = out.find(r =>
        r.getAs[String]("ip_dst") == dst && r.getAs[String]("ip_proto") == proto).get
      val freq = rowFor("10.0.0.1", "TCP")
      val rare = rowFor("10.0.0.1", "UDP")
      val unseen = rowFor("10.0.0.9", "TCP")
      assert(unseen.getAs[Boolean]("flagged") && unseen.getAs[Double]("score") == 1.0)
      assert(rare.getAs[Boolean]("flagged"),
        s"rare association score ${rare.getAs[Double]("score")} should flag at 0.9")
      assert(!freq.getAs[Boolean]("flagged"),
        s"frequent association score ${freq.getAs[Double]("score")} must pass")
    } finally query.stop()
  }

  test("streaming near-dup probe flags stream docs against the stored band index") {
    implicit val sqlCtx = spark.sqlContext
    val docs = graft.sources.Tables.t(spark, sf0001, "documents")
    val corpus = docs.filter(col("doc_id") % 5 =!= 0)
    val idx = java.nio.file.Files.createTempDirectory("graft-smh").toString + "/mh"
    graft.operators.DedupOps.writeMinHashIndex(corpus, idx)
    val mem = MemoryStream[(Long, String, java.sql.Timestamp)]
    val stream = mem.toDF().toDF("doc_id", "text", "ts")
    // caller-owned index caches (released in finally)
    val (bands, sigs) = graft.streaming.StreamingDedup.prepareNearDupIndex(spark, idx)
    val out = graft.streaming.StreamingDedup.nearDupStream(
      stream, bands, sigs, "10 minutes", 0.7, broadcastBands = true)
    val query = out.writeStream
      .format("memory").queryName("neardup_out").outputMode("append").start()
    try {
      // clones of corpus docs (guaranteed jaccard 1.0 against their
      // original) plus one novel doc that must not surface
      val clones = corpus.filter(col("doc_id") < 20)
        .select("doc_id", "text").as[(Long, String)].collect().toSeq
      val now = new java.sql.Timestamp(1700000000000L)
      mem.addData(clones.map { case (id, t) => (id + 500000L, t, now) } :+
        ((999999L, "utterly novel text that matches nothing in the corpus at all", now)))
      query.processAllAvailable()
      val rows = spark.table("neardup_out").collect()
      val selfHits = rows.filter(r =>
        r.getAs[Long]("corpus_doc") == r.getAs[Long]("doc_id") - 500000L)
      assert(selfHits.nonEmpty, "clones must surface their corpus originals")
      assert(selfHits.forall(_.getAs[Double]("jaccard") == 1.0))
      assert(!rows.exists(_.getAs[Long]("doc_id") == 999999L),
        "novel doc must not be flagged")
      // pair dedup: several bands surface the same (doc, corpus_doc) once
      val keys = rows.map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("corpus_doc")))
      assert(keys.distinct.length == keys.length, "pairs must be deduped")
    } finally {
      query.stop()
      bands.unpersist(); sigs.unpersist()
    }
  }

  test("refreshing near-dup index: an append mid-stream is probed by the next micro-batch") {
    implicit val sqlCtx = spark.sqlContext
    val docs = graft.sources.Tables.t(spark, sf0001, "documents")
    val corpus = docs.filter(col("doc_id") % 5 =!= 0)
    val idx = java.nio.file.Files.createTempDirectory("graft-rmh").toString + "/mh"
    graft.operators.DedupOps.writeMinHashIndex(corpus, idx)

    // a doc the index has NOT seen yet (appended mid-stream below) —
    // synthetic text, so it cannot near-dup any planted corpus cluster
    val lateId = 777777L
    val lateText = "orbital marmalade synthesizer quietly debates the " +
      "crystalline aqueduct while seventeen improbable walruses audit the " +
      "lighthouse ledger beneath a tangerine monsoon of punctual geometry"
    val (seenId, seenText) = corpus
      .select("doc_id", "text").as[(Long, String)].head()

    val index = graft.streaming.StreamingDedup.NearDupIndex(spark, idx)
    val hitQ = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long, Double)]
    def hits: Seq[(Long, Long, Double)] = {
      import scala.jdk.CollectionConverters._
      hitQ.iterator().asScala.toSeq
    }
    val mem = MemoryStream[(Long, String, java.sql.Timestamp)]
    val q = mem.toDF().toDF("doc_id", "text", "ts").writeStream
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        index.probe(b, 0.7, broadcastBands = true)
          .as[(Long, Long, Double)](implicitly).collect().foreach(hitQ.add)
      }.start()
    try {
      val now = new java.sql.Timestamp(1700000000000L)
      // batch 1: a clone of an indexed doc hits; a clone of the
      // not-yet-appended doc cannot
      mem.addData((600001L, seenText, now), (600002L, lateText, now))
      q.processAllAvailable()
      assert(hits.exists(h => h._1 == 600001L && h._2 == seenId))
      assert(!hits.exists(_._1 == 600002L),
        "doc absent from the index must not hit yet")

      // the ingest loop appends the late doc WHILE the stream is live...
      graft.operators.DedupOps.appendToMinHashIndex(
        Seq((lateId, lateText)).toDF("doc_id", "text"), idx)
      // ...and the very next micro-batch probes the grown corpus
      mem.addData((600003L, lateText, now))
      q.processAllAvailable()
      assert(hits.exists(h => h._1 == 600003L && h._2 == lateId && h._3 == 1.0),
        s"post-append clone must hit the appended doc, got $hits")

      // ...and an index-side REMOVAL (takedown propagated by
      // removeFromMinHashIndex) is seen the same way: the swap changes
      // the directory signature, the next probe reloads, and the removed
      // doc stops matching
      graft.operators.DedupOps.removeFromMinHashIndex(
        spark, idx, Seq(seenId).toDF("doc_id"))
      mem.addData((600004L, seenText, now))
      q.processAllAvailable()
      assert(!hits.exists(h => h._1 == 600004L && h._2 == seenId),
        s"removed doc must stop matching, got ${hits.filter(_._1 == 600004L)}")
    } finally { q.stop(); index.close() }
  }

  private def toWireJson(es: Seq[NetworkEvent]): Seq[String] = es.map { e =>
    Seq(
      s""""event_type":"${e.event_type}"""", s""""ip_src":"${e.ip_src}"""",
      s""""ip_dst":"${e.ip_dst}"""", s""""port_src":"${e.port_src}"""",
      s""""port_dst":"${e.port_dst}"""", s""""ip_proto":"${e.ip_proto}"""",
      s""""timestamp_start":${e.timestamp_start}""",
      s""""timestamp_end":${e.timestamp_end}""",
      s""""packets":${e.packets}""", s""""bytes":${e.bytes}""",
      s""""writer_id":"${e.writer_id}"""",
      s""""text":"${e.text.replace("\\", "\\\\").replace("\"", "\\\"")}""""
    ).mkString("{", ",", "}")
  }

  test("kafka frame contract: asKafkaFrames matches the connector's schema") {
    val frames = graft.streaming.KafkaIO.asKafkaFrames(
      Seq("x").toDF("value"), "telemetry")
    val got = frames.schema.fields.map(f => (f.name, f.dataType))
    val want = graft.streaming.KafkaIO.kafkaFrameSchema.fields.map(f => (f.name, f.dataType))
    assert(got.toSeq == want.toSeq)
  }

  test("CEP pipeline over kafka-shaped frames: source serde + keyed sink frames") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[String]
    val frames = graft.streaming.KafkaIO.asKafkaFrames(mem.toDF(), "telemetry")
    val attacks = StreamingAnomaly.detectAttacks(
      graft.streaming.KafkaIO.fromKafkaFrames(frames))
    val sinkFrames = graft.streaming.KafkaIO.toKafkaFrames(attacks)
    val query = sinkFrames.writeStream
      .format("memory").queryName("kafka_out").outputMode("append").start()
    try {
      val (b1, b2) = toWireJson(events).splitAt(events.length / 2)
      mem.addData(b1); query.processAllAvailable()
      mem.addData(b2); query.processAllAvailable()
      val out = spark.table("kafka_out").collect()
      assert(out.length == expectedAttacks.length)
      // sink frames carry (key = target_ip, value = full-result JSON)
      val keys = out.map(_.getAs[String]("key")).toSet
      assert(keys == expectedAttacks.map(_.target_ip).toSet)
      val parsed = spark.table("kafka_out")
        .select(get_json_object(col("value"), "$.target_ip").as("t"),
          get_json_object(col("value"), "$.fragment_count").cast("long").as("fc"))
        .collect()
      assert(parsed.map(r => (r.getString(0), r.getLong(1))).toSet ==
        expectedAttacks.map(a => (a.target_ip, a.fragment_count)).toSet)
    } finally query.stop()
  }

  test("kafka reader/writer guard throws clearly when the connector jar is absent") {
    if (!graft.streaming.KafkaIO.kafkaAvailable) {
      val e = intercept[IllegalStateException] {
        graft.streaming.KafkaIO.readStreamKafka(spark, "broker:9092", "t")
      }
      assert(e.getMessage.contains("spark-sql-kafka"))
    } else {
      // connector present: the reader must at least build a streaming plan
      assert(graft.streaming.KafkaIO
        .readStreamKafka(spark, "broker:9092", "t").isStreaming)
    }
  }

  test("firehose-style fan-out: both sinks receive identical batch content, idempotently") {
    implicit val sqlCtx = spark.sqlContext
    val base = java.nio.file.Files.createTempDirectory("graft-fanout").toString
    val (pq, js, ck) = (s"$base/pq", s"$base/js", s"$base/ck")
    val mem = MemoryStream[NetworkEvent]
    val query = graft.streaming.FanOut.dualSink(
      mem.toDS().toDF(), pq, js, ck)
    try {
      mem.addData(events.take(100)); query.processAllAvailable()
      mem.addData(events.slice(100, 250)); query.processAllAvailable()
    } finally query.stop()
    def keys(df: org.apache.spark.sql.DataFrame) = df
      .select("ip_src", "ip_dst", "timestamp_start", "writer_id")
      .as[(String, String, Long, String)].collect().toSet
    val fromPq = spark.read.parquet(pq)
    val fromJs = spark.read.json(js)
    assert(fromPq.count() == 250 && fromJs.count() == 250)
    assert(keys(fromPq) == keys(fromJs), "sinks diverged")
    // replayed batch (e.g. recovery reruns batch 0) must overwrite, not append
    val replay = spark.createDataset(events.take(100)).toDF()
    graft.streaming.FanOut.writeBatch(pq, js)(replay, 0L)
    assert(spark.read.parquet(pq).count() == 250)
    assert(spark.read.json(js).count() == 250)
  }

  test("checkpoint recovery: restart mid-stream loses and duplicates nothing") {
    // file source is replayable, so a stopped query restarted on the SAME
    // checkpoint must resume from recorded offsets: attacks found across
    // the two runs together == the batch fold over all events, exactly once.
    val base = java.nio.file.Files.createTempDirectory("graft-recover").toString
    val (in, out, ck) = (s"$base/in", s"$base/out", s"$base/ck")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(in))
    val (half1, half2) = toWireJson(events).splitAt(events.length / 2)
    def writeFile(name: String, lines: Seq[String]): Unit =
      java.nio.file.Files.write(java.nio.file.Paths.get(in, name),
        lines.mkString("\n").getBytes("UTF-8"))
    def runOnce(): Unit = {
      val lines = spark.readStream.format("text").load(in)
      val attacks = StreamingAnomaly.detectAttacks(StreamingAnomaly.parse(lines))
      val q = attacks.writeStream.format("json")
        .option("path", out).option("checkpointLocation", ck)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    writeFile("part1.jsonl", half1)
    runOnce() // run 1: first half, then the query stops (simulated failure)
    writeFile("part2.jsonl", half2)
    runOnce() // run 2: same checkpoint — must process ONLY the new file
    val got = spark.read.json(out)
      .select("attack_start_time", "target_ip", "fragment_count")
      .as[(Long, String, Long)].collect()
    val exp = expectedAttacks
      .map(a => (a.attack_start_time, a.target_ip, a.fragment_count))
    assert(got.sorted.toSeq == exp.sorted.toSeq,
      s"recovery must be exactly-once: got ${got.length}, expected ${exp.length}")
  }

  test("detectAttacks restarts from its checkpoint mid-run: alerts == the batch fold, exactly") {
    // Two stops, each cutting an attack burst between its fragments, so the
    // open run must survive the checkpoint written by graft's manager.
    val base = java.nio.file.Files.createTempDirectory("graft-restart").toString
    val (in, out, ck) = (s"$base/in", s"$base/out", s"$base/ck")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(in))
    val resolved = org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager
      .create(new org.apache.hadoop.fs.Path(s"file:$ck"), spark.sessionState.newHadoopConf())
    assert(resolved.isInstanceOf[graft.streaming.GraftCheckpointFileManager])
    // bursts open at output positions 200, 416, 632 and 848 (EventGen.stream)
    val wire = toWireJson(events)
    val parts = Seq(wire.slice(0, 208), wire.slice(208, 640), wire.drop(640))
    parts.zipWithIndex.foreach { case (lines, i) =>
      java.nio.file.Files.write(java.nio.file.Paths.get(in, s"part$i.jsonl"),
        lines.mkString("\n").getBytes("UTF-8"))
      val q = StreamingAnomaly.detectAttacks(StreamingAnomaly.parse(
          spark.readStream.format("text").load(in)))
        .writeStream.format("json")
        .option("path", out).option("checkpointLocation", ck)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    val got = spark.read.schema(Encoders.product[AttackResult].schema).json(out)
      .as[AttackResult].collect().toSeq
    val order = (a: AttackResult) => (a.attack_start_time, a.target_ip)
    assert(got.sortBy(order) == expectedAttacks.sortBy(order))
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(ck, "commits", ".2.crc")))
  }

  test("detectAttacks resumes a checkpoint written when its fold shuffled whole events") {
    // checkpoints/detect-attacks-wide-rows is this spec's first 208 wire
    // events run through a MemoryStream (4 shuffle partitions) by the
    // detectAttacks that grouped whole NetworkEvent rows. The cut falls
    // inside the burst that opens at 200, so the alert closing that burst
    // needs the open run restored from that state.
    import java.nio.file.{Files, Paths}
    implicit val sqlCtx = spark.sqlContext
    val fixture = Paths.get(getClass.getResource("/checkpoints/detect-attacks-wide-rows").toURI)
    val ck = Files.createTempDirectory("graft-wide-ck")
    Files.walk(fixture).forEach { f =>
      val to = ck.resolve(fixture.relativize(f).toString)
      if (Files.isDirectory(f)) Files.createDirectories(to) else Files.copy(f, to)
    }
    val wire = toWireJson(events)
    val mem = MemoryStream[String]
    // the source replays from its start; the block the checkpoint committed
    // (offset 0) must be skipped, only the rest is new
    mem.addData(wire.take(208))
    mem.addData(wire.drop(208))
    val got = scala.collection.mutable.ArrayBuffer.empty[(Long, Seq[AttackResult])]
    val q = StreamingAnomaly.detectAttacks(StreamingAnomaly.parse(mem.toDF()))
      .writeStream.option("checkpointLocation", ck.toString)
      .foreachBatch { (ds: org.apache.spark.sql.Dataset[AttackResult], id: Long) =>
        got.synchronized { got += id -> ds.collect().toSeq }; ()
      }
      .start()
    try q.processAllAvailable() finally q.stop()
    assert(got.map(_._1).min == 2, s"resumed at batch ${got.map(_._1).min}, not after the checkpoint")
    val order = (a: AttackResult) => (a.attack_start_time, a.target_ip)
    assert(got.flatMap(_._2).sortBy(order) == expectedAttacks.sortBy(order))
  }

  test("detectAttacks keeps state only for keys with an open fragment run") {
    implicit val sqlCtx = spark.sqlContext
    // ~2,000 distinct background keys (never a fragment), the spec's
    // closed bursts, and k runs left open at the end of the stream
    val background = EventGen.stream(seed = 7, n = 2000, burstLen = 15, attackEvery = 400)
    val last = background.map(_.timestamp_end).max
    val k = 6
    val open = (0 until k).flatMap { t =>
      (0 until 3).map(f => background.head.copy(ip_src = "192.168.9.9",
        ip_dst = s"10.99.0.$t", timestamp_start = last + 10 * (3 * t + f),
        timestamp_end = last + 10 * (3 * t + f) + 5, packets = 1, bytes = 40))
    }
    val all = background ++ open
    val mem = MemoryStream[String]
    val q = StreamingAnomaly.detectAttacks(StreamingAnomaly.parse(mem.toDF()))
      .writeStream.format("memory").queryName("attacks_bounded").outputMode("append").start()
    try {
      val (b1, b2) = toWireJson(all).splitAt(all.length / 2)
      mem.addData(b1); q.processAllAvailable()
      mem.addData(b2); q.processAllAvailable()
      assert(all.map(_.ip_dst).distinct.length > 1000)
      assert(q.lastProgress.stateOperators(0).numRowsTotal == k)
      val got = spark.table("attacks_bounded").as[AttackResult].collect().toSeq
      val order = (a: AttackResult) => (a.attack_start_time, a.target_ip)
      val exp = StreamingAnomaly.detectAttacksBatch(all)
      assert(exp.nonEmpty)
      assert(got.sortBy(order) == exp.sortBy(order))
    } finally q.stop()
  }

  test("CEP state on RocksDB store: identical results, rocksdb metrics live") {
    import scala.jdk.CollectionConverters._
    import graft.streaming.Soak
    implicit val sqlCtx = spark.sqlContext
    val providerKey = "spark.sql.streaming.stateStore.providerClass"
    val changelogKey =
      "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled"
    val prevP = spark.conf.getOption(providerKey)
    val prevC = spark.conf.getOption(changelogKey)
    spark.conf.set(providerKey, Soak.RocksDbProvider)
    spark.conf.set(changelogKey, "true")
    try {
      val mem = MemoryStream[String]
      val results = StreamingAnomaly.detectAttacks(StreamingAnomaly.parse(mem.toDF()))
      val q = results.writeStream.format("memory")
        .queryName("attacks_rocks").outputMode("append").start()
      try {
        val (b1, b2) = toWireJson(events).splitAt(events.length / 2)
        mem.addData(b1); q.processAllAvailable()
        mem.addData(b2); q.processAllAvailable()
        // the provider conf really took: the state operator reports rocksdb
        // custom metrics (sst sizes, memtable stats), which the HDFS store
        // never emits
        val custom = q.lastProgress.stateOperators.head.customMetrics
          .keySet.asScala
        assert(custom.exists(_.toLowerCase.contains("rocksdb")),
          s"expected rocksdb metrics, got: $custom")
        val got = spark.table("attacks_rocks")
          .select("attack_start_time", "target_ip", "fragment_count")
          .as[(Long, String, Long)].collect()
        val exp = expectedAttacks
          .map(a => (a.attack_start_time, a.target_ip, a.fragment_count))
        assert(got.sorted.toSeq == exp.sorted.toSeq,
          s"rocksdb store changed results: got ${got.length}, expected ${exp.length}")
      } finally q.stop()
    } finally {
      def restore(k: String, prev: Option[String]): Unit = prev match {
        case Some(v) => spark.conf.set(k, v)
        case None => spark.conf.unset(k)
      }
      restore(providerKey, prevP)
      restore(changelogKey, prevC)
    }
  }

  test("serde roundtrip: toJson then parse is identity") {
    val ds = spark.createDataset(events.take(200))(implicitly)
    val json = StreamingAnomaly.toJson(
      ds.map(e => graft.model.AttackResult(1L, 2L, e.ip_src, e.ip_dst, 3L, 4.0, 5.0, 6.0)))
    // roundtrip the event stream itself through its wire format
    val wire = ds.toDF().select(to_json(struct(ds.toDF().columns.map(col): _*)).as("value"))
    val back = StreamingAnomaly.parse(wire).collect().sortBy(_.timestamp_start)
    val orig = events.take(200).sortBy(_.timestamp_start)
    assert(back.length == orig.length)
    assert(back.toSeq == orig.toSeq)
    assert(json.count() == 200)
  }

  test("parse drops malformed json lines") {
    val good = """{"event_type":"GET","ip_src":"1.2.3.4","ip_dst":"5.6.7.8","port_src":"80","port_dst":"443","ip_proto":"TCP","timestamp_start":1000,"timestamp_end":2000,"packets":5,"bytes":100,"writer_id":"w","text":"t"}"""
    // a key without the numeric fields, and a non-numeric packets count:
    // both would fail the query when decoded into NetworkEvent's primitives
    val noCounts = """{"ip_dst":"9.9.9.9"}"""
    val badPackets = good.replace("\"packets\":5", "\"packets\":\"x\"")
    val df = Seq(good, "not json at all", "{}", noCounts, badPackets, "[1,2]", "null")
      .toDF("value")
    val parsed = StreamingAnomaly.parse(df).collect()
    assert(parsed.length == 1)
    assert(parsed(0).ip_dst == "5.6.7.8")
  }

  test("parse evaluates from_json once per line") {
    // a filter over a parsed struct's alias is pushed below the Project and
    // re-parses the line once per conjunct; the generator shape keeps one
    val parsed = StreamingAnomaly.parse(toWireJson(events.take(10)).toDF("value"))
    val parses = parsed.queryExecution.optimizedPlan.flatMap(_.expressions
      .flatMap(_.collect { case j: graft.functions.JsonBytesToStruct => j }))
    assert(parses.length == 1, parsed.queryExecution.optimizedPlan.treeString)
  }

  test("detectAttacks shuffles only the CEP fields and the event time") {
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[String]
    val q = StreamingAnomaly.detectAttacks(StreamingAnomaly.parse(mem.toDF()))
      .writeStream.format("memory").queryName("attacks_narrow").outputMode("append").start()
    try {
      mem.addData(toWireJson(events.take(300))); q.processAllAvailable()
      val plan = q.asInstanceOf[StreamingQueryWrapper].streamingQuery.lastExecution.executedPlan
      val shuffles = plan.collect { case x: ShuffleExchangeExec => x }
      assert(shuffles.length == 1, plan.treeString)
      // groupByKey appends the grouping key as a column of its own, the
      // exchange's partitioning; every other column is the fold's input
      val key = shuffles.head.outputPartitioning.asInstanceOf[HashPartitioning].references
      val cols = shuffles.head.output.filterNot(key.contains).map(_.name).toSet
      assert(cols == Set("ip_src", "ip_dst", "timestamp_start", "timestamp_end",
        "packets", "bytes", "event_time"), plan.treeString)
    } finally q.stop()
  }

  test("streaming ingest dedup drops corpus dups and in-stream replays") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, java.sql.Timestamp, String)]
    val corpusFps = Seq("already ingested text")
      .toDF("text").select(md5(lower(col("text"))).as("fp"))
    val docs = mem.toDF().toDF("doc_id", "ts", "text")
    val out = graft.streaming.StreamingDedup.dedupStream(docs, corpusFps)
    val q = out.writeStream
      .format("memory").queryName("dedup_out").outputMode("append").start()
    try {
      def ts(m: Int) = java.sql.Timestamp.valueOf(f"2026-01-01 10:$m%02d:00")
      mem.addData(
        (1L, ts(0), "already ingested text"),  // corpus dup -> dropped
        (2L, ts(1), "fresh doc one"),          // kept
        (3L, ts(2), "fresh doc one"),          // in-stream replay -> dropped
        (4L, ts(3), "fresh doc two"))          // kept
      q.processAllAvailable()
      // a second micro-batch replaying an fp inside the watermark horizon
      mem.addData((5L, ts(4), "FRESH DOC ONE")) // normalized replay -> dropped
      q.processAllAvailable()
      val kept = spark.table("dedup_out").select("doc_id")
        .as[Long].collect().sorted.toSeq
      assert(kept == Seq(2L, 4L),
        s"expected only first-seen novel docs, got $kept")
    } finally q.stop()
  }

  test("stream-stream interval join enriches attacks with in-range context") {
    import graft.model.AttackResult
    implicit val sqlCtx = spark.sqlContext
    val attackMem = MemoryStream[AttackResult]
    val eventMem = MemoryStream[NetworkEvent]
    val joined = StreamingAnomaly.attackContextStream(
      attackMem.toDS(), eventMem.toDS())
    val q = joined.writeStream
      .format("memory").queryName("ctx_out").outputMode("append").start()
    def ev(ip: String, ts: Long) = NetworkEvent("flow", ip, "192.168.0.9",
      "1234", "80", "udp", ts, ts + 10, 3, 900, "w1", "ctx")
    try {
      val t0 = 100000L
      attackMem.addData(AttackResult(t0, t0 + 5000, "10.0.0.1", "192.168.0.9",
        15, 3.0, 50.0, 60.0))
      eventMem.addData(
        ev("10.0.0.1", t0 - 20000), // in range (20 s before)
        ev("10.0.0.1", t0 + 25000), // in range (25 s after)
        ev("10.0.0.1", t0 + 90000), // out of range (90 s after)
        ev("10.0.0.7", t0))         // other ip -> no match
      q.processAllAvailable()
      val got = spark.table("ctx_out")
        .select("attacker_id", "event_time").collect()
        .map(r => (r.getString(0), r.getTimestamp(1).getTime)).sorted.toSeq
      assert(got == Seq(("10.0.0.1", t0 - 20000), ("10.0.0.1", t0 + 25000)),
        s"expected exactly the two in-range same-ip events, got $got")
    } finally q.stop()
  }

  test("trained NB model classifies a live document stream statelessly") {
    implicit val sqlCtx = spark.sqlContext
    // train on a tiny planted-vocabulary batch corpus...
    val mk = Map("aa" -> "zork", "bb" -> "quux")
    val train = (0 until 40).map { i =>
      val cls = Seq("aa", "bb")(i % 2)
      (i.toLong, cls, s"common word filler ${mk(cls)} common word")
    }.toDF("doc_id", "lang", "text")
    val model = operators.TextOps.nbFit(spark, train, Seq("aa", "bb"))
    // ...then serve it over a MemoryStream: same columns, stateless map
    val mem = MemoryStream[(Long, String, String)]
    val scored = operators.TextOps.nbApply(
      mem.toDF().toDF("doc_id", "lang", "text"), model)
    val q = scored.writeStream.format("memory").queryName("nb_out")
      .outputMode("append").start()
    try {
      mem.addData((100L, "?", "filler zork word"), (101L, "?", "quux filler"))
      q.processAllAvailable()
      mem.addData((102L, "?", "word quux common"))
      q.processAllAvailable()
      val got = spark.table("nb_out").select("doc_id", "pred_lang")
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(got == Map(100L -> "aa", 101L -> "bb", 102L -> "bb"), s"got $got")
    } finally q.stop()
  }

  test("cusumStream: stream replay matches the batch CUSUM breach-for-breach") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.streaming.StreamingDrift
    import graft.streaming.StreamingDrift.{Breach, DriftEvent}
    val ev = graft.sources.Tables.t(spark, sf0001, "events")
    val baseline = StreamingDrift.fitBaseline(ev).persist()
    // replay the table through a MemoryStream in event order, three batches
    val ordered = ev.select(col("user_id"), col("event_id"),
        unix_micros(col("ts")).as("ts_us"),
        floor(col("value") * lit(1e6)).cast("long").as("x"))
      .orderBy("ts_us", "event_id")
      .as[DriftEvent].collect()
    val mem = MemoryStream[DriftEvent]
    val out = StreamingDrift.cusumStream(mem.toDS(), baseline)
    val query = out.writeStream.format("memory").queryName("cusum_out")
      .outputMode("append").start()
    try {
      ordered.grouped((ordered.length + 2) / 3).foreach { chunk =>
        mem.addData(chunk.toIndexedSeq)
        query.processAllAvailable()
      }
      val got = spark.table("cusum_out").as[Breach].collect()
      val batch = graft.operators.EventOps.cusumDrift(spark, sf0001).collect()
        .map(r => (r.getAs[Long]("user_id"),
          (r.getAs[Long]("n_breach"), r.getAs[Long]("first_breach_us")))).toMap
      val gotByUser = got.groupBy(_.user_id)
      // breach count and first-breach time agree per key
      batch.foreach { case (uid, (nb, first)) =>
        val g = gotByUser.getOrElse(uid, Array.empty[Breach])
        assert(g.length == nb, s"user $uid: stream ${g.length} breaches, batch $nb")
        if (nb > 0) assert(g.map(_.ts_us).min == first,
          s"user $uid: first breach diverged")
      }
      assert(gotByUser.keySet == batch.filter(_._2._1 > 0).keySet)
    } finally { query.stop(); baseline.unpersist() }
  }

  test("cusumStream: a cross-batch late event is dropped and counted, not folded") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.streaming.StreamingDrift
    import graft.streaming.StreamingDrift.{Breach, DriftEvent}
    // n=2, s_tot=10 → dev = 2x − 11: x=5 gives −1, x=100 gives 189
    val baseline = Seq((1L, 2L, 10L)).toDF("user_id", "n", "s_tot")
    val acc = spark.sparkContext.longAccumulator("cusum_ooo_dropped")
    val mem = MemoryStream[DriftEvent]
    val out = StreamingDrift.cusumStream(mem.toDS(), baseline,
      droppedAcc = Some(acc))
    val query = out.writeStream.format("memory").queryName("cusum_ooo")
      .outputMode("append").start()
    try {
      // batch 1 advances the cursor to ts=300
      mem.addData(DriftEvent(1L, 1L, 100L, 5L), DriftEvent(1L, 3L, 300L, 5L))
      query.processAllAvailable()
      // batch 2: one late big-dev event (ts=200 < 300), one exact replay
      // of (300, 3), one in-order small event — only the last may fold
      mem.addData(DriftEvent(1L, 2L, 200L, 100L), DriftEvent(1L, 3L, 300L, 5L),
        DriftEvent(1L, 4L, 400L, 5L))
      query.processAllAvailable()
      assert(acc.value == 2L, s"expected 2 dropped, got ${acc.value}")
      // a breach probe whose cusum VALUE proves the fold history: with
      // events 1,3,4 folded (cum=-3, runmin=-3) this event yields
      // 1986-(-3)=1989; had the late x=100 event been folded the value
      // would be 2176 (and events 3/4 would already have breached)
      mem.addData(DriftEvent(1L, 5L, 500L, 1000L))
      query.processAllAvailable()
      val breaches = spark.table("cusum_ooo").as[Breach].collect().toSeq
      assert(breaches == Seq(Breach(1L, 500L, 1989L)), s"got $breaches")
    } finally query.stop()
  }

  test("cusumStreamDaily: statistic resets at the day boundary, matching a driver fold") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.streaming.StreamingDrift
    import graft.streaming.StreamingDrift.{Breach, DriftEvent}
    val dayUs = 86400000000L
    // n=2, s_tot=10: dev = 2x - 11. Day 1 ends with a big positive ramp
    // whose breach run must NOT leak into day 2 — the un-windowed stream
    // would open day 2 with cusum still high; the daily form starts at 0.
    val evs =
      (0 until 5).map(i => DriftEvent(9L, i.toLong, i * 1000L, 100L)) ++ // day 1 ramp
        (0 until 3).map(i => DriftEvent(9L, 100L + i, dayUs + i * 1000L, 5L)) // day 2 quiet
    val baseline = Seq((9L, 2L, 10L)).toDF("user_id", "n", "s_tot")
    val mem = MemoryStream[DriftEvent]
    val out = StreamingDrift.cusumStreamDaily(mem.toDS(), baseline)
    val query = out.writeStream.format("memory").queryName("cusum_daily")
      .outputMode("append").start()
    try {
      // two micro-batches split INSIDE day 1, proving state carries within
      // a day and resets only at the boundary
      mem.addData(evs.take(3): _*)
      query.processAllAvailable()
      mem.addData(evs.drop(3): _*)
      query.processAllAvailable()
      val got = spark.table("cusum_daily").as[Breach].collect().toSeq.sortBy(_.ts_us)
      // driver fold of the same semantics
      val expected = {
        var (day, cum, runmin) = (Long.MinValue, 0L, Long.MaxValue)
        evs.flatMap { e =>
          val d = Math.floorDiv(e.ts_us, dayUs)
          if (d != day) { day = d; cum = 0L; runmin = Long.MaxValue }
          val dev = 2L * e.x - 10L - 1L
          cum += dev
          runmin = math.min(if (runmin == Long.MaxValue) cum else runmin, cum)
          val cusum = cum - math.min(0L, runmin)
          if (cusum > 2L * 10L) Some(Breach(9L, e.ts_us, cusum)) else None
        }
      }
      assert(got == expected, s"stream $got vs fold $expected")
      // day 1 breached (ramp), day 2 must NOT (fresh statistic)
      assert(expected.exists(_.ts_us < dayUs) && !expected.exists(_.ts_us >= dayUs),
        "setup must place all breaches in day 1")
    } finally query.stop()
  }

  test("sessionStream: event-time replay matches batch sessionize session-for-session") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.streaming.StreamingSessions
    import graft.streaming.StreamingSessions.Session
    // replay three users' real events in event order over three batches,
    // then push the watermark far past the horizon so timeouts close the
    // final open sessions
    val ev = graft.sources.Tables.t(spark, sf0001, "events")
      .filter(col("user_id") < 3)
    val batchSessions = operators.EventOps.sessionizeOn(ev)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5))).toMap
    val ordered = ev.select(col("user_id"), col("event_id"), col("ts"),
        col("value")).orderBy("ts", "event_id")
      .as[(Long, Long, java.sql.Timestamp, Double)].collect()
    val mem = MemoryStream[(Long, Long, java.sql.Timestamp, Double)]
    val out = StreamingSessions.sessionStream(
      mem.toDF().toDF("user_id", "event_id", "ts", "value"))
    val q = out.writeStream.format("memory").queryName("sess_out")
      .outputMode("append").start()
    try {
      ordered.grouped((ordered.length + 2) / 3).foreach { chunk =>
        mem.addData(chunk.toIndexedSeq)
        q.processAllAvailable()
      }
      // sentinel user far in the future advances the watermark past every
      // open session's end + gap; a second batch lets the timeouts fire
      val horizon = java.sql.Timestamp.from(
        ordered.map(_._3.toInstant).max.plusSeconds(30L * 24 * 3600))
      mem.addData((999L, 0L, horizon, 0.0))
      q.processAllAvailable()
      mem.addData((999L, 1L, java.sql.Timestamp.from(
        horizon.toInstant.plusSeconds(60)), 0.0))
      q.processAllAvailable()
      val got = spark.table("sess_out").as[Session].collect()
        .filter(_.user_id < 3)
        .map(s => (s.user_id, s.sid) ->
          (s.s_start_us, s.s_end_us, s.n_events, s.sum_value)).toMap
      assert(got == batchSessions,
        s"stream sessions diverged from batch: ${got.size} vs ${batchSessions.size}")
      assert(batchSessions.nonEmpty && batchSessions.keys.exists(_._2 > 1),
        "setup must cover multi-session users")
    } finally q.stop()
  }

  test("sessionStream: a late event after its session closed is dropped, not folded") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.streaming.StreamingSessions
    import graft.streaming.StreamingSessions.Session
    // offset from epoch: the initial watermark is 0 and FMGWS filters
    // rows at/below it, so h0 must not sit exactly on the epoch
    def ts(h: Long) = new java.sql.Timestamp((h + 24) * 3600 * 1000L)
    val mem = MemoryStream[(Long, Long, java.sql.Timestamp, Double)]
    // generous delay: the late event must pass Spark's own watermark
    // filter so it is the GUARD that drops it, not the engine
    val out = StreamingSessions.sessionStream(
      mem.toDF().toDF("user_id", "event_id", "ts", "value"),
      watermarkDelay = "48 hours")
    val q = out.writeStream.format("memory").queryName("sess_late")
      .outputMode("append").start()
    try {
      // session A at h0-h1, then h20 opens session B (gap 12h) closing A
      mem.addData((1L, 0L, ts(0), 1.0), (1L, 1L, ts(1), 2.0))
      q.processAllAvailable()
      mem.addData((1L, 2L, ts(20), 4.0))
      q.processAllAvailable()
      // h2 arrives late: it belonged to emitted session A — must NOT
      // reopen it or leak into B
      mem.addData((1L, 3L, ts(2), 100.0))
      q.processAllAvailable()
      mem.addData((1L, 4L, ts(21), 8.0))
      q.processAllAvailable()
      val sessions = spark.table("sess_late").as[Session].collect().toSeq
      assert(sessions == Seq(Session(1L, 1L,
        24L * 3600000000L, 25L * 3600000000L, 2L, 3.0)), s"got $sessions")
    } finally q.stop()
  }

  test("bm25Apply scores a live stream against frozen corpus stats, matching batch") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    // the frozen artifact comes from the real corpus fit...
    val docs = graft.sources.Tables.t(spark, sf0001, "documents")
    val model = operators.TextOps.bm25Fit(docs)
    val batch = operators.TextOps.bm25Apply(docs, model)
      .select("doc_id", "bm25").as[(Long, Double)].collect().toMap
    assert(batch.nonEmpty)
    val probeIds = batch.keys.take(3).toSeq
    val probeDocs = docs.filter(col("doc_id").isin(probeIds: _*))
      .select("doc_id", "text").as[(Long, String)].collect()
    // ...and the SAME apply columns score a MemoryStream per micro-batch
    val mem = MemoryStream[(Long, String)]
    val scored = operators.TextOps.bm25Apply(
      mem.toDF().toDF("doc_id", "text"), model)
    val q = scored.writeStream.format("memory").queryName("bm25_out")
      .outputMode("append").start()
    try {
      probeDocs.foreach { d => mem.addData(d); q.processAllAvailable() }
      val got = spark.table("bm25_out")
        .select("doc_id", "bm25").as[(Long, Double)].collect().toMap
      assert(got.keySet == probeIds.toSet)
      got.foreach { case (id, s) =>
        assert(s == batch(id), s"stream bm25 diverged for doc $id") }
    } finally q.stop()
  }

  test("whitenApplyOn standardizes a live stream statelessly, matching the batch apply") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    // fit on a batch corpus (3 dims, distinct scales)...
    val corpus = Seq(
      (1L, Seq(1.0f, 10.0f, 0.5f)), (2L, Seq(2.0f, 30.0f, 0.5f)),
      (3L, Seq(3.0f, 50.0f, 0.5f)), (4L, Seq(4.0f, 70.0f, 0.5f))
    ).toDF("vec_id", "embedding")
    val (means, stds) = operators.SimilarityOps.whitenFit(corpus)
    assert(stds(2) == 0.0, "constant dim must fit std 0")
    val batch = operators.SimilarityOps.whitenApplyOn(corpus, means, stds)
      .select("vec_id", "embedding").as[(Long, Seq[Float])].collect().toMap
    // ...then serve the SAME transform over a MemoryStream: the literals
    // ride in the plan, no state, no shuffle — append mode just works
    val mem = MemoryStream[(Long, Seq[Float])]
    val served = operators.SimilarityOps.whitenApplyOn(
      mem.toDF().toDF("vec_id", "embedding"), means, stds)
    val q = served.writeStream.format("memory").queryName("whiten_out")
      .outputMode("append").start()
    try {
      mem.addData((1L, Seq(1.0f, 10.0f, 0.5f)), (3L, Seq(3.0f, 50.0f, 0.5f)))
      q.processAllAvailable()
      val got = spark.table("whiten_out")
        .select("vec_id", "embedding").as[(Long, Seq[Float])].collect().toMap
      assert(got.keySet == Set(1L, 3L))
      got.foreach { case (id, v) => assert(v == batch(id),
        s"stream whitening diverged from batch for vec $id: $v vs ${batch(id)}") }
      // the zero-std dim maps to 0, not Inf/NaN
      assert(got.values.forall(_.last == 0.0f))
    } finally q.stop()
  }

  test("trained LR model scores a live document stream statelessly, matching batch") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    // fit on a planted-signal corpus (the LrSpec frame), then serve the
    // SAME columns over a MemoryStream — zero state, zero shuffle, and
    // the margins are bit-equal to the batch apply
    val docs = (0 until 60).map { i =>
      val pos = i % 2 == 0
      val filler = Seq.fill(5)("common shared background words").mkString(" ")
      val marker = if (pos) "signalA signalB" else "noiseX noiseY"
      (i.toLong, if (pos) "en" else "xx", s"$filler $marker")
    }.toDF("doc_id", "lang", "text")
    val m = operators.TextOps.lrFit(spark, docs,
      (col("lang") === "en").cast("double"), dim = 128, iters = 6)
    val batch = operators.TextOps.lrApply(docs, m, (col("lang") === "en").cast("long"))
      .select("doc_id", "margin", "pred").as[(Long, Double, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    val mem = MemoryStream[(Long, String, String)]
    val served = operators.TextOps.lrApply(
      mem.toDF().toDF("doc_id", "lang", "text"), m,
      (col("lang") === "en").cast("long"))
    val q = served.writeStream.format("memory").queryName("lr_out")
      .outputMode("append").start()
    try {
      mem.addData((0L, "en", docs.filter(col("doc_id") === 0).head().getString(2)),
        (1L, "xx", docs.filter(col("doc_id") === 1).head().getString(2)))
      q.processAllAvailable()
      val got = spark.table("lr_out")
        .select("doc_id", "margin", "pred").as[(Long, Double, Long)].collect()
      assert(got.length == 2)
      got.foreach { case (id, mg, p) =>
        assert((mg, p) == batch(id), s"stream LR diverged for doc $id") }
    } finally q.stop()
  }

  test("frozen MAD stats serve a live stream: flags == the batch query's, statelessly") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val ev = graft.sources.Tables.t(spark, sf0001, "events")
    val fit = operators.EventOps.madFit(ev)
    assert(fit.nonEmpty)
    // batch apply against the frozen stats == the one-shot gated query
    val applied = operators.EventOps.madApply(ev, fit)
      .select("event_id").as[Long].collect().toSet
    val gated = operators.EventOps.madOutliers(spark, sf0001)
      .select("event_id").as[Long].collect().toSet
    assert(applied == gated, "frozen-stats apply diverged from the one-shot query")
    // the same columns score a MemoryStream per micro-batch
    val probe = ev.select("event_id", "event_type", "value")
      .as[(Long, String, Double)].collect().take(500)
    val mem = MemoryStream[(Long, String, Double)]
    val served = operators.EventOps.madApply(
      mem.toDF().toDF("event_id", "event_type", "value"), fit)
    val q = served.writeStream.format("memory").queryName("mad_out")
      .outputMode("append").start()
    try {
      val (b1, b2) = probe.splitAt(250)
      mem.addData(b1.toIndexedSeq); q.processAllAvailable()
      mem.addData(b2.toIndexedSeq); q.processAllAvailable()
      val got = spark.table("mad_out").select("event_id").as[Long].collect().toSet
      val want = probe.map(_._1).toSet.intersect(gated)
      assert(got == want, s"stream flags diverged: ${got.size} vs ${want.size}")
    } finally q.stop()
  }

  test("continuous ANN: per-micro-batch PQ probe == batch serve, sees appends between batches") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.operators.SimilarityOps
    val emb = graft.sources.Tables.t(spark, sf0001, "embeddings")
    val idx = java.nio.file.Files.createTempDirectory("graft-sknn").toString + "/pq"
    SimilarityOps.writePqIndexOn(emb, idx)
    try {
      def key(df: org.apache.spark.sql.DataFrame) = df
        .select("q_id", "n_id", "rnk", "sim")
        .as[(Long, Long, Long, Double)].collect().toSet
      val want = key(SimilarityOps.knnPqServe(spark, emb, idx, col("vec_id") < 6))
      assert(want.nonEmpty)
      // the stream: two micro-batches of query vectors through foreachBatch,
      // each probing the index with the SAME code path the batch serve uses
      val qRows = emb.filter(col("vec_id") < 6)
        .select("vec_id", "embedding").as[(Long, Seq[Float])].collect()
      val got = scala.collection.mutable.Set[(Long, Long, Long, Double)]()
      val mem = MemoryStream[(Long, Seq[Float])]
      val q = mem.toDF().toDF("vec_id", "embedding").writeStream
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
          got ++= key(SimilarityOps.knnPqProbe(spark, batch, idx))
          () // the Scala overload needs Unit, not the mutated set
        }.start()
      try {
        val (b1, b2) = qRows.splitAt(3)
        mem.addData(b1.toIndexedSeq); q.processAllAvailable()
        mem.addData(b2.toIndexedSeq); q.processAllAvailable()
        assert(got.toSet == want,
          s"streamed probes diverged from batch serve: missing ${want -- got}")
        // an append between micro-batches is visible to the NEXT probe
        // with no cache machinery: a clone of query 0 must become its top-1
        val clone = emb.filter(col("vec_id") === 0L)
          .select((col("vec_id") + 777000L).as("vec_id"), col("embedding"), col("label"))
        SimilarityOps.appendToPqIndex(clone, idx)
        got.clear()
        mem.addData(Seq(qRows.find(_._1 == 0L).get)); q.processAllAvailable()
        val top1 = got.toSeq.filter(r => r._1 == 0L && r._3 == 1L)
        assert(top1.map(_._2) == Seq(777000L),
          s"appended clone must be the next probe's top-1, got $top1")
      } finally q.stop()
    } finally graft.sources.Bucketed.dropRegistration(spark, s"$idx/raw")
  }

  test("transitionStream: edges across micro-batches fold to the batch counts; late events dropped") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val events = graft.sources.Tables.t(spark, sf0001, "events")
    val want = operators.EventOps.transitionCounts(spark, sf0001)
      .select("prev_type", "event_type", "n").as[(String, String, Long)]
      .collect().map(r => (r._1, r._2) -> r._3).toMap
    val rows = events.select(col("user_id"), col("event_id"),
        unix_micros(col("ts")).as("ts_us"), col("event_type"))
      .as[(Long, Long, Long, String)].collect().sortBy(r => (r._3, r._2))
    val mem = MemoryStream[(Long, Long, Long, String)]
    val edges = streaming.StreamingTransitions.transitionStream(
      streaming.StreamingTransitions.asEvents(
        mem.toDF().toDF("user_id", "event_id", "ts_us", "event_type")))
    val q = edges.writeStream.format("memory").queryName("trans_out")
      .outputMode("append").start()
    try {
      val (b1, b2) = rows.splitAt(rows.length / 2)
      mem.addData(b1.toIndexedSeq); q.processAllAvailable()
      mem.addData(b2.toIndexedSeq); q.processAllAvailable()
      // a replayed old event must not fabricate an edge
      mem.addData(Seq(rows.head)); q.processAllAvailable()
      val got = spark.table("trans_out")
        .groupBy("prev_type", "event_type").agg(count(lit(1)).as("n"))
        .as[(String, String, Long)].collect().map(r => (r._1, r._2) -> r._3).toMap
      assert(want.nonEmpty && got == want,
        s"stream edge counts diverged from batch: ${got.size} vs ${want.size} keys")
    } finally q.stop()
  }

  test("heavyTokensStream: MG guarantee holds after every micro-batch, state stays k counters") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    // 3 micro-batches; 'hot' is heavy from the start, 'warm' only becomes
    // heavy once batch 3 lands; the long unique-token tail can never crowd
    // the summary past k counters
    val k = 8
    def doc(i: Int, words: Seq[String]) = (i.toLong, words)
    val b1 = (0 until 20).map(i => doc(i, Seq("hot", "hot", s"uniq_a$i")))
    val b2 = (20 until 40).map(i => doc(i, Seq("hot", s"uniq_b$i")))
    val b3 = (40 until 60).map(i => doc(i, Seq("warm", "warm", "warm", "hot", s"uniq_c$i")))
    val mem = MemoryStream[(Long, Seq[String])]
    val out = streaming.StreamingHeavy.heavyTokensStream(
      mem.toDF().toDF("doc_id", "toks"), k)
    val q = out.writeStream.format("memory").queryName("heavy_out")
      .outputMode("complete").start()
    try {
      def snapshot(): (Seq[String], Long) = {
        val r = spark.table("heavy_out").head()
        (r.getSeq[String](0), r.getLong(1))
      }
      def exactHeavy(batches: Seq[Seq[(Long, Seq[String])]]): Set[String] = {
        val toks = batches.flatten.flatMap(_._2)
        val n = toks.size
        toks.groupBy(identity).collect {
          case (t, xs) if xs.size.toLong * (k + 1) > n => t
        }.toSet
      }
      mem.addData(b1); q.processAllAvailable()
      val (c1, n1) = snapshot()
      assert(n1 == b1.map(_._2.size).sum)
      assert(exactHeavy(Seq(b1)).subsetOf(c1.toSet),
        s"batch-1 heavy set not in candidates: $c1")
      assert(c1.size <= k)
      mem.addData(b2); q.processAllAvailable()
      val (c2, _) = snapshot()
      assert(exactHeavy(Seq(b1, b2)).subsetOf(c2.toSet))
      assert(c2.size <= k)
      mem.addData(b3); q.processAllAvailable()
      val (c3, n3) = snapshot()
      assert(n3 == (b1 ++ b2 ++ b3).map(_._2.size).sum)
      val heavy3 = exactHeavy(Seq(b1, b2, b3))
      assert(Set("hot", "warm").subsetOf(heavy3), s"test setup drifted: $heavy3")
      assert(heavy3.subsetOf(c3.toSet),
        s"final heavy set $heavy3 not in candidates $c3")
      assert(c3.size <= k, s"summary exceeded k counters: $c3")
    } finally q.stop()
  }

  test("weightedMaStream: stream replay matches the batch weighted MA row-for-row") {
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.StreamingSmooth
    import graft.streaming.StreamingSmooth.{SmoothEvent, Smoothed}
    val ordered = graft.sources.Tables.t(spark, sf0001, "events")
      .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("ts_us"),
        floor(col("value") * lit(1e6)).cast("long").as("x"))
      .orderBy("ts_us", "event_id")
      .as[SmoothEvent].collect()
    val mem = MemoryStream[SmoothEvent]
    val out = StreamingSmooth.weightedMaStream(mem.toDS())
    val query = out.writeStream.format("memory").queryName("wma_out")
      .outputMode("append").start()
    try {
      ordered.grouped((ordered.length + 2) / 3).foreach { chunk =>
        mem.addData(chunk.toIndexedSeq)
        query.processAllAvailable()
      }
      val got = spark.table("wma_out").as[Smoothed].collect()
        .map(s => s.event_id -> s).toMap
      val batch = graft.operators.EventOps.weightedMa(spark, sf0001).collect()
      assert(got.size == batch.length, s"stream ${got.size} vs batch ${batch.length}")
      batch.foreach { r =>
        val s = got(r.getAs[Long]("event_id"))
        assert(s.user_id == r.getAs[Long]("user_id"))
        assert(s.ts_us == r.getAs[Long]("ts_us"))
        assert(s.wsum == r.getAs[Long]("wsum"), s"wsum diverged at ${s.event_id}")
        assert(s.wden == r.getAs[Long]("wden"), s"wden diverged at ${s.event_id}")
        // bit-identical, not approximately equal: same int64 inputs, one
        // identically-associated IEEE division on both sides
        assert(java.lang.Double.doubleToLongBits(s.wma) ==
          java.lang.Double.doubleToLongBits(r.getAs[Double]("wma")),
          s"wma diverged at ${s.event_id}")
      }
    } finally query.stop()
  }

  test("weightedMaStream: a cross-batch late event is dropped, not folded into the taps") {
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.StreamingSmooth
    import graft.streaming.StreamingSmooth.{SmoothEvent, Smoothed}
    val acc = spark.sparkContext.longAccumulator("wma_ooo_dropped")
    val mem = MemoryStream[SmoothEvent]
    val out = StreamingSmooth.weightedMaStream(mem.toDS(), droppedAcc = Some(acc))
    val query = out.writeStream.format("memory").queryName("wma_ooo")
      .outputMode("append").start()
    try {
      mem.addData(SmoothEvent(1L, 1L, 100L, 1000000L),
        SmoothEvent(1L, 3L, 300L, 3000000L))
      query.processAllAvailable()
      // late (ts=200 < cursor 300) and an exact replay of (300, 3): both
      // must drop; the in-order event folds against taps [3e6, 1e6] only
      mem.addData(SmoothEvent(1L, 2L, 200L, 9000000L),
        SmoothEvent(1L, 3L, 300L, 3000000L),
        SmoothEvent(1L, 4L, 400L, 2000000L))
      query.processAllAvailable()
      assert(acc.value == 2L, s"expected 2 dropped, got ${acc.value}")
      val got = spark.table("wma_ooo").as[Smoothed].collect()
        .map(s => s.event_id -> s).toMap
      // had the late x=9e6 folded, event 4's taps would be [3e6, 9e6, 1e6]
      // (wsum = 16e6+12e6+18e6+1e6); dropped means [3e6, 1e6] only
      assert(got(4L).wsum == 8L * 2000000L + 4L * 3000000L + 2L * 1000000L,
        s"late event leaked into the tap history: ${got(4L)}")
      assert(got(4L).wden == 14L)
    } finally query.stop()
  }

  test("novelty index serves a document stream via foreachBatch, appends between batches") {
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft-novstream").toString + "/nov"
    val corpus = graft.sources.Tables.t(spark, sf0001, "documents")
      .filter(col("doc_id") % 5 =!= 0).select("doc_id", "text")
    graft.operators.DedupOps.writeNoveltyIndex(corpus, dir)
    val mem = MemoryStream[(Long, String)]
    val scores = scala.collection.mutable.ArrayBuffer[(Long, Double)]()
    // the stateless stream form IS the batch probe per micro-batch — the
    // foreachBatch-composable contract the incremental family documents;
    // appending each scored batch makes the NEXT batch see it as corpus
    val q = mem.toDF().toDF("doc_id", "text").writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        val scored = graft.operators.DedupOps
          .noveltyFromIndex(spark, batch, dir).collect()
        scores.synchronized {
          scores ++= scored.map(r =>
            (r.getAs[Long]("doc_id"), r.getAs[Double]("novelty")))
        }
        graft.operators.DedupOps.appendToNoveltyIndex(batch, dir)
        ()
      }.start()
    try {
      val clone = corpus.orderBy("doc_id").limit(1).collect().head.getString(1)
      val novelTxt = (1 to 40).map(i => s"stream$i").mkString(" ")
      mem.addData((9001L, clone), (9002L, novelTxt))
      q.processAllAvailable()
      // batch 2 replays the batch-1 novel doc: the append must have made
      // it corpus, so the replay scores 0.0
      mem.addData((9003L, novelTxt))
      q.processAllAvailable()
      val byId = scores.toMap
      assert(byId(9001L) == 0.0, s"corpus clone must be 0-novel: $byId")
      assert(byId(9002L) == 1.0, s"unseen doc must be fully novel: $byId")
      assert(byId(9003L) == 0.0,
        s"batch-2 replay must see batch 1 appended as corpus: $byId")
    } finally q.stop()
  }

  test("chunk-fp store serves a document stream via foreachBatch; state bounded by distinct fps") {
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft-chunkstream")
      .toString + "/store"
    val corpus = graft.sources.Tables.t(spark, sf0001, "documents")
      .filter(col("doc_id") % 5 =!= 0).select("doc_id", "text")
    graft.operators.DedupOps.writeChunkFpStore(corpus, dir)
    val storeRows = () => spark.read.parquet(s"$dir/fps").count()
    val baseRows = storeRows()
    val mem = MemoryStream[(Long, String)]
    val statuses = scala.collection.mutable.ArrayBuffer[(Long, String)]()
    // stateless per-micro-batch probe + append: the stream's state IS the
    // persisted store, so the bound to pin is store growth — distinct fps
    // per appended batch, never chunk occurrences
    val q = mem.toDF().toDF("doc_id", "text").writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        val scored = graft.operators.DedupOps
          .incrementalChunkFromStore(spark, batch, dir).collect()
        statuses.synchronized {
          statuses ++= scored.map(r =>
            (r.getAs[Long]("doc_id"), r.getAs[String]("status")))
        }
        graft.operators.DedupOps.appendToChunkFpStore(batch, dir)
        ()
      }.start()
    try {
      val clone = corpus.orderBy("doc_id").limit(1).collect().head.getString(1)
      val novelTxt = (1 to 80).map(i => s"stream$i").mkString(" ")
      // two copies of the novel doc in one batch: 6 chunks, 3 distinct fps
      mem.addData((9001L, clone), (9002L, novelTxt), (9003L, novelTxt))
      q.processAllAvailable()
      val afterB1 = storeRows()
      // batch 2 replays the batch-1 novel doc: the append made it corpus
      mem.addData((9004L, novelTxt))
      q.processAllAvailable()
      val byId = statuses.toMap
      assert(byId(9001L) == "dup_corpus", s"corpus clone: $byId")
      assert(byId(9002L) == "new" && byId(9003L) == "new",
        s"unseen docs are new within their arrival batch: $byId")
      assert(byId(9004L) == "dup_corpus",
        s"batch-2 replay must see batch 1 appended as corpus: $byId")
      // store bound: batch 1 appended clone fps (distinct within batch)
      // + 3 novel fps — strictly fewer rows than its 6+clone chunks
      val cloneFps = graft.operators.TextOps
        .chunkOn(Seq((9001L, clone)).toDF("doc_id", "text"))
        .select("chunk_fp").distinct().count()
      assert(afterB1 == baseRows + cloneFps + 3L,
        s"append must add distinct fps only: base=$baseRows after=$afterB1")
      assert(storeRows() == afterB1 + 3L,
        "batch-2 single novel replay appends its 3 distinct fps")
    } finally q.stop()
  }

  test("chunk minhash index serves a document stream via foreachBatch; appended chunks become corpus") {
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft-chunkmh")
      .toString + "/idx"
    val corpus = graft.sources.Tables.t(spark, sf0001, "documents")
      .filter(col("doc_id") % 5 =!= 0).select("doc_id", "text")
    graft.operators.DedupOps.writeChunkMinhashIndex(corpus, dir)
    // longest corpus doc: guarantees a full 32-token chunk 0 to edit
    val base = corpus.orderBy(expr("size(split(text, ' '))").desc, col("doc_id"))
      .limit(1).collect().head
    val (baseId, baseTxt) = (base.getLong(0), base.getString(1))
    val editedCorpus = "zz " + baseTxt.split(" ").drop(1).mkString(" ")
    val novelTxt = (1 to 80).map(i => s"stream$i").mkString(" ")
    val editedNovel = "zz " + novelTxt.split(" ").drop(1).mkString(" ")
    val mem = MemoryStream[(Long, String)]
    val hits = scala.collection.mutable.ArrayBuffer[(Long, Long, Long, Long)]()
    val q = mem.toDF().toDF("doc_id", "text").writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        val scored = graft.operators.DedupOps
          .incrementalChunkMinhashFromIndex(spark, batch, dir).collect()
        hits.synchronized {
          hits ++= scored.map(r =>
            (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        }
        graft.operators.DedupOps.appendToChunkMinhashIndex(batch, dir)
        ()
      }.start()
    try {
      // batch 1: an edited near-copy of a corpus doc (must hit its chunk 0)
      // and a genuinely novel doc (no near chunks anywhere yet)
      mem.addData((9001L, editedCorpus), (9002L, novelTxt))
      q.processAllAvailable()
      val b1 = hits.synchronized(hits.toSet)
      assert(b1.contains((9001L, 0L, baseId, 0L)),
        s"edited window must hit the corpus index: $b1")
      assert(!b1.exists(_._1 == 9002L), s"novel doc cannot hit yet: $b1")
      // batch 2: an edited near-copy of batch 1's NOVEL doc — a hit is
      // only possible through the append
      mem.addData((9003L, editedNovel))
      q.processAllAvailable()
      val b2 = hits.synchronized(hits.toSet) -- b1
      assert(b2.contains((9003L, 0L, 9002L, 0L)),
        s"appended batch-1 chunks must serve as corpus: $b2")
    } finally q.stop()
  }

  test("graph index serves a query stream via foreachBatch; appended vectors visible to the next batch") {
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.SimilarityOps
    val dir = java.nio.file.Files.createTempDirectory("graft-graphstream")
      .toString + "/g"
    val corpus = graft.sources.Tables.spread(
      graft.sources.Tables.t(spark, sf0001, "embeddings"))
    SimilarityOps.writeGraphIndexOn(corpus, dir)
    val qVec = corpus.filter(col("vec_id") === 3L)
      .collect().head.getAs[scala.collection.Seq[Float]]("embedding").toArray
    // a near-clone of the query vector, unseen at build time
    val clone = qVec.map(x => x + 0.001f)
    val mem = MemoryStream[(Long, Array[Float])]
    val tops = scala.collection.mutable.ArrayBuffer[(Long, Long)]()
    val q = mem.toDF().toDF("vec_id", "embedding").writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        val top1 = SimilarityOps.knnGraphServe(spark, batch, dir)
          .filter(col("rnk") === 1L).collect()
        tops.synchronized {
          tops ++= top1.map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("n_id")))
        }
        ()
      }.start()
    try {
      mem.addData((3L, qVec))
      q.processAllAvailable()
      val before = tops.toMap.apply(3L)
      // append the clone BETWEEN micro-batches: the plain per-probe reads
      // re-list the index dirs, so the next batch must see it
      SimilarityOps.appendToGraphIndex(
        Seq((9001L, clone.toSeq)).toDF("vec_id", "embedding"), dir)
      mem.addData((3L, qVec))
      q.processAllAvailable()
      val after = tops.reverse.find(_._1 == 3L).get._2
      assert(before != 9001L, "clone must not exist before the append")
      assert(after == 9001L,
        s"appended near-clone must serve as the new top-1: got $after")
    } finally {
      q.stop()
      Seq(s"$dir/adj", s"$dir/raw").foreach { p =>
        try graft.sources.Bucketed.dropRegistration(spark, p)
        catch { case _: Throwable => () }
      }
    }
  }

  test("pathStream: folded stream paths match the batch top-20 exactly") {
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.StreamingPaths
    import graft.streaming.StreamingPaths.{Path, PathEvent}
    val ordered = graft.sources.Tables.t(spark, sf0001, "events")
      .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("ts_us"),
        col("event_type"))
      .orderBy("ts_us", "event_id")
      .as[PathEvent].collect()
    val mem = MemoryStream[PathEvent]
    val out = StreamingPaths.pathStream(mem.toDS())
    val q = out.writeStream.format("memory").queryName("paths_out")
      .outputMode("append").start()
    try {
      ordered.grouped((ordered.length + 2) / 3).foreach { chunk =>
        mem.addData(chunk.toIndexedSeq)
        q.processAllAvailable()
      }
      val streamTop = spark.table("paths_out").as[Path]
        .groupBy("step1", "step2", "step3").agg(count(lit(1)).as("n_paths"))
        .orderBy(col("n_paths").desc, col("step1").asc, col("step2").asc,
          col("step3").asc)
        .limit(20).collect().map(_.toSeq).toSeq
      val batchTop = graft.operators.EventOps.topPaths(spark, sf0001)
        .collect().map(_.toSeq).toSeq
      assert(streamTop == batchTop,
        s"stream-folded top-20 diverged from the batch query")
    } finally q.stop()
  }

  test("pathStream: a session gap clears the tap history; no path crosses the boundary") {
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.StreamingPaths
    import graft.streaming.StreamingPaths.{GapUs, Path, PathEvent}
    val mem = MemoryStream[PathEvent]
    val out = StreamingPaths.pathStream(mem.toDS())
    val q = out.writeStream.format("memory").queryName("paths_gap")
      .outputMode("append").start()
    try {
      // a-b-c in session 1; gap > 12h; d-e-f in session 2: exactly two
      // paths (a,b,c) and (d,e,f) — never (b,c,d) or (c,d,e)
      mem.addData(
        PathEvent(1L, 1L, 1000L, "a"), PathEvent(1L, 2L, 2000L, "b"),
        PathEvent(1L, 3L, 3000L, "c"),
        PathEvent(1L, 4L, 3000L + GapUs + 1L, "d"),
        PathEvent(1L, 5L, 4000L + GapUs + 1L, "e"),
        PathEvent(1L, 6L, 5000L + GapUs + 1L, "f"))
      q.processAllAvailable()
      val got = spark.table("paths_gap").as[Path].collect()
        .map(p => (p.step1, p.step2, p.step3)).toSet
      assert(got == Set(("a", "b", "c"), ("d", "e", "f")), s"got $got")
    } finally q.stop()
  }

  test("registersStream: streamed register table == batch fold, any micro-batch split") {
    import graft.operators.PortableHll
    implicit val sqlCtx = spark.sqlContext
    val rng = new scala.util.Random(17)
    // 3 days x 120 users with repeats, arriving out of day order
    val rows = Seq.fill(600)((rng.nextInt(3).toLong * 86400000000L,
      rng.nextInt(120).toLong))
    val mem = MemoryStream[(Long, Long)]
    val q = graft.streaming.StreamingDistinct
      .registersStream(mem.toDF().toDF("day_us", "user_id"))
      .writeStream.format("memory").queryName("hll_regs")
      .outputMode("complete").start()
    try {
      // deliberately uneven splits — register MAX must not care
      mem.addData(rows.take(7)); q.processAllAvailable()
      mem.addData(rows.slice(7, 450)); q.processAllAvailable()
      mem.addData(rows.drop(450)); q.processAllAvailable()
      val streamed = spark.table("hll_regs")
        .orderBy("day_us", "j").collect().toSeq
      val batch = PortableHll.registers(
        rows.toDF("day_us", "user_id"), Seq("day_us"), col("user_id"))
        .orderBy("day_us", "j").collect().toSeq
      assert(streamed == batch, "stream registers must equal the batch fold")
      // state bound: rows in the complete-mode table <= days x 1024
      assert(streamed.length <= 3 * 1024)
      // and the serving estimate off the streamed table equals batch
      val sEst = PortableHll.estimate(spark.table("hll_regs"), Seq("day_us"))
        .orderBy("day_us").collect().toSeq
      val bEst = PortableHll.estimate(
        PortableHll.registers(rows.toDF("day_us", "user_id"),
          Seq("day_us"), col("user_id")), Seq("day_us"))
        .orderBy("day_us").collect().toSeq
      assert(sEst == bEst)
    } finally q.stop()
  }

  test("histStream: streamed bin table == batch histogram; quantile serve identical") {
    implicit val sqlCtx = spark.sqlContext
    val rng = new scala.util.Random(19)
    val rows = Seq.fill(500)((rng.nextInt(2).toLong * 86400000000L,
      rng.nextDouble() * 600.0 - 10.0)) // exercises both clamps
    val mem = MemoryStream[(Long, Double)]
    val q = graft.streaming.StreamingDistinct
      .histStream(mem.toDF().toDF("day_us", "value"))
      .writeStream.format("memory").queryName("hist_bins")
      .outputMode("complete").start()
    try {
      mem.addData(rows.take(13)); q.processAllAvailable()
      mem.addData(rows.drop(13)); q.processAllAvailable()
      val streamed = spark.table("hist_bins")
        .orderBy("day_us", "bin").collect().toSeq
      val batch = rows.toDF("day_us", "value")
        .select(col("day_us"),
          least(greatest(floor(col("value")).cast("long"), lit(0L)), lit(1023L)).as("bin"))
        .groupBy("day_us", "bin").agg(count(lit(1)).as("cnt"))
        .orderBy("day_us", "bin").collect().toSeq
      assert(streamed == batch, "stream bins must equal the batch histogram")
      assert(streamed.length <= 2 * 1024)
    } finally q.stop()
  }

  test("soak record self-diagnoses a starved run (batches<=1 on a multi-second soak)") {
    import graft.streaming.Soak
    // BENCH_r10 regression: 0 rows / 1 batch recorded as silent success
    val starved = Soak.SoakResult(seconds = 30.0, inputRows = 0, evPerSec = 0,
      stateRowsMax = 0, stateRowsLast = 0, attacks = 0, batches = 1,
      firstBatchSec = 30.0)
    assert(starved.contended)
    assert(Soak.json(starved).contains("\"contended\":true"))
    assert(Soak.json(starved).contains("\"first_batch_s\":30.0"))
    val healthy = starved.copy(inputRows = 56000, batches = 40, firstBatchSec = 0.8)
    assert(!healthy.contended)
    assert(Soak.json(healthy).contains("\"contended\":false"))
    // a deliberately tiny smoke soak (seconds < 5) is not "contended"
    assert(!starved.copy(seconds = 2.0).contended)
  }
}
