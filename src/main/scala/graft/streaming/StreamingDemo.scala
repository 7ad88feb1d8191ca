package graft.streaming

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.streaming.Trigger

import graft.{GraftSession, Json}
import graft.sources.EventGen

/** Runnable end-to-end streaming pipeline: JSON event files in ->
  * CEP attack detection -> JSON results out. Mirrors the reference job's
  * topology with a file source standing in for Kafka (same serde, same
  * detection; swap `readStream.format("kafka")` in deployment).
  *
  * Usage: runMain graft.streaming.StreamingDemo <inDir> <outDir> [--gen N]
  */
object StreamingDemo {
  def main(args: Array[String]): Unit = {
    val inDir = args(0)
    val outDir = args(1)
    val gen = args.indexOf("--gen") match {
      case -1 => 0
      case i => args(i + 1).toInt
    }
    if (gen > 0) {
      Files.createDirectories(Paths.get(inDir))
      val events = EventGen.stream(seed = 11, n = gen)
      val json = events.map { e =>
        Seq(
          s""""event_type":"${e.event_type}"""", s""""ip_src":"${e.ip_src}"""",
          s""""ip_dst":"${e.ip_dst}"""", s""""port_src":"${e.port_src}"""",
          s""""port_dst":"${e.port_dst}"""", s""""ip_proto":"${e.ip_proto}"""",
          s""""timestamp_start":${e.timestamp_start}""",
          s""""timestamp_end":${e.timestamp_end}""",
          s""""packets":${e.packets}""", s""""bytes":${e.bytes}""",
          s""""writer_id":"${e.writer_id}"""",
          s""""text":${Json.str(e.text)}"""
        ).mkString("{", ",", "}")
      }
      Files.write(Paths.get(inDir, "events.jsonl"),
        json.mkString("\n").getBytes("UTF-8"))
    }

    val spark = GraftSession.get("graft-streaming-demo")
    import spark.implicits._
    val lines = spark.readStream.format("text").load(inDir)
    val attacks = StreamingAnomaly.detectAttacks(StreamingAnomaly.parse(lines))
    // downstream of detection, mirror the reference's two consumers of the
    // attack topic: the raw results sink (Kafka JSON sink analog) and the
    // incident-report generator (generate_report lambda analog) — ONE
    // foreachBatch fans each micro-batch to both (single source read,
    // batch_id= overwrite dirs for exactly-once content, like FanOut).
    val query = attacks.writeStream
      .option("checkpointLocation", s"$outDir/checkpoint")
      .trigger(Trigger.AvailableNow())
      .foreachBatch {
        (batch: org.apache.spark.sql.Dataset[graft.model.AttackResult], id: Long) =>
          val b = batch.persist()
          try {
            b.toDF().write.mode("overwrite").json(s"$outDir/attacks/batch_id=$id")
            b.map { a =>
              (a.target_ip, graft.operators.ReportOps.severityOf(a),
                graft.operators.ReportOps.render(a))
            }.toDF("target_ip", "severity", "report")
              .write.mode("overwrite").json(s"$outDir/reports/batch_id=$id")
          } finally { b.unpersist(); () }
      }
      .start()
    val t0 = System.nanoTime()
    query.awaitTermination()
    val secs = (System.nanoTime() - t0) / 1e9
    val n = spark.read.json(s"$outDir/attacks").count()
    val nRep = spark.read.json(s"$outDir/reports")
      .filter(org.apache.spark.sql.functions.col("severity") >= 1).count()
    val nIn = spark.read.text(inDir).count()
    println(f"[demo] attacks detected: $n; reports: $nRep; throughput: ${nIn / secs}%.0f events/s ($nIn events in $secs%.1f s)")
    spark.stop()
  }
}
