package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{TimestampNTZType, TimestampType}

import graft.sources.Tables

/** The driver regenerates testdata between rounds and the parquet temporal
  * encoding has already changed once (TIMESTAMP(NANOS) -> TIMESTAMP(MICROS,
  * isAdjustedToUTC=false), which Spark reads as TIMESTAMP_NTZ and which
  * unix_micros() rejects — it crashed seven gate queries in round 7).
  * Tables.t must yield a session-TZ TIMESTAMP with the same instant for
  * every encoding a generator may produce.
  */
class TablesSpec extends SparkSpecBase {

  private val wantUs = 1700000000000000L // 2023-11-14T22:13:20Z

  private def roundtrip(write: String => Unit): Long = {
    val tmp = Files.createTempDirectory("graft-tables").toString
    write(s"$tmp/events.parquet")
    val got = Tables.t(spark, tmp, "events")
    assert(got.schema("ts").dataType == TimestampType,
      s"ts not normalized: ${got.schema("ts").dataType}")
    got.select(unix_micros(col("ts"))).head.getLong(0)
  }

  test("plain TIMESTAMP column passes through") {
    val us = roundtrip { p =>
      spark.range(1).select(lit(1L).as("event_id"),
        timestamp_micros(lit(wantUs)).as("ts"))
        .write.mode("overwrite").parquet(p)
    }
    assert(us == wantUs)
  }

  test("TIMESTAMP_NTZ column is cast to a UTC instant") {
    val us = roundtrip { p =>
      spark.range(1).select(lit(1L).as("event_id"),
        timestamp_micros(lit(wantUs)).cast(TimestampNTZType).as("ts"))
        .write.mode("overwrite").parquet(p)
    }
    assert(us == wantUs)
  }

  test("legacy nanos-as-long events.ts converts with integer division") {
    val us = roundtrip { p =>
      spark.range(1).select(lit(1L).as("event_id"),
        lit(wantUs * 1000L + 999L).as("ts")) // nanos, sub-us dropped by div
        .write.mode("overwrite").parquet(p)
    }
    assert(us == wantUs)
  }

  test("double-array embedding column normalizes to array<float>") {
    val tmp = Files.createTempDirectory("graft-tables3").toString
    spark.range(1).select(lit(7L).as("vec_id"),
      array(lit(0.5d), lit(0.25d)).as("embedding"), lit(1).as("label"))
      .write.mode("overwrite").parquet(s"$tmp/embeddings.parquet")
    val got = Tables.t(spark, tmp, "embeddings")
    got.schema("embedding").dataType match {
      case org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.FloatType, _) => ()
      case other => fail(s"embedding not normalized to array<float>: $other")
    }
    assert(got.selectExpr("element_at(embedding, 1)").head.getFloat(0) == 0.5f)
  }

  test("non-events tables normalize NTZ columns too") {
    val tmp = Files.createTempDirectory("graft-tables2").toString
    spark.range(1).select(lit(1L).as("l_orderkey"),
      timestamp_micros(lit(wantUs)).cast(TimestampNTZType).as("l_shipdate"))
      .write.mode("overwrite").parquet(s"$tmp/lineitem.parquet")
    val got = Tables.t(spark, tmp, "lineitem")
    assert(got.schema("l_shipdate").dataType == TimestampType)
    assert(got.select(unix_micros(col("l_shipdate"))).head.getLong(0) == wantUs)
  }

  test("spreadTo: a scan with fewer files than cores spreads to one partition per core") {
    assert(Tables.spreadTo(files = 1, target = 2) == Some(2))
    assert(Tables.spreadTo(files = 1, target = 4) == Some(4))
    assert(Tables.spreadTo(files = 4, target = 4) == None)
    // non-file frames report 0 files and are left alone at any core count
    for (n <- Seq(1, 2, 4, 32)) assert(Tables.spreadTo(files = 0, target = n) == None)
  }

  test("spread passes a streaming frame and a non-file frame through untouched") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val stream = MemoryStream[Long].toDF()
    assert(Tables.spread(stream) eq stream)
    val range = spark.range(10).toDF()
    assert(Tables.spread(range) eq range)
  }
}
