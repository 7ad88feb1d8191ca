package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all specs (one JVM under Test/fork). */
object SharedSession {
  lazy val spark: SparkSession = {
    // the engine's own settings at a fixed 4 cores, whatever the
    // machine: tests see the same session config as Bench and the tools
    val s = GraftSession.builder("graft-test", cpus = "4").getOrCreate()
    functions.GraftFunctions.register(s)
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

abstract class SparkSpecBase extends AnyFunSuite {
  lazy val spark: SparkSession = SharedSession.spark
  val sf0001 = "/root/testdata/sf0.001"
}
