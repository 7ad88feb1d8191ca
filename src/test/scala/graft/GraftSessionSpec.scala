package graft

import org.scalatest.funsuite.AnyFunSuite

class GraftSessionSpec extends AnyFunSuite {
  private val cores = Runtime.getRuntime.availableProcessors.toString

  test("shuffle partitions take the leading integer of SPARK_GRAFT_CPUS") {
    assert(GraftSession.shufflePartitions("4") == "4")
    assert(GraftSession.shufflePartitions("4,2") == "4")
    assert(GraftSession.shufflePartitions(" 16 ") == "16")
  }

  test("shuffle partitions fall back to the core count without a usable integer") {
    Seq("*", "*,3", "0", "0,2", "", "four", "-2", "99999999999").foreach { v =>
      assert(GraftSession.shufflePartitions(v) == cores, s"SPARK_GRAFT_CPUS=$v")
    }
  }
}
