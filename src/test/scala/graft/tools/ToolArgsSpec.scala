package graft.tools

import org.scalatest.funsuite.AnyFunSuite

import graft.Verify

/** The mains' argument checks, which run before any session exists. */
class ToolArgsSpec extends AnyFunSuite {
  private val known = Set("q1_pricing_summary", "q3_shipping_priority", "doc_minhash_lsh")

  test("Verify without a filter covers every known query") {
    assert(Verify.select(known, None) == Right(known))
  }

  test("Verify's filter selects the named queries") {
    assert(Verify.select(known, Some("q1_pricing_summary,doc_minhash_lsh")) ==
      Right(Set("q1_pricing_summary", "doc_minhash_lsh")))
    assert(Verify.select(known, Some("doc_minhash_lsh")) == Right(Set("doc_minhash_lsh")))
  }

  test("Verify rejects an unknown name and lists the known ones") {
    val err = Verify.select(known, Some("q1_pricing_summary,nope")).left.toOption.get
    assert(err.contains("nope"))
    known.foreach(k => assert(err.contains(k)))
    assert(Verify.select(known, Some("")).isLeft)
  }

  test("Audit selects every query by default, else the named ones, and rejects an unknown one") {
    assert(Audit.selection(Seq("/data/sf"), known) == Right(known))
    assert(Audit.selection(Seq("/data/sf", "q1_pricing_summary", "doc_minhash_lsh"), known) ==
      Right(Set("q1_pricing_summary", "doc_minhash_lsh")))
    assert(Audit.selection(Seq("/data/sf", "q1_pricing_summary,doc_minhash_lsh"), known) ==
      Right(Set("q1_pricing_summary", "doc_minhash_lsh")))
    assert(Audit.selection(Seq("/data/sf", "doc_minhash_lsh", "nope"), known)
      .left.toOption.exists(_.contains("unknown query nope")))
  }

  private def exp(reps: String, queries: String, a: String, b: String) =
    Exp.parse(Seq("/data/sf", reps, queries, a, b), known)

  test("Exp parses queries, reps and both conf sets") {
    assert(exp("5", "q3_shipping_priority,q1_pricing_summary", "-",
        "spark.sql.autoBroadcastJoinThreshold=-1;spark.sql.adaptive.enabled = false") ==
      Right(Exp.Args("/data/sf", 5, Seq("q3_shipping_priority", "q1_pricing_summary"),
        Nil, Seq("spark.sql.autoBroadcastJoinThreshold" -> "-1",
          "spark.sql.adaptive.enabled" -> "false"))))
    assert(Exp.parseConf("k=") == Right(Seq("k" -> "")))
    assert(Exp.parseConf("k=a=b") == Right(Seq("k" -> "a=b")))
  }

  test("Exp rejects an unknown query, a non-positive reps and a malformed conf") {
    def rejected(e: Either[String, Exp.Args], msg: String) =
      assert(e.left.toOption.exists(_.contains(msg)), e)
    rejected(exp("3", "q3_shipping_priority,q99", "-", "-"), "unknown query q99")
    Seq("0", "-2", "x", "1.5", "").foreach(r =>
      rejected(exp(r, "q3_shipping_priority", "-", "-"), "reps must be a positive integer"))
    Seq("noequals", "=v", " =v", "a=1;;b=2", "a=1;b").foreach(c =>
      rejected(exp("3", "q3_shipping_priority", "-", c), "malformed conf entry"))
    rejected(Exp.parse(Seq("/data/sf", "3", "q3_shipping_priority", "-"), known), "usage")
  }
}
