package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.functions.call_function

/** Programmatic registration of graft's native expressions into a session's
  * FunctionRegistry (the SparkSessionExtensions path in [[GraftExtensions]]
  * does the same for spark.sql.extensions-configured clusters).
  */
object GraftFunctions {

  // Literal params go through Number: a SQL caller's `10` parses as
  // IntegerType (java.lang.Integer), a `10L`-shaped BIGINT as Long — a
  // direct asInstanceOf[Long/Int] ClassCastExceptions on the other one.
  private[functions] val builders: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "graft_cosine" -> { args => QuantizedCosine(args(0), args(1)) },
    "graft_simhash64" -> { args => SimHash64(args(0)) },
    "graft_simhash64_md5" -> { args => SimHash64(args(0), md5Parity = true) },
    "graft_rolling_hash" -> { args => RollingHash(args(0)) },
    "graft_minhash_sig" -> { args => MinHashSig(args(0)) },
    "graft_minhash_sig_md5" -> { args => MinHashSig(args(0), md5Parity = true) },
    "graft_cep_fold" -> { args =>
      CepFold(args(0), args(1).eval().asInstanceOf[Number].longValue,
        args(2).eval().asInstanceOf[Number].longValue,
        greedy = args.length > 3 && args(3).eval() == true,
        optional = args.length > 4 && args(4).eval() == true) },
    "graft_cep_neg_fold" -> { args =>
      CepNegFold(args(0), args(1).eval().asInstanceOf[Number].longValue,
        args(2).eval().asInstanceOf[Number].longValue,
        flush = args.length <= 3 || args(3).eval() == true) },
    "graft_cep_fold_chain" -> { args =>
      CepFoldChain(args(0), args(1).eval().asInstanceOf[Number].longValue,
        args(2).eval().asInstanceOf[Number].longValue,
        args(3).eval().asInstanceOf[Number].intValue) },
    "graft_word_shingles" -> { args =>
      WordShingles(args(0), args(1).eval().asInstanceOf[Number].intValue) },
    "graft_pq_adc" -> { args => PqAdc(args(0), args(1)) },
    "graft_phash64" -> { args => PHash64(args(0)) },
    "graft_byte_affine" -> { args =>
      ByteAffine(args(0), args(1).eval().asInstanceOf[Number].intValue,
        args(2).eval().asInstanceOf[Number].intValue,
        args(3).eval().asInstanceOf[Number].intValue) },
    "graft_ln" -> { args => PortableLn(args(0)) },
    "graft_nfc" -> { args => NfcNormalize(args(0)) },
    "graft_from_json" -> { args => JsonBytesToStruct(args(0), args(1).eval().toString) },
    "graft_mg_topk" -> { args =>
      MisraGriesTopK(args(0), args(1).eval().asInstanceOf[Number].intValue)
        .toAggregateExpression() },
    "graft_bloom" -> { args =>
      BloomAgg(args(0), args(1).eval().asInstanceOf[Number].intValue,
        args(2).eval().asInstanceOf[Number].intValue).toAggregateExpression() },
    "graft_bloom_contains" -> { args =>
      BloomMightContain(args(0), args(1), args(2).eval().asInstanceOf[Number].intValue) },
    "graft_theta" -> { args =>
      ThetaSketchAgg(args(0), args(1).eval().asInstanceOf[Number].intValue)
        .toAggregateExpression() },
    "graft_theta_est" -> { args => ThetaEstimate(args(0)) },
    "graft_theta_intersect_est" -> { args =>
      ThetaIntersectEstimate(args(0), args(1)) },
    "graft_theta_anotb_est" -> { args =>
      ThetaANotBEstimate(args(0), args(1)) },
    "graft_theta_union" -> { args =>
      // optional k: pass the STORE's nominalEntries when re-merging
      // sketches built with k > 4096 (a smaller union downsamples them)
      ThetaUnionAgg(args(0),
        if (args.length > 1) args(1).eval().asInstanceOf[Number].intValue
        else ThetaSketches.DefaultNominal).toAggregateExpression() }
  )

  /** Idempotent: SparkEntry calls it on every query, so a function the
    * session already holds is left as it is (re-registering replaces it
    * and logs a WARN per function), and a rule class already present is
    * not added again.
    */
  def register(spark: SparkSession): Unit = {
    registerMissing(spark, builders)
    def missing[T](have: Seq[T], built: Seq[T]): Seq[T] =
      built.filterNot(b => have.exists(_.getClass == b.getClass))
    val ex = spark.experimental
    ex.extraOptimizations ++=
      missing(ex.extraOptimizations, graft.plans.GraftRules.optimizerRules.map(_(spark)))
    ex.extraStrategies ++=
      missing(ex.extraStrategies, graft.plans.GraftRules.strategies.map(_(spark)))
  }

  /** Make one function resolvable on ANY session, registered or not.
    * Public API that calls a graft function goes through it: e.g.
    * [[graft.operators.PortableHll.estimate]]'s linear-counting branch
    * needs `graft_ln`, and `StreamingAnomaly.parse` needs
    * `graft_from_json`; a hidden whole-registry precondition would break
    * callers that never touched GraftSession/GraftExtensions. Idempotent.
    */
  def ensure(spark: SparkSession, name: String): Unit =
    registerMissing(spark, builders.filter(_._1 == name))

  private def registerMissing(spark: SparkSession,
      fns: Seq[(String, Seq[Expression] => Expression)]): Unit = {
    val registry = spark.sessionState.functionRegistry
    fns.foreach { case (name, builder) =>
      if (!registry.functionExists(FunctionIdentifier(name)))
        registry.registerFunction(
          FunctionIdentifier(name),
          new ExpressionInfo("graft.functions", name),
          builder)
    }
  }

  // Column-API wrappers (require register() / GraftExtensions on the session).
  def graftCosine(a: Column, b: Column): Column = call_function("graft_cosine", a, b)
  def graftSimHash64(tokens: Column, md5Parity: Boolean = false): Column =
    call_function(if (md5Parity) "graft_simhash64_md5" else "graft_simhash64", tokens)
  def graftRollingHash(s: Column): Column = call_function("graft_rolling_hash", s)
  def graftMinHashSig(tokens: Column, md5Parity: Boolean = false): Column =
    call_function(if (md5Parity) "graft_minhash_sig_md5" else "graft_minhash_sig", tokens)
  def graftWordShingles(text: Column, k: Int): Column =
    call_function("graft_word_shingles", text, org.apache.spark.sql.functions.lit(k))
  def graftPqAdc(codes: Column, lut: Column): Column =
    call_function("graft_pq_adc", codes, lut)
  def graftLn(x: Column): Column = call_function("graft_ln", x)
  def graftCepFold(evs: Column, minTimes: Long, withinUs: Long,
      greedy: Boolean = false, optional: Boolean = false): Column =
    call_function("graft_cep_fold", evs,
      org.apache.spark.sql.functions.lit(minTimes),
      org.apache.spark.sql.functions.lit(withinUs),
      org.apache.spark.sql.functions.lit(greedy),
      org.apache.spark.sql.functions.lit(optional))
  def graftCepNegFold(evs: Column, minTimes: Long, withinUs: Long,
      flush: Boolean = true): Column =
    call_function("graft_cep_neg_fold", evs,
      org.apache.spark.sql.functions.lit(minTimes),
      org.apache.spark.sql.functions.lit(withinUs),
      org.apache.spark.sql.functions.lit(flush))
  def graftCepFoldChain(evs: Column, minTimes: Long, withinUs: Long,
      nMids: Int): Column =
    call_function("graft_cep_fold_chain", evs,
      org.apache.spark.sql.functions.lit(minTimes),
      org.apache.spark.sql.functions.lit(withinUs),
      org.apache.spark.sql.functions.lit(nMids))
  def graftNfc(s: Column): Column = call_function("graft_nfc", s)
  def graftFromJson(json: Column, schema: org.apache.spark.sql.types.StructType): Column =
    call_function("graft_from_json", json, org.apache.spark.sql.functions.lit(schema.toDDL))
  def graftPHash64(payload: Column): Column =
    call_function("graft_phash64", payload)
  def graftByteAffine(payload: Column, mul: Int, add: Int, drop: Int): Column =
    call_function("graft_byte_affine", payload,
      org.apache.spark.sql.functions.lit(mul),
      org.apache.spark.sql.functions.lit(add),
      org.apache.spark.sql.functions.lit(drop))
  def graftMgTopK(tokens: Column, k: Int): Column =
    call_function("graft_mg_topk", tokens, org.apache.spark.sql.functions.lit(k))
  def graftBloom(c: Column, m: Int, k: Int): Column =
    call_function("graft_bloom", c, org.apache.spark.sql.functions.lit(m),
      org.apache.spark.sql.functions.lit(k))
  def graftBloomContains(words: Column, value: Column, k: Int): Column =
    call_function("graft_bloom_contains", words, value,
      org.apache.spark.sql.functions.lit(k))
  def graftTheta(c: Column, nominalEntries: Int): Column =
    call_function("graft_theta", c, org.apache.spark.sql.functions.lit(nominalEntries))
  def graftThetaEst(sk: Column): Column = call_function("graft_theta_est", sk)
  def graftThetaIntersectEst(a: Column, b: Column): Column =
    call_function("graft_theta_intersect_est", a, b)
  def graftThetaANotBEst(a: Column, b: Column): Column =
    call_function("graft_theta_anotb_est", a, b)
  def graftThetaUnion(sk: Column): Column = call_function("graft_theta_union", sk)
  def graftThetaUnion(sk: Column, nominalEntries: Int): Column =
    call_function("graft_theta_union", sk,
      org.apache.spark.sql.functions.lit(nominalEntries))
}
