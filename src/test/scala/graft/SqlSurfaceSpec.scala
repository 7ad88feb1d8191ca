package graft

import org.apache.spark.sql.functions._

import graft.operators.Analytics
import graft.sources.Tables

/** The engine's SQL front door: `Tables.registerAll` + the registered
  * graft_* native functions must let a pure-`spark.sql` user express the
  * same queries the DataFrame API builds, with identical results — the
  * reference's users drive everything through a query surface, so parity
  * here is part of "a user could switch".
  */
class SqlSurfaceSpec extends SparkSpecBase {
  import spark.implicits._

  test("registered views + SQL reproduce the q1 DataFrame results exactly") {
    Tables.registerAll(spark, sf0001)
    // the SQL mirrors the engine's exact-cents arithmetic (Exact.cents /
    // rollupCents): integer cents summed, decimal-division unscale — the
    // sums are exact integers either way, so SQL and DataFrame agree
    // bit-for-bit
    val sql = spark.sql(
      """SELECT l_returnflag, l_linestatus,
        |       CAST(CAST(SUM(CAST(FLOOR(l_quantity * 100 + 0.5) AS BIGINT))
        |                 AS DECIMAL(38,0)) / 100 AS DOUBLE) AS sum_qty
        |FROM lineitem
        |WHERE l_shipdate <= '2000-12-01'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin)
      .collect().map(r => (r.getString(0), r.getString(1), r.getDouble(2)))
    val df = Analytics.q1PricingSummary(spark, sf0001)
      .select("l_returnflag", "l_linestatus", "sum_qty")
      .collect().map(r => (r.getString(0), r.getString(1), r.getDouble(2)))
    assert(sql.toSeq == df.toSeq)
  }

  test("SQL over parquet.`path` gets the metadata-only aggregate answer") {
    import graft.sources.Layout
    val base = java.nio.file.Files.createTempDirectory("graft-sqlmagg").toString
    val path = s"$base/t"
    (0 until 2000).map(i => (i.toLong, (i * 3 % 101).toLong)).toDF("k", "v")
      .repartition(4).write.mode("overwrite").parquet(path)
    Layout.writeManifest(spark, path, Seq("k", "v"))
    val q = spark.sql(
      s"SELECT count(*) AS n, min(k) AS mink, max(v) AS maxv FROM parquet.`$path`")
    // the SQL route builds the same LogicalRelation shape, so ManifestAgg
    // must answer it from the manifest — LocalRelation, no file relation
    assert(q.queryExecution.optimizedPlan.collectFirst {
      case l: org.apache.spark.sql.catalyst.plans.logical.LocalRelation => l
    }.isDefined, s"expected metadata answer, got:\n${q.queryExecution.optimizedPlan}")
    val r = q.head()
    assert(r.getLong(0) == 2000 && r.getLong(1) == 0 && r.getLong(2) == 100)
  }

  test("graft native functions are callable from SQL over registered views") {
    Tables.registerAll(spark, sf0001)
    // shingles + minhash signature from pure SQL — the custom Catalyst
    // expressions resolve through the session FunctionRegistry
    val n = spark.sql(
      """SELECT doc_id,
        |       size(graft_word_shingles(text, 5)) AS n_sh,
        |       size(graft_minhash_sig(graft_word_shingles(text, 5))) AS n_sig
        |FROM documents
        |WHERE size(graft_word_shingles(text, 5)) > 0""".stripMargin)
    val rows = n.collect()
    assert(rows.nonEmpty)
    assert(rows.forall(_.getInt(2) == graft.functions.MinHashSig.NumPerm))
    // the ADC lookup expression resolves from SQL too
    val adc = spark.sql(
      "SELECT graft_pq_adc(array(1, 0), array(CAST(10.0 AS DOUBLE), 20.0, 30.0, 40.0))")
      .first().getDouble(0)
    assert(adc == 20.0 + 30.0) // lut[0*2+1] + lut[1*2+0]
    // spot-check against the Column API on the same docs
    val api = Tables.t(spark, sf0001, "documents")
      .select(col("doc_id"),
        size(graft.functions.GraftFunctions.graftWordShingles(col("text"), 5)).as("n_sh"))
      .filter(col("n_sh") > 0)
      .collect().map(r => (r.getLong(0), r.getInt(1))).toMap
    assert(rows.forall(r => api(r.getLong(0)) == r.getInt(1)))
    // r13 expressions resolve from SQL: the perceptual hash over a binary
    // payload, and the three CEP folds (positive with the optional
    // quantifier flags, negative with the flush flag, the chain with its
    // middle count)
    val ph = spark.sql(
      "SELECT graft_phash64(CAST(text AS BINARY)) AS ph FROM documents LIMIT 5")
      .collect().map(_.getLong(0))
    assert(ph.length == 5)
    val cepEvs = "array(struct(10L AS t, 1L AS id, false AS isn), " +
      "struct(20L AS t, 2L AS id, false AS isn), " +
      "struct(30L AS t, 3L AS id, true AS isn))"
    val pos = spark.sql(
      s"SELECT graft_cep_fold($cepEvs, 2L, 100L, false, false) AS m")
      .first().getSeq[org.apache.spark.sql.Row](0)
    assert(pos.map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      == Seq((10L, 20L, 30L, 2L)))
    val negEvs = "array(struct(10L AS t, 1L AS id, false AS isb), " +
      "struct(20L AS t, 2L AS id, false AS isb))"
    val neg = spark.sql(
      s"SELECT graft_cep_neg_fold($negEvs, 2L, 100L, true) AS m")
      .first().getSeq[org.apache.spark.sql.Row](0)
    assert(neg.map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      == Seq((10L, 20L, 110L, 2L)))
    val chainEvs = "array(struct(10L AS t, 1L AS id, 0 AS k), " +
      "struct(20L AS t, 2L AS id, 0 AS k), " +
      "struct(25L AS t, 3L AS id, 1 AS k), " +
      "struct(30L AS t, 4L AS id, 2 AS k))"
    val chain = spark.sql(
      s"SELECT graft_cep_fold_chain($chainEvs, 2L, 100L, 1) AS m")
      .first().getSeq[org.apache.spark.sql.Row](0)
    assert(chain.map(r => (r.getLong(0), r.getLong(1), r.getSeq[Long](2),
      r.getLong(3))) == Seq((10L, 20L, Seq(25L), 30L)))
  }

  test("graft_bloom resolves from SQL; distributed build equals single-partition build") {
    Tables.registerAll(spark, sf0001)
    // the OR-merge is associative, so the filter must be IDENTICAL no
    // matter how many partials built it
    def words(df: org.apache.spark.sql.DataFrame): Seq[Long] = df
      .selectExpr("graft_bloom(doc_id, 4096, 7) AS w")
      .head().getSeq[Long](0)
    val docs = Tables.t(spark, sf0001, "documents")
    val w1 = words(docs.repartition(1))
    val w8 = words(docs.repartition(8))
    assert(w1 == w8, "bloom words diverged across partition layouts")
    // every inserted key probes positive; a far-away key probes negative
    val arr = w1.toArray
    val ids = docs.select("doc_id").collect().map(_.getLong(0))
    assert(ids.forall(id => graft.functions.Bloom.mightContain(
      arr, 4096, 7, graft.functions.Bloom.hashesOfLong(id))))
    assert(!graft.functions.Bloom.mightContain(
      arr, 4096, 7, graft.functions.Bloom.hashesOfLong(987654321L)))
  }

  test("bloom-filtered join: exact result, probe side cut before the shuffle") {
    import spark.implicits._
    import graft.operators.BloomJoin
    // probe: 20k rows over 2k keys; build: 50 keys -> a selective join
    val probe = spark.range(20000)
      .select((col("id") % 2000).as("key"), col("id").as("payload"))
    val build = spark.range(50).select(col("id").as("key"), (col("id") * 10).as("attr"))
    val plain = probe.join(build, Seq("key"))
      .select("key", "payload", "attr").as[(Long, Long, Long)].collect().toSet
    val bloomed = BloomJoin.bloomFilteredJoin(probe, build, "key")
      .select("key", "payload", "attr").as[(Long, Long, Long)].collect().toSet
    assert(bloomed == plain, "bloom-filtered join changed the join result")
    // the measurable point: the pre-filter kills non-matching rows before
    // any exchange — ~50/2000 of the probe survives (+ fp slack)
    val cut = BloomJoin.filterSide(probe, build.select("key"), "key").count()
    val matching = 20000L * 50 / 2000
    assert(cut >= matching && cut <= matching * 2,
      s"expected ~$matching probe rows after the bloom cut, got $cut")
    // string keys run the same path
    val probeS = spark.range(5000).select(concat(lit("k"), col("id") % 500).as("key"))
    val buildS = spark.range(20).select(concat(lit("k"), col("id")).as("key"))
    val cutS = BloomJoin.filterSide(probeS, buildS, "key").count()
    assert(cutS >= 200 && cutS <= 400, s"string-key cut: $cutS")
  }

  test("graft_nfc and graft_ln resolve from pure SQL with Column-API parity") {
    Tables.registerAll(spark, sf0001)
    // NFC from SQL: decomposed sequence composes, ASCII is identity
    val r = spark.sql(
      "SELECT graft_nfc('e\\u0301clair') AS a, graft_nfc('plain') AS b")
      .first()
    assert(r.getString(0) == "\u00e9clair" && r.getString(1) == "plain")
    // the doc_normalize canonical fingerprint agrees between SQL and the
    // Column API on the real corpus
    val sqlFp = spark.sql(
      """SELECT doc_id, md5(trim(regexp_replace(regexp_replace(graft_nfc(text),
        |  '[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F\\x7F]', ''), '[ \\t\\r\\n]+', ' '))) AS fp
        |FROM documents""".stripMargin)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val api = graft.sources.Tables.t(spark, sf0001, "documents")
      .select(col("doc_id"),
        md5(graft.operators.TextOps.normalizeCanon(col("text"))).as("fp"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(sqlFp == api)
    // graft_ln parity with the expression API
    val ln = spark.sql("SELECT graft_ln(CAST(2.5 AS DOUBLE)) AS l").first().getDouble(0)
    assert(ln == java.lang.Math.log(2.5))
  }

  test("graft_theta resolves from SQL; intersect estimate matches the Column API") {
    import graft.functions.GraftFunctions.{graftTheta, graftThetaIntersectEst}
    val docs = graft.sources.Tables.t(spark, sf0001, "documents")
      .select(col("doc_id"), (col("doc_id") % 2).as("half"))
    docs.createOrReplaceTempView("theta_in")
    val sql = spark.sql(
      """SELECT graft_theta_intersect_est(a.sk, b.sk) AS est FROM
        |  (SELECT graft_theta(doc_id, 256) AS sk FROM theta_in WHERE half = 0) a,
        |  (SELECT graft_theta(doc_id, 256) AS sk FROM theta_in WHERE half = 1) b
        |""".stripMargin).collect().head.getDouble(0)
    val a = docs.filter(col("half") === 0).agg(graftTheta(col("doc_id"), 256).as("sk"))
    val b = docs.filter(col("half") === 1).agg(graftTheta(col("doc_id"), 256).as("sk"))
    val api = a.crossJoin(b.withColumnRenamed("sk", "sk2"))
      .select(graftThetaIntersectEst(col("sk"), col("sk2")).as("est"))
      .collect().head.getDouble(0)
    assert(sql == api, s"SQL $sql vs Column API $api")
    assert(sql == 0.0, "disjoint halves must intersect to exactly zero in exact mode")
  }

  test("graft_theta_union and graft_theta_anotb_est resolve from SQL") {
    graft.sources.Tables.t(spark, sf0001, "documents")
      .select(col("doc_id"), (col("doc_id") % 3).as("seg"))
      .createOrReplaceTempView("theta_u_in")
    // build per-segment sketches, re-merge two of them via the union
    // aggregate, and subtract the third — pure SQL end to end
    val est = spark.sql(
      """WITH per AS (SELECT seg, graft_theta(doc_id, 256) AS sk
        |             FROM theta_u_in GROUP BY seg),
        |merged AS (SELECT graft_theta_union(sk) AS sk FROM per WHERE seg < 2),
        |third AS (SELECT sk FROM per WHERE seg = 2)
        |SELECT graft_theta_est(merged.sk) AS n01,
        |       graft_theta_anotb_est(merged.sk, third.sk) AS diff
        |FROM merged, third
        |""".stripMargin).collect().head
    val n01 = est.getDouble(0)
    val diff = est.getDouble(1)
    val exact01 = graft.sources.Tables.t(spark, sf0001, "documents")
      .filter(col("doc_id") % 3 < 2).count()
    assert(n01 == exact01.toDouble, s"union-merged estimate $n01 vs exact $exact01")
    // segments are disjoint, so A \ B == A in exact mode
    assert(diff == n01, s"disjoint A-not-B must equal |A|: $diff vs $n01")
  }

  test("graft_theta_union(sk, k) re-merges a large-k sketch store without downsampling") {
    import graft.functions.GraftFunctions.{graftTheta, graftThetaEst, graftThetaUnion}
    // 6000 distinct keys split into two stored k=8192 sketches: each half
    // is exact-mode, and ONLY a union at the store's k keeps the re-merge
    // exact — the default k=4096 union drops into estimation mode, the
    // silent-downsample hazard the optional parameter exists to close
    val halves = spark.range(6000)
      .select(col("id"), (col("id") % 2).as("half"))
      .groupBy("half").agg(graftTheta(col("id"), 8192).as("sk"))
    def estOf(merge: org.apache.spark.sql.Column): Double =
      halves.agg(graftThetaEst(merge).as("e")).collect().head.getDouble(0)
    val atStoreK = estOf(graftThetaUnion(col("sk"), 8192))
    val atDefault = estOf(graftThetaUnion(col("sk")))
    assert(atStoreK == 6000.0,
      s"k=8192 union of exact-mode halves must stay exact, got $atStoreK")
    assert(atDefault != 6000.0,
      "default-k union over 6000 distincts should downsample (estimation " +
        s"mode), got exact $atDefault — the hazard this test documents")
    // SQL surface takes the same optional argument
    halves.createOrReplaceTempView("theta_k_in")
    val sql = spark.sql(
      "SELECT graft_theta_est(graft_theta_union(sk, 8192)) AS e FROM theta_k_in")
      .collect().head.getDouble(0)
    assert(sql == 6000.0, s"SQL graft_theta_union(sk, 8192) gave $sql")
  }

  test("graft_from_json resolves from SQL with a DDL schema and matches from_json") {
    val rows = spark.sql(
      """SELECT graft_from_json(v, 'a STRING, b INT, c ARRAY<BIGINT>') AS g,
        |       from_json(v, 'a STRING, b INT, c ARRAY<BIGINT>') AS s
        |FROM VALUES ('{"a":"x","b":2,"c":[1,2]}'), ('{"a":{"k":1},"b":"no"}'),
        |            ('not json'), (NULL) AS t(v)""".stripMargin).collect()
    assert(rows.length == 4)
    rows.foreach(r => assert(r.get(0) == r.get(1), r))
    assert(rows(0).getStruct(0).getString(0) == "x" && rows(0).getStruct(0).getInt(1) == 2)
    assert(rows(3).isNullAt(0))
  }
}
