package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Engine-portable HyperLogLog (p = 10, m = 1024 registers) — the mergeable
  * distinct-count sketch with a twist the native sketches can't offer: the
  * whole pipeline (hash → register index → rank → register max → estimate)
  * is defined over md5 + string/integer ops that Spark and DuckDB implement
  * identically, so the ESTIMATE ITSELF is hash-exact gateable, not just
  * rows-only "some number came out".
  *
  * Layout of the md5 hex digest (32 lowercase hex chars, identical UTF-8
  * digest in both engines):
  *   - chars 1-3  (12 bits): register index j = value mod 1024 (4096 = 4·1024,
  *     so the mod is exactly uniform);
  *   - chars 4-16 (52 bits): rank word w; rho = (leading zero BITS of the
  *     52-bit word) + 1, computed with zero numeric conversion as
  *     4·(leading zero HEX chars) + (zeros in the first non-zero char) + 1.
  *     All-zero word → rho = 53 falls out of the same formula.
  *
  * The register sum Σ 2^(-M[j]) — the one floating-point order hazard in
  * classic HLL — is computed EXACTLY: scaled by 2^52 it is an integer
  * Σ 2^(52-M[j]) ≤ 1024·2^52 < 2^63, a plain long SUM (order-free), with the
  * V empty registers contributing V·2^52. The estimate is then a fixed
  * left-to-right chain of IEEE double ops both engines fold identically,
  * with Flajolet's linear-counting small-range correction on integer-arg
  * ln (1024·(ln 1024 − ln V)) — the validated cross-engine ln domain.
  * No large-range correction: ranks come from a 52-bit word, so the 2^32/30
  * hash-collision regime of the 32-bit original is unreachable.
  *
  * Scale shape: `registers` is ONE map-side-combined shuffle whose key space
  * is |groups|·1024 regardless of fact cardinality — the sketch property.
  * Registers merge by MAX, so per-day register tables union into any span
  * after the fact without rescanning events (`ev_hll_daily_union` gates the
  * merge: Spark folds daily registers, the oracle sketches the span
  * directly, and the hash equality IS the merge==direct proof).
  */
object PortableHll {

  val M = 1024
  private val EMPTY = 1L << 52 // an empty register's scaled 2^(-0)

  /** Register index from hex chars 1-3. */
  def regIndex(key: Column): Column =
    conv(substring(md5(key.cast("string")), 1, 3), 16, 10).cast("long") % M

  /** Rank (rho) from hex chars 4-16, pure string ops. */
  def rank(key: Column): Column = {
    val t = ltrim(substring(md5(key.cast("string")), 4, 13), "0")
    val lz4 = substring(t, 1, 1) // '' (all-zero word) lands in otherwise(0)
    (lit(13) - length(t)) * 4 +
      when(lz4 === "1", 3).when(lz4.isin("2", "3"), 2)
        .when(lz4.isin("4", "5", "6", "7"), 1).otherwise(0) + 1
  }

  /** Per-group register table: (grpCols..., j, mj). The only fact-scale
    * shuffle; map-side MAX combine caps it at |groups|·1024 rows.
    */
  def registers(df: DataFrame, grpCols: Seq[String], key: Column): DataFrame =
    df.select(grpCols.map(col) :+ regIndex(key).as("j") :+ rank(key).as("rho"): _*)
      .groupBy((grpCols :+ "j").map(col): _*)
      .agg(max(col("rho")).as("mj"))

  /** Fold a register table to (grpCols..., est) — `est` is the DOUBLE
    * estimate, bit-identical to the oracle's.
    */
  def estimate(regs: DataFrame, grpCols: Seq[String]): DataFrame = {
    // rho can reach 53 (all-zero 52-bit word, p ~ 2^-52 per key): an
    // unclamped 52-mj = -1 shift is UB in both engines (Java masks it to
    // 1<<63 = Long.MIN_VALUE, DuckDB raises) — clamp to 0, costing < 1
    // ulp of the register sum (treats rho 53 as 52)
    val folded = regs
      .groupBy(grpCols.map(col): _*)
      .agg(sum(expr(
        "shiftleft(CAST(1 AS BIGINT), greatest(CAST(52 - mj AS INT), 0))")).as("sp"),
        count(lit(1)).as("filled"))
    val v = lit(M.toLong) - col("filled")
    val s = col("sp") + v * lit(EMPTY)
    val raw = (lit(0.7213) / (lit(1.0) + lit(1.079) / lit(1024.0))) *
      lit(1048576.0) * lit(4.503599627370496e15) / s.cast("double")
    // linear counting goes through graft_ln (java.lang.Math.log — libm
    // parity with DuckDB's LN), NOT the builtin log (StrictMath/fdlibm,
    // measured last-ulp off libm on some integer args): this branch is
    // the active regime at small cardinalities and backs hash gates.
    // ensure: estimate() is public API — it must resolve on sessions
    // that never went through GraftSession/register()
    graft.functions.GraftFunctions.ensure(regs.sparkSession, "graft_ln")
    def ln(c: Column): Column = graft.functions.GraftFunctions.graftLn(c)
    folded.select(grpCols.map(col) :+
      when(raw <= lit(2560.0) && v > 0,
        lit(1024.0) * (ln(lit(1024.0)) - ln(v.cast("double"))))
        .otherwise(raw).as("est"): _*)
  }

  /** One-shot grouped estimate over a frame. */
  def groupedEstimate(df: DataFrame, grpCols: Seq[String], key: Column): DataFrame =
    estimate(registers(df, grpCols, key), grpCols)

  // ---- DuckDB oracle fragments (identical math, hex polynomial for conv) --

  /** CTE chain computing (g, est) from `from`, grouping by `grpExpr`
    * (aliased g) and sketching `keyExpr`. `pfx` keeps multiple instances'
    * CTE names disjoint inside one oracle.
    */
  def sqlEstimateCte(pfx: String, from: String, grpExpr: String, keyExpr: String): String =
    s"""${pfx}_h AS (
       |  SELECT $grpExpr AS g, md5(CAST($keyExpr AS VARCHAR)) AS h FROM $from),
       |${pfx}_t AS (
       |  SELECT g,
       |         ((strpos('0123456789abcdef', substr(h, 1, 1)) - 1) * 256
       |          + (strpos('0123456789abcdef', substr(h, 2, 1)) - 1) * 16
       |          + (strpos('0123456789abcdef', substr(h, 3, 1)) - 1)) % 1024 AS j,
       |         ltrim(substr(h, 4, 13), '0') AS t FROM ${pfx}_h),
       |${pfx}_regs AS (
       |  SELECT g, j,
       |         MAX((13 - length(t)) * 4
       |             + CASE WHEN substr(t, 1, 1) = '1' THEN 3
       |                    WHEN substr(t, 1, 1) IN ('2', '3') THEN 2
       |                    WHEN substr(t, 1, 1) IN ('4', '5', '6', '7') THEN 1
       |                    ELSE 0 END + 1) AS mj
       |  FROM ${pfx}_t GROUP BY g, j),
       |${pfx}_s AS (
       |  SELECT g,
       |         CAST(SUM(1::BIGINT << GREATEST(52 - mj, 0)) AS BIGINT)
       |           + (1024 - COUNT(*)) * 4503599627370496 AS s,
       |         1024 - COUNT(*) AS v
       |  FROM ${pfx}_regs GROUP BY g),
       |${pfx}_est AS (
       |  SELECT g,
       |         CASE WHEN raw <= 2.56E3 AND v > 0
       |              THEN 1.024E3 * (LN(1024) - LN(v))
       |              ELSE raw END AS est
       |  FROM (SELECT g, v,
       |               (7.213E-1 / (1E0 + 1.079E0 / 1.024E3)) * 1.048576E6
       |                 * 4.503599627370496E15 / CAST(s AS DOUBLE) AS raw
       |        FROM ${pfx}_s))""".stripMargin
}
