package graft.analytics

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Deterministic, mergeable HyperLogLog registers (Flajolet et al., 2007 —
  * public technique) with an engine-portable hash, as a PERSISTABLE sketch
  * table — the distinct-counting pattern that scales: per-shard/per-day
  * register tables are tiny (≤ 2^p rows per group), merge by register-wise
  * MAX (associative, order-free), and the estimate is one arithmetic
  * expression over the merged registers. `approx_count_distinct` gives the
  * same estimate transiently; what it cannot give is a sketch you store
  * next to each day's partition and fold over arbitrary date ranges
  * without re-reading data — that artifact is the point of this module.
  *
  * Everything is integer/string arithmetic both engines reproduce
  * bit-for-bit (the driver gate hash-compares):
  *  - hash: top 60 bits of md5 (15 hex chars → BIGINT) — portable across
  *    any engine with md5, unlike engine-native hash functions;
  *  - bucket: top `p` bits; rank: leading-zero count of the remaining
  *    word via `bin()` STRING LENGTH (exact MSB position — no float log2
  *    whose final-ulp rounding could differ across libms);
  *  - register sum: Σ 2^(maxRank-M[j]) as exact BIGINT addition
  *    (order-free, unlike a double Σ 2^-M[j]);
  *  - estimate: one fixed-order double expression over those integers.
  *
  * Raw-HLL bias note: the small-range (linear-counting) correction is
  * intentionally NOT folded in — it needs `ln`, whose cross-libm
  * final-ulp behavior would break hash parity. The gate's group sizes sit
  * in the raw-estimator regime (n > 2.5·m). A caller below that regime
  * applies linear counting, m·ln(m / (m - present)), to the `present`
  * column itself.
  */
object Hll {

  /** Gate precision: 2^6 = 64 registers → ~13% standard error, raw
    * estimator valid above ~160 distinct per group (gate groups qualify).
    */
  val GateP = 6

  /** 60-bit portable hash of a string column (md5 → 15 hex chars) — the
    * composed-built-ins spelling of [[graft.functions.HllRegister]]'s
    * hash, kept as the readable reference the cross-check spec compares
    * against (and the exact shape every DuckDB oracle mirrors).
    */
  private[graft] def h60(c: Column): Column =
    conv(substring(md5(c.cast("binary")), 1, 15), 16, 10).cast("long")

  /** Per-(group, bucket) max rank — the HLL register table. One narrow
    * shuffle keyed (group, bucket) with partial max aggregation; output is
    * ≤ 2^p rows per group regardless of input size, safe to persist and
    * re-merge later.
    */
  def registers(df: DataFrame, groupCols: Seq[String], itemCol: String,
      p: Int = GateP): DataFrame = {
    // one codegen'd expression computes (bucket, rank) packed — bit-equal
    // to the h60/bin spelling (HllRegisterSpec cross-checks), ~2.5× faster
    // on a profile melt: one md5 per value, zero intermediate strings. The
    // cast-to-binary keeps md5's byte semantics for every input type.
    val packed = graft.functions.HllRegister.hllRegister(
      col(itemCol).cast("binary"), p)
    df.select(groupCols.map(col) :+ packed.as("__pk"): _*)
      .select(groupCols.map(col) :+
        shiftrightunsigned(col("__pk"), 8).cast("int").as("bucket") :+
        col("__pk").bitwiseAND(lit(255L)).cast("int").as("rank"): _*)
      .groupBy(groupCols.map(col) :+ col("bucket"): _*)
      .agg(max(col("rank")).as("rank"))
  }

  /** Register-wise merge of sketch tables (same p): MAX per (group,
    * bucket). Associative and idempotent — daily sketches fold into
    * monthly ones in any order.
    */
  def merge(sketches: DataFrame, groupCols: Seq[String]): DataFrame =
    sketches.groupBy(groupCols.map(col) :+ col("bucket"): _*)
      .agg(max(col("rank")).as("rank"))

  /** Collapse a register table to (group, present, t_sum, est):
    * `t_sum` = Σ_j 2^(maxRank − M[j]) over ALL 2^p registers (absent ones
    * contribute 2^maxRank) — exact BIGINT; `est` = the raw HLL estimate,
    * one fixed-order double expression.
    */
  def estimate(sketch: DataFrame, groupCols: Seq[String],
      p: Int = GateP): DataFrame = {
    val m = 1 << p
    val maxRank = 60 - p + 1
    val alpha = 0.7213 / (1.0 + 1.079 / m)
    sketch.groupBy(groupCols.map(col): _*)
      .agg(count(lit(1)).as("present"),
        sum(expr(s"shiftleft(1L, $maxRank - rank)")).as("present_sum"))
      .select(groupCols.map(col) :+ col("present") :+
        (col("present_sum") + (lit(m.toLong) - col("present")) *
          lit(1L << maxRank)).as("t_sum"): _*)
      .withColumn("est",
        lit(alpha * m.toDouble * m.toDouble) *
          lit(math.pow(2.0, maxRank.toDouble)) / col("t_sum").cast("double"))
  }

  /** Gate: distinct orders per ship month from lineitem — the "distinct
    * users per day, fold to month" shape. Hash-exact: every output column
    * is integer arithmetic except `est`, which is one identically-ordered
    * double expression of those integers.
    */
  def ordersPerMonthSketch(spark: SparkSession, sfDir: String): DataFrame = {
    val li = Tables.lineitem(spark, sfDir)
      .select(date_format(col("l_shipdate"), "yyyy-MM").as("month"),
        col("l_orderkey").cast("string").as("item"))
    estimate(registers(li, Seq("month"), "item"), Seq("month"))
      .orderBy("month")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_hll_orders_month" -> (ordersPerMonthSketch _))

  private val m = 1 << GateP
  private val wBits = 60 - GateP
  private val maxRank = wBits + 1

  val oracles: Map[String, String] = Map(
    "q_hll_orders_month" -> s"""
      |WITH it AS (SELECT strftime(l_shipdate, '%Y-%m') AS month,
      |    CAST(CONCAT('0x', substr(md5(CAST(l_orderkey AS VARCHAR)), 1, 15))
      |         AS BIGINT) AS h
      |  FROM lineitem),
      |rk AS (SELECT month, h // ${1L << wBits} AS bucket,
      |    CASE WHEN h % ${1L << wBits} = 0 THEN $maxRank
      |         ELSE $maxRank - length(bin(h % ${1L << wBits})) END AS rank
      |  FROM it),
      |reg AS (SELECT month, bucket, MAX(rank) AS rank FROM rk GROUP BY 1, 2),
      |agg AS (SELECT month, CAST(COUNT(*) AS BIGINT) AS present,
      |    CAST(SUM(CAST(1 AS BIGINT) << ($maxRank - rank)) AS BIGINT) AS present_sum
      |  FROM reg GROUP BY 1)
      |SELECT month, present,
      |  present_sum + ($m - present) * ${1L << maxRank} AS t_sum,
      |  ${0.7213 / (1.0 + 1.079 / m) * m * m} * ${math.pow(2.0, maxRank.toDouble)} /
      |    CAST(present_sum + ($m - present) * ${1L << maxRank} AS DOUBLE) AS est
      |FROM agg ORDER BY month""".stripMargin)
}
