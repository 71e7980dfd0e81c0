package graft.analytics

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Data-layout operators: Z-order (Morton) clustering for multi-dimensional
  * scan pruning. At 100 TB the dominant cost of a selective two-column
  * predicate (`part between .. and supplier between ..`) is how many files
  * the scan must open; sorting by one column prunes that column only.
  * Writing files in Z-value order keeps BOTH columns' min/max file
  * statistics tight, so parquet row-group / file skipping prunes on every
  * interleaved dimension at once — the layout trick behind
  * OPTIMIZE ... ZORDER BY in lakehouse engines, built here from plain
  * column arithmetic + repartitionByRange.
  */
object Layout {

  /** Bits per dimension interleaved into the Z-value by the gate. */
  val GateBits = 10

  /** Morton Z-value: interleave the low `bits` of two non-negative longs —
    * bit i of `a` lands at Z bit 2i, bit i of `b` at 2i+1. Pure codegen'd
    * integer arithmetic (shift/and/add), no UDF.
    */
  def zValue(a: Column, b: Column, bits: Int): Column =
    (0 until bits).foldLeft(lit(0L)) { (acc, i) =>
      acc +
        shiftright(a, i).bitwiseAND(lit(1L)) * lit(1L << (2 * i)) +
        shiftright(b, i).bitwiseAND(lit(1L)) * lit(1L << (2 * i + 1))
    }

  /** Re-layout `df` into `numFiles` range partitions of Z-value order over
    * the two dimension columns (masked to `bits`). Each output partition
    * covers a disjoint Z-range — a square-ish tile of the (a, b) plane —
    * so every file's min/max stats are tight on BOTH columns. One range
    * exchange (sampling pass + shuffle), the same cost as a global sort,
    * then files write in partition order.
    */
  def zorderBy(df: DataFrame, aCol: String, bCol: String,
      bits: Int = 16, numFiles: Int = 32): DataFrame = {
    val mask = (1L << bits) - 1
    val z = zValue(col(aCol).cast("long").bitwiseAND(lit(mask)),
      col(bCol).cast("long").bitwiseAND(lit(mask)), bits)
    df.withColumn("_z", z)
      .repartitionByRange(numFiles, col("_z"))
      .sortWithinPartitions("_z")
  }

  /** Gate: the Z-value arithmetic itself, per lineitem row over
    * (l_partkey, l_suppkey) masked to [[GateBits]] — value-checked against
    * the oracle's identical shift/and/add chain.
    */
  def zorderCells(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    val mask = (1L << GateBits) - 1
    li.select(col("l_orderkey"), col("l_linenumber").cast("long")
        .as("l_linenumber"),
      (col("l_partkey").bitwiseAND(lit(mask))).as("pa"),
      (col("l_suppkey").bitwiseAND(lit(mask))).as("sb"))
      .select(col("l_orderkey"), col("l_linenumber"),
        zValue(col("pa"), col("sb"), GateBits).as("z"))
  }

  /** Hilbert curve index of a (masked) 2-d point — the locality upgrade
    * over Morton: CONSECUTIVE Hilbert indices are always grid neighbors
    * (Manhattan distance exactly 1, spec-asserted exhaustively), where the
    * Z-curve jumps across the plane at power-of-two boundaries. For range
    * layout that means each output file covers one contiguous curve
    * segment = one connected blob of the (a, b) plane — file min/max
    * boxes are tighter than Z tiles of the same row count, so point/range
    * predicates open fewer files. Same plan shape as [[zValue]]: a pure
    * per-row expression fold (the standard xy2d quadrant-rotation
    * recurrence unrolled over bit levels as a struct-column fold), no UDF,
    * codegen'd.
    */
  def withHilbert(df: DataFrame, a: Column, b: Column, bits: Int,
      out: String = "h"): DataFrame = {
    // per-level NAMED intermediates, not a nested Column fold: the fold
    // references its state struct several times per level, so the single
    // expression tree grows ~6^bits and OOMs the analyzer at bits=10;
    // named columns keep each level's expressions small and the optimizer
    // (CollapseProject declines to inline non-cheap duplicated refs)
    // keeps the chain linear — still one narrow codegen'd projection
    var cur = df.withColumn("_hx", a).withColumn("_hy", b)
      .withColumn("_hd", lit(0L))
    for (i <- bits - 1 to 0 by -1) {
      val s = 1L << i
      cur = cur
        .withColumn("_rx",
          when(col("_hx").bitwiseAND(lit(s)) > 0, lit(1L)).otherwise(lit(0L)))
        .withColumn("_ry",
          when(col("_hy").bitwiseAND(lit(s)) > 0, lit(1L)).otherwise(lit(0L)))
        .withColumn("_hd", col("_hd") +
          lit(s) * lit(s) * (lit(3L) * col("_rx")).bitwiseXOR(col("_ry")))
        .withColumn("_xr", when(col("_ry") === 0 && col("_rx") === 1,
          lit(s - 1) - col("_hx")).otherwise(col("_hx")))
        .withColumn("_yr", when(col("_ry") === 0 && col("_rx") === 1,
          lit(s - 1) - col("_hy")).otherwise(col("_hy")))
        .withColumn("_hxn",
          when(col("_ry") === 0, col("_yr")).otherwise(col("_xr")))
        .withColumn("_hyn",
          when(col("_ry") === 0, col("_xr")).otherwise(col("_yr")))
        .withColumn("_hx", col("_hxn"))
        .withColumn("_hy", col("_hyn"))
    }
    cur.withColumn(out, col("_hd"))
      .drop("_hx", "_hy", "_hd", "_rx", "_ry", "_xr", "_yr", "_hxn", "_hyn")
  }

  /** [[zorderBy]] with the Hilbert index as the range key. Uses the
    * native [[graft.functions.HilbertIndex]] expression (one plan node,
    * generated loop) rather than the per-level column chain.
    */
  def hilbertBy(df: DataFrame, aCol: String, bCol: String,
      bits: Int = 16, numFiles: Int = 32): DataFrame = {
    val mask = (1L << bits) - 1
    df.withColumn("_h", graft.functions.HilbertIndex.hilbertIndex(
        col(aCol).cast("long").bitwiseAND(lit(mask)),
        col(bCol).cast("long").bitwiseAND(lit(mask)), bits))
      .repartitionByRange(numFiles, col("_h"))
      .sortWithinPartitions("_h")
  }

  /** Gate runs the NATIVE expression; the spec cross-checks it against
    * [[withHilbert]]'s built-ins-only chain exhaustively.
    */
  def hilbertCells(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    val mask = (1L << GateBits) - 1
    li.select(col("l_orderkey"), col("l_linenumber").cast("long")
        .as("l_linenumber"),
      graft.functions.HilbertIndex.hilbertIndex(
        col("l_partkey").bitwiseAND(lit(mask)),
        col("l_suppkey").bitwiseAND(lit(mask)), GateBits).as("h"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_zorder_cells" -> ((s, d) =>
      zorderCells(s, d).orderBy("l_orderkey", "l_linenumber")),
    "q_hilbert_cells" -> ((s, d) =>
      hilbertCells(s, d).orderBy("l_orderkey", "l_linenumber")))

  /** The oracle's Z expression is GENERATED from the same bit positions the
    * Column fold uses — no hand-transcription to drift.
    */
  private def zSql(a: String, b: String, bits: Int): String =
    (0 until bits).map { i =>
      s"(($a // ${1L << i}) % 2) * ${1L << (2 * i)} + " +
        s"(($b // ${1L << i}) % 2) * ${1L << (2 * i + 1)}"
    }.mkString("(", " + ", ")")

  /** Hilbert oracle: the same quadrant-rotation recurrence unrolled as one
    * chained CTE per bit level, GENERATED from the identical constants the
    * Column fold uses. DuckDB's lateral column aliases let each level
    * compute rx/ry once and reference them in the same SELECT.
    */
  private def hilbertLevels(bits: Int): String =
    (bits - 1 to 0 by -1).zipWithIndex.map { case (i, k) =>
      val s = 1L << i
      s"""h${k + 1} AS (SELECT l_orderkey, l_linenumber,
         |  CASE WHEN (x & $s) > 0 THEN 1 ELSE 0 END AS rx,
         |  CASE WHEN (y & $s) > 0 THEN 1 ELSE 0 END AS ry,
         |  d + ${s * s} * xor(3 * rx, ry) AS dn,
         |  CASE WHEN ry = 0 AND rx = 1 THEN ${s - 1} - x ELSE x END AS xr,
         |  CASE WHEN ry = 0 AND rx = 1 THEN ${s - 1} - y ELSE y END AS yr,
         |  CASE WHEN ry = 0 THEN yr ELSE xr END AS xn,
         |  CASE WHEN ry = 0 THEN xr ELSE yr END AS yn
         |  FROM (SELECT l_orderkey, l_linenumber, xn AS x, yn AS y, dn AS d
         |        FROM h$k))""".stripMargin
    }.mkString(",\n")

  val oracles: Map[String, String] = Map(
    "q_zorder_cells" -> s"""
      |WITH m AS (SELECT l_orderkey, CAST(l_linenumber AS BIGINT) AS l_linenumber,
      |    l_partkey % ${1L << GateBits} AS pa,
      |    l_suppkey % ${1L << GateBits} AS sb
      |  FROM lineitem)
      |SELECT l_orderkey, l_linenumber, ${zSql("pa", "sb", GateBits)} AS z
      |FROM m ORDER BY l_orderkey, l_linenumber""".stripMargin,
    "q_hilbert_cells" -> s"""
      |WITH h0 AS (SELECT l_orderkey, CAST(l_linenumber AS BIGINT) AS l_linenumber,
      |    l_partkey % ${1L << GateBits} AS xn,
      |    l_suppkey % ${1L << GateBits} AS yn,
      |    CAST(0 AS BIGINT) AS dn
      |  FROM lineitem),
      |${hilbertLevels(GateBits)}
      |SELECT l_orderkey, l_linenumber, CAST(dn AS BIGINT) AS h
      |FROM h$GateBits ORDER BY l_orderkey, l_linenumber""".stripMargin)
}
