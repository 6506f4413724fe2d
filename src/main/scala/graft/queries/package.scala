package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Query registry: every operator in SURVEY.md §2 exposes a named
  * DataFrame query plus (where ANSI-SQL-expressible) a DuckDB oracle
  * over the same parquet tables. The driver hash-compares both.
  */
package object queries {

  /** A registered query: Spark side + optional DuckDB oracle SQL. */
  case class Q(fn: (SparkSession, String) => DataFrame, oracle: Option[String])

  trait QueryPack {
    def queries: Map[String, Q]
  }

  // ---- cross-engine float determinism helpers -------------------------
  // Doubles summed in different orders differ in the last ulps; the
  // oracle comparison is a hash. Policy: sums of fixed-point business
  // values go through DECIMAL (exact, order-independent, identical in
  // DuckDB); genuinely real-valued outputs are rounded identically on
  // both sides with error << rounding granularity.

  /** Exact order-independent sum of a 2-dp money column, as double. */
  def decSum2(c: Column): Column =
    sum(c.cast(DecimalType(18, 2))).cast(DoubleType)

  /** Exact order-independent sum of a double expression at 6 dp. */
  def decSum6(c: Column): Column =
    sum(c.cast(DecimalType(28, 6))).cast(DoubleType)

  /** Deterministic mean: exact decimal sum divided by count, in double. */
  def decAvg2(c: Column): Column = decSum2(c) / count(lit(1))

  /** SQL mirror of [[decSum2]]. */
  def sqlDecSum2(c: String): String =
    s"CAST(SUM(CAST($c AS DECIMAL(18,2))) AS DOUBLE)"

  /** SQL mirror of [[decSum6]]. */
  def sqlDecSum6(c: String): String =
    s"CAST(SUM(CAST($c AS DECIMAL(28,6))) AS DOUBLE)"

  /** SQL mirror of [[decAvg2]]. */
  def sqlDecAvg2(c: String): String = s"${sqlDecSum2(c)} / COUNT(*)"

  /** DuckDB day-truncation returning TIMESTAMP (duck's date_trunc('day')
    * yields DATE; Spark yields TIMESTAMP).
    */
  def sqlDay(ts: String): String = s"CAST(date_trunc('day', $ts) AS TIMESTAMP)"

  def sqlTrunc(unit: String, ts: String): String =
    s"CAST(date_trunc('$unit', $ts) AS TIMESTAMP)"

  /** Cross-engine-stable 6-dp rounding (see [[graft.functions.round6]]
    * for the tie-stability rationale).
    */
  def round6(c: Column): Column = graft.functions.round6(c)

  /** DuckDB mirror of [[round6]] — duck's native round already is
    * multiply-round-divide.
    */
  def sqlRound6(expr: String): String =
    s"round($expr, 6)"

  // ---- SQL mirrors of the id-hash membership contract -----------------
  // The Spark side lives in graft.operators.Sampling; these are the
  // operator modules' oracle fragments (any dialect with md5, substr, ||).

  /** SQL mirror of `Sampling.bucketHex`: the first 8 hex chars of
    * md5(id ":" salt).
    */
  private[graft] def sqlBucketHex(idExpr: String, salt: String): String =
    s"substr(md5(CAST($idExpr AS VARCHAR) || ':$salt'), 1, 8)"

  /** SQL mirror of `Sampling.thresholdHexCol`: the hex threshold of an
    * in-query keep-fraction, "g" (keep all) at f >= 1.
    */
  private[graft] def sqlThresholdHex(fSql: String): String =
    s"""CASE WHEN $fSql >= 1.0 THEN 'g'
       |         ELSE printf('%08x', CAST(floor($fSql * 4294967296.0) AS BIGINT))
       |    END""".stripMargin

  /** SQL decode of `digits` hex chars of `h` from 1-based `pos` as a
    * BIGINT. DuckDB has no hex→int builtin, so each digit goes through
    * a CASE chain; mirrors Spark's `conv(substring(h, pos, digits), 16,
    * 10)`. `h` is substituted once per digit — alias the md5 in a
    * prior CTE, don't inline it.
    */
  private[graft] def sqlHexValue(h: String, pos: Int, digits: Int): String = {
    def digit(e: String): String =
      "(CASE " + "0123456789abcdef"
        .map(c => s"WHEN $e = '$c' THEN ${Integer.parseInt(c.toString, 16)}")
        .mkString(" ") + " END)"
    (0 until digits)
      .map(i =>
        s"CAST(${digit(s"substr($h, ${pos + i}, 1)")} AS BIGINT) * ${1L << (4 * (digits - 1 - i))}"
      )
      .mkString("(", " + ", ")")
  }

  /** SQL decode of the first 13 hex chars of an md5 digest — the
    * 52-bit uniform integer behind every deterministic-sampling
    * operator (`Sampling.hash52`).
    */
  def sqlHex52(h: String): String = sqlHexValue(h, 1, 13)
}
