package graft.queries

import graft.Tables
import graft.anomaly._
import graft.quality.Quality
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Anomaly-pipeline queries (SURVEY §2.2).
  *
  * The metric series under test is the profiler's natural output: the
  * per-day mean of `events.value` per `event_type` (5 series x 30
  * days), rounded identically on both engines so downstream window
  * math starts from bit-identical inputs. Every query below runs the
  * REAL distributed operators (Optimizer/Scorer/Quality) — the oracle
  * re-derives the same semantics in portable SQL window functions.
  */
object AnomalyQueries extends QueryPack {

  // ---- shared series (Spark side) -------------------------------------
  private def series(s: SparkSession, d: String): DataFrame =
    Tables
      .events(s, d)
      .groupBy(col("event_type"), date_trunc("day", col("ts")).as("ts"))
      .agg(round6(avg(col("value"))).as("value"))

  private val seriesCols = Seq("event_type")

  private def cfg(models: Seq[ForecastModel], confidence: Double = 0.95) =
    Optimizer.Config(
      models = models,
      confidence = confidence,
      startProportion = Some(0.4)
    )

  // ---- shared SQL fragments (oracle side) -----------------------------
  private val seriesCte =
    s"""WITH s AS (
        SELECT event_type, ${sqlDay("ts")} AS ts, round(AVG(value), 6) AS value
        FROM events GROUP BY 1, 2)"""

  private def tmSql(w: Int): String = {
    val win =
      s"(PARTITION BY event_type ORDER BY ts ROWS BETWEEN $w PRECEDING AND 1 PRECEDING)"
    s"CASE WHEN COUNT(value) OVER $win = $w THEN AVG(value) OVER $win END"
  }

  private def snSql(p: Int): String =
    s"lag(value, $p) OVER (PARTITION BY event_type ORDER BY ts)"

  private def ewmaSql(alpha: Double, horizon: Int): String = {
    val lagw = "(PARTITION BY event_type ORDER BY ts)"
    val terms = (1 to horizon).map { j =>
      val w = s"($alpha * power(1 - $alpha, ${j - 1}))"
      (
        s"CASE WHEN lag(value, $j) OVER $lagw IS NOT NULL THEN lag(value, $j) OVER $lagw * $w ELSE 0.0 END",
        s"CASE WHEN lag(value, $j) OVER $lagw IS NOT NULL THEN $w ELSE 0.0 END"
      )
    }
    val num = terms.map(_._1).mkString("(", " + ", ")")
    val den = terms.map(_._2).mkString("(", " + ", ")")
    s"CASE WHEN $den > 0.0 THEN $num / $den END"
  }

  /** Exact SQL mirror of [[graft.anomaly.HoltLinear]]: weight literals
    * are the Scala-computed doubles (shortest-repr roundtrip), and
    * every sum/divide repeats the Column expression's left-associative
    * order, so both engines walk the identical IEEE sequence.
    */
  private def holtSql(alpha: Double, beta: Double, horizon: Int): String = {
    val lagw = "(PARTITION BY event_type ORDER BY ts)"
    def lagv(j: Int) = s"lag(value, $j) OVER $lagw"
    val lt = (1 to horizon).map { j =>
      val w = alpha * math.pow(1 - alpha, j - 1)
      (
        s"CASE WHEN ${lagv(j)} IS NOT NULL THEN ${lagv(j)} * $w ELSE 0.0 END",
        s"CASE WHEN ${lagv(j)} IS NOT NULL THEN $w ELSE 0.0 END",
        s"CASE WHEN ${lagv(j)} IS NOT NULL THEN ${w * j} ELSE 0.0 END"
      )
    }
    val lnum = lt.map(_._1).mkString("(", " + ", ")")
    val lden = lt.map(_._2).mkString("(", " + ", ")")
    val jsum = lt.map(_._3).mkString("(", " + ", ")")
    val tt = (1 to horizon).map { j =>
      val w = beta * math.pow(1 - beta, j - 1)
      val d = s"(${lagv(j)} - ${lagv(j + 1)})"
      (
        s"CASE WHEN $d IS NOT NULL THEN $d * $w ELSE 0.0 END",
        s"CASE WHEN $d IS NOT NULL THEN $w ELSE 0.0 END"
      )
    }
    val tnum = tt.map(_._1).mkString("(", " + ", ")")
    val tden = tt.map(_._2).mkString("(", " + ", ")")
    s"""CASE WHEN $lden > 0.0
        THEN ($lnum / $lden) +
          (CASE WHEN $tden > 0.0 THEN ($tnum / $tden) * ($jsum / $lden) ELSE 0.0 END)
        END"""
  }

  /** Exact SQL mirror of [[graft.anomaly.HoltWinters]] — period-mean
    * level, telescoped same-phase drift, and the renormalized
    * phase-deviation seasonal term over centered one-period means, in
    * the Column expression's operation order.
    */
  private def hwSql(gamma: Double, period: Int, nSeasons: Int): String = {
    val lagw = "(PARTITION BY event_type ORDER BY ts)"
    val pmFrame =
      s"(PARTITION BY event_type ORDER BY ts ROWS BETWEEN $period PRECEDING AND 1 PRECEDING)"
    val pm = s"avg(value) OVER $pmFrame"
    val havePm = s"count(value) OVER $pmFrame = $period"
    val prev = s"lag(value, ${period + 1}) OVER $lagw"
    val drift = s"((lag(value, 1) OVER $lagw - $prev) / $period)"
    val st = (1 to nSeasons).map { m =>
      val w = gamma * math.pow(1 - gamma, m - 1)
      val lo = m * period + (period - 1) / 2
      val hi = m * period - period / 2
      def fr(l: Int, h: Int) =
        s"(PARTITION BY event_type ORDER BY ts ROWS BETWEEN $l PRECEDING AND $h PRECEDING)"
      val frame = fr(lo, hi)
      val phase = s"lag(value, ${m * period}) OVER $lagw"
      if (period % 2 == 1) {
        val have = s"$phase IS NOT NULL AND count(value) OVER $frame = $period"
        (
          s"CASE WHEN $have THEN ($phase - avg(value) OVER $frame) * $w ELSE 0.0 END",
          s"CASE WHEN $have THEN $w ELSE 0.0 END"
        )
      } else {
        val frame2 = fr(lo + 1, hi + 1)
        val have =
          s"""$phase IS NOT NULL AND count(value) OVER $frame = $period
              AND count(value) OVER $frame2 = $period"""
        val base = s"((avg(value) OVER $frame + avg(value) OVER $frame2) / 2)"
        (
          s"CASE WHEN $have THEN ($phase - $base) * $w ELSE 0.0 END",
          s"CASE WHEN $have THEN $w ELSE 0.0 END"
        )
      }
    }
    val snum = st.map(_._1).mkString("(", " + ", ")")
    val sden = st.map(_._2).mkString("(", " + ", ")")
    s"""CASE WHEN $havePm AND $prev IS NOT NULL
        THEN $pm + $drift * ${(period + 1) / 2.0} +
          (CASE WHEN $sden > 0.0 THEN ($snum / $sden) ELSE 0.0 END)
        END"""
  }

  /** Exact SQL mirror of [[graft.anomaly.AutoSeasonal]] — candidate
    * scores, tie-preferring argmin CASE chain, drift term and history
    * guard all repeat the Column expression's operation order.
    */
  private def autoSeasonalSql(candidates: Seq[Int], h: Int): String = {
    val lagw = "(PARTITION BY event_type ORDER BY ts)"
    def lagv(j: Int) = s"lag(value, $j) OVER $lagw"
    val need = h + candidates.max
    val drift = s"((${lagv(1)} - ${lagv(h + 1)}) / $h)"
    val scores = candidates.map { p =>
      p -> (1 to h)
        .map(j => s"abs(${lagv(j)} - ${lagv(j + p)})")
        .mkString("(", " + ", s") / $h")
    }
    val whens = scores.zipWithIndex
      .map { case ((p, s), i) =>
        val cond = (Seq("TRUE") ++ scores.drop(i + 1).map { case (_, s2) => s"($s) <= ($s2)" })
          .mkString(" AND ")
        s"WHEN $cond THEN (${lagv(p)} + $drift * $p)"
      }
      .mkString(" ")
    s"""CASE WHEN count(value) OVER (PARTITION BY event_type ORDER BY ts
        ROWS BETWEEN $need PRECEDING AND 1 PRECEDING) = $need
        THEN (CASE $whens END) END"""
  }

  private val apeSql =
    """CASE WHEN abs(value) < 0.0001 OR predicted IS NULL THEN NULL
       ELSE least(abs(value - predicted) / abs(value), 1.0) END"""

  /** Long error table for a set of (modelName, forecastExpr, srcTable).
    * Most models forecast with one window expression over `s`; models
    * needing helper columns (AR's lag materialization — window
    * aggregates cannot nest window functions in SQL either) read from
    * their own prepared CTE carrying a `predicted`-ready column.
    */
  private def errSql(models: Seq[(String, String, String)]): String =
    models
      .map { case (name, fexpr, src) =>
        s"""SELECT event_type, ts, value, rn, n, '$name' AS model, predicted,
            $apeSql AS error
         FROM (SELECT event_type, ts, value,
            row_number() OVER (PARTITION BY event_type ORDER BY ts) AS rn,
            count(*) OVER (PARTITION BY event_type) AS n,
            $fexpr AS predicted FROM $src)"""
      }
      .mkString("\nUNION ALL\n")

  private val validSql = "(rn - 1) >= floor(0.4 * n) AND error IS NOT NULL"

  /** Per-(series, model) summary mirror of Optimizer.evaluate. */
  private def summarySql(models: Seq[(String, String, String)], confidence: Double): String =
    s""", err AS (${errSql(models)}),
       v AS (SELECT * FROM err WHERE $validSql),
       me AS (SELECT event_type, model, avg(error) AS mean_error,
              count(*) AS n_validation FROM v GROUP BY 1, 2),
       cells AS (SELECT event_type, model, t,
              avg(CASE WHEN error <= t THEN 1.0 ELSE 0.0 END) AS below_proportion
         FROM v CROSS JOIN (SELECT range / 100.0 AS t FROM range(1, 101))
         GROUP BY 1, 2, 3),
       th AS (SELECT event_type, model, min(t) AS threshold FROM cells
              WHERE below_proportion >= $confidence GROUP BY 1, 2),
       summary AS (
         SELECT me.event_type, me.model, me.mean_error, me.n_validation,
                th.threshold, c.below_proportion
         FROM me JOIN th ON me.event_type = th.event_type AND me.model = th.model
         JOIN cells c ON c.event_type = me.event_type AND c.model = me.model
           AND c.t = th.threshold)"""

  /** Exact SQL mirror of [[graft.anomaly.AutoRegressive]](2, 8) as a
    * CTE chain ending in `sar(event_type, ts, value, ar_pred)`: lag
    * materialization, DECIMAL(38,10) expanding moment sums over the
    * strictly-preceding frame, centered normal equations, the unrolled
    * Cramer solve, and the two scale-free conditioning gates — every
    * double operation in the Column expression's order.
    */
  private val arCtes: String = {
    val wl = "(PARTITION BY event_type ORDER BY ts)"
    val wp =
      """(PARTITION BY event_type ORDER BY ts
         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)"""
    val v = "(value IS NOT NULL AND l1 IS NOT NULL AND l2 IS NOT NULL)"
    def msum(e: String) =
      s"CAST(SUM(CASE WHEN $v THEN CAST($e AS DECIMAL(38,10)) END) OVER $wp AS DOUBLE)"
    s"""sar0 AS (SELECT event_type, ts, value,
          lag(value, 1) OVER $wl AS l1, lag(value, 2) OVER $wl AS l2
        FROM s),
      sar1 AS (SELECT event_type, ts, value, l1, l2,
          SUM(CASE WHEN $v THEN 1 ELSE 0 END) OVER $wp AS n_t,
          ${msum("l1")} AS s1, ${msum("l2")} AS s2, ${msum("value")} AS sy,
          ${msum("(l1 * l1)")} AS s11, ${msum("(l1 * l2)")} AS s12,
          ${msum("(l2 * l2)")} AS s22,
          ${msum("(l1 * value)")} AS s1y, ${msum("(l2 * value)")} AS s2y
        FROM sar0),
      sar2 AS (SELECT *, CAST(n_t AS DOUBLE) AS nd,
          s11 - s1 * s1 / CAST(n_t AS DOUBLE) AS c11,
          s12 - s1 * s2 / CAST(n_t AS DOUBLE) AS c12,
          s12 - s2 * s1 / CAST(n_t AS DOUBLE) AS c21,
          s22 - s2 * s2 / CAST(n_t AS DOUBLE) AS c22,
          s1y - s1 * sy / CAST(n_t AS DOUBLE) AS c1y,
          s2y - s2 * sy / CAST(n_t AS DOUBLE) AS c2y
        FROM sar1),
      sar3 AS (SELECT *, c11 * c22 + (- (c12 * c21)) AS det FROM sar2),
      sar4 AS (SELECT *,
          (c1y * c22 + (- (c12 * c2y))) / det AS phi1,
          (c11 * c2y + (- (c1y * c21))) / det AS phi2
        FROM sar3),
      sar AS (SELECT event_type, ts, value,
          CASE WHEN n_t >= 8
              AND (c11 > 1e-12 * s11 AND c22 > 1e-12 * s22)
              AND abs(det) > 1e-9 * (c11 * c22)
            THEN ((sy - (phi1 * s1 + phi2 * s2)) / nd)
              + (phi1 * l1 + phi2 * l2)
          END AS ar_pred
        FROM sar4)"""
  }

  /** Exact SQL mirror of [[graft.anomaly.CalendarRegression]]("ts",
    * Nil, `holidays`, 14) as a CTE chain ending in
    * `scal(event_type, ts, value, cal_pred)`: days-since-epoch +
    * day-of-week projection (DuckDB dayofweek is 0=Sunday, Spark's is
    * 1=Sunday — hence the +1), DECIMAL(38,10) expanding trend moments
    * and per-slot conditional sums over the strictly-preceding frame,
    * the closed-form 2-regressor solve, per-slot mean-residual effects
    * gated at >= 2 slot rows (the holiday indicator is one more such
    * slot when `holidays` is non-empty), and the same conditioning
    * gate as AR — every double operation in the Column expression's
    * order.
    */
  private def calCtesFor(holidays: Seq[String]): String = {
    val wp =
      """(PARTITION BY event_type ORDER BY ts
         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)"""
    val v = "(value IS NOT NULL)"
    def msum(e: String) =
      s"CAST(SUM(CASE WHEN $v THEN CAST($e AS DECIMAL(38,10)) END) OVER $wp AS DOUBLE)"
    def condSum(cond: String, e: String) =
      msum(s"(CASE WHEN $cond THEN $e END)")
    def slotAggs(tag: String, cond: String) =
      s"""SUM(CASE WHEN $v AND $cond THEN 1 ELSE 0 END) OVER $wp AS nd$tag,
          ${condSum(cond, "value")} AS syd$tag, ${condSum(cond, "x")} AS sxd$tag"""
    val slotCols = ((1 to 7).map(d => slotAggs(d.toString, s"dw = $d")) ++
      (if (holidays.isEmpty) Nil else Seq(slotAggs("hol", "ishol"))))
      .mkString(",\n          ")
    def eff(tag: String) =
      s"""CASE WHEN nd$tag >= 2
          THEN (syd$tag - a * CAST(nd$tag AS DOUBLE) - b * sxd$tag) / CAST(nd$tag AS DOUBLE)
          ELSE 0.0 END"""
    val effCase = (1 to 7)
      .map(d => s"WHEN dw = $d THEN (${eff(d.toString)})")
      .mkString("CASE ", " ", " ELSE 0.0 END")
    val holTerm =
      if (holidays.isEmpty) ""
      else s" + (CASE WHEN ishol THEN (${eff("hol")}) ELSE 0.0 END)"
    val isholCol =
      if (holidays.isEmpty) ""
      else
        holidays
          .map(d => s"DATE '$d'")
          .mkString(",\n          CAST(ts AS DATE) IN (", ", ", ") AS ishol")
    s"""scal0 AS (SELECT event_type, ts, value,
          CAST(date_diff('day', TIMESTAMP '1970-01-01 00:00:00', ts) AS DOUBLE) AS x,
          dayofweek(ts) + 1 AS dw$isholCol
        FROM s),
      scal1 AS (SELECT event_type, ts, value, x, dw,${
        if (holidays.isEmpty) "" else " ishol,"}
          SUM(CASE WHEN $v THEN 1 ELSE 0 END) OVER $wp AS n_t,
          ${msum("x")} AS sx, ${msum("value")} AS sy,
          ${msum("(x * x)")} AS sxx, ${msum("(x * value)")} AS sxy,
          $slotCols
        FROM scal0),
      scal2 AS (SELECT *, CAST(n_t AS DOUBLE) AS nd,
          sxx - sx * sx / CAST(n_t AS DOUBLE) AS cxx,
          sxy - sx * sy / CAST(n_t AS DOUBLE) AS cxy
        FROM scal1),
      scal3 AS (SELECT *, cxy / cxx AS b FROM scal2),
      scal4 AS (SELECT *, (sy - b * sx) / nd AS a FROM scal3),
      scal AS (SELECT event_type, ts, value,
          CASE WHEN n_t >= 14 AND cxx > 1e-12 * sxx
            THEN a + b * x + ($effCase)$holTerm
          END AS cal_pred
        FROM scal4)"""
  }

  private val calCtes: String = calCtesFor(Nil)

  /** Exact SQL mirror of [[graft.anomaly.CalendarRegression]]("ts",
    * Seq(cpDate), Nil, 14) — one changepoint, p = 2 trend regressors
    * (x and the hinge max(0, x − cp)) — as a CTE chain ending in
    * `scp(event_type, ts, value, pw_pred)`: DECIMAL(38,10) expanding
    * moments for both regressors and all four per-slot sums, centered
    * 2×2 normal equations, the unrolled Cramer solve in the Column
    * expression's Laplace term order, AR's diagonal + determinant
    * conditioning gates, and per-slot mean residuals under the
    * piecewise trend.
    */
  private def calPwCtes(cpDate: String, tag: String = ""): String = {
    // a digit-final tag would make scp$tag$suffix ambiguous (tag "g1"
    // + suffix "0" == tag "g10" + suffix "") — same hazard as the
    // _s112 moment-name aliasing, refused structurally
    require(tag.isEmpty || !tag.last.isDigit, s"CTE tag must not end in a digit: $tag")
    val cp = java.time.LocalDate.parse(cpDate).toEpochDay.toDouble
    def scp(suffix: String) = s"scp$tag$suffix"
    val wp =
      """(PARTITION BY event_type ORDER BY ts
         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)"""
    val v = "(value IS NOT NULL)"
    def msum(e: String) =
      s"CAST(SUM(CASE WHEN $v THEN CAST($e AS DECIMAL(38,10)) END) OVER $wp AS DOUBLE)"
    def condSum(cond: String, e: String) =
      msum(s"(CASE WHEN $cond THEN $e END)")
    val slotCols = (1 to 7)
      .map { d =>
        s"""SUM(CASE WHEN $v AND dw = $d THEN 1 ELSE 0 END) OVER $wp AS nd$d,
            ${condSum(s"dw = $d", "value")} AS syd$d,
            ${condSum(s"dw = $d", "x")} AS sr1d$d,
            ${condSum(s"dw = $d", "r2")} AS sr2d$d"""
      }
      .mkString(",\n          ")
    def eff(d: Int) =
      s"""CASE WHEN nd$d >= 2
          THEN (syd$d - a * CAST(nd$d AS DOUBLE) - phi1 * sr1d$d - phi2 * sr2d$d)
            / CAST(nd$d AS DOUBLE)
          ELSE 0.0 END"""
    val effCase = (1 to 7)
      .map(d => s"WHEN dw = $d THEN (${eff(d)})")
      .mkString("CASE ", " ", " ELSE 0.0 END")
    s"""${scp("0")} AS (SELECT event_type, ts, value,
          CAST(date_diff('day', TIMESTAMP '1970-01-01 00:00:00', ts) AS DOUBLE) AS x,
          dayofweek(ts) + 1 AS dw
        FROM s),
      ${scp("0b")} AS (SELECT *, greatest(0.0, x - $cp) AS r2 FROM ${scp("0")}),
      ${scp("1")} AS (SELECT event_type, ts, value, x, dw, r2,
          SUM(CASE WHEN $v THEN 1 ELSE 0 END) OVER $wp AS n_t,
          ${msum("value")} AS sy,
          ${msum("x")} AS s1, ${msum("r2")} AS s2,
          ${msum("(x * x)")} AS s11, ${msum("(x * r2)")} AS s12,
          ${msum("(r2 * r2)")} AS s22,
          ${msum("(x * value)")} AS s1y, ${msum("(r2 * value)")} AS s2y,
          $slotCols
        FROM ${scp("0b")}),
      ${scp("2")} AS (SELECT *, CAST(n_t AS DOUBLE) AS nd,
          s11 - s1 * s1 / CAST(n_t AS DOUBLE) AS c11,
          s12 - s1 * s2 / CAST(n_t AS DOUBLE) AS c12,
          s22 - s2 * s2 / CAST(n_t AS DOUBLE) AS c22,
          s1y - s1 * sy / CAST(n_t AS DOUBLE) AS c1y,
          s2y - s2 * sy / CAST(n_t AS DOUBLE) AS c2y
        FROM ${scp("1")}),
      ${scp("3")} AS (SELECT *, c11 * c22 + (- (c12 * c12)) AS det FROM ${scp("2")}),
      ${scp("4")} AS (SELECT *,
          (c11 > 1e-12 * s11 AND c22 > 1e-12 * s22
            AND abs(det) > 1e-9 * (c11 * c22)) AS ok,
          (c1y * c22 + (- (c12 * c2y))) / det AS phi1,
          (c11 * c2y + (- (c1y * c12))) / det AS phi2
        FROM ${scp("3")}),
      ${scp("5")} AS (SELECT *, (sy - (phi1 * s1 + phi2 * s2)) / nd AS a FROM ${scp("4")}),
      ${scp("")} AS (SELECT event_type, ts, value,
          CASE WHEN n_t >= 14 AND ok
            THEN a + phi1 * x + phi2 * r2 + ($effCase)
          END AS pw_pred
        FROM ${scp("5")})"""
  }

  private val tmModels = Seq(3, 5, 7).map(w => (s"TrailingMean-$w", tmSql(w), "s"))
  // candidates {2,7} with h=4 keep the history requirement (h+7=11)
  // inside the 30-day series' 12-point training prefix
  private val autoModel = AutoSeasonal(Seq(2, 7), 4)
  // HW needs period + (period-1)/2 = 10 preceding rows for its first
  // seasonal deviation — inside the 12-point training prefix too.
  // The grid points mirror Models.hwGrid's AutoML-slot search (period
  // 30 is omitted: it needs ~45 rows of history, more than the 30-day
  // series carries, so it would forecast NULL on both engines — the
  // hwGrid scaladoc's disqualification rule, exercised in specs
  // instead)
  private val hwModel = HoltWinters(0.5, 7, 2)
  private val hwGridModels = Seq(HoltWinters(0.3, 7, 2), HoltWinters(0.5, 14, 2))
  // the state-space slot: least-squares AR(2) fit per series per row
  private val arModel = AutoRegressive(2)
  // the AutoProphet slot: expanding trend + day-of-week regressors
  private val calModel = CalendarRegression()
  private val bestModels = tmModels ++
    Seq(
      ("SeasonalNaive-7", snSql(7), "s"),
      (autoModel.name, autoSeasonalSql(Seq(2, 7), 4), "s"),
      (hwModel.name, hwSql(0.5, 7, 2), "s"),
      (arModel.name, "ar_pred", "sar"),
      (calModel.name, "cal_pred", "scal")) ++
    hwGridModels.map(m => (m.name, hwSql(m.gamma, m.period, m.nSeasons), "s"))
  private val bestModelSet = Models.trailingMeans(Seq(3, 5, 7)) ++
    Seq(SeasonalNaive(7), autoModel, hwModel, arModel, calModel) ++ hwGridModels

  // mirrors Optimizer.optimize incl. the minValidationPoints qualifier
  // (Optimizer.scala — models with < 3 valid validation errors never
  // qualify; without this filter the oracle would select a model the
  // Spark side rejects whenever a model has only 1-2 valid errors)
  private val bestModelSelSql =
    s"""SELECT event_type, model AS best_model, greatest(threshold, 0.1) AS threshold,
        mean_error, below_proportion
      FROM (SELECT *, row_number() OVER (PARTITION BY event_type
              ORDER BY threshold, round(mean_error, 6), model) AS rk
            FROM summary WHERE n_validation >= 3)
      WHERE rk = 1"""

  // ---- queries --------------------------------------------------------

  private def forecastQuery(model: ForecastModel, sqlExpr: String) = Q(
    fn = (s, d) =>
      Optimizer
        .forecastErrors(series(s, d), seriesCols, cfg = cfg(Seq(model)))
        .select(
          col("event_type"),
          col("ts"),
          col("value"),
          round6(col("predicted")).as("predicted"),
          round6(col("error")).as("error")
        )
        .orderBy("event_type", "ts"),
    oracle = Some(s"""$seriesCte, f AS (
        SELECT event_type, ts, value, $sqlExpr AS predicted FROM s)
      SELECT event_type, ts, value, round(predicted, 6) AS predicted,
        round($apeSql, 6) AS error
      FROM f ORDER BY event_type, ts""")
  )

  // AR(2) forecast: same contract as forecastQuery, but the oracle
  // reads the prepared CTE chain (lag materialization + moment sums
  // cannot nest inside one window expression in SQL either)
  private val forecastAr = Q(
    fn = (s, d) =>
      Optimizer
        .forecastErrors(series(s, d), seriesCols, cfg = cfg(Seq(arModel)))
        .select(
          col("event_type"),
          col("ts"),
          col("value"),
          round6(col("predicted")).as("predicted"),
          round6(col("error")).as("error")
        )
        .orderBy("event_type", "ts"),
    oracle = Some(s"""$seriesCte, $arCtes, f AS (
        SELECT event_type, ts, value, ar_pred AS predicted FROM sar)
      SELECT event_type, ts, value, round(predicted, 6) AS predicted,
        round($apeSql, 6) AS error
      FROM f ORDER BY event_type, ts""")
  )

  // Calendar-regressor forecast (the AutoProphet slot): same contract
  // as forecastQuery, oracle reads the prepared calendar CTE chain
  private val forecastCal = Q(
    fn = (s, d) =>
      Optimizer
        .forecastErrors(series(s, d), seriesCols, cfg = cfg(Seq(calModel)))
        .select(
          col("event_type"),
          col("ts"),
          col("value"),
          round6(col("predicted")).as("predicted"),
          round6(col("error")).as("error")
        )
        .orderBy("event_type", "ts"),
    oracle = Some(s"""$seriesCte, $calCtes, f AS (
        SELECT event_type, ts, value, cal_pred AS predicted FROM scal)
      SELECT event_type, ts, value, round(predicted, 6) AS predicted,
        round($apeSql, 6) AS error
      FROM f ORDER BY event_type, ts""")
  )

  // Holiday-aware calendar forecast: the pluggable-holiday-indicator
  // path of the AutoProphet slot, oracle-gated end to end. The two
  // mid-series dates (different weekdays) exercise the pooled holiday
  // slot: its expanding sums, the >= 2-training-rows activation, and
  // the indicator membership test — hash-compared against the same
  // staged math in DuckDB.
  private val calHolidays = Seq("2024-01-10", "2024-01-20")
  private val forecastCalHol = Q(
    fn = (s, d) =>
      Optimizer
        .forecastErrors(
          series(s, d),
          seriesCols,
          cfg = cfg(Seq(CalendarRegression(holidays = calHolidays)))
        )
        .select(
          col("event_type"),
          col("ts"),
          col("value"),
          round6(col("predicted")).as("predicted"),
          round6(col("error")).as("error")
        )
        .orderBy("event_type", "ts"),
    oracle = Some(s"""$seriesCte, ${calCtesFor(calHolidays)}, f AS (
        SELECT event_type, ts, value, cal_pred AS predicted FROM scal)
      SELECT event_type, ts, value, round(predicted, 6) AS predicted,
        round($apeSql, 6) AS error
      FROM f ORDER BY event_type, ts""")
  )

  // Piecewise-trend calendar forecast (the Prophet changepoint
  // formulation): one mid-series changepoint, hash-compared against
  // the unrolled 2-regressor Cramer mirror
  private val calChangepoint = "2024-01-15"
  private val forecastCalPw = Q(
    fn = (s, d) =>
      Optimizer
        .forecastErrors(
          series(s, d),
          seriesCols,
          cfg = cfg(Seq(CalendarRegression(changepoints = Seq(calChangepoint))))
        )
        .select(
          col("event_type"),
          col("ts"),
          col("value"),
          round6(col("predicted")).as("predicted"),
          round6(col("error")).as("error")
        )
        .orderBy("event_type", "ts"),
    oracle = Some(s"""$seriesCte, ${calPwCtes(calChangepoint)}, f AS (
        SELECT event_type, ts, value, pw_pred AS predicted FROM scp)
      SELECT event_type, ts, value, round(predicted, 6) AS predicted,
        round($apeSql, 6) AS error
      FROM f ORDER BY event_type, ts""")
  )

  private val bestWindow = Q(
    fn = (s, d) =>
      Optimizer
        .evaluate(series(s, d), seriesCols, cfg = cfg(Models.trailingMeans(Seq(3, 5, 7))))
        .select(
          col("event_type"),
          col("model"),
          round6(col("mean_error")).as("mean_error"),
          col("n_validation")
        )
        .orderBy("event_type", "model"),
    oracle = Some(s"""$seriesCte, err AS (${errSql(tmModels)})
      SELECT event_type, model, round(avg(error), 6) AS mean_error,
        count(*) AS n_validation
      FROM err WHERE $validSql
      GROUP BY event_type, model ORDER BY event_type, model""")
  )

  private val threshold = Q(
    fn = (s, d) =>
      Optimizer
        .evaluate(series(s, d), seriesCols, cfg = cfg(Seq(TrailingMean(7))))
        .select(
          col("event_type"),
          col("model"),
          col("threshold"),
          round6(col("mean_error")).as("mean_error"),
          col("below_proportion")
        )
        .orderBy("event_type"),
    oracle = Some(s"""$seriesCte ${summarySql(Seq(("TrailingMean-7", tmSql(7), "s")), 0.95)}
      SELECT event_type, model, threshold, round(mean_error, 6) AS mean_error,
        below_proportion
      FROM summary ORDER BY event_type""")
  )

  private val bestModel = Q(
    fn = (s, d) =>
      Optimizer
        .optimize(
          series(s, d),
          seriesCols,
          cfg = cfg(bestModelSet)
        )
        .select(
          col("event_type"),
          col("best_model"),
          col("threshold"),
          round6(col("mean_error")).as("mean_error"),
          col("below_proportion")
        )
        .orderBy("event_type"),
    oracle = Some(s"""$seriesCte, $arCtes, $calCtes ${summarySql(bestModels, 0.95)}
      SELECT event_type, best_model, threshold, round(mean_error, 6) AS mean_error,
        below_proportion
      FROM ($bestModelSelSql) ORDER BY event_type""")
  )

  // AUTOMATIC changepoint discovery (the Prophet L1-selection slot,
  // reference models.py:216-241): no break date is supplied — a
  // uniform candidate grid over the observation span (Models
  // .changepointGrid, Prophet's changepoint_range=0.8 placement) turns
  // into one single-changepoint CalendarRegression per candidate, and
  // forward-chaining CV SELECTS per series: a series with a real break
  // lands on the nearest grid candidate, one without keeps the
  // global-trend calendar fit. The oracle unrolls the full fit of the
  // global model AND every candidate (one tagged CTE chain each), then
  // mirrors Optimizer.optimize's qualify-and-select exactly.
  private val autoCpGrid: Seq[String] =
    Models.changepointGrid("2024-01-01", "2024-01-30", 3)
  private val autoCpModels: Seq[CalendarRegression] =
    autoCpGrid.map(cp => CalendarRegression(changepoints = Seq(cp)))
  private val bestModelAutoCp = Q(
    fn = (s, d) =>
      Optimizer
        .optimize(
          series(s, d),
          seriesCols,
          cfg = cfg(calModel +: autoCpModels)
        )
        .select(
          col("event_type"),
          col("best_model"),
          col("threshold"),
          round6(col("mean_error")).as("mean_error"),
          col("below_proportion")
        )
        .orderBy("event_type"),
    oracle = Some {
      // letter-only tags (ga, gb, gc, …) keep CTE names unambiguous —
      // see the digit-final guard in calPwCtes. 'a'+i only yields a
      // letter for i <= 25 (i >= 26 would emit '{', '|', … and produce
      // invalid/ambiguous CTE names), so a grid that large must extend
      // this helper to base-26 first (r13 ADVICE; only n=3 is used
      // today).
      def tag(i: Int) = {
        require(i < 26, s"letter tag helper supports at most 26 candidates, got index $i")
        s"g${('a' + i).toChar}"
      }
      val pwChains = autoCpGrid.zipWithIndex
        .map { case (cp, i) => calPwCtes(cp, tag(i)) }
        .mkString(", ")
      val models =
        (calModel.name, "cal_pred", "scal") +:
          autoCpModels.zipWithIndex.map { case (m, i) =>
            (m.name, "pw_pred", s"scp${tag(i)}")
          }
      s"""$seriesCte, $calCtes, $pwChains ${summarySql(models, 0.95)}
      SELECT event_type, best_model, threshold, round(mean_error, 6) AS mean_error,
        below_proportion
      FROM ($bestModelSelSql) ORDER BY event_type"""
    }
  )

  private def scoreDf(s: SparkSession, d: String): DataFrame = {
    // the grain-level series feeds BOTH optimize and score — eagerly
    // materialized so the raw-events aggregation runs once, mirroring
    // production where the profiler output is persisted before
    // modeling (the series table is metric-sized, not data-sized)
    val ser = graft.functions.materialize(series(s, d))
    val c = cfg(bestModelSet)
    Scorer.score(ser, Optimizer.optimize(ser, seriesCols, cfg = c), seriesCols, cfg = c)
  }

  private val scoreSql =
    s""", last AS (${errSql(bestModels)}),
       scored AS (
         SELECT l.event_type, l.ts, l.value, l.predicted, l.error AS score
         FROM last l JOIN ($bestModelSelSql) b
           ON l.event_type = b.event_type AND l.model = b.best_model
         WHERE l.rn = l.n)"""

  private val scoreLast = Q(
    fn = (s, d) =>
      scoreDf(s, d)
        .select(
          col("event_type"),
          col("ts"),
          col("value"),
          round6(col("predicted")).as("predicted"),
          round6(col("score")).as("score")
        )
        .orderBy("event_type"),
    oracle = Some(s"""$seriesCte, $arCtes, $calCtes ${summarySql(bestModels, 0.95)} $scoreSql
      SELECT event_type, ts, value, round(predicted, 6) AS predicted,
        round(score, 6) AS score
      FROM scored ORDER BY event_type""")
  )

  private val assess = Q(
    fn = (s, d) => {
      // materialized for the same optimize+score double-consumption as
      // scoreDf
      val ser = graft.functions.materialize(series(s, d))
      val c = cfg(bestModelSet)
      val opt = Optimizer.optimize(ser, seriesCols, cfg = c)
      Quality
        .assess(Scorer.score(ser, opt, seriesCols, cfg = c), opt, seriesCols)
        .select(
          col("event_type"),
          col("ts"),
          round6(col("score")).as("score"),
          col("threshold"),
          col("is_anomalous")
        )
        .orderBy("event_type")
    },
    oracle = Some(s"""$seriesCte, $arCtes, $calCtes ${summarySql(bestModels, 0.95)} $scoreSql
      SELECT sc.event_type, sc.ts, round(sc.score, 6) AS score, b.threshold,
        coalesce(sc.score > b.threshold, true) AS is_anomalous
      FROM scored sc JOIN ($bestModelSelSql) b ON sc.event_type = b.event_type
      ORDER BY sc.event_type""")
  )

  // Model-free robust z-score of the newest point per series: exact
  // median/MAD (Spark percentile == DuckDB quantile_cont bit-exactly),
  // so only the final z ratio needs round6.
  private val robustZ = Q(
    fn = (s, d) =>
      graft.anomaly.Scorer
        .robustZLast(series(s, d), seriesCols)
        .orderBy("event_type"),
    oracle = Some(s"""
      $seriesCte,
      last AS (SELECT event_type, max(ts) AS last_ts FROM s GROUP BY 1),
      hist AS (SELECT s.* FROM s JOIN last USING (event_type)
               WHERE s.ts < last.last_ts),
      med AS (SELECT event_type, quantile_cont(value, 0.5) AS median
              FROM hist GROUP BY 1),
      mad AS (SELECT h.event_type,
                quantile_cont(abs(h.value - m.median), 0.5) AS mad
              FROM hist h JOIN med m USING (event_type) GROUP BY 1)
      SELECT s.event_type, s.ts, s.value, med.median, mad.mad,
        round((s.value - med.median) / (1.4826 * mad.mad + 1e-9), 6) AS zscore,
        COALESCE(abs((s.value - med.median) / (1.4826 * mad.mad + 1e-9)) > 3.5,
                 false) AS is_anomaly
      FROM s
      JOIN last ON s.event_type = last.event_type AND s.ts = last.last_ts
      LEFT JOIN med ON s.event_type = med.event_type
      LEFT JOIN mad ON s.event_type = mad.event_type
      ORDER BY s.event_type""")
  )

  // Two-sided CUSUM changepoint over the shared series: the running
  // drawdown closed form makes the Page recursion two window passes,
  // so the oracle is plain SQL windows — no recursive CTE needed.
  private val cusumQ = Q(
    fn = (s, d) =>
      graft.anomaly.Changepoint
        .cusum(series(s, d), seriesCols)
        .select(
          col("event_type"),
          col("ts"),
          col("value"),
          col("z"),
          col("cusum_pos"),
          col("cusum_neg"),
          col("alarm")
        )
        .orderBy("event_type", "ts"),
    oracle = Some(s"""$seriesCte,
      st AS (SELECT event_type, COUNT(*) AS n,
          CAST(SUM(CAST(value AS DECIMAL(38,10))) AS DOUBLE) AS sx,
          CAST(SUM(CAST(value * value AS DECIMAL(38,10))) AS DOUBLE) AS sx2
        FROM s GROUP BY 1),
      sd AS (SELECT event_type, sx / n AS mean,
          CASE WHEN n > 1
            THEN sqrt((sx2 - n * (sx / n) * (sx / n)) / (n - 1))
            ELSE 0.0 END AS std
        FROM st),
      z AS (SELECT s.event_type, s.ts, s.value,
          CASE WHEN std > 0 THEN (s.value - mean) / std ELSE 0.0 END AS z
        FROM s JOIN sd ON s.event_type = sd.event_type),
      c AS (SELECT event_type, ts, value, z,
          SUM(z - 0.5) OVER (PARTITION BY event_type ORDER BY ts
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cp,
          SUM(-z - 0.5) OVER (PARTITION BY event_type ORDER BY ts
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cn
        FROM z),
      f AS (SELECT event_type, ts, value, round(z, 6) AS z,
          round(cp - least(MIN(cp) OVER (PARTITION BY event_type ORDER BY ts
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 0.0), 6)
            AS cusum_pos,
          round(cn - least(MIN(cn) OVER (PARTITION BY event_type ORDER BY ts
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 0.0), 6)
            AS cusum_neg
        FROM c)
      SELECT event_type, ts, value, z, cusum_pos, cusum_neg,
        (cusum_pos > 4.0 OR cusum_neg > 4.0) AS alarm
      FROM f ORDER BY event_type, ts""")
  )

  // Theil-Sen robust trend: median of all pairwise slopes (the pair
  // join is O(days^2) per series, parallel across series)
  private val theilSenQ = Q(
    fn = (s, d) =>
      graft.anomaly.Trend
        .theilSen(series(s, d), seriesCols)
        .orderBy("event_type"),
    oracle = Some(s"""$seriesCte,
      i AS (SELECT event_type, value AS v,
          row_number() OVER (PARTITION BY event_type ORDER BY ts) AS i
        FROM s),
      p AS (SELECT a.event_type, (b.v - a.v) / (b.i - a.i) AS slope
            FROM i a JOIN i b ON a.event_type = b.event_type AND a.i < b.i),
      sl AS (SELECT event_type, round(quantile_cont(slope, 0.5), 6) AS slope
             FROM p GROUP BY 1)
      SELECT i.event_type, COUNT(*) AS n, sl.slope,
        round(quantile_cont(i.v - sl.slope * i.i, 0.5), 6) AS intercept,
        COUNT(*) > 10000 AS thinned
      FROM i JOIN sl ON i.event_type = sl.event_type
      GROUP BY 1, 3 ORDER BY 1""")
  )

  // Classical additive decomposition at weekly period: centered MA
  // trend, phase-mean seasonal re-centered to zero, remainder
  private val decomposeQ = Q(
    fn = (s, d) =>
      graft.anomaly.Trend
        .decompose(series(s, d), seriesCols, period = 7)
        .orderBy("event_type", "ts"),
    oracle = Some(s"""$seriesCte,
      i AS (SELECT event_type, ts, value,
          (row_number() OVER (PARTITION BY event_type ORDER BY ts) - 1) % 7
            AS phase
        FROM s),
      t AS (SELECT *, CASE WHEN COUNT(value) OVER w7 = 7
              THEN round(AVG(value) OVER w7, 6) END AS trend
            FROM i WINDOW w7 AS (PARTITION BY event_type ORDER BY ts
              ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
      pm AS (SELECT event_type, phase,
          CAST(SUM(CAST(value - trend AS DECIMAL(38,10))) AS DOUBLE)
            / COUNT(*) AS pm
        FROM t WHERE trend IS NOT NULL GROUP BY 1, 2),
      g AS (SELECT event_type,
          CAST(SUM(CAST(pm AS DECIMAL(38,10))) AS DOUBLE) / COUNT(*) AS grand
        FROM pm GROUP BY 1)
      SELECT t.event_type, t.ts, t.value, CAST(t.phase AS BIGINT) AS phase,
        t.trend, round(pm.pm - g.grand, 6) AS seasonal,
        CASE WHEN t.trend IS NOT NULL
          THEN round(t.value - t.trend - round(pm.pm - g.grand, 6), 6)
        END AS resid
      FROM t
      LEFT JOIN pm ON t.event_type = pm.event_type AND t.phase = pm.phase
      LEFT JOIN g ON t.event_type = g.event_type
      ORDER BY t.event_type, t.ts""")
  )

  // Robust modified-z over the decomposition RESIDUAL: the trend/
  // seasonal structure stops masking (or faking) outliers
  private val decomposeScoreQ = Q(
    fn = (s, d) =>
      graft.anomaly.Trend
        .residualScore(series(s, d), seriesCols, period = 7)
        .orderBy("event_type", "ts"),
    oracle = Some(s"""$seriesCte,
      i AS (SELECT event_type, ts, value,
          (row_number() OVER (PARTITION BY event_type ORDER BY ts) - 1) % 7
            AS phase
        FROM s),
      t AS (SELECT *, CASE WHEN COUNT(value) OVER w7 = 7
              THEN round(AVG(value) OVER w7, 6) END AS trend
            FROM i WINDOW w7 AS (PARTITION BY event_type ORDER BY ts
              ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
      pm AS (SELECT event_type, phase,
          CAST(SUM(CAST(value - trend AS DECIMAL(38,10))) AS DOUBLE)
            / COUNT(*) AS pm
        FROM t WHERE trend IS NOT NULL GROUP BY 1, 2),
      g AS (SELECT event_type,
          CAST(SUM(CAST(pm AS DECIMAL(38,10))) AS DOUBLE) / COUNT(*) AS grand
        FROM pm GROUP BY 1),
      d AS (SELECT t.event_type, t.ts, t.value, CAST(t.phase AS BIGINT) AS phase,
          t.trend, round(pm.pm - g.grand, 6) AS seasonal,
          CASE WHEN t.trend IS NOT NULL
            THEN round(t.value - t.trend - round(pm.pm - g.grand, 6), 6)
          END AS resid
        FROM t
        LEFT JOIN pm ON t.event_type = pm.event_type AND t.phase = pm.phase
        LEFT JOIN g ON t.event_type = g.event_type),
      md AS (SELECT event_type, quantile_cont(resid, 0.5) AS med
        FROM d WHERE resid IS NOT NULL GROUP BY 1),
      ma AS (SELECT d.event_type, quantile_cont(abs(d.resid - md.med), 0.5)
          AS mad
        FROM d JOIN md ON d.event_type = md.event_type
        WHERE d.resid IS NOT NULL GROUP BY 1),
      sc AS (SELECT d.*, CASE WHEN d.resid IS NOT NULL AND ma.mad > 0
          THEN round(0.6745 * (d.resid - md.med) / ma.mad, 6) END AS score
        FROM d
        LEFT JOIN md ON d.event_type = md.event_type
        LEFT JOIN ma ON d.event_type = ma.event_type)
      SELECT *, COALESCE(abs(score) > 3.5, false) AS is_anomaly
      FROM sc ORDER BY event_type, ts""")
  )

  // Sample autocorrelation for lags 1..10 — the seasonality
  // fingerprint feeding period choice
  private val acfQ = {
    val maxLag = 10
    val leads = (1 to maxLag)
      .map(k => s"lead(value, $k) OVER w AS l$k")
      .mkString(", ")
    val nums = (1 to maxLag)
      .map(k =>
        s"""CAST(SUM(CAST((value - mean) * (l$k - mean)
           AS DECIMAL(38,12))) AS DOUBLE) AS num$k,
           COUNT(CASE WHEN value IS NOT NULL THEN l$k END) AS cnt$k""")
      .mkString(", ")
    val rows = (1 to maxLag)
      .map(k => s"""SELECT event_type, $k AS lag, cnt$k AS n_pairs,
        CASE WHEN den > 0 THEN round(num$k / den, 6) END AS acf FROM a""")
      .mkString(" UNION ALL ")
    Q(
      fn = (s, d) =>
        graft.anomaly.Trend
          .acf(series(s, d), seriesCols, maxLag = maxLag)
          .orderBy("event_type", "lag"),
      oracle = Some(s"""$seriesCte,
        m AS (SELECT event_type,
            CAST(SUM(CAST(value AS DECIMAL(38,10))) AS DOUBLE) / COUNT(value)
              AS mean
          FROM s GROUP BY 1),
        l AS (SELECT s.event_type, s.value, m.mean, $leads
          FROM s JOIN m ON s.event_type = m.event_type
          WINDOW w AS (PARTITION BY s.event_type ORDER BY s.ts)),
        a AS (SELECT event_type,
            CAST(SUM(CAST((value - mean) * (value - mean)
              AS DECIMAL(38,12))) AS DOUBLE) AS den,
            $nums
          FROM l GROUP BY 1)
        SELECT * FROM ($rows) ORDER BY event_type, lag""")
    )
  }

  // classical OLS fit per series — run beside Theil-Sen; divergence
  // between the two IS the outlier signal
  private val olsQ = Q(
    fn = (s, d) =>
      graft.anomaly.Trend
        .olsTrend(series(s, d), seriesCols)
        .orderBy("event_type"),
    oracle = Some(s"""$seriesCte,
      i AS (SELECT event_type, value AS y,
          CAST(row_number() OVER (PARTITION BY event_type ORDER BY ts)
            AS BIGINT) AS x
        FROM s WHERE value IS NOT NULL),
      m AS (SELECT event_type, count(*) AS n,
          CAST(SUM(x) AS BIGINT) AS sxr,
          CAST(SUM(x * x) AS BIGINT) AS sxxr,
          CAST(SUM(CAST(y AS DECIMAL(38,10))) AS DOUBLE) AS sy,
          CAST(SUM(CAST(y * y AS DECIMAL(38,10))) AS DOUBLE) AS syy,
          CAST(SUM(CAST(x * y AS DECIMAL(38,10))) AS DOUBLE) AS sxy
        FROM i GROUP BY 1),
      f AS (SELECT event_type, n,
          CAST(n AS DOUBLE) AS nd, CAST(sxr AS DOUBLE) AS sx,
          CAST(sxxr AS DOUBLE) AS sxx, sy, syy, sxy
        FROM m),
      g AS (SELECT *,
          nd * sxx - sx * sx AS denx,
          nd * syy - sy * sy AS deny,
          nd * sxy - sx * sy AS num
        FROM f)
      SELECT event_type, n,
        CASE WHEN n >= 2 AND denx > 0 THEN round(num / denx, 6) END
          AS slope,
        CASE WHEN n >= 2 AND denx > 0
          THEN round((sy - (num / denx) * sx) / nd, 6) END AS intercept,
        CASE WHEN n >= 2 AND denx > 0 AND deny > 0
          THEN round(num * num / (denx * deny), 6) END AS r2
      FROM g ORDER BY event_type""")
  )

  // χ² independence of event_type vs day-of-week, with Cramér's V
  private val chi2Q = Q(
    fn = (s, d) =>
      graft.anomaly.StatTests.chiSquare(
        Tables.events(s, d).withColumn("dow", dayofweek(col("ts"))),
        "event_type",
        "dow"
      ),
    oracle = Some("""
      WITH base AS (SELECT CAST(event_type AS VARCHAR) AS a,
          CAST(dayofweek(ts) + 1 AS VARCHAR) AS b
        FROM events WHERE event_type IS NOT NULL AND ts IS NOT NULL),
      c AS (SELECT a, b, count(*) AS n FROM base GROUP BY 1, 2),
      asd AS (SELECT a, CAST(SUM(n) AS BIGINT) AS na FROM c GROUP BY 1),
      bsd AS (SELECT b, CAST(SUM(n) AS BIGINT) AS nb FROM c GROUP BY 1),
      t AS (SELECT CAST(SUM(n) AS BIGINT) AS nt FROM c),
      grid AS (SELECT asd.a, bsd.b, nt,
          CAST(COALESCE(c.n, 0) AS DOUBLE) AS o,
          CAST(na AS DOUBLE) * nb / nt AS e
        FROM asd CROSS JOIN bsd CROSS JOIN t
        LEFT JOIN c ON c.a = asd.a AND c.b = bsd.b),
      agg AS (SELECT max(nt) AS n, count(DISTINCT a) AS card_a,
          count(DISTINCT b) AS card_b,
          SUM((o - e) * (o - e) / e) AS chi2raw
        FROM grid)
      SELECT n, card_a, card_b,
        (card_a - 1) * (card_b - 1) AS dof,
        round(chi2raw, 6) AS chi2,
        CASE WHEN least(card_a - 1, card_b - 1) > 0
          THEN round(sqrt(chi2raw / (n * least(card_a - 1, card_b - 1))), 6)
        END AS cramers_v,
        card_a > 1000 OR card_b > 1000 AS truncated
      FROM agg""")
  )

  // Mann-Kendall significance on the metric series (tie-corrected)
  private val mannKendallQ = Q(
    fn = (s, d) =>
      graft.anomaly.StatTests
        .mannKendall(series(s, d), seriesCols)
        .orderBy("event_type"),
    oracle = Some(s"""$seriesCte,
      i AS (SELECT event_type, value AS v,
          row_number() OVER (PARTITION BY event_type ORDER BY ts) AS i
        FROM s),
      st AS (SELECT a.event_type,
          CAST(SUM(CAST(sign(b.v - a.v) AS BIGINT)) AS BIGINT) AS s
        FROM i a JOIN i b ON a.event_type = b.event_type AND a.i < b.i
        GROUP BY 1),
      nt AS (SELECT event_type, count(*) AS n FROM i GROUP BY 1),
      tc AS (SELECT event_type,
          CAST(SUM(t * (t - 1) * (2 * t + 5)) AS BIGINT) AS tc
        FROM (SELECT event_type, v, count(*) AS t FROM i GROUP BY 1, 2)
        WHERE t > 1 GROUP BY 1),
      j AS (SELECT nt.event_type, nt.n, st.s,
          (nt.n * (nt.n - 1) * (2 * nt.n + 5) - COALESCE(tc.tc, 0)) / 18.0
            AS var
        FROM nt JOIN st ON nt.event_type = st.event_type
        LEFT JOIN tc ON nt.event_type = tc.event_type),
      zt AS (SELECT *, CASE
          WHEN var > 0 AND s > 0 THEN round((s - 1) / sqrt(var), 6)
          WHEN var > 0 AND s < 0 THEN round((s + 1) / sqrt(var), 6)
          WHEN var > 0 THEN 0.0 END AS z
        FROM j)
      SELECT event_type, n, s, z,
        CASE WHEN z > 1.96 THEN 'increasing'
             WHEN z < -1.96 THEN 'decreasing'
             ELSE 'none' END AS trend,
        n > 10000 AS thinned
      FROM zt ORDER BY event_type""")
  )

  // two-proportion z on the purchase share, day over day
  private val proportionQ = Q(
    fn = (s, d) =>
      graft.anomaly.StatTests
        .proportionDrift(
          Tables.events(s, d),
          "ts",
          col("event_type") === "purchase"
        )
        .orderBy("day"),
    oracle = Some("""
      WITH pd AS (SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
          count(*) AS n,
          CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
            AS BIGINT) AS k
        FROM events GROUP BY 1),
      p AS (SELECT *, lag(n) OVER w AS pn, lag(k) OVER w AS pk,
          lag(day) OVER w AS pday
        FROM pd WINDOW w AS (ORDER BY day)),
      q AS (SELECT day, pn AS n_prev, n AS n_cur,
          CAST(pk AS DOUBLE) / pn AS p_prev,
          CAST(k AS DOUBLE) / n AS p_cur,
          CAST(pk + k AS DOUBLE) / (pn + n) AS pooled,
          pn, n, pk, k
        FROM p WHERE date_diff('day', pday, day) = 1)
      SELECT day, n_prev, n_cur,
        round(p_prev, 6) AS p_prev, round(p_cur, 6) AS p_cur,
        CASE WHEN pooled > 0 AND pooled < 1
          THEN round((p_cur - p_prev) /
            sqrt(pooled * (1.0 - pooled) * (1.0 / n_prev + 1.0 / n_cur)), 6)
        END AS z
      FROM q ORDER BY day""")
  )

  val queries: Map[String, Q] = Map(
    "anomaly_chi2_independence" -> chi2Q,
    "anomaly_ols_trend" -> olsQ,
    "anomaly_mann_kendall" -> mannKendallQ,
    "anomaly_proportion_drift" -> proportionQ,
    "anomaly_acf" -> acfQ,
    "anomaly_decompose_score" -> decomposeScoreQ,
    "anomaly_cusum" -> cusumQ,
    "anomaly_trend_slope" -> theilSenQ,
    "anomaly_decompose" -> decomposeQ,
    "anomaly_score_robust" -> robustZ,
    "anomaly_forecast_simple" -> forecastQuery(TrailingMean(7), tmSql(7)),
    "anomaly_forecast_seasonal" -> forecastQuery(SeasonalNaive(7), snSql(7)),
    "anomaly_forecast_ewma" -> forecastQuery(Ewma(0.5, 8), ewmaSql(0.5, 8)),
    "anomaly_forecast_holt" -> forecastQuery(HoltLinear(0.5, 0.5, 8), holtSql(0.5, 0.5, 8)),
    "anomaly_forecast_hw" -> forecastQuery(
      HoltWinters(0.5, 7, 2),
      hwSql(0.5, 7, 2)),
    "anomaly_forecast_auto" -> forecastQuery(autoModel, autoSeasonalSql(Seq(2, 7), 4)),
    "anomaly_forecast_ar" -> forecastAr,
    "anomaly_forecast_calendar" -> forecastCal,
    "anomaly_forecast_calendar_hol" -> forecastCalHol,
    "anomaly_forecast_calendar_pw" -> forecastCalPw,
    "anomaly_best_window" -> bestWindow,
    "anomaly_threshold" -> threshold,
    "anomaly_best_model" -> bestModel,
    "anomaly_best_model_auto_cp" -> bestModelAutoCp,
    "anomaly_score_last" -> scoreLast,
    "quality_assess" -> assess
  )
}
