package graft.anomaly

import java.sql.Date

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.{Window, WindowSpec}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Error metrics (reference: thoth/anomaly/error_metrics.py:4-13). */
object ErrorMetrics {

  /** Absolute percentage error, clamped to 1.0.
    *
    * The reference raises for |true| < 1e-4 (APE undefined near zero);
    * graft yields NULL there instead — a null error simply drops out of
    * distributed mean/threshold aggregates, which is the correct
    * semantics for a data-parallel pipeline.
    */
  def ape(trueValue: Column, predicted: Column): Column =
    when(abs(trueValue) < lit(1e-4) || predicted.isNull, lit(null))
      .otherwise(least(abs(trueValue - predicted) / abs(trueValue), lit(1.0)))
}

/** A forecast model expressed as a window expression over an ordered
  * per-series frame.
  *
  * Reference models (thoth/anomaly/models.py) train driver-side on a
  * pandas frame per metric. graft models are Catalyst window
  * expressions: `forecast` returns the 1-step-ahead prediction for
  * every row of every series simultaneously, so "training" thousands of
  * (dataset x column x metric) series is a single window exchange —
  * no driver loop, no per-series job.
  */
trait ForecastModel extends Serializable {
  def name: String

  /** 1-step-ahead forecast for the current row, using only strictly
    * preceding rows of the ordered window `w`. NULL when the model has
    * insufficient history at this row.
    */
  def forecast(value: Column, w: WindowSpec): Column

  /** Optional pre-pass materializing helper columns [[forecast]] needs
    * but a single window expression cannot compute — e.g. lag columns
    * that a window AGGREGATE must then sum over (Spark does not nest
    * window functions). Helper column names must be unique per model
    * `name`; Catalyst plans the prepared window and the forecast
    * windows over the same partitioning as ONE exchange. Default:
    * identity (every closed-form window model).
    */
  def prepare(df: DataFrame, value: Column, w: WindowSpec): DataFrame = df
}

/** Trailing-mean forecast over a fixed window length (the reference's
  * SimpleModel candidate, thoth/anomaly/models.py:78-164: value(t) ~
  * mean(value(t-window .. t-1)), NULL unless the full window exists).
  */
case class TrailingMean(window: Int) extends ForecastModel {
  val name = s"TrailingMean-$window"
  def forecast(value: Column, w: WindowSpec): Column = {
    val frame = w.rowsBetween(-window, -1)
    when(count(value).over(frame) === lit(window), avg(value).over(frame))
  }
}

/** Seasonal-naive forecast: value(t) ~ value(t - period). Replaces the
  * reference's AutoSarima/AutoProphet AutoML slots
  * (thoth/anomaly/models.py:184-241) with a deterministic, fully
  * distributed seasonal baseline.
  */
case class SeasonalNaive(period: Int) extends ForecastModel {
  val name = s"SeasonalNaive-$period"
  def forecast(value: Column, w: WindowSpec): Column = lag(value, period).over(w)
}

/** Finite-horizon exponentially weighted moving average: weights
  * alpha*(1-alpha)^(j-1) over the last `horizon` lags, renormalized
  * over the lags actually present. NULL when no history.
  */
case class Ewma(alpha: Double = 0.5, horizon: Int = 8) extends ForecastModel {
  // Locale.ROOT formatting: the f"" interpolator is locale-default, and
  // a de_DE driver would name this "Ewma-0,50-8" — breaking the stored
  // best_model byte-stability contract (see rosterTag)
  val name = s"Ewma-${Models.dec2(alpha)}-$horizon"
  def forecast(value: Column, w: WindowSpec): Column = {
    val terms = (1 to horizon).map { j =>
      val weight = alpha * math.pow(1 - alpha, j - 1)
      val lagged = lag(value, j).over(w)
      (
        when(lagged.isNotNull, lagged * lit(weight)).otherwise(lit(0.0)),
        when(lagged.isNotNull, lit(weight)).otherwise(lit(0.0))
      )
    }
    val num = terms.map(_._1).reduce(_ + _)
    val den = terms.map(_._2).reduce(_ + _)
    when(den > lit(0.0), num / den)
  }
}

/** Finite-horizon Holt linear trend: forecast = level + trend, where
  * level is the EWMA of the last `horizon` values and trend the EWMA of
  * their first differences (each renormalized over present lags). Fills
  * the trend-aware slot of the reference's AutoML family with a
  * deterministic window expression — on drifting series trailing means
  * systematically lag, Holt does not.
  */
case class HoltLinear(alpha: Double = 0.5, beta: Double = 0.5, horizon: Int = 8)
    extends ForecastModel {
  val name = s"HoltLinear-${Models.dec2(alpha)}-${Models.dec2(beta)}-$horizon"
  def forecast(value: Column, w: WindowSpec): Column = {
    // level = EWMA of lagged values; on a sloped series that estimate
    // sits meanLag steps behind the next point, so the forecast
    // projects trend * meanLag forward (exact on a pure linear trend).
    val levelTerms = (1 to horizon).map { j =>
      val weight = alpha * math.pow(1 - alpha, j - 1)
      val lagged = lag(value, j).over(w)
      (
        when(lagged.isNotNull, lagged * lit(weight)).otherwise(lit(0.0)),
        when(lagged.isNotNull, lit(weight)).otherwise(lit(0.0)),
        when(lagged.isNotNull, lit(weight * j)).otherwise(lit(0.0))
      )
    }
    val levelDen = levelTerms.map(_._2).reduce(_ + _)
    val level = levelTerms.map(_._1).reduce(_ + _) / levelDen
    val meanLag = levelTerms.map(_._3).reduce(_ + _) / levelDen
    val trendTerms = (1 to horizon).map { j =>
      val weight = beta * math.pow(1 - beta, j - 1)
      val d = lag(value, j).over(w) - lag(value, j + 1).over(w)
      (
        when(d.isNotNull, d * lit(weight)).otherwise(lit(0.0)),
        when(d.isNotNull, lit(weight)).otherwise(lit(0.0))
      )
    }
    val trendDen = trendTerms.map(_._2).reduce(_ + _)
    val trend = trendTerms.map(_._1).reduce(_ + _) / trendDen
    when(levelDen > lit(0.0), level + when(trendDen > lit(0.0), trend * meanLag).otherwise(lit(0.0)))
  }
}

/** Holt-Winters-style seasonal+trend forecast in finite-lag form — the
  * seasonal-and-trend slot of the reference's AutoML family
  * (AutoSarima/AutoProphet, thoth/anomaly/models.py:184-241), as a
  * deterministic window expression like the rest of the family.
  *
  * The classic recursive triple smoothing is inherently sequential and
  * cannot be a window expression; this decomposition keeps its three
  * components but estimates each from a fixed set of lags, chosen so
  * seasonality CANCELS out of the level and trend estimates instead of
  * contaminating them (grafting a seasonal term onto [[HoltLinear]]'s
  * level double-counts the wave its EWMA already half-tracks):
  *
  *   - level: trailing mean of the last full period — a mean over
  *     exactly one period is seasonality-free by construction, and on
  *     a linear trend sits (period+1)/2 steps behind the next point;
  *   - trend: the telescoped SAME-PHASE drift
  *     (value(t-1) - value(t-period-1)) / period — both endpoints share
  *     a phase, so the seasonal component subtracts out exactly;
  *   - seasonal: an exponentially weighted average (weight
  *     gamma*(1-gamma)^(m-1), renormalized over seasons present) of the
  *     phase deviations one, two, ... `nSeasons` periods back:
  *     dev_m = value(t-m*period) - centeredPeriodMean(t-m*period). The
  *     CENTERED one-period mean removes level and (exactly, on a linear
  *     trend) trend at that point; a trailing mean would bias every
  *     deviation by slope*(period-1)/2. Odd periods center on integer
  *     offsets directly; even periods average the two windows offset by
  *     one (the classic 2xMA centering — their +-0.5 mean offsets
  *     cancel), so neither parity carries a slope bias. A deviation
  *     only counts when its full window(s) exist (count == period).
  *
  * forecast = periodMean + drift*(period+1)/2 + seasonal — EXACT on any
  * noiseless additive linear-trend + period-seasonal series once one
  * full seasonal window exists, and exact on a pure linear trend (the
  * deviations vanish). NULL until the period mean and the drift lag
  * exist.
  */
case class HoltWinters(
    gamma: Double = 0.5,
    period: Int = 7,
    nSeasons: Int = 2
) extends ForecastModel {
  require(period > 1, s"period must be > 1, got $period")
  require(nSeasons > 0, s"nSeasons must be positive, got $nSeasons")
  val name = s"HoltWinters-${Models.dec2(gamma)}-$period-$nSeasons"
  def forecast(value: Column, w: WindowSpec): Column = {
    val pmFrame = w.rowsBetween(-period, -1)
    val pm = avg(value).over(pmFrame)
    val havePm = count(value).over(pmFrame) === lit(period)
    val prev = lag(value, period + 1).over(w)
    val drift = (lag(value, 1).over(w) - prev) / period
    val seasonalTerms = (1 to nSeasons).map { m =>
      val weight = gamma * math.pow(1 - gamma, m - 1)
      val lo = m * period + (period - 1) / 2
      val hi = m * period - period / 2
      val frame = w.rowsBetween(-lo, -hi)
      val phase = lag(value, m * period).over(w)
      if (period % 2 == 1) {
        val have = phase.isNotNull && (count(value).over(frame) === lit(period))
        (
          when(have, (phase - avg(value).over(frame)) * lit(weight)).otherwise(lit(0.0)),
          when(have, lit(weight)).otherwise(lit(0.0))
        )
      } else {
        val frame2 = w.rowsBetween(-(lo + 1), -(hi + 1))
        val have = phase.isNotNull &&
          (count(value).over(frame) === lit(period)) &&
          (count(value).over(frame2) === lit(period))
        val base = (avg(value).over(frame) + avg(value).over(frame2)) / 2
        (
          when(have, (phase - base) * lit(weight)).otherwise(lit(0.0)),
          when(have, lit(weight)).otherwise(lit(0.0))
        )
      }
    }
    val sNum = seasonalTerms.map(_._1).reduce(_ + _)
    val sDen = seasonalTerms.map(_._2).reduce(_ + _)
    when(
      havePm && prev.isNotNull,
      pm + drift * lit((period + 1) / 2.0) +
        when(sDen > lit(0.0), sNum / sDen).otherwise(lit(0.0))
    )
  }
}

/** Learned-seasonality forecast: fills the reference's AutoML slot
  * (AutoSarima/AutoProphet, thoth/anomaly/models.py:184-241) with a
  * model that LEARNS its seasonality period per series — as a pure
  * window expression, so "fitting" 10^5 series is still one window
  * exchange, no per-series driver training.
  *
  * Per row: each candidate period p is scored by the mean absolute
  * seasonal difference over the last `h` steps,
  * score(p) = mean_{j=1..h} |value(t-j) - value(t-j-p)| — the
  * discrete analog of picking the autocorrelation-maximizing lag; the
  * lowest score wins (ties -> earlier candidate). Forecast =
  * value(t-p*) + drift*p*, where drift is the mean first difference
  * over the last h steps ((value(t-1) - value(t-h-1))/h, telescoped) —
  * so a series with seasonality AND linear trend is forecast exactly,
  * where plain SeasonalNaive lags by slope*period. NULL until
  * h + max(candidates) points of history exist.
  */
case class AutoSeasonal(candidates: Seq[Int] = Seq(7, 14), h: Int = 7)
    extends ForecastModel {
  require(candidates.nonEmpty && candidates.forall(_ > 0) && h > 0)
  val name = s"AutoSeasonal-${candidates.mkString("_")}-$h"
  def forecast(value: Column, w: WindowSpec): Column = {
    val need = h + candidates.max
    def lagv(j: Int) = lag(value, j).over(w)
    val haveAll = count(value).over(w.rowsBetween(-need, -1)) === lit(need)
    val drift = (lagv(1) - lagv(h + 1)) / h
    val scores = candidates.map { p =>
      p -> (1 to h).map(j => abs(lagv(j) - lagv(j + p))).reduce(_ + _) / h
    }
    // argmin with first-candidate tie preference: candidate i wins when
    // its score is <= every later candidate's score
    val pick = scores.zipWithIndex.foldRight(lit(null).cast("double")) {
      case (((p, s), i), elseCol) =>
        val cond = scores
          .drop(i + 1)
          .map(_._2)
          .foldLeft(lit(true))((acc, s2) => acc && s <= s2)
        when(cond, lagv(p) + drift * p).otherwise(elseCol)
    }
    when(haveAll, pick)
  }
}

/** The least-squares core shared by [[AutoRegressive]] and
  * [[CalendarRegression]]: a per-row expanding-window fit of
  * y ~ a + Σᵢ φᵢ·rᵢ over the strictly preceding rows of every series,
  * staged as columns in one window pass.
  *
  * The moments Σrᵢ, Σrᵢrⱼ, Σrᵢy accumulate through DECIMAL(38,10)
  * (order-independent, so bit-identical in DuckDB), are centered into
  * the (p × p) normal equations, and are solved by Cramer's rule
  * unrolled into plain column arithmetic: a driver-free per-row solve
  * with exact IEEE parity to the SQL mirrors, no UDF. Every stage is a
  * COLUMN, so the determinant terms read attributes instead of
  * re-inlining the moment trees (the inlined form made Catalyst
  * analysis, not the data pass, the dominant family cost).
  *
  * Scale-free conditioning gates, mirrored exactly by the SQL side:
  *   - each diagonal must carry real variance relative to its raw
  *     second moment (c_ii = n·var, s_ii = n·E[x²]; the 1e-12 floor is
  *     relative-std > 1e-6: far above double cancellation noise, far
  *     below any real signal), refusing constant regressors;
  *   - |det| relative to the diagonal product is EXACTLY the
  *     correlation-matrix determinant, refusing collinear regressors at
  *     any data scale. At p = 1 it is implied by the diagonal gate.
  */
private[anomaly] object LeastSquares {
  private val dec = DecimalType(38, 10)

  /** Expanding DECIMAL(38,10) sum of `e` over the `valid` rows of the
    * strictly-preceding frame `wp`.
    */
  def msum(valid: Column, e: Column, wp: WindowSpec): Column =
    sum(when(valid, e.cast(dec))).over(wp).cast("double")

  /** Expanding count of the `valid` rows of the frame `wp`. */
  def mcount(valid: Column, wp: WindowSpec): Column =
    sum(when(valid, 1L).otherwise(0L)).over(wp)

  /** Laplace expansion along the first row: deterministic term order,
    * the same expansion the SQL oracle unrolls.
    */
  def det(m: Vector[Vector[Column]]): Column = m.size match {
    case 1 => m(0)(0)
    case n =>
      (0 until n)
        .map { j =>
          val minor = m.tail.map(row => row.patch(j, Nil, 1))
          val term = m(0)(j) * det(minor)
          if (j % 2 == 0) term else -term
        }
        .reduce(_ + _)
  }

  /** Stages the fit of `y` on the regressors `rs` over the rows where
    * `valid` holds, as `pfx`-prefixed columns: the moments `_n`, `_sy`,
    * `_s{i}`, `_s{i}_{j}`, `_s{i}y` (plus the caller's `extra` moment
    * columns, in the same projection), the centered entries `_c{i}_{j}`
    * and `_c{i}y`, `_det`, the `_ok` gate, each `_phi{i}` and the
    * intercept `_a`. Each stage is NULL until its divisor is provably
    * nonzero (ANSI division cannot hide behind a forecast's lazy CASE
    * once staged); a forecast gated on `_ok` only ever reads them when
    * the same conditions hold.
    */
  def stage(
      df: DataFrame,
      pfx: String,
      wp: WindowSpec,
      valid: Column,
      y: Column,
      rs: Seq[Column],
      extra: Seq[(String, Column)] = Nil
  ): DataFrame = {
    def c(s: String) = col(pfx + s)
    val p = rs.size
    val moments: Seq[(String, Column)] =
      Seq("_n" -> mcount(valid, wp), "_sy" -> msum(valid, y, wp)) ++
        (1 to p).map(i => s"_s$i" -> msum(valid, rs(i - 1), wp)) ++
        (for { i <- 1 to p; j <- i to p }
          yield s"_s${i}_$j" -> msum(valid, rs(i - 1) * rs(j - 1), wp)) ++
        (1 to p).map(i => s"_s${i}y" -> msum(valid, rs(i - 1) * y, wp)) ++
        extra
    val withMoments = df.select(
      col("*") +: moments.map { case (n, e) => e.as(pfx + n) }: _*
    )
    // centered normal-equations entries, upper triangle stored
    val nD = c("_n").cast("double")
    def sAt(i: Int, j: Int) = if (i <= j) c(s"_s${i}_$j") else c(s"_s${j}_$i")
    val centered: Seq[(String, Column)] =
      (for { i <- 1 to p; j <- i to p }
        yield s"_c${i}_$j" ->
          when(c("_n") > 0L, sAt(i, j) - c(s"_s$i") * c(s"_s$j") / nD)) ++
        (1 to p).map(i =>
          s"_c${i}y" ->
            when(c("_n") > 0L, c(s"_s${i}y") - c(s"_s$i") * c("_sy") / nD))
    val withCentered = withMoments.select(
      col("*") +: centered.map { case (n, e) => e.as(pfx + n) }: _*
    )
    def cAt(i: Int, j: Int) =
      if (i <= j) c(s"_c${i + 1}_${j + 1}") else c(s"_c${j + 1}_${i + 1}")
    val cm = Vector.tabulate(p, p)(cAt)
    val cy = Vector.tabulate(p)(i => c(s"_c${i + 1}y"))
    val diagOk =
      (0 until p)
        .map(i => cm(i)(i) > lit(1e-12) * c(s"_s${i + 1}_${i + 1}"))
        .reduce(_ && _)
    val prodDiag = (0 until p).map(i => cm(i)(i)).reduce(_ * _)
    val withDet = withCentered
      .withColumn(pfx + "_det", when(c("_n") > 0L, det(cm)))
      .withColumn(
        pfx + "_ok",
        diagOk && abs(c("_det")) > lit(1e-9) * prodDiag
      )
    val withPhi = (1 to p).foldLeft(withDet) { case (d, k) =>
      d.withColumn(
        pfx + s"_phi$k",
        when(
          c("_ok"),
          det(Vector.tabulate(p, p)((i, j) =>
            if (j == k - 1) cy(i) else cAt(i, j))) / c("_det")
        )
      )
    }
    val phiDotS = (1 to p)
      .map(i => c(s"_phi$i") * c(s"_s$i"))
      .reduce(_ + _)
    withPhi.withColumn(
      pfx + "_a",
      when(c("_ok"), (c("_sy") - phiDotS) / nD)
    )
  }
}

/** Autoregressive AR(p) forecast fit by least squares via the normal
  * equations — the true state-space-class member of the family,
  * closing the last fidelity delta vs the reference's per-series
  * Merlion AutoML fits (AutoSarima/AutoProphet,
  * thoth/anomaly/models.py:184-241): where those train a model per
  * series in a driver loop, this fits EVERY series at every row in one
  * window pass.
  *
  * Honest expanding-window fit: the coefficients used to forecast row
  * t are estimated from ONLY strictly preceding rows (the same
  * leak-freedom contract as every other family member), so the
  * optimizer's forward-chaining CV never trains on the future.
  * [[prepare]] materializes lag columns y(t-1)..y(t-p) (Spark cannot
  * nest `sum(...)` over `lag(...)` in a single window expression, and
  * both window layers share one exchange), then hands them to the
  * [[LeastSquares]] core as regressors; forecast = c + Σφ_i y(t-i).
  *
  * NULL until `minTrain` complete training samples precede the row, or
  * when the centered system fails the core's conditioning gates, which
  * constant series and pure linear trends under p >= 2 produce by
  * construction: no identifiable AR fit, and other family members
  * already cover both.
  *
  * p is capped at 3: each extra order adds a factorial Cramer term
  * count, and metric-grain series (the profiler's output) carry
  * day/hour dynamics where AR(2)-AR(3) captures level+momentum; the
  * reference's SARIMA fits rarely select beyond that on such series.
  */
case class AutoRegressive(p: Int = 2, minTrain: Int = 8) extends ForecastModel {
  require(p >= 1 && p <= 3, s"p must be in 1..3, got $p")
  require(
    minTrain >= p + 2,
    s"minTrain must be >= p + 2 = ${p + 2} for an identifiable fit, got $minTrain"
  )
  val name = s"AR-$p"
  private val pfx = s"_ar$p"
  private def c(s: String) = col(pfx + s)
  private def lags = (1 to p).map(i => c(s"_l$i"))

  override def prepare(df: DataFrame, value: Column, w: WindowSpec): DataFrame = {
    val lagged = (1 to p).foldLeft(df) { case (d, i) =>
      d.withColumn(pfx + s"_l$i", lag(value, i).over(w))
    }
    // a training sample is a row where target AND every regressor exist
    val v = (value +: lags).map(_.isNotNull).reduce(_ && _)
    LeastSquares.stage(
      lagged, pfx, w.rowsBetween(Window.unboundedPreceding, -1), v, value, lags)
  }

  def forecast(value: Column, w: WindowSpec): Column = {
    val pred = c("_a") + lags.zipWithIndex
      .map { case (l, i) => c(s"_phi${i + 1}") * l }
      .reduce(_ + _)
    when(c("_n") >= lit(minTrain.toLong) && c("_ok"), pred)
  }
}

/** Calendar-regressor forecast — the AutoProphet slot (reference
  * thoth/anomaly/models.py:216-241 wraps Merlion's AutoProphet:
  * piecewise trend plus calendar regressors). graft's distributed
  * equivalent: a per-series expanding-window least-squares fit of
  *
  *   value ~ a + φ₁·x + Σᵢ φ_{1+i}·max(0, x − cp_i)
  *             + dow_effect(day_of_week) [+ holiday_effect],
  *
  * x = days since epoch, computed for EVERY series at every row in one
  * window exchange. Two-stage decomposition instead of the joint solve
  * (whose unrolled Cramer expansion is factorial): (1) the trend is the
  * [[LeastSquares]] fit on x and one hinge per changepoint over all
  * strictly-preceding rows; (2) each calendar slot's effect is the mean
  * residual under that trend over the strictly-preceding rows IN the
  * slot, evaluated with the row-t coefficients — all conditional
  * expanding sums, no second pass. On a noiseless linear-trend +
  * balanced day-of-week series the estimates converge to the exact
  * planted effects (the seasonal component is orthogonal to the trend
  * over complete weeks).
  *
  * What this buys over [[HoltWinters]]/[[SeasonalNaive]] (row-lag
  * seasonality): the regressors read the CALENDAR, not row offsets —
  * a Dec-25 dip lands on the holiday indicator instead of false-
  * alarming, and series with missing days (business-day metrics, gappy
  * ingestion) keep their weekday alignment where a lag-7 model drifts
  * out of phase. Trend time is days-since-epoch, so gaps also leave
  * the slope honest.
  *
  * Changepoints (Taylor & Letham 2018 "Forecasting at Scale" §3.1.2)
  * let the slope CHANGE at known dates: a deploy, a pricing change, a
  * crawler rollout stops bending the global fit and lands on its hinge
  * instead. They are an explicit roster (k ≤ 2): unlike Prophet's
  * automatic candidate grid + L1 selection (a per-series driver fit), a
  * fixed roster keeps the model ONE window expression over every series
  * at once; the optimizer's CV picks per series between rosters and the
  * rest of the family, so model selection does the changepoint
  * acceptance job, distributed. With no changepoints the trend is the
  * global line a + φ₁·x.
  *
  * A slot effect activates once >= 2 training rows carry it (else 0 —
  * falls back to the pure trend, flagged by construction rather than
  * guessed from one point). NULL until `minTrain` training rows precede
  * the row or when the trend system fails the core's conditioning
  * gates: a single-timestamp series has no x variance, and a changepoint
  * outside a series' observed span makes its hinge zero-variance or
  * collinear with x, so the fit is refused instead of guessed.
  */
case class CalendarRegression(
    tsCol: String = "ts",
    changepoints: Seq[String] = Nil,
    holidays: Seq[String] = Nil,
    minTrain: Int = 14
) extends ForecastModel {
  require(
    changepoints.size <= 2,
    s"0..2 changepoint dates allowed, got ${changepoints.size} " +
      "(each adds a factorial Cramer term count)"
  )
  require(changepoints.distinct.size == changepoints.size,
    s"changepoint dates must be distinct, got $changepoints " +
      "(a duplicate hinge is exactly collinear — the gates would refuse every fit)")
  private val k = changepoints.size
  private val minFloor = if (k == 0) 4 else k + 5
  require(minTrain >= minFloor, s"minTrain must be >= $minFloor, got $minTrain")
  private val p = 1 + k // trend regressors: x plus one hinge per changepoint
  // Roster order is NORMALIZED at construction: the content-hashed tag
  // sorts dates, so two permutations of one roster share a name and a
  // helper-column prefix — they must therefore also share regressor
  // order, or co-existing permutations in one family would alias
  // same-named prepare columns holding different hinge moments.
  private val cpSorted = changepoints.sorted
  // Roster CONTENT hashes in both name and prefix: two same-size
  // changepoint or holiday rosters in one optimizer family must never
  // alias each other's stored best_model names or prepare columns
  // (size alone did, pre-r13).
  private val trendTag = if (k == 0) "" else s"pw${k}x${Models.rosterTag(cpSorted)}"
  private val hTag =
    if (holidays.isEmpty) "" else s"-h${holidays.size}x${Models.rosterTag(holidays)}"
  val name: String = (if (k == 0) "Calendar-dow" else s"Calendar-$trendTag") + hTag
  private val pfx = s"_cal$trendTag" + (if (holidays.isEmpty) "" else s"h$hTag")
  private def c(s: String) = col(pfx + s)
  // epoch-day constants of the changepoints (parse fails loudly)
  private val cpDays: Seq[Double] =
    cpSorted.map(d => java.time.LocalDate.parse(d).toEpochDay.toDouble)
  // regressor columns r1 = x, r2.. = hinges
  private def rs = c("_x") +: (2 to p).map(i => c(s"_r$i"))

  /** Staged pre-pass: the calendar columns and hinges, then the
    * [[LeastSquares]] trend fit with 2 + p expanding sums per calendar
    * slot as extra moments — one window exchange.
    */
  override def prepare(df: DataFrame, value: Column, w: WindowSpec): DataFrame = {
    val wp = w.rowsBetween(Window.unboundedPreceding, -1)
    val base0 = df
      .withColumn(
        pfx + "_x",
        datediff(col(tsCol), to_date(lit("1970-01-01"))).cast("double")
      )
      .withColumn(pfx + "_dow", dayofweek(col(tsCol)))
    val base = cpDays.zipWithIndex.foldLeft(base0) { case (d, (cp, i)) =>
      d.withColumn(pfx + s"_r${i + 2}", greatest(lit(0.0), c("_x") - lit(cp)))
    }
    val v = value.isNotNull
    def slotCols(tag: String, cond: Column): Seq[(String, Column)] =
      Seq(
        s"_n$tag" -> LeastSquares.mcount(v && cond, wp),
        s"_sy$tag" -> LeastSquares.msum(v, when(cond, value), wp)
      ) ++ (1 to p).map(i => s"_sr$i$tag" -> LeastSquares.msum(v, when(cond, rs(i - 1)), wp))
    val holCond: Option[Column] =
      if (holidays.isEmpty) None
      else Some(to_date(col(tsCol)).isin(holidays.map(Date.valueOf): _*))
    val slots =
      (1 to 7).flatMap(d => slotCols(d.toString, c("_dow") === d)) ++
        holCond.toSeq.flatMap(hc => slotCols("hol", hc)) ++
        holCond.map(hc => "_ishol" -> hc).toSeq
    LeastSquares.stage(base, pfx, wp, v, value, rs, slots)
  }

  def forecast(value: Column, w: WindowSpec): Column = {
    val dw = c("_dow")
    val a = c("_a")
    val phis = (1 to p).map(i => c(s"_phi$i"))
    // per-slot mean residual under the trend; 0 until >= 2 training
    // rows carry the slot
    def slotEff(tag: String): Column = {
      val nd = c(s"_n$tag")
      val ndD = nd.cast("double")
      val resid = (1 to p).foldLeft(c(s"_sy$tag") - a * ndD) { (acc, i) =>
        acc - phis(i - 1) * c(s"_sr$i$tag")
      }
      when(nd >= 2L, resid / ndD).otherwise(lit(0.0))
    }
    val dowEff = (1 to 7).foldRight(lit(0.0)) { case (d, acc) =>
      when(dw === d, slotEff(d.toString)).otherwise(acc)
    }
    val trend = rs.zip(phis).foldLeft(a) { case (acc, (r, f)) => acc + f * r }
    // no trailing `+ 0.0` when holidays are off: IEEE identity except
    // for -0.0, whose sign a hash-exact oracle would see
    val pred =
      if (holidays.isEmpty) trend + dowEff
      else trend + dowEff + when(c("_ishol"), slotEff("hol")).otherwise(lit(0.0))
    when(c("_n") >= lit(minTrain.toLong) && c("_ok"), pred)
  }
}

/** Model factory (reference: thoth/anomaly/models.py:244-277). */
object Models {
  /** The reference SimpleModel's candidate windows. */
  val defaultWindows: Seq[Int] = Seq(3, 5, 7, 30)

  /** Locale-independent 2-decimal render for model names — the f""
    * interpolator delegates to the DEFAULT locale's String.format, so a
    * de_DE driver would emit "0,50" and stored best_model names would
    * stop matching across JVMs.
    */
  private[anomaly] def dec2(x: Double): String =
    String.format(java.util.Locale.ROOT, "%.2f", Double.box(x))

  /** Short stable content hash of a date roster (order-insensitive),
    * folded into calendar-model names and helper-column prefixes so
    * two same-size rosters can never alias: 64 bits of md5 over the
    * sorted roster — collision odds ~n²/2⁶⁵ make the no-aliasing
    * guarantee practically absolute (a 32-bit `String.hashCode` left
    * it reachable at ~10⁵ co-existing rosters). md5 is byte-stable
    * across JVMs, so names survive restarts — a stored optimization's
    * `best_model` still joins at scoring time.
    */
  private[anomaly] def rosterTag(dates: Seq[String]): String = {
    val digest = java.security.MessageDigest
      .getInstance("MD5")
      .digest(dates.sorted.mkString(",").getBytes("UTF-8"))
    digest.take(8).map(b => f"$b%02x").mkString
  }

  def trailingMeans(windows: Seq[Int] = defaultWindows): Seq[ForecastModel] =
    windows.map(TrailingMean)

  /** Default family: trailing means + seasonal-naive + EWMA. */
  def default: Seq[ForecastModel] =
    trailingMeans() ++ Seq(SeasonalNaive(7), Ewma())

  /** Holt-Winters hyperparameter grid — the honest stand-in for the
    * reference's per-series AutoML fit (AutoSarima/AutoProphet,
    * thoth/anomaly/models.py:184-241, which tune hyperparameters per
    * series via Merlion): every grid point is one window expression,
    * the optimizer's forward-chaining CV scores ALL of them per series
    * in a single window exchange, and selection picks the winning
    * configuration per series. Grid search, not gradient fitting — but
    * per-series, distributed, and deterministic. Models whose period
    * exceeds the available history forecast NULL everywhere and are
    * disqualified by the optimizer's min-validation-points rule, so a
    * wide grid is safe on short series.
    */
  def hwGrid(
      gammas: Seq[Double] = Seq(0.3, 0.7),
      periods: Seq[Int] = Seq(7, 14, 30),
      nSeasonsList: Seq[Int] = Seq(2)
  ): Seq[ForecastModel] =
    for { p <- periods; g <- gammas; n <- nSeasonsList } yield HoltWinters(g, p, n)

  /** Extended family: default + trend-aware Holt + learned-period
    * seasonal (weekly/biweekly/monthly candidates) + the seasonal-and-
    * trend Holt-Winters grid (the AutoML slots) + the least-squares
    * AR(2) fit (the state-space slot) + the calendar-regressor fit
    * (the AutoProphet slot — day-of-week/holiday indicators).
    */
  def extended: Seq[ForecastModel] =
    default ++ Seq(
      HoltLinear(),
      AutoSeasonal(Seq(7, 14, 30)),
      HoltWinters(),
      AutoRegressive(),
      CalendarRegression()
    ) ++ hwGrid()

  /** [[extended]] with a holiday roster: the calendar slot runs BOTH
    * ways (plain day-of-week and day-of-week + holiday indicators) and
    * the optimizer's CV picks per series — a series whose dips follow
    * the roster selects the holiday-aware fit, one that doesn't keeps
    * the simpler model (distinct `name`s, so selection is visible).
    * Dates are "yyyy-MM-dd" strings matched against `to_date(tsCol)`.
    */
  def extendedWithHolidays(holidays: Seq[String]): Seq[ForecastModel] = {
    require(holidays.nonEmpty, "pass a non-empty holiday roster (or use extended)")
    extended :+ CalendarRegression(holidays = holidays)
  }

  /** [[extended]] with known trend-changepoint dates (and optionally a
    * holiday roster): adds the piecewise-trend calendar fit alongside
    * the global-trend one, letting the optimizer's CV accept or reject
    * the changepoints per series — the distributed stand-in for
    * Prophet's per-series L1 changepoint selection. Dates are
    * "yyyy-MM-dd" strings.
    */
  def extendedWithChangepoints(
      changepoints: Seq[String],
      holidays: Seq[String] = Nil
  ): Seq[ForecastModel] = {
    require(changepoints.nonEmpty, "pass a non-empty changepoint roster (or use extended)")
    val base =
      if (holidays.isEmpty) extended else extendedWithHolidays(holidays)
    base :+ CalendarRegression(changepoints = changepoints, holidays = holidays)
  }

  /** Prophet-style automatic changepoint CANDIDATES: `n` dates
    * uniformly spaced over the first `frac` of [start, end] (Prophet's
    * `changepoint_range`, default 0.8 — Taylor & Letham 2018 §3.1.2
    * place the candidate grid in the first 80% of the history so the
    * tail of the series never fits a break it has no data after).
    * Candidate i sits at `round(frac · span · i / n)` days past
    * `start`; rounding collisions on tiny spans collapse via
    * `distinct`. Deterministic — the same (start, end, n, frac) always
    * yields the same roster, so model names (and any stored
    * `best_model` selections) are stable across runs.
    */
  def changepointGrid(
      start: String,
      end: String,
      n: Int,
      frac: Double = 0.8
  ): Seq[String] = {
    require(n >= 1, s"n must be >= 1, got $n")
    require(frac > 0.0 && frac <= 1.0, s"frac must be in (0, 1], got $frac")
    val s = java.time.LocalDate.parse(start).toEpochDay
    val e = java.time.LocalDate.parse(end).toEpochDay
    require(e > s, s"end must be after start, got [$start, $end]")
    val reach = (e - s) * frac
    val grid = (1 to n)
      .map(i => math.round(reach * i / n))
      // a candidate AT start is collinear with the trend; one AT (or
      // past) end has a zero hinge on every observation — both are
      // dead models the conditioning gates would refuse for every
      // series, so they never enter the roster
      .filter(off => off >= 1 && off < e - s)
      .map(off => java.time.LocalDate.ofEpochDay(s + off).toString)
      .distinct
    require(
      grid.nonEmpty,
      s"no usable changepoint candidates strictly inside [$start, $end] " +
        s"at n=$n, frac=$frac — widen the span or raise frac"
    )
    grid
  }

  /** AUTOMATIC changepoint discovery (the last AutoProphet fidelity
    * sliver): no known break dates required. A [[changepointGrid]]
    * candidate roster is generated over the observation span, each
    * candidate becomes its own single-changepoint [[CalendarRegression]]
    * (distinct content-hashed names), and the optimizer's
    * forward-chaining CV selects per series — a series with an unknown
    * break date lands on the grid candidate nearest its true break,
    * one without keeps the global-trend calendar fit or another family
    * member. This is the distributed analogue of Prophet's uniform
    * candidate grid + L1 shrinkage (reference thoth/anomaly/
    * models.py:216-241 via Merlion): where Prophet zeroes losing
    * candidates' slopes inside ONE per-series driver fit, graft scores
    * every candidate as a window expression over ALL series at once
    * and lets model selection zero the losers. All candidates share
    * the one series-key window exchange with the rest of the family.
    */
  def extendedWithAutoChangepoints(
      start: String,
      end: String,
      nCandidates: Int = 3,
      holidays: Seq[String] = Nil
  ): Seq[ForecastModel] = {
    val base =
      if (holidays.isEmpty) extended else extendedWithHolidays(holidays)
    base ++ changepointGrid(start, end, nCandidates).map(cp =>
      CalendarRegression(changepoints = Seq(cp), holidays = holidays))
  }

  /** Simple family (reference SimpleModelFactory): trailing means only. */
  def simple: Seq[ForecastModel] = trailingMeans()
}
