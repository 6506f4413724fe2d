package graft.anomaly

import graft.SparkSpec
import graft.testing.SyntheticSeries
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

class AnomalySpec extends SparkSpec {
  import spark.implicits._

  private def constantSeries(n: Int, value: Double = 50.0) =
    SyntheticSeries
      .daily(spark, n, trend = 0.0, seasonalAmp = 0.0, noiseAmp = 0.0, base = value)
      .withColumn("series", lit("const"))

  test("APE clamps to 1.0 and is NULL near zero / on null prediction") {
    val df = Seq(
      (100.0, Some(90.0)), // ape 0.1
      (10.0, Some(100.0)), // ape 9 -> clamped 1.0
      (0.00001, Some(1.0)), // |true| < 1e-4 -> null
      (100.0, None) // no prediction -> null
    ).toDF("t", "p")
    val out = df.select(ErrorMetrics.ape($"t", $"p").as("ape")).collect().map(r => Option(r.getAs[java.lang.Double]("ape")))
    assert(math.abs(out(0).get - 0.1) < 1e-9)
    assert(out(1).get == 1.0)
    assert(out(2).isEmpty && out(3).isEmpty)
  }

  test("TrailingMean forecasts the mean of the previous w points, null without full window") {
    val series = Seq(1.0, 2.0, 3.0, 4.0, 5.0).zipWithIndex
      .map { case (v, i) => (java.sql.Timestamp.valueOf(f"2025-01-${i + 1}%02d 00:00:00"), v) }
      .toDF("ts", "value")
      .withColumn("series", lit("s"))
    val w = Window.partitionBy($"series").orderBy($"ts")
    val out = series
      .withColumn("f", TrailingMean(3).forecast($"value", w))
      .orderBy("ts")
      .select("f")
      .collect()
      .map(r => Option(r.getAs[java.lang.Double]("f")))
    assert(out(0).isEmpty && out(1).isEmpty && out(2).isEmpty)
    assert(out(3).contains(2.0)) // mean(1,2,3)
    assert(out(4).contains(3.0)) // mean(2,3,4)
  }

  test("SeasonalNaive lags by the period; Ewma renormalizes over present lags") {
    val series = (1 to 10)
      .map(i => (java.sql.Timestamp.valueOf(f"2025-01-$i%02d 00:00:00"), i.toDouble))
      .toDF("ts", "value")
      .withColumn("series", lit("s"))
    val w = Window.partitionBy($"series").orderBy($"ts")
    val out = series
      .withColumn("sn", SeasonalNaive(7).forecast($"value", w))
      .withColumn("ew", Ewma(alpha = 0.5, horizon = 2).forecast($"value", w))
      .orderBy("ts")
      .collect()
    assert(Option(out(7).getAs[java.lang.Double]("sn")).map(_.doubleValue).contains(1.0))
    // row index 2 (value 3): lags 2,1 present -> (0.5*2 + 0.25*1)/0.75
    val ew2 = out(2).getAs[Double]("ew")
    assert(math.abs(ew2 - (0.5 * 2 + 0.25 * 1) / 0.75) < 1e-9)
    // row index 1: only lag1 present -> renormalized = exactly value 1
    assert(math.abs(out(1).getAs[Double]("ew") - 1.0) < 1e-9)
  }

  test("constant series: every model has zero error, threshold floors at minThreshold") {
    val opt = Optimizer.optimize(constantSeries(40), Seq("series"))
    val row = opt.collect().head
    assert(row.getAs[Double]("mean_error") == 0.0)
    assert(row.getAs[Double]("threshold") == 0.1) // min_threshold floor
  }

  test("optimizer prefers the seasonal model on a strongly weekly series") {
    val series = SyntheticSeries
      .daily(spark, 60, trend = 0.0, seasonalAmp = 0.5, noiseAmp = 0.0)
      .withColumn("series", lit("weekly"))
    val opt = Optimizer.optimize(series, Seq("series")).collect().head
    assert(opt.getAs[String]("best_model") == "SeasonalNaive-7")
    assert(opt.getAs[Double]("mean_error") < 1e-9)
  }

  test("scorer scores exactly the last point per series with its best model") {
    val series = SyntheticSeries.multi(spark, Seq("a", "b"), 30)
    val opt = Optimizer.optimize(series, Seq("series"))
    val scores = Scorer.score(series, opt, Seq("series")).collect()
    assert(scores.length == 2)
    val lastTs = series.groupBy("series").agg(max("ts").as("ts")).collect()
      .map(r => r.getString(0) -> r.getTimestamp(1)).toMap
    scores.foreach { r =>
      assert(r.getAs[java.sql.Timestamp]("ts") == lastTs(r.getAs[String]("series")))
      assert(r.getAs[Double]("score") >= 0.0)
    }
  }

  test("scoring with a smaller model family than optimize used fails loudly, not silently") {
    val series = SyntheticSeries
      .daily(spark, 70, trend = 0.3, period = 7, seasonalAmp = 0.15, noiseAmp = 0.005)
      .withColumn("series", lit("weekly"))
    val opt = Optimizer
      .optimize(series, Seq("series"), cfg = Optimizer.Config(models = Models.extended))
    // the seasonal series selects an extended-family model that the
    // default scoring family cannot forecast — the old inner join
    // dropped the series from the output without a trace. The guard is
    // lazy (raise_error in the broadcast projection), so it surfaces at
    // execution, wrapped by Spark.
    val err = intercept[Exception] {
      Scorer.score(series, opt, Seq("series")).collect()
    }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Seq.empty else String.valueOf(t.getMessage) +: messages(t.getCause)
    assert(
      messages(err).exists(_.contains("model family lacks")),
      messages(err).mkString(" | "))
    // same family scores fine
    val scored = Scorer
      .score(series, opt, Seq("series"), cfg = Optimizer.Config(models = Models.extended))
      .collect()
    assert(scored.length == 1)
  }

  test("HoltLinear tracks a linear trend that trailing means lag behind") {
    val series = (1 to 30)
      .map(i => (java.sql.Timestamp.valueOf(f"2025-01-$i%02d 00:00:00"), 100.0 + 5.0 * i))
      .toDF("ts", "value")
      .withColumn("series", lit("trend"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy($"series").orderBy($"ts")
    val out = series
      .withColumn("holt", HoltLinear().forecast($"value", w))
      .withColumn("tm", TrailingMean(7).forecast($"value", w))
      .where($"holt".isNotNull && $"tm".isNotNull)
      .select(
        avg(abs($"value" - $"holt")).as("holt_err"),
        avg(abs($"value" - $"tm")).as("tm_err")
      )
      .collect()
      .head
    assert(out.getAs[Double]("holt_err") < 0.5) // near-exact on pure trend
    assert(out.getAs[Double]("tm_err") > 10.0) // trailing mean lags by ~4 steps
    // and the optimizer picks a trend-aware model from the extended
    // family (HoltLinear, AutoSeasonal, AR(1) and CalendarRegression
    // are all exact-or-near on a pure trend; validation error and the
    // deterministic name tie-break decide between them)
    val opt = Optimizer
      .optimize(series, Seq("series"), cfg = Optimizer.Config(models = Models.extended))
      .collect()
      .head
    val best = opt.getAs[String]("best_model")
    assert(
      best.startsWith("HoltLinear") || best.startsWith("AutoSeasonal") ||
        best.startsWith("Calendar"),
      best
    )
  }

  test("HoltWinters is exact on a noiseless additive trend+seasonal series") {
    // value(i) = 50 + 2i + 10*sin(2*pi*i/7): the period mean cancels the
    // sine exactly, the same-phase drift telescopes to the slope, and
    // the phase deviation IS the seasonal offset — forecast == value.
    val rows = (0 until 40).map { i =>
      (
        java.sql.Timestamp.valueOf(java.time.LocalDate.of(2025, 1, 1).plusDays(i).atStartOfDay),
        50.0 + 2.0 * i + 10.0 * math.sin(2 * math.Pi * i / 7)
      )
    }
    val series = rows.toDF("ts", "value").withColumn("series", lit("hw"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy($"series").orderBy($"ts")
    val scored = series
      .withColumn("rn", org.apache.spark.sql.functions.row_number().over(w))
      .withColumn("hw", HoltWinters().forecast($"value", w))
    // NULL until period+1 lags exist (period mean + drift endpoint)
    assert(scored.where($"rn" <= 8 && $"hw".isNotNull).count() == 0)
    assert(scored.where($"rn" === 9 && $"hw".isNull).count() == 0)
    // exact (to fp roundoff) once one full seasonal window exists
    // (m=1 deviation needs period + (period-1)/2 = 10 preceding rows)
    val maxErr = scored
      .where($"rn" > 11)
      .select(max(abs($"value" - $"hw")).as("e"))
      .collect()
      .head
      .getAs[Double]("e")
    assert(maxErr < 1e-9, s"expected exact forecast, max abs error $maxErr")
  }

  test("HoltWinters stays exact for EVEN periods via the two-window centering") {
    // period 4 has no symmetric integer window: a single "centered"
    // window is off by half a step and would bias every deviation by
    // slope/2 — the averaged offset-by-one windows cancel that exactly.
    val s4 = Seq(3.0, -1.0, 4.0, -6.0) // zero-sum seasonal pattern
    val rows = (0 until 30).map { i =>
      (
        java.sql.Timestamp.valueOf(java.time.LocalDate.of(2025, 1, 1).plusDays(i).atStartOfDay),
        10.0 + 1.5 * i + s4(i % 4)
      )
    }
    val series = rows.toDF("ts", "value").withColumn("series", lit("hw4"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy($"series").orderBy($"ts")
    val maxErr = series
      .withColumn("rn", org.apache.spark.sql.functions.row_number().over(w))
      .withColumn("hw", HoltWinters(period = 4).forecast($"value", w))
      .where($"rn" > 9)
      .select(max(abs($"value" - $"hw")).as("e"))
      .collect()
      .head
      .getAs[Double]("e")
    assert(maxErr < 1e-9, s"expected exact even-period forecast, max abs error $maxErr")
  }

  test("HoltWinters beats HoltLinear on a noisy multiplicative seasonal+trend series") {
    val series = SyntheticSeries
      .daily(spark, 70, trend = 0.3, period = 7, seasonalAmp = 0.15, noiseAmp = 0.005)
      .withColumn("series", lit("hw"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy($"series").orderBy($"ts")
    val scored = series
      .withColumn("rn", org.apache.spark.sql.functions.row_number().over(w))
      .withColumn("hw", HoltWinters().forecast($"value", w))
      .withColumn("holt", HoltLinear().forecast($"value", w))
    // Once seasons are visible, phase deviations absorb the weekly
    // pattern HoltLinear treats as error.
    val errs = scored
      .where($"hw".isNotNull && $"holt".isNotNull && $"rn" > 21)
      .select(
        avg(abs($"value" - $"hw")).as("hw_err"),
        avg(abs($"value" - $"holt")).as("holt_err")
      )
      .collect()
      .head
    val (hwErr, holtErr) = (errs.getAs[Double]("hw_err"), errs.getAs[Double]("holt_err"))
    assert(hwErr < holtErr * 0.3, s"HoltWinters $hwErr !< 0.3 * HoltLinear $holtErr")
  }

  test("AutoSeasonal learns the period and beats SeasonalNaive-7 on weekly+trend") {
    // Weekly multiplicative seasonality on a linear trend: plain
    // seasonal-naive lags by slope*period; AutoSeasonal's drift term
    // compensates (h=7 keeps the drift estimate phase-aligned).
    val series = graft.testing.SyntheticSeries
      .daily(spark, 70, trend = 0.5, period = 7, seasonalAmp = 0.1, noiseAmp = 0.005)
      .withColumn("series", lit("weekly"))
    val cfg = Optimizer.Config(models = Seq(SeasonalNaive(7), AutoSeasonal()))
    val errs = Optimizer
      .evaluate(series, Seq("series"), cfg = cfg)
      .collect()
      .map(r => r.getAs[String]("model") -> r.getAs[Double]("mean_error"))
      .toMap
    val auto = errs.collect { case (m, e) if m.startsWith("AutoSeasonal") => e }.head
    val sn = errs("SeasonalNaive-7")
    assert(auto < sn, s"AutoSeasonal $auto !< SeasonalNaive $sn")
    // and a seasonal-aware model wins selection from the full extended
    // family (AutoSeasonal and HoltWinters are both near-exact here;
    // which edges out is a rounding contest, not the point)
    val best = Optimizer
      .optimize(series, Seq("series"), cfg = Optimizer.Config(models = Models.extended))
      .collect()
      .head
      .getAs[String]("best_model")
    assert(best.startsWith("AutoSeasonal") || best.startsWith("HoltWinters"), best)
  }

  test("hyperparameter grid: a period-30 seasonal series selects a period-30 model") {
    // monthly SPIKE train on a linear trend: a smooth sine is easy for
    // short-lag models (a 30-day wave barely moves day to day), but a
    // sharp monthly spike is only forecastable by a model that carries
    // period-30 structure — the per-series CV must pick a period-30
    // grid point, the reference's AutoML intent (per-series
    // hyperparameter fit) done as distributed grid search. HW-30 is
    // exact here: its same-phase drift telescopes across spikes and
    // any 30-row mean contains exactly one spike.
    val series = spark.range(150).select(
      date_add(to_date(lit("2025-01-01")), col("id").cast("int"))
        .cast("timestamp").as("ts"),
      (lit(100.0) + col("id").cast("double") * 0.2 +
        when(col("id") % 30 === 0, 100.0).otherwise(0.0)).as("value")
    ).withColumn("series", lit("monthly"))
    val best = Optimizer
      .optimize(series, Seq("series"), cfg = Optimizer.Config(models = Models.extended))
      .collect().head.getAs[String]("best_model")
    assert(
      best.matches(".*(-|_)30.*") && !best.startsWith("TrailingMean"),
      s"expected a period-30-capable model, got $best")
    // restricted to the HW grid alone, the period-30 point must win
    val hwBest = Optimizer
      .optimize(series, Seq("series"), cfg = Optimizer.Config(models = Models.hwGrid()))
      .collect().head.getAs[String]("best_model")
    assert(hwBest.matches("HoltWinters-0\\.[37]0-30-2"), hwBest)
  }

  test("threshold grid matches the reference's _find_best_threshold cases") {
    // reference tests/unit/thoth/test_anomaly/test_optimization.py:
    // case 1: nine 0.1 errors + one 0.5, confidence 0.9 -> t=0.1, p=0.9
    val case1 = (Seq.fill(9)(0.1) :+ 0.5).map(("m", _)).toDF("k", "error")
    val t1 = Optimizer
      .bestThresholds(case1, Seq("k"), Optimizer.Config(confidence = 0.9))
      .collect()
      .head
    assert(t1.getAs[Double]("threshold") == 0.1)
    assert(t1.getAs[Double]("below_proportion") == 0.9)
    // case 2: errors (1.0, 1.0, 0.1), confidence 0.9 -> t=1.0, p=1.0
    val case2 = Seq(1.0, 1.0, 0.1).map(("m", _)).toDF("k", "error")
    val t2 = Optimizer
      .bestThresholds(case2, Seq("k"), Optimizer.Config(confidence = 0.9))
      .collect()
      .head
    assert(t2.getAs[Double]("threshold") == 1.0)
    assert(t2.getAs[Double]("below_proportion") == 1.0)
  }

  test("optimization_failed flags series where even the best model needs threshold 1.0") {
    // White noise around alternating extremes: every model's APE is
    // frequently ~1.0, so no threshold below 1.0 reaches confidence .99
    // (the reference raises OptimizationFailedError here).
    val wild = (1 to 40)
      .map(i => (java.sql.Timestamp.valueOf(f"2025-01-${(i % 28) + 1}%02d ${i / 28}%02d:00:00"),
        if (i % 2 == 0) 1000.0 else 0.001))
      .toDF("ts", "value")
      .withColumn("series", lit("wild"))
    val opt = Optimizer.optimize(wild, Seq("series")).collect().head
    assert(opt.getAs[Boolean]("optimization_failed"))
    // and the healthy constant series is not flagged
    val ok = Optimizer.optimize(constantSeries(40), Seq("series")).collect().head
    assert(!ok.getAs[Boolean]("optimization_failed"))
  }

  test("a series too short for every model still surfaces as a failed optimization row") {
    val tiny = constantSeries(3) // TrailingMean-3 is the smallest simple model: never forecasts
    val opt = Optimizer
      .optimize(tiny, Seq("series"), cfg = Optimizer.Config(models = Models.simple))
      .collect()
    assert(opt.length == 1)
    assert(opt.head.getAs[Boolean]("optimization_failed"))
    assert(opt.head.getAs[String]("best_model") == null)
  }

  test("a NULL score (unscorable point) flags as anomalous instead of vanishing") {
    val scoring = Seq(
      ("s1", Some(0.05)), // healthy
      ("s2", None) // metric collapsed below APE floor -> no score
    ).toDF("series", "score")
    val optimization = Seq(("s1", 0.2), ("s2", 0.2)).toDF("series", "threshold")
    val out = graft.quality.Quality
      .assess(scoring, optimization, Seq("series"))
      .collect()
      .map(r => r.getAs[String]("series") -> r.getAs[Boolean]("is_anomalous"))
      .toMap
    assert(out == Map("s1" -> false, "s2" -> true))
  }

  test("robust z-score: median/MAD resist an outlier history, last point flagged only when far") {
    import java.sql.Timestamp
    def t(d: Int) = Timestamp.valueOf(f"2024-01-$d%02d 00:00:00")
    // history 1..9 constant 10.0 except one wild outlier; last = 10.1
    val calm = (1 to 8).map(d => ("s1", t(d), 10.0)) :+ (("s1", t(9), 1000.0)) :+ (("s1", t(10), 10.1))
    // second series: clear last-point break
    val broken = (1 to 9).map(d => ("s2", t(d), (d % 3).toDouble)) :+ (("s2", t(10), 50.0))
    val out = graft.anomaly.Scorer
      .robustZLast((calm ++ broken).toDF("series", "ts", "value"), Seq("series"))
      .collect()
      .map(r => r.getAs[String]("series") -> r)
      .toMap
    // s1: median 10, MAD 0 -> eps floor; tiny delta over eps is huge z, but
    // the MEDIAN ignored the 1000.0 outlier (a mean/stddev z would not flag)
    assert(out("s1").getAs[Double]("median") == 10.0)
    assert(out("s1").getAs[Double]("mad") == 0.0)
    assert(out("s2").getAs[Boolean]("is_anomaly"))
    assert(math.abs(out("s2").getAs[Double]("median") - 1.0) < 1e-9)
  }

  test("robust z-score: a history-less series surfaces with null stats, not silently dropped") {
    import java.sql.Timestamp
    val single = Seq(("solo", Timestamp.valueOf("2024-01-01 00:00:00"), 5.0))
    val out = graft.anomaly.Scorer
      .robustZLast(single.toDF("series", "ts", "value"), Seq("series"))
      .collect()
    assert(out.length == 1)
    assert(out.head.isNullAt(out.head.fieldIndex("median")))
    assert(out.head.isNullAt(out.head.fieldIndex("zscore")))
    assert(!out.head.getAs[Boolean]("is_anomaly"))
  }

  test("adaptive start proportion widens validation for long series") {
    val short = Optimizer
      .forecastErrors(constantSeries(20), Seq("series"))
      .where($"is_validation")
      .count()
    val long = Optimizer
      .forecastErrors(constantSeries(120), Seq("series"))
      .where($"is_validation")
      .count()
    // n=20 -> start 0.8 -> 4 rows/model; n=120 -> start 0.1 -> 108 rows/model
    val models = Models.default.size
    assert(short == 4L * models)
    assert(long == 108L * models)
  }

  private def arSeries(vals: Seq[Double], key: String = "s") = {
    import spark.implicits._
    vals.zipWithIndex
      .map { case (v, i) => (key, new java.sql.Timestamp(86400000L * (i + 1)), v) }
      .toDF("series", "ts", "value")
  }

  private def arForecasts(m: AutoRegressive, vals: Seq[Double]): Seq[Option[Double]] = {
    val w = Window.partitionBy($"series").orderBy($"ts")
    val df = arSeries(vals)
    m.prepare(df, $"value", w)
      .withColumn("f", m.forecast($"value", w))
      .orderBy("ts")
      .select("f")
      .collect()
      .toSeq
      // NOT Option(getAs[java.lang.Double]): under the Option[Double]
      // expected type scalac unboxes, and null.asInstanceOf[Double]
      // is 0.0 — a null forecast would masquerade as a zero one
      .map(r => if (r.isNullAt(0)) None else Some(r.getDouble(0)))
  }

  test("AR(2) recovers a noiseless autoregressive process exactly") {
    // y_t = 10 + 0.3 y_{t-1} - 0.6 y_{t-2}: stationary, oscillatory
    // (complex roots), so the lag columns never go collinear
    val vals = Iterator
      .iterate((1.0, 5.0)) { case (a, b) => (b, 10.0 + 0.3 * b - 0.6 * a) }
      .take(30)
      .map(_._1)
      .toSeq
    val fc = arForecasts(AutoRegressive(2), vals)
    // NULL until minTrain=8 training samples precede the row (rn >= 11)
    assert(fc.take(10).forall(_.isEmpty))
    fc.zipWithIndex.drop(10).foreach { case (f, i) =>
      assert(f.isDefined && math.abs(f.get - vals(i)) < 1e-6,
        s"row ${i + 1}: got $f want ${vals(i)}")
    }
  }

  test("AR(1) is exact on a linear trend; AR(2) refuses the collinear system") {
    val vals = (1 to 30).map(i => 7.0 + 2.5 * i)
    val ar1 = arForecasts(AutoRegressive(1), vals)
    ar1.zipWithIndex.drop(10).foreach { case (f, i) =>
      // y_t = y_{t-1} + 2.5 is an exact AR(1)+intercept fit
      assert(f.isDefined && math.abs(f.get - vals(i)) < 1e-6)
    }
    // on the same line y(t-1) and y(t-2) are perfectly collinear:
    // det ~ 0 -> AR(2) must emit NULL, never a garbage solve
    assert(arForecasts(AutoRegressive(2), vals).forall(_.isEmpty))
    // constant series: zero variance, no fit
    assert(arForecasts(AutoRegressive(2), Seq.fill(30)(42.0)).forall(_.isEmpty))
  }

  test("AR coefficients are fit on strictly preceding rows only") {
    val base = Iterator
      .iterate((1.0, 5.0)) { case (a, b) => (b, 10.0 + 0.3 * b - 0.6 * a) }
      .take(25)
      .map(_._1)
      .toSeq
    val poisoned = base.init :+ 1e6 // corrupt ONLY the last observation
    val a = arForecasts(AutoRegressive(2), base)
    val b = arForecasts(AutoRegressive(2), poisoned)
    // every forecast except (possibly) ones after the corrupted row —
    // i.e. all of them, it is the last row — must be bit-identical
    assert(a == b, "future data leaked into an earlier fit")
  }

  test("AR matches a plain-JVM reference bit-for-bit on seeded noisy series") {
    // independent reimplementation of the staged math (DECIMAL(38,10)
    // expanding moments, centered normal equations, Laplace/Cramer
    // solve in the Column term order, both conditioning gates). The
    // series open on a constant stretch, so the first fits that clear
    // minTrain are refused and must stay NULL. Seeded, so failures
    // reproduce.
    import java.math.{BigDecimal => JBD, MathContext, RoundingMode}
    val mc = new MathContext(38)
    def dec10(d: Double): JBD =
      JBD.valueOf(d).setScale(10, RoundingMode.HALF_UP)
    def det(m: Vector[Vector[Double]]): Double = m.size match {
      case 1 => m(0)(0)
      case n =>
        (0 until n)
          .map { j =>
            val term = m(0)(j) * det(m.tail.map(_.patch(j, Nil, 1)))
            if (j % 2 == 0) term else -term
          }
          .reduce(_ + _)
    }
    def jvmForecasts(vals: Seq[Double], p: Int, minTrain: Int): Seq[Option[Double]] =
      vals.indices.map { t =>
        def l(s: Int, i: Int) = vals(s - i)
        // training samples: strictly preceding rows with every lag
        val hist = (p until t).toVector
        val n = hist.size
        if (n < minTrain) None
        else {
          def msum(f: Int => Double): Double =
            hist.foldLeft(JBD.ZERO)((acc, s) => acc.add(dec10(f(s)), mc)).doubleValue
          val nD = n.toDouble
          val sy = msum(s => vals(s))
          val si = Vector.tabulate(p)(i => msum(s => l(s, i + 1)))
          val sij = Vector.tabulate(p, p)((i, j) =>
            msum(s => l(s, math.min(i, j) + 1) * l(s, math.max(i, j) + 1)))
          val siy = Vector.tabulate(p)(i => msum(s => l(s, i + 1) * vals(s)))
          val cm = Vector.tabulate(p, p)((i, j) =>
            sij(i)(j) - si(math.min(i, j)) * si(math.max(i, j)) / nD)
          val cy = Vector.tabulate(p)(i => siy(i) - si(i) * sy / nD)
          val d = det(cm)
          val diagOk = (0 until p).forall(i => cm(i)(i) > 1e-12 * sij(i)(i))
          val prodDiag = (0 until p).map(i => cm(i)(i)).reduce(_ * _)
          if (!(diagOk && math.abs(d) > 1e-9 * prodDiag)) None
          else {
            val phi = Vector.tabulate(p)(k =>
              det(Vector.tabulate(p, p)((i, j) => if (j == k) cy(i) else cm(i)(j))) / d)
            val a = (sy - (0 until p).map(i => phi(i) * si(i)).reduce(_ + _)) / nD
            Some(a + (0 until p).map(i => phi(i) * l(t, i + 1)).reduce(_ + _))
          }
        }
      }
    val rng = new scala.util.Random(20261017L)
    for { p <- Seq(1, 2); trial <- 1 to 2 } {
      val noisy = Iterator
        .iterate((20.0, 21.0)) { case (a, b) =>
          (b, 10.0 + 0.4 * b - 0.3 * a + rng.nextGaussian())
        }
        .take(40)
        .map(_._1)
        .toSeq
      val vals = Seq.fill(14)(42.0) ++ noisy
      val spark_ = arForecasts(AutoRegressive(p), vals)
      val jvm = jvmForecasts(vals, p, minTrain = 8)
      // the constant stretch clears minTrain but every fit is refused
      assert(jvm.take(14).forall(_.isEmpty) && jvm.exists(_.isDefined))
      vals.indices.foreach { i =>
        (spark_(i), jvm(i)) match {
          case (None, None) => ()
          case (Some(s), Some(j)) =>
            assert(
              java.lang.Double.compare(s, j) == 0,
              s"AR($p) trial $trial row $i: spark=$s jvm=$j"
            )
          case other =>
            fail(s"AR($p) trial $trial row $i: null-mismatch $other")
        }
      }
    }
  }

  // (dayIndex, value) rows at day granularity — gaps allowed, unlike
  // arSeries' dense index
  private def calSeries(rows: Seq[(Int, Double)], key: String = "s") = {
    import spark.implicits._
    rows
      .map { case (day, v) => (key, new java.sql.Timestamp(86400000L * day), v) }
      .toDF("series", "ts", "value")
  }

  private def calForecasts(
      m: CalendarRegression,
      rows: Seq[(Int, Double)]
  ): Seq[Option[Double]] = {
    val w = Window.partitionBy($"series").orderBy($"ts")
    val df = calSeries(rows)
    m.prepare(df, $"value", w)
      .withColumn("f", m.forecast($"value", w))
      .orderBy("ts")
      .select("f")
      .collect()
      .toSeq
      .map(r => if (r.isNullAt(0)) None else Some(r.getDouble(0)))
  }

  // planted calendar series: y = level + slope*day + dow_effect. For
  // the two-stage fit to be EXACT on complete-week prefixes the
  // effects must be orthogonal to both trend regressors within one
  // week: sum(s) = 0 (intercept) and sum over r=1..7 of r * s(r mod 7)
  // = 0 (slope). This set satisfies both (7*16 + 4 - 4 + 6 - 4 + 0 -
  // 114 = 0).
  private val dowEffects =
    Map(0 -> 16.0, 1 -> 4.0, 2 -> -2.0, 3 -> 2.0, 4 -> -1.0, 5 -> 0.0, 6 -> -19.0)
  private def plantedCal(day: Int): Double =
    100.0 + 0.5 * day + dowEffects(day % 7)

  test("CalendarRegression recovers a planted weekday effect exactly on complete weeks") {
    val rows = (1 to 43).map(d => d -> plantedCal(d))
    val fc = calForecasts(CalendarRegression(), rows)
    // NULL until minTrain=14 training rows precede (rn >= 15)
    assert(fc.take(14).forall(_.isEmpty))
    // rows whose training prefix is exactly k complete weeks: the
    // seasonal component is orthogonal to the trend there, so the
    // two-stage fit recovers level, slope, and every effect exactly
    rows.zipWithIndex.foreach { case ((day, want), i) =>
      if (i >= 14 && i % 7 == 0)
        assert(
          fc(i).isDefined && math.abs(fc(i).get - want) < 1e-6,
          s"day $day: got ${fc(i)} want $want"
        )
    }
  }

  test("CalendarRegression stays calendar-aligned across gaps that derail row-lag models") {
    // business-day-style series: weekends (day%7 == 5 or 6) missing,
    // plus a one-week ingestion outage — row offsets no longer mean
    // anything, calendar columns still do
    val rows = (1 to 84)
      .filterNot(d => d % 7 == 5 || d % 7 == 6)
      .filterNot(d => d > 40 && d <= 47)
      .map(d => d -> plantedCal(d))
    val best = Optimizer
      .optimize(
        calSeries(rows, "gappy"),
        Seq("series"),
        cfg = Optimizer.Config(models = Models.extended)
      )
      .collect()
      .head
    assert(
      best.getAs[String]("best_model") == "Calendar-dow",
      s"calendar model must win CV on a gappy weekday series, got " +
        best.getAs[String]("best_model")
    )
    assert(!best.getAs[Boolean]("optimization_failed"))
  }

  test("CalendarRegression holiday indicator absorbs a recurring dip instead of false-alarming") {
    // 'holiday' dips of -40 on days falling on DIFFERENT weekdays (as
    // real calendar holidays do), so the dip cannot hide in a single
    // day-of-week effect: training dips on slots 2 and 3 (whose
    // planted effects cancel, keeping the pooled holiday effect
    // unbiased), the held-out dip on slot 6
    val holidays = Seq(9, 24, 62)
    val holiDates = holidays.map(d =>
      java.time.Instant
        .ofEpochMilli(86400000L * d)
        .atZone(java.time.ZoneOffset.UTC)
        .toLocalDate
        .toString)
    val rows = (1 to 70).map { d =>
      d -> (plantedCal(d) + (if (holidays.contains(d)) -40.0 else 0.0))
    }
    val plain = calForecasts(CalendarRegression(), rows)
    val aware = calForecasts(CalendarRegression(holidays = holiDates), rows)
    // day 62 is the third dip: the aware model has 2 training holidays
    // (>= 2 slot rows), so its forecast lands near the dipped value
    val i62 = rows.indexWhere(_._1 == 62)
    val want = rows(i62)._2
    assert(aware(i62).isDefined && math.abs(aware(i62).get - want) < 5.0,
      s"holiday-aware forecast ${aware(i62)} should land near $want")
    assert(math.abs(plain(i62).get - want) > 20.0,
      "the holiday-blind model must miss the dip (that is the point)")
    // and the names stay distinct for the optimizer's model column
    assert(CalendarRegression().name == "Calendar-dow")
    assert(CalendarRegression(holidays = holiDates).name
      .matches("Calendar-dow-h3x[0-9a-f]{16}"))
    // distinct same-size rosters -> distinct names (the r13 alias fix)
    assert(CalendarRegression(holidays = holiDates).name !=
      CalendarRegression(holidays = holiDates.map(_ => "2030-01-01").distinct ++ holiDates.tail).name)
  }

  test("extendedWithHolidays: a roster-following series selects the holiday-aware fit via CV") {
    val holidays = Seq(9, 24, 37, 52, 66)
    val holiDates = holidays.map(d =>
      java.time.Instant
        .ofEpochMilli(86400000L * d)
        .atZone(java.time.ZoneOffset.UTC)
        .toLocalDate
        .toString)
    val rows = (1 to 70).map { d =>
      d -> (plantedCal(d) + (if (holidays.contains(d)) -40.0 else 0.0))
    }
    // validation starts at 0.4 so both warm-up holidays (9, 24) are
    // training history: the indicator is active for every validated
    // dip, and the holiday-aware fit wins the 0.99-confidence
    // threshold criterion outright (the holiday-blind family pays
    // ~0.5 APE on each validated dip day)
    val best = Optimizer
      .optimize(
        calSeries(rows, "holi"),
        Seq("series"),
        cfg = Optimizer.Config(
          models = Models.extendedWithHolidays(holiDates),
          startProportion = Some(0.4)
        )
      )
      .collect()
      .head
    assert(
      best.getAs[String]("best_model") == CalendarRegression(holidays = holiDates).name,
      s"holiday-aware calendar fit must win CV on a roster-following " +
        s"series, got ${best.getAs[String]("best_model")}"
    )
    intercept[IllegalArgumentException](Models.extendedWithHolidays(Nil))
  }

  test("CalendarRegression fits on strictly preceding rows only") {
    val base = (1 to 40).map(d => d -> plantedCal(d))
    val poisoned = base.init :+ (base.last._1 -> 1e6)
    assert(
      calForecasts(CalendarRegression(), base) ==
        calForecasts(CalendarRegression(), poisoned),
      "future data leaked into an earlier calendar fit"
    )
  }

  test("CalendarRegression matches a plain-JVM reference bit-for-bit on randomized gappy series") {
    // independent reimplementation of the staged math (DECIMAL(38,10)
    // expanding sums, closed-form trend, per-slot mean residuals) —
    // catches any staging/guard regression the single-dataset oracle
    // could miss. Seeded, so failures reproduce.
    import java.math.{BigDecimal => JBD, MathContext, RoundingMode}
    def dec10(d: Double): JBD =
      JBD.valueOf(d).setScale(10, RoundingMode.HALF_UP)
    def jvmForecasts(rows: Seq[(Int, Double)], minTrain: Int): Seq[Option[Double]] =
      rows.indices.map { t =>
        val hist = rows.take(t)
        val n = hist.size
        if (n < minTrain) None
        else {
          val mc = new MathContext(38)
          def msum(f: ((Int, Double)) => Double): Double =
            hist.foldLeft(JBD.ZERO)((acc, r) => acc.add(dec10(f(r)), mc)).doubleValue
          def dowOf(day: Int): Int = {
            val d = java.time.LocalDate.ofEpochDay(day.toLong)
            d.getDayOfWeek.getValue % 7 + 1 // Spark: Sunday=1
          }
          val nD = n.toDouble
          val sx = msum { case (d, _) => d.toDouble }
          val sy = msum { case (_, v) => v }
          val sxx = msum { case (d, _) => d.toDouble * d.toDouble }
          val sxy = msum { case (d, v) => d.toDouble * v }
          val cxx = sxx - sx * sx / nD
          if (!(cxx > 1e-12 * sxx)) None
          else {
            val b = (sxy - sx * sy / nD) / cxx
            val a = (sy - b * sx) / nD
            val (day, _) = rows(t)
            val dw = dowOf(day)
            val slot = hist.filter { case (d, _) => dowOf(d) == dw }
            val eff =
              if (slot.size >= 2) {
                val nd = slot.size.toDouble
                val syd = slot.foldLeft(JBD.ZERO)((acc, r) => acc.add(dec10(r._2), mc)).doubleValue
                val sxd = slot.foldLeft(JBD.ZERO)((acc, r) => acc.add(dec10(r._1.toDouble), mc)).doubleValue
                (syd - a * nd - b * sxd) / nd
              } else 0.0
            Some(a + b * day.toDouble + eff)
          }
        }
      }
    val rng = new scala.util.Random(20260815L)
    (1 to 3).foreach { trial =>
      // gappy day axis + noisy weekly series
      val days = (1 to 80).filter(_ => rng.nextDouble() > 0.2)
      val rows = days.map { d =>
        d -> (50.0 + 0.3 * d + 5.0 * math.sin(d % 7) + rng.nextGaussian())
      }
      val spark_ = calForecasts(CalendarRegression(), rows)
      val jvm = jvmForecasts(rows, minTrain = 14)
      rows.indices.foreach { i =>
        (spark_(i), jvm(i)) match {
          case (None, None) => ()
          case (Some(s), Some(j)) =>
            assert(
              java.lang.Double.compare(s, j) == 0,
              s"trial $trial row $i (day ${rows(i)._1}): spark=$s jvm=$j"
            )
          case other =>
            fail(s"trial $trial row $i: null-mismatch $other")
        }
      }
    }
  }

  private def epochDate(day: Int): String =
    java.time.LocalDate.ofEpochDay(day.toLong).toString

  test("PiecewiseCalendar recovers a noiseless slope break exactly once both segments are seen") {
    // y = 10 + 0.5x before day 20, slope jumps to 2.0 after:
    // y = 10 + 0.5x + 1.5*max(0, x - 20) — exactly in the hinge basis,
    // so the fit interpolates exactly once the system conditions
    val cp = 20
    def y(d: Int): Double = 10.0 + 0.5 * d + 1.5 * math.max(0, d - cp)
    val rows = (1 to 60).map(d => d -> y(d))
    val fc = calForecasts(CalendarRegression(changepoints = Seq(epochDate(cp))), rows)
    // well past the changepoint: hinge has variance, system regular
    rows.zipWithIndex.foreach { case ((d, want), i) =>
      if (d >= 30)
        assert(fc(i).isDefined && math.abs(fc(i).get - want) < 1e-6,
          s"day $d: got ${fc(i)} want $want")
    }
    // before minTrain: NULL
    assert(fc.take(14).forall(_.isEmpty))
  }

  test("PiecewiseCalendar refuses out-of-span changepoints instead of guessing") {
    val rows = (1 to 40).map(d => d -> (10.0 + 0.5 * d))
    // changepoint after every observation: hinge is all-zero
    assert(calForecasts(
      CalendarRegression(changepoints = Seq(epochDate(90))), rows).forall(_.isEmpty))
    // changepoint before every observation: hinge == x - cp, collinear
    assert(calForecasts(
      CalendarRegression(changepoints = Seq(epochDate(0))), rows).forall(_.isEmpty))
    // roster validation
    // no changepoints is the global-trend calendar model, name and all
    assert(CalendarRegression(changepoints = Nil) == CalendarRegression())
    assert(CalendarRegression(changepoints = Nil).name == "Calendar-dow")
    intercept[IllegalArgumentException](Models.extendedWithChangepoints(Nil))
    intercept[IllegalArgumentException](
      CalendarRegression(changepoints = Seq("2024-01-01", "2024-02-01", "2024-03-01")))
    // duplicate hinge = exact collinearity — refused loudly at construction
    intercept[IllegalArgumentException](
      CalendarRegression(changepoints = Seq(epochDate(20), epochDate(20))))
    // permuted rosters are the SAME model: same name (content hash
    // sorts) AND same normalized regressor order, so co-existing
    // permutations can never alias same-named prepare columns with
    // different hinge moments — identical forecasts, bit for bit
    val permRows = (1 to 50).map(d =>
      d -> (10.0 + 0.5 * d + 1.5 * math.max(0, d - 15) - 0.8 * math.max(0, d - 30)))
    val permA = CalendarRegression(changepoints = Seq(epochDate(15), epochDate(30)))
    val permB = CalendarRegression(changepoints = Seq(epochDate(30), epochDate(15)))
    assert(permA.name == permB.name)
    assert(calForecasts(permA, permRows) == calForecasts(permB, permRows))
    assert(CalendarRegression(changepoints = Seq(epochDate(20))).name
      .matches("Calendar-pw1x[0-9a-f]{16}"))
    assert(CalendarRegression(
      changepoints = Seq(epochDate(20)),
      holidays = Seq(epochDate(9))).name
      .matches("Calendar-pw1x[0-9a-f]{16}-h1x[0-9a-f]{16}"))
  }

  test("extendedWithChangepoints: a slope-break weekday series selects the piecewise fit via CV") {
    // the break sits at day 45 — inside every lag model's forecastable
    // region, so their post-break transients land in validation (an
    // early break hides behind AutoSeasonal's 37-row history
    // requirement and it reads exact). Weekday amplitude is kept small
    // relative to the slope change: the piecewise fit's only error
    // source right after the break is seasonal-hinge confusion over
    // the straddling partial week (∝ seasonal amplitude), while the
    // lag models' transients scale with the slope change itself.
    val cp = 45
    val rows = (1 to 70).map { d =>
      d -> (100.0 + 0.5 * d + dowEffects(d % 7) / 8.0 +
        6.0 * math.max(0, d - cp))
    }
    val best = Optimizer
      .optimize(
        calSeries(rows, "pw"),
        Seq("series"),
        cfg = Optimizer.Config(
          models = Models.extendedWithChangepoints(Seq(epochDate(cp))),
          startProportion = Some(0.4)
        )
      )
      .collect()
      .head
    assert(
      best.getAs[String]("best_model") == CalendarRegression(changepoints = Seq(epochDate(cp))).name,
      s"piecewise calendar fit must win CV on a slope-break weekday " +
        s"series, got ${best.getAs[String]("best_model")}"
    )
    // and on a series WITHOUT a break, CV keeps a simpler model — the
    // changepoint roster is accepted per series, not imposed
    val plainRows = (1 to 70).map(d => d -> plantedCal(d))
    val bestPlain = Optimizer
      .optimize(
        calSeries(plainRows, "pl"),
        Seq("series"),
        cfg = Optimizer.Config(
          models = Models.extendedWithChangepoints(Seq(epochDate(cp))),
          startProportion = Some(0.4)
        )
      )
      .collect()
      .head
    assert(!bestPlain.getAs[Boolean]("optimization_failed"))
  }

  test("model names are locale-independent and calendar models refuse a mismatched tsCol") {
    // f"%.2f" delegates to the DEFAULT locale — a de_DE driver would
    // store best_model "Ewma-0,50-8" and scoring on an en_US driver
    // would raise "model family lacks"
    val saved = java.util.Locale.getDefault
    try {
      java.util.Locale.setDefault(java.util.Locale.GERMANY)
      assert(Ewma().name == "Ewma-0.50-8")
      assert(HoltLinear().name == "HoltLinear-0.50-0.50-8")
      assert(HoltWinters().name == "HoltWinters-0.50-7-2")
    } finally java.util.Locale.setDefault(saved)
    // calendar models read their CONSTRUCTOR tsCol — a silent mismatch
    // would build trend regressors from the wrong column
    val series = calSeries((1 to 20).map(d => d -> d.toDouble))
      .withColumnRenamed("ts", "event_time")
    val ex = intercept[IllegalArgumentException] {
      Optimizer.forecastErrors(
        series, Seq("series"), tsCol = "event_time",
        cfg = Optimizer.Config(models = Seq(CalendarRegression())))
    }
    assert(ex.getMessage.contains("tsCol"))
    // a series column named like a downstream pipeline output is
    // refused up front instead of being clobbered by evaluate()
    val clash = calSeries((1 to 20).map(d => d -> d.toDouble))
      .withColumn("threshold", lit(1.0))
    val ex2 = intercept[IllegalArgumentException] {
      Optimizer.forecastErrors(clash, Seq("series", "threshold"))
    }
    assert(ex2.getMessage.contains("threshold"))
  }

  test("changepointGrid: deterministic Prophet-style candidate placement") {
    val g = Models.changepointGrid(epochDate(1), epochDate(70), 4)
    // reach = 0.8 * 69 days; candidates at round(reach * i / 4) past start
    assert(g == Seq(15, 29, 42, 56).map(epochDate))
    // deterministic: same inputs, same roster (stored best_model names
    // must keep joining at scoring time)
    assert(g == Models.changepointGrid(epochDate(1), epochDate(70), 4))
    // all candidates inside the first `frac` of the span
    // frac = 1.0: the last uniform position falls ON `end`, where the
    // hinge is zero for every observation — dropped, not emitted dead
    val full = Models.changepointGrid(epochDate(0), epochDate(100), 5, frac = 1.0)
    assert(full.size == 4 && full.last == epochDate(80))
    // a span/frac too tiny to hold any interior candidate fails loudly
    // instead of silently running discovery with zero candidates
    intercept[IllegalArgumentException](
      Models.changepointGrid(epochDate(0), epochDate(4), 1, frac = 0.1))
    // collisions on tiny spans collapse instead of duplicating names;
    // zero-offset (trend-collinear) and end-of-span (zero-hinge)
    // candidates are dropped — only the strict interior survives
    assert(Models.changepointGrid(epochDate(0), epochDate(2), 10) ==
      Seq(epochDate(1)))
    intercept[IllegalArgumentException](Models.changepointGrid(epochDate(5), epochDate(5), 3))
    intercept[IllegalArgumentException](Models.changepointGrid(epochDate(1), epochDate(9), 0))
    intercept[IllegalArgumentException](
      Models.changepointGrid(epochDate(1), epochDate(9), 2, frac = 0.0))
  }

  test("extendedWithAutoChangepoints: an UNKNOWN break date is discovered from the grid") {
    // Same planted series as the known-changepoint test, but the break
    // day (43) is NOT given to the model family — only the observation
    // span is. The grid places candidates at epoch days 15/29/42/56;
    // CV must land on 42, the candidate nearest the true break, which
    // is exactly Prophet's uniform-grid + selection behaviour with the
    // L1 shrinkage replaced by per-series model selection. (A break
    // further off-grid than the daily seasonal period degrades every
    // candidate's fit enough that lag models can win — the grid
    // density, like Prophet's n_changepoints, bounds the discovery
    // resolution.)
    val cp = 43
    val rows = (1 to 70).map { d =>
      d -> (100.0 + 0.5 * d + dowEffects(d % 7) / 8.0 +
        6.0 * math.max(0, d - cp))
    }
    val family = Models.extendedWithAutoChangepoints(epochDate(1), epochDate(70), 4)
    val best = Optimizer
      .optimize(
        calSeries(rows, "auto"),
        Seq("series"),
        cfg = Optimizer.Config(models = family, startProportion = Some(0.4))
      )
      .collect()
      .head
    val nearest = CalendarRegression(changepoints = Seq(epochDate(42))).name
    assert(
      best.getAs[String]("best_model") == nearest,
      s"CV must discover the grid candidate nearest the unknown break, " +
        s"got ${best.getAs[String]("best_model")}"
    )
  }

  test("CalendarRegression refuses degenerate time axes instead of guessing") {
    // all rows on ONE day (zero x variance): conditioning gate -> NULL
    import spark.implicits._
    val df = (1 to 30)
      .map(i => ("s", new java.sql.Timestamp(86400000L + i), i.toDouble))
      .toDF("series", "ts", "value")
    val m = CalendarRegression()
    val w = Window.partitionBy($"series").orderBy($"ts")
    val fc = m
      .prepare(df, $"value", w)
      .withColumn("f", m.forecast($"value", w))
      .select("f")
      .collect()
    assert(fc.forall(_.isNullAt(0)))
  }

  test("AR(2) joins the optimizer family end-to-end and wins on its own process") {
    val vals = Iterator
      .iterate((1.0, 5.0)) { case (a, b) => (b, 10.0 + 0.3 * b - 0.6 * a) }
      .take(40)
      .map(_._1)
      .toSeq
    val best = Optimizer
      .optimize(arSeries(vals, "arp"), Seq("series"),
        cfg = Optimizer.Config(models = Models.extended))
      .collect()
      .head
    assert(best.getAs[String]("best_model") == "AR-2",
      s"AR must win CV on a pure AR(2) process, got ${best.getAs[String]("best_model")}")
    assert(!best.getAs[Boolean]("optimization_failed"))
  }

  test("forecastErrors evaluates each distinct window term once, with unchanged forecasts") {
    import org.apache.spark.sql.catalyst.expressions.WindowExpression
    val roster = Models.default ++ Seq(HoltLinear(), HoltWinters())
    val series = SyntheticSeries.daily(spark, 40).withColumn("series", lit("s"))
    val errs = Optimizer.forecastErrors(
      series, Seq("series"), cfg = Optimizer.Config(models = roster))
    val plan = errs.queryExecution.optimizedPlan
    val windows = plan.flatMap(_.expressions.flatMap(_.collect { case w: WindowExpression => w }))
    // row_number, the series count and the 22 distinct terms of the
    // eight forecasts; one expression per occurrence would be 176
    assert(windows.size == 24, plan.treeString)
    // every forecast equals the model's own column, bit for bit
    val w = Window.partitionBy($"series").orderBy($"ts")
    val direct = roster
      .map(m => series.select($"ts", lit(m.name).as("model"), m.forecast($"value", w).as("predicted")))
      .reduce(_ union _)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("ts", "model", "predicted").collect().map(_.toSeq).toSet
    assert(rows(errs) == rows(direct))
    val e = intercept[IllegalArgumentException] {
      Optimizer.forecastErrors(series.withColumnRenamed("series", "_w0"), Seq("_w0"))
    }
    assert(e.getMessage.contains("List(_w0)"), e.getMessage)
  }
}
