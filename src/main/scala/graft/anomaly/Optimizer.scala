package graft.anomaly

import scala.collection.immutable.ListMap

import org.apache.spark.sql.{Column, DataFrame, GraftColumnBridge}
import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.catalyst.expressions.WindowExpression
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Distributed anomaly-model optimization.
  *
  * Reference flow (thoth/anomaly/optimization.py:162-322): per metric,
  * driver-side forward-chaining cross-validation per model, then a
  * threshold grid search. graft runs the same logic as DataFrame
  * transforms over ALL series at once: the series table is partitioned
  * by series key, each model is a window expression, and the threshold
  * grid is an exploded sequence — so optimizing 10^5 datasets is one
  * shuffle per stage instead of 10^5 driver loops.
  *
  * Semantic notes (deliberate deltas, same search space):
  *  - the reference re-picks the SimpleModel's best window inside every
  *    CV step using only that step's prefix; graft evaluates each
  *    candidate window as its own model over the whole validation
  *    region and selects per-series winners once.
  *  - the reference swaps in a reduced model factory for constant
  *    series purely to dodge AutoML training cost
  *    (optimization.py:217-231); graft models are all O(1) window
  *    expressions, so no fast path is needed — a constant series just
  *    yields zero errors for every model and the deterministic
  *    tie-break picks the first model.
  */
object Optimizer {

  case class Config(
      models: Seq[ForecastModel] = Models.default,
      confidence: Double = 0.99,
      minThreshold: Double = 0.1,
      startProportion: Option[Double] = None,
      thresholdGrid: Int = 100,
      // A model qualifies only with at least this many valid validation
      // errors — a threshold "optimized" over 1-2 points is noise, and
      // the reference raises OptimizationFailedError on such series
      // (optimization.py:200-214). Series where no model qualifies get
      // optimization_failed=true.
      minValidationPoints: Int = 3
  )

  /** Adaptive validation start proportion
    * (thoth/anomaly/optimization.py:271-281) as a column over the
    * series length.
    */
  private def startProportionCol(n: Column, cfg: Config): Column =
    cfg.startProportion
      .map(lit)
      .getOrElse(
        when(n >= 100, 0.1).when(n >= 50, 0.2).when(n >= 25, 0.4).otherwise(0.8)
      )

  /** Per-row, per-model 1-step forecasts and APE errors, long format:
    * seriesCols*, ts, value, rn, n, is_validation, model, predicted,
    * error. One window exchange computes every model's forecast for
    * every row; the model dimension is unpivoted with a generated
    * array (narrow, no extra shuffle).
    *
    * Each distinct window term of the family is evaluated once: Spark
    * does not merge equal window expressions, and the models repeat
    * theirs (`lag(value, 1)` appears in three of the bench roster's
    * eight forecasts, and several times within each), so the window
    * terms of every forecast are staged once as internal `_w<k>`
    * columns and all forecasts are added in one projection that reads
    * them — 24 window expressions instead of 176 for
    * `Models.default ++ Seq(HoltLinear(), HoltWinters())`, with the
    * same arithmetic per forecast.
    */
  def forecastErrors(
      series: DataFrame,
      seriesCols: Seq[String],
      tsCol: String = "ts",
      valueCol: String = "value",
      cfg: Config = Config()
  ): DataFrame = {
    // the full pipeline's internal names, not just this stage's: a
    // series column named "threshold" would survive forecastErrors only
    // for evaluate's withColumn("threshold", …) to silently REPLACE the
    // grouping key with computed values downstream
    val reserved =
      Set("rn", "n", "is_validation", "model", "predicted", "error", "mf",
        "value", "mean_error", "n_validation", "threshold",
        "below_proportion", "best_model", "optimization_failed",
        "_sorted", "_n", "_kstar", "_ek", "_rank")
    // the shared window terms staged below; they are computed from the
    // series, time and value columns, so none of those may carry a name
    val staged = "_w\\d+".r
    val collisions = seriesCols.filter(reserved) ++
      (seriesCols :+ tsCol :+ valueCol).filter(c => staged.matches(c)) ++
      (if (valueCol != "value" && series.columns.contains("value")) Seq("value") else Nil)
    require(
      collisions.isEmpty,
      s"series columns collide with internal names $collisions — rename them " +
        s"(reserved: ${reserved.toSeq.sorted.mkString(", ")}, _w<k>)"
    )
    // calendar models read the CONSTRUCTOR's time column, not this
    // call's tsCol — a mismatch would build trend regressors from the
    // wrong column (silently, if a column of that name exists)
    cfg.models.foreach {
      case m: CalendarRegression =>
        require(m.tsCol == tsCol,
          s"${m.name} was built with tsCol='${m.tsCol}' but forecastErrors " +
            s"was called with tsCol='$tsCol' — construct the model with the same column")
      case _ => ()
    }
    val w = Window.partitionBy(seriesCols.map(col): _*).orderBy(col(tsCol))
    val value = col(valueCol)
    // models with helper columns (e.g. AR lag materialization) get
    // their pre-pass here; same partitioning -> same single exchange
    val prepared = cfg.models.foldLeft(
      series
        .withColumn("rn", row_number().over(w))
        .withColumn("n", count(lit(1)).over(Window.partitionBy(seriesCols.map(col): _*)))
    )((df, m) => m.prepare(df, value, w))
    val forecasts = cfg.models.map(m => GraftColumnBridge.unresolved(m.forecast(value, w)))
    val terms = forecasts.flatMap(_.collect { case t: WindowExpression => t }).distinct
    val termName = terms.zipWithIndex.map { case (t, k) => t -> s"_w$k" }.toMap
    val withForecasts = prepared
      .withColumns(ListMap(terms.map(t => termName(t) -> GraftColumnBridge.column(t)): _*))
      .withColumns(ListMap(forecasts.zipWithIndex.map { case (f, i) =>
        s"_f$i" -> GraftColumnBridge.column(f.transform {
          case t: WindowExpression => UnresolvedAttribute.quoted(termName(t))
        })
      }: _*))
      // Validation region: 0-based index >= floor(start_proportion * n)
      // (thoth/anomaly/optimization.py:166-173).
      .withColumn(
        "is_validation",
        (col("rn") - 1) >= floor(startProportionCol(col("n"), cfg) * col("n"))
      )
    val entries = cfg.models.zipWithIndex.map { case (m, i) =>
      struct(lit(m.name).as("model"), col(s"_f$i").as("predicted"))
    }
    withForecasts
      .select(
        (seriesCols.map(col) :+ col(tsCol) :+ value.as("value") :+ col("rn") :+
          col("n") :+ col("is_validation") :+ explode(array(entries: _*)).as("mf")): _*
      )
      .withColumn("model", col("mf.model"))
      .withColumn("predicted", col("mf.predicted"))
      .withColumn("error", ErrorMetrics.ape(col("value"), col("predicted")))
      .drop("mf")
  }

  /** Per-(series, model) validation summary:
    * seriesCols*, model, mean_error, threshold (grid-optimized, BEFORE
    * the min-threshold floor), below_proportion.
    *
    * threshold = smallest t in {1/g .. g/g} with P(error <= t) >=
    * confidence (thoth/anomaly/optimization.py:103-138). Because errors
    * are clamped to 1.0, t = 1.0 always qualifies, so the min is total.
    */
  def evaluate(
      series: DataFrame,
      seriesCols: Seq[String],
      tsCol: String = "ts",
      valueCol: String = "value",
      cfg: Config = Config()
  ): DataFrame = {
    val keyCols = seriesCols :+ "model"
    val errors = forecastErrors(series, seriesCols, tsCol, valueCol, cfg)
      .where(col("is_validation") && col("error").isNotNull)
    // ONE groupBy carries mean/count AND the sorted error list — the
    // forecast-errors subtree (scan + per-series window + model
    // explode) previously computed twice, once per aggregate, plus a
    // join to glue them back. Same keys, same rows, one pass; the
    // former left join was an inner self-equivalence (both aggregates
    // came from the identical error set).
    val agged = errors
      .groupBy(keyCols.map(col): _*)
      .agg(
        avg(col("error")).as("mean_error"),
        count(lit(1)).as("n_validation"),
        sort_array(collect_list(col("error"))).as("_sorted")
      )
    thresholdFromSorted(agged, cfg).select(
      (keyCols.map(col) :+ col("mean_error") :+ col("n_validation") :+
        col("threshold") :+ col("below_proportion")): _*
    )
  }

  /** Smallest grid threshold per key with
    * P(error <= t) >= confidence — the reference's
    * `_find_best_threshold` (thoth/anomaly/optimization.py:103-138) run
    * for every key at once. Input: keyCols* + `error` rows. Output:
    * keyCols*, threshold, below_proportion.
    */
  def bestThresholds(
      errors: DataFrame,
      keyCols: Seq[String],
      cfg: Config = Config()
  ): DataFrame = {
    // Order-statistic form of the grid search — numerically identical
    // to exploding the grid (coverage(t) = |{err <= t}|/n is monotone,
    // so the smallest qualifying grid point is the smallest t at or
    // above the k*-th smallest error, k* = min{k : k/n >= confidence}),
    // but with NO 100x row amplification through the shuffle: one
    // groupBy collecting each series' (bounded, ~days-sized) validation
    // errors, then O(n + grid) per-series array math. All comparisons
    // repeat the original int/int -> double divisions exactly, so grid
    // ties break bit-identically to the exploded version and to the
    // DuckDB oracle.
    errors
      .groupBy(keyCols.map(col): _*)
      .agg(sort_array(collect_list(col("error"))).as("_sorted"))
      .transform(df => thresholdFromSorted(df, cfg))
      .select(
        (keyCols.map(col) :+ col("threshold") :+ col("below_proportion")): _*
      )
  }

  /** Threshold/coverage math over a frame carrying a `_sorted` error
    * array — shared by [[bestThresholds]] and the single-pass
    * [[evaluate]] so the two can never drift.
    */
  private def thresholdFromSorted(df: DataFrame, cfg: Config): DataFrame = {
    val g = cfg.thresholdGrid
    val grid = transform(sequence(lit(1), lit(g)), i => i.cast("double") / g)
    df.withColumn("_n", size(col("_sorted")))
      .withColumn(
        "_kstar",
        array_min(
          filter(
            sequence(lit(1), col("_n")),
            k => k.cast("double") / col("_n") >= cfg.confidence
          )
        )
      )
      .withColumn("_ek", element_at(col("_sorted"), col("_kstar")))
      .withColumn("threshold", array_min(filter(grid, t => t >= col("_ek"))))
      .withColumn(
        "below_proportion",
        size(filter(col("_sorted"), e => e <= col("threshold"))).cast("double") /
          col("_n")
      )
  }

  /** Best model per series, by (threshold, mean_error) as in the
    * reference's ValidationTimeSeries ordering
    * (thoth/anomaly/optimization.py:48-49, 200-214), with the model
    * name as a deterministic tie-break. The min-threshold floor
    * (optimization.py:246-251) is applied AFTER selection.
    *
    * Output: seriesCols*, best_model, threshold, mean_error,
    * below_proportion.
    */
  def optimize(
      series: DataFrame,
      seriesCols: Seq[String],
      tsCol: String = "ts",
      valueCol: String = "value",
      cfg: Config = Config()
  ): DataFrame = {
    val w = Window
      .partitionBy(seriesCols.map(col): _*)
      .orderBy(
        col("threshold").asc_nulls_last, // no-valid-error models lose
        // 6-dp-quantized error as the tie-break: the raw avg() is
        // summation-order-dependent in its last ulps, which would make
        // best_model flip between runs/engines on grid-threshold ties.
        graft.functions.round6(col("mean_error")).asc_nulls_last,
        col("model")
      )
    val selected = evaluate(series, seriesCols, tsCol, valueCol, cfg)
      .where(col("n_validation") >= cfg.minValidationPoints)
      .withColumn("_rank", row_number().over(w))
      .where(col("_rank") === 1)
      .select(
        (seriesCols.map(col) :+ col("model").as("best_model") :+
          greatest(col("threshold"), lit(cfg.minThreshold)).as("threshold") :+
          col("mean_error") :+ col("below_proportion") :+
          // The reference RAISES OptimizationFailedError when even the
          // best model needs threshold 1.0 (optimization.py:200-214);
          // a distributed optimize over 10^5 series flags instead of
          // throwing — callers filter/alert on this column.
          (col("threshold").isNull || col("threshold") >= lit(1.0))
            .as("optimization_failed")): _*
      )
    // A series where NO model ever produced a valid error (too short
    // for every window, or values below the APE floor) has no rows in
    // `selected` at all — surface it as a failed row rather than
    // letting it silently vanish from monitoring.
    series
      .select(seriesCols.map(col): _*)
      .distinct()
      .join(selected, seriesCols, "left")
      .withColumn(
        "optimization_failed",
        coalesce(col("optimization_failed"), lit(true))
      )
  }
}
