package graft.anomaly

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Distributed anomaly scoring of the newest timestamp per series.
  *
  * Reference (thoth/anomaly/scoring.py:54-99): per metric, train the
  * optimization-selected model on history-minus-last, forecast the last
  * point, APE-score it. graft does the same for every series in one
  * pass: forecasts for ALL rows come from the shared window
  * expressions, the last row per series is selected with the same
  * window rank, and the per-series best model is joined in (a join on
  * the tiny optimization table — broadcast).
  */
object Scorer {

  /** Score the last point of every series with its optimized model.
    *
    * @param series       long-format series (seriesCols*, ts, value)
    * @param optimization output of [[Optimizer.optimize]]
    * @return seriesCols*, ts, value, predicted, score
    */
  def score(
      series: DataFrame,
      optimization: DataFrame,
      seriesCols: Seq[String],
      tsCol: String = "ts",
      valueCol: String = "value",
      cfg: Optimizer.Config = Optimizer.Config()
  ): DataFrame =
    scoreAll(series, optimization, seriesCols, tsCol, valueCol, cfg)
      .where(col("rn") === col("n"))
      .drop("rn", "n")

  /** Backfill scoring: every point of every series scored with its
    * optimized model (reference has no equivalent — its per-metric
    * loop makes history scoring prohibitive; here it is the same single
    * window pass as last-point scoring). Output keeps `rn`/`n` so
    * callers can slice.
    *
    * CONTRACT: series whose stored optimization FAILED (best_model
    * NULL, `optimization_failed = true` from [[Optimizer.optimize]]'s
    * join-back) have no model to score with and emit no rows here —
    * they are NOT silently lost: the optimization table carries them
    * flagged, and the service layer alerts on exactly that flag
    * ([[graft.service.Service.assessQuality]], through
    * [[graft.quality.Quality.verdicts]]).
    * Callers composing scoreAll directly must consume the flag the
    * same way.
    */
  def scoreAll(
      series: DataFrame,
      optimization: DataFrame,
      seriesCols: Seq[String],
      tsCol: String = "ts",
      valueCol: String = "value",
      cfg: Optimizer.Config = Optimizer.Config()
  ): DataFrame = {
    // The stored best_model is matched BY NAME against cfg.models'
    // forecasts: a model selected at optimize time but absent from the
    // scoring family would silently drop its series from the output
    // (inner join + filter). Fail loudly instead — as a LAZY guard
    // woven into the broadcast side's projection (an eager collect
    // here would execute the optimization lineage a second time next
    // to the join's own evaluation; measured ~1.7x on score-path
    // queries). Every optimization row passes through the guard when
    // the broadcast side builds, so an unknown name always raises.
    val known = cfg.models.map(_.name)
    val guardedModel = when(
      col("best_model").isNotNull && !col("best_model").isin(known: _*),
      raise_error(concat(
        lit("scoring model family lacks "),
        col("best_model"),
        lit(" selected by the stored optimization — pass the same cfg.models used to optimize")
      )).cast("string")
    ).otherwise(col("best_model"))
    Optimizer
      .forecastErrors(series, seriesCols, tsCol, valueCol, cfg)
      .join(
        broadcast(
          optimization.select((seriesCols.map(col) :+ guardedModel.as("best_model")): _*)),
        seriesCols
      )
      .where(col("model") === col("best_model"))
      .select(
        (seriesCols.map(col) :+ col(tsCol) :+ col("value") :+
          col("predicted") :+ col("error").as("score") :+ col("rn") :+ col("n")): _*
      )
  }

  /** Model-free robust z-score of the newest point per series:
    * z = (y - median(history)) / (1.4826 * MAD(history) + eps), where
    * MAD is the median absolute deviation and 1.4826 scales it to a
    * Gaussian sigma (Iglewicz & Hoaglin's modified z-score). The
    * median/MAD pair is immune to the outliers that corrupt a
    * mean/stddev z-score — the right default when no model has been
    * optimized yet.
    *
    * Distributed shape: two grouped EXACT percentile aggregates over
    * the (small) per-series history plus one join back — all keyed on
    * the series columns, no window over raw data, no driver loop. With
    * millions of series the aggregates stay map-side-combinable; at
    * petabyte raw scale the series table this runs on is already
    * grain-level (the profiler's output), not raw rows.
    *
    * @return seriesCols*, ts, value, median, mad, zscore,
    *         is_anomaly (|z| > zThreshold)
    */
  def robustZLast(
      series: DataFrame,
      seriesCols: Seq[String],
      tsCol: String = "ts",
      valueCol: String = "value",
      zThreshold: Double = 3.5,
      eps: Double = 1e-9
  ): DataFrame = {
    val keys = seriesCols.map(col)
    val lastTs = series
      .groupBy(keys: _*)
      .agg(max(col(tsCol)).as("_last_ts"))
    val hist = series
      .join(lastTs, seriesCols)
      .where(col(tsCol) < col("_last_ts"))
    val med = hist
      .groupBy(keys: _*)
      .agg(percentile(col(valueCol), lit(0.5)).as("median"))
    val mad = hist
      .join(med, seriesCols)
      .groupBy(keys: _*)
      .agg(
        percentile(abs(col(valueCol) - col("median")), lit(0.5)).as("mad")
      )
    val z = (col(valueCol) - col("median")) /
      (lit(1.4826) * col("mad") + lit(eps))
    // LEFT joins: a series with no history (single point, or every row
    // at the newest ts) must surface as an explicit insufficient-
    // history row (null median/mad/zscore, is_anomaly=false), not
    // silently vanish from the monitoring output.
    series
      .join(lastTs, seriesCols)
      .where(col(tsCol) === col("_last_ts"))
      .join(med, seriesCols, "left_outer")
      .join(mad, seriesCols, "left_outer")
      .select(
        (keys :+ col(tsCol) :+ col(valueCol) :+ col("median") :+ col("mad") :+
          graft.functions.round6(z).as("zscore") :+
          coalesce(abs(z) > zThreshold, lit(false)).as("is_anomaly")): _*
      )
  }
}
