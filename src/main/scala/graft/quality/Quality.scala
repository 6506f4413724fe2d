package graft.quality

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** A metric whose score exceeded its optimized threshold
  * (reference: thoth/quality.py:12-18).
  */
case class AnomalousScore(
    entity: String,
    instance: String,
    name: String,
    score: Double,
    threshold: Double,
    // the statistic behind this alert was computed on a deterministically
    // thinned series (Service.assessTrend over >maxPoints history): the
    // verdict is an approximation and the payload must say so
    thinned: Boolean = false
)

/** Notification hook for anomalous batches
  * (reference: thoth/quality.py:21-81).
  */
trait NotificationHandler {
  def notify(datasetUri: String, ts: java.sql.Timestamp, anomalous: Seq[AnomalousScore]): Unit
}

/** Default handler: log to stderr (reference LogHandler). */
object LogHandler extends NotificationHandler {
  def notify(datasetUri: String, ts: java.sql.Timestamp, anomalous: Seq[AnomalousScore]): Unit =
    System.err.println(
      s"[graft.quality] Anomaly detected for ts=$ts on dataset=$datasetUri: $anomalous"
    )
}

/** Quality assessment: join scores against optimized thresholds and
  * flag exceedances (reference: thoth/quality.py:84-113).
  */
object Quality {

  /** The alerting rule: a score alerts when it exceeds its threshold.
    *
    * A NULL score means the point could not be scored at all — the
    * metric collapsed below the APE's 1e-4 validity floor (e.g. a
    * pipeline breaking a mean from 100 to ~0) or the model had no
    * forecast. A NULL threshold means the series' stored optimization
    * failed after it was scored. Either is itself an alarm condition:
    * NULL alerts rather than silently vanishing from `where(is_anomalous)`
    * filters (the reference raises an error on the same condition).
    */
  def exceeds(score: Column, threshold: Column): Column =
    coalesce(score > threshold, lit(true))

  /** Per-series assessment rows: scoring's columns, threshold,
    * is_anomalous ([[exceeds]]). Scores without an optimization row
    * drop out (inner join). Stays fully distributed; callers collect
    * only the (tiny) anomalous subset for notification.
    */
  def assess(
      scoring: DataFrame,
      optimization: DataFrame,
      seriesCols: Seq[String]
  ): DataFrame =
    scoring
      .join(
        broadcast(optimization.select((seriesCols.map(col) :+ col("threshold")): _*)),
        seriesCols
      )
      .withColumn("is_anomalous", exceeds(col("score"), col("threshold")))

  /** One verdict per optimized series against `scores` (at most one row
    * per series): seriesCols*, score, threshold, is_anomalous, with a
    * NULL score or threshold reported as NaN.
    *
    * A scored series alerts by [[exceeds]]. A series with no score
    * alerts only when its optimization failed (NULL best_model):
    * Scorer has no model for it and emits no row, so it would
    * otherwise go unmonitored while the dataset reads healthy (the
    * reference raises OptimizationFailedError instead). A healthy
    * series without a score is not alerted: Scorer scores only the
    * newest point per series, so a past ts has no score for it.
    */
  def verdicts(
      optimization: DataFrame,
      scores: DataFrame,
      seriesCols: Seq[String]
  ): DataFrame =
    optimization
      .join(
        scores.select((seriesCols.map(col) ++ Seq(col("score"), lit(true).as("_scored"))): _*),
        seriesCols,
        "left"
      )
      .select(
        (seriesCols.map(col) ++ Seq(
          coalesce(col("score"), lit(Double.NaN)).as("score"),
          coalesce(col("threshold"), lit(Double.NaN)).as("threshold"),
          when(col("_scored"), exceeds(col("score"), col("threshold")))
            .otherwise(col("optimization_failed") || col("best_model").isNull)
            .as("is_anomalous")
        )): _*
      )
}
