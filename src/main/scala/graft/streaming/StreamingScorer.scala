package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Streaming anomaly scorer: the batch Scorer's "forecast the newest
  * point from its trailing history" flow as an incremental
  * `flatMapGroupsWithState` over a keyed metric stream.
  *
  * State per series is a bounded ring of the last `window` values —
  * O(window) bytes regardless of stream length, the custom-state shape
  * Structured Streaming is built for. Each arriving point is scored
  * against the trailing mean of the state BEFORE it is appended
  * (same semantics as the batch TrailingMean + APE pipeline), so a
  * streaming deployment raises the same scores the batch path would.
  */
object StreamingScorer {

  case class MetricPoint(series: String, ts: java.sql.Timestamp, value: Double)
  case class SeriesState(values: Seq[Double], lastTsMillis: Long = Long.MinValue)
  case class ScoredPoint(
      series: String,
      ts: java.sql.Timestamp,
      value: Double,
      predicted: Option[Double],
      score: Option[Double]
  )

  /** Clamped APE, NULL-as-None near zero (mirrors
    * graft.anomaly.ErrorMetrics.ape).
    */
  private def ape(trueValue: Double, predicted: Double): Option[Double] =
    if (math.abs(trueValue) < 1e-4) None
    else Some(math.min(math.abs(trueValue - predicted) / math.abs(trueValue), 1.0))

  def score(
      points: Dataset[MetricPoint],
      window: Int = 7
  ): Dataset[ScoredPoint] = {
    import points.sparkSession.implicits._
    points
      .groupByKey(_.series)
      .flatMapGroupsWithState[SeriesState, ScoredPoint](
        OutputMode.Append(),
        GroupStateTimeout.NoTimeout()
      ) { (series, rows, state: GroupState[SeriesState]) =>
        val prior = state.getOption.getOrElse(SeriesState(Vector.empty))
        var values = prior.values.toVector
        var lastTs = prior.lastTsMillis
        // Per-batch arrival order is not event-time order; sort the
        // micro-batch so state evolves deterministically. Points older
        // than already-consumed event time (cross-batch stragglers)
        // are emitted UNSCORED and excluded from state: scoring them
        // against state that already contains their future would leak,
        // and appending them would corrupt every later trailing window.
        val out = rows.toSeq.sortBy(_.ts.getTime).map { p =>
          if (p.ts.getTime <= lastTs) {
            ScoredPoint(series, p.ts, p.value, None, None)
          } else {
            val predicted =
              if (values.length >= window)
                Some(values.takeRight(window).sum / window)
              else None
            values = (values :+ p.value).takeRight(window)
            lastTs = p.ts.getTime
            ScoredPoint(
              series,
              p.ts,
              p.value,
              predicted,
              predicted.flatMap(ape(p.value, _))
            )
          }
        }
        state.update(SeriesState(values, lastTs))
        out.iterator
      }
  }

  /** DataFrame adapter: (series, ts, value) in, scored stream out. */
  def scoreDF(df: DataFrame, window: Int = 7): DataFrame = {
    import df.sparkSession.implicits._
    score(
      df.select(
          col("series").cast("string"),
          col("ts").cast("timestamp"),
          col("value").cast("double")
        )
        .as[MetricPoint],
      window
    ).toDF()
  }

  /** Streaming quality assessment: scored stream joined against the
    * (static, broadcast) optimization thresholds — the streaming
    * completion of Quality.assess, through the same
    * [[graft.quality.Quality.exceeds]] rule. Stream-static joins need no
    * state; the alert stream is `where(is_anomalous)` ready for any sink.
    */
  def assessDF(
      scored: DataFrame,
      optimization: DataFrame,
      seriesCol: String = "series"
  ): DataFrame =
    scored
      .join(
        org.apache.spark.sql.functions
          .broadcast(optimization.select(col(seriesCol), col("threshold"))),
        seriesCol
      )
      .withColumn("is_anomalous", graft.quality.Quality.exceeds(col("score"), col("threshold")))
}
