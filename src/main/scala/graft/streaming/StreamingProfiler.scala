package graft.streaming

import graft.core.Granularity
import graft.profiler.{Profiler, ProfilingBuilder}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Structured-Streaming profiler (SURVEY §2.1 #14).
  *
  * The batch profiler's single `groupBy(day)` pass maps 1:1 onto a
  * watermarked windowed aggregation: the same analyzer expressions run
  * incrementally per event-time window, state is bounded by the
  * watermark, and the sink receives the identical long-format metrics
  * table — so a streaming deployment feeds the same repository /
  * optimizer / scorer pipeline as batch (reference has no streaming
  * story; its per-ts driver loop cannot be made incremental).
  *
  * Only fully partial-aggregatable analyzers (the `sketch` builder:
  * mean/stddev/completeness/HLL/approx-quantile) are streaming-safe;
  * exact percentile/countDistinct would need unbounded state and are
  * rejected by Spark's unsupported-operations check at start.
  */
object StreamingProfiler {

  /** Profile a streaming DataFrame into the long-format metrics stream
    * `(ts, entity, instance, name, value)`; append-mode compatible
    * (results emit once the watermark passes each window).
    *
    * @param df          streaming input (`spark.readStream...`)
    * @param tsColumn    event-time column
    * @param builder     analyzer configuration (use sketch-only sets)
    * @param granularity window size (see [[graft.core.Granularity]])
    * @param watermark   how late events may arrive, e.g. "1 hour"
    */
  def profile(
      df: DataFrame,
      tsColumn: String,
      builder: ProfilingBuilder = ProfilingBuilder.sketch,
      granularity: String = Granularity.Day,
      watermark: String = "1 hour"
  ): DataFrame = {
    // startTime shifts the epoch-aligned tumbling windows: the epoch is
    // a Thursday, so WEEK needs a +4 day offset to start windows on
    // Monday — matching the batch profiler's date_trunc('week'). MONTH
    // has no fixed-width equivalent and stays an approximation (30d).
    val (windowDuration, startTime) = Granularity.truncUnit(granularity) match {
      case "hour"  => ("1 hour", "0 seconds")
      case "day"   => ("1 day", "0 seconds")
      case "week"  => ("7 days", "4 days")
      case "month" => ("30 days", "0 seconds") // calendar months are not fixed-width
    }
    val fields = df.schema.fields.filterNot(_.name == tsColumn).toSeq
    val metricExprs = builder.metricExprs(fields)
    require(
      metricExprs.nonEmpty,
      s"No analyzer applies to any column of ${df.schema.simpleString} — " +
        "check the builder's type mappings"
    )
    val aliased = metricExprs.zipWithIndex.map { case ((_, e), i) => e.as(s"_m$i") }
    val wide = df
      .withWatermark(tsColumn, watermark)
      .groupBy(window(col(tsColumn), windowDuration, windowDuration, startTime))
      .agg(aliased.head, aliased.tail: _*)
      .withColumn("ts", col("window.start"))
      .drop("window")
    Profiler.unpivotMetrics(wide, col("ts"), Profiler.analyzerMetrics(metricExprs))
  }
}
