package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import graft.functions.round6Jvm

/** Streaming two-sided CUSUM — the batch
  * [[graft.anomaly.Changepoint.cusum]] semantics on an always-on
  * metric stream: per-point z against a STATIC reference (the stored
  * profile the batch optimizer trained — a stream cannot standardize
  * against statistics it has not seen yet), the classic Page
  * recursion s⁺ = max(0, s⁺ + z − slack) folded incrementally.
  *
  * The recursion is ORDER-SENSITIVE, so the same watermark-confirmed
  * folding as [[StreamingEventFunnel]] applies: above-watermark
  * points wait in a per-series pending buffer and fold in timestamp
  * order once confirmed (event-time timers flush series that go
  * quiet). Within-watermark arrival order therefore cannot change any
  * emitted statistic, and the fold EQUALS the batch drawdown form on
  * the same data + reference (round6 absorbs the recursion-vs-
  * drawdown FP ulp; spec-pinned).
  *
  * State per series: two running sums (16 bytes) + the pending
  * buffer, bounded by that series' points inside the watermark delay.
  * Points later than the watermark are dropped by the engine before
  * the state function sees them (standard watermarked contract).
  */
object StreamingChangepoint {

  /** A metric observation already joined with its reference stats. */
  case class RefObs(
      series: String,
      ts: java.sql.Timestamp,
      value: Double,
      mean: Double,
      std: Double
  )

  case class CusumState(sPos: Double, sNeg: Double, pending: Seq[(Long, Double)])

  case class CusumPoint(
      series: String,
      ts: java.sql.Timestamp,
      z: Double,
      cusum_pos: Double,
      cusum_neg: Double,
      alarm: Boolean
  )

  def detect(
      points: Dataset[RefObs],
      slack: Double = 0.5,
      threshold: Double = 4.0
  ): Dataset[CusumPoint] = {
    import points.sparkSession.implicits._
    require(slack >= 0, s"slack must be >= 0, got $slack")
    require(threshold > 0, s"threshold must be positive, got $threshold")
    points
      .groupByKey(_.series)
      .flatMapGroupsWithState[CusumState, CusumPoint](
        OutputMode.Append(),
        GroupStateTimeout.EventTimeTimeout()
      ) { (series, rows, state: GroupState[CusumState]) =>
        val prior = state.getOption.getOrElse(CusumState(0.0, 0.0, Nil))
        val pending = prior.pending ++ rows.map { o =>
          // z is computed at ARRIVAL (the reference rode the row in),
          // matching the batch zero-variance contract: no scale -> z 0
          val z = if (o.std > 0) (o.value - o.mean) / o.std else 0.0
          (o.ts.getTime, z)
        }
        val wm = state.getCurrentWatermarkMs()
        val (ripe, hold) = pending.partition(_._1 <= wm)
        var sPos = prior.sPos
        var sNeg = prior.sNeg
        val out = Seq.newBuilder[CusumPoint]
        ripe.sorted.foreach { case (t, z) =>
          sPos = math.max(0.0, sPos + z - slack)
          sNeg = math.max(0.0, sNeg - z - slack)
          val rp = round6Jvm(sPos)
          val rn = round6Jvm(sNeg)
          out += CusumPoint(
            series,
            new java.sql.Timestamp(t),
            round6Jvm(z),
            rp,
            rn,
            rp > threshold || rn > threshold
          )
        }
        if (hold.isEmpty && sPos == 0.0 && sNeg == 0.0) state.remove()
        else {
          state.update(CusumState(sPos, sNeg, hold))
          if (hold.nonEmpty) state.setTimeoutTimestamp(hold.map(_._1).min)
        }
        out.result().iterator
      }
  }

  /** DataFrame adapter: metric stream `(series, ts, value)` +
    * STATIC reference `(series, mean, std)` (stream-static broadcast
    * join — no state, the standard serve-trained-statistics shape).
    * Series absent from the reference are dropped scan-side: an
    * unreferenced series has no z scale, and silently folding z = 0
    * would mask a wiring error.
    */
  def detectDF(
      stream: DataFrame,
      refStats: DataFrame,
      slack: Double = 0.5,
      threshold: Double = 4.0,
      delayThreshold: String = "0 seconds"
  ): DataFrame = {
    import stream.sparkSession.implicits._
    detect(
      stream
        .select(
          col("series").cast("string"),
          col("ts").cast("timestamp"),
          col("value").cast("double")
        )
        .join(
          broadcast(
            refStats.select(
              col("series").cast("string"),
              col("mean").cast("double"),
              col("std").cast("double")
            )
          ),
          "series"
        )
        .withWatermark("ts", delayThreshold)
        .as[RefObs],
      slack,
      threshold
    ).toDF()
  }
}
