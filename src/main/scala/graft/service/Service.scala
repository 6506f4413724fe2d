package graft.service

import graft.core.{DatasetMeta, Granularity, Metric}
import graft.anomaly.{Optimizer, Scorer}
import graft.profiler.{Profiler, ProfilingBuilder}
import graft.quality.{AnomalousScore, LogHandler, NotificationHandler, Quality}
import graft.repository.MetricsRepository
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Pipeline glue (reference: thoth/service_layer.py:157-509).
  *
  * Every pipeline is repo-in/repo-out DataFrames; the only driver-side
  * data are the dataset registration and the (tiny) anomalous subset
  * collected for notification.
  */
object Service {

  /** NULL-ts alert rows (a NULL event-time group is a supported metric
    * key) order first instead of NPEing the assessment on `.getTime`.
    */
  private def tsKey(ts: java.sql.Timestamp): Long =
    if (ts == null) Long.MinValue else ts.getTime

  /** Alert-budget dispatch of the batch assessments: only the
    * `exceeding` subset reaches the driver, at most `maxAlerts` rows in
    * `order` plus one row past the budget to detect truncation. Kept
    * rows notify grouped by their timestamp, oldest first. A truncated
    * budget counts what was cut and fires one synthetic
    * `_alert_budget/alerts_truncated` alert (score = dropped count) at
    * the newest kept timestamp, through the same handlers — flagged,
    * never silent.
    */
  private def dispatchAlerts(
      datasetUri: String,
      exceeding: DataFrame,
      order: Seq[Column],
      maxAlerts: Int,
      handlers: Seq[NotificationHandler]
  )(tsOf: Row => java.sql.Timestamp, alert: Row => AnomalousScore): Unit = {
    val capped = exceeding.orderBy(order: _*).limit(maxAlerts + 1).collect().toSeq
    val kept = capped.take(maxAlerts)
    kept
      .groupBy(tsOf)
      .toSeq
      .sortBy(p => tsKey(p._1))
      .foreach { case (ts, rows) =>
        handlers.foreach(_.notify(datasetUri, ts, rows.map(alert)))
      }
    if (capped.size > maxAlerts) {
      val dropped = exceeding.count() - maxAlerts
      val budget = AnomalousScore(
        entity = "_alert_budget",
        instance = datasetUri,
        name = "alerts_truncated",
        score = dropped.toDouble,
        threshold = maxAlerts.toDouble
      )
      handlers.foreach(_.notify(datasetUri, kept.map(tsOf).maxBy(tsKey), Seq(budget)))
    }
  }

  /** The metric-series key used across optimize/score/assess. */
  val seriesCols: Seq[String] = Seq("entity", "instance", "name")

  /** Metric-name suffix marking series DERIVED by [[assessTrend]];
    * such series are excluded from EVERY base-series scan (trend,
    * optimize, score) so verdict metrics are never themselves
    * modeled, scored, alerted on, or compounded into
    * `<name>_trend_z_trend_z` across runs.
    */
  val trendSuffix: String = "_trend_z"

  /** Companion to [[trendSuffix]]: a 0/1 series recording whether the
    * stored trend verdict was computed on a deterministically THINNED
    * history (series longer than the Mann-Kendall/Theil-Sen maxPoints
    * cap) — an approximated z that fires an alert must say so, all the
    * way to the stored series and the report badge.
    */
  val trendThinnedSuffix: String = "_trend_thinned"

  /** Every metric-name suffix reserved for series DERIVED by the
    * assessment pipelines. Base-series scans exclude these; base
    * metric names must not use them (enforced at [[profileCreate]]).
    */
  val derivedSuffixes: Seq[String] = Seq(trendSuffix, trendThinnedSuffix)

  /** The profiling history restricted to BASE series — the read every
    * modeling/assessment path must use. Derived verdict series
    * ([[derivedSuffixes]]) live in the same table by design (they ride
    * the standard repository/report surfaces) but are diagnostics of
    * metrics, not metrics: training an anomaly model on a z-score
    * series or counting it in health badges is a category error.
    */
  private def baseProfiling(
      datasetUri: String,
      repo: MetricsRepository
  ): DataFrame =
    repo
      .getProfiling(datasetUri)
      .where(
        !derivedSuffixes
          .map(s => col("name").endsWith(s))
          .reduce(_ || _)
      )

  /** Profile a batch and upsert the metrics into the repository,
    * registering the dataset on first sight
    * (reference `profile` + `profile_create`,
    * service_layer.py:157-230).
    */
  def profileCreate(
      df: DataFrame,
      datasetUri: String,
      tsColumn: String,
      repo: MetricsRepository,
      builder: ProfilingBuilder = ProfilingBuilder.default,
      granularity: String = Granularity.Day
  ): DataFrame = {
    // Reserved-suffix names are rejected UP FRONT (driver-side, from
    // the builder's metric list — no job): a base metric named
    // `*_trend_z` would silently vanish from every baseProfiling scan
    // (never optimized, scored, or trend-assessed) and render as a
    // verdict badge in reports. Fail loudly instead.
    val metricNames = builder
      .metricExprs(df.schema.fields.filterNot(_.name == tsColumn).toSeq)
      .map(_._1)
    val reserved = metricNames
      .map(_.name)
      .filter(n => derivedSuffixes.exists(n.endsWith))
      .distinct
    require(
      reserved.isEmpty,
      s"metric names ${reserved.mkString(", ")} end with a reserved derived-series suffix " +
        s"(${derivedSuffixes.mkString(", ")}); rename the metric"
    )
    storeSeries(
      repo,
      DatasetMeta(
        uri = datasetUri,
        tsColumn = tsColumn,
        columns = df.columns.filterNot(_ == tsColumn).toSeq,
        granularity = granularity,
        metrics = metricNames
      ),
      Profiler.profile(df, tsColumn, builder, granularity)
    )
  }

  /** Register `meta` on first sight of its dataset, then upsert `rows`
    * (long-format metrics) into its profiling history; returns `rows`.
    */
  private[graft] def storeSeries(
      repo: MetricsRepository,
      meta: DatasetMeta,
      rows: DataFrame
  ): DataFrame = {
    if (repo.getDataset(meta.uri).isEmpty) repo.registerDataset(meta)
    repo.addProfiling(meta.uri, rows)
    rows
  }

  /** Optimize anomaly models for every metric series of a dataset from
    * its stored profiling history (reference `optimize`,
    * service_layer.py:232-291). Stores and returns
    * (entity, instance, name, best_model, threshold, mean_error).
    */
  def optimize(
      datasetUri: String,
      repo: MetricsRepository,
      cfg: Optimizer.Config = Optimizer.Config(),
      failOnError: Boolean = false
  ): DataFrame = {
    val history = baseProfiling(datasetUri, repo)
    val optimization = Optimizer
      .optimize(history, seriesCols, cfg = cfg)
      .select(
        (seriesCols.map(col) :+ col("best_model") :+ col("threshold") :+
          col("mean_error") :+ col("optimization_failed")): _*
      )
    // Strict mode mirrors the reference's OptimizationFailedError
    // (optimization.py:200-214); the default keeps the distributed
    // flag-don't-throw semantics. Only the (bounded) failed key set is
    // collected.
    if (failOnError) {
      val failed = optimization
        .where(col("optimization_failed"))
        .select(concat_ws("/", seriesCols.map(col): _*))
        .collect()
        .map(_.getString(0))
        .toSeq
      if (failed.nonEmpty)
        throw new graft.core.OptimizationFailedException(datasetUri, failed)
    }
    repo.addOptimization(datasetUri, optimization)
    optimization
  }

  /** Score the newest profiled point of every metric series against its
    * optimized model (reference `score`, service_layer.py:293-343).
    * Stores and returns (ts, entity, instance, name, value, predicted,
    * score).
    */
  def score(
      datasetUri: String,
      repo: MetricsRepository,
      cfg: Optimizer.Config = Optimizer.Config()
  ): DataFrame = {
    val history = baseProfiling(datasetUri, repo)
    val optimization = repo.getOptimization(datasetUri)
    // The reference raises when scoring an un-optimized dataset; an
    // empty inner join here would instead store nothing and let
    // assessQuality report healthy forever on an un-modeled dataset.
    if (optimization.isEmpty)
      throw new graft.core.UnoptimizedDatasetException(datasetUri)
    val scoring = Scorer
      .score(history, optimization, seriesCols, cfg = cfg)
      .select(
        (Seq(col("ts")) ++ seriesCols.map(col) ++ Seq(
          col("value"),
          col("predicted"),
          col("score")
        )): _*
      )
    repo.addScoring(datasetUri, scoring)
    scoring
  }

  /** Assessment outcome for one (dataset, ts): the anomalous subset
    * (empty = healthy).
    */
  case class Assessment(
      datasetUri: String,
      ts: java.sql.Timestamp,
      anomalous: Seq[AnomalousScore]
  ) {
    def isHealthy: Boolean = anomalous.isEmpty
  }

  /** Register a corpus-prepare batch's funnel losses as metric series
    * — the bridge between the pipeline and monitoring halves of this
    * library: each [[graft.pipelines.Corpus.prepareFunnel]] batch
    * becomes two series per stage (document count and share) under
    * entity "funnel", so the existing optimize / score / assessQuality
    * flow watches corpus preparation like any other dataset. "kept
    * share collapsed today" then alerts through the same notification
    * path as any data-quality anomaly.
    *
    * The share series is the health signal (scale-free — ingest volume
    * varies batch to batch); the count series carries the volume. A
    * stage with zero losses in a batch emits NO row for that ts (same
    * sparse semantics as profiling metrics; `Drift.missingDays` finds
    * gaps). One aggregation of the funnel's reason column — never a
    * rescan of the corpus.
    */
  def profileFunnel(
      funnel: DataFrame,
      datasetUri: String,
      ts: java.sql.Timestamp,
      repo: MetricsRepository,
      reasonCol: String = "drop_reason"
  ): DataFrame = {
    val counts = funnel.groupBy(col(reasonCol)).agg(count(lit(1)).as("_n"))
    storeSeries(
      repo,
      funnelMeta(datasetUri, reasonCol),
      funnelMetrics(counts, lit(ts), col(reasonCol), col("_n"))
    )
  }

  /** The funnel series of per-(ts, drop reason) document counts `n`:
    * `n_docs` and `share` (of all documents at the ts) under entity
    * "funnel", instance = reason. Shared by [[profileFunnel]] and
    * [[graft.pipelines.Incremental.profileBatches]].
    */
  private[graft] def funnelMetrics(
      counts: DataFrame,
      ts: Column,
      reason: Column,
      n: Column
  ): DataFrame = {
    val share = n.cast("double") / sum(n).over(Window.partitionBy(ts)).cast("double")
    val instance = reason.cast("string")
    Profiler.unpivotMetrics(
      counts.withColumn("_share", share),
      ts,
      Seq(
        (lit("funnel"), instance, lit("n_docs"), n.cast("double")),
        (lit("funnel"), instance, lit("share"), col("_share"))
      )
    )
  }

  /** Registration of a [[funnelMetrics]] dataset. */
  private[graft] def funnelMeta(datasetUri: String, reasonCol: String): DatasetMeta =
    DatasetMeta(
      uri = datasetUri,
      tsColumn = "ts",
      columns = Seq(reasonCol),
      granularity = Granularity.Day,
      // instances are the data-dependent drop reasons — "*" marks
      // the per-reason fan-out in the registered metadata
      metrics = Seq(Metric("funnel", "*", "n_docs"), Metric("funnel", "*", "share"))
    )

  /** Register an event stream's DAILY funnel conversion as metric
    * series — the product-analytics twin of [[profileFunnel]]: each
    * (day, step) becomes two series under entity "event_funnel"
    * (`users` volume; `share_of_entry` = step users / step-1 users,
    * the scale-free health signal), so a conversion-rate collapse
    * alerts through the same optimize / score / assessQuality path as
    * any data-quality anomaly. One funnel-walk aggregation over the
    * events — the day column comes from the data itself, so a single
    * call backfills the whole observed range.
    */
  def profileEventFunnel(
      events: DataFrame,
      datasetUri: String,
      repo: MetricsRepository,
      steps: Seq[String],
      userCol: String = "user_id",
      typeCol: String = "event_type",
      tsCol: String = "ts"
  ): DataFrame = {
    val daily = graft.operators.EventAnalytics
      .funnelStepsDaily(events, userCol, typeCol, tsCol, steps)
    val byDay = Window
      .partitionBy(col("day"))
      .orderBy(col("step_idx"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // the metric NAME is the stored contract — share_of_entry must be
    // users / ENTRY-step users, not the lag-1 step-over-previous
    // conversion it briefly was (250/500 read as "25% of entrants"
    // when it meant "50% of the previous step")
    val users = col("users").cast("double")
    def step(name: String, value: Column) = (lit("event_funnel"), col("step"), lit(name), value)
    val rows = Profiler.unpivotMetrics(
      daily.withColumn("_entry_users", first(col("users")).over(byDay)),
      col("day"),
      Seq(
        step("users", users),
        step("share_of_entry", when(col("_entry_users") === 0, lit(0.0))
          .otherwise(users / col("_entry_users")))
      )
    )
    storeSeries(
      repo,
      DatasetMeta(
        uri = datasetUri,
        tsColumn = tsCol,
        columns = Seq(typeCol),
        granularity = Granularity.Day,
        metrics = Seq(
          Metric("event_funnel", "*", "users"),
          Metric("event_funnel", "*", "share_of_entry")
        )
      ),
      rows
    )
  }

  /** Compare one timestamp's stored scores against optimized thresholds
    * and notify on exceedance (reference `assess_quality`,
    * service_layer.py:345-409 — which likewise assesses a single ts).
    * Defaults to the NEWEST scored ts; without the bound every past
    * anomaly would re-alert on every call.
    *
    * One query and one driver action: the ts (a scalar subquery over
    * the scoring table unless given), the per-series verdicts of
    * [[Quality.verdicts]] at that ts, and the alerts aggregated into one
    * row, sorted by series key. That row is the only data collected,
    * bounded as before by the alerts of one dataset's series. With no
    * scoring stored yet the assessment is healthy at the epoch.
    */
  def assessQuality(
      datasetUri: String,
      repo: MetricsRepository,
      handlers: Seq[NotificationHandler] = Seq(LogHandler),
      ts: Option[java.sql.Timestamp] = None
  ): Assessment = {
    val scoring = repo.getScoring(datasetUri)
    val t = ts.map(lit).getOrElse(scoring.agg(max(col("ts"))).scalar())
    val alert = struct((seriesCols ++ Seq("score", "threshold")).map(col): _*)
    val row = Quality
      .verdicts(repo.getOptimization(datasetUri), scoring.where(col("ts") === t), seriesCols)
      .agg(sort_array(collect_list(when(col("is_anomalous"), alert))).as("alerts"))
      .select(t.as("ts"), col("alerts"))
      .collect()
      .head
    Option(row.getTimestamp(0)) match {
      case None => Assessment(datasetUri, new java.sql.Timestamp(0L), Seq.empty)
      case Some(at) =>
        val anomalous = row.getSeq[Row](1).toSeq.map { r =>
          AnomalousScore(
            entity = r.getString(0),
            instance = r.getString(1),
            name = r.getString(2),
            score = r.getDouble(3),
            threshold = r.getDouble(4)
          )
        }
        if (anomalous.nonEmpty) handlers.foreach(_.notify(datasetUri, at, anomalous))
        Assessment(datasetUri, at, anomalous)
    }
  }

  /** Distribution-drift assessment over a raw batch: day-over-day PSI
    * per numeric column ([[graft.profiler.Drift.psiDrift]]), stored as
    * ordinary profiling metrics (entity="column", instance=col,
    * name="psi_drift") — so drift series flow through the SAME
    * repository, HtmlReport charts and history queries as every other
    * metric, no new surface — and alerted through the standard
    * notification handlers when psi exceeds `threshold` (0.25 = the
    * common "action" level).
    *
    * Returns the long-format psi metrics.
    *
    * Driver-side bound (the assessTrend contract): metric storage is a
    * distributed transform off ONE materialized snapshot — zero driver
    * rows at any |days| × |columns| — and only the alert subset is
    * collected, capped at `maxAlerts` rows (largest psi first,
    * deterministic tie-break). A truncated budget fires a synthetic
    * `_alert_budget/alerts_truncated` alert through the same handlers.
    */
  def assessDrift(
      df: DataFrame,
      datasetUri: String,
      tsColumn: String,
      repo: MetricsRepository,
      columns: Seq[String] = Seq.empty,
      bins: Int = 10,
      threshold: Double = 0.25,
      handlers: Seq[NotificationHandler] = Seq(LogHandler),
      maxAlerts: Int = 10000
  ): DataFrame = {
    import org.apache.spark.sql.types.NumericType
    require(maxAlerts > 0, s"maxAlerts must be positive, got $maxAlerts")
    val targets =
      if (columns.nonEmpty) columns
      else
        df.schema.fields
          .filter(f => f.dataType.isInstanceOf[NumericType] && f.name != tsColumn)
          .map(_.name)
          .toSeq
    require(targets.nonEmpty, "assessDrift: no numeric columns to assess")
    // ONE evaluation: psi output is grain-level (|days| x |columns|
    // rows — a metric table, not data), materialized once so the
    // stored metrics and the alerts derive from that same snapshot.
    // Re-evaluating the lineage per consumer could let a concurrently-
    // appended source store one psi and alert on another.
    val psi = graft.functions.materialize(
      targets
        .map { c =>
          graft.profiler.Drift
            .psiDrift(df, tsColumn, c, bins)
            .select(
              col("ts"),
              lit("column").as("entity"),
              lit(c).as("instance"),
              lit("psi_drift").as("name"),
              col("psi").as("value")
            )
        }
        .reduce(_ unionByName _)
    )
    repo.addProfiling(datasetUri, psi)
    // alert PER DRIFTED DAY — an alert must name the day the
    // distribution moved, not the batch's newest day
    dispatchAlerts(
      datasetUri,
      psi.where(col("value") > threshold),
      Seq(col("value").desc, col("instance"), col("ts")),
      maxAlerts,
      handlers
    )(
      _.getTimestamp(0),
      r =>
        AnomalousScore(
          entity = r.getString(1),
          instance = r.getString(2),
          name = r.getString(3),
          score = r.getDouble(4),
          threshold = threshold
        )
    )
    psi
  }

  /** Trend assessment over every stored metric series: tie-corrected
    * Mann-Kendall significance ([[graft.anomaly.StatTests.mannKendall]])
    * paired with the robust Theil-Sen slope — "this metric is
    * SIGNIFICANTLY drifting, at this rate". The forecast/threshold
    * chain catches points that break from history; this catches the
    * slow bleed that never breaks any single day.
    *
    * Per significant series (|z| > zThreshold): an alert through the
    * standard handlers (score = z, positive = rising, `thinned` set
    * when the statistic was computed on a thinned history), and a
    * `<name>_trend_z` metric stored at the series' newest ts — plus a
    * companion `<name>_trend_thinned` 0/1 series — so trend verdicts
    * AND their approximation provenance ride the same
    * repository/report/history surfaces. Returns the full per-series
    * verdict table (n, s, z, trend, thinned, slope).
    *
    * Driver-side bound: metric STORAGE is fully distributed (the
    * verdict table goes to the repository as a DataFrame transform —
    * zero driver rows at any series count); only the ALERT subset is
    * collected, capped at `maxAlerts` series (most significant by
    * \|z\| first, deterministic tie-break). At 10⁵ datasets × columns ×
    * metrics the old one-row-per-series collect was ~10⁶+ driver rows;
    * now the driver holds ≤ maxAlerts + 1. When the cap truncates, a
    * synthetic `_alert_budget/alerts_truncated` alert (score = dropped
    * count) fires through the same handlers — flagged, never silent.
    */
  def assessTrend(
      datasetUri: String,
      repo: MetricsRepository,
      zThreshold: Double = 1.96,
      handlers: Seq[NotificationHandler] = Seq(LogHandler),
      maxPoints: Int = 10000,
      maxAlerts: Int = 10000
  ): DataFrame = {
    require(zThreshold > 0, s"zThreshold must be positive, got $zThreshold")
    require(maxAlerts > 0, s"maxAlerts must be positive, got $maxAlerts")
    // Base series only: a stored `<name>_trend_z` series must never be
    // trend-tested itself (unbounded `_trend_z_trend_z` compounding).
    val hist = baseProfiling(datasetUri, repo)
    val mk =
      graft.anomaly.StatTests
        .mannKendall(hist, seriesCols, maxPoints = maxPoints)
    val slopes = graft.anomaly.Trend
      .theilSen(hist, seriesCols, maxPoints = maxPoints)
      .select((seriesCols.map(col) :+ col("slope")): _*)
    val newest = hist
      .groupBy(seriesCols.map(col): _*)
      .agg(max(col("ts")).as("_ts"))
    // materialized so the stored metrics, the alerts, and the returned
    // table all derive from ONE snapshot (the assessDrift contract)
    val verdicts = graft.functions.materialize(
      mk.join(slopes, seriesCols).join(newest, seriesCols)
    )
    // stored metrics as a distributed transform — two rows per series
    // (`<name>_trend_z` + the 0/1 thinned-provenance companion), never
    // collected
    def derived(suffix: String, value: Column) =
      (col("entity"), col("instance"), concat(col("name"), lit(suffix)), value)
    val stored = Profiler.unpivotMetrics(
      verdicts,
      col("_ts"),
      Seq(
        derived(trendSuffix, col("z").cast("double")),
        derived(trendThinnedSuffix, when(col("thinned"), 1.0).otherwise(0.0))
      )
    )
    repo.addProfiling(datasetUri, stored)
    // alert subset only: significant series, most-significant first
    dispatchAlerts(
      datasetUri,
      verdicts.where(abs(col("z")) > zThreshold),
      Seq(abs(col("z")).desc, col("entity"), col("instance"), col("name")),
      maxAlerts,
      handlers
    )(
      _.getAs[java.sql.Timestamp]("_ts"),
      r =>
        AnomalousScore(
          entity = r.getAs[String]("entity"),
          instance = r.getAs[String]("instance"),
          name = r.getAs[String]("name"),
          score = r.getAs[java.lang.Double]("z").doubleValue,
          threshold = zThreshold,
          thinned = r.getAs[Boolean]("thinned")
        )
    )
    verdicts.drop("_ts")
  }

  /** Embedding-space drift assessment: per-group centroid shift
    * between a reference snapshot and the current corpus
    * ([[graft.similarity.Similarity.centroidShift]]), stored as
    * ordinary profiling metrics (entity "embedding_group", metric
    * `centroid_shift`, instance = group key) at the observation
    * timestamp `ts` — so embedding drift rides the same repository,
    * report, and history surfaces as every scalar metric. Alerts fire
    * through the standard handlers when a group's shift exceeds
    * `threshold`, and ALWAYS for one-sided groups (appeared or
    * vanished — reported with score = +Infinity, since no finite
    * threshold should mute a domain disappearing from the corpus).
    *
    * The shift table is |groups| rows — collected once so the stored
    * metrics and the alerts derive from the same snapshot, same as
    * [[assessDrift]].
    */
  def assessEmbeddingDrift(
      reference: DataFrame,
      current: DataFrame,
      datasetUri: String,
      ts: java.sql.Timestamp,
      vecCol: String,
      keyCol: String,
      repo: MetricsRepository,
      threshold: Double = 0.25,
      handlers: Seq[NotificationHandler] = Seq(LogHandler)
  ): DataFrame = {
    val rows = graft.similarity.Similarity
      .centroidShift(reference, current, vecCol, keyCol)
      .select(
        lit(ts).as("ts"),
        lit("embedding_group").as("entity"),
        col("key").cast("string").as("instance"),
        lit("centroid_shift").as("name"),
        col("shift").as("value")
      )
      .collect()
      .toSeq
    val spark = reference.sparkSession
    val metrics = spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 1),
      MetricsRepository.profilingSchema
    )
    repo.addProfiling(datasetUri, metrics)
    val alerts = rows.flatMap { r =>
      val shifted = !r.isNullAt(4) && r.getDouble(4) > threshold
      val oneSided = r.isNullAt(4)
      if (shifted || oneSided)
        Some(
          AnomalousScore(
            entity = r.getString(1),
            instance = r.getString(2),
            name = r.getString(3),
            score = if (oneSided) Double.PositiveInfinity else r.getDouble(4),
            threshold = threshold
          )
        )
      else None
    }
    if (alerts.nonEmpty) handlers.foreach(_.notify(datasetUri, ts, alerts))
    metrics
  }

  /** profile + optimize in one call (reference
    * `profile_create_optimize`, service_layer.py:411-459).
    */
  def profileCreateOptimize(
      df: DataFrame,
      datasetUri: String,
      tsColumn: String,
      repo: MetricsRepository,
      builder: ProfilingBuilder = ProfilingBuilder.default,
      granularity: String = Granularity.Day,
      cfg: Optimizer.Config = Optimizer.Config()
  ): DataFrame = {
    profileCreate(df, datasetUri, tsColumn, repo, builder, granularity)
    optimize(datasetUri, repo, cfg)
  }

  /** Full new-batch flow: profile the batch, score its newest point,
    * assess, notify (reference `assess_new_ts`,
    * service_layer.py:461-509).
    */
  def assessNewTs(
      df: DataFrame,
      datasetUri: String,
      tsColumn: String,
      repo: MetricsRepository,
      builder: ProfilingBuilder = ProfilingBuilder.default,
      granularity: String = Granularity.Day,
      cfg: Optimizer.Config = Optimizer.Config(),
      handlers: Seq[NotificationHandler] = Seq(LogHandler)
  ): Assessment = {
    profileCreate(df, datasetUri, tsColumn, repo, builder, granularity)
    score(datasetUri, repo, cfg)
    assessQuality(datasetUri, repo, handlers)
  }
}
