package graft.service

import graft.SparkSpec
import graft.core.DatasetMeta
import graft.profiler.ProfilingBuilder
import graft.quality.{AnomalousScore, NotificationHandler}
import graft.repository.{InMemoryRepository, MetricsRepository, ParquetRepository}
import graft.testing.SyntheticSeries
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

class ServiceSpec extends SparkSpec {
  import spark.implicits._

  /** A batch table: one row per (ts, value) -> profiled Mean == value. */
  private def batches(n: Int, anomalies: Map[Int, Double] = Map.empty) =
    SyntheticSeries.daily(spark, n, noiseAmp = 0.02, anomalies = anomalies)

  private def newParquetRepo(): MetricsRepository = {
    val dir = java.nio.file.Files.createTempDirectory("graft-repo").toString
    new ParquetRepository(spark, dir)
  }

  for ((repoName, mkRepo) <- Seq(
      "in-memory" -> (() => new InMemoryRepository(): MetricsRepository),
      "parquet" -> (() => newParquetRepo())
    )) {

    test(s"[$repoName] profileCreate registers dataset and upserts metrics") {
      val repo = mkRepo()
      Service.profileCreate(batches(10), "ds://t1", "ts", repo, ProfilingBuilder.simple)
      val meta = repo.getDataset("ds://t1")
      assert(meta.exists(_.columns == Seq("value")))
      val prof = repo.getProfiling("ds://t1")
      assert(prof.where($"name" === "Mean").count() == 10)
      // Re-profiling the same range must not duplicate rows (upsert).
      Service.profileCreate(batches(10), "ds://t1", "ts", repo, ProfilingBuilder.simple)
      assert(repo.getProfiling("ds://t1").where($"name" === "Mean").count() == 10)
    }

    test(s"[$repoName] optimize + score + assess: clean series is healthy") {
      val repo = mkRepo()
      Service.profileCreate(batches(40), "ds://clean", "ts", repo, ProfilingBuilder.simple)
      val opt = Service.optimize("ds://clean", repo)
      assert(opt.count() > 0)
      val sc = Service.score("ds://clean", repo)
      assert(sc.count() > 0)
      val assessment = Service.assessQuality("ds://clean", repo, handlers = Nil)
      assert(assessment.isHealthy)
    }
  }

  test("profileEventFunnel stores daily conversion series the monitoring flow can score") {
    val repo = new InMemoryRepository()
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    val events = Seq(
      // day 1: users 1,2 view; user 1 clicks after viewing
      (1L, "view", t("2025-04-01 10:00:00")),
      (1L, "click", t("2025-04-01 10:05:00")),
      (2L, "view", t("2025-04-01 11:00:00")),
      // day 2: one user full chain
      (3L, "view", t("2025-04-02 09:00:00")),
      (3L, "click", t("2025-04-02 09:01:00")),
      (3L, "purchase", t("2025-04-02 09:02:00")),
      // day 3: 4 view, 2 click, 1 purchase — distinguishes share-of-
      // ENTRY (purchase 0.25) from step-over-previous (0.5)
      (4L, "view", t("2025-04-03 09:00:00")),
      (4L, "click", t("2025-04-03 09:01:00")),
      (4L, "purchase", t("2025-04-03 09:02:00")),
      (5L, "view", t("2025-04-03 10:00:00")),
      (5L, "click", t("2025-04-03 10:01:00")),
      (6L, "view", t("2025-04-03 11:00:00")),
      (7L, "view", t("2025-04-03 12:00:00"))
    ).toDF("user_id", "event_type", "ts")
    Service.profileEventFunnel(
      events,
      "ds://event-funnel",
      repo,
      Seq("view", "click", "purchase")
    )
    val stored = repo
      .getProfiling("ds://event-funnel")
      .collect()
      .map(r =>
        (r.getTimestamp(0).toString, r.getString(2), r.getString(3)) -> r.getDouble(4)
      )
      .toMap
    // day 1: 2 viewers, 1 clicker -> click share_of_entry 0.5; no purchases
    assert(stored(("2025-04-01 00:00:00.0", "view", "users")) == 2.0)
    assert(stored(("2025-04-01 00:00:00.0", "click", "share_of_entry")) == 0.5)
    assert(stored(("2025-04-01 00:00:00.0", "purchase", "users")) == 0.0)
    assert(stored(("2025-04-01 00:00:00.0", "purchase", "share_of_entry")) == 0.0)
    // day 2: full chain, every share 1.0
    assert(stored(("2025-04-02 00:00:00.0", "purchase", "share_of_entry")) == 1.0)
    // day 3: the metric is share of ENTRY (1 purchase / 4 viewers =
    // 0.25), not step-over-previous (1/2 = 0.5) — the name is the
    // stored contract
    assert(stored(("2025-04-03 00:00:00.0", "view", "share_of_entry")) == 1.0)
    assert(stored(("2025-04-03 00:00:00.0", "click", "share_of_entry")) == 0.5)
    assert(stored(("2025-04-03 00:00:00.0", "purchase", "share_of_entry")) == 0.25)
    // the dataset is registered with the wildcard series metadata
    assert(repo.getDataset("ds://event-funnel").nonEmpty)
  }

  test("assessNewTs flags an injected anomaly and notifies") {
    val repo = new InMemoryRepository()
    // History: 40 clean days; the new batch carries a 3x spike on its last day.
    Service.profileCreateOptimize(
      batches(40),
      "ds://spiky",
      "ts",
      repo,
      ProfilingBuilder.simple
    )
    var notified = Seq.empty[AnomalousScore]
    val handler = new NotificationHandler {
      def notify(uri: String, ts: java.sql.Timestamp, anomalous: Seq[AnomalousScore]): Unit =
        notified = anomalous
    }
    val withSpike = batches(41, anomalies = Map(40 -> 3.0))
    val assessment = Service.assessNewTs(
      withSpike,
      "ds://spiky",
      "ts",
      repo,
      ProfilingBuilder.simple,
      handlers = Seq(handler)
    )
    assert(!assessment.isHealthy)
    assert(notified.exists(a => a.instance == "value" && a.name == "Mean"))
    assert(notified.forall(a => a.score > a.threshold))
  }

  test("assessQuality alerts on failed-optimization series instead of reporting healthy") {
    val repo = new InMemoryRepository()
    def day(i: Int) = java.sql.Timestamp.valueOf(f"2024-01-${i + 1}%02d 00:00:00")
    val healthy = (0 until 25).map(i => (day(i), "Column", "value", "Mean", 10.0))
    // Too short for every candidate window: no model yields a valid
    // error, so best_model is NULL and Scorer produces NO scoring rows
    // for this series — it must alert, not silently pass as healthy.
    val broken = Seq(23, 24).map(i => (day(i), "Column", "broken", "Mean", 5.0))
    val profiling = (healthy ++ broken).toDF("ts", "entity", "instance", "name", "value")
    repo.addProfiling("ds://failed", profiling)
    val opt = Service.optimize("ds://failed", repo)
    assert(opt.where($"instance" === "broken" && $"optimization_failed").count() == 1)
    Service.score("ds://failed", repo)
    val assessment = Service.assessQuality("ds://failed", repo, handlers = Nil)
    assert(!assessment.isHealthy)
    val alerts = assessment.anomalous.filter(_.instance == "broken")
    assert(alerts.nonEmpty && alerts.forall(_.score.isNaN))
    // the healthy constant series must not be dragged into the alert
    assert(!assessment.anomalous.exists(_.instance == "value"))
  }

  test("assessQuality assesses one ts (newest by default) — past anomalies do not re-alert") {
    val repo = new InMemoryRepository()
    val t1 = java.sql.Timestamp.valueOf("2025-01-01 00:00:00")
    val t2 = java.sql.Timestamp.valueOf("2025-01-02 00:00:00")
    repo.addOptimization(
      "ds://one-ts",
      Seq(("Column", "value", "Mean", "TrailingMean-3", 0.2, 0.01, false))
        .toDF("entity", "instance", "name", "best_model", "threshold", "mean_error", "optimization_failed")
    )
    repo.addScoring(
      "ds://one-ts",
      Seq(
        (t1, "Column", "value", "Mean", 10.0, 5.0, 0.5), // anomalous day
        (t2, "Column", "value", "Mean", 10.0, 9.9, 0.01) // healthy newest day
      ).toDF("ts", "entity", "instance", "name", "value", "predicted", "score")
    )
    // default: newest ts only -> healthy, ts = t2
    val latest = Service.assessQuality("ds://one-ts", repo, handlers = Nil)
    assert(latest.isHealthy && latest.ts == t2)
    // explicit ts: the anomalous day still assessable on demand
    val past = Service.assessQuality("ds://one-ts", repo, handlers = Nil, ts = Some(t1))
    assert(!past.isHealthy && past.ts == t1)
    assert(past.anomalous.head.score == 0.5)
  }

  test("parquet repository compaction preserves the resolved view and shrinks files") {
    val dir = java.nio.file.Files.createTempDirectory("graft-compact").toString
    val repo = new ParquetRepository(spark, dir)
    val t = java.sql.Timestamp.valueOf("2025-01-01 00:00:00")
    // 5 upserts of the same key + one other key -> 6 batches on disk
    (1 to 5).foreach { v =>
      repo.addProfiling(
        "u_c",
        Seq((t, "Column", "a", "Mean", v.toDouble)).toDF("ts", "entity", "instance", "name", "value")
      )
    }
    repo.addProfiling(
      "u_c",
      Seq((t, "Column", "b", "Mean", 9.0)).toDF("ts", "entity", "instance", "name", "value")
    )
    def files() = new java.io.File(s"$dir/profiling/dataset_uri=u_c")
      .listFiles().count(_.getName.endsWith(".parquet"))
    val before = files()
    assert(before >= 6)
    repo.compact("u_c")
    assert(files() < before)
    val got = repo.getProfiling("u_c").orderBy("instance").collect()
    assert(got.length == 2)
    assert(got.map(r => r.getAs[String]("instance") -> r.getAs[Double]("value")).toSeq ==
      Seq("a" -> 5.0, "b" -> 9.0))
    // upserts after compaction still win
    repo.addProfiling(
      "u_c",
      Seq((t, "Column", "a", "Mean", 7.0)).toDF("ts", "entity", "instance", "name", "value")
    )
    assert(repo.getProfiling("u_c").where($"instance" === "a").collect().head.getAs[Double]("value") == 7.0)
  }

  test("typed errors: unoptimized scoring throws; strict optimize surfaces failed series") {
    val repo = new InMemoryRepository()
    def day(i: Int) = java.sql.Timestamp.valueOf(f"2024-01-${i + 1}%02d 00:00:00")
    val healthy = (0 until 25).map(i => (day(i), "Column", "value", "Mean", 10.0))
    val broken = Seq(23, 24).map(i => (day(i), "Column", "broken", "Mean", 5.0))
    repo.addProfiling("ds://typed", (healthy ++ broken).toDF("ts", "entity", "instance", "name", "value"))
    // scoring before optimize: typed failure, not a bare require
    val ex = intercept[graft.core.UnoptimizedDatasetException] {
      Service.score("ds://typed", repo)
    }
    assert(ex.datasetUri == "ds://typed")
    // strict mode mirrors the reference's OptimizationFailedError
    val fail = intercept[graft.core.OptimizationFailedException] {
      Service.optimize("ds://typed", repo, failOnError = true)
    }
    assert(fail.series == Seq("Column/broken/Mean"))
    // and nothing was stored by the failed strict attempt
    assert(repo.getOptimization("ds://typed").isEmpty)
    // default mode still flags instead of throwing
    val opt = Service.optimize("ds://typed", repo)
    assert(opt.where($"optimization_failed").count() == 1)
  }

  test("maintain keeps a long run of daily upserts bounded and retention drops old ts") {
    val dir = java.nio.file.Files.createTempDirectory("graft-maintain").toString
    val repo = new ParquetRepository(spark, dir)
    def day(i: Int) = java.sql.Timestamp.valueOf(f"2024-01-${i}%02d 00:00:00")
    def files() = new java.io.File(s"$dir/profiling/dataset_uri=u_m")
      .listFiles().count(_.getName.endsWith(".parquet"))
    // a month of daily upserts with maintenance after each: the file
    // count must stay bounded at maxFiles+1 (one compacted file plus
    // at most maxFiles fresh batches), never reach 20
    (1 to 20).foreach { i =>
      repo.addProfiling(
        "u_m",
        Seq((day(i), "Column", "a", "Mean", i.toDouble))
          .toDF("ts", "entity", "instance", "name", "value")
      )
      repo.maintain("u_m", maxFiles = 5)
      assert(files() <= 6, s"day $i: ${files()} files")
    }
    // resolved view intact: all 20 days, latest values
    assert(repo.getProfiling("u_m").count() == 20)
    // retention: compact away everything before day 15
    repo.compact("u_m", retainSince = Some(day(15)))
    val kept = repo.getProfiling("u_m").orderBy("ts").collect()
    assert(kept.length == 6 && kept.head.getAs[java.sql.Timestamp]("ts") == day(15))
    // upserts after a retention compact still work
    repo.addProfiling(
      "u_m",
      Seq((day(15), "Column", "a", "Mean", 99.0)).toDF("ts", "entity", "instance", "name", "value")
    )
    assert(repo.getProfiling("u_m").where($"ts" === day(15)).collect()
      .head.getAs[Double]("value") == 99.0)
    // a NULL-ts row (a supported logical key — the null-safe upserts
    // exist for it) is NOT "before the cutoff": retention keeps it
    repo.addProfiling(
      "u_m",
      Seq((Option.empty[java.sql.Timestamp], "Column", "a", "NullKey", 7.0))
        .toDF("ts", "entity", "instance", "name", "value")
    )
    repo.compact("u_m", retainSince = Some(day(15)))
    assert(repo.getProfiling("u_m").where($"ts".isNull).count() == 1,
      "retention compact must not delete the NULL-ts series")
  }

  /** The first `history` days of the synthetic series and each of the
    * `days` after them, written apart and read back as parquet: every day
    * arrives as a batch of the same shape, as a daily job reads it.
    */
  private def dailyBatches(history: Int, days: Int): (DataFrame, Seq[DataFrame]) = {
    val dir = java.nio.file.Files.createTempDirectory("graft-days").toString
    val all = batches(history + days)
    val cut = all.orderBy("ts").select("ts").as[java.sql.Timestamp].collect()
    all.where($"ts" < cut(history)).write.parquet(s"$dir/history")
    (0 until days).foreach(d => all.where($"ts" === cut(history + d)).write.parquet(s"$dir/day$d"))
    (spark.read.parquet(s"$dir/history"), (0 until days).map(d => spark.read.parquet(s"$dir/day$d")))
  }

  test("[parquet] a daily job reuses the generated classes of the day before") {
    import org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
    val repo = newParquetRepo()
    val (history, days) = dailyBatches(history = 40, days = 3)
    Service.profileCreateOptimize(history, "ds://daily", "ts", repo, ProfilingBuilder.simple)
    val compiles = days.map { day =>
      val before = METRIC_COMPILATION_TIME.getCount
      Service.assessNewTs(day, "ds://daily", "ts", repo, ProfilingBuilder.simple, handlers = Nil)
      METRIC_COMPILATION_TIME.getCount - before
    }
    // the third day compiles only the classes of assessQuality's
    // `ts === lit(t)` filter (kept: Parquet prunes row groups on it). A
    // per-write literal, a too-small class cache, or a stage id that
    // adaptive execution renumbered in a class name compiles more.
    assert(compiles(2) <= 5, s"classes compiled per day: ${compiles.mkString(", ")}")
  }

  test("maintain compacts only the table partitions over maxFiles") {
    val dir = java.nio.file.Files.createTempDirectory("graft-maintain-tables").toString
    val repo = new ParquetRepository(spark, dir)
    val uri = "ds://tables"
    val (history, days) = dailyBatches(history = 30, days = 2)
    def files(table: String) = new java.io.File(s"$dir/$table/dataset_uri=ds%3A%2F%2Ftables")
      .listFiles().map(_.getName).filter(_.endsWith(".parquet")).sorted.toSeq
    def views() = Seq(repo.getProfiling(uri), repo.getOptimization(uri), repo.getScoring(uri))
      .map(_.collect().map(_.toSeq.mkString("|")).sorted.toSeq)
    // onboarding and the first day, maintained: one file per partition
    Service.profileCreateOptimize(history, uri, "ts", repo, ProfilingBuilder.simple)
    Service.assessNewTs(days(0), uri, "ts", repo, ProfilingBuilder.simple, handlers = Nil)
    repo.maintain(uri, maxFiles = 1)
    // the next day appends to profiling and scoring only
    Service.assessNewTs(days(1), uri, "ts", repo, ProfilingBuilder.simple, handlers = Nil)
    val optFiles = files("optimization")
    assert(optFiles.size == 1 && files("profiling").size > 1 && files("scoring").size > 1)
    val before = views()
    assert(repo.maintain(uri, maxFiles = 1))
    assert(files("optimization") == optFiles, "the optimization partition was rewritten")
    assert(files("profiling").size == 1 && files("scoring").size == 1)
    assert(views() == before)
  }

  test("parquet repository round-trips dataset metadata and latest-wins upserts") {
    val repo = newParquetRepo()
    repo.registerDataset(DatasetMeta("u1", "ts", Seq("a"), "DAY", Seq.empty))
    repo.registerDataset(DatasetMeta("u1", "ts", Seq("a", "b"), "DAY", Seq.empty))
    assert(repo.getDataset("u1").exists(_.columns == Seq("a", "b")))
    assert(repo.listDatasets().size == 1)

    val t = java.sql.Timestamp.valueOf("2025-01-01 00:00:00")
    val rows1 = Seq((t, "Column", "a", "Mean", 1.0)).toDF("ts", "entity", "instance", "name", "value")
    val rows2 = Seq((t, "Column", "a", "Mean", 2.0)).toDF("ts", "entity", "instance", "name", "value")
    repo.addProfiling("u1", rows1)
    repo.addProfiling("u1", rows2)
    val got = repo.getProfiling("u1").collect()
    assert(got.length == 1 && got.head.getAs[Double]("value") == 2.0)
    // ts range select
    assert(repo.getProfiling("u1", start = Some(java.sql.Timestamp.valueOf("2025-01-02 00:00:00"))).count() == 0)
  }

  test("repositories honor latest-wins on NULL key columns") {
    // a NULL ts is a legal key value (e.g. dataset-grain metrics with
    // no observation time); re-adding must REPLACE, not duplicate —
    // the same contract the JDBC null-safe DELETE pins on its side
    for (repo <- Seq(new InMemoryRepository(), newParquetRepo())) {
      val rows1 = Seq((Option.empty[java.sql.Timestamp], "Column", "a", "Mean", 1.0))
        .toDF("ts", "entity", "instance", "name", "value")
      val rows2 = Seq((Option.empty[java.sql.Timestamp], "Column", "a", "Mean", 2.0))
        .toDF("ts", "entity", "instance", "name", "value")
      repo.addProfiling("u1", rows1)
      repo.addProfiling("u1", rows2)
      val got = repo.getProfiling("u1").collect()
      assert(got.length == 1, s"${repo.getClass.getSimpleName}: replaced, not duplicated")
      assert(got.head.getAs[Double]("value") == 2.0)
    }
  }

  test("assessDrift stores psi as ordinary profiling metrics and alerts on a shifted day") {
    def day(d: Int, v: Double) =
      (java.sql.Timestamp.valueOf(f"2025-03-$d%02d 12:00:00"), v)
    // days 1-2 identical; day 3 mass jumps to the far end of the range
    val rows =
      (1 to 2).flatMap(d => Seq.fill(60)(day(d, 1.0)) ++ Seq.fill(60)(day(d, 2.0))) ++
        Seq.fill(120)(day(3, 10.0))
    val df = rows.toDF("ts", "value")
    val repo = new InMemoryRepository()
    var notified = Seq.empty[AnomalousScore]
    val handler = new NotificationHandler {
      def notify(uri: String, ts: java.sql.Timestamp, anomalous: Seq[AnomalousScore]): Unit =
        notified = anomalous
    }
    Service.assessDrift(df, "ds://drifty", "ts", repo, handlers = Seq(handler))
    // stored through the SAME profiling surface as every other metric
    val stored = repo
      .getProfiling("ds://drifty")
      .where(col("name") === "psi_drift")
      .collect()
    assert(stored.length == 2) // day2 vs day1, day3 vs day2
    assert(notified.nonEmpty)
    assert(notified.head.instance == "value" && notified.head.name == "psi_drift")
    assert(notified.head.score > 0.25)
  }

  test("assessEmbeddingDrift stores shifts as metrics and alerts on moved or vanished groups") {
    val snapA = Seq(
      (1L, Array(1.0f, 0.0f), "stable"),
      (2L, Array(1.0f, 0.0f), "stable"),
      (3L, Array(2.0f, 0.0f), "moving"),
      (4L, Array(4.0f, 0.0f), "moving"),
      (5L, Array(9.0f, 9.0f), "vanishing")
    ).toDF("vec_id", "embedding", "label")
    val snapB = Seq(
      (6L, Array(1.0f, 0.0f), "stable"),
      (7L, Array(3.0f, 4.0f), "moving"), // centroid (3,0) -> (3,4): shift 4
      (8L, Array(3.0f, 4.0f), "moving")
    ).toDF("vec_id", "embedding", "label")
    val repo = new InMemoryRepository()
    var notified = Seq.empty[AnomalousScore]
    val handler = new NotificationHandler {
      def notify(uri: String, ts: java.sql.Timestamp, anomalous: Seq[AnomalousScore]): Unit =
        notified = anomalous
    }
    val ts = java.sql.Timestamp.valueOf("2025-06-01 00:00:00")
    Service.assessEmbeddingDrift(
      snapA, snapB, "ds://emb", ts, "embedding", "label", repo,
      threshold = 1.0, handlers = Seq(handler))
    val stored = repo
      .getProfiling("ds://emb")
      .where(col("name") === "centroid_shift")
      .collect()
    assert(stored.length === 3)
    val byInstance = notified.map(a => a.instance -> a.score).toMap
    assert(byInstance.keySet === Set("moving", "vanishing"))
    assert(byInstance("moving") === 4.0)
    assert(byInstance("vanishing").isPosInfinity,
      "a vanished group must alert regardless of threshold")
  }

  test("funnel health rides the monitoring flow: a kept-share collapse alerts") {
    import org.apache.spark.sql.functions._
    val repo = new InMemoryRepository()
    val uri = "ds://corpus-prepare"
    def funnelDay(kept: Int, dropped: Int) =
      ((1 to kept).map(_ => "kept") ++ (1 to dropped).map(_ => "too_short"))
        .toDF("drop_reason")
    // thirty healthy batches at 80% kept, then a collapse to 20%
    // (enough history for the optimizer's validation-point floor)
    (1 to 30).foreach { d =>
      Service.profileFunnel(
        funnelDay(80, 20), uri,
        java.sql.Timestamp.valueOf(f"2025-01-$d%02d 00:00:00"), repo)
    }
    assert(repo.getDataset(uri).nonEmpty)
    // optimize on the healthy history, THEN the collapsed batch
    // arrives and the newest ts is scored — the assess_new_ts order
    Service.optimize(uri, repo)
    Service.profileFunnel(
      funnelDay(20, 80), uri,
      java.sql.Timestamp.valueOf("2025-01-31 00:00:00"), repo)
    val stored = repo.getProfiling(uri)
    assert(stored.where(col("name") === "share").count() === 62L) // 2 reasons x 31 days
    Service.score(uri, repo)
    val assessment = Service.assessQuality(uri, repo, handlers = Nil)
    val flagged = assessment.anomalous.map(a => (a.instance, a.name)).toSet
    assert(flagged.contains(("kept", "share")),
      s"kept-share collapse must alert, got $flagged")
  }

  test("assessTrend flags the bleeding series, stores z, leaves the flat one quiet") {
    val repo = new InMemoryRepository()
    // two stored metric series: one slow bleed, one flat-with-noise
    def rows(name: String, f: Int => Double) = (1 to 20).map { d =>
      (java.sql.Timestamp.valueOf(f"2025-02-$d%02d 00:00:00"),
        "Column", "value", name, f(d))
    }
    val df = (rows("bleeding", d => 100.0 - 0.5 * d) ++
      rows("flat", d => 50.0 + (d % 2) * 0.1))
      .toDF("ts", "entity", "instance", "name", "value")
    repo.registerDataset(DatasetMeta("u", "ts", Seq("value"), "DAY", Seq.empty))
    repo.addProfiling("u", df)
    var notified = Seq.empty[AnomalousScore]
    val handler = new NotificationHandler {
      def notify(uri: String, ts: java.sql.Timestamp, anomalous: Seq[AnomalousScore]): Unit =
        notified = notified ++ anomalous
    }
    val verdicts = Service
      .assessTrend("u", repo, handlers = Seq(handler))
      .collect()
      .map(r => r.getAs[String]("name") ->
        (r.getAs[String]("trend"), r.getAs[Double]("slope")))
      .toMap
    assert(verdicts("bleeding")._1 == "decreasing")
    assert(verdicts("bleeding")._2 == -0.5)
    assert(verdicts("flat")._1 == "none")
    assert(notified.map(_.name).toSet == Set("bleeding"))
    assert(notified.head.score < -1.96)
    // the z verdict landed in the repository as an ordinary metric
    val stored = repo.getProfiling("u")
      .where(col("name") === "bleeding_trend_z").collect()
    assert(stored.length == 1 && stored.head.getAs[Double]("value") < -1.96)
  }

  test("assessTrend alert budget: top-|z| alerts only, truncation itself alerts, storage uncapped") {
    val repo = new InMemoryRepository()
    repo.registerDataset(DatasetMeta("ub", "ts", Seq("value"), "DAY", Seq.empty))
    // five bleeding series with distinct slopes -> five significant z's
    val df = (1 to 5)
      .flatMap { s =>
        (1 to 20).map { d =>
          (java.sql.Timestamp.valueOf(f"2025-02-$d%02d 00:00:00"),
            "Column", "value", s"bleed$s", 100.0 - (0.5 * s) * d)
        }
      }
      .toDF("ts", "entity", "instance", "name", "value")
    repo.addProfiling("ub", df)
    var batches = Seq.empty[Seq[AnomalousScore]]
    val handler = new NotificationHandler {
      def notify(uri: String, ts: java.sql.Timestamp, anomalous: Seq[AnomalousScore]): Unit =
        batches = batches :+ anomalous
    }
    Service.assessTrend("ub", repo, handlers = Seq(handler), maxAlerts = 2)
    val real = batches.flatten.filterNot(_.entity == "_alert_budget")
    val budget = batches.flatten.filter(_.entity == "_alert_budget")
    // only the 2 most significant series alert (all five are monotone
    // with identical-length histories, so |z| ties and the entity/
    // instance/name tie-break decides deterministically)
    assert(real.size == 2, real.toString)
    // the truncation is flagged through the SAME handler channel
    assert(budget.size == 1)
    assert(budget.head.name == "alerts_truncated")
    assert(budget.head.score == 3.0) // 5 significant - 2 budget
    assert(budget.head.threshold == 2.0)
    // metric STORAGE is uncapped: every series' verdict landed
    val storedNames = repo.getProfiling("ub")
      .where(col("name").endsWith("_trend_z"))
      .select("name").distinct().as[String].collect().toSet
    assert(storedNames == (1 to 5).map(s => s"bleed${s}_trend_z").toSet)
  }

  test("assessDrift alert budget mirrors the trend contract") {
    def day(d: Int, v: Double) =
      (java.sql.Timestamp.valueOf(f"2025-03-$d%02d 12:00:00"), v)
    // two drifted day-transitions -> two exceeding psi rows
    val rows =
      Seq.fill(120)(day(1, 1.0)) ++ Seq.fill(120)(day(2, 5.0)) ++
        Seq.fill(120)(day(3, 10.0))
    val df = rows.toDF("ts", "value")
    val repo = new InMemoryRepository()
    var batches = Seq.empty[Seq[AnomalousScore]]
    val handler = new NotificationHandler {
      def notify(uri: String, ts: java.sql.Timestamp, anomalous: Seq[AnomalousScore]): Unit =
        batches = batches :+ anomalous
    }
    Service.assessDrift(df, "ds://budget", "ts", repo,
      handlers = Seq(handler), maxAlerts = 1)
    val real = batches.flatten.filterNot(_.entity == "_alert_budget")
    val budget = batches.flatten.filter(_.entity == "_alert_budget")
    assert(real.size == 1)
    assert(budget.size == 1 && budget.head.score == 1.0)
    // storage is uncapped: both psi rows stored
    assert(repo.getProfiling("ds://budget")
      .where(col("name") === "psi_drift").count() == 2L)
  }

  test("assessTrend never trend-tests its own derived series") {
    // run the assessment repeatedly over an evolving store: the stored
    // `<name>_trend_z` series must be EXCLUDED from the scan, so no
    // `_trend_z_trend_z` metric can ever appear and the verdict table
    // stays one row per BASE series.
    val repo = new InMemoryRepository()
    repo.registerDataset(DatasetMeta("u2", "ts", Seq("value"), "DAY", Seq.empty))
    def batch(days: Range) = days
      .map { d =>
        (java.sql.Timestamp.valueOf(f"2025-03-$d%02d 00:00:00"),
          "Column", "value", "drifting", 10.0 + d)
      }
      .toDF("ts", "entity", "instance", "name", "value")
    repo.addProfiling("u2", batch(1 to 10))
    val v1 = Service.assessTrend("u2", repo, handlers = Seq.empty)
    assert(v1.select("name").as[String].collect().toSeq == Seq("drifting"))
    repo.addProfiling("u2", batch(11 to 20))
    val v2 = Service.assessTrend("u2", repo, handlers = Seq.empty)
    assert(v2.select("name").as[String].collect().toSeq == Seq("drifting"))
    repo.addProfiling("u2", batch(21 to 28))
    Service.assessTrend("u2", repo, handlers = Seq.empty)
    val names = repo.getProfiling("u2")
      .select("name").distinct().as[String].collect().toSet
    assert(names == Set("drifting", "drifting_trend_z", "drifting_trend_thinned"))
  }

  test("assessTrend over a >maxPoints history alerts WITH the thinned flag set") {
    val repo = new InMemoryRepository()
    repo.registerDataset(DatasetMeta("u3", "ts", Seq("value"), "DAY", Seq.empty))
    // 40 monotone points under a cap of 10: the verdict is computed on a
    // thinned series and every surface must say so
    val df = (1 to 40)
      .map { d =>
        (new java.sql.Timestamp(86400000L * d), "Column", "value", "rising", 10.0 + d)
      }
      .toDF("ts", "entity", "instance", "name", "value")
    repo.addProfiling("u3", df)
    var notified = Seq.empty[AnomalousScore]
    val handler = new NotificationHandler {
      def notify(uri: String, ts: java.sql.Timestamp, anomalous: Seq[AnomalousScore]): Unit =
        notified = notified ++ anomalous
    }
    val verdicts = Service
      .assessTrend("u3", repo, handlers = Seq(handler), maxPoints = 10)
      .collect()
    assert(verdicts.length == 1)
    assert(verdicts.head.getAs[String]("trend") == "increasing")
    assert(verdicts.head.getAs[Boolean]("thinned"), "verdict row carries the flag")
    assert(notified.map(a => (a.name, a.thinned)) == Seq(("rising", true)),
      "alert payload carries the flag")
    // and the stored companion series records the approximation
    val flag = repo.getProfiling("u3")
      .where(col("name") === "rising_trend_thinned").collect()
    assert(flag.length == 1 && flag.head.getAs[Double]("value") == 1.0)
    // derived series stay out of the next assessment's base scan
    val v2 = Service.assessTrend("u3", repo, handlers = Seq.empty, maxPoints = 10)
    assert(v2.select("name").as[String].collect().toSeq == Seq("rising"))
  }

  test("profileCreate rejects base metric names using a reserved derived suffix") {
    val repo = new InMemoryRepository()
    val df = Seq((java.sql.Timestamp.valueOf("2025-01-01 00:00:00"), 1.0))
      .toDF("ts", "x")
    val evil = new graft.profiler.ColumnAnalyzer {
      val name = "latency_trend_z"
      def expr(c: String) = avg(col(c)).cast("double")
    }
    val builder = new graft.profiler.ProfilingBuilder(
      Seq(graft.profiler.TypeMapping(_ => true, Seq(evil)))
    )
    val e = intercept[IllegalArgumentException] {
      Service.profileCreate(df, "u4", "ts", repo, builder)
    }
    assert(e.getMessage.contains("reserved"))
  }
}
