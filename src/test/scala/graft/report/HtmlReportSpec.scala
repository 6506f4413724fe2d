package graft.report

import graft.SparkSpec
import graft.profiler.ProfilingBuilder
import graft.repository.InMemoryRepository
import graft.service.Service
import graft.testing.SyntheticSeries

class HtmlReportSpec extends SparkSpec {

  test("report renders metadata, profiling charts, optimization table and score flags") {
    val repo = new InMemoryRepository()
    val uri = "ds://report"
    val history = SyntheticSeries.daily(spark, 40)
    Service.profileCreate(history, uri, "ts", repo, ProfilingBuilder.simple)
    Service.optimize(uri, repo)
    Service.score(uri, repo)
    val html = HtmlReport.render(repo, uri)
    assert(html.contains("ds://report"))
    assert(html.contains("granularity"))
    // profiling charts: Mean + Completeness + Size series each get an SVG
    assert(html.contains("Column / value / Mean"))
    assert("<svg".r.findAllIn(html).size >= 3)
    // optimization table with a selected model and status column
    assert(html.contains("best model"))
    assert(
      html.contains("TrailingMean") || html.contains("Ewma") ||
        html.contains("SeasonalNaive") || html.contains("AutoSeasonal")
    )
    assert(html.contains("<td>ok</td>") || html.contains("ok"))
    // scoring section with the healthy flag and the threshold rule
    assert(html.contains("within expectations"))
    assert(html.contains("stroke-dasharray"))
  }

  test("report flags anomalies and failed optimizations") {
    import spark.implicits._
    val repo = new InMemoryRepository()
    val uri = "ds://report-bad"
    def day(i: Int) = java.sql.Timestamp.valueOf(f"2024-01-${i + 1}%02d 00:00:00")
    val good = (0 until 25).map(i => (day(i), "Column", "value", "Mean", 10.0))
    val short = Seq(23, 24).map(i => (day(i), "Column", "broken", "Mean", 5.0))
    repo.addProfiling(uri, (good ++ short).toDF("ts", "entity", "instance", "name", "value"))
    Service.optimize(uri, repo)
    Service.score(uri, repo)
    // inject an anomalous score above threshold for the healthy series
    repo.addScoring(
      uri,
      Seq((day(25), "Column", "value", "Mean", 30.0, 10.0, 0.9))
        .toDF("ts", "entity", "instance", "name", "value", "predicted", "score")
    )
    val html = HtmlReport.render(repo, uri)
    assert(html.contains("FAILED")) // the too-short series in the table
    assert(html.contains("anomaly at")) // red flag on the injected score
    // the failed series' NULL threshold renders as "—", and its absence
    // from the thresholds map must not flag scores against 0.0
    assert(html.contains("<td>—</td>"))
  }

  test("trend verdicts render as chart badges, an assessment table and an index column") {
    import spark.implicits._
    val repo = new InMemoryRepository()
    val uri = "ds://report-trend"
    def day(i: Int) = java.sql.Timestamp.valueOf(f"2024-01-${i + 1}%02d 00:00:00")
    // a strongly increasing series and a trendless (alternating) one —
    // NOT constant: a zero-variance series has NO Mann-Kendall z
    // (stored NULL), and absence-of-verdict must stay unbadged
    val rows = (0 until 20).flatMap { i =>
      Seq(
        (day(i), "Column", "value", "bleeding", 10.0 + i),
        (day(i), "Column", "value", "steady", 5.0 + (i % 2) * 0.1))
    }
    repo.registerDataset(
      graft.core.DatasetMeta(uri, "ts", Seq("value"), "DAY", Seq.empty))
    repo.addProfiling(uri, rows.toDF("ts", "entity", "instance", "name", "value"))
    Service.assessTrend(uri, repo, handlers = Seq.empty)
    val html = HtmlReport.render(repo, uri)
    // the stored _trend_z series must NOT chart as its own metric...
    assert(!html.contains("Column / value / bleeding_trend_z"))
    // ...but badge the base chart and fill the assessment table
    assert(html.contains("Trend assessment"))
    assert(html.contains("↗ increasing"))
    assert(html.contains("→ stable"))
    // increasing badge is attached to the bleeding chart's heading
    val h4 = html.split("<h4>").find(_.contains("bleeding")).get
    assert(h4.contains("↗ increasing"), h4.take(300))
    // `_trend_z` series must not consume chart-series slots: with
    // maxSeries = 2 BOTH base charts render, badges intact (the old
    // shared cap would keep (bleeding, bleeding_trend_z) and silently
    // drop the steady chart)
    val capped = HtmlReport.render(repo, uri, maxSeries = 2)
    assert(capped.contains("Column / value / bleeding"))
    assert(capped.contains("Column / value / steady"))
    assert(capped.contains("↗ increasing") && capped.contains("→ stable"))
    // index column: one significant series → trending badge
    val idx = HtmlReport.renderIndex(repo)
    assert(idx.contains("<th>trend</th>"))
    assert(idx.contains("↗ 1 trending"))
    // a dataset with no stored trend renders the na dash, not a badge
    val bare = "ds://report-trend-bare"
    repo.registerDataset(
      graft.core.DatasetMeta(bare, "ts", Seq("value"), "DAY", Seq.empty))
    repo.addProfiling(
      bare,
      Seq((day(0), "Column", "value", "Mean", 1.0))
        .toDF("ts", "entity", "instance", "name", "value"))
    val idx2 = HtmlReport.renderIndex(repo)
    assert(idx2.contains("""<span class="na">—</span>"""))
    // full-history verdicts carry no thinned marker and the companion
    // 0/1 flag series never charts as a base metric
    assert(!html.contains("≈ thinned"))
    assert(!html.contains("bleeding_trend_thinned"))
    assert(html.contains("<td>full</td>"))
  }

  test("a thinned-history verdict carries the ≈ marker on badge and table") {
    import spark.implicits._
    val repo = new InMemoryRepository()
    val uri = "ds://report-thinned"
    val rows = (0 until 40).map { i =>
      (new java.sql.Timestamp(86400000L * (i + 1)), "Column", "value", "rising", 10.0 + i)
    }
    repo.registerDataset(
      graft.core.DatasetMeta(uri, "ts", Seq("value"), "DAY", Seq.empty))
    repo.addProfiling(uri, rows.toDF("ts", "entity", "instance", "name", "value"))
    Service.assessTrend(uri, repo, handlers = Seq.empty, maxPoints = 10)
    val html = HtmlReport.render(repo, uri)
    assert(html.contains("↗ increasing"))
    assert(html.contains("≈ thinned"), "badge must disclose the approximation")
    assert(html.contains("<td>≈ thinned</td>"), "assessment table basis column")
    // the flag series itself must not chart or consume series slots
    assert(!html.contains("Column / value / rising_trend_thinned"))
  }

  test("caps are applied before collect: maxSeries and maxPointsPerSeries bound the charts") {
    import spark.implicits._
    val repo = new InMemoryRepository()
    val uri = "ds://capped"
    def day(i: Int) = java.sql.Timestamp.valueOf(f"2024-01-${i + 1}%02d 00:00:00")
    val rows = for {
      inst <- Seq("a", "b", "c")
      i <- 0 until 20
    } yield (day(i), "Column", inst, "Mean", i.toDouble)
    repo.addProfiling(uri, rows.toDF("ts", "entity", "instance", "name", "value"))
    val html = HtmlReport.render(repo, uri, maxPointsPerSeries = 5, maxSeries = 2)
    // first two series in key order survive, third is dropped
    assert(html.contains("Column / a / Mean"))
    assert(html.contains("Column / b / Mean"))
    assert(!html.contains("Column / c / Mean"))
    // newest 5 points per series: n=5 in the stats line, and the kept
    // window is the NEWEST (last value 19.0), not the oldest
    assert(html.contains("n=5"))
    assert(!html.contains("n=20"))
    assert(html.contains("last=19.0"))
  }

  test("index page browses datasets with health badges and writeAll emits every file") {
    import spark.implicits._
    val repo = new InMemoryRepository()
    // healthy dataset: full pipeline, scores within threshold
    val healthy = "ds://warehouse/healthy"
    Service.profileCreate(
      SyntheticSeries.daily(spark, 40),
      healthy,
      "ts",
      repo,
      ProfilingBuilder.simple)
    Service.optimize(healthy, repo)
    Service.score(healthy, repo)
    // anomalous dataset: newest score breaches its stored threshold
    val bad = "ds://warehouse/bad"
    Service.profileCreate(
      SyntheticSeries.daily(spark, 40),
      bad,
      "ts",
      repo,
      ProfilingBuilder.simple)
    Service.optimize(bad, repo)
    Service.score(bad, repo)
    // newest-dated score (the synthetic series runs through 2025)
    repo.addScoring(
      bad,
      Seq(
        (
          java.sql.Timestamp.valueOf("2026-01-01 00:00:00"),
          "Column",
          "value",
          "Mean",
          30.0,
          10.0,
          0.99))
        .toDF("ts", "entity", "instance", "name", "value", "predicted", "score")
    )
    // registered but never profiled: must render, not crash
    val empty = "ds://warehouse/empty"
    repo.registerDataset(
      graft.core.DatasetMeta(empty, "ts", Seq("value"), "DAY", Seq.empty))

    val html = HtmlReport.renderIndex(repo)
    assert(html.contains("3 datasets"))
    // each dataset links to its slugged report file
    assert(html.contains("href=\"" + HtmlReport.slug(healthy) + ".html\""))
    assert(html.contains("🟢 healthy"))
    assert(html.contains("anomalous"))
    assert(html.contains("no scoring"))

    val dir = java.nio.file.Files.createTempDirectory("graft-report").toString
    val written = HtmlReport.writeAll(repo, dir)
    assert(written.length == 4) // index + 3 datasets
    assert(written.head.getFileName.toString == "index.html")
    assert(written.forall(java.nio.file.Files.exists(_)))
    // the index's hrefs resolve against the files actually written
    val idx = java.nio.file.Files.readString(written.head)
    written.tail.foreach { p =>
      assert(idx.contains(s"""href="${p.getFileName}""""), p.toString)
    }
  }

  test("index health follows assessQuality: a NULL threshold or an unscored failed series alerts") {
    import spark.implicits._
    val repo = new InMemoryRepository()
    val t = java.sql.Timestamp.valueOf("2025-01-02 00:00:00")
    def optimization(rows: (String, Option[String], Option[Double], Boolean)*) =
      rows
        .map { case (i, m, th, failed) => ("Column", i, "Mean", m, th, th, failed) }
        .toDF("entity", "instance", "name", "best_model", "threshold", "mean_error",
          "optimization_failed")
    def scores(instances: String*) =
      instances
        .map(i => (t, "Column", i, "Mean", 1.0, 1.0, 0.01))
        .toDF("ts", "entity", "instance", "name", "value", "predicted", "score")
    val uris = Seq("ds://idx/failed-unscored", "ds://idx/null-threshold", "ds://idx/ok")
    uris.foreach(u => repo.registerDataset(graft.core.DatasetMeta(u, "ts", Seq("a"), "DAY", Nil)))
    val ok = Some("TrailingMean-3")
    // a healthy scored series next to a failed one that has no score
    repo.addOptimization(
      uris(0), optimization(("a", ok, Some(0.2), false), ("b", None, None, true)))
    repo.addScoring(uris(0), scores("a"))
    // a scored series whose stored optimization failed later
    repo.addOptimization(uris(1), optimization(("a", None, None, true)))
    repo.addScoring(uris(1), scores("a"))
    repo.addOptimization(uris(2), optimization(("a", ok, Some(0.2), false)))
    repo.addScoring(uris(2), scores("a"))
    val html = HtmlReport.renderIndex(repo)
    val badges = "🔴 1 anomalous|🟢 healthy".r.findAllIn(html).toSeq
    assert(badges == Seq("🔴 1 anomalous", "🔴 1 anomalous", "🟢 healthy"))
    // the same verdicts as the assessment and the dataset report's charts
    assert(uris.map(u => Service.assessQuality(u, repo, handlers = Nil).isHealthy) ==
      Seq(false, false, true))
    assert(HtmlReport.render(repo, uris(1)).contains("anomaly at"))
    assert(HtmlReport.render(repo, uris(2)).contains("within expectations"))
  }

  test("per-instance anchors: one section per column, nav + index deep links") {
    import spark.implicits._
    val repo = new InMemoryRepository()
    val uri = "ds://anchors"
    def day(i: Int) = java.sql.Timestamp.valueOf(f"2024-01-${i + 1}%02d 00:00:00")
    val rows = for {
      inst <- Seq("price", "qty")
      i <- 0 until 5
    } yield (day(i), "Column", inst, "Mean", i.toDouble)
    repo.addProfiling(uri, rows.toDF("ts", "entity", "instance", "name", "value"))
    repo.registerDataset(
      graft.core.DatasetMeta(uri, "ts", Seq("price", "qty"), "DAY", Seq.empty))
    val html = HtmlReport.render(repo, uri)
    // exactly one anchored section per instance
    for (inst <- Seq("price", "qty")) {
      val anchor = HtmlReport.instanceAnchor(inst)
      assert(
        s"""id="$anchor"""".r.findAllIn(html).size == 1,
        s"expected exactly one section anchor for $inst")
      // nav links to it
      assert(html.contains(s"""<a href="#$anchor">$inst</a>"""))
    }
    // anchors are md5-suffixed, so instances that sanitize identically
    // cannot collide
    assert(HtmlReport.instanceAnchor("a/b") != HtmlReport.instanceAnchor("a_b"))
    // the index deep-links every registered column to its anchor
    val idx = HtmlReport.renderIndex(repo)
    for (inst <- Seq("price", "qty")) {
      val anchor = HtmlReport.instanceAnchor(inst)
      assert(
        idx.contains(s"""href="${HtmlReport.slug(uri)}.html#$anchor""""),
        s"index missing deep link for $inst")
    }
  }

  test("a NaN point drops from the chart instead of blanking the whole series") {
    val ts = (1 to 3).map(i => java.sql.Timestamp.valueOf(f"2025-01-0$i 00:00:00"))
    val svg = HtmlReport.svgLine(
      Seq(ts(0) -> 1.0, ts(1) -> Double.NaN, ts(2) -> 3.0))
    assert(!svg.contains("NaN"), s"NaN leaked into the SVG: $svg")
    // the two finite points still render
    assert(svg.contains("polyline") || svg.contains("points="))
  }

  test("report degrades gracefully with no optimization or scoring") {
    val repo = new InMemoryRepository()
    val uri = "ds://bare"
    Service.profileCreate(
      SyntheticSeries.daily(spark, 5),
      uri,
      "ts",
      repo,
      ProfilingBuilder.simple
    )
    val html = HtmlReport.render(repo, uri)
    assert(html.contains("No optimization stored"))
    assert(html.contains("No scoring stored"))
  }

  test("funnel report renders stage table with shares and kept count") {
    import spark.implicits._
    val stats = graft.pipelines.Corpus.funnelStats(
      graft.pipelines.Corpus.prepareFunnel(
        Seq(
          (1L, Iterator.continually("the quick brown fox and a dog ran over hills").take(7).mkString(" ")),
          (2L, "short")
        ).toDF("doc_id", "text")
      )
    )
    val html = HtmlReport.renderFunnel(stats)
    assert(html.contains("2 documents in; 1 kept"))
    assert(html.contains("kept") && html.contains("too_short"))
    assert(html.contains("50.0%"))
    // reasons are HTML-escaped on the string-input path
    val crafted = HtmlReport.renderFunnel(Seq("<script>" -> 1L, "kept" -> 1L), "t")
    assert(!crafted.contains("<script>") && crafted.contains("&lt;script&gt;"))
  }

  test("a profileFunnel-fed dataset renders funnel trend charts") {
    import spark.implicits._
    val repo = new graft.repository.InMemoryRepository()
    val uri = "ds://funnel-trend"
    (1 to 3).foreach { d =>
      graft.service.Service.profileFunnel(
        ((1 to 70).map(_ => "kept") ++ (1 to 30).map(_ => "too_short")).toDF("drop_reason"),
        uri,
        java.sql.Timestamp.valueOf(s"2025-02-0$d 00:00:00"),
        repo
      )
    }
    val html = HtmlReport.render(repo, uri)
    // per-reason share/count series chart as any other profiled metric
    assert(html.contains("funnel"))
    assert(html.contains("share") && html.contains("n_docs"))
    assert(html.contains("too_short") && html.contains("kept"))
    assert(html.contains("<svg"), "expected trend charts for the funnel series")
  }
}
