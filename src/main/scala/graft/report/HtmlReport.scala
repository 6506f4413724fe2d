package graft.report

import graft.quality.Quality
import graft.repository.MetricsRepository
import graft.service.Service
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Static HTML report over a dataset's stored metrics, optimizations
  * and scores — the server-less equivalent of the reference's
  * Streamlit dashboard (ui.py:97-294: profiling charts per instance,
  * optimization summary with best model + threshold, scoring view with
  * per-metric anomaly flags).
  *
  * Rendering is DRIVER-side by design: the inputs are the repository's
  * per-dataset aggregates (days x metrics — already small; the same
  * frames the reference UI loads into browser memory), capped at
  * `maxPointsPerSeries` newest points per series and `maxSeries`
  * series. Charts are inline SVG — the report is one self-contained
  * file with zero external assets, viewable anywhere.
  */
object HtmlReport {

  /** NULL-ts rows are a supported metric key (the repositories'
    * null-safe upserts exist for them) — order them first instead of
    * NPEing the whole report on `.getTime`.
    */
  private def tsKey(t: java.sql.Timestamp): Long =
    if (t == null) Long.MinValue else t.getTime

  private def esc(s: String): String =
    s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;").replace("\"", "&quot;")

  /** Inline SVG line chart; `threshold` draws a dashed red rule at that
    * y (scores view). Points arrive oldest-first.
    */
  private[report] def svgLine(
      points0: Seq[(java.sql.Timestamp, Double)],
      threshold: Option[Double] = None,
      w: Int = 560,
      h: Int = 120
  ): String = {
    // NaN points (unscorable days) are dropped from both the extent
    // and the polyline — one NaN in vals.max would otherwise poison
    // lo/hi and blank the ENTIRE chart instead of just that point
    val points = points0.filterNot(_._2.isNaN)
    val vals = points.map(_._2) ++ threshold.toSeq
    if (points.isEmpty) return "<svg class='chart' width='560' height='24'></svg>"
    val (lo0, hi0) = (vals.min, vals.max)
    val pad = math.max((hi0 - lo0) * 0.08, 1e-9)
    val (lo, hi) = (lo0 - pad, hi0 + pad)
    def x(i: Int) = if (points.size == 1) w / 2.0 else i.toDouble * (w - 20) / (points.size - 1) + 10
    def y(v: Double) = h - 10 - (v - lo) / (hi - lo) * (h - 20)
    val path = points.zipWithIndex
      .map { case ((_, v), i) => f"${x(i)}%.1f,${y(v)}%.1f" }
      .mkString(" ")
    val rule = threshold
      .map(t =>
        f"""<line x1="10" y1="${y(t)}%.1f" x2="${w - 10}" y2="${y(t)}%.1f"
            stroke="#c0392b" stroke-dasharray="4,3"/>""")
      .getOrElse("")
    val labels =
      f"""<text x="2" y="12" class="axis">${hi0}%.4g</text>
          <text x="2" y="${h - 2}" class="axis">${lo0}%.4g</text>"""
    s"""<svg class="chart" width="$w" height="$h" viewBox="0 0 $w $h">
        <polyline fill="none" stroke="#2c6e91" stroke-width="1.5" points="$path"/>
        $rule$labels</svg>"""
  }

  /** Apply the report's caps BEFORE collecting: keep the newest
    * `maxPointsPerSeries` rows per (entity, instance, name) series and
    * at most `maxSeries` series (first in key order) — a years-long
    * history with many series must never reach the driver whole.
    * Runs as a window + a broadcast semi-join on the limited key set.
    */
  private def cappedSeries(df: DataFrame, maxPointsPerSeries: Int, maxSeries: Int): Array[Row] = {
    val keys = df
      .select("entity", "instance", "name")
      .distinct()
      .orderBy("entity", "instance", "name")
      .limit(maxSeries)
    df.withColumn("_rn", row_number().over(newestPerSeries))
      .where(col("_rn") <= maxPointsPerSeries)
      .drop("_rn")
      .join(broadcast(keys), Seq("entity", "instance", "name"), "left_semi")
      .collect()
  }

  /** Each metric series' rows, newest first. */
  private def newestPerSeries =
    Window.partitionBy(Service.seriesCols.map(col): _*).orderBy(col("ts").desc)

  /** The newest row of each metric series in `df`. */
  private def newest(df: DataFrame): DataFrame =
    df.withColumn("_rn", row_number().over(newestPerSeries)).where(col("_rn") === 1)

  /** The series `assessQuality`'s rule ([[Quality.verdicts]]) flags on
    * their NEWEST stored score: breached, NULL-scored and
    * NULL-threshold series, and failed-optimization series with no
    * score.
    */
  private def anomalousSeries(repo: MetricsRepository, uri: String): DataFrame =
    Quality
      .verdicts(repo.getOptimization(uri), newest(repo.getScoring(uri)), Service.seriesCols)
      .where(col("is_anomalous"))

  /** Per-series thresholds from stored optimization rows, for the
    * charts' threshold rules. Failed-optimization rows carry NULL
    * thresholds — they must not unbox to 0.0 (a rule drawn at zero).
    */
  private def thresholdMap(optimization: Seq[Row]): Map[(String, String, String), Double] =
    optimization.flatMap { r =>
      val i = r.fieldIndex("threshold")
      if (r.isNullAt(i)) None
      else
        Some(
          (r.getAs[String]("entity"), r.getAs[String]("instance"), r.getAs[String]("name")) ->
            r.getDouble(i)
        )
    }.toMap

  /** Render the full report HTML for one dataset. */
  def render(
      repo: MetricsRepository,
      datasetUri: String,
      maxPointsPerSeries: Int = 500,
      maxSeries: Int = 200
  ): String = {
    val meta = repo.getDataset(datasetUri)
    // NULL metric values (e.g. skewness of a constant column) are
    // dropped from the series rather than unboxed to 0.0.
    // Derived `_trend_z` verdict series are split off BEFORE the
    // maxSeries cap — otherwise they would consume chart-series slots
    // and a base/trend pair straddling the cap boundary would lose its
    // badge while the verdict exists in the store.
    val stored = repo.getProfiling(datasetUri).where(col("value").isNotNull)
    // ALL derived suffixes split off — a `_trend_thinned` flag series
    // must not chart as a base metric any more than the z series does
    val isDerived = Service.derivedSuffixes
      .map(s => col("name").endsWith(s))
      .reduce(_ || _)
    val isTrend = col("name").endsWith(Service.trendSuffix)
    val baseSeries = cappedSeries(
      stored.where(!isDerived),
      maxPointsPerSeries,
      maxSeries
    )
      .map(r =>
        (
          (r.getAs[String]("entity"), r.getAs[String]("instance"), r.getAs[String]("name")),
          (r.getAs[java.sql.Timestamp]("ts"), r.getAs[Double]("value"))
        ))
      .groupBy(_._1)
      .view
      .mapValues(_.map(_._2).toSeq.sortBy(p => tsKey(p._1)))
      .toSeq
      .sortBy(_._1)
    // one NEWEST row per assessed series (|series|-bounded via the
    // same key cap, in the same key order as the base charts)
    val trendRows = cappedSeries(stored.where(isTrend), 1, maxSeries)
    val thinnedRows = cappedSeries(
      stored.where(
        col("name").endsWith(Service.trendThinnedSuffix)
      ),
      1,
      maxSeries
    )

    // absence is an EMPTY DataFrame from both repository impls — a
    // read failure must propagate, not render as "no data stored"
    // one row per series — capped to the same first-maxSeries key
    // window the charts use, so thresholds stay aligned with them
    val optimization = repo
      .getOptimization(datasetUri)
      .orderBy("entity", "instance", "name")
      .limit(maxSeries)
      .collect()
      .toSeq

    val scoring = cappedSeries(repo.getScoring(datasetUri), maxPointsPerSeries, maxSeries).toSeq

    val thresholds = thresholdMap(optimization)
    val flagged = anomalousSeries(repo, datasetUri)
      .select(Service.seriesCols.map(col): _*)
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2)))
      .toSet

    val metaHtml = meta
      .map(m => s"""<ul>
        <li>ts column: <code>${esc(m.tsColumn)}</code></li>
        <li>granularity: <code>${esc(m.granularity)}</code></li>
        <li>columns: ${m.columns.map(c => s"<code>${esc(c)}</code>").mkString(", ")}</li>
        <li>${m.metrics.size} registered metrics</li></ul>""")
      .getOrElse("<p>(no registered metadata)</p>")

    // Trend verdicts ride the profiling store as `<name>_trend_z`
    // series (Service.assessTrend): they render as badges on their
    // BASE series' charts plus a dedicated assessment table, not as
    // charts of z-scores.
    val trendZ: Map[(String, String, String), Double] = trendRows.map { r =>
      (
        r.getAs[String]("entity"),
        r.getAs[String]("instance"),
        r.getAs[String]("name")
          .stripSuffix(Service.trendSuffix)
      ) -> r.getAs[Double]("value")
    }.toMap
    // which verdicts were computed on a thinned (approximated) history
    val trendThinned: Set[(String, String, String)] = thinnedRows.collect {
      case r if r.getAs[Double]("value") > 0 =>
        (
          r.getAs[String]("entity"),
          r.getAs[String]("instance"),
          r.getAs[String]("name")
            .stripSuffix(Service.trendThinnedSuffix)
        )
    }.toSet
    def thinnedMark(key: (String, String, String)): String =
      if (trendThinned(key))
        """ <span class="trend na" title="statistic computed on a thinned series">≈ thinned</span>"""
      else ""
    def trendBadge(key: (String, String, String)): String =
      trendZ
        .get(key)
        .map { z =>
          val b =
            if (z > 1.96) f"""<span class="trend alert">↗ increasing (z=$z%.2f)</span>"""
            else if (z < -1.96) f"""<span class="trend alert">↘ decreasing (z=$z%.2f)</span>"""
            else f"""<span class="trend ok">→ stable (z=$z%.2f)</span>"""
          b + thinnedMark(key)
        }
        .getOrElse("")

    // Per-instance drill-down — the static equivalent of the reference
    // dashboard's selected_instances multiselect (ui.py:97-123): every
    // instance (column) gets its own anchored section and the nav at
    // the top filters by a click instead of a widget.
    val instances = baseSeries.map(_._1._2).distinct.sorted
    val instanceNav =
      if (instances.isEmpty) ""
      else
        s"""<nav class="instances"><b>columns:</b> ${instances
            .map(i => s"""<a href="#${instanceAnchor(i)}">${esc(i)}</a>""")
            .mkString(" · ")}</nav>"""

    val profilingHtml = instances
      .map { inst =>
        val charts = baseSeries
          .filter(_._1._2 == inst)
          .map { case (key @ (entity, instance, name), pts) =>
            s"""<div class="metric"><h4>${esc(entity)} / ${esc(instance)} / ${esc(name)}
                ${trendBadge(key)}</h4>
                ${svgLine(pts)}
                <p class="stats">n=${pts.size} last=${pts.lastOption.map(_._2).getOrElse(Double.NaN)}</p></div>"""
          }
          .mkString("\n")
        s"""<section id="${instanceAnchor(inst)}">
            <h3>column <code>${esc(inst)}</code>
              <a class="mini" href="#scoring-${instanceAnchor(inst)}">scores ↓</a></h3>
            $charts
            <p class="stats"><a href="#top">↑ all columns</a></p></section>"""
      }
      .mkString("\n")

    // Trend assessment table — the report face of Service.assessTrend
    // (the reference dashboard surfaces its full assessment set;
    // ui.py:97-294): one row per assessed base series, latest stored
    // Mann-Kendall z, verdict at the standard ±1.96 threshold.
    val trendHtml =
      if (trendZ.isEmpty) "<p>⚠ No trend assessment stored for this dataset.</p>"
      else {
        val rows = trendZ.toSeq.sortBy(_._1).map { case (key @ (e, i, n), z) =>
          val verdict =
            if (z > 1.96) """<span class="alert">↗ increasing</span>"""
            else if (z < -1.96) """<span class="alert">↘ decreasing</span>"""
            else """<span class="ok">→ stable</span>"""
          val basis = if (trendThinned(key)) "≈ thinned" else "full"
          f"""<tr><td>${esc(e)}</td><td>${esc(i)}</td><td>${esc(n)}</td>
              <td>$z%.3f</td><td>$verdict</td><td>$basis</td></tr>"""
        }
        s"""<table><tr><th>entity</th><th>instance</th><th>metric</th>
            <th>latest z</th><th>trend</th><th>basis</th></tr>${rows.mkString("\n")}</table>"""
      }

    val optHtml =
      if (optimization.isEmpty) "<p>⚠ No optimization stored for this dataset.</p>"
      else {
        val rows = optimization
          .map { r =>
            val failed = r.getAs[Boolean]("optimization_failed")
            val cls = if (failed) " class=\"failed\"" else ""
            def cell(name: String) =
              if (r.isNullAt(r.fieldIndex(name))) "—" else r.getAs[Any](name).toString
            s"""<tr$cls><td>${esc(r.getAs[String]("instance"))}</td>
              <td>${esc(r.getAs[String]("name"))}</td>
              <td><code>${Option(r.getAs[String]("best_model")).map(esc).getOrElse("—")}</code></td>
              <td>${cell("threshold")}</td>
              <td>${cell("mean_error")}</td>
              <td>${if (failed) "FAILED" else "ok"}</td></tr>"""
          }
          .mkString("\n")
        s"""<table><tr><th>instance</th><th>metric</th><th>best model</th>
            <th>threshold</th><th>mean error</th><th>status</th></tr>$rows</table>"""
      }

    val scoringBySeries = scoring
      .map { r =>
        // an unscorable (NULL) score renders as NaN
        val si = r.fieldIndex("score")
        (
          (r.getAs[String]("entity"), r.getAs[String]("instance"), r.getAs[String]("name")),
          (r.getAs[java.sql.Timestamp]("ts"), if (r.isNullAt(si)) Double.NaN else r.getDouble(si))
        )
      }
      .groupBy(_._1)
      .view
      .mapValues(_.map(_._2).sortBy(p => tsKey(p._1)))
      .toSeq
      .sortBy(_._1)

    val scoringHtml =
      if (scoringBySeries.isEmpty) "<p>⚠ No scoring stored for this dataset.</p>"
      else
        scoringBySeries
          .map(_._1._2)
          .distinct
          .sorted
          .map { inst =>
            val divs = scoringBySeries
              .filter(_._1._2 == inst)
              .map { case (key @ (entity, instance, name), pts) =>
                val t = thresholds.get(key)
                val (lastTs, lastScore) = pts.last
                val flag =
                  if (flagged(key))
                    s"""<p class="alert">🔴 anomaly at $lastTs (score=$lastScore)</p>"""
                  else s"""<p class="ok">🟢 $lastTs within expectations (score=$lastScore)</p>"""
                s"""<div class="metric"><h4>${esc(entity)} / ${esc(instance)} / ${esc(name)}
                    ${t.map(v => f"(threshold $v%.3f)").getOrElse("")}</h4>
                    $flag${svgLine(pts, threshold = t)}</div>"""
              }
              .mkString("\n")
            s"""<section id="scoring-${instanceAnchor(inst)}">$divs</section>"""
          }
          .mkString("\n")

    s"""<!DOCTYPE html><html><head><meta charset="utf-8">
      <title>graft report — ${esc(datasetUri)}</title>
      <style>
        body { font-family: sans-serif; margin: 2em; max-width: 72em; }
        h2 { border-bottom: 1px solid #ccc; padding-bottom: 4px; }
        table { border-collapse: collapse; } td, th { border: 1px solid #ccc; padding: 4px 8px; }
        tr.failed { background: #fdecea; }
        .alert { color: #c0392b; font-weight: bold; } .ok { color: #1e8449; }
        .metric { margin-bottom: 1em; } .stats, .axis { color: #666; font-size: 11px; }
        nav.instances a { margin-right: 2px; } .mini { font-size: 11px; font-weight: normal; }
        .trend { font-size: 12px; margin-left: 6px; }
        .na { color: #666; }
      </style></head><body>
      <h1 id="top">graft quality report</h1>
      <h2>Dataset <code>${esc(datasetUri)}</code></h2>$metaHtml
      $instanceNav
      <h2>Profiling metrics</h2>$profilingHtml
      <h2>Trend assessment</h2>$trendHtml
      <h2>Anomaly optimization</h2>$optHtml
      <h2>Anomaly scoring</h2>$scoringHtml
      </body></html>"""
  }

  /** Render and write the report; returns the written path. */
  def write(
      repo: MetricsRepository,
      datasetUri: String,
      path: String,
      maxPointsPerSeries: Int = 500,
      maxSeries: Int = 200
  ): java.nio.file.Path = {
    val p = java.nio.file.Paths.get(path)
    Option(p.getParent).foreach(java.nio.file.Files.createDirectories(_))
    java.nio.file.Files.writeString(p, render(repo, datasetUri, maxPointsPerSeries, maxSeries))
    p
  }

  /** Filesystem-safe per-dataset report filename stem. The sanitized
    * uri is suffixed with 8 hex chars of its md5 so distinct uris that
    * sanitize identically ("ds://a/b" vs "ds://a_b") can never clobber
    * each other's report file.
    */
  private[report] def slug(uri: String): String = {
    val digest = java.security.MessageDigest
      .getInstance("MD5")
      .digest(uri.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val hex = digest.take(4).map(b => f"$b%02x").mkString
    s"${uri.replaceAll("[^A-Za-z0-9._-]", "_")}-$hex"
  }

  /** Stable per-instance (column) anchor id inside a dataset report —
    * shared by the report's own nav and the index page's deep links.
    */
  private[report] def instanceAnchor(instance: String): String = s"inst-${slug(instance)}"

  /** Standalone corpus-funnel loss report: one self-contained page for
    * a [[graft.pipelines.Corpus.funnelStats]] result — stage table
    * (docs, share) plus proportional loss bars, "kept" highlighted.
    * Input is the already-aggregated stats (one row per drop reason,
    * bounded by the funnel's reason vocabulary), so rendering is
    * driver-side string work over a handful of rows.
    */
  def renderFunnel(
      stats: Seq[(String, Long)],
      title: String = "Corpus funnel"
  ): String = {
    val total = stats.map(_._2).sum.max(1L)
    val rows = stats.sortBy { case (r, n) => (if (r == "kept") 0 else 1, -n) }
    val trs = rows
      .map { case (reason, n) =>
        val pct = 100.0 * n / total
        val cls = if (reason == "kept") "ok" else ""
        f"""<tr><td class="$cls">${esc(reason)}</td><td style="text-align:right">$n</td>
           |<td style="text-align:right">$pct%.1f%%</td>
           |<td><div style="background:${if (reason == "kept") "#1e8449" else "#c0392b"};height:10px;width:${math.max(1, (pct * 3).toInt)}px"></div></td></tr>""".stripMargin
      }
      .mkString("\n")
    s"""<!DOCTYPE html><html><head><meta charset="utf-8"><title>${esc(title)}</title>
       |<style>
       |  body { font-family: sans-serif; margin: 2em; max-width: 72em; }
       |  h2 { border-bottom: 1px solid #ccc; padding-bottom: 4px; }
       |  table { border-collapse: collapse; } td, th { border: 1px solid #ccc; padding: 4px 8px; }
       |  .ok { color: #1e8449; font-weight: bold; }
       |</style></head><body>
       |<h2>${esc(title)}</h2>
       |<p>$total documents in; ${rows.collectFirst { case ("kept", n) => n }.getOrElse(0L)} kept.</p>
       |<table><tr><th>stage</th><th>docs</th><th>share</th><th></th></tr>
       |$trs
       |</table></body></html>""".stripMargin
  }

  /** [[renderFunnel]] over the funnelStats DataFrame (collects one row
    * per drop reason — bounded by construction).
    */
  def renderFunnel(stats: org.apache.spark.sql.DataFrame): String =
    renderFunnel(
      stats.collect().toSeq.map(r => (r.getString(0), r.getLong(1))),
      "Corpus funnel"
    )

  /** Index page across every registered dataset — the server-less
    * equivalent of the reference dashboard's home page (ui.py:311
    * `home_page`: dataset browser with per-dataset health at a
    * glance). One row per dataset: granularity, registered metric
    * count, scored series count, newest scored timestamp, and a
    * health badge, linking to the per-dataset report file. The badge
    * applies `assessQuality`'s rule ([[Quality.verdicts]]) to each
    * series' NEWEST score: a breached, NULL-scored or NULL-threshold
    * series flags the dataset, and so does a failed-optimization
    * series with no score.
    *
    * Work per dataset is the same driver-side aggregate reads `render`
    * does (small by contract): only the newest score per series is
    * collected, and the flagged series are counted.
    */
  def renderIndex(
      repo: MetricsRepository,
      reportHref: String => String = u => s"${slug(u)}.html"
  ): String = {
    val datasets = repo.listDatasets().sortBy(_.uri)
    val rows = datasets.map { m =>
      val latest = newest(repo.getScoring(m.uri)).collect()
      val anomalous = anomalousSeries(repo, m.uri).count()
      val lastTs =
        latest.map(_.getAs[java.sql.Timestamp]("ts")).sortBy(tsKey).lastOption
      val badge =
        if (latest.isEmpty) """<span class="na">no scoring</span>"""
        else if (anomalous > 0) s"""<span class="alert">🔴 $anomalous anomalous</span>"""
        else """<span class="ok">🟢 healthy</span>"""
      // Trend column: newest stored `_trend_z` per series (same
      // window-cap read as scoring), significant = |z| > 1.96
      val latestTrend = newest(
        repo
          .getProfiling(m.uri)
          .where(col("name").endsWith(Service.trendSuffix) && col("value").isNotNull)
      ).collect()
      val trending = latestTrend.count(r => math.abs(r.getAs[Double]("value")) > 1.96)
      val trendCell =
        if (latestTrend.isEmpty) """<span class="na">—</span>"""
        else if (trending > 0) s"""<span class="alert">↗ $trending trending</span>"""
        else """<span class="ok">→ stable</span>"""
      // per-column deep links into the report's instance anchors — the
      // index-level face of the selected_instances drill-down
      val colLinks = {
        val shown = m.columns.take(12).map { c =>
          s"""<a href="${esc(reportHref(m.uri))}#${instanceAnchor(c)}">${esc(c)}</a>"""
        }
        val more =
          if (m.columns.size > 12) s""" <span class="na">+${m.columns.size - 12} more</span>"""
          else ""
        shown.mkString(", ") + more
      }
      s"""<tr><td><a href="${esc(reportHref(m.uri))}"><code>${esc(m.uri)}</code></a></td>
          <td>${esc(m.granularity)}</td><td>${m.metrics.size}</td><td>$colLinks</td>
          <td>${latest.length}</td>
          <td>${lastTs.map(t => esc(t.toString)).getOrElse("—")}</td><td>$badge</td>
          <td>$trendCell</td></tr>"""
    }
    val table =
      if (rows.isEmpty) "<p>⚠ No datasets registered in this repository.</p>"
      else
        s"""<table><tr><th>dataset</th><th>granularity</th><th>metrics</th><th>columns</th>
            <th>series scored</th><th>latest score ts</th><th>health</th><th>trend</th></tr>
            ${rows.mkString("\n")}</table>"""
    s"""<!DOCTYPE html><html><head><meta charset="utf-8">
      <title>graft reports — datasets</title>
      <style>
        body { font-family: sans-serif; margin: 2em; max-width: 72em; }
        table { border-collapse: collapse; } td, th { border: 1px solid #ccc; padding: 4px 8px; }
        .alert { color: #c0392b; font-weight: bold; } .ok { color: #1e8449; }
        .na { color: #666; }
      </style></head><body>
      <h1>graft quality reports</h1>
      <p>${datasets.size} dataset${if (datasets.size == 1) "" else "s"}</p>
      $table
      </body></html>"""
  }

  /** Write the dataset index plus one report per registered dataset
    * into `dir` (index.html + `slug(uri)`.html each); returns index
    * first, then the per-dataset paths in uri order.
    */
  def writeAll(
      repo: MetricsRepository,
      dir: String,
      maxPointsPerSeries: Int = 500,
      maxSeries: Int = 200
  ): Seq[java.nio.file.Path] = {
    val dirP = java.nio.file.Paths.get(dir)
    java.nio.file.Files.createDirectories(dirP)
    val pages = repo.listDatasets().sortBy(_.uri).map { m =>
      write(
        repo,
        m.uri,
        dirP.resolve(s"${slug(m.uri)}.html").toString,
        maxPointsPerSeries,
        maxSeries)
    }
    val idx = dirP.resolve("index.html")
    java.nio.file.Files.writeString(idx, renderIndex(repo))
    idx +: pages
  }
}
