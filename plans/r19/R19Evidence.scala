package graft.service

import graft.SparkSpec
import graft.profiler.{Profiler, ProfilingBuilder}
import graft.repository.{InMemoryRepository, MetricsRepository, ParquetRepository}
import graft.testing.SyntheticSeries
import org.apache.spark.sql.execution.{FormattedMode, QueryExecution}
import org.apache.spark.sql.util.QueryExecutionListener

/** Evidence for plans/r19, not compiled with the library: job counts per
  * assessQuality call, its executed plan, edge-case outcomes and the
  * optimized plans of Profiler.profile.
  * Copy into src/test/scala/graft/service/ and run
  * `R19_OUT=<dir> sbt "testOnly graft.service.R19Evidence"`.
  */
class R19Evidence extends SparkSpec {
  import spark.implicits._
  private val out = sys.env("R19_OUT")
  private def write(name: String, text: String): Unit = {
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(out))
    java.nio.file.Files.writeString(java.nio.file.Paths.get(out, name), text)
  }

  test("evidence") {
    val sb = new StringBuilder
    // --- job counts on 5 days of a 40-day parquet history
    val dir = java.nio.file.Files.createTempDirectory("r19").toString
    val repo = new ParquetRepository(spark, s"$dir/repo")
    val all = SyntheticSeries.daily(spark, 45, noiseAmp = 0.02, anomalies = Map(42 -> 3.0))
      .withColumn("label", org.apache.spark.sql.functions.concat(org.apache.spark.sql.functions.lit("x"),
        (org.apache.spark.sql.functions.col("value") * 10).cast("int").cast("string")))
    all.write.parquet(s"$dir/all")
    val src = spark.read.parquet(s"$dir/all")
    val cut = src.orderBy("ts").select("ts").as[java.sql.Timestamp].collect()
    Service.profileCreateOptimize(src.where($"ts" < cut(40)), "ds://ev", "ts", repo, ProfilingBuilder.default)
    var lastPlan: QueryExecution = null
    val listener = new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, d: Long): Unit = if (f == "collect") lastPlan = qe
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    (40 until 45).foreach { d =>
      Service.profileCreate(src.where($"ts" === cut(d)), "ds://ev", "ts", repo, ProfilingBuilder.default)
      Service.score("ds://ev", repo)
      val jobs = new graft.tools.Harness.JobCounter(spark.sparkContext)
      spark.listenerManager.register(listener)
      val a = try Service.assessQuality("ds://ev", repo, handlers = Nil)
        finally { jobs.close(); spark.listenerManager.unregister(listener) }
      val alerts = a.anomalous.map(x => s"${x.instance}/${x.name}=${x.score}%${x.threshold}").sorted
      sb ++= s"day ${d - 40} ts=${a.ts} jobs=${jobs.count()} alerts=${alerts.size} ${alerts.mkString(";")}\n"
      if (d == 44) write("assess_executed_plan.txt", lastPlan.explainString(FormattedMode))
    }
    val jobs = new graft.tools.Harness.JobCounter(spark.sparkContext)
    val past = try Service.assessQuality("ds://ev", repo, handlers = Nil, ts = Some(cut(42)))
      finally jobs.close()
    sb ++= s"explicit ts=${past.ts} jobs=${jobs.count()} alerts=${past.anomalous.map(x => s"${x.instance}/${x.name}").sorted.mkString(";")}\n"
    write("assess_jobs.txt", sb.toString)

    // --- edge cases, both repositories
    val eb = new StringBuilder
    val t = java.sql.Timestamp.valueOf("2025-01-02 00:00:00")
    def opt(rows: (String, Option[String], Option[Double], Boolean)*) = rows
      .map { case (i, m, th, f) => ("Column", i, "Mean", m, th, th, f) }
      .toDF("entity", "instance", "name", "best_model", "threshold", "mean_error", "optimization_failed")
    def sc(ts: java.sql.Timestamp, rows: (String, Option[Double])*) = rows
      .map { case (i, s) => (ts, "Column", i, "Mean", 1.0, 1.0, s) }
      .toDF("ts", "entity", "instance", "name", "value", "predicted", "score")
    val ok = Some("TrailingMean-3")
    for ((rn, mk) <- Seq[(String, () => MetricsRepository)](
        "in-memory" -> (() => new InMemoryRepository()),
        "parquet" -> (() => new ParquetRepository(spark, java.nio.file.Files.createTempDirectory("r19e").toString)))) {
      val r = mk()
      def show(label: String, uri: String, ts: Option[java.sql.Timestamp] = None): Unit = {
        val a = Service.assessQuality(uri, r, handlers = Nil, ts = ts)
        eb ++= s"[$rn] $label: ts=${a.ts} alerts=${a.anomalous.map(x => s"${x.entity}/${x.instance}/${x.name}=${x.score}%${x.threshold}").sorted.mkString(";")}\n"
      }
      show("empty repository", "ds://empty")
      r.addScoring("ds://noopt", sc(t, "a" -> Some(0.5)))
      show("scoring without optimization", "ds://noopt")
      r.addOptimization("ds://failed", opt(("a", None, None, true), ("b", ok, Some(0.2), false)))
      show("failed optimization, no scoring", "ds://failed")
      r.addOptimization("ds://orphan", opt(("a", ok, Some(0.2), false)))
      r.addScoring("ds://orphan", sc(t, "a" -> Some(0.01), "orphan" -> Some(0.9)))
      show("scored series without optimization row", "ds://orphan")
      r.addOptimization("ds://nulls", opt(("a", None, None, true), ("b", ok, Some(0.2), false)))
      r.addScoring("ds://nulls", sc(t, "a" -> None, "b" -> Some(0.01)))
      show("NULL score and NULL threshold", "ds://nulls")
      val t0 = java.sql.Timestamp.valueOf("2025-01-01 00:00:00")
      r.addOptimization("ds://past", opt(("a", ok, Some(0.2), false), ("f", None, None, true)))
      r.addScoring("ds://past", sc(t0, "a" -> Some(0.5)).unionByName(sc(t, "a" -> Some(0.01))))
      show("past ts", "ds://past", Some(t0))
      show("ts before all data", "ds://past", Some(java.sql.Timestamp.valueOf("2020-01-01 00:00:00")))
    }
    write("assess_edge_cases.txt", eb.toString)

    // --- Profiler.profile optimized plans, expression ids normalized
    val pb = new StringBuilder
    for ((bn, b) <- Seq("simple" -> ProfilingBuilder.simple, "default" -> ProfilingBuilder.default,
        "extended" -> ProfilingBuilder.extended, "sketch" -> ProfilingBuilder.sketch)) {
      val plan = Profiler.profile(src, "ts", b).queryExecution.optimizedPlan.toString
      pb ++= s"==== $bn\n" + plan.replace(dir, "<dir>").replaceAll("#\\d+L?", "#_") + "\n"
    }
    write("profile_optimized_plans.txt", pb.toString)
  }
}
