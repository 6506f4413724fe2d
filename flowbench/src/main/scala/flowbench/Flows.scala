package flowbench

import graft.anomaly.{HoltLinear, HoltWinters, Models, Optimizer}
import graft.dedup.Dedup
import graft.pipelines.{Corpus, Export, Incremental}
import graft.quality.{AnomalousScore, NotificationHandler}
import graft.repository.ParquetRepository
import graft.service.Service
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import scala.collection.mutable

/** A flow call that threw. The cycle stops there: later calls depend on it. */
final class FlowFailed(call: String, cause: Throwable)
    extends RuntimeException(s"$call failed: $cause", cause)

/** What one cycle of a flow did: timed steps, flow calls attempted and
  * failed, and anything the checks or the per-layer report need.
  */
class Record {
  val steps = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  var attempted = 0
  var failed = 0

  def step(name: String, seconds: Double): Unit =
    steps.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += seconds

  /** Runs one public flow call; a failure is counted, kept and rethrown. */
  def call[T](name: String)(body: => T): T = {
    attempted += 1
    try body
    catch {
      case e: Throwable =>
        failed += 1
        throw new FlowFailed(name, e)
    }
  }
}

/** One workload: seeded inputs, the flow a user's job runs on them, and
  * the checks of its outputs against the planted truth.
  */
trait Flow {
  /** Writes the inputs under `dir`; returns their size in bytes. */
  def generate(dir: String): Long
  /** The planted truth, as recorded in the run output. */
  def plan: String
  /** Set-up before the measured cycles (timed into `setup_s`): warms
    * the JVM and Spark on the flow's plans, writing only under `work`.
    */
  def warmUp(input: String, work: String, rec: Record): Unit
  /** Untimed, before each measured cycle: readies the fresh `root`. */
  def prepare(work: String, root: String): Unit = ()
  /** One run of the flow over the inputs in `input`, writing under `root`. */
  def cycle(input: String, root: String, tr: Tracer, rec: Record): Unit
  /** The traced run's work on a fresh `root`: the cycle, plus whatever
    * set-up work a per-layer metric covers (inside "<flow>.setup" spans).
    */
  def tracedCycle(input: String, root: String, tr: Tracer, rec: Record): Unit = cycle(input, root, tr, rec)
  /** The step whose median latency is `step_s`. */
  def stepName: String
  /** Checks the outputs of a finished cycle; returns failed checks and reported figures. */
  def check(input: String, root: String): (Seq[String], Seq[(String, Double)])
}

object Flow {
  def apply(name: String, spark: SparkSession, seed: Long): Flow = name match {
    case "monitor_daily" => new MonitorDaily(spark, seed, measuredDays = 2)
    case "corpus_prepare" => new CorpusPrepare(spark, seed, docs = 2000)
    case "corpus_incremental" => new CorpusIncremental(spark, seed, docs = 12000, batches = 4)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }
}

/** Counts alerts per (day, column) instead of logging them. */
class CountingHandler extends NotificationHandler {
  val alerts = mutable.ArrayBuffer.empty[(java.sql.Timestamp, AnomalousScore)]
  def notify(datasetUri: String, ts: java.sql.Timestamp, anomalous: Seq[AnomalousScore]): Unit =
    synchronized(anomalous.foreach(a => alerts += ts -> a))
}

/** The daily job of a monitored dataset: per new day `Service.assessNewTs`
  * followed by `ParquetRepository.maintain`. Onboarding the dataset
  * (`Service.profileCreateOptimize` over the history, then the first new
  * day) is set-up: it runs once per run and warms both paths, and every
  * measured cycle starts from a copy of the repository it left.
  */
class MonitorDaily(spark: SparkSession, seed: Long, measuredDays: Int) extends Flow {
  // day 0 is onboarding's; an anomaly on each measured day
  val p: Gen.MonitorPlan =
    Gen.monitorPlan(seed, historyDays = 30, newDays = 1 + measuredDays, rowsPerDay = 500, nAnomalies = measuredDays)
  val uri = "flowbench://monitor_daily"
  /** `Models.default` plus the trend (Holt) and seasonal-trend
    * (Holt-Winters) fits: 8 models. `Models.extended` (17 models) makes
    * a cycle about 2.5x slower, too slow for the benchmark's run length.
    */
  val cfg: Optimizer.Config = Optimizer.Config(models = Models.default ++ Seq(HoltLinear(), HoltWinters()))
  val stepName = "assess_day"
  var handler = new CountingHandler
  def plan: String = p.json
  def generate(dir: String): Long = Gen.writeMonitor(spark, p, dir)

  private def onboard(input: String, root: String, tr: Tracer, rec: Record): Unit = {
    val (_, backfill) = Util.timed(rec.call("profile_create_optimize") {
      tr.span("service.profile_create_optimize") {
        val store = new ParquetRepository(spark, s"$root/repository")
        val repo = if (tr.on) new TracingRepository(store, tr) else store
        Service.profileCreateOptimize(spark.read.parquet(s"$input/history"), uri, "ts", repo, cfg = cfg)
      }
    })
    rec.step("backfill", backfill)
    assessDays(input, root, 0 until 1, tr, rec)
  }

  def warmUp(input: String, work: String, rec: Record): Unit = onboard(input, s"$work/onboarded", Tracer.off(spark), rec)

  override def prepare(work: String, root: String): Unit = Util.copyDir(s"$work/onboarded", root)

  def cycle(input: String, root: String, tr: Tracer, rec: Record): Unit = {
    handler = new CountingHandler
    assessDays(input, root, 1 to measuredDays, tr, rec)
  }

  override def tracedCycle(input: String, root: String, tr: Tracer, rec: Record): Unit = {
    tr.span("monitor_daily.setup")(onboard(input, root, tr, rec))
    cycle(input, root, tr, rec)
  }

  private def assessDays(input: String, root: String, days: Range, tr: Tracer, rec: Record): Unit = {
    val store = new ParquetRepository(spark, s"$root/repository")
    val repo = if (tr.on) new TracingRepository(store, tr) else store
    days.foreach { d =>
      val day = spark.read.parquet(Gen.monitorDayPath(input, d))
      val (_, s) = Util.timed {
        rec.call("assess_new_ts") {
          tr.span("service.assess_new_ts") {
            if (!tr.on) Service.assessNewTs(day, uri, "ts", repo, cfg = cfg, handlers = Seq(handler))
            else {
              // the three public calls assessNewTs is made of, spanned apart
              tr.span("service.profile_create")(Service.profileCreate(day, uri, "ts", repo))
              tr.span("service.score")(Service.score(uri, repo, cfg))
              tr.span("service.assess_quality")(Service.assessQuality(uri, repo, Seq(handler)))
            }
          }
        }
        // every day compacts: with a larger threshold whether a day
        // compacts would depend on file counts, and days would differ
        val compacted = rec.call("maintain")(tr.span("repository.maintain")(store.maintain(uri, maxFiles = 1)))
        if (compacted) rec.step("compaction", 1)
      }
      rec.step(stepName, s)
    }
  }

  def dayTs(d: Int): java.sql.Timestamp =
    new java.sql.Timestamp((Gen.startEpochSec + (p.historyDays + d).toLong * 86400L) * 1000L)

  def check(input: String, root: String): (Seq[String], Seq[(String, Double)]) = {
    val store = new ParquetRepository(spark, s"$root/repository")
    val failures = mutable.ArrayBuffer.empty[String]
    val profiled = store.getProfiling(uri).select("entity", "instance", "name").distinct().count()
    val opt = store.getOptimization(uri)
    val optRows = opt.count()
    if (profiled < 50) failures += s"only $profiled profiled series (need >= 50)"
    if (optRows != profiled) failures += s"$optRows optimization rows for $profiled profiled series"
    val live = opt.where(!col("optimization_failed")).count()
    val failedSeries = optRows - live
    val perDay = store.getScoring(uri).groupBy("ts").count().collect()
      .map(r => r.getTimestamp(0).getTime -> r.getLong(1)).toMap
    (0 until p.newDays).foreach { d =>
      val n = perDay.getOrElse(dayTs(d).getTime, 0L)
      if (n != live) failures += s"day $d: $n scoring rows for $live non-failed series"
    }
    val alerted = handler.alerts.map { case (ts, a) => (ts.getTime, a.instance) }.toSet
    p.anomalies.foreach { a =>
      if (!alerted((dayTs(a.day).getTime, a.column)))
        failures += s"planted ${a.kind} anomaly on day ${a.day} column ${a.column} raised no alert"
    }
    val planted = p.anomalies.map(a => (dayTs(a.day).getTime, a.column)).toSet
    val outside = handler.alerts.count { case (ts, a) => !planted((ts.getTime, a.instance)) }
    (failures.toSeq, Seq(
      "monitor.series" -> profiled.toDouble,
      "monitor.failed_series" -> failedSeries.toDouble,
      "monitor.alerts" -> handler.alerts.size.toDouble,
      "monitor.alerts_outside_planted" -> outside.toDouble))
  }
}

/** Corpus documents with planted categories: shared by both corpus flows. */
abstract class CorpusFlow(spark: SparkSession, seed: Long, docs: Int, batches: Int) extends Flow {
  val p: Gen.CorpusPlan = Gen.corpusPlan(seed, docs, batches)

  /** A small instance of the flow on other data: same plans, so the
    * measured cycles find Spark's code and the JIT warm.
    */
  protected def small(seed: Long): CorpusFlow

  def warmUp(input: String, work: String, rec: Record): Unit = {
    val warm = small(seed + 1000003L)
    warm.generate(s"$work/warm_input")
    warm.cycle(s"$work/warm_input", s"$work/warm", Tracer.off(spark), rec)
    Util.deleteDir(s"$work/warm_input")
    Util.deleteDir(s"$work/warm")
  }
  lazy val truth: Seq[Gen.Doc] = Gen.corpus(p)
  def plan: String = p.json
  def generate(dir: String): Long = Gen.writeCorpus(spark, truth, seed, dir)

  def idsOf(categories: String*): Set[Long] =
    truth.iterator.filter(d => categories.contains(d.category)).map(_.id).toSet

  /** A failure line for planted ids whose reason differs from
    * `expected` (a missing row counts), with the reasons they got.
    */
  def wrongReason(reasons: Map[Long, String], ids: Set[Long], category: String, expected: String): Option[String] = {
    val wrong = ids.toSeq.sorted.map(id => id -> reasons.getOrElse(id, "missing")).filter(_._2 != expected)
    if (wrong.isEmpty) None
    else Some(s"${wrong.size} planted $category documents not dropped as $expected (got " +
      wrong.groupBy(_._2).map { case (r, xs) => s"$r x${xs.size}" }.mkString(", ") +
      s"; first: doc ${wrong.head._1})")
  }
}

/** `Corpus.prepareFunnel` -> `Dedup.minhashDedup` on the kept rows ->
  * `Export.exportShards`, one lazy chain.
  */
class CorpusPrepare(spark: SparkSession, seed: Long, docs: Int) extends CorpusFlow(spark, seed, docs, batches = 1) {
  protected def small(seed: Long): CorpusFlow = new CorpusPrepare(spark, seed, docs = 500)
  val shards = 8
  val stepName = "chain"

  private def funnel(input: String) = Corpus.prepareFunnel(spark.read.parquet(Gen.corpusBatchPath(input, 0)))
  private def dedup(f: DataFrame) = Dedup.minhashDedup(f.where(col("kept")), "text", "doc_id")

  def cycle(input: String, root: String, tr: Tracer, rec: Record): Unit = {
    if (tr.on) {
      // noop-sink prefixes: the funnel alone, then funnel + dedup; the
      // full chain below adds the export
      val f = tr.span("pipelines.funnel_construct")(funnel(input))
      rec.call("prepare_funnel")(tr.span("pipelines.funnel")(f.write.format("noop").mode("overwrite").save()))
      rec.call("minhash_dedup")(tr.span("dedup.minhash_prefix") {
        tr.span("dedup.construct")(dedup(funnel(input))).write.format("noop").mode("overwrite").save()
      })
    }
    val (_, s) = Util.timed(rec.call("export_shards")(tr.span("pipelines.export_chain") {
      Export.exportShards(dedup(funnel(input)), "doc_id", s"$root/export", shards)
    }))
    rec.step(stepName, s)
  }

  def check(input: String, root: String): (Seq[String], Seq[(String, Double)]) = {
    val failures = mutable.ArrayBuffer.empty[String]
    val f = funnel(input).cache()
    try {
      val reasons = f.select("doc_id", "drop_reason").collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      Seq("exact_dup" -> "duplicate", "non_english" -> "non_english", "too_short" -> "too_short",
        "symbol_heavy" -> "symbol_ratio").foreach { case (cat, reason) =>
        failures ++= wrongReason(reasons, idsOf(cat), cat, reason)
      }
      val kept = f.where(col("kept")).count()
      val survivors = dedup(f).select("doc_id").collect().map(_.getLong(0)).toSet
      val exported = spark.read.parquet(s"$root/export")
      val exportedIds = exported.select("doc_id").collect().map(_.getLong(0))
      if (exportedIds.length != survivors.size)
        failures += s"${exportedIds.length} exported rows for ${survivors.size} dedup survivors"
      if (exportedIds.toSet != survivors) failures += "exported ids differ from the dedup survivors"
      // shard = floor(first 32 bits of md5("<id>:graft") * shards / 2^32)
      val misplaced = exported.where(
        floor(conv(substring(md5(concat(col("doc_id").cast("string"), lit(":graft"))), 1, 8), 16, 10)
          .cast("long") * lit(shards.toDouble) / lit(4294967296d)).cast("int") =!= col("shard")).count()
      if (misplaced > 0) failures += s"$misplaced exported rows outside their hash shard"
      val near = idsOf("near_dup").filter(id => reasons.get(id).contains("kept"))
      val removedNear = near.count(id => !survivors(id))
      (failures.toSeq, Seq(
        "corpus.docs" -> truth.size.toDouble,
        "pipelines.funnel_kept_frac" -> kept.toDouble / truth.size,
        "dedup.removed_frac" -> (kept - survivors.size).toDouble / kept,
        "dedup.planted_recall" -> (if (near.isEmpty) 1.0 else removedNear.toDouble / near.size),
        "pipelines.export_mb" -> Util.dirBytes(s"$root/export") / 1048576.0,
        "pipelines.export_files" -> Util.dataFiles(s"$root/export").toDouble))
    } finally f.unpersist(blocking = true)
  }
}

/** `Incremental.prepareBatch` per day with near-dup against prior
  * batches, then `preparedCorpus` and `compactState`.
  */
class CorpusIncremental(spark: SparkSession, seed: Long, docs: Int, batches: Int)
    extends CorpusFlow(spark, seed, docs, batches) {
  protected def small(seed: Long): CorpusFlow = new CorpusIncremental(spark, seed, docs = 800, batches = 2)
  val stepName = "prepare_batch"
  var prepared: (Long, Long) = (0L, 0L)

  def batchId(b: Int): String = f"day$b%02d"

  def cycle(input: String, root: String, tr: Tracer, rec: Record): Unit = {
    (0 until p.batches).foreach { b =>
      val docs = spark.read.parquet(Gen.corpusBatchPath(input, b))
      val (_, s) = Util.timed(rec.call("prepare_batch")(tr.span("pipelines.prepare_batch") {
        Incremental.prepareBatch(docs, root, batchId(b), nearDupThreshold = Some(0.5))
      }))
      rec.step(stepName, s)
      if (tr.on) {
        rec.step("resident_mb", Storage.residentMb(spark))
        rec.step("retained_mb", Storage.retainedMb(spark))
      }
    }
    val before = rec.call("prepared_corpus")(tr.span("pipelines.prepared_read")(Incremental.preparedCorpus(spark, root).count()))
    rec.call("compact_state")(tr.span("pipelines.compact_state")(Incremental.compactState(spark, root)))
    val after = rec.call("prepared_corpus")(tr.span("pipelines.prepared_read")(Incremental.preparedCorpus(spark, root).count()))
    prepared = (before, after)
  }

  def check(input: String, root: String): (Seq[String], Seq[(String, Double)]) = {
    val failures = mutable.ArrayBuffer.empty[String]
    val out = spark.read.parquet((0 until p.batches).map(b => s"$root/batches/batch=${batchId(b)}"): _*)
    val reasons = out.select("doc_id", "drop_reason").collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val keptRows = out.where(col("kept")).count()
    failures ++= wrongReason(reasons, idsOf("prior_exact"), "prior_exact", "duplicate_prior")
    if (prepared._1 != keptRows || prepared._2 != keptRows)
      failures += s"preparedCorpus ${prepared._1} before / ${prepared._2} after compactState; batches kept $keptRows"
    val near = idsOf("prior_near")
    val priorDropped = reasons.values.count(r => r == "duplicate_prior" || r == "near_duplicate_prior")
    (failures.toSeq, Seq(
      "corpus.docs" -> truth.size.toDouble,
      "pipelines.funnel_kept_frac" -> keptRows.toDouble / truth.size,
      "dedup.prior_dropped" -> priorDropped.toDouble,
      "dedup.prior_near_recall" ->
        (if (near.isEmpty) 1.0 else near.count(id => reasons.get(id).contains("near_duplicate_prior")).toDouble / near.size),
      "pipelines.state_mb" -> (Util.dirBytes(s"$root/fingerprints") + Util.dirBytes(s"$root/signatures")) / 1048576.0))
  }
}
