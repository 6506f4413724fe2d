package flowbench

import java.lang.management.ManagementFactory

import graft.LocalSession
import org.apache.spark.FlowBenchBridge
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import scala.collection.mutable

/** Entry point: `--workload <name> --seed <n> --seconds <s> --trace <0|1> --work <dir>`.
  *
  * Set-up (session start, three seeded input generations of which the
  * median counts, and the flow's warm-up) is timed as `setup_s`. Then
  * whole cycles of the flow run until `--seconds` have passed. With `--trace 1` the run instead measures
  * one untraced cycle and one traced cycle and reports per-layer
  * figures. The outputs of the last cycle are checked against the
  * planted truth; a failed check or flow call makes the exit code 1.
  * The last stdout line is the JSON result.
  */
object Main {

  private def arg(args: Array[String], name: String): String = {
    val i = args.indexOf(s"--$name")
    require(i >= 0 && i + 1 < args.length, s"missing --$name")
    args(i + 1)
  }

  def main(args: Array[String]): Unit = {
    val workload = arg(args, "workload")
    val seed = arg(args, "seed").toLong
    val seconds = arg(args, "seconds").toDouble
    val trace = arg(args, "trace") == "1"
    val work = arg(args, "work")

    val spark = LocalSession.create("ERROR")
    val sessionS = (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    Storage.install(spark)
    val code =
      try run(spark, workload, seed, seconds, trace, work, sessionS)
      catch {
        // the harness itself broke (not a flow call): no result line
        case e: Throwable =>
          e.printStackTrace()
          out(s"error $e")
          1
      } finally spark.stop()
    sys.exit(code)
  }

  private def out(line: String): Unit = { println(line); Console.flush() }

  private def run(spark: SparkSession, workload: String, seed: Long, seconds: Double, trace: Boolean,
      work: String, sessionS: Double): Int = {
    val flow = Flow(workload, spark, seed)
    out(s"plan $workload ${flow.plan}")

    val warmRec = new Record
    val recs = mutable.ArrayBuffer.empty[Record]
    val tracedRec = new Record
    try {
      // --- set-up ---------------------------------------------------------
      val gens = (0 until 3).map(k => Util.timed(flow.generate(s"$work/input_$k")))
      val generatedBytes = gens.head._1
      val input = s"$work/input_0"
      (1 until 3).foreach(k => Util.deleteDir(s"$work/input_$k"))
      val (_, warmS) = Util.timed(flow.warmUp(input, work, warmRec))
      val setupS = sessionS + Util.median(gens.map(_._2)) + warmS

      // --- measured cycles -------------------------------------------------
      val walls = mutable.ArrayBuffer.empty[Double]
      val cpus = mutable.ArrayBuffer.empty[Double]
      def untracedCycle(k: Int): String = {
        val root = s"$work/cycle_$k"
        val rec = new Record
        recs += rec
        flow.prepare(work, root)
        val cpu0 = Util.processCpuSeconds()
        val (_, wall) = Util.timed(flow.cycle(input, root, Tracer.off(spark), rec))
        walls += wall
        cpus += Util.processCpuSeconds() - cpu0
        root
      }
      val t0 = System.nanoTime()
      var root = untracedCycle(0)
      if (!trace) {
        var k = 1
        while (Util.seconds(t0, System.nanoTime()) < seconds) {
          Util.deleteDir(root)
          root = untracedCycle(k)
          k += 1
        }
      }
      val (retainedMb, retainedS) = Util.timed(Storage.retainedMb(spark))

      val ((failures, flowFigures), checkS) = Util.timed(flow.check(input, root))
      val figures = flowFigures ++ Seq("setup.session_s" -> sessionS, "setup.generate_s" -> Util.median(gens.map(_._2)),
        "setup.warm_s" -> warmS, "check_s" -> checkS, "retained_measure_s" -> retainedS)
      val (traceFailures, layer) =
        if (trace) {
          Util.deleteDir(root)
          traced(spark, flow, input, s"$work/traced", walls.head, generatedBytes, tracedRec, figures)
        } else (Nil, Nil)
      val allFailures = failures ++ traceFailures

      // --- report ---------------------------------------------------------
      val attempted = (recs :+ tracedRec).map(_.attempted).sum
      val failed = (recs :+ tracedRec).map(_.failed).sum
      figures.foreach { case (k, v) => out(f"figure $k $v%.6f") }
      allFailures.foreach(f => out(s"check FAILED: $f"))
      val steps = recs.flatMap(_.steps.getOrElse(flow.stepName, Nil)).toSeq
      def line(name: String, v: Double, unit: String, n: Int): Unit = out(f"metric $name $v%.6f $unit n=$n")
      line("setup_s", setupS, "s", 3)
      line("wall_s", Util.median(walls.toSeq), "s", walls.size)
      line("cpu_s", Util.median(cpus.toSeq), "s", cpus.size)
      line("step_s", Util.median(steps), "s", steps.size)
      line("retained_block_mb", retainedMb, "MB", 1)
      line("failed_frac", failed.toDouble / math.max(attempted, 1), "ratio", attempted)
      flowMetrics(flow, warmRec, recs.toSeq).foreach { case (n, v, u, c) => line(n, v, u, c) }

      val correct = allFailures.isEmpty && failed == 0
      val metrics: Seq[(String, Double, String)] =
        if (trace) layer.map { case (k, v) => (k, v, unitOf(k)) }
        else Seq(
          ("setup_s", setupS, "s"),
          ("wall_s", Util.median(walls.toSeq), "s"),
          ("cpu_s", Util.median(cpus.toSeq), "s"),
          ("step_s", Util.median(steps), "s"))
      out(f"figure uptime_s ${ManagementFactory.getRuntimeMXBean.getUptime / 1e3}%.3f")
      out(result(correct, attempted, failed, metrics))
      if (correct) 0 else 1
    } catch {
      case e: FlowFailed =>
        // the flow call is counted as failed; later calls depended on it
        out(s"error ${e.getMessage}")
        val all = warmRec +: recs.toSeq :+ tracedRec
        out(result(correct = false, all.map(_.attempted).sum, all.map(_.failed).sum, Nil))
        1
    }
  }

  private def result(correct: Boolean, attempted: Int, failed: Int, metrics: Seq[(String, Double, String)]): String = {
    val m = metrics.map { case (k, v, u) => s"${Util.jsonStr(k)}: {\"value\": ${Util.jsonNum(v)}, \"unit\": ${Util.jsonStr(u)}}" }
    s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": {${m.mkString(", ")}}}"""
  }

  /** The workload's own end-to-end figures, printed with sample counts. */
  private def flowMetrics(flow: Flow, setup: Record, recs: Seq[Record]): Seq[(String, Double, String, Int)] = {
    def s(name: String) = recs.flatMap(_.steps.getOrElse(name, Nil))
    def med(metric: String, step: String) = { val xs = s(step); (metric, Util.median(xs), "s", xs.size) }
    flow match {
      case _: MonitorDaily =>
        // the backfill runs once, in set-up, on a cold JVM
        val backfill = setup.steps("backfill")
        Seq(("monitor.backfill_s", backfill.head, "s", backfill.size), med("monitor.assess_day_s", "assess_day"))
      case c: CorpusPrepare =>
        val xs = s("chain")
        Seq(("corpus.docs_per_s", c.truth.size / Util.median(xs), "1/s", xs.size))
      case _: CorpusIncremental => Seq(med("incremental.batch_s", "prepare_batch"))
    }
  }

  def unitOf(k: String): String =
    if (k.endsWith("_s")) "s"
    else if (k.endsWith("_mb")) "MB"
    else if (k.endsWith("_frac") || k.endsWith("_ratio") || k.endsWith("_recall") || k.endsWith("_growth")) "ratio"
    else "count"

  /** Every per-layer metric, in a fixed order; 0 where the workload does
    * not reach the layer.
    */
  val perLayer: Seq[String] = Seq(
    "service.self_s", "quality.assess_s", "quality.assess_jobs", "anomaly.score_s", "anomaly.score_jobs",
    "profiler.profile_s", "profiler.jobs",
    "repository.read_s", "repository.read_jobs", "repository.write_s", "repository.maintain_s",
    "repository.compactions", "repository.files", "repository.dead_row_ratio",
    "anomaly.optimize_s", "anomaly.optimize_jobs", "anomaly.optimize_shuffle_mb", "anomaly.failed_series_frac",
    "pipelines.funnel_s", "pipelines.funnel_construct_s", "pipelines.funnel_kept_frac",
    "dedup.minhash_s", "dedup.construct_jobs", "dedup.shuffle_mb", "dedup.removed_frac", "dedup.planted_recall",
    "pipelines.export_s", "pipelines.export_mb", "pipelines.export_files",
    "spark.jobs", "spark.stages", "spark.tasks", "spark.no_task_s", "spark.task_s", "spark.task_cpu_s",
    "spark.shuffle_write_mb", "spark.shuffle_read_mb", "spark.spill_mb", "spark.input_mb", "spark.input_read_ratio",
    "jvm.gc_s", "jvm.heap_peak_mb", "tracing.overhead_s",
    "storage.retained_block_mb", "storage.resident_block_mb")

  /** Reported only by `corpus_incremental`, which BENCHMARK.json does not list. */
  val incrementalLayer: Seq[String] = Seq(
    "pipelines.batch_jobs", "pipelines.batch_growth", "pipelines.state_mb", "pipelines.prepared_read_s",
    "pipelines.compact_s", "dedup.prior_dropped")

  /** One traced cycle; returns failed checks and the per-layer metrics. */
  private def traced(spark: SparkSession, flow: Flow, input: String, root: String, untracedWall: Double,
      generatedBytes: Long, rec: Record, figures: Seq[(String, Double)]): (Seq[String], Seq[(String, Double)]) = {
    val sc = spark.sparkContext
    val listener = new SpanListener
    val tr = Tracer.traced(spark, s"${flow.getClass.getSimpleName}-traced")
    sc.addSparkListener(listener)
    val (wall, gcS, heapMb, windowMs) =
      try {
        FlowBenchBridge.drainListenerBus(sc)
        Util.resetHeapPeak()
        val gc0 = Util.gcSeconds()
        val w0 = System.currentTimeMillis()
        val (_, wall) = Util.timed(tr.span("flow")(flow.tracedCycle(input, root, tr, rec)))
        val w1 = System.currentTimeMillis()
        FlowBenchBridge.drainListenerBus(sc)
        (wall, Util.gcSeconds() - gc0, Util.heapPeakMb(), (w0, w1))
      } finally sc.removeSparkListener(listener)
    val orphan = listener.resolve(tr)
    val retained = Storage.retainedMb(spark)
    val failures = mutable.ArrayBuffer.empty[String]
    val spanJobs = tr.spans.map(_.c.jobs).sum
    if (orphan.jobs > 0 || spanJobs != listener.totalJobs)
      failures += s"${orphan.jobs} of ${listener.totalJobs} jobs ran outside any span (spans hold $spanJobs)"
    tr.writeJsonl(s"$root.spans.jsonl")

    val all = new Counters
    tr.spans.foreach(s => all += s.c)
    all += orphan
    def named(n: String) = tr.spans.filter(_.name == n).toSeq
    def secs(ss: Seq[Span]) = ss.map(_.seconds).sum
    def jobs(ss: Seq[Span]) = ss.map(_.c.jobs).sum.toDouble
    def total(s: Span): Counters = { val c = new Counters; (s +: tr.descendants(s)).foreach(x => c += x.c); c }
    val mb = 1048576.0
    val fig = figures.toMap
    val names = flow match {
      case _: CorpusIncremental => perLayer ++ incrementalLayer
      case _ => perLayer
    }
    val m = mutable.LinkedHashMap(names.map(_ -> 0.0): _*)

    flow match {
      case mon: MonitorDaily =>
        val days = named("service.assess_new_ts")
        val nDays = days.size.toDouble
        val scope = (days ++ days.flatMap(tr.descendants) ++ named("repository.maintain")).toSet
        def in(n: String) = scope.filter(_.name == n).toSeq
        val service = scope.filter(s => s.name.startsWith("service.") && s.name != "service.assess_quality").toSeq
        val isEmptyS = service.map(_.c.isEmptyMs).sum / 1e3
        m("service.self_s") = (service.map(tr.selfSeconds).sum - isEmptyS) / nDays
        val quality = in("service.assess_quality")
        m("quality.assess_s") = quality.map(tr.selfSeconds).sum / nDays
        m("quality.assess_jobs") = jobs(quality) / nDays
        m("anomaly.score_s") = secs(in("anomaly.score")) / nDays
        m("anomaly.score_jobs") = jobs(in("anomaly.score")) / nDays
        m("profiler.profile_s") = secs(in("profiler.profile")) / nDays
        m("profiler.jobs") = jobs(in("profiler.profile")) / nDays
        m("repository.read_s") = (secs(in("repository.read")) + isEmptyS) / nDays
        m("repository.read_jobs") = (jobs(in("repository.read")) + service.map(_.c.isEmptyJobs).sum) / nDays
        m("repository.write_s") = secs(in("repository.write")) / nDays
        m("repository.maintain_s") = secs(in("repository.maintain")) / nDays
        m("repository.compactions") = rec.steps.get("compaction").map(_.size).getOrElse(0).toDouble
        m("repository.files") = Util.dataFiles(s"$root/repository").toDouble
        m("repository.dead_row_ratio") = deadRowRatio(spark, s"$root/repository", mon.uri)
        val opt = named("anomaly.optimize")
        m("anomaly.optimize_s") = secs(opt)
        m("anomaly.optimize_jobs") = jobs(opt)
        m("anomaly.optimize_shuffle_mb") = opt.map(_.c.shuffleWrite).sum / mb
        m("anomaly.failed_series_frac") = fig("monitor.failed_series") / fig("monitor.series")
      case _: CorpusPrepare =>
        val funnel = named("pipelines.funnel").map(total)
        val prefix = named("dedup.minhash_prefix").map(total)
        m("pipelines.funnel_s") = secs(named("pipelines.funnel"))
        m("pipelines.funnel_construct_s") = secs(named("pipelines.funnel_construct"))
        m("dedup.minhash_s") = secs(named("dedup.minhash_prefix")) - secs(named("pipelines.funnel"))
        m("dedup.construct_jobs") = jobs(named("dedup.construct"))
        m("dedup.shuffle_mb") = (prefix.map(_.shuffleWrite).sum - funnel.map(_.shuffleWrite).sum) / mb
        m("pipelines.export_s") = secs(named("pipelines.export_chain")) - secs(named("dedup.minhash_prefix"))
        Seq("pipelines.funnel_kept_frac", "dedup.removed_frac", "dedup.planted_recall", "pipelines.export_mb",
          "pipelines.export_files").foreach(k => m(k) = fig(k))
      case _: CorpusIncremental =>
        val batches = named("pipelines.prepare_batch")
        val ds = batches.map(_.seconds)
        val third = math.max(1, ds.size / 3)
        m("pipelines.batch_jobs") = jobs(batches) / batches.size
        m("pipelines.batch_growth") = Util.median(ds.takeRight(third)) / Util.median(ds.take(third))
        m("pipelines.prepared_read_s") = secs(named("pipelines.prepared_read"))
        m("pipelines.compact_s") = secs(named("pipelines.compact_state"))
        val resident = rec.steps.getOrElse("resident_mb", Nil)
        val afterGc = rec.steps.getOrElse("retained_mb", Nil)
        resident.zip(afterGc).zipWithIndex.foreach { case ((r, k), b) =>
          out(f"figure storage.after_batch_$b resident_mb=$r%.3f retained_mb=$k%.3f")
        }
        m("storage.resident_block_mb") = if (resident.isEmpty) 0.0 else resident.max
        Seq("pipelines.funnel_kept_frac", "pipelines.state_mb", "dedup.prior_dropped").foreach(k => m(k) = fig(k))
    }
    m("spark.jobs") = listener.totalJobs
    m("spark.stages") = all.stages
    m("spark.tasks") = all.tasks
    m("spark.no_task_s") = idleSeconds(listener.taskIntervals, windowMs._1, windowMs._2)
    m("spark.task_s") = all.taskMs / 1e3
    m("spark.task_cpu_s") = all.taskCpuNs / 1e9
    m("spark.shuffle_write_mb") = all.shuffleWrite / mb
    m("spark.shuffle_read_mb") = all.shuffleRead / mb
    m("spark.spill_mb") = all.spill / mb
    m("spark.input_mb") = all.input / mb
    m("spark.input_read_ratio") = all.input.toDouble / generatedBytes
    m("jvm.gc_s") = gcS
    m("jvm.heap_peak_mb") = heapMb
    m("tracing.overhead_s") = wall - secs(tr.spans.filter(_.name.endsWith(".setup")).toSeq) - untracedWall
    m("storage.retained_block_mb") = retained
    m("storage.resident_block_mb") = math.max(m("storage.resident_block_mb"), Storage.residentMb(spark))
    (failures.toSeq, m.toSeq)
  }

  /** Wall seconds inside [w0, w1] during which no task was running. */
  private def idleSeconds(tasks: java.util.Collection[(Long, Long)], w0: Long, w1: Long): Double = {
    import scala.jdk.CollectionConverters._
    val iv = tasks.asScala.toSeq.map { case (a, b) => (math.max(a, w0), math.min(b, w1)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var busy = 0L
    var curA = -1L
    var curB = -1L
    iv.foreach { case (a, b) =>
      if (a > curB) { if (curB > curA) busy += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    if (curB > curA) busy += curB - curA
    (w1 - w0 - busy) / 1e3
  }

  /** Rows stored in the repository's tables divided by live rows (the
    * latest row per key that reads resolve to).
    */
  private def deadRowRatio(spark: SparkSession, path: String, uri: String): Double = {
    val repo = new graft.repository.ParquetRepository(spark, path)
    val stored = Seq("profiling", "optimization", "scoring").map { t =>
      spark.read.parquet(s"$path/$t").where(col("dataset_uri") === uri).count()
    }.sum
    val live = repo.getProfiling(uri).count() + repo.getOptimization(uri).count() + repo.getScoring(uri).count()
    stored.toDouble / live
  }
}
