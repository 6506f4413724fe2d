package graft.tools

import java.nio.file.{Files, Paths}

import graft.{PlanAudit, SparkEntry}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.FormattedMode

/** Dev tool for single registered keys, in two modes:
  * {{{
  *   runMain graft.tools.Probe time <sfDir> [--reps N] [--noop] <key>...
  *   runMain graft.tools.Probe plan <sfDir> [--executed] [--out DIR --suffix S] [key...]
  * }}}
  *
  * `time` measures each key with [[graft.Bench]]'s discipline (see
  * [[Harness]]): one untimed global warmup, then per key a cold first
  * rep, clearCache between reps and GC before the next key; 3 reps
  * unless `--reps` says otherwise. Per key it prints the raw reps, their
  * median and min, and for the median rep the construct/exec split
  * (construct = building the DataFrame, including any eager driver work
  * such as fits or `materialize`), the Spark jobs in total and during
  * construction, and the Catalyst phases of the built DataFrame.
  * `--noop` times the noop sink instead of `count()`: `count()` lets the
  * optimizer prune columns and, through unique-key outer joins, whole
  * subtrees, while the noop sink computes every column of every row.
  *
  * `plan` with no key runs the [[PlanAudit]] sweep over the registry and
  * prints one verdict per key: `[antipattern]`, `[bounded-bnl]` or
  * `[ok]`. With keys it prints each key's formatted plan and verdict.
  * `--executed` runs the plan to completion first, so the AQE final plan
  * (`ReusedExchange`, `AQEShuffleRead`) is shown rather than the
  * `isFinalPlan=false` template. `--out DIR --suffix S` writes the plan
  * to `DIR/<key>_S.txt` instead of stdout, the naming of the evidence
  * under `plans/`.
  *
  * Exits non-zero when any key throws.
  */
object Probe {
  type Query = (SparkSession, String) => DataFrame

  /** One rep of a key, split where the DataFrame is built. */
  final case class Rep(
      constructSec: Double,
      execSec: Double,
      jobs: Int,
      constructJobs: Int,
      phases: Seq[(String, Double)]
  ) {
    def sec: Double = constructSec + execSec
  }

  val countSink: DataFrame => Unit = df => { df.count(); () }
  val noopSink: DataFrame => Unit = _.write.format("noop").mode("overwrite").save()

  private val usage =
    "usage: Probe time <sfDir> [--reps N] [--noop] <key>...\n" +
      "       Probe plan <sfDir> [--executed] [--out DIR --suffix S] [key...]"

  def main(args: Array[String]): Unit = {
    require(args.length >= 2 && (args(0) == "time" || args(0) == "plan"), usage)
    val mode = args(0)
    val sfDir = args(1)
    val (valued, switches) =
      if (mode == "time") (Set("--reps"), Set("--noop"))
      else (Set("--out", "--suffix"), Set("--executed"))
    def parse(rest: List[String], opts: Map[String, String], keys: Vector[String])
        : (Map[String, String], Vector[String]) = rest match {
      case Nil                          => (opts, keys)
      case f :: v :: tail if valued(f)  => parse(tail, opts + (f -> v), keys)
      case f :: tail if switches(f)     => parse(tail, opts + (f -> ""), keys)
      case f :: _ if f.startsWith("--") => throw new IllegalArgumentException(s"bad option $f\n$usage")
      case k :: tail                    => parse(tail, opts, keys :+ k)
    }
    val (opts, keys) = parse(args.drop(2).toList, Map.empty, Vector.empty)
    val unknown = keys.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown keys: ${unknown.mkString(", ")}")
    val ok = if (mode == "time") {
      val reps = opts.get("--reps").map(_.toInt).getOrElse(3)
      require(reps >= 1 && keys.nonEmpty, usage)
      val sink = if (opts.contains("--noop")) noopSink else countSink
      withSession { spark =>
        Harness.warmup(spark, sfDir)
        val jobs = new Harness.JobCounter(spark.sparkContext)
        try keys.map { k =>
          val r = timeKey(spark, sfDir, SparkEntry.queries(k), reps, sink, jobs)
          println(timeLine(k, r))
          r.error.isEmpty
        }.forall(identity)
        finally jobs.close()
      }
    } else {
      val executed = opts.contains("--executed")
      require(opts.contains("--out") == opts.contains("--suffix"), "--out and --suffix go together")
      val out = opts.get("--out").map(_ -> opts("--suffix"))
      require(keys.nonEmpty || (!executed && out.isEmpty), "--executed and --out need keys")
      withSession { spark =>
        if (keys.isEmpty)
          SparkEntry.queries.toSeq.sortBy(_._1).map { case (k, fn) =>
            val line = auditLine(spark, sfDir, k, fn)
            println(line)
            !line.startsWith("[error]")
          }.forall(identity)
        else keys.map(k => planKey(spark, sfDir, k, SparkEntry.queries(k), executed, out)).forall(identity)
      }
    }
    if (!ok) sys.exit(1)
  }

  private def withSession(body: SparkSession => Boolean): Boolean = {
    val spark = Harness.session()
    try body(spark)
    finally spark.stop()
  }

  /** One measured rep: builds the frame, then runs `sink` on it. The bus
    * is drained between the two timed spans, outside both.
    */
  def measure(jobs: Harness.JobCounter, sink: DataFrame => Unit)(build: => DataFrame): Rep = {
    val j0 = jobs.count()
    val t0 = System.nanoTime()
    val df = build
    val constructSec = (System.nanoTime() - t0) / 1e9
    val constructJobs = jobs.count() - j0
    val t1 = System.nanoTime()
    sink(df)
    val execSec = (System.nanoTime() - t1) / 1e9
    val phases = df.queryExecution.tracker.phases.toSeq
      .map { case (k, v) => k -> (v.endTimeMs - v.startTimeMs) / 1000.0 }
      .sorted
    Rep(constructSec, execSec, jobs.count() - j0, constructJobs, phases)
  }

  /** Times one key for `reps` reps, then collects garbage for the next. */
  def timeKey(
      spark: SparkSession,
      sfDir: String,
      fn: Query,
      reps: Int,
      sink: DataFrame => Unit,
      jobs: Harness.JobCounter
  ): Harness.Reps[Rep] = {
    val r = Harness.reps(spark, reps)(measure(jobs, sink)(fn(spark, sfDir)))
    Harness.hygiene(spark)
    r
  }

  /** The `TIME` line `time` prints for a key. */
  def timeLine(name: String, r: Harness.Reps[Rep]): String = r.error match {
    case Some(e) =>
      s"TIME $name FAILED after ${r.done.size} rep(s): ${e.getClass.getSimpleName}: ${e.getMessage}"
    case None =>
      val sorted = r.done.sortBy(_.sec)
      val med = sorted(sorted.size / 2)
      val raw = r.done.map(x => f"${x.sec}%.3f").mkString("[", ",", "]")
      val phases = med.phases.map { case (k, v) => f"$k=$v%.3f" }.mkString(" ")
      f"TIME $name%-34s median=${med.sec}%7.3f min=${sorted.head.sec}%7.3f reps=$raw " +
        f"construct=${med.constructSec}%.3f exec=${med.execSec}%.3f " +
        s"jobs=${med.jobs} (construct ${med.constructJobs}) $phases"
  }

  /** The plan-audit verdict for one key; `[error]` when it cannot be built. */
  def auditLine(spark: SparkSession, sfDir: String, name: String, fn: Query): String =
    try verdict(name, fn(spark, sfDir))
    catch { case e: Throwable => s"[error] $name: ${e.getMessage}" }

  private def verdict(name: String, df: DataFrame): String = {
    val unbounded = PlanAudit.unboundedJoins(df)
    lazy val nestedLoops = PlanAudit.nestedLoopJoins(df)
    if (unbounded.nonEmpty && !PlanAudit.contractBounded(name))
      s"[antipattern] $name: ${unbounded.distinct.mkString(", ")}"
    else if (nestedLoops.nonEmpty)
      s"[bounded-bnl] $name: ${nestedLoops.size} nested-loop join(s), bounded by plan structure or operator contract"
    else s"[ok] $name"
  }

  /** Prints (or writes) one key's formatted plan, then its verdict. */
  private def planKey(
      spark: SparkSession,
      sfDir: String,
      name: String,
      fn: Query,
      executed: Boolean,
      out: Option[(String, String)]
  ): Boolean =
    try {
      val df = fn(spark, sfDir)
      // drive THIS QueryExecution's adaptive plan to its final shape;
      // count() would plan a different (pruned) query
      if (executed) df.queryExecution.executedPlan.execute().count()
      val text = df.queryExecution.explainString(FormattedMode)
      out match {
        case Some((dir, suffix)) =>
          val p = Paths.get(dir, s"${name}_$suffix.txt")
          Files.createDirectories(p.getParent)
          Files.writeString(p, text)
          println(s"[plan] wrote $p")
        case None =>
          println(s"==== $name ====")
          println(text)
      }
      println(verdict(name, df))
      true
    } catch {
      case e: Throwable =>
        println(s"[error] $name: ${e.getMessage}")
        false
    }
}
