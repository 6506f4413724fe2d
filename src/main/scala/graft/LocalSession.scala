package graft

import org.apache.spark.sql.SparkSession

/** The one local-mode session config shared by Verify, Bench, Probe and
  * the flow benchmark — the gated runs and the plan audits must execute
  * under identical settings (shuffle partitions, timezone, codegen
  * reuse), or a plan audit could pass against a plan the gate never
  * runs.
  */
object LocalSession {
  def cpus(default: String = "4"): String =
    sys.env.getOrElse("SPARK_GRAFT_CPUS", default)

  /** Settings that let a repeated job reuse the classes it compiled.
    *
    * `spark.sql.codegen.cache.maxEntries` (default 100) sizes Spark's
    * generated-class cache. graft's working sets are larger: a
    * `monitor_daily` flow-benchmark day compiles ~160 classes, and a
    * `corpus_prepare` run ~100. The cache is LRU, and an LRU cache
    * smaller than a cyclic working set misses on every access: at 100
    * entries every monitored day evicted and recompiled all of its
    * classes (1.5-1.9 s of compiling in a ~5 s day, before the new
    * classes warm up). At 1000 a repeated day compiles 0-4 classes. The
    * conf is static, so it must be set before the first session starts.
    *
    * `spark.sql.codegen.useIdInClassName=false` keeps the whole-stage
    * codegen stage id out of the generated class name. Adaptive
    * execution numbers stages in the order it re-plans them, which
    * depends on task timing, so the same stage of the same query could
    * otherwise come back under a new id on a later day and compile again
    * (ServiceSpec's codegen-reuse test compiled 6 classes instead of 4 on
    * its third day in 2 of 6 runs without this setting, 4 in 3 of 3 runs
    * with it). The id stays in the plan and in the generated code's
    * comment.
    */
  val codegenConf: Map[String, Any] = Map(
    "spark.sql.codegen.cache.maxEntries" -> 1000L,
    "spark.sql.codegen.useIdInClassName" -> false
  )

  def create(logLevel: String = "WARN"): SparkSession = {
    val c = cpus()
    val spark = SparkSession
      .builder()
      .master(s"local[$c]")
      .config("spark.sql.shuffle.partitions", c)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config(codegenConf)
      .getOrCreate()
    spark.sparkContext.setLogLevel(logLevel)
    spark
  }
}
