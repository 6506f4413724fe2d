package graft

import org.apache.spark.sql.SparkSession

/** The one local-mode session config shared by Verify, Bench and
  * Probe — the gated runs and the plan audits must execute under
  * identical settings (shuffle partitions, timezone), or a plan audit
  * could pass against a plan the gate never runs.
  */
object LocalSession {
  def cpus(default: String = "4"): String =
    sys.env.getOrElse("SPARK_GRAFT_CPUS", default)

  def create(logLevel: String = "WARN"): SparkSession = {
    val c = cpus()
    val spark = SparkSession
      .builder()
      .master(s"local[$c]")
      .config("spark.sql.shuffle.partitions", c)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel(logLevel)
    spark
  }
}
