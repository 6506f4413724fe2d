package graft.repository

import graft.SparkSpec
import graft.core.{DatasetMeta, Metric}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec

/** The Parquet repository's declared table schemas: writes are selected
  * and cast to them by name, reads list one dataset partition under them.
  */
class ParquetRepositorySpec extends SparkSpec {
  import spark.implicits._

  private def newRepo(): ParquetRepository =
    new ParquetRepository(spark, java.nio.file.Files.createTempDirectory("graft-repo").toString)

  private val t1 = java.sql.Timestamp.valueOf("2025-01-01 00:00:00")

  test("rows with the declared columns in another order round-trip") {
    val repo = newRepo()
    // reordered, an integer value and a column the table does not declare
    repo.addProfiling(
      "u1",
      Seq((7, "Mean", "a", "Column", t1, "ignored"))
        .toDF("value", "name", "instance", "entity", "ts", "note")
    )
    val got = repo.getProfiling("u1")
    assert(got.schema == MetricsRepository.profilingSchema)
    assert(got.collect().map(_.toSeq).toSeq == Seq(Seq(t1, "Column", "a", "Mean", 7.0)))
    repo.addScoring(
      "u1",
      Seq((0.5, 9.0, 10.0, "Mean", "a", "Column", t1))
        .toDF("score", "predicted", "value", "name", "instance", "entity", "ts")
    )
    assert(repo.getScoring("u1").collect().map(_.toSeq).toSeq ==
      Seq(Seq(t1, "Column", "a", "Mean", 10.0, 9.0, 0.5)))
  }

  test("a frame missing a declared column is refused at add time, naming it") {
    val repo = newRepo()
    val e = intercept[IllegalArgumentException] {
      repo.addProfiling("u1", Seq((t1, "Column", "a", "Mean")).toDF("ts", "entity", "instance", "name"))
    }
    assert(e.getMessage.contains("profiling rows lack column(s) value"), e.getMessage)
    assert(repo.getProfiling("u1").isEmpty, "nothing was written")
  }

  test("a dataset with no partition next to one that has rows reads as the empty frame") {
    val repo = newRepo()
    repo.addProfiling("u1", Seq((t1, "Column", "a", "Mean", 1.0)).toDF("ts", "entity", "instance", "name", "value"))
    val ghost = repo.getProfiling("ghost")
    assert(ghost.schema == MetricsRepository.profilingSchema && ghost.isEmpty)
    assert(repo.getOptimization("u1").schema == MetricsRepository.optimizationSchema)
    assert(repo.getScoring("u1").schema == MetricsRepository.scoringSchema)
    assert(repo.getProfiling("u1").count() == 1)
  }

  test("two registrations of one uri resolve to the newer") {
    val repo = newRepo()
    assert(repo.getDataset("u1").isEmpty && repo.listDatasets().isEmpty)
    val m = Seq(Metric("Column", "a", "Mean"))
    repo.registerDataset(DatasetMeta("u1", "ts", Seq("a"), "DAY", Seq.empty))
    repo.registerDataset(DatasetMeta("u2", "ts", Seq("x"), "HOUR", Seq.empty))
    repo.registerDataset(DatasetMeta("u1", "ts", Seq("a", "b"), "DAY", m))
    assert(repo.getDataset("u1").contains(DatasetMeta("u1", "ts", Seq("a", "b"), "DAY", m)))
    assert(repo.listDatasets().sortBy(_.uri).map(d => d.uri -> d.columns) ==
      Seq("u1" -> Seq("a", "b"), "u2" -> Seq("x")))
    assert(repo.getDataset("ghost").isEmpty)
  }

  test("the newest stored ts is a plain column scan: no latest-wins window or key aggregate") {
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Window}
    import org.apache.spark.sql.functions.max
    val repo = newRepo()
    val t2 = java.sql.Timestamp.valueOf("2025-01-02 00:00:00")
    def scores(ts: java.sql.Timestamp, score: Double) =
      Seq((ts, "Column", "a", "Mean", 1.0, 1.0, score))
        .toDF("ts", "entity", "instance", "name", "value", "predicted", "score")
    repo.addScoring("u1", scores(t1, 0.1))
    repo.addScoring("u1", scores(t2, 0.2))
    repo.addScoring("u1", scores(t2, 0.3)) // a later batch upserts t2
    val newest = repo.getScoring("u1").agg(max("ts"))
    val plan = newest.queryExecution.optimizedPlan
    assert(plan.collect { case w: Window => w }.isEmpty, plan.treeString)
    assert(
      plan.collect { case a: Aggregate if a.groupingExpressions.nonEmpty => a }.isEmpty,
      plan.treeString
    )
    assert(newest.head.getTimestamp(0) == t2)
    // full rows still resolve latest-wins, in stored column order
    assert(repo.getScoring("u1").orderBy("ts").collect().map(_.toSeq).toSeq ==
      Seq(Seq(t1, "Column", "a", "Mean", 1.0, 1.0, 0.1), Seq(t2, "Column", "a", "Mean", 1.0, 1.0, 0.3)))
  }

  /** A repository over `dir` that reads every partition as a large one. */
  private def large(dir: String): ParquetRepository =
    new ParquetRepository(spark, dir) {
      override private[repository] def smallPartitionBytes: Long = 0L
    }

  private object Plans extends AdaptiveSparkPlanHelper

  private def shuffles(df: DataFrame): Int =
    Plans.collect(df.queryExecution.executedPlan) { case e: ShuffleExchangeExec => e }.size

  private val none = Option.empty[java.sql.Timestamp]

  /** A new repository directory with two batches per table: NULL-key
    * rows, and a later batch upserting a NULL-ts key and a plain one.
    */
  private def filled(): String = {
    val dir = java.nio.file.Files.createTempDirectory("graft-repo").toString
    val repo = new ParquetRepository(spark, dir)
    def metrics(rows: (Option[java.sql.Timestamp], String, Double)*) =
      rows.map { case (ts, i, v) => (ts, "Column", i, "Mean", v) }
        .toDF("ts", "entity", "instance", "name", "value")
    def scores(rows: (Option[java.sql.Timestamp], String, Double)*) =
      rows.map { case (ts, i, v) => (ts, "Column", i, "Mean", v, v, v / 10) }
        .toDF("ts", "entity", "instance", "name", "value", "predicted", "score")
    def optimization(rows: (String, Double)*) =
      rows.map { case (i, th) => ("Column", i, "Mean", "TrailingMean-3", th, th / 2, false) }
        .toDF("entity", "instance", "name", "best_model", "threshold", "mean_error",
          "optimization_failed")
    repo.addProfiling("u1", metrics((Some(t1), "a", 1.0), (none, "a", 2.0), (Some(t1), null, 3.0)))
    repo.addProfiling("u1", metrics((Some(t1), "a", 4.0), (none, "a", 5.0)))
    repo.addScoring("u1", scores((Some(t1), "a", 1.0), (none, "a", 2.0), (Some(t1), null, 3.0)))
    repo.addScoring("u1", scores((Some(t1), "a", 4.0), (none, "a", 5.0)))
    repo.addOptimization("u1", optimization("a" -> 0.1, (null, 0.2)))
    repo.addOptimization("u1", optimization("a" -> 0.3))
    dir
  }

  private def reads(repo: ParquetRepository): Seq[DataFrame] =
    Seq(repo.getProfiling("u1"), repo.getOptimization("u1"), repo.getScoring("u1"))

  private def views(repo: ParquetRepository): Seq[Seq[Seq[Any]]] =
    reads(repo).map(_.collect().map(_.toSeq).toSeq.sortBy(_.mkString("|")))

  test("a small partition resolves latest-wins inside its scan task; a large one shuffles") {
    val dir = filled()
    val repo = new ParquetRepository(spark, dir)
    assert(reads(repo).map(shuffles) == Seq(0, 0, 0),
      reads(repo).map(_.queryExecution.executedPlan.treeString).mkString("\n"))
    val small = views(repo)
    assert(small.head == Seq(
      Seq(t1, "Column", "a", "Mean", 4.0),
      Seq(t1, "Column", null, "Mean", 3.0),
      Seq(null, "Column", "a", "Mean", 5.0)))
    assert(small(1).map(r => r(1) -> r(4)) == Seq("a" -> 0.3, (null, 0.2)))
    assert(small(2).map(_(4)) == Seq(4.0, 3.0, 5.0))
    val asLarge = large(dir)
    assert(reads(asLarge).map(shuffles).forall(_ > 0),
      reads(asLarge).map(_.queryExecution.executedPlan.treeString).mkString("\n"))
    assert(views(asLarge) == small)
  }

  test("a compaction of a small or a large partition leaves the same resolved view") {
    val (small, big) = (filled(), filled())
    val before = views(new ParquetRepository(spark, small))
    new ParquetRepository(spark, small).compact("u1")
    large(big).compact("u1")
    assert(views(new ParquetRepository(spark, small)) == before)
    assert(views(new ParquetRepository(spark, big)) == before)
  }
}
