package graft.repository

import graft.SparkSpec
import graft.core.{DatasetMeta, Metric}

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
}
