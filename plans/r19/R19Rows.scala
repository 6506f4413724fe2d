package graft.service

import graft.SparkSpec
import graft.repository.InMemoryRepository
import graft.testing.SyntheticSeries

/** Evidence for plans/r19, not compiled with the library: the stored rows of the
  * funnel, event-funnel, trend and batch-funnel series, sorted.
  * Copy into src/test/scala/graft/service/ and run
  * `R19_OUT=<dir> sbt "testOnly graft.service.R19Rows"`.
  */
class R19Rows extends SparkSpec {
  import spark.implicits._
  test("rows") {
    val repo = new InMemoryRepository()
    def dump(uri: String) = repo.getProfiling(uri).collect().map(_.toSeq.mkString("|")).sorted
    val sb = new StringBuilder
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    (1 to 3).foreach { d =>
      val df = ((1 to 10 * d).map(_ => "kept") ++ (1 to 7).map(_ => "too_short") ++ (1 to d).map(_ => "lang"))
        .toDF("drop_reason")
      Service.profileFunnel(df, "ds://f", t(f"2025-01-0$d 00:00:00"), repo)
    }
    dump("ds://f").foreach(r => sb ++= s"funnel $r\n")
    val events = Seq(
      (1L, "view", t("2025-04-01 10:00:00")), (1L, "click", t("2025-04-01 10:05:00")),
      (2L, "view", t("2025-04-01 11:00:00")), (3L, "view", t("2025-04-02 09:00:00")),
      (3L, "click", t("2025-04-02 09:01:00")), (3L, "purchase", t("2025-04-02 09:02:00")),
      (4L, "view", t("2025-04-03 09:00:00")), (5L, "view", t("2025-04-03 10:00:00"))
    ).toDF("user_id", "event_type", "ts")
    Service.profileEventFunnel(events, "ds://ef", repo, Seq("view", "click", "purchase"))
    dump("ds://ef").foreach(r => sb ++= s"event_funnel $r\n")
    val hist = SyntheticSeries.daily(spark, 60, trend = 2.0)
    Service.profileCreate(hist, "ds://tr", "ts", repo, graft.profiler.ProfilingBuilder.simple)
    Service.assessTrend("ds://tr", repo, handlers = Nil)
    dump("ds://tr").filter(_.contains("_trend")).foreach(r => sb ++= s"trend $r\n")
    val root = java.nio.file.Files.createTempDirectory("r19b").toString
    val textA = "the quick brown fox jumps over the lazy dog near the river bank today"
    val textB = "a completely different sentence about spark jobs and query plans here"
    graft.pipelines.Incremental.prepareBatch(Seq((1L, textA), (2L, "short")).toDF("doc_id", "text"), root, "2026-01-01")
    graft.pipelines.Incremental.prepareBatch(Seq((3L, textA), (4L, textB)).toDF("doc_id", "text"), root, "2026-01-02")
    graft.pipelines.Incremental.profileBatches(spark, root, "ds://b", repo)
    dump("ds://b").foreach(r => sb ++= s"batches $r\n")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(sys.env("R19_OUT")))
    java.nio.file.Files.writeString(java.nio.file.Paths.get(sys.env("R19_OUT"), "stored_rows.txt"), sb.toString)
  }
}
