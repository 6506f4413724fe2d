package graft.service

import graft.SparkSpec
import graft.profiler.ProfilingBuilder
import graft.repository.ParquetRepository
import graft.testing.SyntheticSeries

/** Evidence for plans/r19, not compiled with the library: seconds per assessQuality
  * call on a 40-day parquet history, warm.
  * Copy into src/test/scala/graft/service/ and run
  * `R19_OUT=<dir> sbt "testOnly graft.service.R19Timing"`.
  */
class R19Timing extends SparkSpec {
  import spark.implicits._
  test("timing") {
    val dir = java.nio.file.Files.createTempDirectory("r19t").toString
    val repo = new ParquetRepository(spark, s"$dir/repo")
    val all = (0 until 8).map(i => SyntheticSeries.daily(spark, 42, noiseAmp = 0.02).withColumnRenamed("value", s"m$i").drop("ts").withColumn("_k", org.apache.spark.sql.functions.monotonically_increasing_id()))
    val base = SyntheticSeries.daily(spark, 42, noiseAmp = 0.02).withColumn("_k", org.apache.spark.sql.functions.monotonically_increasing_id())
    val src0 = all.foldLeft(base)((a, b) => a.join(b, "_k")).drop("_k")
    src0.write.parquet(s"$dir/all")
    val src = spark.read.parquet(s"$dir/all")
    val cut = src.orderBy("ts").select("ts").as[java.sql.Timestamp].collect()
    Service.profileCreateOptimize(src.where($"ts" < cut(40)), "ds://t", "ts", repo, ProfilingBuilder.default)
    Service.profileCreate(src.where($"ts" === cut(40)), "ds://t", "ts", repo, ProfilingBuilder.default)
    Service.score("ds://t", repo)
    val secs = (0 until 25).map { _ =>
      val t0 = System.nanoTime()
      Service.assessQuality("ds://t", repo, handlers = Nil)
      (System.nanoTime() - t0) / 1e9
    }
    val warm = secs.drop(5).sorted
    val line = f"calls=${secs.size} first=${secs.head}%.3f warm median=${warm(warm.size / 2)}%.3f min=${warm.head}%.3f max=${warm.last}%.3f raw=${secs.map(x => f"$x%.3f").mkString(",")}"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(sys.env("R19_OUT")))
    java.nio.file.Files.writeString(java.nio.file.Paths.get(sys.env("R19_OUT"), "assess_timing.txt"), line + "\n")
  }
}
