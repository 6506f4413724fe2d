package graft.repository

import graft.SparkSpec
import graft.service.Service
import graft.tools.Harness
import org.apache.hadoop.fs.{FileUtil, Path}
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.functions._

/** Evidence for plans/r22, not compiled with the library: where reading a
  * repository partition as one partition stops paying. For each size it
  * writes a profiling partition of `series` daily series over 60 days
  * (two batches: 59 days, then one), then times one `Service.optimize` +
  * `Service.score` on a fresh copy of it with the partition read as one
  * partition ("single") and in parallel ("parallel"), alternating which
  * runs first, and counts the Spark jobs. It also records the bytes the
  * parallel latest-wins resolve of the profiling read shuffles, against
  * the partition's bytes on disk.
  * Copy into src/test/scala/graft/repository/ and run
  * `GATE_OUT=<dir> GATE_SERIES=100,400,... GATE_REPS=3
  *  sbt "testOnly graft.repository.GateCrossover"`.
  */
class GateCrossover extends SparkSpec {
  private val days = 60
  private val uri = "ds://gate"

  private def repo(dir: String, threshold: Long): ParquetRepository =
    new ParquetRepository(spark, dir) {
      override private[repository] def smallPartitionBytes: Long = threshold
    }

  private val modes = Seq("single" -> Long.MaxValue, "parallel" -> 0L)

  /** A profiling partition of `series` series, written under `dir`. */
  private def write(dir: String, series: Int): Unit = {
    val base = new ParquetRepository(spark, dir)
    val rows = spark.range(series.toLong * days)
      .select(
        (col("id") / days).cast("long").as("sid"),
        (col("id") % days).cast("int").as("day"))
      .select(
        col("day"),
        timestamp_seconds(lit(1735689600L) + col("day") * 86400).as("ts"),
        lit("Column").as("entity"),
        concat(lit("c"), (col("sid") / 4).cast("long").cast("string")).as("instance"),
        element_at(array(lit("Mean"), lit("Maximum"), lit("Minimum"), lit("Sum")),
          (col("sid") % 4 + 1).cast("int")).as("name"),
        (col("sid") + lit(10) * sin(col("day") * lit(2 * math.Pi / 7)) +
          rand(7) * 3).as("value"))
    base.addProfiling(uri, rows.where(col("day") < days - 1))
    base.addProfiling(uri, rows.where(col("day") === days - 1))
  }

  private def copy(from: String, to: String): Unit = {
    val src = new Path(from)
    val fs = src.getFileSystem(spark.sparkContext.hadoopConfiguration)
    FileUtil.copy(fs, src, fs, new Path(to), false, spark.sparkContext.hadoopConfiguration)
  }

  /** Bytes of the profiling partition's batch files, as the read sums them. */
  private def diskBytes(dir: String): Long = {
    val p = new Path(s"$dir/profiling")
    val files = p.getFileSystem(spark.sparkContext.hadoopConfiguration).listFiles(p, true)
    Iterator.continually(files).takeWhile(_.hasNext).map(_.next())
      .filter(_.getPath.getName.endsWith(".parquet")).map(_.getLen).sum
  }

  /** Bytes the parallel resolve of the profiling read writes to its shuffle. */
  private def shuffleBytes(dir: String): Long = {
    val sum = new java.util.concurrent.atomic.AtomicLong(0)
    val listener = new SparkListener {
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (e.taskMetrics != null) sum.addAndGet(e.taskMetrics.shuffleWriteMetrics.bytesWritten)
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      repo(dir, 0L).getProfiling(uri).write.format("noop").mode("overwrite").save()
      org.apache.spark.sql.GraftColumnBridge.drainListenerBus(spark.sparkContext)
      sum.get
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  /** Seconds and jobs of one optimize + score on a fresh copy of `base`. */
  private def day(base: String, threshold: Long): (Double, Int) = {
    val dir = java.nio.file.Files.createTempDirectory("gate-run").toString + "/repo"
    copy(base, dir)
    val r = repo(dir, threshold)
    val jobs = new Harness.JobCounter(spark.sparkContext)
    try {
      val t0 = System.nanoTime()
      Service.optimize(uri, r)
      Service.score(uri, r)
      ((System.nanoTime() - t0) / 1e9, jobs.count())
    } finally jobs.close()
  }

  test("crossover") {
    val out = java.nio.file.Paths.get(sys.env("GATE_OUT"))
    java.nio.file.Files.createDirectories(out)
    val sizes = sys.env.getOrElse("GATE_SERIES", "100,400,1600,6400").split(",").map(_.toInt)
    val reps = sys.env.getOrElse("GATE_REPS", "3").toInt
    val log = new java.io.PrintWriter(out.resolve("gate_crossover.txt").toFile)
    def emit(line: String): Unit = { println(line); log.println(line); log.flush() }
    emit(s"# days=$days reps=$reps master=${spark.sparkContext.master} " +
      s"shuffle.partitions=${spark.conf.get("spark.sql.shuffle.partitions")}")
    // warm-up: JIT and the generated-class cache, untimed
    val warm = java.nio.file.Files.createTempDirectory("gate-warm").toString + "/repo"
    write(warm, sizes.head)
    modes.foreach { case (_, th) => day(warm, th) }
    sizes.foreach { series =>
      val base = java.nio.file.Files.createTempDirectory("gate-base").toString + "/repo"
      write(base, series)
      val disk = diskBytes(base)
      emit(s"series=$series rows=${series.toLong * days} disk_bytes=$disk " +
        s"resolve_shuffle_bytes=${shuffleBytes(base)}")
      val runs = (0 until reps).flatMap { rep =>
        val order = if (rep % 2 == 0) modes else modes.reverse
        order.map { case (mode, th) =>
          val (secs, jobs) = day(base, th)
          emit(f"series=$series rep=$rep mode=$mode secs=$secs%.3f jobs=$jobs")
          mode -> secs
        }
      }
      modes.foreach { case (mode, _) =>
        val s = runs.filter(_._1 == mode).map(_._2).sorted
        emit(f"series=$series disk_bytes=$disk mode=$mode median=${s(s.size / 2)}%.3f " +
          f"min=${s.head}%.3f max=${s.last}%.3f")
      }
    }
    log.close()
  }
}
