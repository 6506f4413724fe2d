package flowbench

import java.util.concurrent.ConcurrentHashMap

import graft.core.DatasetMeta
import graft.repository.{MetricsRepository, ParquetRepository}
import org.apache.spark.FlowBenchBridge
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel

import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Spark work attributed to one span. */
final class Counters {
  var jobs = 0
  var stages = 0
  var tasks = 0
  var taskMs = 0L
  var taskCpuNs = 0L
  var shuffleWrite = 0L
  var shuffleRead = 0L
  var spill = 0L
  var input = 0L
  /** Jobs issued by `Dataset.isEmpty` (a repository read done by the caller). */
  var isEmptyJobs = 0
  var isEmptyMs = 0L

  def +=(o: Counters): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks; taskMs += o.taskMs
    taskCpuNs += o.taskCpuNs; shuffleWrite += o.shuffleWrite; shuffleRead += o.shuffleRead
    spill += o.spill; input += o.input; isEmptyJobs += o.isEmptyJobs; isEmptyMs += o.isEmptyMs
  }
}

final case class Span(id: Int, name: String, parent: Int, run: String, startNs: Long) {
  var endNs: Long = -1L
  val c = new Counters
  def seconds: Double = Util.seconds(startNs, endNs)
}

/** Records spans around calls into the library and, through
  * [[SpanListener]], the Spark work each span issued. Untraced runs use
  * [[Tracer.off]], whose `span` only runs the body.
  */
class Tracer private (val on: Boolean, spark: SparkSession, val run: String) {
  import Tracer.SpanProperty

  val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil

  def span[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val s = Span(spans.size + 1, name, stack.headOption.map(_.id).getOrElse(0), run, System.nanoTime())
      spans += s
      stack = s :: stack
      spark.sparkContext.setLocalProperty(SpanProperty, s.id.toString)
      try body
      finally {
        s.endNs = System.nanoTime()
        stack = stack.tail
        spark.sparkContext.setLocalProperty(SpanProperty, stack.headOption.map(_.id.toString).orNull)
      }
    }

  /** Self seconds: the span's duration minus its children's (children
    * of one span run one after another on the calling thread).
    */
  def selfSeconds(s: Span): Double =
    s.seconds - spans.iterator.filter(_.parent == s.id).map(_.seconds).sum

  def children(s: Span): Seq[Span] = spans.filter(_.parent == s.id).toSeq

  def descendants(s: Span): Seq[Span] = {
    val kids = children(s)
    kids ++ kids.flatMap(descendants)
  }

  def writeJsonl(path: String): Unit = {
    val w = new java.io.PrintWriter(path, "UTF-8")
    try spans.foreach { s =>
      w.println(
        s"""{"run":${Util.jsonStr(s.run)},"id":${s.id},"parent":${s.parent},"name":${Util.jsonStr(s.name)},""" +
          s""""start_ns":${s.startNs},"end_ns":${s.endNs},"self_s":${Util.jsonNum(selfSeconds(s))},""" +
          s""""jobs":${s.c.jobs},"stages":${s.c.stages},"tasks":${s.c.tasks},"task_ms":${s.c.taskMs},""" +
          s""""shuffle_write":${s.c.shuffleWrite},"shuffle_read":${s.c.shuffleRead},"spill":${s.c.spill},""" +
          s""""input":${s.c.input}}""")
    }
    finally w.close()
  }
}

object Tracer {
  val SpanProperty = "flowbench.span"
  def off(spark: SparkSession): Tracer = new Tracer(false, spark, "untraced")
  def traced(spark: SparkSession, run: String): Tracer = new Tracer(true, spark, run)
}

/** Attributes jobs, stages and tasks to the span whose id the job
  * carried in [[Tracer.SpanProperty]] (a thread-local Spark property,
  * inherited by the threads Spark itself spawns for a query). Spans are
  * resolved after the run; until then events land in per-span-id
  * buckets.
  */
class SpanListener extends SparkListener {
  private val bySpan = new ConcurrentHashMap[Int, Counters]()
  private val stageSpan = new ConcurrentHashMap[Int, Int]()
  private val jobSpan = new ConcurrentHashMap[Int, (Int, Boolean, Long)]()
  /** (launch, finish) epoch-ms of every finished task. */
  val taskIntervals = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]()
  @volatile var totalJobs = 0

  private def counters(span: Int): Counters = bySpan.computeIfAbsent(span, _ => new Counters)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val span = Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.SpanProperty)))
      .map(_.toInt).getOrElse(-1)
    // a Dataset action's call site names the action ("isEmpty at X.scala:n")
    val isEmpty = e.stageInfos.nonEmpty && e.stageInfos.maxBy(_.stageId).name.startsWith("isEmpty at ")
    jobSpan.put(e.jobId, (span, isEmpty, e.time))
    e.stageIds.foreach(stageSpan.putIfAbsent(_, span))
    synchronized {
      totalJobs += 1
      val c = counters(span)
      c.jobs += 1
      if (isEmpty) c.isEmptyJobs += 1
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobSpan.get(e.jobId)).foreach { case (span, isEmpty, start) =>
      if (isEmpty) synchronized(counters(span).isEmptyMs += e.time - start)
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized(counters(stageSpan.getOrDefault(e.stageInfo.stageId, -1)).stages += 1)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val info = e.taskInfo
    if (info != null) taskIntervals.add((info.launchTime, info.finishTime))
    val m = e.taskMetrics
    synchronized {
      val c = counters(stageSpan.getOrDefault(e.stageId, -1))
      c.tasks += 1
      if (m != null) {
        c.taskMs += m.executorRunTime
        c.taskCpuNs += m.executorCpuTime
        c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        c.input += m.inputMetrics.bytesRead
      }
    }
  }

  /** Moves the buckets into the tracer's spans; returns the work no
    * span claimed.
    */
  def resolve(tr: Tracer): Counters = synchronized {
    val byId = tr.spans.map(s => s.id -> s).toMap
    val orphan = new Counters
    bySpan.asScala.foreach { case (id, c) => byId.get(id).fold(orphan += c)(_.c += c) }
    orphan
  }
}

object Storage {
  private var cleaned: Option[java.util.concurrent.atomic.AtomicLong] = None

  def install(spark: SparkSession): Unit =
    cleaned = FlowBenchBridge.attachCleanerCounter(spark.sparkContext)

  /** Memory plus disk MB of the blocks of every persisted or locally
    * checkpointed RDD the block manager still holds.
    */
  def residentMb(spark: SparkSession): Double =
    spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / 1048576.0

  /** [[residentMb]] after what no one references any more is gone: a
    * full GC, then the context cleaner is given until its cleanup count
    * stops moving (it works off the GC's reference queue in its own
    * thread, so there is no call that waits for it).
    */
  def retainedMb(spark: SparkSession): Double = {
    FlowBenchBridge.drainListenerBus(spark.sparkContext)
    System.gc()
    cleaned.foreach { n =>
      var last = -1L
      var stable = 0
      val deadline = System.nanoTime() + 5000000000L
      while (stable < 3 && System.nanoTime() < deadline) {
        Thread.sleep(50)
        val now = n.get()
        if (now == last) stable += 1 else { stable = 0; last = now }
      }
    }
    FlowBenchBridge.drainListenerBus(spark.sparkContext)
    residentMb(spark)
  }
}

/** A [[MetricsRepository]] decorator for the traced run. Each `add*`
  * call becomes two spans: the incoming frame is computed and cached
  * under the layer that produced it (`profiler.profile`,
  * `anomaly.optimize`, `anomaly.score`), then the cached rows are
  * written under `repository.write`. Reads run under `repository.read`.
  */
class TracingRepository(inner: ParquetRepository, tr: Tracer) extends MetricsRepository {

  private def computed(layer: String, rows: DataFrame)(write: DataFrame => Unit): Unit = {
    val cached = tr.span(layer) {
      val c = rows.persist(StorageLevel.MEMORY_AND_DISK)
      c.write.format("noop").mode("overwrite").save()
      c
    }
    try tr.span("repository.write")(write(cached))
    finally cached.unpersist(blocking = true)
  }

  def registerDataset(meta: DatasetMeta): Unit = tr.span("repository.write")(inner.registerDataset(meta))
  def getDataset(uri: String): Option[DatasetMeta] = tr.span("repository.read")(inner.getDataset(uri))
  def listDatasets(): Seq[DatasetMeta] = tr.span("repository.read")(inner.listDatasets())

  def addProfiling(uri: String, rows: DataFrame): Unit =
    computed("profiler.profile", rows)(inner.addProfiling(uri, _))
  def getProfiling(uri: String, start: Option[java.sql.Timestamp], end: Option[java.sql.Timestamp]): DataFrame =
    tr.span("repository.read")(inner.getProfiling(uri, start, end))

  def addOptimization(uri: String, rows: DataFrame): Unit =
    computed("anomaly.optimize", rows)(inner.addOptimization(uri, _))
  def getOptimization(uri: String): DataFrame = tr.span("repository.read")(inner.getOptimization(uri))

  def addScoring(uri: String, rows: DataFrame): Unit =
    computed("anomaly.score", rows)(inner.addScoring(uri, _))
  def getScoring(uri: String, start: Option[java.sql.Timestamp], end: Option[java.sql.Timestamp]): DataFrame =
    tr.span("repository.read")(inner.getScoring(uri, start, end))
}
