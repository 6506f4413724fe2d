package graft.tools

import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import graft.{LocalSession, SparkEntry}
import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{GraftColumnBridge, SparkSession}

/** The measurement discipline shared by [[graft.Bench]] and [[Probe]]:
  * one session start, one untimed warmup, one cache/GC hygiene step,
  * one rep loop and one job counter, so a number taken by either tool
  * is taken the same way and stays comparable to bench_detail.json.
  */
object Harness {

  /** The shared local session, logging at ERROR: a tool's parseable
    * stdout must stay readable in a bounded output tail, so routine
    * executor warnings are silenced.
    */
  def session(): SparkSession = LocalSession.create("ERROR")

  /** Untimed warmup: JIT, classloading and parquet footer caches would
    * otherwise be billed to whichever key runs first. Guarded, so a data
    * dir without the documents table does not stop the tool before any
    * timing runs. Ends with [[hygiene]]: the first timed key must not
    * inherit the warmup's cache blocks or garbage. Returns its seconds.
    */
  def warmup(spark: SparkSession, sfDir: String): Double = {
    val t0 = System.nanoTime()
    try {
      spark.range(1000000).selectExpr("sum(id)").count()
      SparkEntry.entry(spark).count()
      SparkEntry.queries("text_quality")(spark, sfDir).count()
    } catch { case NonFatal(_) => () }
    hygiene(spark)
    since(t0)
  }

  /** Drops every cached block and runs the collector; returns its
    * seconds. Run between keys (not between reps, where a rep absorbing
    * its predecessor's garbage is steady state and a per-rep GC was
    * measured at ~66 s of a ~100 s bench): cross-key isolation only
    * needs the collector run before the next key's first rep.
    */
  def hygiene(spark: SparkSession): Double = {
    val t0 = System.nanoTime()
    spark.catalog.clearCache()
    System.gc()
    since(t0)
  }

  /** Seconds `body` takes. */
  def timed(body: => Any): Double = {
    val t0 = System.nanoTime()
    body
    since(t0)
  }

  /** What [[reps]] returns: the reps that completed, the throw that
    * ended the loop early (if any) and the untimed seconds spent on
    * clearCache between reps.
    */
  final case class Reps[A](done: Seq[A], error: Option[Throwable], hygieneSec: Double)

  /** Runs `rep` up to `n` times and stops at the first throw. Every rep,
    * failed or not, is followed by an untimed clearCache: keys that
    * persist or localCheckpoint intermediates leave blocks behind, and
    * blocks accumulated over 100+ keys show up as multi-second GC
    * spikes on whichever key the collector lands on.
    */
  def reps[A](spark: SparkSession, n: Int)(rep: => A): Reps[A] = {
    val done = ArrayBuffer.empty[A]
    var error: Option[Throwable] = None
    var hygieneSec = 0.0
    while (done.size < n && error.isEmpty) {
      try done += rep
      catch { case e: Throwable => error = Some(e) }
      val t0 = System.nanoTime()
      spark.catalog.clearCache()
      hygieneSec += since(t0)
    }
    Reps(done.toSeq, error, hygieneSec)
  }

  /** Counts the Spark jobs started on `sc` while it is open. [[count]]
    * drains the listener bus first, so every job submitted before the
    * call is counted, whatever the host load. Closing removes the
    * listener.
    */
  final class JobCounter(sc: SparkContext) extends AutoCloseable {
    private val started = new AtomicInteger(0)
    private val listener = new SparkListener {
      override def onJobStart(jobStart: SparkListenerJobStart): Unit = {
        started.incrementAndGet(); ()
      }
    }
    sc.addSparkListener(listener)

    def count(): Int = {
      GraftColumnBridge.drainListenerBus(sc)
      started.get
    }

    def close(): Unit = sc.removeSparkListener(listener)
  }

  private def since(t0: Long): Double = (System.nanoTime() - t0) / 1e9
}
