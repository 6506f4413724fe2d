package graft.tools

import graft.{SparkEntry, SparkSpec}
import org.apache.spark.sql.ListenerBusProbe

/** The shared measurement harness, driven through its functions with the
  * suite's session (the tools' `main` stops the session it runs on).
  */
class HarnessSpec extends SparkSpec {
  private val sf = "/root/testdata/sf0.001"

  private def withJobs[A](body: Harness.JobCounter => A): A = {
    val jobs = new Harness.JobCounter(spark.sparkContext)
    try body(jobs)
    finally jobs.close()
  }

  test("a key whose second rep throws is reported as failed") {
    var calls = 0
    val flaky: Probe.Query = (s, _) => {
      calls += 1
      if (calls == 2) throw new IllegalStateException("second rep")
      s.range(10).toDF()
    }
    val r = withJobs(Probe.timeKey(spark, sf, flaky, 3, Probe.countSink, _))
    assert(r.done.size == 1)
    assert(r.error.exists(_.getMessage == "second rep"))
    assert(Probe.timeLine("flaky", r).startsWith("TIME flaky FAILED after 1 rep(s)"))
  }

  test("Probe time on q1_agg reports at least one job per rep") {
    val r = withJobs(Probe.timeKey(spark, sf, SparkEntry.queries("q1_agg"), 2, Probe.countSink, _))
    assert(r.error.isEmpty && r.done.size == 2)
    assert(r.done.forall(rep => rep.jobs >= 1 && rep.constructJobs <= rep.jobs))
    assert(Probe.timeLine("q1_agg", r).contains("jobs="))
  }

  test("the job counter counts settled jobs and removes its listener on close") {
    val sc = spark.sparkContext
    val baseline = ListenerBusProbe.listenerCount(sc)
    val jobs = new Harness.JobCounter(sc)
    try {
      assert(ListenerBusProbe.listenerCount(sc) == baseline + 1)
      val before = jobs.count()
      spark.range(100).count()
      assert(jobs.count() - before >= 1)
    } finally jobs.close()
    assert(ListenerBusProbe.listenerCount(sc) == baseline)
  }

  test("Probe plan's audit sweep flags a deliberately cartesian frame") {
    val cartesian: Probe.Query = (s, _) => s.range(50).crossJoin(s.range(50).toDF("id2"))
    assert(Probe.auditLine(spark, sf, "cartesian", cartesian).startsWith("[antipattern] cartesian"))
    assert(Probe.auditLine(spark, sf, "q1_agg", SparkEntry.queries("q1_agg")) == "[ok] q1_agg")
  }
}
