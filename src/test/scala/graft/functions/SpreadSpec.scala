package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Contract of [[graft.functions.spread]] — the scale-adaptive input
  * spreading the heavy dedup/multimodal scan kernels apply (r14
  * optimization): it must raise an underparallelized input to the
  * session's parallelism, leave already-parallel inputs ALONE (the
  * 100 TB no-op guarantee) and never change the row multiset.
  */
class SpreadSpec extends SparkSpec {
  import spark.implicits._

  private def target = spark.sparkContext.defaultParallelism

  test("spread raises an underparallelized input to defaultParallelism") {
    val one = (1 to 100).toDF("v").coalesce(1)
    assert(one.rdd.getNumPartitions == 1)
    val s = graft.functions.spread(one)
    assert(s.rdd.getNumPartitions == target)
  }

  test("spread is a no-op on an already-parallel input (100 TB path)") {
    val wide = (1 to 100).toDF("v").repartition(target + 3)
    val s = graft.functions.spread(wide)
    // identity: no new Repartition node was layered on top
    assert(s.queryExecution.logical eq wide.queryExecution.logical)
  }

  test("spread preserves the row multiset exactly") {
    val df = (1 to 500).map(i => (i.toLong, s"doc $i word" * (i % 7))).toDF("id", "text").coalesce(1)
    val before = df.collect().map(_.toSeq).toSeq.sortBy(_.toString)
    val after = graft.functions.spread(df).collect().map(_.toSeq).toSeq.sortBy(_.toString)
    assert(before === after)
  }

  test("spread never touches a plan carrying an exchange (r15 guard)") {
    // r14 ADVICE (medium): under AQE, inspecting .rdd on a plan with
    // upstream exchanges EXECUTES those stages at construction time
    // and the later action re-runs them. spread's serial-scan
    // rationale only applies to exchange-free scan inputs, so such a
    // plan is left alone — even when its partition count is low.
    val shuffled = (1 to 100).toDF("v").repartition(1)
    val s = graft.functions.spread(shuffled)
    assert(s.queryExecution.logical eq shuffled.queryExecution.logical)
  }
}
