package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.round

package object functions {

  /** Eagerly materialize an intermediate that is (a) consumed by
    * multiple plan branches or (b) an iteration step whose lineage must
    * be truncated. Default is `localCheckpoint` (executor-local blocks,
    * no configured dir needed) — fine on local[*] and for short-lived
    * jobs, but the blocks die with an executor. On a real cluster set
    * `graft.checkpoint.reliable=true` (plus
    * `sparkContext.setCheckpointDir(...)`) to write reliable HDFS/
    * object-store checkpoints that survive executor loss — the standard
    * hardening for long LSH/connected-components pipelines at 100 TB.
    */
  /** Scale-adaptive input spreading (optimization guide §2.5 "input
    * skew": one huge unsplittable file → repartition immediately after
    * the read). The driver test tables are single-row-group parquet
    * files, so the scan is ONE task and every scan-side kernel (md5
    * shingles, tokenization, header walks, vector folds) runs serial no
    * matter how many cores the session has — `maxPartitionBytes` cannot
    * split a single row group. When the scan's parallelism is below the
    * session's `defaultParallelism`, round-robin repartition to it;
    * otherwise (the 100 TB case — thousands of splittable files) this
    * is a NO-OP, so it is derived from input shape, not tuned to
    * local[32]. Round-robin keeps sortBeforeRepartition (default on),
    * so the row→partition mapping is deterministic under task retry;
    * every registered query is partitioning-independent by repo policy
    * (DECIMAL sums + round6), which the oracle gate re-checks.
    */
  def spread(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    // streaming frames have no .rdd to inspect (and micro-batch
    // parallelism is the source's business) — no-op, never throw
    if (df.isStreaming) return df
    // Decide from the PHYSICAL plan, not df.rdd (r14 ADVICE, medium):
    // under AQE (default on in Spark 4.x) `.rdd` finalizes the adaptive
    // plan, eagerly EXECUTING every upstream shuffle/broadcast stage at
    // DataFrame-construction time — and the later action re-runs them.
    // spread's rationale (§2.5 input skew: unsplittable file → serial
    // scan) only applies to exchange-free scan-side inputs anyway, so
    // any plan carrying an Exchange or a subquery is left untouched
    // without ever calling .rdd. For the remaining exchange-free plans
    // `.rdd` builds the RDD lazily (no stages to materialize, no job)
    // and its partition count IS the scan parallelism.
    val plan = df.queryExecution.sparkPlan
    val hasExchangeOrSubquery =
      plan.exists {
        case _: org.apache.spark.sql.execution.exchange.Exchange => true
        case p => p.expressions.exists(_.exists(
          _.isInstanceOf[org.apache.spark.sql.catalyst.expressions.PlanExpression[_]]))
      }
    val target = df.sparkSession.sparkContext.defaultParallelism
    if (!hasExchangeOrSubquery && df.rdd.getNumPartitions < target)
      df.repartition(target)
    else df
  }

  def materialize(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val reliable = df.sparkSession.conf
      .getOption("graft.checkpoint.reliable")
      .exists(_.toBoolean)
    if (reliable) df.checkpoint(eager = true) else df.localCheckpoint(eager = true)
  }

  /** Cross-engine-stable 6-dp rounding. DuckDB's `round(x,6)` computes
    * `std::round(x*1e6)/1e6` — the x1e6 double multiply can itself
    * round onto an exact .5 (0.43506249..996 x 1e6 == 435062.5
    * exactly), while Spark's `round(x,6)` HALF_UPs the *exact* binary
    * value and disagrees on such ties. Mirroring the multiply-round-
    * divide sequence makes both engines take the identical IEEE path
    * (fuzz-validated over 21k values incl. dyadic ties). The single
    * definition for every operator and query pack.
    */
  def round6(c: Column): Column = round(c * 1e6) / 1e6

  /** [[round6]]'s exact semantics on a JVM double — Spark's Round on a
    * double is BigDecimal HALF_UP at scale 0 over `v * 1e6`. The ONE
    * definition for every driver-side mirror of the engine-parity
    * policy (Logit's gradient weights, the MMR kernel's scores); two
    * diverging copies would silently break cross-engine bit-identity.
    */
  def round6Jvm(v: Double): Double =
    java.math.BigDecimal
      .valueOf(v * 1e6)
      .setScale(0, java.math.RoundingMode.HALF_UP)
      .doubleValue() / 1e6
}
