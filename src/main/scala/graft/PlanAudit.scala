package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec}
import org.apache.spark.sql.execution.GlobalLimitExec

/** Structural scale-anti-pattern audit over physical plans — the core
  * shared by the `Probe plan` sweep and the test-suite invariant
  * (PlanAuditSpec), so "no unbounded nested-loop/cartesian join in any
  * registered query" is enforced on every `sbt test`, not just when
  * someone remembers to run the tool.
  */
object PlanAudit {

  /** Kind + both children of every nested-loop-family join in the plan. */
  def nestedLoopJoins(df: DataFrame): Seq[(String, SparkPlan, SparkPlan)] = {
    val rootPlan = df.queryExecution.executedPlan
    val physical = rootPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    physical.collect {
      case b: BroadcastNestedLoopJoinExec => ("BroadcastNestedLoopJoin", b.left, b.right)
      case cj: CartesianProductExec => ("CartesianProduct", cj.left, cj.right)
    }
  }

  /** A nested-loop/cartesian join is tolerable ONLY when one side is
    * provably bounded — a global (group-less) aggregate or an explicit
    * limit somewhere below it. That is a scalar subquery in join
    * clothing: O(N) work, no shuffle, the same as a ScalarSubquery
    * node. The check is STRUCTURAL, not a name allowlist — if a
    * formerly-bounded query regresses to broadcasting an unbounded
    * side, it fails the sweep.
    */
  def bounded(p: SparkPlan): Boolean = p.collectFirst {
    case a: BaseAggregateExec if a.groupingExpressions.isEmpty => ()
    // LocalLimitExec deliberately does NOT count: a local limit caps
    // rows PER PARTITION, so the side still carries limit*numPartitions
    // rows — unbounded in the sense this audit cares about.
    case _: GlobalLimitExec => ()
    // orderBy + limit plans as TakeOrderedAndProject — a global limit
    // WITH a deterministic order (stricter than GlobalLimit, which
    // keeps partition-arbitrary rows)
    case _: org.apache.spark.sql.execution.TakeOrderedAndProjectExec => ()
  }.isDefined

  /** Brute-force ANN is deliberately query-set x corpus: the broadcast
    * side's boundedness is the OPERATOR's contract (the caller passes a
    * small query set — a filter on a handful of ids the structural
    * check can't prove bounded). Only these carry a contract-level
    * exemption; everything else must prove boundedness in the plan.
    */
  val contractBounded: Set[String] =
    Set(
      "ann_bruteforce_topk",
      "ann_quantized_topk",
      "dedup_embedding_decontaminate",
      // PQ's candidate pass broadcasts the query side's (id, ADC
      // table) against the corpus CODES — same contract as brute
      // force, at m ints per corpus row instead of the float vector
      "ann_pq_topk",
      "ann_pq_topk_exact",
      // MMR's candidate stage IS bruteForceTopK (same small-query-set
      // broadcast contract); the rerank itself adds only a query_id-
      // keyed aggregation
      "similarity_mmr_topk"
    )

  /** Names of nested-loop joins in `df` whose boundedness neither side
    * proves (empty = the plan passes the audit).
    */
  def unboundedJoins(df: DataFrame): Seq[String] =
    nestedLoopJoins(df).collect {
      case (kind, l, r) if !bounded(l) && !bounded(r) => kind
    }
}
