package graft

import org.scalatest.funsuite.AnyFunSuite

/** The `Probe plan` sweep as a suite invariant: EVERY registered query must
  * plan without an unbounded nested-loop or cartesian join. Planning
  * only — nothing executes — so the whole registry audits in seconds
  * and a scale anti-pattern introduced by any future change fails
  * `sbt test`, not just a manually-run tool.
  */
class PlanAuditSpec extends AnyFunSuite with SparkSpec {

  test("no registered query plans an unbounded nested-loop or cartesian join") {
    val d = "/root/testdata/sf0.001"
    val offenders = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
      if (PlanAudit.contractBounded(name)) None
      else {
        val kinds = PlanAudit.unboundedJoins(fn(spark, d))
        if (kinds.isEmpty) None else Some(s"$name: ${kinds.distinct.mkString(", ")}")
      }
    }
    assert(offenders.isEmpty, s"scale anti-patterns:\n${offenders.mkString("\n")}")
  }
}
