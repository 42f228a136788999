package graft.tools

import graft.GraftSession
import org.scalatest.funsuite.AnyFunSuite

/** Executable physical-plan contract: every `-- expect:` in
  * docs/PLAN_AUDIT_r*.txt runs here as a static assert over the query's
  * `executedPlan` string, so a plan regression (lost broadcast, new
  * shuffle, window that stopped pruning map-side, payload bytes crossing
  * an exchange) fails `sbt test` instead of needing a human diff of the
  * audit dump. The checks live next to the audited queries in
  * [[PlanAudit.audits]]; this suite only drives them.
  */
class PlanAuditSpec extends AnyFunSuite {
  lazy val spark = GraftSession.local(4)
  private val sf = "/root/testdata/sf0.01"

  test("round-robin guard: flags an exchange anywhere below a round-robin, not beside it") {
    val overScan =
      """AdaptiveSparkPlan isFinalPlan=false
        |+- HashAggregate(keys=[k#1], functions=[sum(v#2)])
        |   +- Exchange hashpartitioning(k#1, 4), ENSURE_REQUIREMENTS, [plan_id=9]
        |      +- HashAggregate(keys=[k#1], functions=[partial_sum(v#2)])
        |         +- Exchange RoundRobinPartitioning(4), REPARTITION_BY_NUM, [plan_id=8]
        |            +- FileScan parquet [k#1,v#2]""".stripMargin
    assert(PlanAudit.roundRobinOverScanOnly(overScan).isEmpty)
    val besideShuffle =
      """SortMergeJoin [k#1], [k#3], Inner
        |:- Exchange RoundRobinPartitioning(4), REPARTITION_BY_NUM, [plan_id=8]
        |:  +- FileScan parquet [k#1]
        |+- Exchange hashpartitioning(k#3, 4), ENSURE_REQUIREMENTS, [plan_id=9]
        |   +- FileScan parquet [k#3]""".stripMargin
    assert(PlanAudit.roundRobinOverScanOnly(besideShuffle).isEmpty)
    val overShuffle =
      """Exchange RoundRobinPartitioning(4), REPARTITION_BY_NUM, [plan_id=9]
        |+- Project [k#1]
        |   +- SortMergeJoin [k#1], [k#3], Inner
        |      :- FileScan parquet [k#1]
        |      +- Exchange hashpartitioning(k#3, 4), ENSURE_REQUIREMENTS, [plan_id=8]
        |         +- FileScan parquet [k#3]""".stripMargin
    val errs = PlanAudit.roundRobinOverScanOnly(overShuffle)
    assert(errs.size == 1 && errs.head.contains("hashpartitioning(k#3"), errs)
  }

  PlanAudit.audits.foreach { a =>
    test(s"plan contract: ${a.name}") {
      val plan = a.build(spark, sf).queryExecution.executedPlan.toString
      val errs = a.check(plan)
      assert(errs.isEmpty,
        s"\n${a.name} plan regressed [expect: ${a.expectation}]:\n" +
          errs.mkString("  - ", "\n  - ", "") + s"\n--- plan ---\n$plan")
    }
  }
}
