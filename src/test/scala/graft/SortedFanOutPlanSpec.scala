package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SortExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.scalatest.funsuite.AnyFunSuite

import graft.queries.{SqlOps4, VisionOps, SimOps}

/** Structural pin for the sortedFanOut order contract (r20 VERDICT
  * "what's wrong" #3, fixed r21): the queries that dropped their
  * explicit trailing `orderBy` rely on (a) the plan holding exactly
  * ONE shuffle, the sort's own RANGE exchange, and (b) every
  * heavy-projection operator sitting ABOVE the Sort — narrow
  * projections preserve the range-partitioned in-partition order, so
  * the global order is orderBy's. If a future Catalyst change re-adds
  * an exchange above the Sort, pushes the heavy projection below it,
  * or splits the sort, this spec trips BEFORE the driver's hash gate
  * does. (ParSpec pins the helper's row-level semantics; this pins
  * the declared queries' physical shape.)
  */
class SortedFanOutPlanSpec extends AnyFunSuite {

  private val Sf0001 = "/root/testdata/sf0.001"

  private lazy val spark =
    graft.util.Session.builder(4).appName("sorted-fanout-plan-spec").getOrCreate()

  /** Assert the sortedFanOut shape on a query's physical plan:
    * one range exchange, one Sort, and `heavyMarker` (an expression
    * fragment of the per-row-expensive projection) present in the
    * plan but ABSENT from the Sort's subtree — i.e. evaluated above
    * the established order, never below it. */
  private def pinShape(df: DataFrame, heavyMarker: String): Unit = {
    val plan = df.queryExecution.sparkPlan
    val exchanges = plan.collect { case e: ShuffleExchangeExec => e }
    assert(exchanges.size === 1,
      s"expected exactly one exchange:\n$plan")
    assert(exchanges.head.outputPartitioning.toString
      .toLowerCase.contains("range"),
      s"the single exchange must be the sort's range partitioning:\n$plan")
    val sorts = plan.collect { case s: SortExec => s }
    assert(sorts.size === 1, s"expected exactly one Sort:\n$plan")
    val whole = plan.toString
    val below = sorts.head.toString
    assert(whole.contains(heavyMarker),
      s"heavy marker '$heavyMarker' not found in the plan:\n$whole")
    assert(!below.contains(heavyMarker),
      s"heavy projection '$heavyMarker' leaked BELOW the Sort — the " +
        s"per-row work would run in the pre-shuffle stage:\n$below")
  }

  private def q(all: Seq[graft.queries.QueryDef], name: String): DataFrame =
    all.find(_.name == name).get.fn(spark, Sf0001)

  test("q_xml_funcs: from_xml battery above the single range-sort") {
    pinShape(q(SqlOps4.all, "q_xml_funcs"), "from_xml")
  }

  test("q_multimodal_decode: PNG decode chain above the single range-sort") {
    pinShape(q(SimOps.all, "q_multimodal_decode"), "pngdecodestats")
  }

  test("q_roi_paint: ROI kernel above the single range-sort") {
    pinShape(q(VisionOps.all, "q_roi_paint"), "pngroistats")
  }
}
