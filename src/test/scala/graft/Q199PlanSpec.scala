package graft

import org.scalatest.funsuite.AnyFunSuite

/** Round-17 plan pin for q199's size-gated broadcast anti (verdict item
  * #3): below the 2e7-edge gate the existing-edge LEFT ANTI must plan as a
  * BroadcastHashJoin LeftAnti BELOW the candidate aggregate. q199's final
  * frame is an eager-checkpoint stub, so the shape is asserted on the
  * CONSTRUCTION-time executed plans, captured by the same probe run that
  * attributes construction work to the query's own lines.
  */
class Q199PlanSpec extends AnyFunSuite {
  private lazy val p =
    ExecPlan.probe(TestSpark.spark, "q199_adamic_adar", "/root/testdata/sf0.001")

  test("q199 plans the existing-edge anti as a broadcast anti under the gate") {
    assert(p.plans.exists { case (_, plan) =>
      plan.contains("BroadcastHashJoin") && plan.contains("LeftAnti") },
      "no construction-time plan contains the broadcast LEFT ANTI — the " +
        "size gate or the anti-below-aggregate shape regressed; plans:\n" +
        p.plans.map(_._2.take(400)).mkString("\n---\n"))
  }

  test("the probe attributes q199's construction to its own SQL executions") {
    val construct = p.layers("construct")
    assert(construct.tasks > 0)
    assert(p.executions.nonEmpty)
    assert(p.executions.forall(_.frame.startsWith("GraphQueries.scala:")),
      p.executions.map(_.frame).mkString(", "))
    assert(p.executions.map(_.wallS).sum <= construct.wallS)
    assert(math.abs(ExecPlan.Layers.map(p.layers(_).wallS).sum - p.wallS) < 1e-6)
  }
}
