package graft.tools

import org.scalatest.funsuite.AnyFunSuite

class PlanDumpSpec extends AnyFunSuite {

  test("normalise strips the JVM-wide lambda counter and keeps lambda names") {
    // the same filter, planned after different numbers of earlier lambdas
    def plan(n: Int, id: Int) =
      s"filter(ids#${id}, lambdafunction(((lambda x_$n#${id + 1}L & 1) = 1), " +
        s"lambda x_$n#${id + 1}L, false)) AS ids#${id + 2}"
    assert(PlanDump.normalise(plan(5, 40)) == PlanDump.normalise(plan(1, 7)))
    assert(PlanDump.normalise("lambda x_5#12L") == "lambda x_#L")
    // distinct names stay distinct, with or without a counter
    assert(PlanDump.normalise("lambda left#3") != PlanDump.normalise("lambda right#3"))
    assert(PlanDump.normalise("lambda left_2#3") != PlanDump.normalise("lambda right_2#3"))
    assert(PlanDump.normalise("lambda left#3") == "lambda left#")
  }
}
