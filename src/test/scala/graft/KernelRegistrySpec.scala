package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.SourceScan.sites

/** The graft kernels are typed Columns (graft.plans.GraftFunctions),
  * so nothing under src/main/scala looks a kernel up by name, writes
  * a function into a session, or installs an optimizer rule. The one
  * session install left is GreedyAllocationPlan's strategy, and every
  * unary kernel runs as the one KernelCall expression. Comments are
  * stripped before the scan, so prose may name the calls. */
class KernelRegistrySpec extends AnyFunSuite {

  test("no kernel is called by name and no function is registered") {
    val found = Seq("call_function\\s*\\(\\s*\"graft_", "\\bcreateOrReplaceTempFunction\\b",
      "\\binjectFunction\\b", "\\bsessionState\\s*\\.\\s*functionRegistry\\b").flatMap(sites(_))
    assert(found.isEmpty, s"name-path kernel calls or function registrations: $found")
  }

  test("no optimizer rule is installed") {
    val found = sites("\\bextraOptimizations\\b")
    assert(found.isEmpty, s"optimizer rule installs: $found")
  }

  test("every unary kernel is the one KernelCall expression") {
    val found = sites("\\bextends\\s+UnaryExpression\\b",
      (file, _, _) => file.endsWith("graft/plans/KernelCall.scala"))
    assert(found.isEmpty, s"hand-written unary kernel expressions: $found")
  }

  test("the only strategy install is GreedyAllocationPlan's") {
    val found = sites("\\bextraStrategies\\b",
      (file, _, _) => file.endsWith("graft/plans/GreedyAllocationPlan.scala"))
    assert(found.isEmpty, s"strategy installs outside GreedyAllocationPlan: $found")
  }
}
