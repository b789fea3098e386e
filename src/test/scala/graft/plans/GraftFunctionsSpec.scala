package graft.plans

import graft.SparkSpec
import graft.operators.BloomSemiJoin
import org.apache.spark.sql.catalyst.FunctionIdentifier

/** Runtime registration happens once per session: operator entry
  * points call `ensureRegistered` on every use, so a repeat call must
  * leave the registry as it was (no replace, no replace WARN). */
class GraftFunctionsSpec extends SparkSpec {

  private def graftInfos(s: org.apache.spark.sql.SparkSession) = {
    val registry = s.sessionState.functionRegistry
    registry.listFunction().filter(_.funcName.startsWith("graft_"))
      .map(f => f.funcName -> registry.lookupFunction(f).get).toMap
  }

  test("a second ensureRegistered leaves the function registry unchanged") {
    val s = spark.newSession()
    assert(graftInfos(s).isEmpty, "a fresh session starts without graft functions")
    GraftFunctions.ensureRegistered(s)
    val first = graftInfos(s)
    assert(first.size == 16, s"registered: ${first.keys.toSeq.sorted}")
    GraftFunctions.ensureRegistered(s)
    val second = graftInfos(s)
    assert(second.keySet == first.keySet)
    first.foreach { case (name, info) =>
      assert(second(name) eq info, s"$name was re-registered")
    }
    assert(s.experimental.extraOptimizations.count(_ == RewriteVectorDot) == 1)
  }

  test("the extension path injects the functions the runtime path registers") {
    val injected = scala.collection.mutable.ArrayBuffer[(String, String)]()
    var rules = 0
    new GraftExtensions().apply(new org.apache.spark.sql.SparkSessionExtensions {
      override def injectFunction(f: FunctionDescription): Unit = {
        injected += f._1.funcName -> f._2.getName
        super.injectFunction(f)
      }
      override def injectOptimizerRule(builder: RuleBuilder): Unit = {
        rules += 1
        super.injectOptimizerRule(builder)
      }
    })
    val s = spark.newSession()
    GraftFunctions.ensureRegistered(s)
    assert(injected.map(_._1).sorted == graftInfos(s).keys.toSeq.sorted)
    injected.foreach { case (name, infoName) => assert(infoName == name) }
    assert(rules == 1)
  }

  test("the bloom functions register once per session too") {
    val s = spark.newSession()
    BloomSemiJoin.ensureRegistered(s)
    val first = graftInfos(s)
    assert(first.keySet == Set("graft_bloom_agg", "graft_bloom_contains"))
    BloomSemiJoin.ensureRegistered(s)
    val second = graftInfos(s)
    first.foreach { case (name, info) =>
      assert(second(name) eq info, s"$name was re-registered")
    }
  }

  test("ensureRegistered restores a missing function and keeps the rest") {
    val s = spark.newSession()
    GraftFunctions.ensureRegistered(s)
    val before = graftInfos(s)
    s.sessionState.functionRegistry.dropFunction(FunctionIdentifier("graft_minhash"))
    GraftFunctions.ensureRegistered(s)
    val after = graftInfos(s)
    assert(after.keySet == before.keySet)
    assert(after("graft_minhash") ne before("graft_minhash"))
    (before - "graft_minhash").foreach { case (name, info) =>
      assert(after(name) eq info, s"$name was re-registered")
    }
  }
}
