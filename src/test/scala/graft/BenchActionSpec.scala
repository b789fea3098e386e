package graft

import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.catalyst.plans.logical.Window
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.concurrent.Eventually._
import org.scalatest.time.SpanSugar._

/** Bench times what each query computes: the plan of its timed action
  * keeps the query's work. A `count()` let Catalyst prune
  * `q14_window_running` down to a scan of orders, with no `Window`. */
class BenchActionSpec extends SparkSpec {

  test("q14_window_running's timed action runs its Window") {
    val seen = new ConcurrentLinkedQueue[QueryExecution]()
    val listener = new QueryExecutionListener {
      def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = seen.add(qe)
      def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      Bench.timedAction(SparkEntry.queries("q14_window_running")(spark, "/root/testdata/sf0.001"))
      // listener events arrive on the listener bus, after the action returns
      eventually(timeout(30.seconds), interval(100.millis))(assert(!seen.isEmpty))
    } finally spark.listenerManager.unregister(listener)
    val plans = seen.asScala.map(_.optimizedPlan)
    assert(plans.exists(_.exists(_.isInstanceOf[Window])),
      s"the timed action's plan lost the Window:\n${plans.mkString("\n")}")
  }
}
