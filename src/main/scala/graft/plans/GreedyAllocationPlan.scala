package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, AttributeReference, SortOrder}
import org.apache.spark.sql.catalyst.expressions.codegen.UnsafeRowWriter
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.types._

/** A1 as a first-class Catalyst operator (the (c) extension tier:
  * LogicalPlan + SparkStrategy + SparkPlan): `GreedyAllocationNode`
  * declares WHAT (allocate stock greedily per product in sequence
  * order) and the physical node declares its data requirements —
  * `ClusteredDistribution(product_id)` + in-partition ordering by
  * (product, day, seq, pos) — so Catalyst plans the exchange and
  * external sort itself, co-plans them with neighboring operators,
  * and AQE sizes the shuffle. The execution body is the engine's one
  * allocation scan, O(1) state per product; `Allocate.viaPlan` plans
  * it and `Allocate.apply` is its typed view.
  *
  * Child contract (by column name): order_id, customer_id,
  * order_datetime, product_id, qty, unit_price decimal(38,18),
  * opening_stock, day, seq, pos — i.e. the DemandLine shape.
  */
case class GreedyAllocationNode(
    reloadDaily: Boolean,
    child: LogicalPlan,
    // constructor fields so plan copies (withNewChildInternal etc.)
    // keep the same exprIds — parents bind against them
    quantityAttr: AttributeReference =
      AttributeReference("quantity", LongType, nullable = false)(),
    lineTotalAttr: AttributeReference =
      AttributeReference("line_total", DecimalType(38, 18), nullable = true)())
    extends UnaryNode {

  private def byName(n: String): Attribute = child.output.find(_.name == n).get

  override def output: Seq[Attribute] = Seq(
    byName("order_id"), byName("customer_id"), byName("order_datetime"),
    byName("product_id"), quantityAttr, byName("unit_price"), lineTotalAttr)

  /** The operator consumes qty/opening_stock/day/seq/pos even though
    * they are absent from `output` — claim the whole child output so
    * ColumnPruning doesn't strip them away beneath us. */
  override def references: org.apache.spark.sql.catalyst.expressions.AttributeSet =
    child.outputSet

  override protected def withNewChildInternal(newChild: LogicalPlan): LogicalPlan =
    copy(child = newChild)
}

object GreedyAllocationStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case n: GreedyAllocationNode =>
      GreedyAllocationExec(n.reloadDaily, n.output, planLater(n.child)) :: Nil
    case _ => Nil
  }
}

case class GreedyAllocationExec(reloadDaily: Boolean, output: Seq[Attribute], child: SparkPlan)
    extends UnaryExecNode {

  private def childAttr(n: String): Attribute = child.output.find(_.name == n).get

  /** Catalyst satisfies these with an Exchange + external SortExec —
    * the operator never materializes a group in memory. */
  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(Seq(childAttr("product_id"))) :: Nil

  override def requiredChildOrdering: Seq[Seq[SortOrder]] =
    Seq(Seq("product_id", "day", "seq", "pos")
      .map(n => SortOrder(childAttr(n), Ascending)))

  override def outputOrdering: Seq[SortOrder] =
    Seq(SortOrder(childAttr("product_id"), Ascending))

  override protected def doExecute(): RDD[InternalRow] = {
    val in = child.output
    def idx(n: String): Int = in.indexWhere(_.name == n)
    val (iOrd, iCust, iDt, iPid, iQty, iPrice, iStock, iDay) =
      (idx("order_id"), idx("customer_id"), idx("order_datetime"), idx("product_id"),
        idx("qty"), idx("unit_price"), idx("opening_stock"), idx("day"))
    child.execute().mapPartitions { it =>
      // Rows are assembled straight into an UnsafeRowWriter buffer —
      // the boxed GenericInternalRow + UnsafeProjection detour cost
      // one java.lang.Long per long column per row plus a second full
      // copy, and the UTF8String clone is unnecessary because the
      // writer copies the bytes into its own buffer immediately. The
      // buffer (and its UnsafeRow view) is reused across rows — the
      // standard operator contract; buffering consumers copy.
      val writer = new UnsafeRowWriter(7)
      // cancelled lines (the common path under stock-out) skip the
      // BigDecimal multiply entirely
      val zero18 = Decimal(java.math.BigDecimal.valueOf(0L, 18))
      var pid = Long.MinValue
      var first = true
      var remaining = 0L
      var opening = 0L
      var curDay = Int.MinValue
      it.map { row =>
        val p = row.getLong(iPid)
        val day = row.getInt(iDay)
        if (first || p != pid) {
          pid = p; first = false
          remaining = row.getLong(iStock); opening = remaining; curDay = day
        } else if (reloadDaily && day != curDay) {
          remaining = opening; curDay = day
        } else {
          curDay = day
        }
        val qty = row.getLong(iQty)
        val filled = if (remaining >= qty) { remaining -= qty; qty } else 0L
        writer.reset()
        writer.zeroOutNullBytes()
        writer.write(0, row.getLong(iOrd))
        writer.write(1, row.getLong(iCust))
        writer.write(2, row.getUTF8String(iDt))
        writer.write(3, p)
        writer.write(4, filled)
        val price = row.getDecimal(iPrice, 38, 18)
        if (price == null) {
          writer.write(5, null: Decimal, 38, 18)
          writer.write(6, null: Decimal, 38, 18)
        } else {
          writer.write(5, price, 38, 18)
          val total =
            if (filled == 0L) zero18
            else Decimal(price.toJavaBigDecimal.multiply(java.math.BigDecimal.valueOf(filled)))
          writer.write(6, total, 38, 18)
        }
        writer.getRow
      }
    }
  }

  override protected def withNewChildInternal(newChild: SparkPlan): SparkPlan =
    copy(child = newChild)
}

object GreedyAllocationPlan {
  /** Install the strategy into a session (idempotent). */
  def ensureRegistered(spark: SparkSession): Unit =
    if (!spark.experimental.extraStrategies.contains(GreedyAllocationStrategy)) {
      spark.experimental.extraStrategies =
        spark.experimental.extraStrategies :+ GreedyAllocationStrategy
    }
}
