package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.GraftBridge.{column, expression}
import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal}
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
import org.apache.spark.sql.functions._

/** Bloom-filter join pruning — the big-big join optimization that
  * matters most at 100 TB: when one side of an equi-join is selective
  * but too large to broadcast as a hash relation, ship a SKETCH of its
  * key set instead and drop non-matching fact rows BEFORE they pay the
  * shuffle. A bloom filter has no false negatives, so the pruned join
  * returns exactly the plain join's rows; false positives only cost
  * the shuffle they would have cost anyway.
  *
  * Spark's own InjectRuntimeFilter does this automatically when its
  * cost heuristics fire; this operator is the explicit form for when
  * the pipeline author KNOWS the dim side is selective (the heuristics
  * are conservative and an automatic filter is silently dropped when
  * stats are missing — common on fresh ingest with no ANALYZE).
  *
  * Mechanics: the dim side aggregates xxhash64(key) into Spark's own
  * BloomFilterAggregate (a partial-aggregating TypedImperativeAggregate
  * — each task builds a local filter, merge is bitwise OR). The ~1 MB
  * serialized filter is collected and re-broadcast as a LITERAL into a
  * BloomFilterMightContain predicate on the fact scan — the same
  * bounded driver state Spark's runtime filter keeps as its scalar
  * subquery result. Both expressions are codegen'd Catalyst natives,
  * built as Columns straight over the expression (GraftBridge.column),
  * so no UDF and no registered function anywhere.
  */
object BloomSemiJoin {

  /** Serialized bloom filter (binary) over `key`, built distributed
    * with map-side partial filters. `numBits` bounds filter size (and
    * so driver/broadcast cost): 8 M bits ≈ 1 MB ≈ 1% fpp at 1 M keys. */
  def buildFilter(dim: DataFrame, key: Column,
                  expectedItems: Long, numBits: Long): Array[Byte] = {
    dim.agg(column(new BloomFilterAggregate(expression(xxhash64(key)),
        Literal(expectedItems), Literal(numBits)).toAggregateExpression()).as("bloom"))
      .collect()(0).getAs[Array[Byte]](0)
  }

  /** might_contain(bloom, xxhash64(key)) as a Column; the filter bytes
    * ride as a foldable literal, which BloomFilterMightContain accepts
    * (its other accepted shape is the scalar subquery Spark's own
    * runtime filter plants). */
  def mightContain(bloom: Array[Byte], key: Column): Column =
    column(BloomFilterMightContain(Literal(bloom), expression(xxhash64(key))))

  /** Inner equi-join with the fact side pre-pruned through a bloom of
    * the dim keys. Exactly the plain join's rows (no false negatives);
    * the win is every pruned fact row skipping the shuffle. A dim side
    * with an empty key set yields an all-reject filter — the join is
    * empty without scanning the fact side past the filter. */
  def prunedJoin(fact: DataFrame, dim: DataFrame,
                 factKey: String, dimKey: String,
                 expectedItems: Long = 1L << 20,
                 numBits: Long = 1L << 23): DataFrame = {
    val bloom = buildFilter(dim, col(dimKey), expectedItems, numBits)
    fact.filter(mightContain(bloom, col(factKey)))
      .join(dim, col(factKey) === col(dimKey))
  }
}
