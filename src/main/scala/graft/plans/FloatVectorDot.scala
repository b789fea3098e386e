package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** Native dot product over two `array<float>` columns.
  *
  * The built-in composition (`aggregate(zip_with(...))`) materializes
  * an intermediate array per row and walks it through generic
  * HigherOrderFunction machinery; for N²-pair similarity workloads
  * that allocation dominates. This expression compiles to a tight
  * primitive loop inside whole-stage codegen — no allocation, no
  * boxing — and keeps the exact same numeric contract as the lambda
  * form (cast each float to double, multiply, accumulate
  * left-to-right), so results are bit-identical and oracle-stable.
  */
case class FloatVectorDot(left: Expression, right: Expression) extends BinaryExpression {

  override def dataType: DataType = DoubleType

  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (ArrayType(FloatType, _), ArrayType(FloatType, _)) => TypeCheckResult.TypeCheckSuccess
    case _ => TypeCheckResult.TypeCheckFailure(
      s"graft_fvdot expects (array<float>, array<float>), got " +
        s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")
  }

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) { acc += x.getFloat(i).toDouble * y.getFloat(i).toDouble; i += 1 }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val acc = ctx.freshName("acc")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $acc = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $acc += (double) $a.getFloat($i) * (double) $b.getFloat($i);
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Registration: as a `SparkSessionExtensions` injection (for
  * `spark.sql.extensions=graft.plans.GraftExtensions`) and as an
  * idempotent runtime registrar for sessions built without the
  * config. */
class GraftExtensions extends (org.apache.spark.sql.SparkSessionExtensions => Unit) {
  override def apply(ext: org.apache.spark.sql.SparkSessionExtensions): Unit = {
    GraftFunctions.descriptors.foreach(ext.injectFunction)
    ext.injectOptimizerRule(_ => RewriteVectorDot)
  }
}

object GraftFunctions {
  // the window size parameterizes generated code, so it must be a
  // compile-time literal, not a runtime column
  private def mkGrams(children: Seq[Expression]): Expression = children(1) match {
    case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _) =>
      RollingGramHash(children(0), v)
    case other => throw new IllegalArgumentException(
      s"graft_grams(tokens, k): k must be an integer literal, got $other")
  }

  // the window size parameterizes generated code, so it must be a
  // compile-time literal, not a runtime column
  private def mkWinnow(children: Seq[Expression]): Expression = children(1) match {
    case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _) =>
      WinnowSelect(children(0), v)
    case other => throw new IllegalArgumentException(
      s"graft_winnow(hashes, w): w must be an integer literal, got $other")
  }

  // the bucket count sizes the aggregation buffer, so it must be a
  // compile-time literal, not a runtime column
  private def mkDsirCounts(children: Seq[Expression]): Expression = children(2) match {
    case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _) =>
      DsirBucketCounts(children(0), children(1), v)
    case other => throw new IllegalArgumentException(
      s"graft_dsir_counts(text, is_target, buckets): buckets must be an integer literal, got $other")
  }

  // the fitted model rides as a foldable array literal (the
  // BloomSemiJoin bounded-artifact pattern), indexed by bucket
  private def mkDsirScore(children: Seq[Expression]): Expression = children(1) match {
    case org.apache.spark.sql.catalyst.expressions.Literal(
        a: org.apache.spark.sql.catalyst.util.ArrayData,
        org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.LongType, _)) =>
      DsirScore(children(0), a.toLongArray())
    case other => throw new IllegalArgumentException(
      s"graft_dsir_score(text, llr): llr must be an array<long> literal, got $other")
  }

  // the dimension count sizes the per-row accumulator, so it must be
  // a compile-time literal, not a runtime column
  private def mkHashEmbed(children: Seq[Expression]): Expression = children(1) match {
    case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _) =>
      HashEmbed(children(0), v)
    case other => throw new IllegalArgumentException(
      s"graft_hash_embed(text, dims): dims must be an integer literal, got $other")
  }

  // the shingle width parameterizes the window walk, so it must be a
  // compile-time literal, not a runtime column
  private def mkMinhash(children: Seq[Expression]): Expression = children(1) match {
    case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _) =>
      MinHashSig(children(0), v)
    case other => throw new IllegalArgumentException(
      s"graft_minhash(text, n): n must be an integer literal, got $other")
  }

  // the bit width sizes the vote array, so it must be a compile-time
  // literal, not a runtime column
  private def mkSimhash(children: Seq[Expression]): Expression = children(1) match {
    case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _) =>
      SimHashFp(children(0), v)
    case other => throw new IllegalArgumentException(
      s"graft_simhash(text, bits): bits must be an integer literal, got $other")
  }

  // the keep thresholds parameterize generated code, so they must be
  // compile-time literals, not runtime columns
  private def mkHtmlExtract(children: Seq[Expression]): Expression =
    (children(1), children(2)) match {
      case (org.apache.spark.sql.catalyst.expressions.Literal(mt: Int, _),
            org.apache.spark.sql.catalyst.expressions.Literal(inv: Int, _)) =>
        HtmlExtract(children(0), mt, inv)
      case other => throw new IllegalArgumentException(
        s"graft_html_extract(html, min_tokens, density_inv): thresholds " +
          s"must be integer literals, got $other")
    }

  // the gram widths size the per-document passes, so they must be
  // array<int> literals, not runtime columns
  private def mkRepStats(children: Seq[Expression]): Expression =
    (children(1), children(2)) match {
      case (org.apache.spark.sql.catalyst.expressions.Literal(
              a: org.apache.spark.sql.catalyst.util.ArrayData,
              org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.IntegerType, _)),
            org.apache.spark.sql.catalyst.expressions.Literal(
              b: org.apache.spark.sql.catalyst.util.ArrayData,
              org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.IntegerType, _))) =>
        RepetitionStats(children(0), a.toIntArray().toSeq, b.toIntArray().toSeq)
      case other => throw new IllegalArgumentException(
        s"graft_rep_stats(tokens, top_ns, dup_ns): widths must be " +
          s"array<int> literals, got $other")
    }

  // the alphabet delimiter parameterizes the scan, so it must be a
  // string literal, not a runtime column
  private def mkEntropy(children: Seq[Expression]): Expression = children(1) match {
    case org.apache.spark.sql.catalyst.expressions.Literal(v: org.apache.spark.unsafe.types.UTF8String, _) =>
      TextEntropy(children(0), if (v == null) "" else v.toString)
    case other => throw new IllegalArgumentException(
      s"graft_entropy(text, delim): delim must be a string literal, got $other")
  }

  /** Every graft function: its name, the expression class its
    * `ExpressionInfo` names, and its builder. Both registration paths
    * (`GraftExtensions` and `ensureRegistered`) read this one table. */
  private val functions: Seq[(String, Class[_ <: Expression], Seq[Expression] => Expression)] = Seq(
    ("graft_fvdot", classOf[FloatVectorDot], cs => FloatVectorDot(cs(0), cs(1))),
    ("graft_grams", classOf[RollingGramHash], mkGrams),
    ("graft_entropy", classOf[TextEntropy], mkEntropy),
    ("graft_rep_stats", classOf[RepetitionStats], mkRepStats),
    ("graft_winnow", classOf[WinnowSelect], mkWinnow),
    ("graft_dsir_counts", classOf[DsirBucketCounts], mkDsirCounts),
    ("graft_dsir_score", classOf[DsirScore], mkDsirScore),
    ("graft_hash_embed", classOf[HashEmbed], mkHashEmbed),
    ("graft_minhash", classOf[MinHashSig], mkMinhash),
    ("graft_simhash", classOf[SimHashFp], mkSimhash),
    ("graft_html_extract", classOf[HtmlExtract], mkHtmlExtract),
    ("graft_url_pct", classOf[UrlPercentNorm], cs => UrlPercentNorm(cs(0))),
    ("graft_url_qsort", classOf[UrlQuerySort], cs => UrlQuerySort(cs(0))),
    ("graft_url_dotfold", classOf[UrlDotFold], cs => UrlDotFold(cs(0))),
    ("graft_url_canon", classOf[UrlCanon], cs => UrlCanon(cs(0))),
    ("graft_prophet_solve", classOf[ProphetSolve], cs => ProphetSolve(cs(0))))

  /** The table as `SparkSessionExtensions.injectFunction` descriptors. */
  def descriptors: Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] =
    functions.map { case (name, cls, builder) =>
      (FunctionIdentifier(name), new ExpressionInfo(cls.getName, name), builder)
    }

  /** Registers each graft function the session does not have yet, so
    * a repeat call (one per operator entry point, several per
    * micro-batch) is a no-op rather than a replace-and-WARN of all of
    * them. */
  def ensureRegistered(spark: SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    functions.foreach { case (name, _, builder) =>
      if (!registry.functionExists(FunctionIdentifier(name)))
        registry.createOrReplaceTempFunction(name, builder, "scala_udf")
    }
    if (!spark.experimental.extraOptimizations.contains(RewriteVectorDot)) {
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ RewriteVectorDot
    }
  }
}
