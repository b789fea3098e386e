package graft.plans

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.types.{DataType, StructType}

/** One static kernel as a value: the name its calls print under, the
  * input type it accepts, the type it returns, and `entry`, the fully
  * qualified static method that compiled code calls with the input
  * followed by `params`. `eval` is the same call for the interpreted
  * path (KernelParitySpec holds the two bit-equal); `widths` are the
  * params analysis requires to be ≥ 1.
  *
  * A param is an Int (inlined into the generated call), a String, a
  * `Seq[Int]` (passed as `int[]`) or a `long[]` model. Equality and
  * hash are by content, model included, so two calls of one kernel
  * with equal params are one expression to CSE and exchange reuse;
  * `eval` follows from `entry` and takes no part. */
final case class Kernel(name: String, input: DataType, output: DataType, entry: String,
                        params: Seq[Any] = Nil, widths: Seq[Int] = Nil)(val eval: Any => Any) {

  require(params.forall {
    case _: Int | _: String | _: Array[Long] => true
    case ns: Seq[_] => ns.forall(_.isInstanceOf[Int])
    case _ => false
  }, s"$name: params must be Int, String, Seq[Int] or Array[Long], got $params")

  override def equals(other: Any): Boolean = other match {
    case k: Kernel => name == k.name && entry == k.entry && input == k.input &&
      output == k.output && widths == k.widths &&
      params.corresponds(k.params)(java.util.Objects.deepEquals)
    case _ => false
  }

  override def hashCode(): Int = 31 * (name, entry, widths).## +
    java.util.Arrays.deepHashCode(params.map(_.asInstanceOf[AnyRef]).toArray)
}

/** The one Catalyst expression every unary graft kernel runs as: it
  * checks the input type, propagates null, and compiles to one static
  * call per row, so the kernel's loop lives in compiled bytecode and
  * whole-stage codegen (and its subexpression elimination) sees a
  * single opaque invoke. Plans print `graft_<name>(child, params…)`;
  * a model prints as a content digest (`llr[n]#<hash>`), never as an
  * array identity, so equal plans print equal. */
case class KernelCall(child: Expression, kernel: Kernel) extends UnaryExpression {

  override def dataType: DataType = kernel.output

  override def prettyName: String = kernel.name

  /** Strict, named by the kernel: a struct input is checked field by
    * field (a field read with getLong where a double lies would
    * reinterpret its bits, not fail), any other input as one type. */
  override def checkInputDataTypes(): TypeCheckResult = {
    def same(want: DataType, got: DataType) =
      DataType.equalsStructurally(want, got, ignoreNullability = true)
    val types = (kernel.input, child.dataType) match {
      case (want: StructType, got: StructType) if want.length == got.length =>
        want.fields.zip(got.fields).collect { case (w, g) if !same(w.dataType, g.dataType) =>
          s"${w.name}: got ${g.dataType.simpleString}, want ${w.dataType.simpleString}"
        }.toSeq
      case (want, got) if !same(want, got) =>
        Seq(s"expects ${want.simpleString}, got ${got.simpleString}")
      case _ => Nil
    }
    val bad = types ++ kernel.widths.filter(_ < 1).map(w => s"width must be >= 1, got $w")
    if (bad.isEmpty) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"${kernel.name} ${bad.mkString("; ")}")
  }

  override protected def nullSafeEval(in: Any): Any = kernel.eval(in)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val args = kernel.params.map {
      case n: Int => n.toString
      case s: String => ctx.addReferenceObj("param", s, "java.lang.String")
      case a: Array[Long] => ctx.addReferenceObj("model", a, "long[]")
      case ns: Seq[_] => ctx.addReferenceObj("widths", ns.map(_.asInstanceOf[Int]).toArray, "int[]")
    }
    nullSafeCodeGen(ctx, ev, in =>
      s"${ev.value} = ${kernel.entry}(${(in +: args).mkString(", ")});")
  }

  override protected def stringArgs: Iterator[Any] = Iterator(child) ++ kernel.params.map {
    case a: Array[Long] => f"llr[${a.length}]#${java.util.Arrays.hashCode(a)}%08x"
    case p => p
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
