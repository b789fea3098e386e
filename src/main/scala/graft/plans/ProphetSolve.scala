package graft.plans

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.types.{DataType, DoubleType, LongType, StructField, StructType}

/** Whole-row ProphetLike normal-equation solve (changepoint + Fourier
  * ridge, reference `src/time_series.py:16-28`'s deterministic
  * stand-in): one compiled kernel call over the single row of
  * per-residue Gram sums, replacing the staged selectExpr level fold
  * of `graft.queries.Events.ProphetRel.levels`.
  *
  * Why an expression and not the level fold: fully fused, the 25
  * levels' formulas land in ONE generated consume method and overflow
  * janino's 64 KB compile limit (the engine's last CodeGenerator
  * fallback, killed in r17); staged every ~4 levels they compile, but
  * the ~7 sequential one-row barrier jobs cost a measured
  * 2.7×/4.7× regression on fc_prophetlike_sales/multi (r17 committed
  * record: 1.58 s / 2.82 s vs 0.57 s / 0.60 s in r16). This kernel
  * evaluates the identical double DAG in one method call — zero
  * barriers, zero codegen risk (the generated code is one static
  * call), and the shared-SQL level text stays the oracle spec.
  *
  * Determinism contract (what makes the result hash-exact against the
  * DuckDB CTE replay of the SAME level text): every operation below
  * mirrors one formula of `ProphetRel.levels` in its exact IEEE
  * evaluation order — integer family sums fold as longs before ONE
  * cast to double; dot products accumulate left-to-right over residue
  * order with the same shared literals (`fval` here IS the constant
  * the SQL text serializes via `Double.toString`, an exact
  * round-trip); the elimination/back-substitution updates are the
  * same left-associated subtract-multiply-divide chains. A property
  * spec (`ProphetKernelSpec`) pins bit-equality against the staged
  * level fold on live data.
  *
  * The numeric core + the input/output layout contract. Constants
  * (`harmonics`/`period`/`ridge`/`fval`) are THE single source of
  * truth — `ProphetRel` builds its SQL level text from these, so the
  * kernel and the oracle text can never drift apart. */
object ProphetSolveKernel {

  val harmonics = 3
  val period = 7
  val ridge = 0.01
  /** Feature count: trend t, changepoint hinge h, K sin/cos pairs. */
  val P: Int = 2 + 2 * harmonics

  /** Feature f (2..P-1) at residue r — the shared double constants
    * both engines consume (the SQL text serializes these via
    * `Double.toString`, an exact round-trip). */
  def fval(f: Int, r: Int): Double = {
    val k = (f - 2) / 2 + 1
    val w = 2 * math.Pi * k * r / period
    if ((f - 2) % 2 == 0) math.sin(w) else math.cos(w)
  }

  /** Gram-sum families in kernel ordinal order (each × 7 residues). */
  val families: Seq[String] =
    Seq("cnt_", "st_", "st2_", "sh_", "sh2_", "sth_", "sy_", "sty_", "shy_")

  /** The struct fields [[solve]] reads, by ordinal: 63 per-residue
    * long sums, then the DECIMAL-ridden Σy² (double), then n_days. */
  val inputCols: Seq[String] =
    families.flatMap(f => (0 until period).map(r => s"$f$r")) ++
      Seq("sy2", "n_days")

  val nInputs: Int = inputCols.size

  /** Per-ordinal input types: 63 long per-residue sums, the
    * DECIMAL-ridden Σy² as double, then the long n_days — what
    * [[solve]]'s getLong/getDouble reads assume and
    * checkInputDataTypes enforces. */
  val inputTypes: Seq[DataType] =
    Seq.fill(families.size * period)(LongType) ++ Seq(DoubleType, LongType)

  val outputNames: Seq[String] = "icpt" +: (0 until P).map(i => s"x$i")

  val outputType: StructType =
    StructType(outputNames.map(n => StructField(n, DoubleType, nullable = false)))

  // family ordinals
  private val CNT = 0; private val ST = 1; private val ST2 = 2
  private val SH = 3; private val SH2 = 4; private val STH = 5
  private val SY = 6; private val STY = 7; private val SHY = 8
  private val SY2_ORD = 9 * 7
  private val NDAYS_ORD = SY2_ORD + 1

  def solve(row: InternalRow): InternalRow = {
    @inline def fam(fi: Int, r: Int): Long = row.getLong(fi * 7 + r)
    // `cast(c_0 + ... + c_6 as double)`: long fold, ONE cast
    def tot(fi: Int): Double = {
      var s = 0L; var r = 0
      while (r < 7) { s += fam(fi, r); r += 1 }
      s.toDouble
    }
    // `(lit_0 * c_0 + ... + lit_6 * c_6)`: left-assoc double fold
    def dot(fi: Int, coef: Int => Double): Double = {
      var acc = coef(0) * fam(fi, 0); var r = 1
      while (r < 7) { acc += coef(r) * fam(fi, r); r += 1 }
      acc
    }
    val nn = row.getLong(NDAYS_ORD).toDouble
    val sy2 = row.getDouble(SY2_ORD)
    val syTot = tot(SY)
    val sx = new Array[Double](P)
    sx(0) = tot(ST); sx(1) = tot(SH)
    var f = 2
    while (f < P) { sx(f) = dot(CNT, fval(f, _)); f += 1 }
    val sxx = Array.ofDim[Double](P, P) // upper triangle j >= i
    sxx(0)(0) = tot(ST2); sxx(0)(1) = tot(STH); sxx(1)(1) = tot(SH2)
    f = 2
    while (f < P) {
      sxx(0)(f) = dot(ST, fval(f, _))
      sxx(1)(f) = dot(SH, fval(f, _))
      var g = f
      while (g < P) {
        val ff = f; val gg = g
        sxx(f)(g) = dot(CNT, r => fval(ff, r) * fval(gg, r))
        g += 1
      }
      f += 1
    }
    val sxy = new Array[Double](P)
    sxy(0) = tot(STY); sxy(1) = tot(SHY)
    f = 2
    while (f < P) { sxy(f) = dot(SY, fval(f, _)); f += 1 }
    // spread: both clamps, shared text — see ProphetRel's scaladoc
    val ystd = math.max(
      math.sqrt(math.max(sy2 / nn - (syTot / nn) * (syTot / nn), 0.0)), 1e-9)
    // centered Gram + ridge diagonal
    val a = Array.ofDim[Double](P, P)
    val b = new Array[Double](P)
    var i = 0
    while (i < P) {
      var j = i
      while (j < P) {
        a(i)(j) =
          if (i == j) sxx(i)(j) - sx(i) * sx(j) / nn + ridge * nn / ystd
          else sxx(i)(j) - sx(i) * sx(j) / nn
        j += 1
      }
      b(i) = sxy(i) - sx(i) * syTot / nn
      i += 1
    }
    // Gaussian elimination (no pivoting — ridge keeps the diagonal
    // away from zero), in-place: level-k reads of row k are the old
    // values, writes touch rows >= k+1 only
    val l = new Array[Double](P)
    var k = 0
    while (k < P - 1) {
      val akk = a(k)(k)
      i = k + 1
      while (i < P) { l(i) = a(k)(i) / akk; i += 1 }
      i = k + 1
      while (i < P) {
        var j = i
        while (j < P) { a(i)(j) = a(i)(j) - l(i) * a(k)(j); j += 1 }
        b(i) = b(i) - l(i) * b(k)
        i += 1
      }
      k += 1
    }
    // back-substitution: left-assoc subtract chain, like the text
    val x = new Array[Double](P)
    i = P - 1
    while (i >= 0) {
      var v = b(i)
      var j = i + 1
      while (j < P) { v -= a(i)(j) * x(j); j += 1 }
      x(i) = v / a(i)(i)
      i -= 1
    }
    // intercept: (sy_tot - (x0*sx0 + ... + x7*sx7)) / nn
    var acc = x(0) * sx(0)
    i = 1
    while (i < P) { acc += x(i) * sx(i); i += 1 }
    val icpt = (syTot - acc) / nn
    val out = new Array[Any](P + 1)
    out(0) = icpt
    i = 0
    while (i < P) { out(i + 1) = x(i); i += 1 }
    new GenericInternalRow(out)
  }
}
