package graft.plans

import graft.SparkSpec
import org.apache.spark.sql.{AnalysisException, Column, DataFrame, GraftBridge, functions}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure
import org.apache.spark.sql.functions.{col => _, _}

import GraftFunctions._

/** Every unary graft kernel, one table: the interpreted path
  * (`nullSafeEval`, no generated code anywhere) and the compiled path
  * (the one static call inside generated code) give bit-equal results
  * on the same rows, a null input row included, and a mistyped input
  * or a zero width fails the kernel's input check with its name. Inputs
  * are read back from parquet so no optimizer rule evaluates a kernel
  * over a local relation before either path runs, and columns are the
  * input's resolved attributes, so an input check can be read off the
  * expression without a failed analysis (each of which Spark's
  * observation listener logs as an ERROR with a stack trace). */
class KernelParitySpec extends SparkSpec {

  import spark.implicits._

  private lazy val input: DataFrame = {
    val rng = new scala.util.Random(23)
    val words = Vector("a", "bb", "ccc", "über", "日本", "x9", "", "dup", "dup")
    val texts = Seq[String](null, "", "one", "a b c d e f g",
      "dup dup dup dup dup dup", " lead  trail ") ++
      (0 until 40).map(_ => Seq.fill(rng.nextInt(30))(words(rng.nextInt(words.size)))
        .mkString(" "))
    val urls = Seq[String](null, "HTTP://www.Example.com:80/a/./b/../c/?z=1&utm_source=x&a=%7e#f",
      "https://ex.org/p%2fq?b=2&a=1", "https://ex.org/a/b/..", "not a url", "") ++
      (0 until 40).map(i => s"https://h$i.example.com/${"seg/" * (i % 4)}./x/../y?k${i % 3}=v&a=$i")
    val pages = Seq[String](null, "", "<p>alpha beta gamma delta</p>",
      "<div class=\"c\">one <a href=\"x\">two</a> three four five</div><script>x</script>" +
        "<!-- c --><p>&amp; &#x41; &#10; six seven eight nine</p><br/>ten") ++
      texts.drop(4).map(t => s"<html><body><p>$t</p><div>$t <a href='u'>l</a></div></body></html>")
    val rows = (0 until texts.size).map(i => (i.toLong, texts(i), urls(i % urls.size),
      pages(i % pages.size)))
    val dir = java.nio.file.Files.createTempDirectory("kernel_parity").toString + "/in"
    rows.toDF("id", "text", "url", "html")
      .withColumn("toks", split($"text", " "))
      .withColumn("hs", transform($"toks", t => xxhash64(t) % 50L))
      .write.parquet(dir)
    spark.read.parquet(dir)
  }

  /** A column of the input as its resolved attribute. */
  private def col(name: String): Column =
    GraftBridge.column(input.queryExecution.analyzed.output.find(_.name == name).get)

  private def inputCheck(kernel: Column): Option[String] =
    GraftBridge.expression(kernel).checkInputDataTypes() match {
      case TypeCheckFailure(message) => Some(message)
      case _ => None
    }

  private val llr = Array.tabulate(64)(i => (i * 2654435761L) % 1000003L - 500000L)

  /** Gram sums as the solve reads them; null on the null-text row. */
  private def gramSums(col: String => Column): Column =
    when(col("text").isNull, lit(null)).otherwise(struct(
      ProphetSolveKernel.inputCols.zipWithIndex.map { case (n, i) =>
        val v = (col("id") * (i + 3) + length(col("text"))) % 97 + 1
        (if (n == "sy2") v.cast("double") * 1.5 else v.cast("long")).as(n)
      }: _*))

  /** Each kernel: its name, a call on the right input, a mistyped call,
    * over the columns `col` names. */
  private def table(col: String => Column): Seq[(String, Column, Column)] = Seq(
    ("graft_grams", grams(col("toks"), 3), grams(col("text"), 3)),
    ("graft_entropy", entropy(col("text"), ""), entropy(col("toks"), "")),
    ("graft_entropy", entropy(col("text"), " "), entropy(col("id"), " ")),
    ("graft_rep_stats", repStats(col("toks"), Seq(2, 3), Seq(2, 5)),
      repStats(col("text"), Seq(2), Seq(2))),
    ("graft_winnow", winnow(col("hs"), 4), winnow(col("toks"), 4)),
    ("graft_dsir_score", dsirScore(col("text"), llr), dsirScore(col("hs"), llr)),
    ("graft_hash_embed", hashEmbed(col("text"), 16), hashEmbed(col("id"), 16)),
    ("graft_minhash", minhash(col("text"), 3), minhash(col("toks"), 3)),
    ("graft_simhash", simhash(col("text"), 32), simhash(col("id"), 32)),
    ("graft_simhash", simhash(col("text"), 64), simhash(col("hs"), 64)),
    ("graft_html_extract", htmlExtract(col("html"), 3, 2), htmlExtract(col("toks"), 3, 2)),
    ("graft_url_pct", urlPct(col("url")), urlPct(col("id"))),
    ("graft_url_qsort", urlQsort(col("url")), urlQsort(col("hs"))),
    ("graft_url_dotfold", urlDotfold(col("url")), urlDotfold(col("id"))),
    ("graft_url_canon", urlCanon(col("url")), urlCanon(col("toks"))),
    ("graft_prophet_solve", prophetSolve(gramSums(col)), prophetSolve(col("text"))))

  private lazy val kernels = table(col)

  /** The kernel's result per row, printed (Double.toString tells every
    * two distinct doubles apart), under one evaluation path. */
  private def run(kernel: Column, compiled: Boolean): Seq[String] = {
    val conf = Map(
      "spark.sql.codegen.factoryMode" -> (if (compiled) "CODEGEN_ONLY" else "NO_CODEGEN"),
      "spark.sql.codegen.wholeStage" -> compiled.toString)
    val before = conf.keys.map(k => k -> spark.conf.getOption(k)).toMap
    conf.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val df = input.select(col("id"), kernel.as("k")).orderBy("id")
      val rows = df.collect().map(_.toString).toSeq
      if (!compiled) assert(!df.queryExecution.executedPlan.toString.contains("*("),
        s"interpreted run planned whole-stage codegen:\n${df.queryExecution.executedPlan}")
      rows
    } finally before.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  table(functions.col).map(_._1).zipWithIndex.foreach { case (name, i) =>
    test(s"$name (case $i): interpreted and compiled paths are bit-equal, null row included") {
      val kernel = kernels(i)._2
      val interpreted = run(kernel, compiled = false)
      val compiled = run(kernel, compiled = true)
      assert(interpreted.size == input.count())
      assert(interpreted.head == "[0,null]", "a null input yields a null result")
      assert(interpreted.tail.forall(!_.endsWith(",null]")), "a non-null input yields a result")
      assert(interpreted == compiled)
    }
  }

  test("a mistyped input fails the input check with the kernel's name") {
    kernels.foreach { case (name, _, mistyped) =>
      assert(inputCheck(mistyped).exists(_.startsWith(name + " expects ")),
        s"$name: ${inputCheck(mistyped)}")
    }
  }

  test("a width below one fails analysis with the kernel's name") {
    Seq("graft_grams" -> grams(col("toks"), 0),
      "graft_winnow" -> winnow(col("hs"), 0),
      "graft_rep_stats" -> repStats(col("toks"), Seq(2), Seq(0))).foreach {
      case (name, kernel) =>
        assert(inputCheck(kernel).exists(m => m.startsWith(name) && m.contains(">= 1")),
          s"$name: ${inputCheck(kernel)}")
    }
    // the check is the one analysis runs
    val err = intercept[AnalysisException](input.select(grams(col("toks"), 0)))
    assert(err.getMessage.contains("graft_grams") && err.getMessage.contains(">= 1"),
      err.getMessage)
  }

  test("plan text names every kernel and its params") {
    val plan = input.select(kernels.map(_._2): _*).queryExecution.optimizedPlan.toString
    kernels.foreach { case (name, _, _) => assert(plan.contains(name + "("), plan) }
    Seq("graft_grams\\(toks#\\d+, 3\\)", "graft_rep_stats\\(toks#\\d+, 2, 3, 2, 5\\)",
      "graft_dsir_score\\(text#\\d+, llr\\[64\\]#[0-9a-f]{8}\\)",
      "graft_html_extract\\(html#\\d+, 3, 2\\)").foreach(p =>
      assert(p.r.findFirstIn(plan).isDefined, s"$p not in\n$plan"))
  }
}
