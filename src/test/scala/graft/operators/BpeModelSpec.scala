package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.functions._

/** The persisted tokenizer: serving must equal the live encode
  * bit-for-bit, and the probe plan must SCAN the stored vocabulary
  * (bucketed on the join key) instead of re-running training. */
class BpeModelSpec extends SparkSpec {

  import spark.implicits._

  private val corpus = Seq(
    (1L, "low lower lowest low"),
    (2L, "new newer newest new lower"),
    (3L, "low new low new")).toDF("doc_id", "text")

  private def flatten(p: SparkPlan): Seq[SparkPlan] =
    p +: (p match {
      case a: AdaptiveSparkPlanExec => flatten(a.executedPlan)
      case q: QueryStageExec        => flatten(q.plan)
      case r: ReusedExchangeExec    => flatten(r.child)
      case _                        => p.children.flatMap(flatten)
    })

  test("persisted serving equals the live encode and scans the bucketed vocab") {
    val root = java.nio.file.Files.createTempDirectory("bpe_model").toString
    val t = Bpe.train(corpus, col("text"), 6)
    Bpe.ensureModel(spark, root, "spec1", nBuckets = 4) { t }

    val live = Bpe.encodeDocsWith(t, corpus, col("doc_id"), col("text"))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSet
    val served = Bpe.encodeDocsPersisted(spark, "spec1", corpus,
      col("doc_id"), col("text"))
    val got = served.collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSet
    assert(got == live && got.nonEmpty)

    val nodes = flatten(served.queryExecution.executedPlan)
    val vocabScans = nodes.collect {
      case s: FileSourceScanExec
        if s.relation.location.rootPaths.exists(_.toString.contains("vocab")) => s
    }
    assert(vocabScans.nonEmpty, "probe plan must scan the stored vocab table")
    assert(vocabScans.forall(_.bucketedScan),
      "vocab must be read through its bucket layout")
    // no training in the serving plan: training plans carry Window
    // nodes (the per-word merge loop) — serving must have none
    assert(!nodes.exists(_.nodeName.contains("Window")),
      "serving plan must not re-run training")
  }

  test("coverage reports OOV rates and token inflation by hand") {
    val vocab = Seq(("low", "lo w"), ("new", "new")).toDF("word", "encoding")
    // 4 occurrences: low ×2 (2 subwords each), new ×1 (1), zz ×1 (OOV)
    val batch = Seq((1L, "low new low zz")).toDF("doc_id", "text")
    val r = Bpe.coverage(vocab, batch, col("text")).collect()(0)
    assert(r.getLong(0) == 4L && r.getLong(1) == 3L)
    assert(r.getDouble(2) == 0.25)     // 1 of 4 occurrences OOV
    assert(math.abs(r.getDouble(3) - 0.333333) < 1e-6) // 1 of 3 distinct
    assert(r.getDouble(4) == 1.5)      // (2+2+1+1)/4 subwords per word
  }

  test("ensureModel is idempotent and a fresh-session probe needs no retrain") {
    val root = java.nio.file.Files.createTempDirectory("bpe_model2").toString
    Bpe.ensureModel(spark, root, "spec2", nBuckets = 4) {
      Bpe.train(corpus, col("text"), 6)
    }
    var built = false
    // second call must not invoke the build thunk
    Bpe.ensureModel(spark, root, "spec2", nBuckets = 4) {
      built = true
      Bpe.train(corpus, col("text"), 6)
    }
    assert(!built, "ensureModel rebuilt an existing model")
    // a CHILD session (fresh SQL state, shared catalog) serves from
    // the stored tables alone
    val child = spark.newSession()
    val out = Bpe.encodeDocsPersisted(child, "spec2",
      corpus.select(col("doc_id"), col("text")), col("doc_id"), col("text"))
    assert(out.count() == 3)
  }
}
