package graft.operators

import graft.SparkSpec
import graft.plans.GraftFunctions
import graft.queries.DataOps
import org.apache.spark.sql.GraftBridge
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.functions._

/** Persisted DSIR model: train-once/serve-many semantics. */
class DsirModelSpec extends SparkSpec {

  import spark.implicits._

  private def pool = Seq(
    (0L, "alpha beta gamma alpha beta", true),
    (1L, "beta gamma alpha beta gamma", true),
    (2L, "alpha beta gamma beta alpha", false),
    (3L, "zork quux blarg frobnitz zork", false)
  ).toDF("doc_id", "text", "is_target")

  private val root =
    java.nio.file.Files.createTempDirectory("dsir_model").toString

  test("persisted scoring is bit-equal to the live fit and ensure is idempotent") {
    val live = Dsir.weights(pool, col("text"), col("doc_id"), col("is_target"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

    Dsir.ensureModel(spark, root, "spec") {
      Dsir.ratios(Dsir.gramBag(pool, col("text"), col("doc_id"), col("is_target")))
    }
    // second ensure must not refit: a throwing build thunk proves the
    // stored artifact serves alone (the IvfPqModelSpec contract)
    Dsir.ensureModel(spark, root, "spec") {
      sys.error("ensureModel refit despite an existing model table")
    }
    val served = Dsir.weightsPersisted(spark, "spec", pool,
      col("text"), col("doc_id"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(served == live)
  }

  test("serving is one shuffle-free projection pass — no explode, no join") {
    Dsir.ensureModel(spark, root, "spec2") {
      Dsir.ratios(Dsir.gramBag(pool, col("text"), col("doc_id"), col("is_target")))
    }
    // file-backed pool: ConvertToLocalRelation folds the projection
    // over a LocalRelation, leaving no plan text to assert on
    val dir = java.nio.file.Files.createTempDirectory("dsir_model_plan").toString
    pool.write.mode("overwrite").parquet(dir)
    val plan = Dsir.weightsPersisted(spark, "spec2", spark.read.parquet(dir),
      col("text"), col("doc_id"))
      .queryExecution.executedPlan.toString
    assert(plan.contains("graft_dsir_score"), plan)
    assert(!plan.contains("Generate explode"), s"gram explode resurfaced:\n$plan")
    assert(!plan.contains("Join"), s"model join resurfaced:\n$plan")
    assert(!plan.contains("Exchange"), s"serving pass shuffles:\n$plan")
  }

  test("a fresh batch scores against the stored model without refit") {
    Dsir.ensureModel(spark, root, "spec3") {
      Dsir.ratios(Dsir.gramBag(pool, col("text"), col("doc_id"), col("is_target")))
    }
    val batch = Seq((10L, "alpha beta gamma alpha beta"),
      (11L, "unseen tokens entirely here now")).toDF("doc_id", "text")
    val w = Dsir.weightsPersisted(spark, "spec3", batch,
      col("text"), col("doc_id"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // doc 10 wears doc 0's exact text, so it inherits doc 0's weight
    val w0 = Dsir.weights(pool, col("text"), col("doc_id"), col("is_target"))
      .filter(col("doc_id") === 0).collect()(0).getLong(1)
    assert(w(10L) == w0, "same text, same model, same weight")
    // doc 11 is all-unseen: 5 unigrams + 4 bigrams, each scored by
    // the spine's smoothed default ln((R+B)/(T+B)) — never dropped,
    // never an ad-hoc zero
    val default = spark.table("dsir_model_spec3")
      .join(Dsir.gramBag(pool, col("text"), col("doc_id"), col("is_target"))
        .select("bucket").distinct(), Seq("bucket"), "left_anti")
      .select("llr_micro").distinct().collect()
    assert(default.length == 1, "every untouched bucket shares one default")
    assert(w(11L) == 9L * default(0).getLong(0))
  }

  test("the scoring kernel prints and compares its model by content") {
    // two builds of ds_dsir_persisted load the same stored model into
    // two arrays; with exprIds renumbered in order of appearance their
    // optimized plans must print identically
    val sf = java.nio.file.Files.createTempDirectory("dsir_plan").toString
    pool.withColumn("lang", when(col("is_target"), "en").otherwise("de"))
      .drop("is_target").write.parquet(s"$sf/documents.parquet")
    def plan(): String = {
      val ids = scala.collection.mutable.Map.empty[String, Int]
      "#(\\d+)".r.replaceAllIn(
        DataOps.dsDsirPersisted(spark, sf).queryExecution.optimizedPlan.toString,
        m => "#" + ids.getOrElseUpdate(m.group(1), ids.size))
    }
    val first = plan()
    assert(first.contains("graft_dsir_score"), first)
    assert(plan() == first)

    val llr = Array.tabulate(16)(i => i * 7L - 3L)
    val text = GraftBridge.column(Literal("alpha beta"))
    def score(m: Array[Long]) = GraftBridge.expression(GraftFunctions.dsirScore(text, m))
    assert(score(llr) == score(llr.clone))
    assert(score(llr).hashCode == score(llr.clone).hashCode)
    assert(score(llr) != score(llr.map(_ + 1)))
  }
}
