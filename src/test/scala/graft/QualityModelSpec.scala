package graft

import graft.operators.QualityModel
import org.apache.spark.sql.functions._

import scala.util.Random

/** Learned quality filter vs a separable synthetic corpus. */
class QualityModelSpec extends SparkSpec {
  import spark.implicits._

  private val goodWords = Seq("thorough", "analysis", "evidence", "method",
    "results", "careful", "precise", "measured", "documented", "verified")
  private val spamWords = Seq("buy", "cheap", "click", "winner", "free",
    "pills", "casino", "prize", "urgent", "offer")

  private def corpus(n: Int, seed: Int) = {
    val r = new Random(seed)
    def doc(ws: Seq[String]) =
      Seq.fill(12)(ws(r.nextInt(ws.size))).mkString(" ")
    (0 until n).map { i =>
      val good = i % 2 == 0
      (i.toLong, doc(if (good) goodWords else spamWords),
        if (good) 1.0 else 0.0)
    }.toDF("doc_id", "text", "label").repartition(5)
  }

  test("separable corpus: held-out accuracy clears 0.9 and the metric column agrees") {
    val rows = QualityModel.trainScoreEval(corpus(400, seed = 11),
        "doc_id", "text", "label", trainPct = 70, numFeatures = 256)
      .select("doc_id", "quality_pred", "label", "correct", "heldout_accuracy")
      .as[(Long, Boolean, Int, Boolean, Double)].collect()
    assert(rows.nonEmpty)
    val acc = rows.count(_._4).toDouble / rows.length
    assert(acc >= 0.9, s"held-out accuracy $acc")
    // the broadcast metric column equals the recomputed accuracy
    assert(math.abs(rows.head._5 - BigDecimal(acc).setScale(4,
      BigDecimal.RoundingMode.HALF_UP).toDouble) < 1e-9)
    // correct is derived consistently
    rows.foreach { case (_, pred, label, correct, _) =>
      assert(correct == (pred == (label == 1)))
    }
  }

  test("scoreEval equals trainScoreEval for the same model and split; trainPct is loud") {
    val df = corpus(400, seed = 11)
    // the serve path (train once, scoreEval per query — t21's shape)
    // must reproduce the one-shot form row-for-row, modulo the MLlib
    // fit being the same model object here
    val bucketed = df.withColumn("__b",
      graft.operators.Curation.hashBucket(col("doc_id"), 100))
    val model = QualityModel.train(bucketed.filter(col("__b") < 70),
      "text", "label", numFeatures = 256)
    val served = QualityModel.scoreEval(model, df, "doc_id", "text", "label")
      .orderBy("doc_id").collect().toSeq
    val oneShot = QualityModel.trainScoreEval(df, "doc_id", "text", "label",
        numFeatures = 256)
      .orderBy("doc_id").collect().toSeq
    assert(served == oneShot && served.nonEmpty)
    // a persisted-then-loaded model serves identically (the artifact
    // round-trip the t21 harness exercises)
    val p = QueriesShared.tempDir("qm_spec_").toString + "/m"
    model.write.overwrite().save(p)
    val loaded = org.apache.spark.ml.classification.LogisticRegressionModel.load(p)
    val reServed = QualityModel.scoreEval(loaded, df, "doc_id", "text", "label")
      .orderBy("doc_id").collect().toSeq
    assert(reServed == served)
    // degenerate splits are loud, not silently-empty / opaque MLlib fails
    for (bad <- Seq(0, -5, 100, 170)) {
      val e = intercept[IllegalArgumentException] {
        QualityModel.trainScoreEval(df, "doc_id", "text", "label", trainPct = bad)
      }
      assert(e.getMessage.contains("trainPct"), e.getMessage)
      val e2 = intercept[IllegalArgumentException] {
        QualityModel.scoreEval(model, df, "doc_id", "text", "label", trainPct = bad)
      }
      assert(e2.getMessage.contains("trainPct"), e2.getMessage)
    }
  }

  test("score does not mutate the caller's model params") {
    val df = corpus(100, seed = 3)
    val model = QualityModel.train(df, "text", "label", numFeatures = 128)
    val before = (model.getFeaturesCol, model.getPredictionCol,
      model.getProbabilityCol, model.getRawPredictionCol)
    QualityModel.score(model, df, "text").collect()
    val after = (model.getFeaturesCol, model.getPredictionCol,
      model.getProbabilityCol, model.getRawPredictionCol)
    assert(after == before, s"model params mutated: $before -> $after")
  }

  test("score is a pure map: same model, same scores, corpus order free") {
    val df = corpus(200, seed = 7)
    val model = QualityModel.train(df, "text", "label", numFeatures = 256)
    val a = QualityModel.score(model, df, "text")
      .select("doc_id", "quality_prob").as[(Long, Double)].collect().toMap
    val b = QualityModel.score(model, df.repartition(11), "text")
      .select("doc_id", "quality_prob").as[(Long, Double)].collect().toMap
    assert(a.keySet == b.keySet)
    a.foreach { case (k, v) => assert(math.abs(v - b(k)) < 1e-12) }
  }
}
