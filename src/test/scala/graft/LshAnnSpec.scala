package graft

import graft.operators.{Knn, LshAnn}
import org.apache.spark.sql.functions._

/** MLlib LSH ANN vs the exact operators (seeded, so deterministic). */
class LshAnnSpec extends SparkSpec {
  import spark.implicits._

  private def corpus = (0 until 100).map { i =>
    (i.toLong, Array((i % 10).toFloat, (i / 10).toFloat))
  }.toDF("vec_id", "embedding")

  test("approxNearest finds the exact vector for a self-query") {
    val out = LshAnn.approxNearest(corpus, "embedding", "vec_id",
        Seq(3.0, 4.0), k = 5)
      .orderBy("dist").select("vec_id", "dist")
      .as[(Long, Double)].collect()
    assert(out.head._1 == 43L) // (3,4) = id 43
    assert(out.head._2 == 0.0)
  }

  test("approxNearest top-k is a subset of a slightly larger exact top-k") {
    val qv = Seq(5.2, 5.1)
    val approx = LshAnn.approxNearest(corpus, "embedding", "vec_id", qv, 5)
      .select("vec_id").as[Long].collect().toSet
    val exact = Knn.exact(corpus, "embedding", "vec_id",
        typedlit(qv), 25)
      .select("vec_id").as[Long].collect().toSet
    assert(approx.subsetOf(exact))
  }

  test("approxNearestBatch survives query columns named like the corpus's") {
    // the natural recall-eval call: queries drawn from the corpus
    // table itself, so qidCol == idCol and qvecCol == embCol
    val qs = corpus.limit(3).select(col("vec_id"), col("embedding"))
    // under collision the query id is emitted as <qidCol>_q so every
    // output column stays by-name addressable
    val collidedDf = LshAnn.approxNearestBatch(corpus, "embedding", "vec_id",
        qs, "vec_id", "embedding", k = 3, bucketLength = 2.0, numTables = 8)
    assert(collidedDf.columns.toSeq == Seq("vec_id_q", "knn_rank", "vec_id", "dist"))
    val collided = collidedDf
      .select("vec_id_q", "knn_rank", "vec_id", "dist")
      .as[(Long, Int, Long, Double)].collect().toSet
    assert(collided.nonEmpty)
    val renamed = LshAnn.approxNearestBatch(corpus, "embedding", "vec_id",
        qs.select(col("vec_id").as("qid"), col("embedding").as("qv")),
        "qid", "qv", k = 3, bucketLength = 2.0, numTables = 8)
      .toDF("qid", "knn_rank", "doc", "dist")
      .as[(Long, Int, Long, Double)].collect().toSet
    assert(collided == renamed)
  }

  test("approxNearestBatch recall@5 vs exact kNN clears the quality floor") {
    val qs = Seq((0L, Array(3.0f, 4.0f)), (1L, Array(5.2f, 5.1f)),
      (2L, Array(0.0f, 0.0f)), (3L, Array(9.0f, 9.0f)))
      .toDF("qid", "qv")
    val lsh = LshAnn.approxNearestBatch(corpus, "embedding", "vec_id",
        qs, "qid", "qv", k = 5, bucketLength = 2.0, numTables = 8)
      .select("qid", "vec_id").as[(Long, Long)].collect().toSet
    val exact = Knn.batch(corpus, "embedding", "vec_id",
        qs, "qid", "qv", 5)
      .select("qid", "vec_id").as[(Long, Long)].collect().toSet
    // seed-deterministic: this recall is a pinned measurement, not a
    // flaky bound — 8 tables at bucketLength=2 on the 10x10 grid must
    // recover at least 90% of the exact top-5 sets
    val recall = (lsh & exact).size.toDouble / exact.size
    assert(recall >= 0.9, s"recall@5 = $recall")
    // and the approx list is internally consistent: ranks contiguous,
    // distances non-decreasing per query
    val ranked = LshAnn.approxNearestBatch(corpus, "embedding", "vec_id",
        qs, "qid", "qv", k = 5, bucketLength = 2.0, numTables = 8)
      .orderBy("qid", "knn_rank")
      .select("qid", "knn_rank", "dist").as[(Long, Int, Double)].collect()
    ranked.groupBy(_._1).values.foreach { rows =>
      assert(rows.map(_._2).toSeq == (1 to rows.length))
      assert(rows.map(_._3).sliding(2).forall {
        case Array(a, b) => a <= b
        case _ => true
      })
    }
  }

  test("hyperplane sidecar replays model.transform bucketing exactly") {
    // the contract that makes the v6/v10 DuckDB oracles sound: for
    // EVERY corpus vector and every hash table, floor(dot/L) computed
    // from the exported planes equals the fitted model's own bucket.
    // Offset coordinates so buckets span negative and positive values
    // (floor vs truncate would diverge on negatives — this catches it).
    val shifted = corpus.withColumn("embedding",
      transform(col("embedding"), x => x - 4.5f))
    val planes = LshAnn.hyperplanes(shifted, "embedding",
      bucketLength = 2.0, numTables = 4)
    assert(planes.count() == 4)
    val replay = shifted.crossJoin(broadcast(planes))
      .select(col("vec_id"), col("table_idx"),
        floor(graft.functions.VectorFunctions.dot(
          col("embedding").cast("array<double>"), col("plane"))
          / col("bucket_length")).cast("long").as("bucket"))
      .as[(Long, Int, Long)].collect().toSet
    val viaModel = LshAnn.bucketTable(shifted, "embedding", "vec_id",
        bucketLength = 2.0, numTables = 4)
      .as[(Long, Int, Long)].collect().toSet
    assert(viaModel.nonEmpty && replay == viaModel)
    // and buckets genuinely straddle zero, so the floor semantics bit
    assert(viaModel.exists(_._3 < 0) && viaModel.exists(_._3 >= 0))
  }

  test("approxSelfJoin returns only pairs within the distance threshold") {
    val pairs = LshAnn.approxSelfJoin(corpus, "embedding", "vec_id",
        threshold = 1.01, numTables = 6)
      .as[(Long, Long, Double)].collect()
    assert(pairs.nonEmpty)
    pairs.foreach { case (a, b, d) =>
      assert(a < b)
      assert(d <= 1.01)
    }
    // grid neighbors at distance exactly 1 must appear (high-recall config)
    assert(pairs.exists { case (a, b, d) => d == 1.0 })
  }
}
