package graft

import graft.operators.Knn
import org.apache.spark.sql.functions._

/** V1-V3 kNN operators against brute-force oracles (SURVEY.md §2.5). */
class KnnSpec extends SparkSpec {
  import spark.implicits._

  private def corpus = {
    val rows = (0 until 50).map { i =>
      (i.toLong, Array(i.toFloat, (i * 2).toFloat, (50 - i).toFloat))
    }
    rows.toDF("vec_id", "embedding")
  }

  private val q = Array(0.0f, 0.0f, 50.0f) // closest to vec 0

  private def brute(k: Int): Seq[Long] =
    (0 until 50).map { i =>
      val d = math.sqrt(math.pow(i, 2) + math.pow(i * 2, 2) + math.pow(i, 2))
      (i.toLong, d)
    }.sortBy { case (id, d) => (d, id) }.take(k).map(_._1)

  test("exact kNN matches brute force, ties broken by id") {
    val out = Knn.exact(corpus, "embedding", "vec_id",
        typedlit(q.map(_.toDouble)), 10)
      .select("vec_id").as[Long].collect().toSeq
    assert(out == brute(10))
  }

  test("filtered kNN applies the predicate before top-k (no over-fetch)") {
    val out = Knn.filtered(corpus, "embedding", "vec_id",
        col("vec_id") % 2 === 0, typedlit(q.map(_.toDouble)), 5)
      .select("vec_id").as[Long].collect().toSeq
    assert(out == brute(50).filter(_ % 2 == 0).take(5))
    assert(out.forall(_ % 2 == 0))
  }

  test("batch kNN returns k ranked neighbors per query") {
    val queries = corpus.filter($"vec_id" < 3)
      .select($"vec_id".as("qid"), $"embedding".as("qv"))
    val out = Knn.batch(corpus, "embedding", "vec_id", queries, "qid", "qv", 4)
      .select("qid", "knn_rank", "vec_id")
      .as[(Long, Int, Long)].collect()
    assert(out.length == 12) // 3 queries × 4
    // rank 1 of each query is the query vector itself (distance 0)
    out.filter(_._2 == 1).foreach { case (qid, _, vid) => assert(qid == vid) }
    // ranks are 1..4 per query
    out.groupBy(_._1).values.foreach { g =>
      assert(g.map(_._2).sorted.toSeq == Seq(1, 2, 3, 4))
    }
  }

  test("batch (bounded top-k aggregation) equals per-query brute force") {
    // every query's k nearest by (dist, id), ranks and distances
    // included, against a driver-side brute force over the same rows
    val queries = corpus.filter($"vec_id" < 4)
      .select($"vec_id".as("qid"), $"embedding".as("qv"))
    val vecs = corpus.as[(Long, Array[Float])].collect()
    val expected = vecs.filter(_._1 < 4).toSeq.flatMap { case (qid, qv) =>
      vecs.map { case (id, v) =>
        (id, math.sqrt(v.zip(qv).map { case (a, b) => (a - b).toDouble * (a - b) }.sum))
      }.sortBy { case (id, d) => (d, id) }.take(6).zipWithIndex.map {
        case ((id, d), i) => (qid, i + 1, id, d)
      }
    }
    val got = Knn.batch(corpus, "embedding", "vec_id", queries, "qid", "qv", 6)
      .select("qid", "knn_rank", "vec_id", "dist")
      .as[(Long, Int, Long, Double)].collect().sortBy(r => (r._1, r._2)).toSeq
    assert(got.map(r => (r._1, r._2, r._3)) == expected.map(r => (r._1, r._2, r._3)))
    got.zip(expected).foreach { case (g, e) => assert(math.abs(g._4 - e._4) < 1e-9, s"$g vs $e") }
  }

  test("batch survives k larger than the corpus") {
    val queries = corpus.filter($"vec_id" === 0)
      .select($"vec_id".as("qid"), $"embedding".as("qv"))
    val out = Knn.batch(corpus, "embedding", "vec_id",
      queries, "qid", "qv", 500)
    assert(out.count() == 50) // whole corpus, no padding
  }

  test("batch: a null embedding is no candidate, not an exact match") {
    // 20 docs on a line, doc 5's embedding null: its distance is null,
    // which a (dist: Double) top-k entry would read as 0.0 and rank first
    val docs = (0 until 20).map(i =>
      (i.toLong, if (i == 5) null else Array(i.toFloat, 0.0f))).toDF("vec_id", "embedding")
    val queries = Seq((100L, Seq(10.2, 1.0))).toDF("qid", "qv")
    val out = Knn.batch(docs, "embedding", "vec_id", queries, "qid", "qv", 20)
      .select("knn_rank", "vec_id", "dist").as[(Int, Long, Double)].collect()
      .sortBy(_._1).toSeq
    assert(out.length == 19 && !out.exists(_._2 == 5L), out)
    assert(out.take(3).map(_._2) == Seq(10L, 11L, 9L), out)
    assert(out.forall(_._3 > 0.0), out)
  }

  test("cosine metric ranks by descending similarity") {
    val queries = corpus.filter($"vec_id" === 10)
      .select($"vec_id".as("qid"), $"embedding".as("qv"))
    val out = Knn.batch(corpus, "embedding", "vec_id", queries, "qid", "qv",
        3, metric = "cosine")
      .select("knn_rank", "vec_id").as[(Int, Long)].collect()
    assert(out.find(_._1 == 1).get._2 == 10L) // self is most similar
  }
}
