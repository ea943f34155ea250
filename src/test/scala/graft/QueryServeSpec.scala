package graft

import java.sql.Timestamp

import graft.operators.Ann
import graft.streaming.QueryServe
import org.apache.spark.sql.Row
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** Online kNN serving: streaming queries against a static index. */
class QueryServeSpec extends SparkSpec {
  import spark.implicits._

  test("streamed queries get the same top-k as the batch operator") {
    implicit val sqlCtx = spark.sqlContext
    val corpus = (0 until 30).map { i =>
      (i.toLong, Array(i.toFloat, (30 - i).toFloat))
    }.toDF("vec_id", "embedding")

    val t0 = Timestamp.valueOf("2026-01-01 10:00:00")
    val stream = MemoryStream[(Long, Timestamp, Seq[Double])]
    stream.addData(Seq(
      (100L, t0, Seq(0.0, 30.0)),   // nearest: vec 0
      (101L, t0, Seq(29.0, 1.0))))  // nearest: vec 29
    // advance the watermark past the window so append mode emits
    stream.addData(Seq((999L, Timestamp.valueOf("2026-01-01 10:10:00"),
      Seq(0.0, 0.0))))

    val served = QueryServe.serve(
      stream.toDF().toDF("qid", "ts", "qv"),
      corpus, "embedding", "vec_id", "qid", "ts", "qv", k = 3)

    val q = served.writeStream.format("memory").queryName("serve_test")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val out = spark.table("serve_test")
        .filter($"qid" < 999)
        .select($"qid", $"topk".getField("id").as("ids"))
        .as[(Long, Seq[Long])].collect().toMap
      assert(out(100L).head == 0L)
      assert(out(101L).head == 29L)
      assert(out(100L).length == 3)
    } finally q.stop()
  }

  test("serve: a null embedding is no candidate, not an exact match") {
    implicit val sqlCtx = spark.sqlContext
    // doc 5's embedding is null: its distance is null, which a
    // (dist: Double) top-k entry would read as 0.0 and rank first
    val corpus = (0 until 20).map(i =>
      (i.toLong, if (i == 5) null else Array(i.toFloat, 0.0f))).toDF("vec_id", "embedding")
    val t0 = Timestamp.valueOf("2026-01-01 10:00:00")
    val stream = MemoryStream[(Long, Timestamp, Seq[Double])]
    stream.addData(Seq((100L, t0, Seq(10.2, 1.0))))
    stream.addData(Seq((999L, Timestamp.valueOf("2026-01-01 10:10:00"),
      Seq(0.0, 0.0))))
    val served = QueryServe.serve(stream.toDF().toDF("qid", "ts", "qv"),
      corpus, "embedding", "vec_id", "qid", "ts", "qv", k = 3)
    val q = served.writeStream.format("memory").queryName("serve_null_test")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val top = spark.table("serve_null_test").filter($"qid" === 100L)
        .select($"topk".getField("id"), $"topk".getField("dist"))
        .as[(Seq[Long], Seq[Double])].collect()
      assert(top.length == 1)
      assert(top.head._1 == Seq(10L, 11L, 9L), top.head)
      assert(top.head._2.forall(_ > 0.0), top.head)
    } finally q.stop()
  }

  test("serveIvf: pruned stream results equal batch ivfSearch at the same nprobe") {
    implicit val sqlCtx = spark.sqlContext
    // two well-separated clusters, IVF-assigned via the broadcast path
    val corpus = (0 until 40).map { i =>
      val base = if (i < 20) 0.0f else 100.0f
      (i.toLong, Array(base + (i % 20) * 0.1f, base + (i % 20) * 0.2f))
    }.toDF("vec_id", "embedding")
    val cents = Seq((0L, Array(0.0f, 0.0f)), (1L, Array(100.0f, 100.0f)))
      .toDF("cid", "cvec")
    val assigned = Ann.ivfAssignBig(corpus, "embedding", "vec_id",
      cents, "cid", "cvec")

    val t0 = Timestamp.valueOf("2026-01-01 10:00:00")
    val stream = MemoryStream[(Long, Timestamp, Seq[Double])]
    stream.addData(Seq(
      (100L, t0, Seq(0.05, 0.1)),    // probes cluster 0 only
      (101L, t0, Seq(99.0, 101.0)))) // probes cluster 1 only
    stream.addData(Seq((999L, Timestamp.valueOf("2026-01-01 10:10:00"),
      Seq(0.0, 0.0))))

    val served = QueryServe.serveIvf(
      stream.toDF().toDF("qid", "ts", "qv"), assigned, cents,
      "embedding", "vec_id", "qid", "ts", "qv", "cid", "cvec",
      k = 3, nprobe = 1)

    val q = served.writeStream.format("memory").queryName("serve_ivf_test")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val out = spark.table("serve_ivf_test")
        .filter($"qid" < 999)
        .select($"qid", $"topk".getField("id").as("ids"))
        .as[(Long, Seq[Long])].collect().toMap
      def batch(qv: Seq[Double]) =
        Ann.ivfSearch(assigned, "embedding", "vec_id", cents, "cid", "cvec",
          typedlit(qv), k = 3, nprobe = 1)
          .select("vec_id").as[Long].collect().toSeq
      assert(out(100L) == batch(Seq(0.05, 0.1)))
      assert(out(101L) == batch(Seq(99.0, 101.0)))
    } finally q.stop()
  }
}
