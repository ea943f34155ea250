package graft

import graft.operators.Bm25
import org.apache.spark.sql.functions._

/** BM25 scores vs the hand-computed Robertson formula; RRF fusion vs
  * direct arithmetic. */
class Bm25Spec extends SparkSpec {
  import spark.implicits._

  private def corpus = Seq(
    (0L, "spark join join fast"),
    (1L, "merge sort merge"),
    (2L, "join merge stream"),
    (3L, "nothing relevant here at all today"),
    (4L, "stream stream stream stream")).toDF("doc_id", "text")

  test("score matches the closed-form BM25 with k1=1.2 b=0.75") {
    val got = Bm25.score(corpus, "text", Seq("join", "merge"))
      .select("doc_id", "bm25").as[(Long, Double)].collect().toMap

    val texts = Map(0L -> "spark join join fast", 1L -> "merge sort merge",
      2L -> "join merge stream", 3L -> "nothing relevant here at all today",
      4L -> "stream stream stream stream")
    val n = texts.size.toDouble
    val dls = texts.map { case (k, v) => k -> v.split(" ").length.toDouble }
    val avgdl = dls.values.sum / n
    def tf(id: Long, t: String) = texts(id).split(" ").count(_ == t).toDouble
    def df(t: String) = texts.keys.count(id => tf(id, t) > 0).toDouble
    def s(id: Long, t: String): Double = {
      val f = tf(id, t)
      if (f == 0) 0.0
      else math.log(1.0 + (n - df(t) + 0.5) / (df(t) + 0.5)) * f * 2.2 /
        (f + 1.2 * (0.25 + 0.75 * dls(id) / avgdl))
    }
    texts.keys.foreach { id =>
      assert(math.abs(got(id) - (s(id, "join") + s(id, "merge"))) < 1e-12, id)
    }
  }

  test("topK returns only positive scores, ordered desc with id tie-break") {
    val r = Bm25.topK(corpus, "doc_id", "text", Seq("join", "merge"), 10)
      .select("doc_id", "bm25").as[(Long, Double)].collect().toSeq
    assert(r.forall(_._2 > 0))
    assert(!r.map(_._1).contains(3L) && !r.map(_._1).contains(4L))
    assert(r == r.sortBy(p => (-p._2, p._1)))
  }

  test("rrf fuses bounded lists; absent docs score one-sided") {
    val a = Seq((1L, 1), (2L, 2), (3L, 3)).toDF("doc_id", "rank")
    val b = Seq((2L, 1), (4L, 2)).toDF("doc_id", "rank")
    val got = Bm25.rrf(a, b, "doc_id")
      .select("doc_id", "rrf_score").as[(Long, Double)].collect().toMap
    assert(math.abs(got(2L) - (1.0 / 62 + 1.0 / 61)) < 1e-12)
    assert(math.abs(got(1L) - 1.0 / 61) < 1e-12)
    assert(math.abs(got(4L) - 1.0 / 62) < 1e-12)
    assert(got.keySet == Set(1L, 2L, 3L, 4L))
  }

  test("buildPostings: df/cf/doc-sorted posting lists") {
    val idx = Bm25.buildPostings(corpus, "doc_id", "text")
      .select("term", "df", "cf", "postings").collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2),
        r.getSeq[org.apache.spark.sql.Row](3).map(p => (p.getLong(0), p.getLong(1)))))
      .toMap
    assert(idx("join") == ((2L, 3L, Seq((0L, 2L), (2L, 1L)))))
    assert(idx("stream") == ((2L, 5L, Seq((2L, 1L), (4L, 4L)))))
    assert(idx("merge") == ((2L, 3L, Seq((1L, 2L), (2L, 1L)))))
    // posting lists sorted by doc_id for every term
    idx.values.foreach { case (_, _, ps) =>
      assert(ps.map(_._1) == ps.map(_._1).sorted)
    }
  }

  test("topKFromIndex returns bit-identical scores to the direct topK") {
    val terms = Seq("join", "merge", "stream")
    val direct = Bm25.topK(corpus, "doc_id", "text", terms, 10)
      .select("doc_id", "tf_join", "tf_merge", "tf_stream", "bm25")
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2),
        r.getDouble(3), r.getDouble(4))).toSeq
    val viaIndex = Bm25.topKFromIndex(
        Bm25.buildPostings(corpus, "doc_id", "text"),
        Bm25.docLengths(corpus, "doc_id", "text"), "doc_id", terms, 10)
      .select("doc_id", "tf_join", "tf_merge", "tf_stream", "bm25")
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2),
        r.getDouble(3), r.getDouble(4))).toSeq
    assert(viaIndex == direct)
  }

  test("an on-disk index partitioned by term bucket serves with partition pruning") {
    val dir = QueriesShared.tempDir("graft_bm25_idx").toString
    try {
      Bm25.buildPostings(corpus, "doc_id", "text")
        .withColumn("tb", graft.operators.Curation.hashBucket(col("term"), 8))
        .write.mode("overwrite").partitionBy("tb").parquet(dir)
      val terms = Seq("join", "stream")
      // driver-side bucket of each query term = the partitions to read
      val buckets = spark.createDataset(terms)
        .select(graft.operators.Curation.hashBucket(col("value"), 8))
        .as[Long].collect().toSeq.distinct
      val pruned = spark.read.parquet(dir).filter(col("tb").isin(buckets: _*))
      val served = Bm25.topKFromIndex(pruned,
          Bm25.docLengths(corpus, "doc_id", "text"), "doc_id", terms, 10)
        .select("doc_id", "bm25").as[(Long, Double)].collect().toSeq
      val direct = Bm25.topK(corpus, "doc_id", "text", terms, 10)
        .select("doc_id", "bm25").as[(Long, Double)].collect().toSeq
      assert(served == direct)
      val plan = pruned.queryExecution.executedPlan.toString
      assert("PartitionFilters: \\[[^\\]]*tb".r.findFirstIn(plan).isDefined,
        s"no partition pruning in:\n$plan")
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }

  test("terms containing '.' or backquote score identically via index and direct") {
    // whitespace tokenization lets these through; neither path may
    // round-trip them through col()-name resolution
    val docs = Seq(
      (0L, "a.b x y a.b"),
      (1L, "x `q` z w"),
      (2L, "a.b `q` other words")).toDF("doc_id", "text")
    val terms = Seq("a.b", "`q`")
    val direct = Bm25.topK(docs, "doc_id", "text", terms, 10)
      .select(col("doc_id"), col("bm25")).as[(Long, Double)].collect().toSeq
    val viaIndex = Bm25.topKFromIndex(
        Bm25.buildPostings(docs, "doc_id", "text"),
        Bm25.docLengths(docs, "doc_id", "text"), "doc_id", terms, 10)
      .select(col("doc_id"), col("bm25")).as[(Long, Double)].collect().toSeq
    assert(direct.nonEmpty && viaIndex == direct)
  }

  test("fixed-order term sum: scores are reproducible across partitionings") {
    val r1 = Bm25.score(corpus, "text", Seq("join", "merge", "stream"))
      .select("doc_id", "bm25").as[(Long, Double)].collect().toMap
    val r2 = Bm25.score(corpus.repartition(5), "text", Seq("join", "merge", "stream"))
      .select("doc_id", "bm25").as[(Long, Double)].collect().toMap
    assert(r1 == r2)
  }

  test("upsertPostings: merged index equals a from-scratch build over the union") {
    def canon(df: org.apache.spark.sql.DataFrame) = df
      .select(col("term"), col("df"), col("cf"),
        to_json(col("postings")).as("p"))
      .as[(String, Long, Long, String)].collect().toSet
    val stored = Bm25.buildPostings(corpus.filter($"doc_id" <= 2), "doc_id", "text")
    val batch = corpus.filter($"doc_id" > 2)
    val merged = Bm25.upsertPostings(stored, batch, "doc_id", "text")
    assert(canon(merged) == canon(Bm25.buildPostings(corpus, "doc_id", "text")))
    // a batch introducing an entirely new term ("today") lands with
    // stored-side nulls coalesced — df/cf from the batch alone
    val newTerm = merged.filter($"term" === "today")
      .select("df", "cf").as[(Long, Long)].head()
    assert(newTerm == ((1L, 1L)))
  }

  test("deletePostings: compacted index equals a from-scratch build over live docs") {
    def canon(df: org.apache.spark.sql.DataFrame) = df
      .select(col("term"), col("df"), col("cf"),
        to_json(col("postings")).as("p"))
      .as[(String, Long, Long, String)].collect().toSet
    val stored = Bm25.buildPostings(corpus, "doc_id", "text")
    val deleted = corpus.filter($"doc_id" === 3)
    val compacted = Bm25.deletePostings(stored, deleted, "doc_id", "text")
    assert(canon(compacted) ==
      canon(Bm25.buildPostings(corpus.filter($"doc_id" =!= 3), "doc_id", "text")))
    // a term only doc 3 carried must vanish entirely (no zero-df debris)
    val doc3Only = Bm25.buildPostings(deleted, "doc_id", "text")
      .join(Bm25.buildPostings(corpus.filter($"doc_id" =!= 3), "doc_id", "text")
        .select("term"), Seq("term"), "left_anti")
      .select("term").as[String].collect()
    assert(doc3Only.nonEmpty, "fixture must have a doc-3-exclusive term")
    doc3Only.foreach(t =>
      assert(compacted.filter($"term" === t).isEmpty, s"debris term $t"))
    // idempotent: deleting the same doc again is a no-op
    assert(canon(Bm25.deletePostings(compacted, deleted, "doc_id", "text"))
      == canon(compacted))
    // deleting every doc empties the index entirely
    assert(Bm25.deletePostings(stored, corpus, "doc_id", "text").isEmpty)
  }

  test("diff-driven reindex (i4 composition) equals a from-scratch build") {
    def canon(df: org.apache.spark.sql.DataFrame) = df
      .select(col("term"), col("df"), col("cf"),
        to_json(col("postings")).as("p"))
      .as[(String, Long, Long, String)].collect().toSet
    // old: docs 1-4, doc 2's text stale; new: docs 2-5 (1 removed,
    // 5 added, 2 changed, 3/4 untouched)
    val newSnap = Seq(
      (2L, "spark shuffles data"), (3L, "rows and rows"),
      (4L, "broadcast the small side"), (5L, "a brand new doc")
    ).toDF("doc_id", "text")
    val oldSnap = Seq(
      (1L, "soon to be removed"), (2L, "spark STALE text"),
      (3L, "rows and rows"), (4L, "broadcast the small side")
    ).toDF("doc_id", "text")
    val diff = graft.operators.Curation.snapshotDiff(
      oldSnap, newSnap, "doc_id", "text")
    val statuses = diff.as[(Long, String)].collect().toMap
    assert(statuses == Map(1L -> "removed", 2L -> "changed",
      3L -> "unchanged", 4L -> "unchanged", 5L -> "added"))
    val delIds = diff.filter($"status".isin("removed", "changed")).select("doc_id")
    val upIds = diff.filter($"status".isin("added", "changed")).select("doc_id")
    val stored = Bm25.buildPostings(oldSnap, "doc_id", "text")
    val compacted = Bm25.deletePostings(stored,
      oldSnap.join(delIds, Seq("doc_id"), "left_semi"), "doc_id", "text")
    val reindexed = Bm25.upsertPostings(compacted,
      newSnap.join(upIds, Seq("doc_id"), "left_semi"), "doc_id", "text")
    assert(canon(reindexed) == canon(Bm25.buildPostings(newSnap, "doc_id", "text")))
    // the stale-only term left no debris; the new doc's term arrived
    assert(reindexed.filter($"term" === "stale").isEmpty)
    assert(reindexed.filter($"term" === "brand").count() == 1)
  }
}
