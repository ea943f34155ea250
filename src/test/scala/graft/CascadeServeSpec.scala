package graft

import java.nio.file.Files

import graft.operators.{Ann, CascadeConfig, MultiStageSearch}
import graft.sources.IndexStore
import graft.streaming.CascadeServe
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** Streaming cascade serving: stream == batch searchGatedBatchServed
  * per micro-batch, version flips picked up between batches, replayed
  * batches overwrite (not duplicate), empty batches write nothing. */
class CascadeServeSpec extends SparkSpec with JobCount {
  import spark.implicits._

  private def corpusRows = Seq(
    (0L, "join job in the row district", Array(0.0f, 0.0f)),
    (1L, "join work near the row area", Array(0.1f, 0.0f)),
    (2L, "merge position in the row zone", Array(0.2f, 0.0f)),
    (3L, "sort role in the key sector", Array(1.0f, 1.0f)),
    (4L, "order handling in the column space", Array(1.5f, 0.5f)),
    (5L, "stream processing in the value tier", Array(3.0f, 0.0f)),
    (6L, "totally unrelated prose", Array(5.0f, 5.0f)))

  private def cents = Seq(
    (0L, Array(0.0, 0.0)), (1L, Array(3.0, 0.0)), (2L, Array(5.0, 5.0)))
    .toDF("cid", "cvec")

  private val cfg = CascadeConfig(topK = 3, relaxThreshold = 3,
    fallbackThreshold = 6, fallbackK = 5, finalN = 4)

  private def setup(): (String, String) = {
    val base = QueriesShared.tempDir("graft_cserve_").toString
    val root = s"$base/index"
    val assigned = Ann.ivfAssignBig(corpusRows.toDF("doc_id", "text", "embedding"),
      "embedding", "doc_id", cents, "cid", "cvec")
    IndexStore.writeVersionedWithCentroids(assigned, cents, root)
    (root, s"$base/out")
  }

  private def mkSink(root: String, out: String) =
    CascadeServe.sink(root, out, "doc_id", "text", "embedding",
      "qid", "qtext", "qvec", nprobe = 2, cfg) _

  private def queries(ids: (Long, String)*): Seq[(Long, String, Seq[Double])] =
    ids.zipWithIndex.map { case ((qid, t), i) => (qid, t, Seq(0.1 * i, 0.0)) }

  test("streamed micro-batches equal per-batch searchGatedBatchServed") {
    implicit val sqlCtx = spark.sqlContext
    val (root, out) = setup()
    val stream = MemoryStream[(Long, String, Seq[Double])]
    val q = stream.toDF().toDF("qid", "qtext", "qvec")
      .writeStream.foreachBatch(mkSink(root, out)).start()
    val b0 = queries(1L -> "looking for a join job in the row area",
      2L -> "column stuff")
    val b1 = queries(3L -> "sort pipelines", 4L -> "hello world")
    try {
      stream.addData(b0); q.processAllAvailable()
      stream.addData(b1); q.processAllAvailable()
    } finally q.stop()
    val got = CascadeServe.results(spark, out)
      .orderBy("qid", "rank").collect().toSeq
      .map(r => (r.getAs[Long]("qid"), r.getAs[Int]("rank"),
        r.getAs[Long]("doc_id"), r.getAs[Double]("score")))
    val index = IndexStore.loadCurrent(spark, root)
    val expected = Seq(b0, b1).flatMap { b =>
      new MultiStageSearch(index, "doc_id", "text", "embedding", cfg)
        .searchGatedBatchServed(b.toDF("qid", "qtext", "qvec"),
          "qid", "qtext", "qvec", cents, "cid", "cvec", nprobe = 2)
        .collect().toSeq
    }.map(r => (r.getAs[Long]("qid"), r.getAs[Int]("rank"),
        r.getAs[Long]("doc_id"), r.getAs[Double]("score")))
      .sortBy(t => (t._1, t._2))
    assert(got == expected)
    // both micro-batches are visible as partitions of the result log
    assert(CascadeServe.results(spark, out).select("batch")
      .distinct().as[Int].collect().toSet == Set(0, 1))
  }

  test("an index version flip is picked up at the next micro-batch") {
    val (root, out) = setup()
    val sink = mkSink(root, out)
    val qs = queries(1L -> "looking for a join job in the row area")
    sink(qs.toDF("qid", "qtext", "qvec"), 0L)
    val before = CascadeServe.results(spark, out)
      .select("doc_id").as[Long].collect().toSet
    assert(before.contains(0L)) // doc 0 is the top match in v1
    // rebuild: doc 0 retired from the corpus, committed as v2
    val v2 = Ann.ivfAssignBig(corpusRows.filterNot(_._1 == 0L)
        .toDF("doc_id", "text", "embedding"),
      "embedding", "doc_id", cents, "cid", "cvec")
    IndexStore.writeVersionedWithCentroids(v2, cents, root)
    sink(qs.toDF("qid", "qtext", "qvec"), 1L)
    val batch1 = CascadeServe.results(spark, out)
      .filter(col("batch") === 1).select("doc_id").as[Long].collect().toSet
    assert(batch1.nonEmpty && !batch1.contains(0L),
      s"batch 1 must serve from v2 (no doc 0): $batch1")
  }

  test("a RETRAIN flip — new centroids, new cluster-id space — is served correctly at the next batch") {
    val (root, out) = setup()
    val sink = mkSink(root, out)
    val qs = queries(1L -> "looking for a join job in the row area",
      2L -> "sort pipelines")
    sink(qs.toDF("qid", "qtext", "qvec"), 0L)
    // Retrain with a DIFFERENT geometry AND a disjoint cluster-id
    // space (10/11): probing with the old centroid table would join
    // old cids {0,1,2} against new cluster_ids {10,11} — every probe
    // empty, every query silently unanswered. The versioned pair
    // makes batch 1 read index AND centroids from v2 together.
    val cents2 = Seq((10L, Array(0.05, 0.0)), (11L, Array(4.0, 2.5)))
      .toDF("cid", "cvec")
    val v2 = Ann.ivfAssignBig(corpusRows.toDF("doc_id", "text", "embedding"),
      "embedding", "doc_id", cents2, "cid", "cvec")
    IndexStore.writeVersionedWithCentroids(v2, cents2, root)
    sink(qs.toDF("qid", "qtext", "qvec"), 1L)
    val got = CascadeServe.results(spark, out).filter(col("batch") === 1)
      .collect().toSeq
      .map(r => (r.getAs[Long]("qid"), r.getAs[Int]("rank"),
        r.getAs[Long]("doc_id"), r.getAs[Double]("score")))
      .sortBy(t => (t._1, t._2))
    val (index2, cent2, v) = IndexStore.loadCurrentWithCentroids(spark, root)
    assert(v == 2L)
    val expected = new MultiStageSearch(index2, "doc_id", "text",
        "embedding", cfg)
      .searchGatedBatchServed(qs.toDF("qid", "qtext", "qvec"),
        "qid", "qtext", "qvec", cent2, "cid", "cvec", nprobe = 2)
      .collect().toSeq
      .map(r => (r.getAs[Long]("qid"), r.getAs[Int]("rank"),
        r.getAs[Long]("doc_id"), r.getAs[Double]("score")))
      .sortBy(t => (t._1, t._2))
    assert(got.nonEmpty && got == expected,
      s"batch 1 must serve the v2 pair:\ngot=$got\nexpected=$expected")
  }

  test("a replayed batch overwrites its own output instead of duplicating") {
    val (root, out) = setup()
    val sink = mkSink(root, out)
    val qs = queries(1L -> "looking for a join job in the row area")
    sink(qs.toDF("qid", "qtext", "qvec"), 0L)
    val once = CascadeServe.results(spark, out).count()
    sink(qs.toDF("qid", "qtext", "qvec"), 0L) // at-least-once replay
    assert(CascadeServe.results(spark, out).count() == once)
    // duplicate qids in a micro-batch are refused before anything is
    // written, and the batch already served stays as it was
    val dup = (queries(1L -> "join row") ++ queries(1L -> "sort work"))
      .toDF("qid", "qtext", "qvec")
    val e = intercept[IllegalArgumentException] { sink(dup, 0L) }
    assert(e.getMessage.contains("duplicate"))
    assert(CascadeServe.results(spark, out).count() == once)
  }

  test("a live micro-batch retains no cached or checkpointed data") {
    val (root, out) = setup()
    val sink = mkSink(root, out)
    val qs = queries(1L -> "looking for a join job in the row area",
      2L -> "column stuff", 3L -> "sort pipelines")
    SessionHygiene.dropCachedBlocks(spark)
    val before = spark.sparkContext.getPersistentRDDs.keySet
    sink(qs.toDF("qid", "qtext", "qvec"), 0L)
    assert(CascadeServe.results(spark, out).count() > 0)
    assert(spark.sparkContext.getPersistentRDDs.keySet == before)
  }

  test("the stamp records nClusters; a pre-stamp version serves identically") {
    val (root, out) = setup()
    // the stamp records what was committed
    val (_, cent, v) = IndexStore.loadCurrentWithCentroids(spark, root)
    val meta = IndexStore.pairMeta(spark, root, v)
    assert(meta.contains(IndexStore.PairMeta(cent.count())))
    // a pre-stamp version (meta file removed by hand, simulating a pair
    // written before stamping existed) serves identically
    val qs = queries(1L -> "looking for a join job in the row area",
      2L -> "column stuff")
    mkSink(root, out)(qs.toDF("qid", "qtext", "qvec"), 0L)
    assert(new java.io.File(s"$root/v$v/_meta.json").delete())
    assert(IndexStore.pairMeta(spark, root, v).isEmpty)
    val refOut = out + "_prestamp"
    mkSink(root, refOut)(qs.toDF("qid", "qtext", "qvec"), 0L)
    def rows(p: String) = CascadeServe.results(spark, p)
      .collect().toSeq
      .map(r => (r.getAs[Long]("qid"), r.getAs[Int]("rank"),
        r.getAs[Long]("doc_id"), r.getAs[Double]("score")))
      .sortBy(t => (t._1, t._2))
    assert(rows(out).nonEmpty && rows(out) == rows(refOut))
  }

  test("a stamp that also records indexRows parses; a commit counts only the centroids") {
    // stamps written while the index row count was recorded too
    val dir = QueriesShared.tempDir("graft_meta_rows").toFile
    Files.writeString(new java.io.File(dir, "_meta.json").toPath,
      """{"indexRows":7,"nClusters":3,"nprobe":2}""")
    assert(IndexStore.pairMetaAt(spark, dir.toString)
      .contains(IndexStore.PairMeta(3, Some(2))))
    Files.writeString(new java.io.File(dir, "_meta.json").toPath,
      """{"indexRows":7,"nClusters":3}""")
    assert(IndexStore.pairMetaAt(spark, dir.toString)
      .contains(IndexStore.PairMeta(3)))
    // a commit writes the index and the centroids and reads back the
    // centroid count; the index is not read again (counting it cost
    // three jobs more)
    val root = QueriesShared.tempDir("graft_commit_jobs").toString
    val assigned = Ann.ivfAssignBig(corpusRows.toDF("doc_id", "text", "embedding"),
      "embedding", "doc_id", cents, "cid", "cvec").localCheckpoint(true)
    val (_, jobs) = jobsOf(
      IndexStore.writeVersionedWithCentroids(assigned, cents, root))
    assert(jobs <= 6, s"a commit ran $jobs jobs")
  }

  test("empty and all-blank batches write nothing") {
    val (root, out) = setup()
    val sink = mkSink(root, out)
    sink(Seq.empty[(Long, String, Seq[Double])].toDF("qid", "qtext", "qvec"), 0L)
    sink(queries(1L -> "").toDF("qid", "qtext", "qvec"), 1L)
    // non-space whitespace: Java trim (the prelude's F4 guard) blanks
    // "\t"/"\n", so the sink's query-side guard must agree — a
    // trim()-based guard would judge this batch live and write an
    // empty batch=2 directory
    sink(queries(1L -> "\t", 2L -> " \n ").toDF("qid", "qtext", "qvec"), 2L)
    assert(!new java.io.File(out).exists())
  }

  test("a LIVE batch that serves zero rows leaves no batch dir (post-write sweep)") {
    val (root, out) = setup()
    val sink = mkSink(root, out)
    // non-blank text but a NULL query vector: every pair distance is
    // null and excluded by contract, so the served result is empty —
    // the query-side blank guard cannot catch this, the written-output
    // sweep must (a dataless batch=0 dir would crash results())
    val q = Seq((1L, "looking for a join job in the row area",
      null.asInstanceOf[Seq[Double]])).toDF("qid", "qtext", "qvec")
    sink(q, 0L)
    val f = new java.io.File(out)
    assert(!f.exists() || f.listFiles().isEmpty,
      s"dataless batch dir survived: ${Option(f.listFiles()).map(_.toSeq)}")
  }

  test("a maintenance-stamped nprobe floors the configured budget; headroom above it is kept") {
    // the pure algebra first: stamp floors, config headroom wins, no
    // stamp / no meta = configured unchanged — and the stamp is
    // clamped at the version's own cell count before flooring (a
    // corrupted `nprobe: 100000` meta must serve at nClusters, not at
    // the stamp: probing more cells than exist is pure waste)
    import IndexStore.PairMeta
    assert(IndexStore.effectiveNprobe(4, Some(PairMeta(32, Some(8)))) == 8)
    assert(IndexStore.effectiveNprobe(16, Some(PairMeta(32, Some(8)))) == 16)
    assert(IndexStore.effectiveNprobe(4, Some(PairMeta(32, None))) == 4)
    assert(IndexStore.effectiveNprobe(4, None) == 4)
    // over-stamped meta: clamped to the 32 cells that exist
    assert(IndexStore.effectiveNprobe(1, Some(PairMeta(32, Some(100000)))) == 32)
    // clamped stamp below the configured value: configured wins
    assert(IndexStore.effectiveNprobe(4, Some(PairMeta(2, Some(8)))) == 4)
    // end to end: one root stamped at nprobe 3 served with a config of
    // 1 must equal the UNstamped root served at 3 — the sink adopted
    // the committed geometry's validated budget, not the stale config
    val base = QueriesShared.tempDir("graft_cs_np").toString
    val assigned = Ann.ivfAssignBig(corpusRows.toDF("doc_id", "text", "embedding"),
      "embedding", "doc_id", cents, "cid", "cvec")
    val stampedRoot = s"$base/stamped"
    val plainRoot = s"$base/plain"
    IndexStore.writeVersionedWithCentroids(assigned, cents, stampedRoot, Some(3))
    IndexStore.writeVersionedWithCentroids(assigned, cents, plainRoot)
    assert(IndexStore.storedNprobe(spark, stampedRoot).contains(3))
    assert(IndexStore.storedNprobe(spark, plainRoot).isEmpty)
    val q = queries(1L -> "looking for a join job in the row area",
      2L -> "stream processing roles").toDF("qid", "qtext", "qvec")
    def run(root: String, np: Int, out: String) = {
      CascadeServe.sink(root, out, "doc_id", "text", "embedding",
        "qid", "qtext", "qvec", nprobe = np, cfg)(q, 0L)
      CascadeServe.results(spark, out).orderBy("qid", "rank")
        .select("qid", "rank", "doc_id").collect().toSeq
    }
    val adopted = run(stampedRoot, 1, s"$base/out_stamped")
    val reference = run(plainRoot, 3, s"$base/out_ref")
    assert(adopted == reference,
      "the stamped budget was not adopted as the serving floor")
    // and the floor really matters on this fixture: config 1 on the
    // UNstamped root serves differently (fewer probed clusters)
    val starved = run(plainRoot, 1, s"$base/out_starved")
    assert(starved != reference,
      "fixture too weak: nprobe 1 vs 3 must differ for the floor to mean anything")
  }

  test("pairMetaAtCached re-reads a _meta.json rewritten with the same mtime but a new length") {
    import IndexStore.PairMeta
    val dir = QueriesShared.tempDir("graft_meta_token").toFile
    val meta = new java.io.File(dir, "_meta.json")
    val mtime = 1700000000000L
    def stamp(json: String): Unit = {
      Files.writeString(meta.toPath, json)
      assert(meta.setLastModified(mtime))
    }
    stamp("""{"indexRows": 10, "nClusters": 4}""")
    assert(IndexStore.pairMetaAtCached(spark, dir.toString)
      .contains(PairMeta(4)))
    // an in-place rewrite inside the mtime granularity: only the length
    // tells the two files apart
    stamp("""{"indexRows": 10, "nClusters": 4, "nprobe": 8}""")
    assert(meta.lastModified == mtime)
    assert(IndexStore.pairMetaAtCached(spark, dir.toString)
      .contains(PairMeta(4, Some(8))))
  }
}
