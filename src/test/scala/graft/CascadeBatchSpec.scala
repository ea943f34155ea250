package graft

import graft.operators.{Ann, CascadeConfig, MultiStageSearch}
import graft.operators.MultiStageSearch.{BatchLogLimit, BatchSizing}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.functions._

/** Batch cascade == per-query search, row for row, across every
  * query STRUCTURE (both terms + synonyms, region-only, job-only,
  * no-terms) and across gate-fired and gate-closed configs; blank
  * queries contribute zero rows; guards are loud. The per-query side
  * is `search`, the request ladder: `searchGated` is the batch core
  * itself on a one-row log, so the identity tests named after it
  * compare the two ladders that serve traffic. */
class CascadeBatchSpec extends SparkSpec with JobCount {
  import spark.implicits._

  // Varied corpus: term-dense docs near the origin, term-sparse far
  // ones, an exact distance tie (ids 7/8), a null-text row, and a
  // NULL-EMBEDDING row (15) whose text matches q1's strict AND — under
  // an unguarded NULLS FIRST cut it would rank first in every stage;
  // both forms must exclude it identically.
  private def corpus = Seq(
    (0L, "join job in the row district", Array(0.0f, 0.0f)),
    (1L, "join work near the row area", Array(0.1f, 0.0f)),
    (2L, "merge position in the row zone", Array(0.2f, 0.0f)),
    (3L, "hash role in the row sector", Array(0.3f, 0.0f)),
    (4L, "sort role in the key sector", Array(1.0f, 1.0f)),
    (5L, "order handling in the column space", Array(1.5f, 0.5f)),
    (6L, "column store essay, no job terms", Array(2.0f, 0.0f)),
    (7L, "stream processing in the value tier", Array(3.0f, 0.0f)),
    (8L, "batch processing in the value tier", Array(0.0f, 3.0f)),
    (9L, "filter opening in the line region", Array(4.0f, 1.0f)),
    (10L, "totally unrelated prose", Array(5.0f, 5.0f)),
    (11L, null.asInstanceOf[String], Array(0.05f, 0.0f)),
    (12L, "join row join row twice over", Array(6.0f, 0.0f)),
    (13L, "sort order sort order column", Array(0.0f, 6.0f)),
    (14L, "spark table scan merge hash", Array(7.0f, 0.0f)),
    (15L, "join job in the row annex", null.asInstanceOf[Array[Float]])
  ).toDF("doc_id", "text", "embedding")

  private val qtexts = Seq(
    1L -> "looking for a join job in the row area", // job+region, syns merge/hash
    2L -> "column stuff",                           // region only
    3L -> "sort pipelines",                         // job only, syn order
    4L -> "nothing relevant here",                  // no terms → unfiltered + gate
    5L -> "stream handling in the value tier",      // job stream (syn batch) + region value
    6L -> "")                                       // blank → zero rows

  private def queriesDf = qtexts.zipWithIndex.map { case ((qid, t), i) =>
    (qid, t, Seq(0.1 * i, 0.05 * i)) // distinct query vectors
  }.toDF("qid", "qtext", "qvec")

  // the size policy that sends every non-empty log to the distributed
  // core: no log fits a limit of 0
  private val distributedCore = BatchSizing(logLimit = 0, driverBytes = 0L)

  // both batch forms under the engine's own size policy (None) or a
  // given one
  private def exactBatch(search: MultiStageSearch, q: DataFrame,
      sizing: Option[BatchSizing]): DataFrame =
    sizing.fold(search.searchGatedBatch(q, "qid", "qtext", "qvec"))(
      search.searchGatedBatch(q, "qid", "qtext", "qvec", _))
  private def servedBatch(search: MultiStageSearch, q: DataFrame,
      cents: DataFrame, nprobe: Int, sizing: Option[BatchSizing]): DataFrame =
    sizing.fold(search.searchGatedBatchServed(q, "qid", "qtext", "qvec",
        cents, "cid", "cvec", nprobe))(
      search.searchGatedBatchServed(q, "qid", "qtext", "qvec",
        cents, "cid", "cvec", nprobe, _))

  private def identityCheck(cfg: CascadeConfig): Unit = {
    val search = new MultiStageSearch(corpus, "doc_id", "text", "embedding", cfg)
    val batch = search.searchGatedBatch(queriesDf, "qid", "qtext", "qvec")
      .collect().groupBy(_.getAs[Long]("qid"))
    qtexts.foreach { case (qid, t) =>
      val qv = typedlit((0 until 2).map(j =>
        Seq(0.1, 0.05)(j) * qtexts.indexWhere(_._1 == qid)))
      val single = search.search(t, qv)
        .select("rank", "doc_id", "text", "dist", "stage_rank",
          "judge_score", "rule_score", "score")
        .collect().toSeq.sortBy(_.getAs[Int]("rank"))
      val got = batch.getOrElse(qid, Array.empty).toSeq
        .sortBy(_.getAs[Int]("rank"))
        .map(r => org.apache.spark.sql.Row(
          r.getAs[Int]("rank"), r.getAs[Long]("doc_id"),
          r.getAs[String]("text"), r.getAs[Double]("dist"),
          r.getAs[Int]("stage_rank"), r.getAs[Double]("judge_score"),
          r.getAs[Double]("rule_score"), r.getAs[Double]("score")))
      assert(got == single, s"qid=$qid cfg=$cfg\nbatch=$got\nsingle=$single")
    }
  }

  test("batch == per-query searchGated under the default config") {
    identityCheck(CascadeConfig())
  }

  test("batch == per-query searchGated when the gates actually fire") {
    // tight thresholds: relax/fallback gates open and close differently
    // per query structure; small k keeps stages underfilled
    identityCheck(CascadeConfig(topK = 3, relaxThreshold = 3,
      fallbackThreshold = 6, fallbackK = 5, finalN = 4))
  }

  test("batch == per-query searchGated when every gate is closed") {
    // thresholds at 0: no gate ever admits its stage — only st1 and the
    // (never-admitted) fallback's absence shape the result
    identityCheck(CascadeConfig(topK = 4, relaxThreshold = 0,
      fallbackThreshold = 0, finalN = 5))
  }

  test("a blank query contributes zero rows; an all-blank batch is the typed empty") {
    val search = new MultiStageSearch(corpus, "doc_id", "text", "embedding")
    val out = search.searchGatedBatch(queriesDf, "qid", "qtext", "qvec")
    assert(out.filter(col("qid") === 6L).isEmpty)
    val allBlank = Seq((1L, "", Seq(0.0, 0.0)), (2L, "   ", Seq(0.0, 0.0)))
      .toDF("qid", "qtext", "qvec")
    val empty = search.searchGatedBatch(allBlank, "qid", "qtext", "qvec")
    assert(empty.isEmpty)
    assert(empty.columns.toSeq == Seq("qid", "doc_id", "text", "dist",
      "stage_rank", "judge_score", "rule_score", "score", "rank"))
  }

  test("served batch == per-query searchGated with the equivalent served backend") {
    // cluster the corpus with 3 hand-placed centroids, then compare
    // searchGatedBatchServed against per-query search wired to
    // the c5-style served backend (probe nprobe nearest centroids,
    // pool = probed clusters, exact kNN inside) — for a probing that
    // PRUNES (nprobe=2 of 3) and one that covers everything (nprobe=3)
    val cents = Seq((0L, Array(0.0, 0.0)), (1L, Array(3.0, 0.0)),
      (2L, Array(0.0, 6.0))).toDF("cid", "cvec")
    val assigned = graft.operators.Ann.ivfAssignBig(
      corpus, "embedding", "doc_id", cents, "cid", "cvec")
    val centArr = Seq((0L, Array(0.0, 0.0)), (1L, Array(3.0, 0.0)),
      (2L, Array(0.0, 6.0)))
    for (nprobe <- Seq(2, 3); cfg <- Seq(CascadeConfig(),
        CascadeConfig(topK = 3, relaxThreshold = 3, fallbackThreshold = 6,
          fallbackK = 5, finalN = 4))) {
      val servedBatch = new MultiStageSearch(assigned, "doc_id", "text",
          "embedding", cfg)
        .searchGatedBatchServed(queriesDf, "qid", "qtext", "qvec",
          cents, "cid", "cvec", nprobe)
        .collect().groupBy(_.getAs[Long]("qid"))
      qtexts.foreach { case (qid, t) =>
        val qvSeq = (0 until 2).map(j =>
          Seq(0.1, 0.05)(j) * qtexts.indexWhere(_._1 == qid))
        val qvArr = qvSeq.toArray
        val probed = centArr.map { case (cid, cv) =>
            (cid, math.sqrt(cv.zip(qvArr).map { case (a, b) =>
              (a - b) * (a - b) }.sum))
          }.sortBy { case (cid, d) => (d, cid) }.take(nprobe).map(_._1)
        val backend = (_: org.apache.spark.sql.Column) =>
          assigned.filter(col("cluster_id").isin(probed: _*))
        val single = new MultiStageSearch(assigned, "doc_id", "text",
            "embedding", cfg, knnBackend = Some(backend))
          .search(t, typedlit(qvSeq))
          .select("rank", "doc_id", "text", "dist", "stage_rank",
            "judge_score", "rule_score", "score")
          .collect().toSeq.sortBy(_.getAs[Int]("rank"))
        val got = servedBatch.getOrElse(qid, Array.empty).toSeq
          .sortBy(_.getAs[Int]("rank"))
          .map(r => org.apache.spark.sql.Row(
            r.getAs[Int]("rank"), r.getAs[Long]("doc_id"),
            r.getAs[String]("text"), r.getAs[Double]("dist"),
            r.getAs[Int]("stage_rank"), r.getAs[Double]("judge_score"),
            r.getAs[Double]("rule_score"), r.getAs[Double]("score")))
        assert(got == single,
          s"served qid=$qid nprobe=$nprobe cfg=$cfg\nbatch=$got\nsingle=$single")
      }
    }
  }

  test("served batch guards: missing cluster_id, bad nprobe") {
    val search = new MultiStageSearch(corpus, "doc_id", "text", "embedding")
    val cents = Seq((0L, Array(0.0, 0.0))).toDF("cid", "cvec")
    val e = intercept[IllegalArgumentException] {
      search.searchGatedBatchServed(queriesDf, "qid", "qtext", "qvec",
        cents, "cid", "cvec", 1)
    }
    assert(e.getMessage.contains("cluster_id"))
    val clustered = corpus.withColumn("cluster_id", lit(0L))
    val e2 = intercept[IllegalArgumentException] {
      new MultiStageSearch(clustered, "doc_id", "text", "embedding")
        .searchGatedBatchServed(queriesDf, "qid", "qtext", "qvec",
          cents, "cid", "cvec", 0)
    }
    assert(e2.getMessage.contains("nprobe"))
  }

  test("the distributed semantic boundary (mapPartitions) equals the driver path") {
    // a log limit of 0 forces every batch down the mapPartitions path;
    // the engine's own policy resolves this 6-query batch on the
    // driver. Same queries, same corpus — the full output (incl. the
    // blank query's zero rows and per-query gate ladders) must be
    // row-identical.
    def run(sizing: Option[BatchSizing]) =
      exactBatch(new MultiStageSearch(corpus, "doc_id", "text", "embedding"),
          queriesDf, sizing)
        .collect().toSeq
        .map(r => (r.getAs[Long]("qid"), r.getAs[Int]("rank"),
          r.getAs[Long]("doc_id"), r.getAs[Double]("score")))
        .sortBy(t => (t._1, t._2))
    val driver = run(None)
    val dist = run(Some(distributedCore))
    assert(driver.nonEmpty && driver == dist)
    // the served batch form dispatches through the same prelude
    val cents = Seq((0L, Array(0.0, 0.0)), (1L, Array(3.0, 0.0)))
      .toDF("cid", "cvec")
    val assigned = graft.operators.Ann.ivfAssignBig(
      corpus, "embedding", "doc_id", cents, "cid", "cvec")
    def runServed(sizing: Option[BatchSizing]) =
      servedBatch(new MultiStageSearch(assigned, "doc_id", "text", "embedding"),
          queriesDf, cents, 2, sizing)
        .collect().toSeq
        .map(r => (r.getAs[Long]("qid"), r.getAs[Int]("rank"),
          r.getAs[Long]("doc_id"), r.getAs[Double]("score")))
        .sortBy(t => (t._1, t._2))
    assert(runServed(None) == runServed(Some(distributedCore)))
    // guards hold on the distributed path too: duplicate qids refused,
    // an all-blank batch is the typed empty
    val search0 = new MultiStageSearch(corpus, "doc_id", "text", "embedding")
    val dup = Seq((1L, "join row", Seq(0.0, 0.0)), (1L, "sort", Seq(0.0, 0.0)))
      .toDF("qid", "qtext", "qvec")
    val e = intercept[IllegalArgumentException] {
      search0.searchGatedBatch(dup, "qid", "qtext", "qvec", distributedCore)
    }
    assert(e.getMessage.contains("duplicate"))
    val allBlank = Seq((1L, "", Seq(0.0, 0.0)), (2L, "   ", Seq(0.0, 0.0)))
      .toDF("qid", "qtext", "qvec")
    assert(search0.searchGatedBatch(allBlank, "qid", "qtext", "qvec",
      distributedCore).isEmpty)
    // every column and the schema too: the one-pass driver tail (the
    // engine's policy) against the distributed core
    def full(df: DataFrame) = (df.schema.map(f => (f.name, f.dataType)),
      df.collect().toSeq.sortBy(r => (r.getLong(0), r.getInt(8))))
    def both(sizing: Option[BatchSizing]) = Seq(
      exactBatch(new MultiStageSearch(corpus, "doc_id", "text", "embedding"),
        queriesDf, sizing),
      servedBatch(new MultiStageSearch(assigned, "doc_id", "text", "embedding"),
        queriesDf, cents, 2, sizing)).map(full)
    assert(both(None) == both(Some(distributedCore)))
    // ties: two docs of identical text and embedding (ids 7 and 3) tie
    // on dist at every stage's k cut and on (score, dist) at the finalN
    // cut; both paths break them by id, in both batch forms
    val near = "join job in the row district"
    val tied = Seq((7L, near, Seq(1.0, 0.0)), (3L, near, Seq(1.0, 0.0)),
      (9L, "unrelated document entirely", Seq(9.0, 9.0)))
      .toDF("doc_id", "text", "embedding")
    val tiedCents = Seq((0L, Array(1.0, 0.0)), (1L, Array(9.0, 9.0)))
      .toDF("cid", "cvec")
    val tiedAssigned = Ann.ivfAssignBig(tied, "embedding", "doc_id",
      tiedCents, "cid", "cvec")
    val tq = Seq((1L, "join row", Seq(0.0, 0.0)),
      (2L, "nothing relevant here", Seq(1.0, 0.0))).toDF("qid", "qtext", "qvec")
    for ((k, n) <- Seq((1, 1), (2, 1), (2, 2))) {
      def forms(sizing: Option[BatchSizing]) = {
        val cfg = CascadeConfig(topK = k, fallbackK = k, finalN = n)
        Seq(exactBatch(new MultiStageSearch(tied, "doc_id", "text", "embedding", cfg),
            tq, sizing),
          servedBatch(new MultiStageSearch(tiedAssigned, "doc_id", "text", "embedding", cfg),
            tq, tiedCents, 1, sizing)).map(full)
      }
      val onePass = forms(None)
      assert(onePass == forms(Some(distributedCore)), s"k=$k n=$n")
      onePass.foreach { case (_, rows) =>
        assert(rows.filter(_.getLong(0) == 1L).map(_.getLong(1)) ==
          Seq(3L, 7L).take(math.min(k, n)), s"k=$k n=$n")
      }
    }
  }

  test("a request-sized log is one pass: served ≤ 3 jobs, exact ≤ 2, the result is local") {
    val cents = Seq((0L, Array(0.0, 0.0)), (1L, Array(3.0, 0.0)),
      (2L, Array(0.0, 6.0))).toDF("cid", "cvec")
    val assigned = Ann.ivfAssignBig(corpus, "embedding", "doc_id", cents, "cid", "cvec")
    val exact = new MultiStageSearch(corpus, "doc_id", "text", "embedding")
    val served = new MultiStageSearch(assigned, "doc_id", "text", "embedding")
    def runServed(q: DataFrame) =
      served.searchGatedBatchServed(q, "qid", "qtext", "qvec", cents, "cid", "cvec", 2)
    def runExact(q: DataFrame) = exact.searchGatedBatch(q, "qid", "qtext", "qvec")
    SessionHygiene.dropCachedBlocks(spark)
    val before = spark.sparkContext.getPersistentRDDs.size
    for ((name, form, budget) <- Seq[(String, DataFrame => DataFrame, Int)](
        ("searchGatedBatchServed", runServed, 3), ("searchGatedBatch", runExact, 2))) {
      val ((df, rows), jobs) = jobsOf { val df = form(queriesDf); (df, df.collect()) }
      assert(rows.nonEmpty, name)
      assert(jobs <= budget, s"$name started $jobs jobs")
      val (again, againJobs) = jobsOf(df.collect())
      assert(againJobs == 0 && again.toSeq == rows.toSeq, s"$name re-collect: $againJobs jobs")
      val allBlank = Seq((1L, "", Seq(0.0, 0.0)), (2L, "   ", Seq(0.0, 0.0)))
        .toDF("qid", "qtext", "qvec")
      val (blank, blankJobs) = jobsOf(form(allBlank).collect())
      assert(blank.isEmpty && blankJobs == 0, s"$name all-blank log: $blankJobs jobs")
    }
    assert(spark.sparkContext.getPersistentRDDs.size == before)
  }

  test("the one pass gathers candidates on the driver only within its budget; over it, the distributed core") {
    val cents = Seq((0L, Array(0.0, 0.0)), (1L, Array(3.0, 0.0)),
      (2L, Array(0.0, 6.0))).toDF("cid", "cvec")
    val assigned = Ann.ivfAssignBig(corpus, "embedding", "doc_id", cents, "cid", "cvec")
    // both batch forms, with the one pass's driver budget given in bytes
    def forms(logLimit: Int, driverBytes: Long) = Seq(
      new MultiStageSearch(corpus, "doc_id", "text", "embedding")
        .searchGatedBatch(queriesDf, "qid", "qtext", "qvec",
          BatchSizing(logLimit, driverBytes)),
      new MultiStageSearch(assigned, "doc_id", "text", "embedding")
        .searchGatedBatchServed(queriesDf, "qid", "qtext", "qvec",
          cents, "cid", "cvec", 2, BatchSizing(logLimit, driverBytes)))
    // the one pass answers with a local relation, the distributed core
    // with a plan
    def onePass(df: DataFrame) = df.queryExecution.logical.isInstanceOf[LocalRelation]
    def rows(df: DataFrame) = df.collect().toSeq.sortBy(r => (r.getLong(0), r.getInt(8)))
    val distributed = forms(0, Long.MaxValue)
    val within = forms(BatchLogLimit, Long.MaxValue)
    // one byte: the first candidate any partition keeps is over its share
    val over = forms(BatchLogLimit, 1L)
    assert(distributed.forall(!onePass(_)))
    assert(within.forall(onePass))
    assert(over.forall(!onePass(_)))
    for (((w, o), d) <- within.zip(over).zip(distributed)) {
      assert(rows(d).nonEmpty)
      assert(rows(w) == rows(d))
      assert(rows(o) == rows(d))
      // the cancelled pass falls back on the frame it already resolved:
      // the same rows as the one pass, and no second read of the log
      assert(rows(o) == rows(w))
    }
    // the fallback's jobs, the collect included: the query frame's
    // broadcast and the cancelled pass, then the broadcast and the
    // shuffle merge of the same pairs (the log and the centroids are
    // local relations here, whose reads run no job)
    val fallback = BatchSizing(BatchLogLimit, 1L)
    for ((form, budget) <- Seq[(() => DataFrame, Int)](
        (() => new MultiStageSearch(corpus, "doc_id", "text", "embedding")
          .searchGatedBatch(queriesDf, "qid", "qtext", "qvec", fallback), 4),
        (() => new MultiStageSearch(assigned, "doc_id", "text", "embedding")
          .searchGatedBatchServed(queriesDf, "qid", "qtext", "qvec", cents, "cid", "cvec",
            2, fallback), 4))) {
      val (_, jobs) = jobsOf(form().collect())
      assert(jobs <= budget, s"the cancelled-pass fallback started $jobs jobs")
    }
  }

  test("an over-limit log is read once on the driver before its size is decided") {
    // a scanned log (a one-partition checkpoint), so each read of it is
    // one job; the distributed core's prelude runs its own jobs, the
    // same in both calls below
    val log = queriesDf.repartition(1).localCheckpoint(true)
    val search = new MultiStageSearch(corpus, "doc_id", "text", "embedding")
    def jobs(sizing: BatchSizing) =
      jobsOf(search.searchGatedBatch(log, "qid", "qtext", "qvec", sizing))._2
    // a log limit of 2 holds 3 of the 6 rows: the row width comes from
    // them, so the log is read again only by the slicer's limit-count
    // (the derived budget is far above 6 queries), by the duplicate
    // guard and by the broadcast of the resolved frame; the prelude
    // reads nothing back (no NER checkpoint, no emptiness or synonym
    // width probe), and a separate width probe would add two jobs
    val unsliced = jobs(BatchSizing(logLimit = 2, driverBytes = 0L))
    assert(unsliced <= 7, s"$unsliced jobs")
    // 2-query slices: the 3 rows held are already over a slice, so no
    // limit-count runs; the exact count sizes 3 slices of 2 queries,
    // each with its own prelude and materialized result
    val sliced = jobs(BatchSizing(logLimit = 2, driverBytes = 0L,
      sliceRows = Some(2)))
    assert(sliced <= 35, s"$sliced jobs")
  }

  test("an over-budget query log is auto-sliced; rows identical to the single-plan form") {
    // 2-query slices force 6 queries into 3 hash slices, each served
    // as its own sequential plan — the 10M+-log path exercised at spec
    // scale. The union must equal the single broadcast plan row for
    // row, including the blank query's zero rows and the per-structure
    // gate ladders.
    val base = CascadeConfig(topK = 3, relaxThreshold = 3,
      fallbackThreshold = 6, fallbackK = 5, finalN = 4)
    // the one pass's log limit and budget, with `sliceRows`-query slices
    def slicing(sliceRows: Int) =
      BatchSizing(BatchLogLimit, Long.MaxValue, Some(sliceRows))
    def run(sizing: Option[BatchSizing]) =
      exactBatch(new MultiStageSearch(corpus, "doc_id", "text", "embedding", base),
          queriesDf, sizing)
        .collect().toSeq
        .map(r => (r.getAs[Long]("qid"), r.getAs[Int]("rank"),
          r.getAs[Long]("doc_id"), r.getAs[Double]("score")))
        .sortBy(t => (t._1, t._2))
    val one = run(None)
    val sliced = run(Some(slicing(2)))
    assert(one.nonEmpty && sliced == one,
      s"sliced != single-plan\nsliced=$sliced\none=$one")
    // the served form dispatches through the same slicer
    val cents = Seq((0L, Array(0.0, 0.0)), (1L, Array(3.0, 0.0)),
      (2L, Array(0.0, 6.0))).toDF("cid", "cvec")
    val assigned = graft.operators.Ann.ivfAssignBig(
      corpus, "embedding", "doc_id", cents, "cid", "cvec")
    def runServed(sizing: Option[BatchSizing]) =
      servedBatch(new MultiStageSearch(assigned, "doc_id", "text", "embedding", base),
          queriesDf, cents, 2, sizing)
        .collect().toSeq
        .map(r => (r.getAs[Long]("qid"), r.getAs[Int]("rank"),
          r.getAs[Long]("doc_id"), r.getAs[Double]("score")))
        .sortBy(t => (t._1, t._2))
    val servedOne = runServed(None)
    assert(servedOne.nonEmpty &&
      runServed(Some(slicing(2))) == servedOne)
    // the runs above take the one-pass path, which does not slice (its
    // log is already on the driver), so the slice size leaves them
    // unchanged; the slicer itself serves the distributed core: a log
    // over the log limit is hash-sliced, one plan per slice, with the
    // same rows
    val distributed = Some(distributedCore.copy(sliceRows = Some(2)))
    assert(run(distributed) == one)
    assert(runServed(distributed) == servedOne)
    // duplicate qids hash to the SAME slice, so the per-slice prelude
    // guard still refuses them on the sliced path
    val dup = Seq((1L, "join row", Seq(0.0, 0.0)),
      (1L, "sort", Seq(0.0, 0.0)), (2L, "merge", Seq(0.1, 0.0)))
      .toDF("qid", "qtext", "qvec")
    val e = intercept[IllegalArgumentException] {
      new MultiStageSearch(corpus, "doc_id", "text", "embedding", base)
        .searchGatedBatch(dup, "qid", "qtext", "qvec", slicing(1))
    }
    assert(e.getMessage.contains("duplicate"))
    val eDist = intercept[IllegalArgumentException] {
      new MultiStageSearch(corpus, "doc_id", "text", "embedding", base)
        .searchGatedBatch(dup, "qid", "qtext", "qvec",
          distributedCore.copy(sliceRows = Some(1)))
    }
    assert(eDist.getMessage.contains("duplicate"))
  }

  test("the auto-slice budget is WIDTH-AWARE: derived from the log's measured row bytes, not a flat rows-per-GiB") {
    import MultiStageSearch.{broadcastBudgetRows, queryRowBytes,
      QueryRowOverheadBytes}
    def qlog(dim: Int) = Seq(
      (1L, "looking for a join job in the row area", Array.fill(dim)(0.1)),
      (2L, "column stuff", Array.fill(dim)(0.2)))
      .toDF("qid", "qtext", "qvec")
    // the probe measures vector dims (8 B each) + text chars (2 B each)
    // + the fixed overhead — at dim 64 that is the ~1 KiB regime the
    // round-16 10M probe validated
    val text1 = "looking for a join job in the row area"
    val b64 = queryRowBytes(qlog(64).collect())
    assert(b64 == 8L * 64 + 2L * text1.length + QueryRowOverheadBytes)
    assert(b64 >= 900 && b64 <= 1200, s"dim-64 row measured $b64 B")
    // at the reference's dim 1024 (KURE-v1) the vector ALONE is 8 KiB:
    // the flat ~1 KiB assumption under-measured ~8x, which is exactly
    // the round-16 weak mark — the heap default admitted ~8x the
    // intended broadcast bytes and reproduced the maxResultSize abort
    val b1024 = queryRowBytes(qlog(1024).collect())
    assert(b1024 == 8L * 1024 + 2L * text1.length + QueryRowOverheadBytes)
    // budget at a 32 GiB heap (maxResultSize unlimited): 2 GiB of
    // broadcast bytes / row width — ~2M queries per slice at dim 64,
    // ~240k at dim 1024, never ~8x over
    val r64 = broadcastBudgetRows(b64, 32L << 30, 0)
    val r1024 = broadcastBudgetRows(b1024, 32L << 30, 0)
    assert(r64 == (2L << 30) / b64 && r1024 == (2L << 30) / b1024)
    assert(r64 > 1800000L && r64 < 2300000L, s"dim-64 budget $r64")
    assert(r1024 > 230000L && r1024 < 260000L, s"dim-1024 budget $r1024")
    assert(r64 / r1024 >= 7, "dim 1024 must shrink the budget ~8x")
    // the driver's maxResultSize caps the byte budget — the broadcast
    // COLLECT is what actually aborts, so heap/16 alone would derive
    // 2 GiB slices that still die at the default 1g limit; half the
    // limit leaves framing headroom
    assert(broadcastBudgetRows(b64, 32L << 30, 1L << 30) ==
      (512L << 20) / b64)
    // and when the heap is the smaller bound, heap wins
    assert(broadcastBudgetRows(b64, 4L << 30, 1L << 30) ==
      (256L << 20) / b64)
    // the served form's divisor still applies on top of the width
    val full = broadcastBudgetRows(b1024, 32L << 30, 0)
    assert(broadcastBudgetRows(b1024, 32L << 30, 0, budgetDivisor = 8) ==
      full / 8)
    // degenerate logs: null vectors are skipped by the probe (they
    // would under-report the width); an all-null or empty log measures
    // overhead only — those rows broadcast no vector bytes
    val nullFirst = Seq(
      (1L, "x", null.asInstanceOf[Array[Double]]),
      (2L, "column stuff", Array.fill(1024)(0.2)))
      .toDF("qid", "qtext", "qvec")
    assert(queryRowBytes(nullFirst.collect()) ==
      8L * 1024 + 2L * "column stuff".length + QueryRowOverheadBytes)
    val empty = qlog(4).limit(0)
    assert(queryRowBytes(empty.collect()) ==
      QueryRowOverheadBytes)
  }

  test("null-embedding rows never surface, in either form") {
    val search = new MultiStageSearch(corpus, "doc_id", "text", "embedding")
    val batch = search.searchGatedBatch(queriesDf, "qid", "qtext", "qvec")
    assert(batch.filter(col("doc_id") === 15L || col("dist").isNull).isEmpty)
    val single = search.searchGated(qtexts.head._2, typedlit(Seq(0.0, 0.0)))
    assert(single.filter(col("doc_id") === 15L || col("dist").isNull).isEmpty)
    // the remind composition's scan pool keeps the same contract: in a
    // 3-row pool a null-distance row would rank first and take a slot
    val (q, v) = (qtexts.head._2, typedlit(Seq(0.0, 0.0)))
    Seq(search.searchRemind(q, v, scanK = 3),
        search.searchRemindFixed(q, v, scanK = 3)).foreach { remind =>
      assert(remind.collect().nonEmpty)
      assert(remind.filter(col("doc_id") === 15L || col("dist").isNull).isEmpty)
    }
  }

  test("batch forms refuse non-integral ids eagerly") {
    val sCorpus = corpus.withColumn("doc_id", col("doc_id").cast("string"))
    val e = intercept[IllegalArgumentException] {
      new MultiStageSearch(sCorpus, "doc_id", "text", "embedding")
        .searchGatedBatch(queriesDf, "qid", "qtext", "qvec")
    }
    assert(e.getMessage.contains("corpus id"))
    val sq = queriesDf.withColumn("qid", col("qid").cast("string"))
    val e2 = intercept[IllegalArgumentException] {
      new MultiStageSearch(corpus, "doc_id", "text", "embedding")
        .searchGatedBatch(sq, "qid", "qtext", "qvec")
    }
    assert(e2.getMessage.contains("query id"))
    val e3 = intercept[IllegalArgumentException] {
      new MultiStageSearch(sCorpus.withColumn("cluster_id", lit(0L)),
          "doc_id", "text", "embedding")
        .searchGatedBatchServed(queriesDf, "qid", "qtext", "qvec",
          Seq((0L, Array(0.0, 0.0))).toDF("cid", "cvec"), "cid", "cvec", 1)
    }
    assert(e3.getMessage.contains("corpus id"))
    // searchGated is the batch core on a one-row log: it refuses at
    // call time too, while the request ladder keeps string ids working
    val sSearch = new MultiStageSearch(sCorpus, "doc_id", "text", "embedding")
    val q = qtexts.head._2
    val e4 = intercept[IllegalArgumentException] {
      sSearch.searchGated(q, typedlit(Seq(0.0, 0.0)))
    }
    assert(e4.getMessage.contains("corpus id"))
    assert(e4.getMessage.contains("searchFixed"))
    assert(sSearch.search(q, typedlit(Seq(0.0, 0.0))).collect().nonEmpty)
    assert(sSearch.searchFixed(q, typedlit(Seq(0.0, 0.0))).collect().nonEmpty)
  }

  test("guards are loud: duplicate qids, custom knnBackend") {
    val search = new MultiStageSearch(corpus, "doc_id", "text", "embedding")
    val dup = Seq((1L, "join row", Seq(0.0, 0.0)), (1L, "sort", Seq(0.0, 0.0)))
      .toDF("qid", "qtext", "qvec")
    val e = intercept[IllegalArgumentException] {
      search.searchGatedBatch(dup, "qid", "qtext", "qvec")
    }
    assert(e.getMessage.contains("duplicate"))
    val served = new MultiStageSearch(corpus, "doc_id", "text", "embedding",
      knnBackend = Some(_ => corpus))
    val e2 = intercept[IllegalArgumentException] {
      served.searchGatedBatch(queriesDf, "qid", "qtext", "qvec")
    }
    assert(e2.getMessage.contains("knnBackend"))
  }
}
