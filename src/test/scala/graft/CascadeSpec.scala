package graft

import graft.operators.{CascadeConfig, MultiStageSearch}
import graft.semantic.UserProfile
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** §3.1 flagship cascade: adaptive relaxation + priority dedup +
  * hybrid rerank + top-N rank over a small in-memory corpus. */
class CascadeSpec extends SparkSpec {
  import spark.implicits._

  /** `f`'s result and the number of Spark jobs it started, counted by a
    * job tag through the status tracker. The tracker is fed
    * asynchronously, so the count is read once a marker job started
    * after `f` has reached it. */
  private def jobsOf[T](f: => T): (T, Int) = {
    val sc = spark.sparkContext
    val tag = s"cascade-spec-${java.util.UUID.randomUUID}"
    sc.addJobTag(tag)
    val out = try f finally sc.removeJobTag(tag)
    sc.addJobTag(tag + "-marker")
    try sc.parallelize(Seq(1), 1).count() finally sc.removeJobTag(tag + "-marker")
    val deadline = System.nanoTime() + 30000000000L
    while (sc.statusTracker.getJobIdsForTag(tag + "-marker").isEmpty &&
        System.nanoTime() < deadline) Thread.sleep(10)
    assert(sc.statusTracker.getJobIdsForTag(tag + "-marker").nonEmpty)
    (out, sc.statusTracker.getJobIdsForTag(tag).length)
  }

  private def corpus = {
    val docs = Seq(
      (0L, "join job in the row district", Array(0.0f, 0.0f)),
      (1L, "join work near the row area", Array(0.1f, 0.0f)),
      (2L, "merge position in the row zone", Array(0.2f, 0.0f)),
      (3L, "sort role in the key sector", Array(5.0f, 5.0f)),
      (4L, "filter opening in the line region", Array(6.0f, 6.0f)),
      (5L, "unrelated document entirely", Array(9.0f, 9.0f)))
    docs.toDF("doc_id", "text", "embedding")
      .withColumn("qv", typedlit(Seq(0.0, 0.0)))
  }

  test("returns at most finalN ranked rows, rank contiguous from 1") {
    val search = new MultiStageSearch(corpus, "doc_id", "text", "embedding",
      CascadeConfig(topK = 3, finalN = 3))
    val out = search.search("looking for a join job in the row area", col("qv"))
      .select("rank", "doc_id", "score")
      .as[(Int, Long, Double)].collect().sortBy(_._1)
    assert(out.length <= 3 && out.nonEmpty)
    assert(out.map(_._1).toSeq == (1 to out.length))
    // scores are non-increasing in rank order
    assert(out.map(_._3).sliding(2).forall {
      case Array(a, b) => a >= b
      case _ => true
    })
  }

  test("each doc_id appears at most once (keep-first dedup)") {
    val search = new MultiStageSearch(corpus, "doc_id", "text", "embedding",
      CascadeConfig(topK = 4, finalN = 6, fallbackThreshold = 10))
    val ids = search.search("join row", col("qv"))
      .select("doc_id").as[Long].collect()
    assert(ids.distinct.length == ids.length)
  }

  test("query with no vocabulary hits still returns results (fallback stage)") {
    val search = new MultiStageSearch(corpus, "doc_id", "text", "embedding",
      CascadeConfig(topK = 3, finalN = 3))
    val out = search.search("기타 문의", col("qv")).collect()
    assert(out.nonEmpty) // unfiltered kNN fallback fired
  }

  test("searchRemind (scan-then-filter composition) ranks matching docs first") {
    val search = new MultiStageSearch(corpus, "doc_id", "text", "embedding",
      CascadeConfig(finalN = 3, relaxThreshold = 1))
    val out = search.searchRemind("join row", col("qv"), scanK = 6)
      .select("rank", "doc_id").as[(Int, Long)].collect().sortBy(_._1)
    assert(out.nonEmpty && out.length <= 3)
    // post-filter kept only docs containing both terms → ids 0 and 1
    assert(out.map(_._2).toSet.subsetOf(Set(0L, 1L)))
  }

  test("searchRemind falls back to the whole pool when the filter starves") {
    val search = new MultiStageSearch(corpus, "doc_id", "text", "embedding",
      CascadeConfig(finalN = 5, relaxThreshold = 3))
    val out = search.searchRemind("vector 없는 조건", col("qv"), scanK = 6)
    assert(out.count() > 0) // nothing matches the filter → unfiltered pool
  }

  test("searchRemindFixed equals searchRemind when the filter survives the gate") {
    val search = new MultiStageSearch(corpus, "doc_id", "text", "embedding",
      CascadeConfig(relaxThreshold = 2, finalN = 4))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("rank", "doc_id", "stage_rank").collect().toSeq
    val q = "looking for a join job in the row area"
    assert(rows(search.searchRemindFixed(q, col("qv"), scanK = 6)) ==
      rows(search.searchRemind(q, col("qv"), scanK = 6)))
  }

  test("searchRemindFixed equals searchRemind when the gate falls back") {
    // only one doc contains both terms -> below relaxThreshold=5 ->
    // both paths must fall back to the unfiltered pool
    val search = new MultiStageSearch(corpus, "doc_id", "text", "embedding",
      CascadeConfig(relaxThreshold = 5, finalN = 4))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("rank", "doc_id", "stage_rank").collect().toSeq
    val q = "looking for a sort job in the key area"
    assert(rows(search.searchRemindFixed(q, col("qv"), scanK = 6)) ==
      rows(search.searchRemind(q, col("qv"), scanK = 6)))
  }

  test("search equals searchFixed when every gate fires (all-empty stages)") {
    // No doc contains 'join' or 'row' → every filtered stage returns 0
    // rows, so every count gate (relax, single-field, fallback) fires
    // and the adaptive stage list equals the fixed one — the identity
    // the c1 harness entry asserts on the parquet corpus.
    val noTerms = corpus.filter(
      !lower(col("text")).contains("join") && !lower(col("text")).contains("row"))
    val search = new MultiStageSearch(noTerms, "doc_id", "text", "embedding",
      CascadeConfig(topK = 3, finalN = 5))
    val q = "looking for a join job in the row area"
    val adaptive = search.search(q, col("qv")).collect().toSeq
    val fixed = search.searchFixed(q, col("qv")).collect().toSeq
    assert(adaptive.nonEmpty)
    assert(adaptive == fixed)
    // everything came from the unfiltered fallback (the last stage)
    assert(adaptive.forall(_.getAs[Int]("stage_rank") == 7))
  }

  test("searchGated equals search on the all-gates-fire fixture AND on a no-gate corpus") {
    val q = "looking for a join job in the row area"
    // all gates fire: no doc contains either term → every filtered
    // stage is empty, relax + single-field + fallback all included,
    // and the declarative gate ladder must reproduce that
    val noTerms = corpus.filter(
      !lower(col("text")).contains("join") && !lower(col("text")).contains("row"))
    val starved = new MultiStageSearch(noTerms, "doc_id", "text", "embedding",
      CascadeConfig(topK = 3, finalN = 5))
    val a1 = starved.search(q, col("qv")).collect().toSeq
    assert(a1.nonEmpty && a1 == starved.searchGated(q, col("qv")).collect().toSeq)
    assert(a1 == starved.searchFixed(q, col("qv")).collect().toSeq)
    // gates DON'T all fire on the full corpus (strict stage matches
    // docs 0/1) — the gated plan must then skip exactly the stages
    // search() skipped, including the ran-only stage numbering
    val full = new MultiStageSearch(corpus, "doc_id", "text", "embedding",
      CascadeConfig(topK = 3, finalN = 6, relaxThreshold = 3,
        fallbackThreshold = 4))
    val a2 = full.search(q, col("qv")).collect().toSeq
    val g2 = full.searchGated(q, col("qv")).collect().toSeq
    assert(a2.nonEmpty && a2 == g2)
    // and the two corpora exercise DIFFERENT gate outcomes: the
    // starved run ends at stage 7 (everything included), the full run
    // must have renumbered at least one stage below 7
    assert(a1.forall(_.getAs[Int]("stage_rank") == 7))
    assert(a2.exists(_.getAs[Int]("stage_rank") < 7))
  }

  test("searchGated renumbers stages exactly as search() under partial gating") {
    // relaxThreshold high enough that g2/g3 fire but data exists in
    // the single-field stages: stage ranks must match ran-only
    // numbering in both forms, row for row, across a sweep of configs
    val q = "looking for a join job in the row area"
    for (relax <- Seq(1, 2, 4, 8); fb <- Seq(2, 6, 20)) {
      val ms = new MultiStageSearch(corpus, "doc_id", "text", "embedding",
        CascadeConfig(topK = 2, finalN = 6, relaxThreshold = relax,
          fallbackThreshold = fb))
      val a = ms.search(q, col("qv")).collect().toSeq
      val g = ms.searchGated(q, col("qv")).collect().toSeq
      assert(a == g, s"relax=$relax fb=$fb\nadaptive=$a\ngated=$g")
    }
  }

  test("knnBackend: injected candidate source feeds every stage; policy unchanged") {
    // The c5 serving shape in miniature: a backend serving from a
    // stored cluster-partitioned index whose probe keeps clusters
    // {0, 1} — doc 5 (cluster 9) must be invisible to EVERY stage,
    // and the stage plan must prune to the probed partitions
    // (PartitionFilters), not scan-then-filter.
    val dir = java.nio.file.Files
      .createTempDirectory("graft_cascade_idx_").toString + "/idx"
    graft.sources.IndexStore.write(
      corpus.withColumn("cluster_id",
        when(col("doc_id") === 5, 9L).otherwise(col("doc_id") % 2)), dir)
    val probed = Seq(0L, 1L)
    val backend = (_: org.apache.spark.sql.Column) =>
      graft.sources.IndexStore.load(spark, dir)
        .filter(col("cluster_id").isin(probed: _*))
    val stagePlan = backend(col("qv"))
      .queryExecution.executedPlan.toString
    assert("PartitionFilters: \\[[^\\]]*cluster_id".r
        .findFirstIn(stagePlan).isDefined,
      s"served stage must prune to probed partitions:\n${stagePlan.take(2000)}")
    val search = new MultiStageSearch(corpus, "doc_id", "text", "embedding",
      CascadeConfig(topK = 3, finalN = 5), knnBackend = Some(backend))
    val q = "looking for a join job in the row area"
    val served = search.search(q, col("qv")).collect().toSeq
    assert(served.nonEmpty)
    assert(!served.exists(_.getAs[Long]("doc_id") == 5L),
      "a doc outside the probed clusters leaked into the cascade")
    // adaptive ≡ fixed holds for the served backend too (same policy)
    val fixture = corpus.filter(
      !lower(col("text")).contains("join") && !lower(col("text")).contains("row"))
    // fixture narrows the POOL (before the top-k cut), as c5 does
    val fixBackend = (_: org.apache.spark.sql.Column) =>
      graft.sources.IndexStore.load(spark, dir)
        .filter(col("cluster_id").isin(probed: _*))
        .filter(!lower(col("text")).contains("join") &&
          !lower(col("text")).contains("row"))
    val fixSearch = new MultiStageSearch(fixture, "doc_id", "text",
      "embedding", CascadeConfig(topK = 3, finalN = 5),
      knnBackend = Some(fixBackend))
    val a = fixSearch.search(q, col("qv")).collect().toSeq
    val f = fixSearch.searchFixed(q, col("qv")).collect().toSeq
    assert(a.nonEmpty && a == f)
  }

  test("repeated search calls retain no cached RDDs") {
    // a serving loop calls search once per request; no call may leave
    // cached blocks behind. searchFixed (search with open gates) and
    // searchGated (the batch core, a lazy plan) must retain nothing
    // either — checked WITHOUT a forced GC, so a checkpoint left for
    // the ContextCleaner would show here
    val search = new MultiStageSearch(corpus, "doc_id", "text", "embedding",
      CascadeConfig(topK = 3, finalN = 5))
    SessionHygiene.dropCachedBlocks(spark)
    val before = spark.sparkContext.getPersistentRDDs.size
    val q = "looking for a join job in the row area"
    Seq[(String, Column) => DataFrame](
        search.search, search.searchFixed, search.searchGated)
      .foreach { form =>
        (1 to 5).foreach(_ => assert(form(q, col("qv")).collect().nonEmpty))
      }
    assert(spark.sparkContext.getPersistentRDDs.size == before)
  }

  test("one Spark job per request: every query structure, gates open, a served pool; blank runs none") {
    val search = new MultiStageSearch(corpus, "doc_id", "text", "embedding",
      CascadeConfig(topK = 3, finalN = 5))
    val served = new MultiStageSearch(corpus, "doc_id", "text", "embedding",
      CascadeConfig(topK = 3, finalN = 5),
      knnBackend = Some(_ => corpus.filter(col("doc_id") =!= 5L)))
    SessionHygiene.dropCachedBlocks(spark)
    val before = spark.sparkContext.getPersistentRDDs.size
    val queries = Seq(
      "looking for a join job in the row area", // region + job
      "column stuff",                           // region only
      "sort pipelines",                         // job only
      "기타 문의")                               // no terms
    for (q <- queries;
         (name, form) <- Seq[(String, (String, Column) => DataFrame)](
           "search" -> search.search, "searchFixed" -> search.searchFixed,
           "served search" -> served.search)) {
      val (rows, jobs) = jobsOf(form(q, col("qv")).collect())
      assert(rows.nonEmpty, s"$name '$q'")
      assert(jobs == 1, s"$name '$q' started $jobs jobs")
    }
    val (blank, blankJobs) = jobsOf(search.search("  ", col("qv")).collect())
    assert(blank.isEmpty && blankJobs == 0, s"blank query started $blankJobs jobs")
    assert(spark.sparkContext.getPersistentRDDs.size == before)
  }

  test("concurrent search calls on one instance answer as sequential calls do") {
    // a serving loop shares one instance across request threads, and
    // with it the rerank's once-analyzed score columns
    val search = new MultiStageSearch(corpus, "doc_id", "text", "embedding",
      CascadeConfig(topK = 3, finalN = 5))
    val queries = Seq("looking for a join job in the row area", "column stuff",
      "sort pipelines", "기타 문의")
    def answer(q: String) = search.search(q, col("qv")).collect().toSeq
    val expected = queries.map(answer)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    try {
      val calls = for (_ <- 1 to 3; i <- queries.indices) yield
        i -> pool.submit(() => answer(queries(i)))
      calls.foreach { case (i, f) => assert(f.get() == expected(i), queries(i)) }
    } finally pool.shutdown()
  }

  test("ties at the stage-k and finalN cuts break by id in Spark's order, string ids too") {
    // two docs with identical text and embedding tie on dist at every
    // stage's k cut and on (score, dist) at the finalN cut; the string
    // ids order one way as UTF-8 bytes (Spark) and the other way as
    // UTF-16 units (String.compareTo): "｡" U+FF61 vs "😀" U+1F600
    val (near, far) = ("join job in the row district", "unrelated document entirely")
    def fixture(df: DataFrame) = df.toDF("doc_id", "text", "embedding")
      .withColumn("qv", typedlit(Seq(0.0, 0.0)))
    val fixtures = Seq(
      fixture(Seq(("😀", near, Seq(1.0, 0.0)), ("｡", near, Seq(1.0, 0.0)),
        ("z", far, Seq(9.0, 9.0))).toDF()),
      fixture(Seq((7L, near, Seq(1.0, 0.0)), (3L, near, Seq(1.0, 0.0)),
        (9L, far, Seq(9.0, 9.0))).toDF()))
    val q = "join row"
    for (docs <- fixtures) {
      val sparkOrder = docs.filter(col("text").startsWith("join"))
        .orderBy(col("doc_id")).select("doc_id").collect().map(_.get(0)).toSeq
      for ((k, n) <- Seq((1, 1), (2, 1), (2, 2))) {
        val ms = new MultiStageSearch(docs, "doc_id", "text", "embedding",
          CascadeConfig(topK = k, fallbackK = k, finalN = n))
        def ids(df: DataFrame) = df.orderBy("rank").select("doc_id")
          .collect().map(_.get(0)).toSeq
        val expected = sparkOrder.take(math.min(k, n))
        assert(ids(ms.search(q, col("qv"))) == expected, s"search k=$k n=$n")
        assert(ids(ms.searchRemind(q, col("qv"), scanK = k)) == expected,
          s"searchRemind k=$k n=$n")
        if (docs.schema("doc_id").dataType == org.apache.spark.sql.types.LongType)
          assert(ms.search(q, col("qv")).collect().toSeq ==
            ms.searchGated(q, col("qv")).collect().toSeq, s"searchGated k=$k n=$n")
      }
    }
  }

  test("F4: blank query returns the typed empty response without running any stage") {
    // Poisoned corpus: ANY stage execution (even the unfiltered S1
    // fallback) would evaluate the throwing udf and fail the collect.
    val boom = udf((_: Long) => {
      require(false, "a search stage executed on a blank query"); Seq(0.0f)
    })
    val poisoned = corpus.withColumn("embedding", boom(col("doc_id")))
    // a populated profile must NOT rescue a blank query — the
    // reference guards BEFORE the profile coalesce (main.py:419-426)
    val search = new MultiStageSearch(poisoned, "doc_id", "text", "embedding",
      CascadeConfig(), UserProfile(jobType = Some("join"), location = Some("row")))
    val results = Seq(
      search.search("   ", col("qv")),
      search.searchFixed("", col("qv")),
      search.searchRemind("\t \n", col("qv"), scanK = 6),
      search.searchRemindFixed(null, col("qv"), scanK = 6))
    results.foreach { df =>
      assert(df.collect().isEmpty)
      // typed: the exact schema a non-empty search returns
      assert(df.columns.toSeq == Seq("doc_id", "text", "dist", "stage_rank",
        "judge_score", "rule_score", "score", "rank"))
    }
  }

  test("L2: profile fills NER fields the query did not yield") {
    val cfg = CascadeConfig(topK = 3, finalN = 3)
    val withProfile = new MultiStageSearch(corpus, "doc_id", "text", "embedding",
      cfg, UserProfile(jobType = Some("join"), location = Some("row")))
    val noProfile = new MultiStageSearch(corpus, "doc_id", "text", "embedding", cfg)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("rank", "doc_id", "stage_rank", "score").collect().toSeq
    // "기타 문의" yields no NER fields -> both coalesce from the profile;
    // identical to a query that names job=join, region=row itself
    assert(rows(withProfile.search("기타 문의", col("qv"))) ==
      rows(noProfile.search("join row", col("qv"))))
    assert(rows(withProfile.searchFixed("기타 문의", col("qv"))) ==
      rows(noProfile.searchFixed("join row", col("qv"))))
  }

  test("L2: query-provided NER fields win over the profile") {
    val cfg = CascadeConfig(topK = 3, finalN = 3)
    val withProfile = new MultiStageSearch(corpus, "doc_id", "text", "embedding",
      cfg, UserProfile(jobType = Some("join"), location = Some("row")))
    val noProfile = new MultiStageSearch(corpus, "doc_id", "text", "embedding", cfg)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("rank", "doc_id", "stage_rank", "score").collect().toSeq
    // the query names merge/line itself -> profile must not override
    assert(rows(withProfile.search("merge line 문의", col("qv"))) ==
      rows(noProfile.search("merge line 문의", col("qv"))))
  }

  test("strict stage results outrank later-stage results for equal scores") {
    val search = new MultiStageSearch(corpus, "doc_id", "text", "embedding",
      CascadeConfig(topK = 2, finalN = 6, fallbackThreshold = 10))
    val out = search.search("join row", col("qv"))
      .select("doc_id", "stage_rank").as[(Long, Int)].collect()
    // docs matching both terms came from stage 1
    assert(out.filter(_._1 <= 1).forall(_._2 == 1))
  }
}
