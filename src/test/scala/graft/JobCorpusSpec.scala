package graft

import java.nio.file.Files

import graft.operators.Chunker
import graft.sources.{IndexStore, JobCorpus}
import org.apache.spark.sql.functions._

/** S1 nested-JSON ingestion + the §3.3 offline build pipeline +
  * S2/S4 index store round trip. The fixture mirrors jobs.json's
  * shape (nested postings, map-typed requirement groups, HTML in
  * titles) without copying reference data. */
class JobCorpusSpec extends SparkSpec {
  import spark.implicits._

  private def writeFixture(): String = {
    val json =
      """{
        |  "검색조건": "고령자",
        |  "총_채용공고수": 2,
        |  "수집일시": "2026-01-21 13:49:25",
        |  "채용공고목록": [
        |    {
        |      "공고번호": 1,
        |      "채용제목": "<b>주방보조</b> 모집",
        |      "회사명": "테스트식당",
        |      "근무지역": "서울 전체",
        |      "급여조건": "월급 209 만원 이상",
        |      "채용공고ID": "K100000000000001",
        |      "채용공고URL": "http://example.com/1",
        |      "상세정보": {
        |        "직무내용": "주방 보조 업무를 담당합니다. 설거지와 재료 손질을 포함합니다.",
        |        "세부요건": [
        |          {"경력조건": ["무관"], "학력": ["무관"]},
        |          {"고용형태": ["파트타임"], "근무시간": ["주 5일", "09:00~14:00"]}
        |        ]
        |      }
        |    },
        |    {
        |      "공고번호": 2,
        |      "채용제목": "경비원 채용",
        |      "회사명": "테스트빌딩",
        |      "근무지역": "부산 전체",
        |      "급여조건": "시급 10,000원",
        |      "채용공고ID": "K100000000000002",
        |      "채용공고URL": "http://example.com/2",
        |      "상세정보": {
        |        "직무내용": "건물 경비 및 순찰 업무입니다.",
        |        "세부요건": [{"경력조건": ["경력 1년 이상"]}]
        |      }
        |    }
        |  ]
        |}""".stripMargin
    val dir = QueriesShared.tempDir("graft_jobs")
    val f = dir.resolve("jobs.json")
    Files.writeString(f, json)
    f.toString
  }

  test("readPostings explodes the nested corpus with typed columns") {
    val postings = JobCorpus.readPostings(spark, writeFixture())
    assert(postings.count() == 2)
    val first = postings.orderBy("posting_no").head()
    assert(first.getAs[Long]("posting_no") == 1L)
    assert(first.getAs[String]("title").contains("<b>")) // raw until P1
    val reqs = first.getAs[collection.Seq[Map[String, collection.Seq[String]]]]("requirements")
    assert(reqs.length == 2)
    assert(reqs.head("경력조건").toSeq == Seq("무관"))
  }

  test("a malformed corpus file yields zero rows, not a failure") {
    val dir = QueriesShared.tempDir("graft_badjson")
    val f = dir.resolve("bad.json")
    Files.writeString(f, "{ this is not json")
    assert(JobCorpus.readPostings(spark, f.toString).count() == 0)
  }

  test("buildChunks runs the full P1→P2→P3→G1→P5 pipeline") {
    val chunks = JobCorpus.buildChunks(
      JobCorpus.readPostings(spark, writeFixture()),
      Chunker(chunkSize = 80, overlap = 10))
    val rows = chunks.select("posting_no", "chunk_index", "chunk", "chunk_id")
      .orderBy("posting_no", "chunk_index").collect()
    assert(rows.length >= 2)
    // P1 stripped the HTML inside the combined text
    assert(!rows.exists(_.getAs[String]("chunk").contains("<b>")))
    // P2 flattened requirement groups into "key: v" lines somewhere
    val allText = rows.map(_.getAs[String]("chunk")).mkString("\n")
    assert(allText.contains("경력조건: 무관"))
    assert(allText.contains("근무시간: 주 5일 09:00~14:00"))
    // P5 ids are sanitized and unique
    val ids = rows.map(_.getAs[String]("chunk_id"))
    assert(ids.distinct.length == ids.length)
    assert(ids.forall(_.matches("[a-zA-Z0-9_-]+")))
    // chunks respect the size bound
    assert(rows.forall(_.getAs[String]("chunk").length <= 80))
  }

  test("IndexStore round trip with cluster partitioning and upsert") {
    val dir = QueriesShared.tempDir("graft_index").toString + "/idx"
    val idx = Seq((1L, 0L, "a"), (2L, 0L, "b"), (3L, 1L, "c"))
      .toDF("id", "cluster_id", "payload")
    IndexStore.write(idx, dir)
    val loaded = IndexStore.load(spark, dir)
    assert(loaded.count() == 3)
    // partition pruning: scanning one cluster reads one directory
    val pruned = loaded.filter($"cluster_id" === 0L)
    val scan = pruned.queryExecution.executedPlan.toString
    assert(pruned.count() == 2)
    assert(scan.contains("PartitionFilters") || scan.contains("cluster_id"))
    IndexStore.upsert(spark, dir,
      Seq((3L, 1L, "c2"), (4L, 1L, "d")).toDF("id", "cluster_id", "payload"), "id")
    val after = IndexStore.load(spark, dir).orderBy("id")
      .select("id", "payload").as[(Long, String)].collect().toSeq
    assert(after == Seq((1L, "a"), (2L, "b"), (3L, "c2"), (4L, "d")))
  }

  test("write filesPerCell: one file per cell, salted fan-out bounded, conf default reaches the pair write, rows identical") {
    // a many-partition input makes the legacy write fan out: every
    // task holding rows of a cluster emits its own file into that
    // cluster's directory (the measured 2M shape: ~60-90 rows/file)
    val idx = spark.range(800)
      .select((col("id") % 4).as("cluster_id"), col("id").as("vec_id"))
      .repartition(16)
    def dataFiles(dir: String): Int = {
      val d = new java.io.File(dir)
      d.listFiles.filter(_.getName.startsWith("cluster_id=")).map(
        _.listFiles.count(f => f.getName.endsWith(".parquet"))).sum
    }
    def rowsOf(dir: String) = IndexStore.load(spark, dir)
      .select(col("vec_id"), col("cluster_id").cast("long"))
      .as[(Long, Long)].collect().toSet
    val d0 = QueriesShared.tempDir("graft_fpc0").toString + "/idx"
    IndexStore.write(idx, d0, filesPerCell = 0)
    val legacy = dataFiles(d0)
    assert(legacy > 4, s"expected task-fan-out in the write-through layout, got $legacy")
    // the DEFAULT (conf unset) is one file per cell — the measured
    // 2M A/B won on both the write and the read side
    val d1 = QueriesShared.tempDir("graft_fpc1").toString + "/idx"
    IndexStore.write(idx, d1)
    assert(dataFiles(d1) == 4, s"one file per cell, got ${dataFiles(d1)}")
    assert(rowsOf(d1) == rowsOf(d0), "layout must not change rows")
    // conf opt-out: 0 restores the write-through layout
    val dOpt = QueriesShared.tempDir("graft_fpc_opt").toString + "/idx"
    spark.conf.set(IndexStore.FilesPerCellConf, "0")
    try IndexStore.write(idx, dOpt)
    finally spark.conf.unset(IndexStore.FilesPerCellConf)
    assert(dataFiles(dOpt) > 4)
    assert(rowsOf(dOpt) == rowsOf(d0))
    // the salt only shows with AQE's small-shuffle coalescing off (at
    // production volume the shuffle never coalesces below the target;
    // when it does, files can only get FEWER — the knob's upper bound
    // is cells x filesPerCell either way)
    val d3 = QueriesShared.tempDir("graft_fpc3").toString + "/idx"
    val aqePrior = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try IndexStore.write(idx, d3, filesPerCell = 3)
    finally spark.conf.set("spark.sql.adaptive.enabled", aqePrior)
    val n3 = dataFiles(d3)
    assert(n3 > 4 && n3 <= 12, s"salted fan-out bounded by cells x 3, got $n3")
    assert(rowsOf(d3) == rowsOf(d0))
    // the session conf reaches writeVersionedWithCentroids through the
    // shared write path — the maintenance loops inherit it unmodified
    val root = QueriesShared.tempDir("graft_fpc_pair").toString + "/idx"
    spark.conf.set(IndexStore.FilesPerCellConf, "1")
    try assert(IndexStore.writeVersionedWithCentroids(idx,
      Seq((0L, Seq(0.0))).toDF("cid", "cvec"), root) == 1L)
    finally spark.conf.unset(IndexStore.FilesPerCellConf)
    // the pair version's cells live in its base directory in the pool
    val base = graft.sources.ZStore.manifestAt(spark, s"$root/v1").get.files
      .find(_.bucket == IndexStore.BaseEntry).get.path
    assert(dataFiles(s"$root/$base") == 4)
    assert(IndexStore.loadCurrentWithCentroids(spark, root)._1.count() == 800)
    // the partition-scoped rewrites share the layout: a delta touching
    // one cluster leaves that directory at one file, not one per merge
    // task — otherwise the sliver shape reappears incrementally
    IndexStore.upsertPartitioned(spark, d1, spark.range(820)
      .filter(col("id") >= 800)
      .select(lit(2L).as("cluster_id"), col("id").as("vec_id"))
      .repartition(8), "vec_id")
    val perDir = new java.io.File(d1).listFiles
      .filter(_.getName.startsWith("cluster_id="))
      .map(d => d.getName -> d.listFiles.count(_.getName.endsWith(".parquet")))
      .toMap
    assert(perDir("cluster_id=2") == 1, perDir.toString)
    assert(IndexStore.load(spark, d1).count() == 820)
    intercept[IllegalArgumentException] {
      IndexStore.write(idx, d0, filesPerCell = -1)
    }
    // a malformed conf fails loudly NAMING the key, not with a bare
    // NumberFormatException deep inside a maintenance commit
    spark.conf.set(IndexStore.FilesPerCellConf, "1.0")
    val eConf = try intercept[IllegalArgumentException] {
      IndexStore.write(idx, QueriesShared.tempDir("graft_fpc_bad").toString)
    } finally spark.conf.unset(IndexStore.FilesPerCellConf)
    assert(eConf.getMessage.contains(IndexStore.FilesPerCellConf), eConf.getMessage)
    // a NEGATIVE conf value fails the same way — naming the session
    // key, not surfacing as an anonymous filesPerPartition require
    // deep inside a maintenance commit
    spark.conf.set(IndexStore.FilesPerCellConf, "-1")
    val eNeg = try intercept[IllegalArgumentException] {
      IndexStore.write(idx, QueriesShared.tempDir("graft_fpc_neg").toString)
    } finally spark.conf.unset(IndexStore.FilesPerCellConf)
    assert(eNeg.getMessage.contains(IndexStore.FilesPerCellConf), eNeg.getMessage)
    // salted fan-out survives an unhashable (map) column: the salt
    // prefers atomic non-cluster columns and never touches the map
    val mapIdx = spark.range(100).select((col("id") % 2).as("cluster_id"),
      col("id").as("vec_id"), map(lit("k"), col("id")).as("meta"))
    val dMap = QueriesShared.tempDir("graft_fpc_map").toString + "/idx"
    IndexStore.write(mapIdx, dMap, filesPerCell = 2)
    assert(IndexStore.load(spark, dMap).count() == 100)
  }

  test("versioned store: commit marker gates visibility, prune keeps rollback window") {
    val root = QueriesShared.tempDir("graft_vidx").toString + "/idx"
    val v1 = IndexStore.writeVersioned(
      Seq((1L, "a")).toDF("id", "payload"), root)
    val v2 = IndexStore.writeVersioned(
      Seq((1L, "a2"), (2L, "b")).toDF("id", "payload"), root)
    assert(v1 == 1L && v2 == 2L)
    // current = newest committed
    assert(IndexStore.loadCurrent(spark, root).count() == 2)
    // a crashed build: directory present, no _SUCCESS marker
    val crashed = new java.io.File(s"$root/v3")
    assert(crashed.mkdirs())
    java.nio.file.Files.write(crashed.toPath.resolve("part-junk.parquet"),
      Array[Byte](1, 2, 3))
    assert(IndexStore.committedVersions(spark, root) == Seq(1L, 2L))
    assert(IndexStore.loadCurrent(spark, root).count() == 2) // still v2
    // the next write skips past the crashed attempt's number
    val v4 = IndexStore.writeVersioned(
      Seq((9L, "z")).toDF("id", "payload"), root)
    assert(v4 == 4L)
    assert(IndexStore.loadCurrent(spark, root)
      .select("id").as[Long].collect().toSeq == Seq(9L))
    // prune to 2: v1 and the crashed v3 debris go, v2 + v4 remain
    assert(IndexStore.pruneVersions(spark, root, keep = 2) == Seq(1L, 3L))
    assert(IndexStore.committedVersions(spark, root) == Seq(2L, 4L))
    assert(IndexStore.loadCurrent(spark, root).count() == 1)
  }

  test("versioned pair store: index + centroids flip atomically, marker last, sidecar-less versions refused") {
    val root = QueriesShared.tempDir("graft_pidx").toString + "/idx"
    val centsA = Seq((0L, Array(0.0, 0.0)), (1L, Array(4.0, 0.0)))
      .toDF("cid", "cvec")
    val idxA = Seq((1L, 0L, "a"), (2L, 0L, "b"), (3L, 1L, "c"))
      .toDF("id", "cluster_id", "payload")
    assert(IndexStore.writeVersionedWithCentroids(idxA, centsA, root) == 1L)
    val (i1, c1, v1) = IndexStore.loadCurrentWithCentroids(spark, root)
    assert(v1 == 1L && i1.count() == 3 && c1.count() == 2)
    // the sidecar is INVISIBLE to the index scan (underscore dir) and
    // does not break partition discovery on the cluster-partitioned dir
    assert(i1.columns.toSet == Set("id", "payload", "cluster_id"))
    assert(IndexStore.loadCurrent(spark, root).count() == 3)
    // crash sim: v2's pair fully staged but the publish rename never
    // happened — readers keep the v1 pair (the rename IS the commit),
    // and a retry reuses the number, overwriting the staging debris
    val centsB = Seq((10L, Array(1.0, 1.0))).toDF("cid", "cvec")
    val idxB = Seq((1L, 10L, "a2")).toDF("id", "cluster_id", "payload")
    assert(IndexStore.writeVersionedWithCentroids(idxB, centsB, root) == 2L)
    assert(new java.io.File(s"$root/v2")
      .renameTo(new java.io.File(s"$root/.build_v2"))) // un-publish = the crash state
    val (i1b, c1b, v1b) = IndexStore.loadCurrentWithCentroids(spark, root)
    assert(v1b == 1L && i1b.count() == 3 && c1b.count() == 2)
    assert(IndexStore.committedVersions(spark, root) == Seq(1L))
    // the retry lands on the same number and publishes over the debris
    assert(IndexStore.writeVersionedWithCentroids(idxB, centsB, root) == 2L)
    assert(IndexStore.loadCurrentWithCentroids(spark, root)._3 == 2L)
    // a committed INDEX-ONLY version under the same root is refused
    // loudly: serving it would need a caller-supplied centroid path —
    // exactly the silent-mis-prune hazard the pair store removes
    IndexStore.writeVersioned(idxB, root)
    val e = intercept[IllegalArgumentException] {
      IndexStore.loadCurrentWithCentroids(spark, root)
    }
    assert(e.getMessage.contains("_centroids"))
    // stale staging debris (crashed attempts targeting already-published
    // numbers) is swept by pruneVersions; the live version set is kept
    assert(new java.io.File(s"$root/.build_v1_dead").mkdirs())
    IndexStore.pruneVersions(spark, root, keep = 3)
    assert(!new java.io.File(s"$root/.build_v1_dead").exists())
    assert(!new java.io.File(s"$root/.build_v2").exists()) // the crash-sim debris
    assert(IndexStore.committedVersions(spark, root) == Seq(1L, 2L, 3L))
  }

  test("cached pair load: repeat calls reuse the pair, a version flip is picked up immediately") {
    val root = QueriesShared.tempDir("graft_pcache").toString + "/idx"
    val centsA = Seq((0L, Array(0.0, 0.0))).toDF("cid", "cvec")
    val idxA = Seq((1L, 0L, "a"), (2L, 0L, "b"))
      .toDF("id", "cluster_id", "payload")
    IndexStore.writeVersionedWithCentroids(idxA, centsA, root)
    val (i1, c1, v1) = IndexStore.loadCurrentWithCentroidsCached(spark, root)
    assert(v1 == 1L && i1.count() == 2 && c1.count() == 1)
    // repeat call: the SAME materialized pair objects come back (the
    // cache hit the whole point — no schema re-inference per query)
    val (i1b, c1b, v1b) = IndexStore.loadCurrentWithCentroidsCached(spark, root)
    assert(v1b == 1L && (i1b eq i1) && (c1b eq c1))
    // a committed flip is visible on the very next cached call — the
    // freshness check is the same per-call version listing the
    // uncached form does, so the cache can never serve a stale pair
    val centsB = Seq((10L, Array(1.0, 1.0)), (11L, Array(2.0, 2.0)))
      .toDF("cid", "cvec")
    val idxB = Seq((1L, 10L, "a2")).toDF("id", "cluster_id", "payload")
    IndexStore.writeVersionedWithCentroids(idxB, centsB, root)
    val (i2, c2, v2) = IndexStore.loadCurrentWithCentroidsCached(spark, root)
    assert(v2 == 2L && i2.count() == 1 && c2.count() == 2)
    assert(!(i2 eq i1))
    // distinct roots do not collide in the cache
    val root2 = QueriesShared.tempDir("graft_pcache2").toString + "/idx"
    IndexStore.writeVersionedWithCentroids(idxA, centsA, root2)
    assert(IndexStore.loadCurrentWithCentroidsCached(spark, root2)._3 == 1L)
    assert(IndexStore.loadCurrentWithCentroidsCached(spark, root)._3 == 2L)
  }

  test("pair cache: a root DELETED and rebuilt from scratch misses (mtime token), never serves deleted files") {
    // version numbers restart at 1 after a teardown, so a bare-version
    // freshness token would hand back the cached plan over files that
    // no longer exist — a confusing downstream FileNotFoundException
    // instead of a reload
    val root = QueriesShared.tempDir("graft_prebuild").toString + "/idx"
    val cents = Seq((0L, Array(0.0, 0.0))).toDF("cid", "cvec")
    val idxA = Seq((1L, 0L, "old")).toDF("id", "cluster_id", "payload")
    IndexStore.writeVersionedWithCentroids(idxA, cents, root)
    val (iOld, _, vOld) = IndexStore.loadCurrentWithCentroidsCached(spark, root)
    assert(vOld == 1L && iOld.select("payload").as[String].collect()
      .toSeq == Seq("old"))
    // teardown + rebuild at the SAME version number (mtime granularity
    // is millis on the local FS — the sleep keeps the stamps distinct)
    def rmrf(f: java.io.File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(rmrf)); f.delete()
    }
    rmrf(new java.io.File(root))
    Thread.sleep(50)
    val idxB = Seq((2L, 0L, "new")).toDF("id", "cluster_id", "payload")
    IndexStore.writeVersionedWithCentroids(idxB, cents, root)
    val (iNew, _, vNew) = IndexStore.loadCurrentWithCentroidsCached(spark, root)
    assert(vNew == 1L)
    assert(iNew.select("payload").as[String].collect().toSeq == Seq("new"),
      "the rebuilt root must MISS the cache, not serve the deleted v1")
  }

  test("pair cache is BOUNDED (LRU) and sweeps stopped-session entries") {
    // bound: flooding with more roots than the cap never grows the map
    // past it — a long-lived multi-root service cannot pin DataFrames
    // (and transitively sessions) forever; eviction is access-order
    // LRU, and an evicted root just pays one uncached reload
    val cents = Seq((0L, Array(0.0, 0.0))).toDF("cid", "cvec")
    val idx = Seq((1L, 0L, "x")).toDF("id", "cluster_id", "payload")
    val base = QueriesShared.tempDir("graft_pbound").toString
    (0 until IndexStore.PairCacheMaxEntries + 5).foreach { i =>
      val r = s"$base/idx$i"
      IndexStore.writeVersionedWithCentroids(idx, cents, r)
      IndexStore.loadCurrentWithCentroidsCached(spark, r)
    }
    assert(IndexStore.pairCacheSize <= IndexStore.PairCacheMaxEntries)
    // the most recent root is resident, the oldest was evicted
    assert(IndexStore.pairCacheContains(spark,
      s"$base/idx${IndexStore.PairCacheMaxEntries + 4}"))
    assert(!IndexStore.pairCacheContains(spark, s"$base/idx0"))
    // an evicted root still loads correctly (one uncached reload)
    assert(IndexStore.loadCurrentWithCentroidsCached(spark,
      s"$base/idx0")._3 == 1L)
    // stopped-session sweep: the predicate seam stands in for a stopped
    // SparkContext (tests share one context and cannot stop it); any
    // access drops every entry whose session the predicate marks dead
    val victim = s"$base/idx1"
    IndexStore.loadCurrentWithCentroidsCached(spark, victim)
    assert(IndexStore.pairCacheContains(spark, victim))
    val prev = IndexStore.pairCacheSessionStopped
    try {
      IndexStore.pairCacheSessionStopped = _ => true
      IndexStore.loadCurrentWithCentroidsCached(spark, s"$base/idx2")
      assert(!IndexStore.pairCacheContains(spark, victim),
        "stopped-session entries must be swept on access")
    } finally IndexStore.pairCacheSessionStopped = prev
  }

  test("upsert ABORTS (not truncates) on an existing-but-unreadable store") {
    // the documented recovery contract: a corrupt path must fail every
    // retry loudly — silently treating it as empty would overwrite the
    // index with just the current batch
    val dir = QueriesShared.tempDir("graft_corrupt").toString + "/idx"
    new java.io.File(dir).mkdirs()
    Files.writeString(java.nio.file.Path.of(dir, "part-00000.parquet"),
      "this is not a parquet file")
    intercept[Exception] {
      IndexStore.upsert(spark, dir,
        Seq((1L, "a")).toDF("id", "payload"), "id")
    }
    // the corrupt evidence is still there; nothing got truncated
    val remaining = new java.io.File(dir).listFiles().map(_.getName).toSeq
    assert(remaining.contains("part-00000.parquet"))
  }

  test("upsertPartitioned rewrites only the affected cluster partitions") {
    val dir = QueriesShared.tempDir("graft_index_dyn").toString + "/idx"
    IndexStore.write(Seq(
      (1L, 0L, "a"), (2L, 0L, "b"), (11L, 1L, "x"), (12L, 1L, "y"))
      .toDF("id", "cluster_id", "payload"), dir)
    def clusterFiles(c: Long): Map[String, Long] = {
      val d = new java.io.File(s"$dir/cluster_id=$c")
      d.listFiles().filter(_.getName.endsWith(".parquet"))
        .map(f => f.getName -> f.lastModified()).toMap
    }
    val before = clusterFiles(1L)
    assert(before.nonEmpty)
    Thread.sleep(1100) // mtime granularity guard
    // batch touches ONLY cluster 0: update id 2, insert id 5
    IndexStore.upsertPartitioned(spark, dir,
      Seq((2L, 0L, "b2"), (5L, 0L, "e")).toDF("id", "cluster_id", "payload"),
      "id")
    val after = IndexStore.load(spark, dir).orderBy("id")
      .select("id", "payload").as[(Long, String)].collect().toSeq
    assert(after == Seq(
      (1L, "a"), (2L, "b2"), (5L, "e"), (11L, "x"), (12L, "y")))
    // cluster 1's files are byte-for-byte untouched (names + mtimes)
    assert(clusterFiles(1L) == before,
      "unaffected cluster partition was rewritten")
  }

  test("upsertReassigned purges the OLD cluster's copy when an id moves") {
    // the re-embedded-doc hazard upsertPartitioned documents away:
    // id 2 moves cluster 0 -> 2; its old copy must vanish from 0
    val dir = QueriesShared.tempDir("graft_index_move").toString + "/idx"
    IndexStore.write(Seq(
      (1L, 0L, "a"), (2L, 0L, "b"), (11L, 1L, "x"), (21L, 2L, "p"))
      .toDF("id", "cluster_id", "payload"), dir)
    def clusterFiles(c: Long): Map[String, Long] = {
      val d = new java.io.File(s"$dir/cluster_id=$c")
      if (!d.exists()) Map.empty
      else d.listFiles().filter(_.getName.endsWith(".parquet"))
        .map(f => f.getName -> f.lastModified()).toMap
    }
    val before1 = clusterFiles(1L)
    Thread.sleep(1100) // mtime granularity guard
    val affected = IndexStore.upsertReassigned(spark, dir,
      Seq((2L, 2L, "b2"), (5L, 0L, "e")).toDF("id", "cluster_id", "payload"),
      "id")
    // affected = old cluster of id 2 (0), new clusters (2, 0)
    assert(affected == Seq(0L, 2L))
    val after = IndexStore.load(spark, dir).orderBy("id")
      .select("id", "cluster_id", "payload").as[(Long, Long, String)]
      .collect().toSeq
    // identical to a from-scratch build over the merged corpus:
    // no stale (2, cluster 0) copy anywhere
    assert(after == Seq(
      (1L, 0L, "a"), (2L, 2L, "b2"), (5L, 0L, "e"),
      (11L, 1L, "x"), (21L, 2L, "p")))
    assert(clusterFiles(1L) == before1,
      "unaffected cluster partition was rewritten")
    // idempotent: re-applying the same batch changes nothing
    IndexStore.upsertReassigned(spark, dir,
      Seq((2L, 2L, "b2"), (5L, 0L, "e")).toDF("id", "cluster_id", "payload"),
      "id")
    assert(IndexStore.load(spark, dir).orderBy("id")
      .select("id", "cluster_id", "payload").as[(Long, Long, String)]
      .collect().toSeq == after)
  }

  test("compactPartitioned drops tombstoned rows and emptied directories") {
    val dir = QueriesShared.tempDir("graft_index_compact").toString + "/idx"
    IndexStore.write(Seq(
      (1L, 0L, "a"), (2L, 0L, "b"), (11L, 1L, "x"), (21L, 2L, "p"))
      .toDF("id", "cluster_id", "payload"), dir)
    def clusterFiles(c: Long): Map[String, Long] = {
      val d = new java.io.File(s"$dir/cluster_id=$c")
      if (!d.exists()) Map.empty
      else d.listFiles().filter(_.getName.endsWith(".parquet"))
        .map(f => f.getName -> f.lastModified()).toMap
    }
    val before1 = clusterFiles(1L)
    Thread.sleep(1100)
    // tombstones: id 2 (cluster 0 shrinks), id 21 (cluster 2 EMPTIES)
    val affected = IndexStore.compactPartitioned(spark, dir,
      Seq(2L, 21L).toDF("deleted_id"), "deleted_id", "id")
    assert(affected == Seq(0L, 2L))
    assert(IndexStore.load(spark, dir).orderBy("id")
      .select("id", "cluster_id", "payload").as[(Long, Long, String)]
      .collect().toSeq == Seq((1L, 0L, "a"), (11L, 1L, "x")))
    // the emptied cluster's directory is GONE (dynamic overwrite alone
    // would have left it stale), the untouched one is byte-identical
    assert(!new java.io.File(s"$dir/cluster_id=2").exists(),
      "emptied cluster directory survived compaction")
    assert(clusterFiles(1L) == before1,
      "unaffected cluster partition was rewritten")
    // a tombstone set hitting nothing is a no-op
    assert(IndexStore.compactPartitioned(spark, dir,
      Seq(999L).toDF("deleted_id"), "deleted_id", "id") == Seq.empty)
  }

  test("compactPartitioned refuses to empty the WHOLE index (unloadable layout)") {
    val dir = QueriesShared.tempDir("graft_index_empty").toString + "/idx"
    IndexStore.write(Seq((1L, 0L, "a"), (2L, 1L, "b"))
      .toDF("id", "cluster_id", "payload"), dir)
    // tombstoning every id would leave zero data files — load() would
    // then die on parquet schema inference; the store fails loudly first
    val ex = intercept[IllegalStateException] {
      IndexStore.compactPartitioned(spark, dir,
        Seq(1L, 2L).toDF("deleted_id"), "deleted_id", "id")
    }
    assert(ex.getMessage.contains("empty the whole index"))
    // the refusal left the index intact and loadable
    assert(IndexStore.load(spark, dir).orderBy("id")
      .select("id", "payload").as[(Long, String)].collect().toSeq ==
      Seq((1L, "a"), (2L, "b")))
    // emptying all but one cluster is still allowed (benign-empty path)
    assert(IndexStore.compactPartitioned(spark, dir,
      Seq(2L).toDF("deleted_id"), "deleted_id", "id") == Seq(1L))
    assert(IndexStore.load(spark, dir).select("id")
      .as[Long].collect().toSeq == Seq(1L))
  }
}
