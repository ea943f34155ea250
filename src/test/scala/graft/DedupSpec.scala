package graft

import graft.operators.Dedup
import org.apache.spark.sql.functions._

/** A1 keep-first dedup + the corpus-scale dedup family (SURVEY.md §2.6,
  * north-star dedup operators). */
class DedupSpec extends SparkSpec with ExecutedPlans {
  import spark.implicits._

  test("keepFirst: earlier stage wins, then ascending distance") {
    val df = Seq(
      ("a", 2, 0.1), ("a", 1, 0.9), // stage 1 beats stage 2 despite distance
      ("b", 1, 0.5), ("b", 1, 0.2), // same stage: smaller distance wins
      ("c", 3, 0.7)
    ).toDF("id", "stage_rank", "dist")
    val out = Dedup.keepFirst(df, Seq("id"),
        Seq(col("stage_rank"), col("dist"), col("id")))
      .orderBy("id")
      .as[(String, Int, Double)].collect()
    assert(out.toSeq == Seq(("a", 1, 0.9), ("b", 1, 0.2), ("c", 3, 0.7)))
  }

  test("keepFirst is deterministic across partitionings") {
    val rows = (1 to 200).map(i => (s"k${i % 20}", i % 7, i.toDouble))
    def run(parts: Int) =
      Dedup.keepFirst(spark.createDataFrame(rows).toDF("id", "stage_rank", "dist")
          .repartition(parts),
        Seq("id"), Seq(col("stage_rank"), col("dist"), col("id")))
        .orderBy("id").collect().toSeq
    assert(run(1) == run(7))
  }

  test("exactByText groups identical texts and keeps min id") {
    val df = Seq((1L, "same text"), (2L, "same text"), (3L, "other"))
      .toDF("doc_id", "text")
    val out = Dedup.exactByText(df, "text", "doc_id")
      .orderBy("keep_id")
      .select("keep_id", "n_copies").as[(Long, Long)].collect()
    assert(out.toSeq == Seq((1L, 2L), (3L, 1L)))
  }

  test("minhashNearDups finds exact duplicates and skips unrelated docs") {
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val near = "alpha beta gamma delta epsilon zeta eta theta iota lambda"
    val far = "one two three four five six seven eight nine ten"
    val df = Seq((1L, base), (2L, base), (3L, near), (4L, far))
      .toDF("doc_id", "text")
    val pairs = Dedup.minhashNearDups(df, "doc_id", "text",
        numHashes = 32, bandRows = 4, shingleK = 3, threshold = 0.5)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)))      // identical: jaccard 1.0
    assert(!pairs.exists(p => p._1 == 4L || p._2 == 4L)) // unrelated never verified in
  }

  test("minhashNearDups: past JoinCountVerifyMinDocs shingled docs the join-count verify runs, row-identical") {
    // JoinCountVerifyMinDocs + 1 shingled docs: every 50th doc has a
    // near copy (jaccard 3/5) and every 100th an exact one; the rest,
    // and the last doc (a group head with no copy), pair with nothing.
    // Without the last doc the corpus sits AT the threshold and takes
    // the collect_set verify.
    val n = Dedup.JoinCountVerifyMinDocs.toInt + 1
    val docs = (0 until n).map { i =>
      val b = i - i % 50
      val text =
        if (i % 50 == 1) s"a$b b$b c$b d$b e$b g$b"
        else if (i % 100 == 2) s"a$b b$b c$b d$b e$b f$b"
        else if (i % 50 == 0) s"a$b b$b c$b d$b e$b f$b"
        else s"u$i v$i w$i x$i"
      (i.toLong, text)
    }
    def run(df: org.apache.spark.sql.DataFrame) = plansOf(
      Dedup.minhashNearDups(df, "doc_id", "text")
        .as[(Long, Long, Double)].collect().toSet)
    val (big, bigPlans) = run(docs.toDF("doc_id", "text"))
    val (small, smallPlans) = run(docs.init.toDF("doc_id", "text"))
    assert(bigPlans.nonEmpty && !bigPlans.exists(_.toString.contains("collect_set")),
      s"join-count verify expected:\n${bigPlans.mkString("\n")}")
    assert(smallPlans.exists(_.toString.contains("collect_set")),
      s"collect_set verify expected:\n${smallPlans.mkString("\n")}")
    assert(big.exists(_._3 == 1.0) && big.exists(_._3 == 0.6))
    assert(big == small)
  }

  test("minhashNearDups and containmentPairs release what they persist") {
    val df = Seq((1L, "alpha beta gamma delta epsilon"), (2L, "alpha beta gamma delta epsilon"),
        (3L, "one two three four five"))
      .toDF("doc_id", "text")
    val cacheManager = spark.sharedState.cacheManager
    spark.catalog.clearCache()
    Seq[() => org.apache.spark.sql.DataFrame](
      () => Dedup.minhashNearDups(df, "doc_id", "text"),
      () => Dedup.containmentPairs(df, "doc_id", "text", minShared = 1)
    ).foreach { op =>
      val before = spark.sparkContext.getPersistentRDDs.size
      val pairs = op()
      // no CacheManager entry outlives the call; of the RDDs, at most
      // the pairs' checkpoint does (other suites' lazy checkpoints aside)
      assert(cacheManager.isEmpty)
      assert(spark.sparkContext.getPersistentRDDs.size <= before + 1)
      assert(pairs.select("doc_a", "doc_b").as[(Long, Long)].collect().toSeq == Seq((1L, 2L)))
    }
  }

  test("minhashNearDupsAgainst equals the self-join restricted to cross-side pairs") {
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val near = "alpha beta gamma delta epsilon zeta eta theta iota lambda"
    val far = "one two three four five six seven eight nine ten"
    val df = Seq((10L, base), (11L, near), (3L, base), (4L, far), (5L, near))
      .toDF("doc_id", "text")
    val isNew = (id: Long) => id >= 10L
    val inc = Dedup.minhashNearDupsAgainst(
        df.filter(col("doc_id") >= 10), df.filter(col("doc_id") < 10),
        "doc_id", "text", numHashes = 32, bandRows = 4, shingleK = 3,
        threshold = 0.5)
      .select("doc_new", "doc_old", "jaccard")
      .as[(Long, Long, Double)].collect().toSet
    val full = Dedup.minhashNearDups(df, "doc_id", "text",
        numHashes = 32, bandRows = 4, shingleK = 3, threshold = 0.5)
      .select("doc_a", "doc_b", "jaccard")
      .as[(Long, Long, Double)].collect()
      // orient every cross-side pair as (new, old)
      .collect {
        case (a, b, j) if isNew(a) && !isNew(b) => (a, b, j)
        case (a, b, j) if isNew(b) && !isNew(a) => (b, a, j)
      }.toSet
    assert(inc == full)
    assert(inc.nonEmpty) // base/near cross-side dups must be found
    // never old×old: the (3, 5) near pair must NOT appear
    assert(!inc.exists { case (a, b, _) => !isNew(a) && !isNew(b) })
  }

  test("band index: AgainstIndex equals Against, scheme read from index metadata") {
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val near = "alpha beta gamma delta epsilon zeta eta theta iota lambda"
    val far = "one two three four five six seven eight nine ten"
    val corpus = Seq((3L, base), (4L, far), (5L, near)).toDF("doc_id", "text")
    val batch = Seq((10L, base), (11L, near),
      (12L, "unrelated words that overlap with nothing else at all"))
      .toDF("doc_id", "text")
    val root = QueriesShared.tempDir("graft_band_idx").toFile
    val dir = root.toString + "/bands"
    try {
      // NON-default scheme: the reader must pick it up from _graft_meta,
      // not from its own defaults — a drifted reader would drop pairs.
      Dedup.writeBandIndex(corpus, "doc_id", "text", dir,
        numHashes = 16, bandRows = 2, shingleK = 2, nBuckets = 8)
      val viaIndex = Dedup.minhashNearDupsAgainstIndex(batch, dir, corpus,
          "doc_id", "text", threshold = 0.4)
        .as[(Long, Long, Double)].collect().toSet
      val direct = Dedup.minhashNearDupsAgainst(batch, corpus, "doc_id", "text",
          numHashes = 16, bandRows = 2, shingleK = 2, threshold = 0.4)
        .as[(Long, Long, Double)].collect().toSet
      assert(viaIndex.nonEmpty && viaIndex == direct)
      // physical layout: bucket directories (the pruning substrate) and
      // the co-located scheme metadata
      val sub = new java.io.File(dir).listFiles().map(_.getName).toSet
      assert(sub.exists(_.startsWith("band_bucket=")))
      assert(sub.contains("_graft_meta"))
    } finally org.apache.commons.io.FileUtils.deleteDirectory(root)
  }

  test("band/shingle stores: filesPerBucket salt bounds per-bucket fan-out, rows identical") {
    // enough docs that every bucket holds bands from many source
    // partitions — the write-through shape would emit one file per
    // task per bucket; the salt dial must land at most filesPerBucket
    val docs = (0L until 60L)
      .map(i => (i, s"document number $i alpha beta gamma ${i % 7} delta"))
      .toDF("doc_id", "text").repartition(8)
    val root = QueriesShared.tempDir("graft_fpb").toFile
    // AQE coalesces this toy shuffle's salt groups into one task per
    // bucket (the contract allows FEWER files, never more) — disable
    // coalescing so the salt's fan-out is observable at test scale
    val prevCoalesce =
      spark.conf.get("spark.sql.adaptive.coalescePartitions.enabled", "true")
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    try {
      def parquetsPerDir(dir: String, prefix: String): Map[String, Int] =
        new java.io.File(dir).listFiles().filter(_.getName.startsWith(prefix))
          .map(d => d.getName ->
            d.listFiles.count(_.getName.endsWith(".parquet"))).toMap
      val d1 = root.toString + "/b1"
      val d2 = root.toString + "/b2"
      Dedup.writeBandIndex(docs, "doc_id", "text", d1, nBuckets = 4)
      Dedup.writeBandIndex(docs, "doc_id", "text", d2, nBuckets = 4,
        filesPerBucket = 2)
      val p1 = parquetsPerDir(d1, "band_bucket=")
      val p2 = parquetsPerDir(d2, "band_bucket=")
      assert(p1.values.forall(_ == 1), p1.toString)
      assert(p2.values.forall(n => n >= 1 && n <= 2), p2.toString)
      assert(p2.values.exists(_ == 2), s"salt never fanned out: $p2")
      // rows identical either way — only the file layout moves
      def rows(d: String) = spark.read.parquet(d)
        .select("doc_id", "band_idx", "band_sig")
        .as[(Long, Int, String)].collect().sorted.toSeq
      assert(rows(d1) == rows(d2))
      // the shingle store shares the dial
      val s1 = root.toString + "/s1"
      val s2 = root.toString + "/s2"
      Dedup.writeShingleIndex(docs, "doc_id", "text", s1,
        shingleK = 2, maxDf = 30, nBuckets = 4)
      Dedup.writeShingleIndex(docs, "doc_id", "text", s2,
        shingleK = 2, maxDf = 30, nBuckets = 4, filesPerBucket = 2)
      val q1 = parquetsPerDir(s1, "shingle_bucket=")
      val q2 = parquetsPerDir(s2, "shingle_bucket=")
      assert(q1.values.forall(_ == 1), q1.toString)
      assert(q2.values.forall(n => n >= 1 && n <= 2), q2.toString)
      def posts(d: String) = spark.read.parquet(d)
        .select("s", "doc_id").as[(String, Long)].collect().sorted.toSeq
      assert(posts(s1) == posts(s2))
      // 0 would silently restore the sliver write-through; negatives
      // must fail here by parameter name, not deep in partitionAligned
      Seq(0, -1).foreach { bad =>
        val e1 = intercept[IllegalArgumentException] {
          Dedup.writeBandIndex(docs, "doc_id", "text",
            root.toString + "/bad", nBuckets = 4, filesPerBucket = bad)
        }
        assert(e1.getMessage.contains("filesPerBucket"), e1.getMessage)
        val e2 = intercept[IllegalArgumentException] {
          Dedup.writeShingleIndex(docs, "doc_id", "text",
            root.toString + "/bad", nBuckets = 4, filesPerBucket = bad)
        }
        assert(e2.getMessage.contains("filesPerBucket"), e2.getMessage)
      }
    } finally {
      spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled",
        prevCoalesce)
      org.apache.commons.io.FileUtils.deleteDirectory(root)
    }
  }

  test("shingle index: AgainstIndex equals Against, scheme read from index metadata") {
    // base nests inside big (high containment, LOW jaccard — the
    // quadrant the containment family exists for)
    val base = "alpha beta gamma delta epsilon zeta eta theta"
    val big = base + " one two three four five six seven eight nine ten " +
      "eleven twelve thirteen fourteen fifteen sixteen"
    val far = "unrelated words that overlap with nothing else at all here"
    val corpus = Seq((3L, big), (4L, far)).toDF("doc_id", "text")
    val batch = Seq((10L, base), (11L, "totally different payload again"))
      .toDF("doc_id", "text")
    val root = QueriesShared.tempDir("graft_sh_idx").toFile
    val dir = root.toString + "/posts"
    try {
      // NON-default scheme: the reader must pick it up from _graft_meta
      Dedup.writeShingleIndex(corpus, "doc_id", "text", dir,
        shingleK = 2, maxDf = 5, nBuckets = 8)
      val viaIndex = Dedup.containmentPairsAgainstIndex(batch, dir, corpus,
          "doc_id", "text", minShared = 2, threshold = 0.5)
        .as[(Long, Long, Long, Double)].collect().toSet
      val direct = Dedup.containmentPairsAgainst(batch, corpus,
          "doc_id", "text", shingleK = 2, maxDf = 5,
          minShared = 2, threshold = 0.5)
        .as[(Long, Long, Long, Double)].collect().toSet
      assert(viaIndex.nonEmpty && viaIndex == direct)
      assert(viaIndex.exists { case (n, o, _, c) => n == 10L && o == 3L && c >= 0.5 })
      val sub = new java.io.File(dir).listFiles().map(_.getName).toSet
      assert(sub.exists(_.startsWith("shingle_bucket=")))
      assert(sub.contains("_graft_meta"))
    } finally org.apache.commons.io.FileUtils.deleteDirectory(root)
  }

  test("shingle index read is partition-pruned to the requested buckets") {
    val docs = (0L until 40L).map(i => (i, s"doc $i words ${"x " * i.toInt}"))
      .toDF("doc_id", "text")
    val root = QueriesShared.tempDir("graft_sh_prune").toFile
    val dir = root.toString + "/posts"
    try {
      Dedup.writeShingleIndex(docs, "doc_id", "text", dir,
        shingleK = 2, maxDf = 10, nBuckets = 8)
      val wanted = Seq(1, 3)
      val pruned = Dedup.prunedShingleRead(spark, dir, wanted)
      pruned.collect()
      val scan = pruned.queryExecution.executedPlan.collectLeaves()
        .map(_.toString).mkString("\n")
      assert(scan.contains("PartitionFilters") && scan.contains("shingle_bucket"),
        s"no shingle_bucket partition filter in scan:\n$scan")
      val scanExec = pruned.queryExecution.executedPlan.collectLeaves()
        .collectFirst { case f: org.apache.spark.sql.execution.FileSourceScanExec => f }
        .getOrElse(fail("no FileSourceScanExec leaf"))
      val partsRead = scanExec.metrics("numPartitions").value
      assert(partsRead <= wanted.size,
        s"scan read $partsRead bucket partitions, wanted <= ${wanted.size}")
    } finally org.apache.commons.io.FileUtils.deleteDirectory(root)
  }

  test("band index read is partition-pruned to the requested buckets") {
    // minhashNearDupsAgainstIndex's output is localCheckpoint'ed, so
    // the pruning is invisible in ITS plan — assert it on the extracted
    // read the method is built on.
    val docs = (0L until 40L).map(i => (i, s"doc $i words ${"x " * i.toInt}"))
      .toDF("doc_id", "text")
    val root = QueriesShared.tempDir("graft_prune").toFile
    val dir = root.toString + "/bands"
    try {
      Dedup.writeBandIndex(docs, "doc_id", "text", dir,
        numHashes = 16, bandRows = 2, shingleK = 2, nBuckets = 8)
      val wanted = Seq(1L, 3L)
      val pruned = Dedup.prunedBandRead(spark, dir, wanted)
      pruned.collect()
      val scan = pruned.queryExecution.executedPlan.collectLeaves()
        .map(_.toString).mkString("\n")
      assert(scan.contains("PartitionFilters") && scan.contains("band_bucket"),
        s"no band_bucket partition filter in scan:\n$scan")
      // the scan really touched only the wanted directories (NOT
      // .inputFiles, which lists the relation's full file set and
      // ignores pruning — the scan node's own metrics count what ran)
      val scanExec = pruned.queryExecution.executedPlan.collectLeaves()
        .collectFirst { case f: org.apache.spark.sql.execution.FileSourceScanExec => f }
        .getOrElse(fail("no FileSourceScanExec leaf"))
      val partsRead = scanExec.metrics("numPartitions").value
      assert(partsRead <= wanted.size,
        s"scan read $partsRead bucket partitions, wanted <= ${wanted.size}")
    } finally org.apache.commons.io.FileUtils.deleteDirectory(root)
  }

  test("minhash candidates are a subset of true near pairs at the threshold") {
    // LSH may miss (probabilistic recall) but the exact verify step
    // guarantees precision: every emitted pair really has j >= t.
    val docs = Seq(
      (1L, "a b c d e f g h i j"),
      (2L, "a b c d e f g h i k"),
      (3L, "a b c x y z q r s t"),
      (4L, "u v w x y z a1 b1 c1 d1"))
    val df = docs.toDF("doc_id", "text")
    val out = Dedup.minhashNearDups(df, "doc_id", "text",
        numHashes = 32, bandRows = 4, shingleK = 2, threshold = 0.5)
      .select("doc_a", "doc_b", "jaccard")
      .as[(Long, Long, Double)].collect()
    out.foreach { case (_, _, j) => assert(j >= 0.5) }
  }

  test("embeddingNearDups equals brute force (guaranteed recall + exact verify)") {
    // deterministic pseudo-random vectors + planted near-dups
    val rnd = new scala.util.Random(7)
    val dim = 16
    val base = (0 until 60).map { i =>
      val v = Array.fill(dim)(rnd.nextDouble() * 2 - 1)
      val n = math.sqrt(v.map(x => x * x).sum)
      (i.toLong, v.map(_ / n))
    }
    val planted = base.take(20).map { case (i, v) =>
      (i + 1000L, v.map(x => x * 0.999 + 0.001)) // dist ~ 0.004
    }
    val df = spark.createDataFrame(base ++ planted).toDF("vec_id", "emb")
    val maxDist = 0.05
    def l2(a: Array[Double], b: Array[Double]): Double =
      math.sqrt(a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum)
    val all = (base ++ planted)
    val expected = (for {
      (ia, va) <- all; (ib, vb) <- all
      if ia < ib && l2(va, vb) <= maxDist
    } yield (ia, ib)).toSet
    assert(expected.size == 20, "planted pairs must be the exact answer")
    val got = Dedup.embeddingNearDups(df, "vec_id", "emb", maxDist, dim, nProj = 3)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(got == expected)
  }

  test("embeddingNearDups auto nProj (0) gives the same exact answer") {
    val rnd = new scala.util.Random(11)
    val dim = 8
    val base = (0 until 50).map { i =>
      val v = Array.fill(dim)(rnd.nextDouble())
      (i.toLong, v)
    }
    val df = spark.createDataFrame(base).toDF("vec_id", "emb")
    def run(np: Int) =
      Dedup.embeddingNearDups(df, "vec_id", "emb", 0.3, dim, nProj = np)
        .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(run(0) == run(3)) // auto picks 3 at this size; answers identical
  }

  test("embeddingNearDups plan has no corpus broadcast and no cartesian stage") {
    val df = (0 until 40).map(i => (i.toLong, Array.fill(8)(i * 0.01)))
      .toDF("vec_id", "emb")
    val plan = Dedup.embeddingNearDups(df, "vec_id", "emb", 0.05, 8)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), s"all-pairs stage in:\n$plan")
    assert(!plan.contains("BroadcastNestedLoopJoin"), s"corpus broadcast in:\n$plan")
  }

  test("semanticNearDups matches brute force restricted to same-cluster pairs") {
    // Two separated axis clusters with per-dim jitter plus two "mid"
    // vectors between them: mids assign to a cluster by L2 but sit
    // below the cosine threshold with their cluster-mates, so the
    // expected set is a strict subset of each cluster's all-pairs.
    val rnd = new scala.util.Random(13)
    val dim = 8
    def axis(i: Int): Array[Float] = {
      val v = Array.fill(dim)(0f); v(i) = 1f; v
    }
    def jitter(base: Array[Float]): Array[Float] =
      base.map(x => x + (rnd.nextFloat() - 0.5f) * 0.1f)
    val mid = Array.tabulate(dim)(i => if (i < 2) 0.7f else 0.0f)
    val rows = (0 until 20).map(i =>
      (i.toLong, jitter(if (i % 2 == 0) axis(0) else axis(1)))) ++
      Seq((100L, mid), (101L, jitter(mid)))
    val df = spark.createDataFrame(rows).toDF("vec_id", "emb")
    val cents = spark.createDataFrame(Seq((0L, axis(0)), (1L, axis(1))))
      .toDF("cid", "cvec")
    val threshold = 0.9
    // brute-force mirror: argmin-L2 assignment (tie-break min cid),
    // then same-cluster pairs with cos >= threshold
    def l2sq(a: Array[Float], b: Array[Float]): Double =
      a.zip(b).map { case (x, y) => (x.toDouble - y) * (x.toDouble - y) }.sum
    def cos(a: Array[Float], b: Array[Float]): Double = {
      val d = a.zip(b).map { case (x, y) => x.toDouble * y }.sum
      val n = math.sqrt(a.map(x => x.toDouble * x).sum) *
        math.sqrt(b.map(x => x.toDouble * x).sum)
      if (n == 0) 0.0 else d / n
    }
    val cl = rows.map { case (id, v) =>
      (id, Seq((0L, axis(0)), (1L, axis(1)))
        .map { case (cid, cv) => (l2sq(v, cv), cid) }.min._2, v)
    }
    val expected = (for {
      (ia, ca, va) <- cl; (ib, cb, vb) <- cl
      if ia < ib && ca == cb && cos(va, vb) >= threshold
    } yield (ia, ib)).toSet
    assert(expected.nonEmpty && expected.size < cl.combinations(2).size)
    val got = Dedup.semanticNearDups(df, "vec_id", "emb",
        cents, "cid", "cvec", threshold)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(got == expected)
  }

  test("semanticNearDups plan is cluster-keyed: no cartesian, no corpus broadcast") {
    val df = (0 until 40).map(i => (i.toLong, Array.fill(8)(i * 0.01f)))
      .toDF("vec_id", "emb")
    val cents = Seq((0L, Array.fill(8)(0f)), (1L, Array.fill(8)(1f)))
      .toDF("cid", "cvec")
    val plan = Dedup.semanticNearDups(df, "vec_id", "emb",
        cents, "cid", "cvec", 0.5)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), s"all-pairs stage in:\n$plan")
    assert(!plan.contains("BroadcastNestedLoopJoin"), s"corpus broadcast in:\n$plan")
  }

  test("components: chains and separate clusters resolve to min-id labels") {
    // chain 1-2-3 (transitively one component), island 7-8, singleton edge 10-11
    val pairs = Seq((1L, 2L), (2L, 3L), (7L, 8L), (10L, 11L))
      .toDF("doc_a", "doc_b")
    val out = Dedup.components(pairs)
      .orderBy("doc_id").as[(Long, Long)].collect().toSeq
    assert(out == Seq(1L -> 1L, 2L -> 1L, 3L -> 1L,
      7L -> 7L, 8L -> 7L, 10L -> 10L, 11L -> 10L))
  }

  test("components converges on a long path (label must propagate fully)") {
    val pairs = (1L until 12L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val out = Dedup.components(pairs).as[(Long, Long)].collect()
    assert(out.forall(_._2 == 1L))
  }

  test("components: distributed label-propagation path matches union-find") {
    val pairs = (Seq((1L, 2L), (2L, 3L), (7L, 8L)) ++
      (20L until 29L).map(i => (i, i + 1))).toDF("doc_a", "doc_b")
    val before = spark.sparkContext.getPersistentRDDs.size
    val driver = Dedup.components(pairs)
      .orderBy("doc_id").as[(Long, Long)].collect().toSeq
    val dist = Dedup.components(pairs, driverSideThreshold = 0L)
      .orderBy("doc_id").as[(Long, Long)].collect().toSeq
    assert(dist == driver)
    // loop intermediates were unpersisted: at most the checkpointed
    // result outlives the call (other suites' lazy checkpoints aside)
    assert(spark.sparkContext.getPersistentRDDs.size <= before + 1)
  }

  test("components: pointer doubling converges a 300-deep chain in O(log d) rounds") {
    // one-hop propagation would need ~300 rounds for the min label to
    // reach the chain's far end; maxIter = 12 only converges if the
    // doubling shortcut really squares the reach per round (log2 300
    // ≈ 8.2, + 1 verification round).
    val n = 300L
    val chain = (0L until n).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val out = Dedup.components(chain, maxIter = 12, driverSideThreshold = 0L)
      .as[(Long, Long)].collect().toMap
    assert(out.size == n + 1 && out.values.forall(_ == 0L))
  }

  test("simhashNearDups: identical docs pair at hamming 0; verified bound holds") {
    val df = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "alpha beta gamma delta epsilon zeta"),
      (3L, "one two three four five six seven eight"))
      .toDF("doc_id", "text")
    val pairs = Dedup.simhashNearDups(df, "doc_id", "text", maxHamming = 1)
      .as[(Long, Long, Int)].collect()
    assert(pairs.exists { case (a, b, h) => a == 1L && b == 2L && h == 0 })
    pairs.foreach { case (_, _, h) => assert(h <= 1) }
  }

  test("simhash16: identical texts get identical fingerprints in [0, 2^16)") {
    val df = Seq((1L, "spark query table"), (2L, "spark query table"),
      (3L, "completely different words here")).toDF("doc_id", "text")
    val out = Dedup.simhash16(df, "doc_id", "text")
      .orderBy("doc_id").as[(Long, Long)].collect()
    assert(out(0)._2 == out(1)._2)
    assert(out.forall { case (_, h) => h >= 0 && h < (1L << 16) })
  }

  test("simhashNearDupsWide finds every pair brute-force hamming allows, none extra") {
    // docs 1/2 identical, 3 a one-word edit of them, 4 unrelated
    val df = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "alpha beta gamma delta epsilon zeta eta theta"),
      (3L, "alpha beta gamma delta epsilon zeta eta iota"),
      (4L, "one two three four five six seven eight nine"))
      .toDF("doc_id", "text")
    val maxHam = 3
    val got = Dedup.simhashNearDupsWide(df, "doc_id", "text", maxHam)
      .select("doc_a", "doc_b", "hamming")
      .as[(Long, Long, Int)].collect().toSet
    assert(got.exists { case (a, b, h) => a == 1L && b == 2L && h == 0 })
    got.foreach { case (_, _, h) => assert(h <= maxHam) }
    // doc 4 shares no vocabulary: it must not pair with anything
    assert(!got.exists { case (a, b, _) => a == 4L || b == 4L })
  }

  test("containmentPairs catches a nested doc that Jaccard-resemblance dedup misses") {
    // B = 60 distinct words; A = a verbatim 12-word slice of B.
    // Containment(A,B) = 1.0; Jaccard = 10/58 ≈ 0.17 — below any
    // useful resemblance threshold.
    val wordsB = (0 until 60).map(i => s"w$i")
    val sliceA = wordsB.slice(20, 32)
    val df = Seq(
      (1L, sliceA.mkString(" ")),
      (2L, wordsB.mkString(" ")),
      (3L, (100 until 140).map(i => s"u$i").mkString(" ")))
      .toDF("doc_id", "text")
    val got = Dedup.containmentPairs(df, "doc_id", "text",
        shingleK = 3, maxDf = 10, minShared = 2, threshold = 0.8)
      .select("doc_a", "doc_b", "containment")
      .as[(Long, Long, Double)].collect().toSeq
    assert(got == Seq((1L, 2L, 1.0)))
    val jac = Dedup.minhashNearDups(df, "doc_id", "text",
        numHashes = 32, bandRows = 4, shingleK = 3, threshold = 0.5)
      .count()
    assert(jac == 0L, "resemblance dedup should NOT see the nested pair")
  }

  test("containmentPairs: df cap drops boilerplate-only overlap; guards are loud") {
    // Docs 1-6 share ONLY one ubiquitous shingle run (df = 6 > maxDf 5)
    // plus distinct content → no rare shingles shared → no pairs.
    val boiler = "the quick brown fox"
    val df = (1L to 6L).map(i =>
        (i, s"$boiler item$i alpha$i beta$i gamma$i delta$i"))
      .toSeq.toDF("doc_id", "text")
    val got = Dedup.containmentPairs(df, "doc_id", "text",
      shingleK = 3, maxDf = 5, minShared = 1, threshold = 0.1)
    assert(got.count() == 0L)
    intercept[IllegalArgumentException] {
      Dedup.containmentPairs(df, "doc_id", "text", maxDf = 1)
    }
    intercept[IllegalArgumentException] {
      Dedup.containmentPairs(df, "doc_id", "text", threshold = 0.0)
    }
  }

  test("containmentPairsAgainst: batch page nested in a corpus doc is caught; new-new pairs never emitted") {
    val wordsB = (0 until 60).map(i => s"w$i")
    val sliceA = wordsB.slice(10, 24)
    val newDf = Seq(
      (100L, sliceA.mkString(" ")),
      (101L, sliceA.mkString(" ")))  // two identical NEW docs
      .toDF("doc_id", "text")
    val corpus = Seq(
      (1L, wordsB.mkString(" ")),
      (2L, (200 until 240).map(i => s"z$i").mkString(" ")))
      .toDF("doc_id", "text")
    val got = Dedup.containmentPairsAgainst(newDf, corpus, "doc_id", "text",
        shingleK = 3, maxDf = 10, minShared = 2, threshold = 0.8)
      .select("doc_new", "doc_old", "containment")
      .as[(Long, Long, Double)].collect().toSet
    // both new docs pair with corpus doc 1; the new-new duplicate pair
    // (100, 101) must NOT appear — that's the self-join operator's job
    assert(got == Set((100L, 1L, 1.0), (101L, 1L, 1.0)))
  }

  test("property: containmentPairsAgainst equals cross-side brute force when the df cap is inactive") {
    val rnd = new scala.util.Random(11)
    val vocab = (0 until 30).map(i => s"v$i")
    def mk(ids: Range): Seq[(Long, String)] = ids.map { i =>
      val n = 5 + rnd.nextInt(15)
      (i.toLong, Seq.fill(n)(vocab(rnd.nextInt(vocab.size))).mkString(" "))
    }
    val newDocs = mk(0 until 10)
    val oldDocs = mk(100 until 120)
    val k = 2
    def shingles(t: String): Set[String] = {
      val ws = t.trim.split("[ \t\n]+", -1)
      if (ws.length < k) Set.empty
      else ws.sliding(k).map(_.mkString(" ")).toSet
    }
    val thr = 0.2
    val brute = (for {
      (a, ta) <- newDocs; (b, tb) <- oldDocs
      sa = shingles(ta); sb = shingles(tb)
      if sa.nonEmpty && sb.nonEmpty
      c = (sa & sb).size.toDouble / math.min(sa.size, sb.size)
      if c >= thr && (sa & sb).nonEmpty
    } yield (a, b, BigDecimal(c).setScale(6,
      BigDecimal.RoundingMode.HALF_UP).toDouble)).toSet
    val got = Dedup.containmentPairsAgainst(
        newDocs.toDF("doc_id", "text"), oldDocs.toDF("doc_id", "text"),
        "doc_id", "text", shingleK = k, maxDf = oldDocs.size,
        minShared = 1, threshold = thr)
      .select("doc_new", "doc_old", "containment")
      .as[(Long, Long, Double)].collect().toSet
    assert(got == brute)
  }

  test("property: containmentPairs equals brute force when the df cap is inactive") {
    val rnd = new scala.util.Random(7)
    val vocab = (0 until 30).map(i => s"v$i")
    val docs = (0L until 25L).map { i =>
      val n = 5 + rnd.nextInt(15)
      (i, Seq.fill(n)(vocab(rnd.nextInt(vocab.size))).mkString(" "))
    }
    val df = docs.toDF("doc_id", "text")
    val k = 2
    def shingles(t: String): Set[String] = {
      val ws = t.trim.split("[ \t\n]+", -1)
      if (ws.length < k) Set.empty
      else ws.sliding(k).map(_.mkString(" ")).toSet
    }
    val thr = 0.2
    val brute = (for {
      (a, ta) <- docs; (b, tb) <- docs if a < b
      sa = shingles(ta); sb = shingles(tb)
      if sa.nonEmpty && sb.nonEmpty
      c = (sa & sb).size.toDouble / math.min(sa.size, sb.size)
      if c >= thr && (sa & sb).nonEmpty
    } yield (a, b, BigDecimal(c).setScale(6,
      BigDecimal.RoundingMode.HALF_UP).toDouble)).toSet
    val got = Dedup.containmentPairs(df, "doc_id", "text",
        shingleK = k, maxDf = docs.size, minShared = 1, threshold = thr)
      .select("doc_a", "doc_b", "containment")
      .as[(Long, Long, Double)].collect().toSet
    assert(got == brute)
  }

  test("applyPurgeManifest: keep-first per cluster, singletons null+kept") {
    val docs = (1L to 6L).toDF("doc_id")
    // clusters {1,2} and {5,6}; 3 and 4 are singletons
    val comp = Seq((1L, 1L), (2L, 1L), (5L, 5L), (6L, 5L))
      .toDF("doc_id", "component_id")
    val r = Dedup.applyPurgeManifest(docs, "doc_id", comp)
      .orderBy("doc_id")
      .as[(Long, Option[Long], Boolean)].collect().toSeq
    assert(r == Seq(
      (1L, Some(1L), true), (2L, Some(1L), false),
      (3L, None, true), (4L, None, true),
      (5L, Some(5L), true), (6L, Some(5L), false)))
    // correctness does not depend on component_id == min doc_id:
    // an arbitrary labelling still keeps exactly the min doc per group
    val weird = Seq((1L, 99L), (2L, 99L)).toDF("doc_id", "component_id")
    val r2 = Dedup.applyPurgeManifest(docs.filter($"doc_id" <= 2), "doc_id", weird)
      .orderBy("doc_id").as[(Long, Option[Long], Boolean)].collect().toSeq
    assert(r2 == Seq((1L, Some(99L), true), (2L, Some(99L), false)))
  }

  test("applyPurgeManifestBy: quality keeper wins, ties break to min doc_id") {
    val docs = Seq(
      (1L, 0.2), (2L, 0.9), (3L, 0.5),   // cluster 1: keeper = 2 (best)
      (4L, 0.7),                          // singleton
      (5L, 0.6), (6L, 0.6)                // cluster 5: tie → keeper = 5
    ).toDF("doc_id", "quality")
    val comp = Seq((1L, 1L), (2L, 1L), (3L, 1L), (5L, 5L), (6L, 5L))
      .toDF("doc_id", "component_id")
    val r = Dedup.applyPurgeManifestBy(docs, "doc_id", comp, "quality")
      .orderBy("doc_id")
      .as[(Long, Option[Long], Double, Boolean)].collect().toSeq
    assert(r == Seq(
      (1L, Some(1L), 0.2, false), (2L, Some(1L), 0.9, true),
      (3L, Some(1L), 0.5, false),
      (4L, None, 0.7, true),
      (5L, Some(5L), 0.6, true), (6L, Some(5L), 0.6, false)))
  }

  test("group-aware split (d24 composition): no near-dup component spans two splits") {
    import graft.operators.Curation
    // near-identical pairs (1,2) and (3,4); 5 is a singleton
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "alpha beta gamma delta epsilon zeta eta theta"),
      (3L, "one two three four five six seven eight"),
      (4L, "one two three four five six seven eight"),
      (5L, "completely different content about nothing shared here")
    ).toDF("doc_id", "text")
    val comp = Dedup.components(
      Dedup.simhashNearDupsWide(docs, "doc_id", "text", maxHamming = 3))
    val withRep = docs.join(comp, Seq("doc_id"), "left")
      .withColumn("rep", coalesce(col("component_id"), col("doc_id")))
    val split = Curation.hashSplit(withRep, "rep")
    // the property the operator exists for: each component's docs all
    // land in ONE split
    val spans = split.groupBy("rep")
      .agg(countDistinct(col("split")).as("n_splits"))
      .filter(col("n_splits") > 1).count()
    assert(spans == 0L)
    // and the near-dup pairs really were clustered (fixture sanity)
    assert(comp.count() >= 4)
  }
}
