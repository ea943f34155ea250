package graft

import graft.operators.{Ann, Knn}
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** IVF ANN scale path: assignment correctness + search vs exact oracle. */
class AnnSpec extends SparkSpec {
  import spark.implicits._

  // Two well-separated clusters around (0,0) and (100,100).
  private def corpus = (0 until 40).map { i =>
    val base = if (i < 20) 0.0f else 100.0f
    (i.toLong, Array(base + (i % 20) * 0.1f, base + (i % 20) * 0.2f))
  }.toDF("vec_id", "embedding")

  private def cents = Seq(
    (0L, Array(0.0f, 0.0f)), (1L, Array(100.0f, 100.0f)))
    .toDF("cid", "cvec")

  test("ivfAssignBig sends every vector to its true cluster, no shuffle") {
    val assigned = Ann.ivfAssignBig(corpus, "embedding", "vec_id", cents, "cid", "cvec")
    val out = assigned.select("vec_id", "cluster_id").as[(Long, Long)].collect()
    out.foreach { case (vid, cid) =>
      assert(cid == (if (vid < 20) 0L else 1L))
    }
    // plan must contain no Exchange: assignment is a narrow map
    val plan = assigned.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"unexpected shuffle in:\n$plan")
  }

  test("ivfSearch with nprobe=1 equals exact kNN within the query's cluster") {
    val assigned = Ann.ivfAssignBig(corpus, "embedding", "vec_id", cents, "cid", "cvec")
    val qv = typedlit(Seq(0.05, 0.1))
    val ivf = Ann.ivfSearch(assigned, "embedding", "vec_id",
        cents, "cid", "cvec", qv, k = 5, nprobe = 1)
      .select("vec_id").as[Long].collect().toSeq
    val exact = Knn.exact(corpus.filter($"vec_id" < 20), "embedding", "vec_id", qv, 5)
      .select("vec_id").as[Long].collect().toSeq
    assert(ivf == exact)
  }

  test("both assign paths send a null embedding to a null cluster_id") {
    // the one argmin column serves ivfAssignBig (which keeps the row,
    // cluster_id null) and clusterAudit (which counts it nowhere)
    val withNull = corpus.unionByName(
      Seq((99L, Option.empty[Array[Float]])).toDF("vec_id", "embedding"))
    val assigned = Ann.ivfAssignBig(withNull, "embedding", "vec_id",
      cents, "cid", "cvec")
    assert(assigned.filter($"vec_id" === 99L)
      .select("cluster_id").as[Option[Long]].head().isEmpty)
    val audited = Ann.clusterAudit(withNull, "embedding", "vec_id",
      cents, "cid", "cvec").select("n").as[Long].collect()
    assert(audited.sum == 40L)
  }

  test("an exact sqrt tie goes to the smaller cid, as the probe rule ranks it") {
    // the squared distances differ in the last bit (4.797574104814237
    // to cid 0, 4.797574104814236 to cid 1) but their sqrt is equal:
    // ranking squared values would put x in cid 1, a cell its own
    // nprobe = 1 probe (sqrt order, then cid) never reads
    val x = Seq(0.7669492528620572, 0.9756476591850078)
    val c0 = Array(-0.47021736764011424, -0.8318348048874582)
    val c1 = Array(2.574431716934523, -0.26151896131716357)
    assert(Ann.l2sqStrict(x.toArray, c0) != Ann.l2sqStrict(x.toArray, c1))
    assert(math.sqrt(Ann.l2sqStrict(x.toArray, c0)) ==
      math.sqrt(Ann.l2sqStrict(x.toArray, c1)))
    val doc = Seq((5L, x)).toDF("vec_id", "embedding")
    val tieCents = Seq((0L, c0.toSeq), (1L, c1.toSeq)).toDF("cid", "cvec")
    val assigned = Ann.ivfAssignBig(doc, "embedding", "vec_id",
      tieCents, "cid", "cvec")
    assert(assigned.select("cluster_id").as[Long].collect().toSeq == Seq(0L))
    val found = Ann.ivfSearch(assigned, "embedding", "vec_id",
        tieCents, "cid", "cvec", typedlit(x), k = 1, nprobe = 1)
      .select("vec_id").as[Long].collect().toSeq
    assert(found == Seq(5L))
    val audit = Ann.clusterAudit(doc, "embedding", "vec_id",
        tieCents, "cid", "cvec")
      .select("cluster_id", "n").as[(Long, Long)].collect().toMap
    assert(audit == Map(0L -> 1L, 1L -> 0L))
  }

  test("a null element fails the job in ivfAssignBig, pqEncodeBig and clusterAudit") {
    // an unboxed null would read as 0.0 and assign silently; the
    // broadcast argmins refuse it inside the UDF, with the operator's
    // name in the error
    val withNullElem = Seq((1L, Seq[java.lang.Double](0.5, null)))
      .toDF("vec_id", "embedding")
    def failsInUdf(op: String)(run: => Any): Unit = {
      val e = intercept[Exception](run)
      assert(e.getMessage.contains("FAILED_EXECUTE_UDF"), s"unexpected: ${e.getMessage}")
      assert(e.getMessage.contains(s"$op: null element at index 1"),
        s"the error does not name $op: ${e.getMessage}")
    }
    failsInUdf("ivfAssignBig")(Ann.ivfAssignBig(withNullElem, "embedding", "vec_id",
      cents, "cid", "cvec").collect())
    failsInUdf("clusterAudit")(Ann.clusterAudit(withNullElem, "embedding", "vec_id",
      cents, "cid", "cvec").collect())
    val cb = Seq((0, 0L, Seq(0.0)), (0, 1L, Seq(1.0)),
        (1, 0L, Seq(0.0)), (1, 1L, Seq(1.0)))
      .toDF("sub_idx", "code", "subvec")
    failsInUdf("pqEncodeBig")(Ann.pqEncodeBig(withNullElem, "embedding", cb).collect())
  }

  test("ivfAssignBig at k=256 centroids: correct argmin, no literal blowup") {
    // 256 centroids on a line; vectors placed just off their centroid.
    val cents256 = (0 until 256).map(c => (c.toLong, Array(c * 10.0f, 0.0f)))
      .toDF("cid", "cvec")
    val data = (0 until 300).map { i =>
      val c = i % 256
      (i.toLong, Array(c * 10.0f + 0.3f, 0.1f))
    }.toDF("vec_id", "embedding")
    val big = Ann.ivfAssignBig(data, "embedding", "vec_id", cents256, "cid", "cvec")
    val out = big.select("vec_id", "cluster_id").as[(Long, Long)].collect()
    out.foreach { case (vid, cid) => assert(cid == vid % 256) }
    // the plan must not grow with k: no inlined per-centroid literals
    val plan = big.queryExecution.executedPlan.toString
    assert(plan.length < 20000, s"plan grew with k: ${plan.length} chars")
  }

  test("trainCentroids separates well-separated blobs; feeds assign unchanged") {
    val cents = Ann.trainCentroids(corpus, "embedding", k = 2, seed = 7L)
    assert(cents.count() == 2)
    val assigned = Ann.ivfAssignBig(corpus, "embedding", "vec_id",
        cents, "cid", "cvec")
      .select("vec_id", "cluster_id").as[(Long, Long)].collect()
    val byBlob = assigned.groupBy { case (vid, _) => vid < 20 }
      .view.mapValues(_.map(_._2).toSet).toMap
    // each blob is pure (one cluster) and the blobs differ
    assert(byBlob(true).size == 1 && byBlob(false).size == 1)
    assert(byBlob(true) != byBlob(false))
  }

  test("ivfSearchStore scans only the probed cluster partitions") {
    val dir = QueriesShared.tempDir("ivf_store_").toString
    val assigned = Ann.ivfAssignBig(corpus, "embedding", "vec_id", cents, "cid", "cvec")
    graft.sources.IndexStore.write(assigned, dir)
    val qv = typedlit(Seq(0.05, 0.1))
    val res = Ann.ivfSearchStore(spark, dir, "embedding", "vec_id",
      cents, "cid", "cvec", qv, k = 5, nprobe = 1)
    val viaMemory = Ann.ivfSearch(assigned, "embedding", "vec_id",
        cents, "cid", "cvec", qv, k = 5, nprobe = 1)
      .select("vec_id").as[Long].collect().toSeq
    assert(res.select("vec_id").as[Long].collect().toSeq == viaMemory)
    // static partition pruning must be visible in the scan (the isin
    // renders as `cluster_id IN (...)` or, at nprobe=1, `cluster_id = c`)
    val plan = res.queryExecution.executedPlan.toString
    assert("PartitionFilters: \\[[^\\]]*cluster_id".r
      .findFirstIn(plan).isDefined, s"no partition pruning in:\n$plan")
    assert(!plan.contains("PartitionFilters: []"),
      "scan reads all cluster partitions")
  }

  test("ivfSearchStoreAdaptive: probe count covers the candidate target, cap binds, result = fixed-nprobe twin") {
    val dir = QueriesShared.tempDir("ivf_adapt_").toString
    val assigned = Ann.ivfAssignBig(corpus, "embedding", "vec_id", cents, "cid", "cvec")
    graft.sources.IndexStore.write(assigned, dir)
    val qv = typedlit(Seq(0.05, 0.1))
    val sizes = Ann.clusterSizes(spark, dir)
    // cluster 0 holds 20 rows: target 5*2=10 ≤ 20 → adapts to P=1
    val near = Ann.ivfSearchStoreAdaptive(spark, dir, "embedding", "vec_id",
      cents, "cid", "cvec", qv, k = 5, candMult = 2, maxProbe = 8, sizes)
    assert(near.select("n_probed").distinct().as[Long].head() == 1L)
    assert(near.select("vec_id").as[Long].collect().toSeq ==
      Ann.ivfSearchStore(spark, dir, "embedding", "vec_id",
        cents, "cid", "cvec", qv, k = 5, nprobe = 1)
        .select("vec_id").as[Long].collect().toSeq)
    // target 5*5=25 > 20 → must widen to P=2 (and equal the nprobe=2 twin)
    val wide = Ann.ivfSearchStoreAdaptive(spark, dir, "embedding", "vec_id",
      cents, "cid", "cvec", qv, k = 5, candMult = 5, maxProbe = 8, sizes)
    assert(wide.select("n_probed").distinct().as[Long].head() == 2L)
    assert(wide.select("vec_id").as[Long].collect().toSeq ==
      Ann.ivfSearchStore(spark, dir, "embedding", "vec_id",
        cents, "cid", "cvec", qv, k = 5, nprobe = 2)
        .select("vec_id").as[Long].collect().toSeq)
    // maxProbe caps the widening even when the target is unreachable
    val capped = Ann.ivfSearchStoreAdaptive(spark, dir, "embedding", "vec_id",
      cents, "cid", "cvec", qv, k = 5, candMult = 1000, maxProbe = 1, sizes)
    assert(capped.select("n_probed").distinct().as[Long].head() == 1L)
    // the adaptive scan keeps the static partition pruning shape
    val plan = near.queryExecution.executedPlan.toString
    assert("PartitionFilters: \\[[^\\]]*cluster_id".r
      .findFirstIn(plan).isDefined, s"no partition pruning in:\n$plan")
  }

  test("ivfSearchStoreBatch: row-identical to ivfSearchBatch, scan pruned to the probed union") {
    val dir = QueriesShared.tempDir("ivf_store_batch_").toString
    // three clusters so a 2-query batch probing nprobe=1 each leaves
    // one cluster UNPROBED — pruning must be visible, not vacuous
    val cents3 = Seq((0L, Array(0.0f, 0.0f)), (1L, Array(100.0f, 100.0f)),
      (2L, Array(-100.0f, -100.0f))).toDF("cid", "cvec")
    val assigned = Ann.ivfAssignBig(corpus, "embedding", "vec_id", cents3, "cid", "cvec")
    graft.sources.IndexStore.write(assigned, dir)
    val qs = Seq((900L, Array(0.05f, 0.1f)), (901L, Array(100.0f, 100.5f)))
      .toDF("qid", "qv")
    val served = Ann.ivfSearchStoreBatch(spark, dir, "embedding", "vec_id",
      cents3, "cid", "cvec", qs, "qid", "qv", k = 5, nprobe = 1)
    val inline = Ann.ivfSearchBatch(assigned, "embedding", "vec_id",
      cents3, "cid", "cvec", qs, "qid", "qv", k = 5, nprobe = 1)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select(col("qid"), col("knn_rank"), col("vec_id"),
          round(col("dist"), 9))
        .orderBy("qid", "knn_rank").collect().toSeq
    assert(rows(served) == rows(inline))
    val plan = served.queryExecution.executedPlan.toString
    assert("PartitionFilters: \\[[^\\]]*cluster_id".r
      .findFirstIn(plan).isDefined, s"no partition pruning in:\n$plan")
    assert(!plan.contains("PartitionFilters: []"),
      "scan reads all cluster partitions")
    // the unprobed cluster 2 must not appear in the pruned IN-list
    // (parse the list itself — a raw substring check would trip on
    // attribute exprIds like cluster_id#824 that happen to contain
    // the digit)
    val inList = "IN \\(([0-9, ]*)\\)".r.findFirstMatchIn(plan)
      .map(_.group(1).split(",").map(_.trim).toSet)
    assert(inList.contains(Set("0", "1")),
      s"probed IN-list should be exactly {0,1}: $inList in\n" +
        "PartitionFilters: \\[[^\\]]*\\]".r.findFirstIn(plan).getOrElse(""))
  }

  test("adoptStampedNprobe: batch serving floors at the maintenance-validated stamp, headroom and opt-out keep the configured budget") {
    // the CascadeServeSpec identity triple, on the BATCH path: a pair
    // version stamped at nprobe 2 served with a configured budget of 1
    // must row-equal the unstamped twin served at 2, and differ from
    // the unstamped twin served at 1 — the batch consumer adopted the
    // budget the committed geometry was validated at, not the stale
    // config. Opt-out (the default) keeps configured-budget semantics.
    val base = QueriesShared.tempDir("ivf_floor_").toString
    val assigned = Ann.ivfAssignBig(corpus, "embedding", "vec_id",
      cents, "cid", "cvec")
    val stampedRoot = s"$base/stamped"
    val plainRoot = s"$base/plain"
    val vS = graft.sources.IndexStore.writeVersionedWithCentroids(
      assigned, cents, stampedRoot, Some(2))
    val vP = graft.sources.IndexStore.writeVersionedWithCentroids(
      assigned, cents, plainRoot)
    // a query near cluster 0 whose true top-5 straddles both clusters?
    // no — both clusters are far apart; to make nprobe 1 vs 2 differ,
    // ask for more neighbors than cluster 0 holds
    val qv = typedlit(Seq(0.05, 0.1))
    def serve(root: String, v: Long, np: Int, adopt: Boolean) =
      Ann.ivfSearchStore(spark, s"$root/v$v", "embedding", "vec_id",
          cents, "cid", "cvec", qv, k = 25, np, adoptStampedNprobe = adopt)
        .select("vec_id").as[Long].collect().toSeq
    val adopted = serve(stampedRoot, vS, 1, adopt = true)
    val reference = serve(plainRoot, vP, 2, adopt = false)
    val starved = serve(plainRoot, vP, 1, adopt = false)
    assert(adopted == reference,
      "the stamped budget was not adopted as the batch serving floor")
    assert(starved != reference,
      "fixture too weak: nprobe 1 vs 2 must differ for the floor to matter")
    // opt-out: the stamped root served without adoption stays starved
    assert(serve(stampedRoot, vS, 1, adopt = false) == starved)
    // headroom: configured 2 on the stamped root is already at the
    // stamp; adoption changes nothing
    assert(serve(stampedRoot, vS, 2, adopt = true) == reference)
    // unstamped root with adoption on: configured unchanged (no stamp)
    assert(serve(plainRoot, vP, 1, adopt = true) == starved)
    // the batch form floors identically
    val qs = Seq((900L, Array(0.05f, 0.1f))).toDF("qid", "qv")
    def serveBatch(root: String, v: Long, np: Int, adopt: Boolean) =
      Ann.ivfSearchStoreBatch(spark, s"$root/v$v", "embedding", "vec_id",
          cents, "cid", "cvec", qs, "qid", "qv", k = 25, np,
          adoptStampedNprobe = adopt)
        .orderBy("knn_rank").select("vec_id").as[Long].collect().toSeq
    assert(serveBatch(stampedRoot, vS, 1, adopt = true) ==
      serveBatch(plainRoot, vP, 2, adopt = false))
    assert(serveBatch(stampedRoot, vS, 1, adopt = true) !=
      serveBatch(plainRoot, vP, 1, adopt = false))
  }

  test("ivfSearchStoreWhere: filtered top-k, both prunings visible in ONE scan") {
    val dir = QueriesShared.tempDir("ivf_store_f_").toString
    // give every vector a label so the predicate has survivors + victims
    val labeled = corpus.withColumn("label", (col("vec_id") % 3).cast("int"))
    val assigned = Ann.ivfAssignBig(labeled, "embedding", "vec_id", cents, "cid", "cvec")
    graft.sources.IndexStore.write(assigned, dir)
    val qv = typedlit(Seq(0.05, 0.1))
    val res = Ann.ivfSearchStoreWhere(spark, dir, "embedding", "vec_id",
      cents, "cid", "cvec", qv, k = 5, nprobe = 1,
      predicate = col("label") === 1)
    // oracle: exact kNN over the probed cluster's matching rows only
    val want = Knn.exact(
        labeled.filter($"vec_id" < 20 && $"label" === 1),
        "embedding", "vec_id", qv, 5)
      .select("vec_id").as[Long].collect().toSeq
    assert(res.select("vec_id").as[Long].collect().toSeq == want)
    // every result satisfies the predicate (PRE-filter, not post-cut)
    assert(res.select("label").as[Int].collect().forall(_ == 1))
    val plan = res.queryExecution.executedPlan.toString
    // pruning 1: static PartitionFilters on the cluster layout
    assert("PartitionFilters: \\[[^\\]]*cluster_id".r
      .findFirstIn(plan).isDefined, s"no partition pruning in:\n$plan")
    // pruning 2: the label predicate reaches the parquet reader
    assert("PushedFilters: \\[[^\\]]*label".r
      .findFirstIn(plan).isDefined, s"label filter not pushed down in:\n$plan")
  }

  test("ivfSearchStoreExcluding: tombstoned ids never surface, cut exact over live rows") {
    val dir = QueriesShared.tempDir("ivf_store_t_").toString
    val assigned = Ann.ivfAssignBig(corpus, "embedding", "vec_id", cents, "cid", "cvec")
    graft.sources.IndexStore.write(assigned, dir)
    val qv = typedlit(Seq(0.05, 0.1))
    // delete every 3rd vector — including some of the query's nearest
    val tomb = corpus.filter($"vec_id" % 3 === 0)
      .select($"vec_id".as("deleted_id"))
    val res = Ann.ivfSearchStoreExcluding(spark, dir, "embedding", "vec_id",
      cents, "cid", "cvec", qv, k = 5, nprobe = 1,
      tombstones = tomb, tombIdCol = "deleted_id")
    val got = res.select("vec_id").as[Long].collect().toSeq
    // oracle: exact kNN over the probed cluster minus the delete set —
    // the cut must be exact over LIVE rows (no k-overfetch truncation)
    val want = Knn.exact(
        corpus.filter($"vec_id" < 20 && $"vec_id" % 3 =!= 0),
        "embedding", "vec_id", qv, 5)
      .select("vec_id").as[Long].collect().toSeq
    assert(got == want)
    assert(got.forall(_ % 3 != 0))
    val plan = res.queryExecution.executedPlan.toString
    // partition pruning survives the anti join
    assert("PartitionFilters: \\[[^\\]]*cluster_id".r
      .findFirstIn(plan).isDefined, s"no partition pruning in:\n$plan")
    // the tombstone side rides a broadcast hash anti join, not a shuffle
    assert(plan.contains("BroadcastHashJoin") && plan.contains("LeftAnti"),
      s"tombstone anti join not a broadcast LeftAnti in:\n$plan")
  }

  test("ivfSearch with nprobe = all clusters equals global exact kNN") {
    val assigned = Ann.ivfAssignBig(corpus, "embedding", "vec_id", cents, "cid", "cvec")
    val qv = typedlit(Seq(50.0, 50.0))
    val ivf = Ann.ivfSearch(assigned, "embedding", "vec_id",
        cents, "cid", "cvec", qv, k = 8, nprobe = 2)
      .select("vec_id").as[Long].collect().toSeq
    val exact = Knn.exact(corpus, "embedding", "vec_id", qv, 8)
      .select("vec_id").as[Long].collect().toSeq
    assert(ivf == exact)
  }

  // The probe-rule fixture: the query (1, 1) is EXACTLY equidistant
  // from centroids 5 and 7 (squared L2 2.0 to both, bit for bit), listed
  // with 7 first. Cell 7 holds the query's true nearest rows, so an
  // entry point that broke the tie toward 7 would serve them.
  private def tieCents = Seq((7L, Array(0.0, 2.0)), (5L, Array(2.0, 0.0)),
    (9L, Array(10.0, 10.0))).toDF("cid", "cvec")
  private def tieCorpus = Seq((50L, Array(2.0, 0.0)), (51L, Array(3.0, 0.0)),
    (52L, Array(2.5, 0.1)), (70L, Array(0.4, 1.6)), (71L, Array(0.0, 2.5)),
    (72L, Array(0.1, 3.0)), (90L, Array(10.0, 10.0))).toDF("vec_id", "embedding")

  /** Every IVF serving entry point over the tie fixture at nprobe = 1,
    * k = 3: query vector → served ids, best first. */
  private def tieEntries: Seq[(String, Array[Double] => Seq[Long])] = {
    import java.sql.Timestamp
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val (cents, corpus) = (tieCents, tieCorpus)
    val assigned = Ann.ivfAssignBig(corpus, "embedding", "vec_id", cents, "cid", "cvec")
    val dir = QueriesShared.tempDir("ivf_tie_").toString
    graft.sources.IndexStore.write(assigned, dir)
    val sizes = Ann.clusterSizes(spark, dir)
    // one code per 1-dim subspace value: ADC is exact on this grid
    val cb = Seq((0, 0L, Array(0.0)), (0, 1L, Array(2.0)),
      (1, 0L, Array(0.0)), (1, 1L, Array(2.0))).toDF("sub_idx", "code", "subvec")
    val pqEnc = Ann.pqEncodeBig(assigned, "embedding", cb)
      .select("cluster_id", "vec_id", "pq_codes")
    def ids(df: org.apache.spark.sql.DataFrame) = df.select("vec_id").as[Long].collect().toSeq
    def frame(q: Array[Double]) = Seq((1L, q)).toDF("qid", "qv")
    def ranked(df: org.apache.spark.sql.DataFrame) = ids(df.orderBy("knn_rank"))
    def single(f: Column => org.apache.spark.sql.DataFrame) =
      (q: Array[Double]) => ids(f(typedlit(q.toSeq)))
    Seq(
      "ivfSearch" -> single(qv => Ann.ivfSearch(assigned, "embedding", "vec_id",
        cents, "cid", "cvec", qv, k = 3, nprobe = 1)),
      "ivfSearchStore" -> single(qv => Ann.ivfSearchStore(spark, dir,
        "embedding", "vec_id", cents, "cid", "cvec", qv, k = 3, nprobe = 1)),
      "ivfSearchStoreWhere" -> single(qv => Ann.ivfSearchStoreWhere(spark, dir,
        "embedding", "vec_id", cents, "cid", "cvec", qv, k = 3, nprobe = 1, lit(true))),
      "ivfSearchStoreExcluding" -> single(qv => Ann.ivfSearchStoreExcluding(
        spark, dir, "embedding", "vec_id", cents, "cid", "cvec", qv, k = 3,
        nprobe = 1, Seq.empty[Long].toDF("deleted_id"), "deleted_id")),
      // target k·candMult = 3 is covered by the first cell: one probe
      "ivfSearchStoreAdaptive" -> single(qv => Ann.ivfSearchStoreAdaptive(
        spark, dir, "embedding", "vec_id", cents, "cid", "cvec", qv, k = 3,
        candMult = 1, maxProbe = 2, sizes)),
      "ivfSearchBatch" -> ((q: Array[Double]) => ranked(Ann.ivfSearchBatch(
        assigned, "embedding", "vec_id", cents, "cid", "cvec", frame(q),
        "qid", "qv", k = 3, nprobe = 1))),
      "ivfSearchStoreBatch" -> ((q: Array[Double]) => ranked(Ann.ivfSearchStoreBatch(
        spark, dir, "embedding", "vec_id", cents, "cid", "cvec", frame(q),
        "qid", "qv", k = 3, nprobe = 1))),
      "ivfPqSearch" -> ((q: Array[Double]) => ids(Ann.ivfPqSearch(assigned,
        "embedding", "vec_id", cents, "cid", "cvec", cb, q, k = 3, nprobe = 1))),
      "ivfPqSearchEncodedBatch" -> ((q: Array[Double]) => ranked(
        Ann.ivfPqSearchEncodedBatch(pqEnc, corpus, "embedding", "vec_id", cents,
          "cid", "cvec", cb, frame(q), "qid", "qv", k = 3, nprobe = 1))),
      "QueryServe.serveIvf" -> { (q: Array[Double]) =>
        implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
        val stream = MemoryStream[(Long, Timestamp, Seq[Double])]
        stream.addData(Seq((1L, Timestamp.valueOf("2026-01-01 10:00:00"), q.toSeq)))
        // advances the watermark past the window so append mode emits
        stream.addData(Seq((999L, Timestamp.valueOf("2026-01-01 10:10:00"),
          Seq(10.0, 10.0))))
        val name = s"tie_${java.util.UUID.randomUUID().toString.take(8)}"
        val run = graft.streaming.QueryServe.serveIvf(
            stream.toDF().toDF("qid", "ts", "qv"), assigned, cents, "embedding",
            "vec_id", "qid", "ts", "qv", "cid", "cvec", k = 3, nprobe = 1)
          .writeStream.format("memory").queryName(name).outputMode("append").start()
        try {
          run.processAllAvailable()
          spark.table(name).filter($"qid" === 1L)
            .select($"topk".getField("id")).as[Seq[Long]].head()
        } finally run.stop()
      })
  }

  test("probe rule: an exact distance tie goes to the lower cid at every IVF entry point") {
    val q = Array(1.0, 1.0)
    val cents = Ann.collectCentroids(tieCents, "cid", "cvec")
    Seq(1 -> Seq(5L), 2 -> Seq(5L, 7L), 3 -> Seq(5L, 7L, 9L)).foreach { case (n, want) =>
      assert(Ann.probeCells(cents, q, n).toSeq == want, s"probeCells nprobe=$n")
      assert(Ann.probeList(Ann.Probe(tieCents, "cid", "cvec", n),
        typedlit(q.toSeq)).toSeq == want, s"probeList nprobe=$n")
    }
    // cell 5's rows by distance; cell 7's row 70 is nearer than all three
    tieEntries.foreach { case (name, serve) =>
      assert(serve(q) == Seq(50L, 52L, 51L), name)
    }
  }

  test("a query one component short fails loudly at every IVF entry point") {
    tieEntries.foreach { case (name, serve) =>
      withClue(name)(intercept[Exception](serve(Array(1.0))))
    }
  }

  test("ivfSearchBatch agrees with per-query ivfSearch") {
    val assigned = Ann.ivfAssignBig(corpus, "embedding", "vec_id", cents, "cid", "cvec")
    val queries = Seq(
      (100L, Array(0.05, 0.1)), (101L, Array(100.2, 100.1)),
      (102L, Array(50.0, 50.0)))
      .toDF("qid", "qv")
    val batch = Ann.ivfSearchBatch(assigned, "embedding", "vec_id",
        cents, "cid", "cvec", queries, "qid", "qv", k = 4, nprobe = 1)
      .select("qid", "knn_rank", "vec_id").as[(Long, Int, Long)]
      .collect().groupBy(_._1).view
      .mapValues(_.sortBy(_._2).map(_._3).toSeq).toMap
    queries.as[(Long, Array[Double])].collect().foreach { case (qid, qv) =>
      val single = Ann.ivfSearch(assigned, "embedding", "vec_id",
          cents, "cid", "cvec", typedlit(qv.toSeq), k = 4, nprobe = 1)
        .select("vec_id").as[Long].collect().toSeq
      assert(batch(qid) == single, s"qid=$qid")
    }
  }

  test("quantizedSearch top-k matches exact cosine kNN when quantization is faithful") {
    val qv = Seq(50.0, 50.0)
    val res = Ann.quantizedSearch(corpus, "embedding", "vec_id",
        typedlit(qv), k = 8, candMult = 8)
      .select("vec_id", "approx_cos", "cos")
      .as[(Long, Double, Double)].collect().toSeq
    // brute-force exact cosine ranking on the driver
    def cos(a: Seq[Double], b: Seq[Double]): Double = {
      val d = a.zip(b).map { case (x, y) => x * y }.sum
      val n = math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum)
      if (n == 0) 0.0 else d / n
    }
    val exact = corpus.select("vec_id", "embedding")
      .as[(Long, Seq[Double])].collect()
      .map { case (id, e) => (id, cos(e, qv)) }
      .sortBy { case (id, c) => (-c, id) }.take(8).map(_._1).toSeq
    assert(res.map(_._1) == exact)
    // 2-dim vectors quantized at 8 bits: approx within 1e-2 of exact
    res.foreach { case (id, a, c) => assert(math.abs(a - c) < 1e-2, s"id=$id") }
    // exact stage really reranks with the true cosine
    assert(res.map(_._3) == res.map(_._3).sorted.reverse)
  }

  test("ivfSearchBatch: a null embedding is no candidate, not an exact match") {
    // 20 docs on a line in two cells; doc 4's embedding is nulled AFTER
    // assignment, so it sits in a probed cell with a null distance,
    // which a (dist: Double) top-k entry would read as 0.0 and rank first
    val docs = (0 until 20).map(i => (i.toLong, Array(i.toFloat, 0.0f)))
      .toDF("vec_id", "embedding")
    val cells = Seq((0L, Array(0.0, 0.0)), (1L, Array(15.0, 0.0))).toDF("cid", "cvec")
    val assigned = Ann.ivfAssignBig(docs, "embedding", "vec_id", cells, "cid", "cvec")
      .withColumn("embedding", when(col("vec_id") =!= 4L, col("embedding")))
    val queries = Seq((100L, Seq(10.2, 1.0))).toDF("qid", "qv")
    val out = Ann.ivfSearchBatch(assigned, "embedding", "vec_id", cells, "cid", "cvec",
        queries, "qid", "qv", k = 20, nprobe = 2)
      .select("knn_rank", "vec_id", "dist").as[(Int, Long, Double)].collect()
      .sortBy(_._1).toSeq
    assert(out.length == 19 && !out.exists(_._2 == 4L), out)
    assert(out.take(3).map(_._2) == Seq(10L, 11L, 9L), out)
    assert(out.forall(_._3 > 0.0), out)
  }

  test("ivfSearchBatch survives a query vector column named like the corpus's") {
    val assigned = Ann.ivfAssignBig(corpus, "embedding", "vec_id", cents, "cid", "cvec")
    val q = Seq((0L, Array(0.3, 0.4)), (1L, Array(99.0, 101.0)))
    val colliding = Ann.ivfSearchBatch(assigned, "embedding", "vec_id",
        cents, "cid", "cvec", q.toDF("qid", "embedding"), "qid", "embedding",
        k = 4, nprobe = 2)
      .select("qid", "knn_rank", "vec_id").as[(Long, Int, Long)]
      .collect().sortBy(r => (r._1, r._2)).toSeq
    val distinct = Ann.ivfSearchBatch(assigned, "embedding", "vec_id",
        cents, "cid", "cvec", q.toDF("qid", "qv"), "qid", "qv",
        k = 4, nprobe = 2)
      .select("qid", "knn_rank", "vec_id").as[(Long, Int, Long)]
      .collect().sortBy(r => (r._1, r._2)).toSeq
    assert(colliding == distinct)
  }

  // deterministic pseudo-random PQ corpus: 60 vectors, dim 8
  private def pqCorpus = {
    val rnd = new scala.util.Random(29)
    (0 until 60).map(i => (i.toLong, Array.fill(8)(rnd.nextDouble() * 2 - 1)))
      .toDF("vec_id", "embedding")
  }

  test("pqEncodeBig rejects a codebook with gapped codes, keeps null embeddings null") {
    val gapped = Seq((0, 0L, Seq(0.0, 0.0)), (0, 2L, Seq(1.0, 1.0)))
      .toDF("sub_idx", "code", "subvec")
    val df = Seq((1L, Array(0.1, 0.2))).toDF("vec_id", "embedding")
    intercept[IllegalArgumentException] {
      Ann.pqEncodeBig(df, "embedding", gapped)
    }
    val cb = Ann.pqTrainCodebooks(pqCorpus, "embedding", 8, 4, 4)
    val withNull = pqCorpus.unionByName(
      Seq((999L, null: Array[Double])).toDF("vec_id", "embedding"))
    val encoded = Ann.pqEncodeBig(withNull, "embedding", cb)
    val codes = encoded.filter($"vec_id" === 999L).select("pq_codes").collect()
    assert(codes.length == 1 && codes(0).isNullAt(0))
    assert(encoded.filter($"vec_id" =!= 999L).select("pq_codes").as[Seq[Int]]
      .collect().forall(_.length == 4))
    // encode is a narrow map — no shuffle
    val plan = encoded.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"unexpected shuffle in:\n$plan")
  }

  test("pqEncodeBig fails loudly on a dim-mismatched embedding (no silent code 0)") {
    val cb = Ann.pqTrainCodebooks(pqCorpus, "embedding", 8, 4, 4)
    // under-length: the exact-dim check refuses it before any slice
    val short = Seq((7L, Array(0.1, 0.2, 0.3))).toDF("vec_id", "embedding")
    val e = intercept[Exception] {
      Ann.pqEncodeBig(short, "embedding", cb).collect()
    }
    assert(e.getMessage.contains("pqEncodeBig"), s"unexpected: ${e.getMessage}")
    // over-length: every slice is clean, only the exact-dim check can
    // catch it (it would otherwise null-poison the fp rerank)
    val long = Seq((8L, Array.fill(16)(0.5))).toDF("vec_id", "embedding")
    val e2 = intercept[Exception] {
      Ann.pqEncodeBig(long, "embedding", cb).collect()
    }
    assert(e2.getMessage.contains("pqEncodeBig"), s"unexpected: ${e2.getMessage}")
  }

  test("pqSearch and pqSearchEncoded never surface a null-embedding row") {
    val cb = Ann.pqTrainCodebooks(pqCorpus, "embedding", dim = 8, m = 4,
      kCodes = 16, seed = 7L)
    val qv = pqCorpus.filter($"vec_id" === 0L).select("embedding")
      .as[Seq[Double]].head().toArray
    val withNull = pqCorpus.unionByName(
      Seq((999L, null: Array[Double])).toDF("vec_id", "embedding"))
    val got = Ann.pqSearch(withNull, "embedding", "vec_id", cb, qv,
        k = 10, candMult = 2)
      .select("vec_id").as[Long].collect().toSeq
    assert(got.size == 10 && !got.contains(999L))
    // and the result equals the null-free corpus's exactly
    val clean = Ann.pqSearch(pqCorpus, "embedding", "vec_id", cb, qv,
        k = 10, candMult = 2)
      .select("vec_id").as[Long].collect().toSeq
    assert(got == clean)
    val encoded = Ann.pqEncodeBig(withNull, "embedding", cb)
      .select("vec_id", "pq_codes")
    val served = Ann.pqSearchEncoded(encoded, withNull, "embedding", "vec_id",
        cb, qv, k = 10, candMult = 2)
      .select("vec_id").as[Long].collect().toSeq
    assert(served == clean)
  }

  test("ivfPqSearch rejects a degenerate nprobe loudly") {
    val cb = Ann.pqTrainCodebooks(pqCorpus, "embedding", 8, 4, 4)
    val cents = Ann.trainCentroids(pqCorpus, "embedding", k = 4, seed = 3L)
    val assigned = Ann.ivfAssignBig(pqCorpus, "embedding", "vec_id",
      cents, "cid", "cvec")
    intercept[IllegalArgumentException] {
      Ann.ivfPqSearch(assigned, "embedding", "vec_id", cents, "cid", "cvec",
        cb, new Array[Double](8), k = 5, nprobe = 0)
    }
  }

  test("pqSearch reranks exactly and reaches full recall at generous candMult") {
    val cb = Ann.pqTrainCodebooks(pqCorpus, "embedding", dim = 8, m = 4,
      kCodes = 16, seed = 7L)
    val all = pqCorpus.select("vec_id", "embedding")
      .as[(Long, Seq[Double])].collect()
    val qv = all.find(_._1 == 0L).get._2.toArray
    def l2(a: Seq[Double], b: Seq[Double]): Double =
      math.sqrt(a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum)
    val exact = all.map { case (id, e) => (id, l2(e, qv)) }
      .sortBy { case (id, dd) => (dd, id) }.take(10).map(_._1).toSet
    // candMult spanning the corpus → stage one cannot drop a true
    // neighbor; the exact rerank must then reproduce exact kNN.
    val full = Ann.pqSearch(pqCorpus, "embedding", "vec_id", cb, qv,
        k = 10, candMult = 6)
      .select("vec_id").as[Long].collect().toSet
    assert(full == exact)
    // tight candMult: approximate — measure recall, require a floor
    val tight = Ann.pqSearch(pqCorpus, "embedding", "vec_id", cb, qv,
        k = 10, candMult = 2)
      .select("vec_id").as[Long].collect().toSet
    val recall = (tight & exact).size / 10.0
    assert(recall >= 0.5, s"recall@10 $recall below floor")
    // exact stage output is ordered by true distance
    val dists = Ann.pqSearch(pqCorpus, "embedding", "vec_id", cb, qv,
        k = 10, candMult = 2)
      .select("dist").as[Double].collect().toSeq
    assert(dists == dists.sorted)
  }

  test("pqSearchEncoded from a stored code table is row-identical to pqSearch") {
    val cb = Ann.pqTrainCodebooks(pqCorpus, "embedding", dim = 8, m = 4,
      kCodes = 16, seed = 7L)
    val qv = pqCorpus.filter($"vec_id" === 0L).select("embedding")
      .as[Seq[Double]].head().toArray
    val dir = QueriesShared.tempDir("graft_pq_codes_").toString
    // index-build time: persist codes WITHOUT the fp vectors
    Ann.pqEncodeBig(pqCorpus, "embedding", cb)
      .select("vec_id", "pq_codes").write.parquet(s"$dir/codes")
    val encoded = spark.read.parquet(s"$dir/codes")
    for (candMult <- Seq(2, 6)) {
      val want = Ann.pqSearch(pqCorpus, "embedding", "vec_id", cb, qv,
          k = 10, candMult = candMult)
        .as[(Long, Double, Double)].collect().toSeq
      val got = Ann.pqSearchEncoded(encoded, pqCorpus, "embedding", "vec_id",
          cb, qv, k = 10, candMult = candMult)
        .as[(Long, Double, Double)].collect().toSeq
      assert(got == want, s"candMult=$candMult")
    }
  }

  test("quantizedSearchEncoded from a stored int8 table is row-identical to quantizedSearch") {
    // a spread of magnitudes so quantization actually loses precision
    val qcorpus = (0 until 40).map { i =>
      (i.toLong, Array.tabulate(8)(j => (i * 7 + j * 3 % 11) * 0.37 - 5.0))
    }.toDF("vec_id", "embedding")
    val qv = typedlit(qcorpus.filter($"vec_id" === 0L)
      .select("embedding").as[Seq[Double]].head())
    val dir = QueriesShared.tempDir("graft_int8_").toString
    // index-build time: persist codes + (mn, scale), never fp vectors
    Ann.quantizedEncode(qcorpus, "embedding", "vec_id")
      .write.parquet(s"$dir/codes")
    val encoded = spark.read.parquet(s"$dir/codes")
    for (candMult <- Seq(2, 4)) {
      val want = Ann.quantizedSearch(qcorpus, "embedding", "vec_id", qv,
          k = 10, candMult = candMult)
        .as[(Long, Double, Double)].collect().toSeq
      val got = Ann.quantizedSearchEncoded(encoded, qcorpus, "embedding",
          "vec_id", qv, k = 10, candMult = candMult)
        .as[(Long, Double, Double)].collect().toSeq
      assert(got == want, s"candMult=$candMult")
    }
    // stage one must not read the fp corpus: the survivors' plan scans
    // only the code table
    val surv = Ann.quantizedSearchEncoded(encoded, qcorpus, "embedding",
      "vec_id", qv, k = 10, candMult = 2)
    val scans = surv.queryExecution.executedPlan.toString
    assert(scans.contains("q_codes"), s"expected code-table scan in:\n$scans")
  }

  test("ivfPqSearchEncoded from a cluster-partitioned code table is row-identical to ivfPqSearch") {
    val cb = Ann.pqTrainCodebooks(pqCorpus, "embedding", dim = 8, m = 4,
      kCodes = 16, seed = 11L)
    val cents = Ann.trainCentroids(pqCorpus, "embedding", k = 4, seed = 3L)
    val assigned = Ann.ivfAssignBig(pqCorpus, "embedding", "vec_id",
      cents, "cid", "cvec")
    val qv = pqCorpus.filter($"vec_id" === 1L).select("embedding")
      .as[Seq[Double]].head().toArray
    // index-build time: cluster-keyed codes, partitioned by cluster —
    // the probe semi-join must then prune at the reader
    val dir = QueriesShared.tempDir("graft_ivfpq_").toString
    Ann.pqEncodeBig(assigned, "embedding", cb)
      .select("cluster_id", "vec_id", "pq_codes")
      .write.partitionBy("cluster_id").parquet(s"$dir/codes")
    val encoded = spark.read.parquet(s"$dir/codes")
    for (nprobe <- Seq(1, 2, 4); candMult <- Seq(2, 6)) {
      val want = Ann.ivfPqSearch(assigned, "embedding", "vec_id",
          cents, "cid", "cvec", cb, qv, k = 10, nprobe = nprobe,
          candMult = candMult)
        .as[(Long, Double, Double)].collect().toSeq
      val served = Ann.ivfPqSearchEncoded(encoded, pqCorpus, "embedding", "vec_id",
        cents, "cid", "cvec", cb, qv, k = 10, nprobe = nprobe,
        candMult = candMult)
      // execute `served` ITSELF (not a derived Dataset) so its plan's
      // scan metrics populate
      val got = served.collect()
        .map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2))).toSeq
      assert(got == want, s"nprobe=$nprobe candMult=$candMult")
      // the probe must prune the code scan STATICALLY: the code-table
      // scan leaf reads at most nprobe of the cluster directories (the
      // d12 band-index metric assertion — .inputFiles would ignore
      // pruning). This plan HAS exchanges, so the root is an
      // AdaptiveSparkPlanExec — itself a leaf node — and file scans
      // only surface through its current inner plan.
      import org.apache.spark.sql.execution.SparkPlan
      import org.apache.spark.sql.execution.FileSourceScanExec
      import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
      import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
      def fileScans(p: SparkPlan): Seq[FileSourceScanExec] = {
        val self = p match { case f: FileSourceScanExec => Seq(f); case _ => Nil }
        val kids = p match {
          case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
          case q: QueryStageExec => Seq(q.plan)
          case r: ReusedExchangeExec => Seq(r.child)
          case other => other.children
        }
        self ++ kids.flatMap(fileScans)
      }
      // pqCorpus is an in-memory local relation, so the only file scan
      // in the plan is the code table
      val codeScan = fileScans(served.queryExecution.executedPlan)
        .headOption.getOrElse(fail("no code-table FileSourceScanExec leaf"))
      assert(codeScan.metrics("numPartitions").value <= nprobe,
        s"code scan read ${codeScan.metrics("numPartitions").value} " +
          s"cluster partitions, wanted <= $nprobe")
    }
  }

  test("ivfPqSearch at full probe + generous candMult equals exact kNN; probing restricts the pool") {
    val cb = Ann.pqTrainCodebooks(pqCorpus, "embedding", dim = 8, m = 4,
      kCodes = 16, seed = 11L)
    val cents = Ann.trainCentroids(pqCorpus, "embedding", k = 4, seed = 3L)
    val assigned = Ann.ivfAssignBig(pqCorpus, "embedding", "vec_id",
      cents, "cid", "cvec")
    val all = pqCorpus.select("vec_id", "embedding")
      .as[(Long, Seq[Double])].collect()
    val qv = all.find(_._1 == 1L).get._2.toArray
    def l2(a: Seq[Double], b: Seq[Double]): Double =
      math.sqrt(a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum)
    val exact = all.map { case (id, e) => (id, l2(e, qv)) }
      .sortBy { case (id, dd) => (dd, id) }.take(10).map(_._1).toSet
    // nprobe = all clusters + candMult spanning the corpus → exact
    val full = Ann.ivfPqSearch(assigned, "embedding", "vec_id",
        cents, "cid", "cvec", cb, qv, k = 10, nprobe = 4, candMult = 6)
      .select("vec_id").as[Long].collect().toSet
    assert(full == exact)
    // nprobe=1: every result lives in the query's nearest cluster
    val probed = Ann.ivfPqSearch(assigned, "embedding", "vec_id",
        cents, "cid", "cvec", cb, qv, k = 10, nprobe = 1, candMult = 6)
      .select("vec_id").as[Long].collect().toSet
    val nearestCid = Ann.collectCentroids(cents, "cid", "cvec")
      .map { case (cid, cv) => (l2(cv.toSeq, qv.toSeq), cid) }.min._2
    val inCluster = assigned.filter($"cluster_id" === nearestCid)
      .select("vec_id").as[Long].collect().toSet
    assert(probed.subsetOf(inCluster))
  }

  test("ivfPqSearchEncodedBatch is row-identical to per-query ivfPqSearchEncoded") {
    val cb = Ann.pqTrainCodebooks(pqCorpus, "embedding", dim = 8, m = 4,
      kCodes = 16, seed = 11L)
    val cents = Ann.trainCentroids(pqCorpus, "embedding", k = 4, seed = 3L)
    val assigned = Ann.ivfAssignBig(pqCorpus, "embedding", "vec_id",
      cents, "cid", "cvec")
    val enc = Ann.pqEncodeBig(assigned, "embedding", cb)
      .select("vec_id", "pq_codes", "cluster_id")
    val qs = pqCorpus.filter($"vec_id" < 3)
      .select($"vec_id".as("qid"), $"embedding".as("qv"))
    for (nprobe <- Seq(1, 2, 4)) { // pruning, partial, all-covering
      val batch = Ann.ivfPqSearchEncodedBatch(enc, pqCorpus, "embedding",
          "vec_id", cents, "cid", "cvec", cb, qs, "qid", "qv",
          k = 4, nprobe = nprobe, candMult = 2)
        .orderBy("qid", "knn_rank")
        .as[(Long, Int, Long, Double, Double)].collect().toSeq
      val fixture = pqCorpus.select("vec_id", "embedding")
        .as[(Long, Seq[Double])].collect().toMap
      val singles = (0L until 3L).flatMap { q =>
        Ann.ivfPqSearchEncoded(enc, pqCorpus, "embedding", "vec_id",
            cents, "cid", "cvec", cb, fixture(q).toArray,
            k = 4, nprobe = nprobe, candMult = 2)
          .as[(Long, Double, Double)].collect().toSeq.zipWithIndex
          .map { case ((id, a, dd), i) => (q, i + 1, id, a, dd) }
      }
      assert(batch == singles, s"nprobe=$nprobe")
    }
    // a code table without cluster_id is refused loudly
    val e = intercept[IllegalArgumentException] {
      Ann.ivfPqSearchEncodedBatch(enc.drop("cluster_id"), pqCorpus,
        "embedding", "vec_id", cents, "cid", "cvec", cb, qs, "qid", "qv",
        k = 2, nprobe = 1)
    }
    assert(e.getMessage.contains("cluster_id"))
  }

  test("ivfSearchBatch with nprobe = all clusters equals exact batch kNN") {
    val assigned = Ann.ivfAssignBig(corpus, "embedding", "vec_id", cents, "cid", "cvec")
    val queries = Seq((0L, Array(0.3, 0.4)), (1L, Array(99.0, 101.0)))
      .toDF("qid", "qv")
    val ivf = Ann.ivfSearchBatch(assigned, "embedding", "vec_id",
        cents, "cid", "cvec", queries, "qid", "qv", k = 6, nprobe = 2)
      .select("qid", "knn_rank", "vec_id").as[(Long, Int, Long)]
      .collect().sortBy(r => (r._1, r._2)).toSeq
    val exact = Knn.batch(corpus, "embedding", "vec_id",
        queries, "qid", "qv", 6)
      .select("qid", "knn_rank", "vec_id").as[(Long, Int, Long)]
      .collect().sortBy(r => (r._1, r._2)).toSeq
    assert(ivf == exact)
  }

  test("embeddingDrift: identical snapshots drift 0; mass shift computes the hand JS") {
    val same = Ann.embeddingDrift(corpus, corpus,
        "embedding", "vec_id", cents, "cid", "cvec")
      .select("js_total").as[Double].collect()
    assert(same.nonEmpty && same.forall(_ == 0.0))
    // A: 30 rows in cluster 0, 10 in cluster 1 → (0.75, 0.25)
    // B: 10 in cluster 0, 30 in cluster 1 → (0.25, 0.75)
    def snap(nearZero: Int, nearHundred: Int) =
      ((0 until nearZero).map(i => (i.toLong, Array(0.1f * i, 0.1f * i))) ++
        (0 until nearHundred).map(i =>
          (1000L + i, Array(100f + 0.1f * i, 100f + 0.1f * i))))
        .toDF("vec_id", "embedding")
    val got = Ann.embeddingDrift(snap(30, 10), snap(10, 30),
        "embedding", "vec_id", cents, "cid", "cvec")
      .orderBy("cluster_id")
      .select("cluster_id", "p_a", "p_b", "js_total")
      .as[(Long, Double, Double, Double)].collect().toSeq
    assert(got.map(r => (r._1, r._2, r._3)) == Seq((0L, 0.75, 0.25), (1L, 0.25, 0.75)))
    // hand JS: per cluster ½(p ln(p/m) + q ln(q/m)) with m = 0.5 both
    val expected = BigDecimal(
        0.75 * math.log(0.75 / 0.5) / 2 + 0.25 * math.log(0.25 / 0.5) / 2 +
        0.25 * math.log(0.25 / 0.5) / 2 + 0.75 * math.log(0.75 / 0.5) / 2)
      .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(got.map(_._4).distinct == Seq(expected))
  }

  test("clusterAudit: hand geometry — tightness, separation, empty and degenerate clusters") {
    // c0=(0,0) holds (±1,0) → n=2, mean_intra=1; c1=(10,0) holds its
    // own centroid vector → mean_intra=0 → null separation; c2 is a
    // dead partition → n=0, null stats. min_inter: c0↔c1 = 10.
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f)), (1L, Array(-1.0f, 0.0f)),
      (2L, Array(10.0f, 0.0f))).toDF("vec_id", "embedding")
    val cent3 = Seq(
      (0L, Array(0.0f, 0.0f)), (1L, Array(10.0f, 0.0f)),
      (2L, Array(100.0f, 100.0f))).toDF("cid", "cvec")
    val got = Ann.clusterAudit(vecs, "embedding", "vec_id", cent3, "cid", "cvec")
      .orderBy("cluster_id")
      .as[(Long, Long, Option[Double], Double, Option[Double])]
      .collect().toSeq
    val c2MinInter = BigDecimal(math.sqrt(90.0 * 90 + 100.0 * 100))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(got == Seq(
      (0L, 2L, Some(1.0), 10.0, Some(10.0)),
      (1L, 1L, Some(0.0), 10.0, None),
      (2L, 0L, None, c2MinInter, None)))
  }

  test("clusterAudit: loud guard on a single centroid; no sort-merge join in the plan") {
    val e = intercept[IllegalArgumentException] {
      Ann.clusterAudit(corpus, "embedding", "vec_id",
        cents.filter($"cid" === 0L), "cid", "cvec")
    }
    assert(e.getMessage.contains("2 centroids"))
    val plan = Ann.clusterAudit(corpus, "embedding", "vec_id",
        cents, "cid", "cvec")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("SortMergeJoin"), s"non-broadcast join in:\n$plan")
    // the argmin is the broadcast JVM loop, not per-centroid literals
    assert(!plan.contains("vector_l2sq"),
      s"clusterAudit must use the broadcast argmin, not inlined literals:\n$plan")
  }

  // ---- binary (sign) quantization ----

  // 64-dim deterministic fixture with varied sign patterns: component
  // j of vector i is ((i*31 + j*17) % 7 - 3) — hits negatives, zero
  // (NOT set: strictly-positive rule) and positives.
  private def signCorpus = (0 until 24).map { i =>
    (i.toLong, Array.tabulate(64)(j => ((i * 31 + j * 17) % 7 - 3).toFloat))
  }.toDF("vec_id", "embedding")

  test("signEncode packs the strictly-positive pattern into the right bits") {
    val v = Array.fill(64)(-1.0f)
    v(0) = 1.0f; v(5) = 0.5f; v(63) = 2.0f; v(7) = 0.0f // zero NOT set
    val code = Ann.signEncode(Seq((1L, v)).toDF("vec_id", "embedding"),
        "embedding", "vec_id", dim = 64)
      .select("sign_code").as[Array[Long]].head()
    assert(code.toSeq == Seq(1L | (1L << 5) | (1L << 63)))
    // driver twin agrees with the distributed packer
    assert(Ann.signCode(v.map(_.toDouble)).toSeq == code.toSeq)
  }

  test("signEncode fails loudly on a wrong-length vector") {
    val short = Seq((1L, Array(1.0f, -1.0f))).toDF("vec_id", "embedding")
    val e = intercept[Exception] {
      Ann.signEncode(short, "embedding", "vec_id", dim = 64).collect()
    }
    assert(e.getMessage.contains("expected dim 64"))
  }

  test("signSearchEncoded equals the brute-force two-stage ranking") {
    val rows = signCorpus.as[(Long, Array[Float])].collect()
    val qv = rows.find(_._1 == 0L).get._2.map(_.toDouble)
    val qCode = Ann.signCode(qv)
    val k = 3; val candMult = 2
    // brute force: hamming → (ham, id) cut → exact cosine rerank
    val expected = rows.map { case (id, emb) =>
        val c = Ann.signCode(emb.map(_.toDouble))
        val ham = c.zip(qCode).map { case (a, b) =>
          java.lang.Long.bitCount(a ^ b).toLong }.sum
        (id, ham, emb)
      }.sortBy { case (id, ham, _) => (ham, id) }.take(k * candMult)
      .map { case (id, ham, emb) =>
        val e = emb.map(_.toDouble)
        val dot = e.zip(qv).map { case (a, b) => a * b }.sum
        val nn = math.sqrt(e.map(x => x * x).sum) * math.sqrt(qv.map(x => x * x).sum)
        (id, ham, if (nn == 0) 0.0 else dot / nn)
      }.sortBy { case (id, _, cos) => (-cos, id) }.take(k)
    val encoded = Ann.signEncode(signCorpus, "embedding", "vec_id", dim = 64)
    val got = Ann.signSearchEncoded(encoded, signCorpus, "embedding", "vec_id",
        qv, dim = 64, k = k, candMult = candMult)
      .as[(Long, Long, Double)].collect().toSeq
    assert(got.map(r => (r._1, r._2)) == expected.map(r => (r._1, r._2)).toSeq)
    got.zip(expected).foreach { case (g, e) =>
      assert(math.abs(g._3 - e._3) < 1e-12, s"cos mismatch at id ${g._1}") }
  }

  test("signSearchEncodedBatch is row-identical to per-query signSearchEncoded") {
    val enc = Ann.signEncode(signCorpus, "embedding", "vec_id", dim = 64)
    val qs = signCorpus.filter($"vec_id" < 3)
      .select($"vec_id".as("qid"), $"embedding".as("qv"))
    val batch = Ann.signSearchEncodedBatch(enc, signCorpus, "embedding",
        "vec_id", qs, "qid", "qv", dim = 64, k = 4, candMult = 2)
      .orderBy("qid", "knn_rank")
      .as[(Long, Int, Long, Long, Double)].collect().toSeq
    val fixture = signCorpus.as[(Long, Array[Float])].collect().toMap
    val singles = (0L until 3L).flatMap { q =>
      Ann.signSearchEncoded(enc, signCorpus, "embedding", "vec_id",
          fixture(q).map(_.toDouble), dim = 64, k = 4, candMult = 2)
        .as[(Long, Long, Double)].collect().toSeq.zipWithIndex
        .map { case ((id, h, c), i) => (q, i + 1, id, h, c) }
    }
    assert(batch == singles)
  }

  test("quantizedSearchEncodedBatch is row-identical to per-query quantizedSearchEncoded") {
    val enc = Ann.quantizedEncode(signCorpus, "embedding", "vec_id")
    val qs = signCorpus.filter($"vec_id" < 3)
      .select($"vec_id".as("qid"), $"embedding".as("qv"))
    val batch = Ann.quantizedSearchEncodedBatch(enc, signCorpus, "embedding",
        "vec_id", qs, "qid", "qv", k = 4, candMult = 2)
      .orderBy("qid", "knn_rank")
      .as[(Long, Int, Long, Double, Double)].collect().toSeq
    val fixture = signCorpus.as[(Long, Array[Float])].collect().toMap
    val singles = (0L until 3L).flatMap { q =>
      Ann.quantizedSearchEncoded(enc, signCorpus, "embedding", "vec_id",
          typedlit(fixture(q).map(_.toDouble).toSeq), k = 4, candMult = 2)
        .as[(Long, Double, Double)].collect().toSeq.zipWithIndex
        .map { case ((id, a, c), i) => (q, i + 1, id, a, c) }
    }
    assert(batch == singles)
    // stored-width contract: codes encoded at a different dim than the
    // query fail loudly in the plan
    val short = signCorpus.select($"vec_id".as("qid"),
      slice($"embedding", 1, 32).as("qv")).filter($"qid" === 0)
    val e = intercept[Exception] {
      Ann.quantizedSearchEncodedBatch(enc, signCorpus, "embedding",
        "vec_id", short, "qid", "qv", k = 2).collect()
    }
    assert(e.getMessage.contains("different dimension"))
  }

  test("pqSearchEncodedBatch is row-identical to per-query pqSearchEncoded") {
    val cb = Ann.pqTrainCodebooks(pqCorpus, "embedding", dim = 8, m = 4,
      kCodes = 16, seed = 7L)
    val enc = Ann.pqEncodeBig(pqCorpus, "embedding", cb)
      .select("vec_id", "pq_codes")
    val qs = pqCorpus.filter($"vec_id" < 3)
      .select($"vec_id".as("qid"), $"embedding".as("qv"))
    val batch = Ann.pqSearchEncodedBatch(enc, pqCorpus, "embedding",
        "vec_id", cb, qs, "qid", "qv", k = 4, candMult = 2)
      .orderBy("qid", "knn_rank")
      .as[(Long, Int, Long, Double, Double)].collect().toSeq
    val fixture = pqCorpus.select("vec_id", "embedding")
      .as[(Long, Seq[Double])].collect().toMap
    val singles = (0L until 3L).flatMap { q =>
      Ann.pqSearchEncoded(enc, pqCorpus, "embedding", "vec_id", cb,
          fixture(q).toArray, k = 4, candMult = 2)
        .as[(Long, Double, Double)].collect().toSeq.zipWithIndex
        .map { case ((id, a, dd), i) => (q, i + 1, id, a, dd) }
    }
    assert(batch == singles)
    // a code table from a DIFFERENT codebook width fails loudly
    val short = enc.withColumn("pq_codes", slice($"pq_codes", 1, 2))
    val e = intercept[Exception] {
      Ann.pqSearchEncodedBatch(short, pqCorpus, "embedding", "vec_id",
        cb, qs, "qid", "qv", k = 2).collect()
    }
    assert(e.getMessage.contains("different codebook"))
  }

  test("prefixSearchEncodedBatch is row-identical to per-query prefixSearchEncoded") {
    val enc = Ann.prefixEncode(signCorpus, "embedding", "vec_id",
      prefixDim = 16)
    val qs = signCorpus.filter($"vec_id" < 3)
      .select($"vec_id".as("qid"), $"embedding".as("qv"))
    val batch = Ann.prefixSearchEncodedBatch(enc, signCorpus, "embedding",
        "vec_id", qs, "qid", "qv", prefixDim = 16, k = 4, candMult = 2)
      .orderBy("qid", "knn_rank")
      .as[(Long, Int, Long, Double, Double)].collect().toSeq
    val fixture = signCorpus.as[(Long, Array[Float])].collect().toMap
    val singles = (0L until 3L).flatMap { q =>
      Ann.prefixSearchEncoded(enc, signCorpus, "embedding", "vec_id",
          fixture(q).map(_.toDouble), prefixDim = 16, k = 4, candMult = 2)
        .as[(Long, Double, Double)].collect().toSeq.zipWithIndex
        .map { case ((id, p, d), i) => (q, i + 1, id, p, d) }
    }
    assert(batch == singles)
    // stored-width contract: a table encoded at a different prefix
    // width than the search's prefixDim fails loudly in the plan
    val e = intercept[Exception] {
      Ann.prefixSearchEncodedBatch(enc, signCorpus, "embedding",
        "vec_id", qs, "qid", "qv", prefixDim = 8, k = 2).collect()
    }
    assert(e.getMessage.contains("different prefix width"))
    // a too-short query fails loudly too
    val shortQ = signCorpus.select($"vec_id".as("qid"),
      slice($"embedding", 1, 8).as("qv")).filter($"qid" === 0)
    val e2 = intercept[Exception] {
      Ann.prefixSearchEncodedBatch(enc, signCorpus, "embedding",
        "vec_id", shortQ, "qid", "qv", prefixDim = 16, k = 2).collect()
    }
    assert(e2.getMessage.contains("shorter than prefixDim"))
    // a null prefix component / null rerank vector fails loudly rather
    // than silently occupying the ascending NULLS FIRST top-k (the
    // same guards the pq/ivfpq batch forms carry)
    val nullEnc = enc.withColumn("prefix_vec",
      when($"vec_id" === 0L,
        concat(slice($"prefix_vec", 1, 15), array(lit(null).cast("double"))))
        .otherwise($"prefix_vec"))
    val e3 = intercept[Exception] {
      Ann.prefixSearchEncodedBatch(nullEnc, signCorpus, "embedding",
        "vec_id", qs, "qid", "qv", prefixDim = 16, k = 2).collect()
    }
    assert(e3.getMessage.contains("null prefix distance"))
    val nullVecs = signCorpus.withColumn("embedding",
      when($"vec_id" === 0L, lit(null).cast("array<float>"))
        .otherwise($"embedding"))
    val e4 = intercept[Exception] {
      Ann.prefixSearchEncodedBatch(enc, nullVecs, "embedding",
        "vec_id", qs, "qid", "qv", prefixDim = 16, k = 2).collect()
    }
    assert(e4.getMessage.contains("null rerank distance"))
  }

  test("every quantizer rung: a 1-row query frame equals the single-query form; the width guard names the rung") {
    import org.apache.spark.sql.DataFrame
    val cb = Ann.pqTrainCodebooks(pqCorpus, "embedding", dim = 8, m = 4,
      kCodes = 16, seed = 7L)
    val int8Enc = Ann.quantizedEncode(signCorpus, "embedding", "vec_id")
    val pqEnc = Ann.pqEncodeBig(pqCorpus, "embedding", cb).select("vec_id", "pq_codes")
    val signEnc = Ann.signEncode(signCorpus, "embedding", "vec_id", dim = 64)
    val prefEnc = Ann.prefixEncode(signCorpus, "embedding", "vec_id", prefixDim = 16)
    // one row per rung: its single-query form, its frame form, and a
    // code table whose stored width disagrees with the search
    final case class Rung(name: String, corpus: DataFrame, enc: DataFrame,
                          broken: DataFrame,
                          single: (DataFrame, Array[Double]) => DataFrame,
                          frame: (DataFrame, DataFrame) => DataFrame)
    val rungs = Seq(
      Rung("quantizedSearchEncoded", signCorpus, int8Enc,
        int8Enc.withColumn("q_codes", slice($"q_codes", 1, 32)),
        (enc, v) => Ann.quantizedSearchEncoded(enc, signCorpus, "embedding",
          "vec_id", typedlit(v.toSeq), k = 4, candMult = 2),
        (enc, qs) => Ann.quantizedSearchEncodedBatch(enc, signCorpus,
          "embedding", "vec_id", qs, "qid", "qv", k = 4, candMult = 2)),
      Rung("pqSearchEncoded", pqCorpus, pqEnc,
        pqEnc.withColumn("pq_codes", slice($"pq_codes", 1, 2)),
        (enc, v) => Ann.pqSearchEncoded(enc, pqCorpus, "embedding", "vec_id",
          cb, v, k = 4, candMult = 2),
        (enc, qs) => Ann.pqSearchEncodedBatch(enc, pqCorpus, "embedding",
          "vec_id", cb, qs, "qid", "qv", k = 4, candMult = 2)),
      Rung("signSearchEncoded", signCorpus, signEnc,
        signEnc.withColumn("sign_code", concat($"sign_code", $"sign_code")),
        (enc, v) => Ann.signSearchEncoded(enc, signCorpus, "embedding",
          "vec_id", v, dim = 64, k = 4, candMult = 2),
        (enc, qs) => Ann.signSearchEncodedBatch(enc, signCorpus, "embedding",
          "vec_id", qs, "qid", "qv", dim = 64, k = 4, candMult = 2)),
      Rung("prefixSearchEncoded", signCorpus, prefEnc,
        prefEnc.withColumn("prefix_vec", slice($"prefix_vec", 1, 8)),
        (enc, v) => Ann.prefixSearchEncoded(enc, signCorpus, "embedding",
          "vec_id", v, prefixDim = 16, k = 4, candMult = 2),
        (enc, qs) => Ann.prefixSearchEncodedBatch(enc, signCorpus,
          "embedding", "vec_id", qs, "qid", "qv", prefixDim = 16, k = 4,
          candMult = 2)))
    rungs.foreach { r =>
      val qs = r.corpus.filter($"vec_id" === 1L)
        .select($"vec_id".as("qid"), $"embedding".as("qv"))
      val qv = qs.select($"qv".cast("array<double>")).as[Seq[Double]].head().toArray
      val single = r.single(r.enc, qv).collect().toSeq.zipWithIndex
        .map { case (row, i) => (1L, i + 1, row.get(0), row.get(1), row.get(2)) }
      val frame = r.frame(r.enc, qs).orderBy("knn_rank").collect().toSeq
        .map(row => (row.getLong(0), row.getInt(1), row.get(2), row.get(3), row.get(4)))
      assert(single.size == 4 && frame == single, r.name)
      Seq(r.name -> (() => r.single(r.broken, qv)),
          s"${r.name}Batch" -> (() => r.frame(r.broken, qs))).foreach {
        case (form, run) =>
          val e = intercept[Exception](run().collect())
          assert(e.getMessage.contains(s"$form: stored "), s"$form: ${e.getMessage}")
      }
    }
  }

  test("signSearchEncoded rejects a query shorter (or longer) than the encoded dim") {
    val enc = Ann.signEncode(signCorpus, "embedding", "vec_id", dim = 64)
    // a 32-component query would sum fewer Hamming words and silently
    // ignore the stored codes' trailing dimensions — refused up front
    val short = intercept[IllegalArgumentException] {
      Ann.signSearchEncoded(enc, signCorpus, "embedding", "vec_id",
        Array.fill(32)(1.0), dim = 64, k = 3)
    }
    assert(short.getMessage.contains("32 components"))
    intercept[IllegalArgumentException] {
      Ann.signSearchEncoded(enc, signCorpus, "embedding", "vec_id",
        Array.fill(80)(1.0), dim = 64, k = 3)
    }
  }

  test("signSearchEncodedBatch rejects non-integral id columns loudly") {
    // string ids would be nulled by the internal long cast and their
    // rows silently dropped from the TopK heap
    val enc = Ann.signEncode(signCorpus, "embedding", "vec_id", dim = 64)
      .withColumn("vec_id", concat(lit("doc-"), $"vec_id"))
    val qs = signCorpus.filter($"vec_id" < 2)
      .select($"vec_id".as("qid"), $"embedding".as("qv"))
    val e = intercept[IllegalArgumentException] {
      Ann.signSearchEncodedBatch(enc, signCorpus, "embedding", "vec_id",
        qs, "qid", "qv", dim = 64, k = 3)
    }
    assert(e.getMessage.contains("non-integral"))
    val badQ = intercept[IllegalArgumentException] {
      Ann.signSearchEncodedBatch(
        Ann.signEncode(signCorpus, "embedding", "vec_id", dim = 64),
        signCorpus, "embedding", "vec_id",
        qs.withColumn("qid", concat(lit("q-"), $"qid")), "qid", "qv",
        dim = 64, k = 3)
    }
    assert(badQ.getMessage.contains("query id"))
  }

  // ---- matryoshka (prefix-dimension) serving ----

  test("prefixSearchEncoded reranks survivors by full distance; prefix cut is contractual") {
    // prefix (first 2 dims) ordering differs from full ordering:
    // id 1 is prefix-near/full-far, id 2 prefix-far/full-near.
    val vecs = Seq(
      (0L, Array(0.0f, 0.0f, 0.0f, 0.0f)),   // the query
      (1L, Array(0.1f, 0.1f, 9.0f, 9.0f)),   // prefix-near, full-far
      (2L, Array(3.0f, 3.0f, 0.0f, 0.0f)),   // prefix-far, full-near
      (3L, Array(0.2f, 0.2f, 0.1f, 0.1f)),
      (4L, Array(8.0f, 8.0f, 8.0f, 8.0f))
    ).toDF("vec_id", "embedding")
    val enc = Ann.prefixEncode(vecs, "embedding", "vec_id", prefixDim = 2)
    val qv = Array(0.0, 0.0, 0.0, 0.0)
    // candMult*k = 3 candidates by prefix: ids 0, 1, 3 (id 2 cut away
    // despite being full-nearer than 1) — the disclosed approximation.
    val got = Ann.prefixSearchEncoded(enc, vecs, "embedding", "vec_id",
        qv, prefixDim = 2, k = 3, candMult = 1)
      .as[(Long, Double, Double)].collect().toSeq
    assert(got.map(_._1) == Seq(0L, 3L, 1L)) // full-dist order within survivors
    assert(got.map(_._1).toSet.intersect(Set(2L)).isEmpty)
    // prefix_dist is over dims 1-2 only; dist over all 4
    val r1 = got.find(_._1 == 1L).get
    assert(math.abs(r1._2 - math.sqrt(0.02)) < 1e-6)
    assert(r1._3 > 12.0)
  }

  test("prefixEncode fails loudly on an embedding shorter than prefixDim") {
    val short = Seq((7L, Array(1.0f))).toDF("vec_id", "embedding")
    val e = intercept[Exception] {
      Ann.prefixEncode(short, "embedding", "vec_id", prefixDim = 2).collect()
    }
    assert(e.getMessage.contains("shorter than prefixDim"))
  }

  test("property: sign serving equals exact cosine top-k when the cut covers the corpus") {
    import org.scalacheck.Gen
    val gen = for {
      n <- Gen.choose(4, 16)
      dim <- Gen.oneOf(4, 8)
      vals <- Gen.listOfN(n * dim, Gen.choose(-5, 5))
    } yield (n, dim, vals)
    PropHelper.forAll(gen, n = 8) { case (n, dim, vals) =>
      val rows = (0 until n).map(i =>
        (i.toLong, Array.tabulate(dim)(j => vals(i * dim + j).toFloat)))
      val df = rows.toDF("vec_id", "embedding")
      val qv = rows.head._2.map(_.toDouble)
      val k = 3
      // candMult*k >= n → stage two reranks the WHOLE corpus exactly
      val enc = Ann.signEncode(df, "embedding", "vec_id", dim)
      val got = Ann.signSearchEncoded(enc, df, "embedding", "vec_id",
          qv, dim = dim, k = k, candMult = n)
        .select("vec_id").as[Long].collect().toSeq
      val exact = rows.map { case (id, emb) =>
          val e = emb.map(_.toDouble)
          val dot = e.zip(qv).map { case (a, b) => a * b }.sum
          val nn = math.sqrt(e.map(x => x * x).sum) *
            math.sqrt(qv.map(x => x * x).sum)
          (id, if (nn == 0) 0.0 else dot / nn)
        }.sortBy { case (id, cos) => (-cos, id) }.take(k).map(_._1)
      assert(got == exact, s"n=$n dim=$dim")
    }
  }

  test("property: prefix serving at prefixDim = dim equals exact L2 top-k even at candMult = 1") {
    import org.scalacheck.Gen
    val gen = for {
      n <- Gen.choose(4, 16)
      dim <- Gen.oneOf(4, 8)
      vals <- Gen.listOfN(n * dim, Gen.choose(-5, 5))
    } yield (n, dim, vals)
    PropHelper.forAll(gen, n = 8) { case (n, dim, vals) =>
      val rows = (0 until n).map(i =>
        (i.toLong, Array.tabulate(dim)(j => vals(i * dim + j).toFloat)))
      val df = rows.toDF("vec_id", "embedding")
      val qv = rows.head._2.map(_.toDouble)
      val k = 3
      // full-dim prefix: stage one IS the exact ranking, so the
      // candMult=1 cut loses nothing — the matryoshka contract's
      // degenerate-end sanity check
      val enc = Ann.prefixEncode(df, "embedding", "vec_id", dim)
      val got = Ann.prefixSearchEncoded(enc, df, "embedding", "vec_id",
          qv, prefixDim = dim, k = k, candMult = 1)
        .select("vec_id").as[Long].collect().toSeq
      val exact = rows.map { case (id, emb) =>
          val d = math.sqrt(emb.map(_.toDouble).zip(qv)
            .map { case (a, b) => (a - b) * (a - b) }.sum)
          (id, d)
        }.sortBy { case (id, d) => (d, id) }.take(k).map(_._1)
      assert(got == exact, s"n=$n dim=$dim")
    }
  }

  test("property: int8 serving equals exact cosine top-k when the cut covers the corpus") {
    import org.scalacheck.Gen
    // dim-agnosticism for the int8 rung: the (mn, scale) pair and the
    // per-component affine codes are derived element-wise, so nothing
    // should care about width — swept at dims 4 and 8 like the
    // sign/prefix rungs (s13's ladder runs it only at the corpus's 64)
    val gen = for {
      n <- Gen.choose(4, 16)
      dim <- Gen.oneOf(4, 8)
      vals <- Gen.listOfN(n * dim, Gen.choose(-5, 5))
    } yield (n, dim, vals)
    PropHelper.forAll(gen, n = 8) { case (n, dim, vals) =>
      val rows = (0 until n).map(i =>
        (i.toLong, Array.tabulate(dim)(j => vals(i * dim + j).toFloat)))
      val df = rows.toDF("vec_id", "embedding")
      val qv = rows.head._2.map(_.toDouble)
      val k = 3
      // candMult*k >= n → stage two reranks the WHOLE corpus exactly,
      // so any stage-one dequantize loss is reranked away
      val enc = Ann.quantizedEncode(df, "embedding", "vec_id")
      val got = Ann.quantizedSearchEncoded(enc, df, "embedding", "vec_id",
          typedlit(qv.toSeq), k = k, candMult = n)
        .select("vec_id").as[Long].collect().toSeq
      val exact = rows.map { case (id, emb) =>
          val e = emb.map(_.toDouble)
          val dot = e.zip(qv).map { case (a, b) => a * b }.sum
          val nn = math.sqrt(e.map(x => x * x).sum) *
            math.sqrt(qv.map(x => x * x).sum)
          (id, if (nn == 0) 0.0 else dot / nn)
        }.sortBy { case (id, cos) => (-cos, id) }.take(k).map(_._1)
      assert(got == exact, s"n=$n dim=$dim")
    }
  }

  test("property: IVF assign + search at nprobe = #centroids equals exact L2 top-k") {
    import org.scalacheck.Gen
    // dim-agnosticism for the IVF path (the fixture tests above run it
    // only at dim 2): assignment argmin and probe ranking are swept at
    // dims 4 and 8 with centroids DRAWN FROM the corpus, and probing
    // every centroid must recover the exact answer regardless of how
    // the argmin scattered the vectors
    val gen = for {
      n <- Gen.choose(4, 16)
      dim <- Gen.oneOf(4, 8)
      nCents <- Gen.choose(2, 3)
      vals <- Gen.listOfN(n * dim, Gen.choose(-5, 5))
    } yield (n, dim, nCents, vals)
    PropHelper.forAll(gen, n = 8) { case (n, dim, nCents, vals) =>
      val rows = (0 until n).map(i =>
        (i.toLong, Array.tabulate(dim)(j => vals(i * dim + j).toFloat)))
      val df = rows.toDF("vec_id", "embedding")
      val centRows = (0 until nCents).map(c =>
        (c.toLong, rows(c % n)._2.map(_.toDouble)))
      val centDf = centRows.toDF("cid", "cvec")
      val qv = rows.head._2.map(_.toDouble)
      val k = 3
      val assigned = Ann.ivfAssignBig(df, "embedding", "vec_id",
        centDf, "cid", "cvec")
      // every assignment is the scala-side argmin (L2, ties min cid)
      val gotAssign = assigned.select("vec_id", "cluster_id")
        .as[(Long, Long)].collect().toMap
      rows.foreach { case (id, emb) =>
        val e = emb.map(_.toDouble)
        val want = centRows.map { case (cid, cv) =>
            (cid, e.zip(cv).map { case (a, b) => (a - b) * (a - b) }.sum)
          }.minBy { case (cid, d) => (d, cid) }._1
        assert(gotAssign(id) == want, s"assign id=$id n=$n dim=$dim")
      }
      // probing ALL centroids = exact search over the whole corpus
      val got = Ann.ivfSearch(assigned, "embedding", "vec_id",
          centDf, "cid", "cvec", typedlit(qv.toSeq), k = k, nprobe = nCents)
        .select("vec_id").as[Long].collect().toSeq
      val exact = rows.map { case (id, emb) =>
          val d = math.sqrt(emb.map(_.toDouble).zip(qv)
            .map { case (a, b) => (a - b) * (a - b) }.sum)
          (id, d)
        }.sortBy { case (id, d) => (d, id) }.take(k).map(_._1)
      assert(got == exact, s"search n=$n dim=$dim nCents=$nCents")
    }
  }

  test("splitFatClusters retires fat cells locally, preserves membership, no-ops when balanced") {
    // one fat cell (300 members on a line near the origin) + two thin
    // ones far away; maxRows=100 → ceil(1.25·300/100) = 4 sub-cells
    // (the 25% headroom targets ~75 members each, under the limit in
    // one pass)
    val blob = (0L until 300L).map(i => (i, Array(i / 300.0, (i % 7) / 1000.0)))
    val right = (300L until 320L).map(i => (i, Array(10.0 + (i % 5) * 0.01, 0.0)))
    val up = (320L until 340L).map(i => (i, Array(0.0, 10.0 + (i % 5) * 0.01)))
    val corpus = (blob ++ right ++ up).toDF("vec_id", "embedding")
    val cents = Seq((0L, Array(0.5, 0.0)), (1L, Array(10.0, 0.0)),
      (2L, Array(0.0, 10.0))).toDF("cid", "cvec")
    val assigned = Ann.ivfAssignBig(corpus, "embedding", "vec_id",
      cents, "cid", "cvec")
    val (newIdx, newCents) = Ann.splitFatClusters(assigned, "embedding",
      "vec_id", cents, "cid", "cvec", maxRows = 100)
    // centroid table: cid 0 retired, 1/2 kept, 3 fresh ids appended
    val ids = newCents.select(col("cid").cast("long")).as[Long]
      .collect().toSet
    assert(!ids.contains(0L) && ids.contains(1L) && ids.contains(2L))
    assert(ids.count(_ >= 3L) == 4 && ids.size == 6)
    // membership preserved exactly; untouched cells keep their ids
    assert(newIdx.count() == 340)
    assert(newIdx.select("vec_id").as[Long].collect().toSet ==
      (0L until 340L).toSet)
    assert(newIdx.filter($"vec_id" >= 300L && $"vec_id" < 320L)
      .select(col("cluster_id").cast("long")).as[Long]
      .collect().forall(_ == 1L))
    assert(newIdx.filter($"vec_id" >= 320L)
      .select(col("cluster_id").cast("long")).as[Long]
      .collect().forall(_ == 2L))
    // the fat cell's members land ONLY in the fresh sub-cells, and the
    // split actually rebalances (the line blob divides ~evenly)
    val blobAssign = newIdx.filter($"vec_id" < 300L)
      .select(col("vec_id"), col("cluster_id").cast("long"))
      .as[(Long, Long)].collect().toMap
    assert(blobAssign.values.toSet.forall(_ >= 3L))
    assert(blobAssign.values.toSet.size == 4)
    // single-pass convergence: no cell above the limit (the headroom's
    // whole point — without it, average occupancy would equal maxRows
    // and this assert would need KMeans to be perfectly balanced)
    val maxCell = newIdx.groupBy("cluster_id").count()
      .agg(max("count")).as[Long].collect()(0)
    assert(maxCell <= 100L, s"max cell still $maxCell after the split")
    // local refinement semantics: each member sits at the argmin over
    // ITS OLD cell's sub-centroids (re-derived independently here)
    val subCents = newCents.filter(col("cid") >= 3L)
    val rederived = Ann.ivfAssignBig(blob.toDF("vec_id", "embedding"),
        "embedding", "vec_id", subCents, "cid", "cvec")
      .select(col("vec_id"), col("cluster_id").cast("long"))
      .as[(Long, Long)].collect().toMap
    assert(blobAssign == rederived)
    // a balanced index is returned UNCHANGED (same instances — no jobs)
    val (same, sameCents) = Ann.splitFatClusters(newIdx, "embedding",
      "vec_id", newCents, "cid", "cvec", maxRows = 200)
    assert((same eq newIdx) && (sameCents eq newCents))
    // trainSampleMax: sub-cell GEOMETRY from a bounded sample, every
    // member still assigned — the 100 TB knob for billion-row fat
    // cells. Membership/locality invariants hold exactly as unsampled
    // (assignment is over all members either way); on this separable
    // line blob the sampled fit still splits into 4 fresh sub-cells.
    val (sampledIdx, sampledCents) = Ann.splitFatClusters(assigned,
      "embedding", "vec_id", cents, "cid", "cvec", maxRows = 100,
      trainSampleMax = 60)
    assert(sampledIdx.count() == 340)
    assert(sampledIdx.select("vec_id").as[Long].collect().toSet ==
      (0L until 340L).toSet)
    val sampledBlob = sampledIdx.filter($"vec_id" < 300L)
      .select(col("cluster_id").cast("long")).as[Long].collect()
    assert(sampledBlob.forall(_ >= 3L) && sampledBlob.toSet.size == 4)
    assert(sampledCents.count() == 6)
    // 0 = fit on all members: bit-identical to the pre-knob behavior
    val (zeroIdx, _) = Ann.splitFatClusters(assigned, "embedding",
      "vec_id", cents, "cid", "cvec", maxRows = 100, trainSampleMax = 0)
    assert(zeroIdx.select(col("vec_id"), col("cluster_id").cast("long"))
      .as[(Long, Long)].collect().toMap == blobAssign ++
      (300L until 320L).map(_ -> 1L).toMap ++
      (320L until 340L).map(_ -> 2L).toMap)
    // loud guards
    val e = intercept[IllegalArgumentException] {
      Ann.splitFatClusters(corpus, "embedding", "vec_id", cents,
        "cid", "cvec", maxRows = 100)
    }
    assert(e.getMessage.contains("cluster_id"))
    intercept[IllegalArgumentException] {
      Ann.splitFatClusters(assigned, "embedding", "vec_id", cents,
        "cid", "cvec", maxRows = 100, trainSampleMax = -1)
    }
  }

  test("mergeThinClusters retires thin and EMPTY cells, reassigns to nearest survivor, no-ops when healthy") {
    // two healthy cells, one thin cell whose members sit nearer B than
    // A, one EMPTY centroid (no members — the deletion-leftover case),
    // one null-embedding row
    val a = (0L until 100L).map(i => (i, Array(i * 0.01, 0.0)))
    val b = (100L until 150L).map(i => (i, Array(10.0 + (i % 5) * 0.01, 0.0)))
    val c = (150L until 153L).map(i => (i, Array(7.0 + (i - 150L) * 0.1, 0.0)))
    val corpus = (a ++ b ++ c).toDF("vec_id", "embedding")
    val cents = Seq((0L, Array(0.5, 0.0)), (1L, Array(10.0, 0.0)),
      (2L, Array(7.1, 0.0)), (3L, Array(0.0, 50.0))).toDF("cid", "cvec")
    val assigned = Ann.ivfAssignBig(corpus, "embedding", "vec_id",
        cents, "cid", "cvec")
      .withColumn("cluster_id", col("cluster_id").cast("long"))
      .unionByName(Seq(999L).toDF("vec_id")
        .withColumn("embedding", lit(null).cast("array<double>"))
        .withColumn("cluster_id", lit(null).cast("long")))
    // sanity: the fixture is what the test narrates
    assert(assigned.filter($"cluster_id" === 2L).count() == 3)
    assert(assigned.filter($"cluster_id" === 3L).count() == 0)
    val (merged, mergedCents) = Ann.mergeThinClusters(assigned,
      "embedding", "vec_id", cents, "cid", "cvec", minRows = 10)
    // survivor table: exactly A and B, ids and vectors untouched
    val survIds = mergedCents.select(col("cid").cast("long")).as[Long]
      .collect().toSet
    assert(survIds == Set(0L, 1L))
    // membership preserved exactly, null row passes through
    assert(merged.count() == 154)
    assert(merged.filter($"cluster_id".isNull).select("vec_id")
      .as[Long].collect().toSeq == Seq(999L))
    // untouched cells keep their members and ids
    assert(merged.filter($"vec_id" < 100L)
      .select(col("cluster_id").cast("long")).as[Long]
      .collect().forall(_ == 0L))
    assert(merged.filter($"vec_id" >= 100L && $"vec_id" < 150L)
      .select(col("cluster_id").cast("long")).as[Long]
      .collect().forall(_ == 1L))
    // thin members land at the GLOBAL argmin over survivors — here B
    // (dist ~3) beats A (dist ~6.5) — and match a fresh assign exactly
    val moved = merged.filter($"vec_id" >= 150L && $"vec_id" =!= 999L)
      .select(col("vec_id"), col("cluster_id").cast("long"))
      .as[(Long, Long)].collect().toMap
    assert(moved.values.forall(_ == 1L), moved.toString)
    val rederived = Ann.ivfAssignBig(c.toDF("vec_id", "embedding"),
        "embedding", "vec_id",
        mergedCents, "cid", "cvec")
      .select(col("vec_id"), col("cluster_id").cast("long"))
      .as[(Long, Long)].collect().toMap
    assert(moved == rederived)
    // a healthy index is returned UNCHANGED (same instances — no jobs)
    val (same, sameCents) = Ann.mergeThinClusters(merged, "embedding",
      "vec_id", mergedCents, "cid", "cvec", minRows = 10)
    assert((same eq merged) && (sameCents eq mergedCents))
    // loud refusals: all cells thin; missing cluster_id; minRows < 1
    val eAll = intercept[IllegalArgumentException] {
      Ann.mergeThinClusters(assigned, "embedding", "vec_id",
        cents, "cid", "cvec", minRows = 1000)
    }
    assert(eAll.getMessage.contains("nothing to merge into"))
    intercept[IllegalArgumentException] {
      Ann.mergeThinClusters(corpus, "embedding", "vec_id",
        cents, "cid", "cvec", minRows = 10)
    }
    intercept[IllegalArgumentException] {
      Ann.mergeThinClusters(assigned, "embedding", "vec_id",
        cents, "cid", "cvec", minRows = 0)
    }
  }

  test("property: splitFatClusters preserves membership and refines LOCALLY on random geometries") {
    import org.scalacheck.Gen
    val gen = for {
      n <- Gen.choose(30, 80)
      k <- Gen.choose(2, 3)
      maxRows <- Gen.choose(5L, 20L)
      dim <- Gen.oneOf(2, 3)
      rows <- Gen.listOfN(n, Gen.listOfN(dim, Gen.choose(-50, 50).map(_ / 10.0)))
    } yield (k, maxRows, rows)
    PropHelper.forAll(gen, n = 6) { case (k, maxRows, rows) =>
      val df = rows.zipWithIndex.map { case (v, i) => (i.toLong, v.toArray) }
        .toDF("vec_id", "embedding")
      val cents = rows.take(k).zipWithIndex
        .map { case (v, i) => (i.toLong, v.toArray) }.toDF("cid", "cvec")
      val assigned = Ann.ivfAssignBig(df, "embedding", "vec_id",
        cents, "cid", "cvec")
      val before = assigned
        .select(col("vec_id"), col("cluster_id").cast("long"))
        .as[(Long, Long)].collect().toMap
      val fat = before.values.groupBy(identity)
        .collect { case (c, g) if g.size > maxRows => c }.toSet
      val (nIdx, nCents) = Ann.splitFatClusters(assigned, "embedding",
        "vec_id", cents, "cid", "cvec", maxRows)
      // membership preserved exactly
      val after = nIdx
        .select(col("vec_id"), col("cluster_id").cast("long"))
        .as[(Long, Long)].collect().toMap
      assert(after.keySet == before.keySet, s"k=$k maxRows=$maxRows")
      // centroid table: unique ids, and every assigned cid exists in it
      val cids = nCents.select(col("cid").cast("long")).as[Long]
        .collect().toSeq
      assert(cids.distinct.size == cids.size)
      assert(after.values.toSet.subsetOf(cids.toSet))
      // retired fat ids are gone from the table; thin ids survive
      assert(fat.forall(c => !cids.contains(c)))
      assert((before.values.toSet -- fat).forall(cids.contains))
      // LOCAL refinement: untouched rows keep their cluster verbatim,
      // fat-cell members land only in fresh ids (>= k, past the max
      // original cid)
      after.foreach { case (id, c) =>
        if (fat.contains(before(id)))
          assert(c >= k, s"fat member $id landed in old-id space $c")
        else assert(c == before(id), s"thin member $id moved: ${before(id)} -> $c")
      }
    }
  }

  test("property: mergeThinClusters preserves membership and moves ONLY thin members, to the nearest survivor") {
    import org.scalacheck.Gen
    val gen = for {
      n <- Gen.choose(30, 80)
      k <- Gen.choose(2, 4)
      minRows <- Gen.choose(2L, 10L)
      dim <- Gen.oneOf(2, 3)
      rows <- Gen.listOfN(n, Gen.listOfN(dim, Gen.choose(-50, 50).map(_ / 10.0)))
    } yield (k, minRows, rows)
    PropHelper.forAll(gen, n = 6) { case (k, minRows, rows) =>
      val df = rows.zipWithIndex.map { case (v, i) => (i.toLong, v.toArray) }
        .toDF("vec_id", "embedding")
      val cents = rows.take(k).zipWithIndex
        .map { case (v, i) => (i.toLong, v.toArray) }.toDF("cid", "cvec")
      val assigned = Ann.ivfAssignBig(df, "embedding", "vec_id",
        cents, "cid", "cvec")
      val before = assigned
        .select(col("vec_id"), col("cluster_id").cast("long"))
        .as[(Long, Long)].collect().toMap
      val occ = before.values.groupBy(identity).map { case (c, g) => c -> g.size.toLong }
      // thinness is centroid-driven: zero-member cells count as thin
      val thin = (0L until k.toLong).filter(occ.getOrElse(_, 0L) < minRows).toSet
      if (thin.size == k) {
        intercept[IllegalArgumentException] {
          Ann.mergeThinClusters(assigned, "embedding", "vec_id",
            cents, "cid", "cvec", minRows)
        }
      } else {
        val (nIdx, nCents) = Ann.mergeThinClusters(assigned, "embedding",
          "vec_id", cents, "cid", "cvec", minRows)
        val after = nIdx
          .select(col("vec_id"), col("cluster_id").cast("long"))
          .as[(Long, Long)].collect().toMap
        // membership preserved exactly
        assert(after.keySet == before.keySet, s"k=$k minRows=$minRows")
        // the centroid table is exactly the survivors, ids untouched
        val cids = nCents.select(col("cid").cast("long")).as[Long]
          .collect().toSet
        assert(cids == (0L until k.toLong).toSet -- thin)
        // survivor members never move; thin members land at the global
        // argmin over the survivor table (re-derived independently)
        val moved = after.filter { case (id, _) => thin.contains(before(id)) }
        val rederivedAll = Ann.ivfAssignBig(df, "embedding", "vec_id",
            nCents, "cid", "cvec")
          .select(col("vec_id"), col("cluster_id").cast("long"))
          .as[(Long, Long)].collect().toMap
        after.foreach { case (id, c) =>
          if (thin.contains(before(id)))
            assert(c == rederivedAll(id),
              s"thin member $id landed on $c, argmin says ${rederivedAll(id)}")
          else assert(c == before(id), s"survivor member $id moved")
        }
        assert(moved.values.toSet.subsetOf(cids))
      }
    }
  }
}
