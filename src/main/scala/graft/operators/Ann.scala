package graft.operators

import graft.functions.VectorFunctions
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Approximate nearest-neighbor scale path: IVF (inverted-file) over a
  * centroid table (SURVEY.md §2.5 V1/V2 north star; the reference's
  * HNSW index — /root/reference/main.py:55 — is replaced by a
  * partition-prunable layout, which is the Spark-native equivalent).
  *
  * Shape for 100 TB: `assign` is ONE narrow pass over the corpus — the
  * centroid table (k rows) broadcasts, so no corpus shuffle. Writing
  * the assigned table `partitionBy("cluster_id")` makes every later
  * query scan only the probed clusters (partition pruning); `search`
  * then runs exact top-k inside nprobe clusters — candidates shrink by
  * ~k/nprobe versus a full scan while the plan stays
  * filter ∘ distance ∘ TakeOrderedAndProject with no shuffle.
  *
  * Every IVF path — exact and quantized, single-vector and frame, the
  * cascade's served forms and streaming — probes by ONE rule, written
  * once as two functions side by side: [[probeCells]] ranks a collected
  * centroid array (driver loops, and frame forms through
  * [[probeCellsUdf]]), [[probeList]] is its plan twin for one query
  * vector. The five single-vector exact forms share one core,
  * [[exactInCells]].
  */
object Ann {

  /** Train IVF centroids with MLlib KMeans (seed-deterministic). The
    * toy queries use "first k vectors" as centroids for oracle
    * simplicity; a real index trains them — this is that path, and its
    * output feeds [[ivfAssignBig]]/[[ivfSearchStore]] unchanged.
    * Training cost is bounded: KMeans samples its init and each
    * iteration is one narrow pass + a k×dim reduce. */
  def trainCentroids(corpus: DataFrame, embCol: String, k: Int,
                     seed: Long = 42L, maxIter: Int = 20): DataFrame = {
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector
    val data = corpus.select(
      array_to_vector(col(embCol).cast("array<double>")).as("__vec"))
    val model = new KMeans().setK(k).setSeed(seed).setMaxIter(maxIter)
      .setFeaturesCol("__vec").fit(data)
    val spark = corpus.sparkSession
    import spark.implicits._
    model.clusterCenters.zipWithIndex.toSeq
      .map { case (c, i) => (i.toLong, c.toArray) }
      .toDF("cid", "cvec")
  }

  /** Collect a centroid table to a driver array sorted by cid (k rows
    * by definition): the array the assignment argmin
    * ([[nearestCentroid]]) and the probe rule ([[probeCells]]) both
    * rank. A null vector or element fails loudly: unboxed, it would
    * read as 0.0. */
  private[graft] def collectCentroids(centroids: DataFrame, cidCol: String,
                                      cvecCol: String): Array[(Long, Array[Double])] = {
    val cents = centroids
      .select(col(cidCol).cast("long"), col(cvecCol).cast("array<double>"))
      .collect()
      .map { r =>
        val v = r.getSeq[java.lang.Double](1)
        require(v != null && !v.contains(null),
          s"$cidCol ${r.getLong(0)}: null vector or null element")
        (r.getLong(0), v.map(_.doubleValue).toArray)
      }
      .sortBy(_._1)
    require(cents.nonEmpty, "centroid table is empty")
    cents
  }

  /** Squared L2 with a loud dimension check — a silent truncated fold
    * would assign a wrong cluster with no error. */
  private[graft] def l2sqStrict(a: Array[Double], b: Array[Double]): Double = {
    require(a.length == b.length,
      s"embedding dim ${a.length} != centroid dim ${b.length}")
    var d = 0.0
    var j = 0
    while (j < a.length) { val t = a(j) - b(j); d += t * t; j += 1 }
    d
  }

  /** Assign each corpus vector to its nearest centroid: adds
    * `cluster_id`, the cell the probe rule ranks first for the vector
    * itself ([[nearestCentroid]]). The centroid table is collected once
    * and broadcast as a plain array, and the argmin runs as a JVM loop
    * per row: one narrow pass over the corpus, no shuffle, no join, and
    * a plan whose size does not depend on k.
    *
    * This is a documented exception to the prefer-builtins rule: a SQL
    * expression cannot read a k×dim side input without inlining it as
    * literals, and the literal form (`array_min` over one struct per
    * centroid) measured slower at every k tried — sf0.1, 2,000 × dim
    * 64, local[4] on 4 vCPUs: 83.5 vs 62.8 ms at k = 8, 1,139 vs
    * 70.9 ms at k = 64 — as its generated code grows linearly with k.
    *
    * A null embedding gets a null cluster_id; a dim mismatch or a null
    * element fails the job, naming the operator. */
  def ivfAssignBig(corpus: DataFrame, embCol: String, idCol: String,
                   centroids: DataFrame, cidCol: String, cvecCol: String): DataFrame =
    corpus.withColumn("cluster_id", nearestColumn("ivfAssignBig", corpus.sparkSession,
      collectCentroids(centroids, cidCol, cvecCol), embCol).getField("_1"))

  /** The argmin behind [[ivfAssignBig]] and [[clusterAudit]] (`who`) as
    * a column: struct(_1 = nearest cid, _2 = L2 distance to it) per row,
    * null for a null embedding. The centroids broadcast once. */
  private def nearestColumn(who: String, spark: org.apache.spark.sql.SparkSession,
                            cents: Array[(Long, Array[Double])],
                            embCol: String): Column = {
    val bc = spark.sparkContext.broadcast(cents)
    val nearest = udf { (emb: Seq[java.lang.Double]) =>
      if (emb == null) Option.empty[(Long, Double)]
      else Some(nearestCentroid(bc.value, unboxed(who, emb)))
    }
    nearest(col(embCol).cast("array<double>"))
  }

  /** An embedding as the UDF receives it, unboxed; a null element fails
    * with an error that names the operator `who`, where unboxing would
    * read it as 0.0 or Spark's input conversion would fail without
    * saying where. */
  private def unboxed(who: String, emb: Seq[java.lang.Double]): Array[Double] = {
    val out = new Array[Double](emb.length)
    var i = 0
    emb.foreach { x =>
      if (x == null)
        throw new IllegalArgumentException(s"$who: null element at index $i of an embedding")
      out(i) = x
      i += 1
    }
    out
  }

  /** The nearest centroid to `arr` and the L2 distance to it, ranked as
    * [[probeCells]] ranks cells: by the sqrt of the left-folded squared
    * L2, ties to the smaller cid. Squared distances can differ where
    * their sqrt is equal, so comparing them alone would break such a
    * tie the other way, and a vector could then sit in a cell its own
    * nprobe = 1 probe never reads. The sqrt is taken only when a squared
    * distance is below the incumbent's (sqrt is monotone, so no other
    * centroid can win), and a newcomer must be strictly nearer to win,
    * since centroids iterate in ascending cid. Doubles compare as the
    * probe rule's sort does (`java.lang.Double.compare`: NaN last). */
  private def nearestCentroid(cs: Array[(Long, Array[Double])],
                              arr: Array[Double]): (Long, Double) = {
    import java.lang.Double.compare
    var bestCid = cs(0)._1
    var bestSq = Double.NaN
    var bestD = Double.NaN
    var i = 0
    while (i < cs.length) {
      val sq = l2sqStrict(arr, cs(i)._2)
      if (compare(sq, bestSq) < 0) {
        val d = math.sqrt(sq)
        if (compare(d, bestD) < 0) { bestCid = cs(i)._1; bestSq = sq; bestD = d }
      }
      i += 1
    }
    (bestCid, bestD)
  }

  /** IVF search against a PARTITIONED store: probe selection runs over
    * the k-row centroid table on the driver (k rows by definition —
    * same boundedness as the assign-time collect), and the store is
    * read with `cluster_id IN (probed)` — a STATIC partition-pruning
    * predicate, so the scan touches only the nprobe cluster
    * directories of an [[graft.sources.IndexStore]] written
    * partitionBy(cluster_id). This is the 100 TB read path: the plan's
    * FileScan carries a PartitionFilters predicate on cluster_id
    * (asserted in AnnSpec; explain with the pruned IN-list captured in
    * PLANS.md), so the scan lists only the probed cluster
    * directories.
    *
    * `adoptStampedNprobe` opts this batch path into the same
    * maintenance-validated probe FLOOR the streaming sink enforces
    * ([[graft.sources.IndexStore.effectiveNprobe]]): when the current
    * version's `_meta.json` carries the budget its recall gate passed
    * at, serve at `max(configured, stamped)` — a batch consumer of a
    * maintained pair must not silently serve below the validated
    * budget (the round-19 gap: only streams adopted the stamp).
    * Default false keeps the exact configured-budget contract; an
    * explicit nprobe ABOVE the stamp always wins either way. */
  def ivfSearchStore(spark: org.apache.spark.sql.SparkSession, path: String,
                     embCol: String, idCol: String,
                     centroids: DataFrame, cidCol: String, cvecCol: String,
                     queryVec: Column, k: Int, nprobe: Int,
                     adoptStampedNprobe: Boolean = false): DataFrame =
    exactInCells(graft.sources.IndexStore.load(spark, path),
      probeList(Probe(centroids, cidCol, cvecCol,
        flooredNprobe(spark, path, nprobe, adoptStampedNprobe)), queryVec),
      embCol, idCol, queryVec, k)

  /** The batch-side adoption of the stamped probe floor — one tiny
    * meta read when opted in, shared by every `ivfSearchStore*` form;
    * the algebra itself lives in ONE place
    * ([[graft.sources.IndexStore.effectiveNprobe]]), so streaming and
    * batch serving cannot drift. The configured budget must be >= 1
    * whatever the stamp says. */
  private def flooredNprobe(spark: org.apache.spark.sql.SparkSession,
                            path: String, nprobe: Int,
                            adopt: Boolean): Int = {
    require(nprobe >= 1, s"nprobe $nprobe must be >= 1")
    if (!adopt) nprobe
    else graft.sources.IndexStore.effectiveNprobe(nprobe,
      // the served path is usually one pinned version DIRECTORY
      // (root/vN — its own `_meta.json` travels with the geometry);
      // the CACHED read (mtime token) makes repeat serving pay one
      // getFileStatus per call instead of an open+read+parse (round
      // 22, closing the r20 advice note). A caller handing the
      // versioned ROOT adopts the current committed version's stamp
      // instead — rare (these call sites pin a version; plain
      // spark.read over a versioned root would union all versions
      // anyway), so it stays uncached.
      graft.sources.IndexStore.pairMetaAtCached(spark, path)
        .orElse(graft.sources.IndexStore.currentPairMeta(spark, path)))
  }

  /** ADAPTIVE-nprobe serving from the partitioned store: probe the
    * FEWEST nearest clusters whose stored occupancies cover
    * `k * candMult` candidates (capped at `maxProbe`; every cluster
    * if the whole index is smaller than the target). A fixed nprobe
    * wastes reads when the nearest cluster already holds 10× k and
    * starves recall when deletes/skew have hollowed it out; sizing
    * the probe set by ACTUAL occupancy adapts per query against a
    * once-per-index-version size table ([[clusterSizes]]). Both
    * driver inputs are bounded by the centroid count by definition
    * (k centroid rows, ≤ k size rows — the same boundedness as
    * [[ivfSearchStore]]'s probe collect).
    * The decision is a pure function of the stored index and the
    * query vector — deterministic, so the v20 oracle replays it in
    * SQL as a cumulative sum over distance-ranked clusters — and the
    * scan it produces is the same static-PartitionFilters shape as
    * [[ivfSearchStore]]. Emits the chosen probe count as `n_probed`:
    * the dial a serving monitor watches for occupancy drift pushing
    * probe fan-out (and latency) up, and the trigger for
    * [[IndexMaintenance]] when it trends toward maxProbe.
    *
    * `sizes` is [[clusterSizes]] of the stored index: a full-index
    * occupancy pass, so serving loops compute it once per index
    * version (the v20 harness entry does). Ranking only the `maxProbe`
    * nearest cells decides the same count as ranking all of them: the
    * count never exceeds `maxProbe`. */
  def ivfSearchStoreAdaptive(spark: org.apache.spark.sql.SparkSession,
                             path: String, embCol: String, idCol: String,
                             centroids: DataFrame, cidCol: String,
                             cvecCol: String, queryVec: Column, k: Int,
                             candMult: Int, maxProbe: Int,
                             sizes: Map[Long, Long]): DataFrame = {
    require(k >= 1, s"k $k must be >= 1")
    require(candMult >= 1, s"candMult $candMult must be >= 1")
    require(maxProbe >= 1, s"maxProbe $maxProbe must be >= 1")
    val ranked = probeList(Probe(centroids, cidCol, cvecCol, maxProbe), queryVec)
    require(ranked.nonEmpty, "centroid table is empty")
    val cums = ranked.scanLeft(0L)((acc, cid) => acc + sizes.getOrElse(cid, 0L)).tail
    val covered = cums.indexWhere(_ >= k.toLong * candMult)
    val p = if (covered < 0) ranked.length else covered + 1
    exactInCells(graft.sources.IndexStore.load(spark, path), ranked.take(p),
        embCol, idCol, queryVec, k)
      .withColumn("n_probed", lit(p.toLong))
  }

  /** Per-cluster occupancy of a stored index — the sizes input the
    * adaptive probe decision reads. Compute once per index version;
    * recompute after [[IndexMaintenance.applyDelta]]/compaction
    * (stale sizes mis-size the probe set — wrong cost, never wrong
    * results, since the search inside the probed clusters is exact). */
  def clusterSizes(spark: org.apache.spark.sql.SparkSession,
                   path: String): Map[Long, Long] =
    // cluster_id casts: a partitionBy layout reads the partition
    // column back as int when its values fit
    graft.sources.IndexStore.load(spark, path)
      .groupBy(col("cluster_id").cast("long").as("cluster_id"))
      .agg(count(lit(1)).as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  /** Metadata-FILTERED IVF serving — the "vector search with a
    * predicate" shape every production vector store exposes (tenant,
    * license, date-range filters), composed so BOTH prunings land in
    * the same scan of the stored index: the driver-collected probe
    * list becomes STATIC PartitionFilters on the `cluster_id` layout,
    * and `predicate` rides next to it as an ordinary data filter the
    * parquet reader pushes down (PushedFilters) when it is a plain
    * column comparison/IN. At 100 TB the scan reads nprobe/k of the
    * directories and, inside them, row groups the predicate's
    * min/max stats admit — neither pruning costs a shuffle.
    *
    * Semantics are PRE-filter: exact top-k among the rows that
    * satisfy `predicate` INSIDE the probed clusters. The filter
    * shrinks the candidate set before ranking — it never truncates a
    * pre-computed top-k the way a post-filter would, so k results
    * come back whenever the probed clusters hold k matching rows. A
    * highly selective predicate at fixed nprobe starves recall; the
    * caller's dial is `nprobe` (widens the probe set, same plan
    * shape). Keep predicates to stored-column comparisons — an
    * expression over the embedding itself would defeat the pushdown
    * and belongs in [[Knn.filtered]] instead. */
  def ivfSearchStoreWhere(spark: org.apache.spark.sql.SparkSession,
                          path: String, embCol: String, idCol: String,
                          centroids: DataFrame, cidCol: String, cvecCol: String,
                          queryVec: Column, k: Int, nprobe: Int,
                          predicate: Column,
                          adoptStampedNprobe: Boolean = false): DataFrame =
    exactInCells(graft.sources.IndexStore.load(spark, path),
      probeList(Probe(centroids, cidCol, cvecCol,
        flooredNprobe(spark, path, nprobe, adoptStampedNprobe)), queryVec),
      embCol, idCol, queryVec, k, _.filter(predicate))

  /** Tombstone-aware serving: [[ivfSearchStore]] honoring a DELETE
    * set. A cluster-partitioned index can't be rebuilt per delete;
    * deletes accumulate in a small tombstone table that serving must
    * respect until the next [[graft.operators.IndexMaintenance]]
    * rebuild folds them in. Plan shape: the probe list still prunes
    * the scan to nprobe cluster partitions (static PartitionFilters);
    * the tombstone set — bounded by deletes-since-rebuild, orders of
    * magnitude smaller than the corpus — broadcasts into a LEFT ANTI
    * join BEFORE the exact top-k, so a deleted id can never surface
    * and the cut stays exact over live rows (no k-overfetch hack). If
    * deletes ever outgrow broadcast range the same plan degrades to a
    * shuffled anti join keyed on id — still linear, never quadratic. */
  def ivfSearchStoreExcluding(spark: org.apache.spark.sql.SparkSession,
                              path: String, embCol: String, idCol: String,
                              centroids: DataFrame, cidCol: String,
                              cvecCol: String, queryVec: Column, k: Int,
                              nprobe: Int, tombstones: DataFrame,
                              tombIdCol: String,
                              adoptStampedNprobe: Boolean = false): DataFrame = {
    val tomb = tombstones.select(col(tombIdCol).as("__tomb_id")).distinct()
    exactInCells(graft.sources.IndexStore.load(spark, path),
      probeList(Probe(centroids, cidCol, cvecCol,
        flooredNprobe(spark, path, nprobe, adoptStampedNprobe)), queryVec),
      embCol, idCol, queryVec, k,
      _.join(broadcast(tomb), col(idCol) === col("__tomb_id"), "left_anti"))
  }

  /** Batch IVF search: per-query probe selection against the broadcast
    * centroid array ([[probeCellsUdf]]), then exact top-k
    * INSIDE the probed clusters via the bounded [[TopK]] aggregation:
    * partial heaps map-side, the exchange carries ≤k rows per
    * (partition × query). The candidate join is keyed on cluster_id,
    * so against a cluster-partitioned [[graft.sources.IndexStore]] the
    * scan prunes to the UNION of all probed clusters — per query the
    * work is ~nprobe/k of the corpus, and the corpus never shuffles.
    * Same total order (dist, id) as [[ivfSearch]]. */
  def ivfSearchBatch(assigned: DataFrame, embCol: String, idCol: String,
                     centroids: DataFrame, cidCol: String, cvecCol: String,
                     queries: DataFrame, qidCol: String, qvecCol: String,
                     k: Int, nprobe: Int): DataFrame =
    searchWithProbes(assigned, embCol, idCol, batchProbes(queries, qidCol,
      qvecCol, Probe(centroids, cidCol, cvecCol, nprobe)), qidCol, k)

  /** Per-query probe table: (__qid, __qvec, cluster_id), nprobe rows
    * per query ([[probeCellsUdf]], exploded).
    * The query frame's columns are renamed to reserved __q* names up
    * front: if the caller's qidCol/qvecCol collide with a column of
    * the corpus (e.g. both vector columns named "embedding"), an
    * un-renamed join would be ambiguous or silently bind the wrong
    * side. */
  private def batchProbes(queries: DataFrame, qidCol: String, qvecCol: String,
                          p: Probe): DataFrame =
    queries.select(col(qidCol).as("__qid"), col(qvecCol).as("__qvec"))
      .withColumn("cluster_id", explode(probeCellsUdf(p)(col("__qvec"))))

  private def searchWithProbes(assigned: DataFrame, embCol: String,
                               idCol: String, probes: DataFrame,
                               qidCol: String, k: Int): DataFrame =
    assigned.join(broadcast(probes), Seq("cluster_id"))
      .select(col("__qid"),
        VectorFunctions.l2(col(embCol), col("__qvec")).as("__dist"),
        col(idCol).cast("long").as("__id"))
      .groupBy("__qid")
      .agg(TopK.topK(k)(col("__dist"), col("__id")).as("__topk"))
      .select(col("__qid"), posexplode(col("__topk")).as(Seq("__pos", "__entry")))
      .select(col("__qid").as(if (qidCol == idCol) s"${qidCol}_q" else qidCol),
        (col("__pos") + 1).cast("int").as("knn_rank"),
        col("__entry.id").as(idCol), col("__entry.dist").as("dist"))

  /** BATCH serving from the stored cluster-partitioned index — the
    * throughput shape: amortize one index scan across a whole query
    * batch instead of one [[ivfSearchStore]] round-trip per query.
    * The probe table (queries × nprobe rows, driver-bounded) yields
    * the UNION of probed clusters as a STATIC `isin` the reader turns
    * into PartitionFilters — the scan lists only directories some
    * query probes — and inside the scan the broadcast probe join
    * fans each row out to just the queries probing its cluster. The
    * per-(query × partition) partial heaps of the bounded [[TopK]]
    * aggregation keep the exchange at ≤ k rows per query per
    * partition. Same (dist, id) total order as [[ivfSearchBatch]] —
    * which this equals row-for-row on an identically-assigned corpus. */
  def ivfSearchStoreBatch(spark: org.apache.spark.sql.SparkSession,
                          path: String, embCol: String, idCol: String,
                          centroids: DataFrame, cidCol: String,
                          cvecCol: String, queries: DataFrame,
                          qidCol: String, qvecCol: String,
                          k: Int, nprobe: Int,
                          adoptStampedNprobe: Boolean = false): DataFrame = {
    val probes = batchProbes(queries, qidCol, qvecCol, Probe(centroids,
      cidCol, cvecCol, flooredNprobe(spark, path, nprobe, adoptStampedNprobe)))
    val probed = probes.select(col("cluster_id").cast("long")).distinct()
      .collect().map(_.getLong(0)) // bounded by queries × nprobe
    val store = graft.sources.IndexStore.load(spark, path)
      .filter(col("cluster_id").isin(probed: _*))
    searchWithProbes(store, embCol, idCol, probes, qidCol, k)
  }

  // ---------------------------------------------------------------------
  // int8 (scalar) quantization: per-vector affine codes 0..255, 4×
  // smaller than fp32. Stage one ranks by cosine on the dequantized
  // codes; the arithmetic is identical to the s3 fidelity query.
  // ---------------------------------------------------------------------

  /** The int8 artifact as a write-once table: per-vector affine codes
    * 0..255 plus the (mn, scale) pair needed to dequantize. Stored,
    * this is the 4×-smaller representation a 100 TB deployment scans
    * in stage one — the s3 fidelity query measures exactly this
    * round-trip. */
  def quantizedEncode(corpus: DataFrame, embCol: String,
                      idCol: String): DataFrame =
    int8Codes(corpus, embCol)
      .select(col(idCol), col("q_codes"), col("q_mn"), col("q_scale"))

  /** `corpus` with its int8 artifact columns (q_codes, q_mn, q_scale)
    * appended — [[quantizedEncode]]'s table, or the inline code table
    * of [[quantizedSearch]]. */
  private def int8Codes(corpus: DataFrame, embCol: String): DataFrame = {
    val emb = col(embCol).cast("array<double>")
    corpus
      .withColumn("q_mn", array_min(emb))
      .withColumn("__mx", array_max(emb))
      .withColumn("q_scale", when(col("__mx") === col("q_mn"), lit(1.0))
        .otherwise((col("__mx") - col("q_mn")) / 255.0))
      .withColumn("q_codes", transform(emb, x =>
        round((x - col("q_mn")) / col("q_scale"), 0).cast("int")))
      .drop("__mx")
  }

  /** The int8 rung: approximate cosine on the dequantized codes, exact
    * cosine rerank (AnnSpec measures its recall against exact kNN). */
  private def int8(who: String): Quantizer = Quantizer(who, "q_codes",
    prep = identity,
    approx = qv => VectorFunctions.cosine(transform(col("q_codes"), c =>
      c.cast("double") * col("q_scale") + col("q_mn")), qv),
    width = qv => (size(qv), concat(lit(" components but the query has "),
      size(qv).cast("string"),
      lit(" — the table was encoded at a different dimension; id "))),
    queryDim = None,
    approxScore = Score("approx_cos", asc = false),
    exact = VectorFunctions.cosine, exactScore = Score("cos", asc = false))

  /** int8 rung over codes derived inline from `corpus`. */
  def quantizedSearch(corpus: DataFrame, embCol: String, idCol: String,
                      queryVec: Column, k: Int, candMult: Int = 4): DataFrame =
    serveQuantized(int8("quantizedSearch"), int8Codes(corpus, embCol), None,
      embCol, idCol, OneColumn(queryVec), k, candMult)

  /** int8 rung served from a stored [[quantizedEncode]] table. */
  def quantizedSearchEncoded(encoded: DataFrame, vectors: DataFrame,
                             embCol: String, idCol: String,
                             queryVec: Column, k: Int,
                             candMult: Int = 4): DataFrame =
    serveQuantized(int8("quantizedSearchEncoded"), encoded, Some(vectors),
      embCol, idCol, OneColumn(queryVec), k, candMult)

  /** int8 rung served from a stored [[quantizedEncode]] table, for a
    * query frame. */
  def quantizedSearchEncodedBatch(encoded: DataFrame, vectors: DataFrame,
                                  embCol: String, idCol: String,
                                  queries: DataFrame, qidCol: String,
                                  qvecCol: String, k: Int,
                                  candMult: Int = 4): DataFrame =
    serveQuantized(int8("quantizedSearchEncodedBatch"), encoded,
      Some(vectors), embCol, idCol, QueryFrame(queries, qidCol, qvecCol),
      k, candMult)

  // ---------------------------------------------------------------------
  // Product quantization (Jégou, Douze, Schmid 2011: "Product
  // Quantization for Nearest Neighbor Search", IEEE TPAMI 33(1)).
  // The vector is split into `m` subvectors; each subspace gets its own
  // codebook; a vector is stored as m small codes (m bytes at 256
  // codes) instead of dim×4 fp32 bytes — at 100 TB this is the
  // difference between scanning the corpus and scanning ~1-3% of it.
  // Search is ADC (asymmetric distance computation): the query
  // precomputes an m×k lookup table of subspace squared distances ONCE,
  // and each stored vector's approximate distance is m table lookups —
  // no decode, no per-vector arithmetic beyond m adds. IVF+PQ is the
  // paper's IVFADC composition (FAISS's IndexIVFPQ): the coarse
  // quantizer prunes to `nprobe` clusters, PQ scores inside them, and
  // over a partitionBy(cluster_id) code table the two prunings
  // multiply — the scan reads only probed directories, and in them only
  // the m-byte codes.
  // ---------------------------------------------------------------------
  /** Slice `emb` into subspace `j` of `m` equal parts (1-based slice;
    * caller guarantees dim % m == 0 — enforced at codebook build). */
  private def subvec(emb: Column, j: Int, subDim: Int): Column =
    slice(emb, j * subDim + 1, subDim)

  /** Train per-subspace PQ codebooks with MLlib KMeans (seed-
    * deterministic) — the production codebook path; the harness query
    * uses a deterministic "first vectors" codebook for oracle
    * simplicity, same swap as [[trainCentroids]] → the s2 toy
    * centroids. Output: (sub_idx, code, subvec) — m·kCodes rows,
    * bounded by definition. The m driver-side fits each run one narrow
    * pass over a single projected subvector column; this is index-BUILD
    * cost, amortized over every query the artifact serves. */
  def pqTrainCodebooks(corpus: DataFrame, embCol: String, dim: Int, m: Int,
                       kCodes: Int, seed: Long = 42L,
                       maxIter: Int = 20): DataFrame = {
    require(m >= 1 && dim % m == 0, s"m $m must divide dim $dim")
    require(kCodes >= 1, s"kCodes $kCodes must be >= 1")
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector
    val subDim = dim / m
    val spark = corpus.sparkSession
    import spark.implicits._
    val emb = col(embCol).cast("array<double>")
    (0 until m).flatMap { j =>
      val data = corpus.select(array_to_vector(subvec(emb, j, subDim)).as("__vec"))
      val model = new KMeans().setK(kCodes).setSeed(seed + j).setMaxIter(maxIter)
        .setFeaturesCol("__vec").fit(data)
      model.clusterCenters.zipWithIndex.map { case (c, i) =>
        (j, i.toLong, c.toArray)
      }
    }.toDF("sub_idx", "code", "subvec")
  }

  /** Collect a codebook table into per-subspace arrays indexed by code
    * (codes must be exactly 0..kCodes-1 per subspace — checked loudly:
    * a gap would silently shift every later codeword). */
  private def collectCodebooks(codebooks: DataFrame): Array[Array[Array[Double]]] = {
    val rows = codebooks
      .select(col("sub_idx").cast("int"), col("code").cast("long"),
        col("subvec").cast("array<double>"))
      .collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getSeq[Double](2).toArray))
    require(rows.nonEmpty, "codebook table is empty")
    val m = rows.map(_._1).max + 1
    (0 until m).toArray.map { j =>
      val sub = rows.filter(_._1 == j).sortBy(_._2)
      require(sub.map(_._2).sameElements(sub.indices.map(_.toLong)),
        s"subspace $j codes must be exactly 0..${sub.length - 1}")
      sub.map(_._3)
    }
  }

  /** PQ-encode the corpus: adds `pq_codes` (array<int>, one code per
    * subspace — THE stored artifact, m small ints instead of dim
    * floats). The codebooks broadcast once as plain arrays and the
    * per-subspace argmin is a JVM loop per row: one narrow pass, no
    * shuffle, and a plan whose size does not depend on m·kCodes (the
    * [[ivfAssignBig]] exception, same reason; the literal form, one
    * `array_min` over (dist, code) structs per subspace, measured 531.5
    * vs 71.4 ms at m = 4 × 16 codes on sf0.1). Each subspace takes the
    * code with the smallest squared distance, ties to the smaller code.
    * A null embedding gets null codes; a dim mismatch or a null element
    * fails the job, naming the operator. */
  def pqEncodeBig(corpus: DataFrame, embCol: String,
                  codebooks: DataFrame): DataFrame = {
    val cbs = collectCodebooks(codebooks)
    val bc = corpus.sparkSession.sparkContext.broadcast(cbs)
    val subDim = cbs(0)(0).length
    val enc = udf { (boxed: Seq[java.lang.Double]) =>
      if (boxed == null) Option.empty[Array[Int]]
      else {
        val emb = unboxed("pqEncodeBig", boxed)
        val codebooksV = bc.value
        require(emb.length == codebooksV.length * subDim,
          s"pqEncodeBig: embedding dim ${emb.length} != ${codebooksV.length * subDim}")
        Some(codebooksV.indices.toArray.map { j =>
          val sub = emb.slice(j * subDim, (j + 1) * subDim)
          val cws = codebooksV(j)
          var best = 0
          var bestD = Double.MaxValue
          var c = 0
          while (c < cws.length) {
            val d = l2sqStrict(sub, cws(c))
            if (d < bestD) { bestD = d; best = c }
            c += 1
          }
          best
        })
      }
    }
    corpus.withColumn("pq_codes", enc(col(embCol).cast("array<double>")))
  }

  /** The PQ rung: ADC distance from the query's m × nCodes lookup
    * table, exact L2 rerank. The table is subspace squared L2 by the
    * same left fold as [[l2sqStrict]] (vector_l2sq); the ADC sum is j
    * ascending, left-assoc adds, sqrt last — the fold the oracles
    * mirror. Recall is governed by candMult and codebook quality
    * (AnnSpec measures it against exact kNN). */
  private def pq(who: String, codebooks: DataFrame): Quantizer = {
    val cbs = collectCodebooks(codebooks)
    val (m, subDim) = (cbs.length, cbs(0)(0).length)
    Quantizer(who, "pq_codes",
      prep = qv => array(cbs.indices.map(j =>
        transform(typedlit(cbs(j).toSeq.map(_.toSeq)), cw =>
          VectorFunctions.l2Sq(subvec(qv, j, subDim), cw))): _*),
      approx = lut => sqrt(cbs.indices.map(j => element_at(element_at(lut, j + 1),
        element_at(col("pq_codes"), j + 1) + 1)).reduce(_ + _)),
      width = _ => (lit(m), lit(s" codes but the codebook has $m subspaces — " +
        "the table was encoded with a different codebook; id ")),
      queryDim = Some(QueryDim(m * subDim)),
      approxScore = Score("approx_dist", asc = true, "ADC distance"),
      exact = VectorFunctions.l2, exactScore = RerankL2)
  }

  /** PQ rung over codes derived inline from `corpus` by
    * [[pqEncodeBig]]. Encoding is ~90% of this query; s8 serves the
    * stored table instead. */
  def pqSearch(corpus: DataFrame, embCol: String, idCol: String,
               codebooks: DataFrame, queryVec: Array[Double],
               k: Int, candMult: Int = 4): DataFrame =
    serveQuantized(pq("pqSearch", codebooks),
      pqEncodeBig(corpus, embCol, codebooks), None, embCol, idCol,
      OneVector(queryVec), k, candMult)

  /** PQ rung served from a stored [[pqEncodeBig]] table
    * (idCol, pq_codes). */
  def pqSearchEncoded(encoded: DataFrame, vectors: DataFrame,
                      embCol: String, idCol: String,
                      codebooks: DataFrame, queryVec: Array[Double],
                      k: Int, candMult: Int = 4): DataFrame =
    serveQuantized(pq("pqSearchEncoded", codebooks), encoded,
      Some(vectors), embCol, idCol, OneVector(queryVec), k, candMult)

  /** PQ rung served from a stored [[pqEncodeBig]] table, for a query
    * frame. */
  def pqSearchEncodedBatch(encoded: DataFrame, vectors: DataFrame,
                           embCol: String, idCol: String,
                           codebooks: DataFrame, queries: DataFrame,
                           qidCol: String, qvecCol: String, k: Int,
                           candMult: Int = 4): DataFrame =
    serveQuantized(pq("pqSearchEncodedBatch", codebooks), encoded,
      Some(vectors), embCol, idCol, QueryFrame(queries, qidCol, qvecCol),
      k, candMult)

  /** IVF-PQ rung over codes derived inline from an [[ivfAssignBig]]ed
    * table, probing the `nprobe` clusters nearest the query. */
  def ivfPqSearch(assigned: DataFrame, embCol: String, idCol: String,
                  centroids: DataFrame, cidCol: String, cvecCol: String,
                  codebooks: DataFrame, queryVec: Array[Double],
                  k: Int, nprobe: Int, candMult: Int = 4): DataFrame =
    serveQuantized(pq("ivfPqSearch", codebooks),
      pqEncodeBig(assigned, embCol, codebooks), None, embCol, idCol,
      OneVector(queryVec), k, candMult,
      Some(Probe(centroids, cidCol, cvecCol, nprobe)))

  /** IVF-PQ rung served from a stored (cluster_id, idCol, pq_codes)
    * table, ideally written partitionBy(cluster_id). */
  def ivfPqSearchEncoded(encoded: DataFrame, vectors: DataFrame,
                         embCol: String, idCol: String,
                         centroids: DataFrame, cidCol: String, cvecCol: String,
                         codebooks: DataFrame, queryVec: Array[Double],
                         k: Int, nprobe: Int, candMult: Int = 4): DataFrame =
    serveQuantized(pq("ivfPqSearchEncoded", codebooks), encoded,
      Some(vectors), embCol, idCol, OneVector(queryVec), k, candMult,
      Some(Probe(centroids, cidCol, cvecCol, nprobe)))

  /** IVF-PQ rung served from a stored (cluster_id, idCol, pq_codes)
    * table, for a query frame. */
  def ivfPqSearchEncodedBatch(encoded: DataFrame, vectors: DataFrame,
                              embCol: String, idCol: String,
                              centroids: DataFrame, cidCol: String,
                              cvecCol: String, codebooks: DataFrame,
                              queries: DataFrame, qidCol: String,
                              qvecCol: String, k: Int, nprobe: Int,
                              candMult: Int = 4): DataFrame =
    serveQuantized(pq("ivfPqSearchEncodedBatch", codebooks), encoded,
      Some(vectors), embCol, idCol, QueryFrame(queries, qidCol, qvecCol),
      k, candMult, Some(Probe(centroids, cidCol, cvecCol, nprobe)))

  /** IVF search: probe the `nprobe` centroids nearest to the query,
    * exact top-k inside those clusters only. `assigned` is the output
    * of [[ivfAssignBig]] (ideally written partitioned by cluster_id). */
  def ivfSearch(assigned: DataFrame, embCol: String, idCol: String,
                centroids: DataFrame, cidCol: String, cvecCol: String,
                queryVec: Column, k: Int, nprobe: Int): DataFrame =
    exactInCells(assigned,
      probeList(Probe(centroids, cidCol, cvecCol, nprobe), queryVec),
      embCol, idCol, queryVec, k)

  /** Embedding-space drift between two corpus snapshots — the vector
    * twin of [[Curation.distributionDrift]] (t22). Both snapshots are
    * assigned to the SAME fixed centroid set (the live index's — a
    * narrow argmin map, no shuffle, no join), and the drift is the JS
    * divergence between the two cluster-MASS distributions: an
    * embedding-model update, a topical shift in the crawl, or a feed
    * gone rogue all show up as probability mass moving between
    * regions of the vector space, per-cluster attributable. This is
    * the signal that tells an index operator "re-train the centroids"
    * (IVF recall decays when the mass no longer matches the
    * partitioning) before v9/v11's recall eval says it after the
    * fact.
    *
    * Scale shape: two narrow assignment maps over the snapshots, then
    * [[Curation.keyedDrift]] on `cluster_id` — the exchange carries k
    * counts per side, never vectors. Null embeddings are excluded
    * (they have no position in the space); the empty-side guard is
    * keyedDrift's, loud.
    *
    * Assignment is [[ivfAssignBig]], whose plan size does not depend
    * on k; [[IndexMaintenance.maintain]] feeds this the index's full
    * effective-centroid set. */
  def embeddingDrift(a: DataFrame, b: DataFrame, embCol: String,
                     idCol: String, centroids: DataFrame,
                     cidCol: String, cvecCol: String): DataFrame = {
    def masses(df: DataFrame) =
      ivfAssignBig(df, embCol, idCol, centroids, cidCol, cvecCol)
        .filter(col("cluster_id").isNotNull).select(col("cluster_id"))
    Curation.keyedDrift(masses(a), masses(b), "cluster_id",
      opName = "embeddingDrift")
  }

  /** Per-cluster health audit of an IVF index: for every centroid, the
    * member count, the mean member→centroid L2 distance (tightness),
    * the distance to the nearest OTHER centroid (separation), and the
    * ratio min_inter / mean_intra — a per-cluster Dunn-style index.
    * This is the report an index maintainer reads before trusting a
    * partitioning: separation ≪ 1 means members sit farther from their
    * own centroid than the next centroid does (probe spill, bad
    * recall at low nprobe — retrain); n = 0 means a dead partition
    * (wasted probe budget). Complements [[embeddingDrift]] (mass
    * moved) and [[graft.streaming.IndexMaintenance]] (recall gate)
    * with the geometric WHY.
    *
    * Contract: empty clusters ARE reported (n = 0, null mean_intra /
    * separation); a singleton cluster whose only member is the
    * centroid itself has mean_intra = 0 → null separation (not ∞).
    * Null-embedding rows are excluded, matching [[ivfAssignBig]]'s
    * null-cluster contract.
    *
    * Scale shape: one narrow assignment scan over the corpus (the
    * [[ivfAssignBig]] argmin, which also yields each member's distance
    * — no shuffle, no join, a plan whose size does not depend on k), a
    * k-group aggregate, and a k×k separation matrix computed on the
    * driver from the already-collected centroid table and joined back
    * as a broadcast k-row frame. The audit cost at 100 TB is the
    * assignment pass an index build pays anyway. */
  def clusterAudit(corpus: DataFrame, embCol: String, idCol: String,
                   centroids: DataFrame, cidCol: String,
                   cvecCol: String): DataFrame = {
    val cents = collectCentroids(centroids, cidCol, cvecCol)
    require(cents.length >= 2,
      s"clusterAudit needs >= 2 centroids, got ${cents.length}")
    // k×k nearest-other-centroid distances: k rows by definition, so
    // the driver loop is bounded and the result broadcasts.
    val spark = corpus.sparkSession
    import spark.implicits._
    val interDf = cents.map { case (cid, v) =>
      (cid, cents.iterator.filter(_._1 != cid)
        .map(c => math.sqrt(l2sqStrict(v, c._2))).min)
    }.toSeq.toDF("cluster_id", "__min_inter")
    // The argmin already computed the member→centroid distance, and
    // against the SAME collected snapshot the assignment used — reuse
    // it instead of re-joining a fresh centroid scan (which could
    // disagree with the snapshot under a nondeterministic centroid
    // frame).
    val withD = corpus.filter(col(embCol).isNotNull)
      .select(nearestColumn("clusterAudit", spark, cents, embCol).as("__a"))
      .select(col("__a._1").as("cluster_id"), col("__a._2").as("__d"))
    val intra = withD
      .groupBy("cluster_id")
      .agg(count(lit(1)).as("__n"), avg("__d").as("__mi"))
    // interDf is the k-row outer side of the left join, so the
    // broadcast goes on the ≤k-row aggregate (the preserved side of a
    // left-outer join cannot be broadcast).
    interDf.join(broadcast(intra), Seq("cluster_id"), "left")
      .select(
        col("cluster_id"),
        coalesce(col("__n"), lit(0L)).as("n"),
        round(col("__mi"), 6).as("mean_intra"),
        round(col("__min_inter"), 6).as("min_inter"),
        when(col("__mi").isNull || col("__mi") === 0,
            lit(null).cast("double"))
          .otherwise(round(col("__min_inter") / col("__mi"), 6))
          .as("separation"))
  }

  /** Rebalance oversized clusters — the remediation for what
    * [[clusterAudit]] flags (fat cells) and for the residual serving
    * hazard the round-15 skew probe named: a fat cluster makes every
    * query probing it pay a bigger stage-one scan, and at the extreme
    * its directory becomes one hard-to-split scan unit. Every cluster
    * with more than `maxRows` members has its members re-clustered
    * (per-cluster [[trainCentroids]] into ceil(1.25·n/maxRows) ≥ 2
    * sub-centroids — 25% headroom so ~80% average occupancy, making
    * single-pass convergence the norm — seed-deterministic) and the
    * centroid table is
    * rewritten with the fat centroid RETIRED and its sub-centroids
    * appended under fresh ids (max existing cid + running offset) —
    * untouched clusters keep their ids and their rows are never
    * reassigned. Cost ∝ fat clusters when `assigned` is a
    * cluster-partitioned store read (each per-cluster filter prunes
    * to one directory — the upsertPartitioned philosophy applied to
    * geometry); over an UNPARTITIONED frame each fat cluster's filter
    * re-scans the input, so localCheckpoint such a frame first when f
    * is large. The f sub-trainings run CONCURRENTLY through a bounded
    * driver pool (`trainParallelism`) because their serial cost is
    * per-fit scheduler latency, not data (measured: 151 fat cells =
    * 249 s serial vs 16 s to execute the whole split plan —
    * PLANS.md round 16); results are identical to the serial order by
    * construction (seed-deterministic fits, sorted-parent id
    * assignment). Null-cluster rows (null embeddings) pass through
    * untouched.
    *
    * Semantics, stated precisely: the split REFINES the old partition
    * — each fat cluster's members are re-divided among that cluster's
    * own sub-centroids (local argmin), not globally reassigned, so a
    * boundary member stays inside its old Voronoi cell's territory.
    * That is the same approximation class as IVF itself; when a full
    * rebuild is affordable, `ivfAssignBig(corpus, newCents)` is the
    * global alternative. KMeans does not promise balanced cells, so
    * even with the headroom a pass can leave a sub-cluster above
    * `maxRows` on skewed-density data (duplicate-point degeneracy
    * cannot split at all) — [[clusterAudit]] is the loop condition.
    *
    * Returns (reassigned index, new centroid table): commit the pair
    * atomically with
    * [[graft.sources.IndexStore.writeVersionedWithCentroids]] — a
    * geometry change is exactly the retrain-flip case the pair store
    * exists for. `trainSampleMax` caps the rows each sub-FIT scans
    * (geometry from a seed-deterministic sample, assignment still over
    * every member) — the 100 TB knob for fat cells with billions of
    * rows; 0 (default) fits on all members, bit-identical to the
    * pre-knob behavior. */
  def splitFatClusters(assigned: DataFrame, embCol: String, idCol: String,
                       centroids: DataFrame, cidCol: String,
                       cvecCol: String, maxRows: Long, seed: Long = 42L,
                       trainParallelism: Int = 8,
                       trainSampleMax: Long = 0)
      : (DataFrame, DataFrame) = {
    require(maxRows >= 1, s"maxRows $maxRows must be >= 1")
    require(trainParallelism >= 1,
      s"trainParallelism $trainParallelism must be >= 1")
    require(trainSampleMax >= 0,
      s"trainSampleMax $trainSampleMax must be >= 0 (0 = train on all)")
    require(assigned.columns.contains("cluster_id"),
      "splitFatClusters needs a cluster-assigned index (cluster_id column)")
    val cents = collectCentroids(centroids, cidCol, cvecCol)
    val fat = assigned.groupBy(col("cluster_id"))
      .agg(count(lit(1)).as("__n"))
      .filter(col("cluster_id").isNotNull && col("__n") > maxRows)
      .select(col("cluster_id").cast("long"), col("__n"))
      .collect().map(r => (r.getLong(0), r.getLong(1))) // ≤ k rows
      .sortBy(_._1)
    if (fat.isEmpty) return (assigned, centroids)
    val spark = assigned.sparkSession
    import spark.implicits._
    // The f sub-trainings are independent read-only Spark jobs whose
    // serial cost is SCHEDULER LATENCY, not data volume: the round-16
    // probe measured 151 serial fits at ~1.65 s each (249 s total)
    // while EXECUTING the whole 152-branch result plan took 16 s. Run
    // the fits through a bounded driver pool — Spark schedules
    // concurrent jobs from multiple threads natively, each fit is
    // seed-deterministic, and the fold below assigns fresh ids in
    // sorted parent order, so the result is bit-identical to the
    // serial loop's. 25% headroom on kSub: ceil(n/maxRows) sub-cells
    // would need PERFECTLY balanced KMeans cells to land under maxRows
    // (average occupancy = the limit itself); targeting ~80% average
    // occupancy makes single-pass convergence the norm instead of the
    // lucky case, at the price of slightly smaller cells.
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.min(fat.length, trainParallelism))
    // every fit tags its jobs with one group id so a failure can cancel
    // the SIBLING fits' in-flight cluster work, not just their driver
    // threads — a bare thread interrupt only unblocks the local await
    // while the submitted Spark jobs keep running all their tasks
    val jobGroup =
      s"graft-split-fat-${java.util.UUID.randomUUID().toString.take(8)}"
    val trained: Map[Long, IndexedSeq[(Long, Array[Double])]] =
      try {
        implicit val ec: scala.concurrent.ExecutionContext =
          scala.concurrent.ExecutionContext.fromExecutor(pool)
        scala.concurrent.Await.result(
          scala.concurrent.Future.sequence(fat.toSeq.map { case (cid, n) =>
            scala.concurrent.Future {
              spark.sparkContext.setJobGroup(jobGroup,
                "splitFatClusters sub-training", interruptOnCancel = true)
              val members = assigned.filter(col("cluster_id") === cid)
              // trainSampleMax bounds what each FIT scans: a fat cell
              // at production scale can hold billions of rows, and
              // KMeans passes over its train set per iteration —
              // sub-cell GEOMETRY comes from a seed-deterministic
              // uniform sample, while every member is still assigned
              // (the fold below) and the caller's recall gate
              // (rebalance) still validates the FULL split index, so
              // a sample too thin to produce servable sub-cells is
              // vetoed, never committed. 0 = fit on all members (the
              // default — bit-identical to the pre-knob behavior).
              val trainSet =
                if (trainSampleMax > 0 && n > trainSampleMax)
                  members.sample(withReplacement = false,
                    trainSampleMax.toDouble / n, seed)
                else members
              val kSub = math.max(2,
                math.ceil(n.toDouble * 1.25 / maxRows).toInt)
              cid -> collectCentroids(
                trainCentroids(trainSet, embCol, kSub, seed),
                "cid", "cvec").toIndexedSeq
            }
          }), scala.concurrent.duration.Duration.Inf).toMap
      } catch {
        // a failed sub-training must CANCEL the queued and running
        // sibling fits, not let them keep burning cluster resources
        // after the caller has already seen the exception: the group
        // cancel kills their submitted Spark jobs (tasks interrupted),
        // shutdownNow drains the queue and unblocks the pool threads
        case t: Throwable =>
          spark.sparkContext.cancelJobGroup(jobGroup)
          pool.shutdownNow()
          throw t
      } finally pool.shutdown()
    var nextCid = cents.map(_._1).max + 1
    val fatIds = fat.map(_._1)
    var newCents = cents.toVector.filterNot { case (c, _) => fatIds.contains(c) }
    var reassigned = Vector.empty[DataFrame]
    fat.foreach { case (cid, _) =>
      // trained cids are 0-based; shift to globally fresh ids
      val sub = trained(cid).map { case (c, v) => (nextCid + c, v) }
      nextCid += trained(cid).length
      newCents ++= sub
      val subDf = sub.map { case (c, v) => (c, v.toSeq) }
        .toDF("cid", "cvec")
      reassigned :+= ivfAssignBig(
        assigned.filter(col("cluster_id") === cid).drop("cluster_id"),
        embCol, idCol, subDf, "cid", "cvec")
    }
    val untouched = assigned.filter(
      col("cluster_id").isNull || !col("cluster_id").isin(fatIds: _*))
    val newAssigned = (untouched +: reassigned).reduce(_ unionByName _)
    val newCentDf = newCents.map { case (c, v) => (c, v.toSeq) }
      .toDF(cidCol, cvecCol)
    (newAssigned, newCentDf)
  }

  /** [[splitFatClusters]]'s INVERSE — fold sliver cells back into
    * their neighbors. Repeated split-based rebalancing (and corpus
    * deletions/drift) only ever GROWS the cell count: the round-17
    * convergence probe went 256 → ~1,400 cells, and at a fixed
    * `nprobe` each probe then covers a smaller corpus fraction, so
    * recall sags (measured 1.0 → 0.87–0.90) while the centroid
    * broadcast, the per-query probe ranking, and — on a
    * partitionBy(cluster_id) store — the FILE count all grow. Thin
    * cells are pure overhead at 100 TB: a cell below `minRows` adds a
    * directory of sliver files to every listing and a centroid to
    * every argmin while contributing almost no candidates.
    *
    * Every cluster with FEWER than `minRows` members (including
    * zero-member cells whose centroid lingers in the table after
    * deletions) is retired: its members are reassigned to the nearest
    * SURVIVING centroid (global argmin over the survivors — the same
    * [[ivfAssignBig]] rule assignment uses, so the merged index is
    * exactly what a fresh assign against the survivor table would
    * produce for those rows) and its centroid is dropped. Survivors
    * keep their ids AND their members — probe lists over untouched
    * cells are stable, and only thin-cell mass moves, so cost ∝ thin
    * mass (< thin-count · minRows by definition): over a
    * cluster-partitioned store read, the thin-member filter prunes to
    * the thin directories. Null-cluster rows pass through untouched.
    *
    * Merging ADDS mass to survivors, so it can push one past a fat
    * threshold — the fat and thin axes are separate audits;
    * [[graft.operators.IndexMaintenance.compact]] gates this rewrite
    * on the same recall floor as rebalance (moving a member under a
    * farther centroid can genuinely lower its retrieval rank), and
    * running compact AFTER a rebalance loop restores the cell-count /
    * nprobe balance the loop's splitting disturbed.
    *
    * Refuses loudly when NO cell reaches `minRows` (there is nothing
    * to merge into — that is a retrain case, not a merge case).
    * Returns (reassigned index, survivor centroid table) for one
    * atomic [[graft.sources.IndexStore.writeVersionedWithCentroids]]
    * pair commit. */
  def mergeThinClusters(assigned: DataFrame, embCol: String, idCol: String,
                        centroids: DataFrame, cidCol: String,
                        cvecCol: String, minRows: Long)
      : (DataFrame, DataFrame) = {
    require(assigned.columns.contains("cluster_id"),
      "mergeThinClusters needs a cluster-assigned index (cluster_id column)")
    // counts-only occupancy histogram — ≤ k rows cross the driver; the
    // centroid table (not the histogram) drives thinness so EMPTY
    // cells, which the groupBy never sees, are retired too
    mergeThinClustersWithOcc(assigned, embCol, idCol, centroids, cidCol,
      cvecCol, minRows,
      assigned.filter(col("cluster_id").isNotNull)
        .groupBy(col("cluster_id").cast("long").as("cluster_id"))
        .agg(count(lit(1)).as("__n"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap)
  }

  /** [[mergeThinClusters]] with the occupancy histogram supplied by a
    * caller that already computed it (IndexMaintenance.compact's
    * detect pass) — one full-index aggregate instead of two. */
  private[operators] def mergeThinClustersWithOcc(assigned: DataFrame,
      embCol: String, idCol: String, centroids: DataFrame, cidCol: String,
      cvecCol: String, minRows: Long, occ: Map[Long, Long])
      : (DataFrame, DataFrame) = {
    require(minRows >= 1, s"minRows $minRows must be >= 1")
    require(assigned.columns.contains("cluster_id"),
      "mergeThinClusters needs a cluster-assigned index (cluster_id column)")
    val cents = collectCentroids(centroids, cidCol, cvecCol)
    val thinIds = cents.map(_._1)
      .filter(occ.getOrElse(_, 0L) < minRows).sorted
    if (thinIds.isEmpty) return (assigned, centroids)
    val survivors = cents.filterNot { case (c, _) => thinIds.contains(c) }
    require(survivors.nonEmpty,
      s"mergeThinClusters: every cell is below minRows $minRows — " +
        "nothing to merge into; lower minRows or retrain the index")
    val spark = assigned.sparkSession
    import spark.implicits._
    val survivorDf = survivors.toSeq.map { case (c, v) => (c, v.toSeq) }
      .toDF("cid", "cvec")
    // only thin cells with MEMBERS need reassignment; a thin-id IN
    // filter on a partitioned store prunes to the thin directories
    val movingIds = thinIds.filter(occ.getOrElse(_, 0L) > 0L)
    val untouched = assigned.filter(
      col("cluster_id").isNull || !col("cluster_id").isin(thinIds: _*))
    val newAssigned =
      if (movingIds.isEmpty) untouched
      else untouched.unionByName(ivfAssignBig(
        assigned.filter(col("cluster_id").isin(movingIds: _*))
          .drop("cluster_id"),
        embCol, idCol, survivorDf, "cid", "cvec"))
    (newAssigned, survivorDf.toDF(cidCol, cvecCol))
  }

  // ---------------------------------------------------------------------
  // Binary (sign) quantization — 1 bit per dimension, Hamming ranking.
  // The coarsest point on the compression ladder the engine already
  // climbs (int8 4×, PQ 16-32×): sign-bit packing is 32× smaller than
  // fp32, and candidate ranking degrades to XOR + popcount — the
  // cheapest per-vector arithmetic any stage-one scan can do. The
  // standard two-stage recipe (rank by Hamming on the packed codes,
  // exact rerank of the bounded survivor set) follows the binary-
  // hashing literature (Charikar STOC'02 sign-random-projection;
  // FAISS's IndexBinaryFlat serving shape). Here the projection is the
  // identity — the sign pattern of the raw embedding — which keeps the
  // whole path exactly SQL-replayable.
  // ---------------------------------------------------------------------

  /** Pack the sign pattern of `embCol` (bit b of word w set ⟺
    * component w·64+b is strictly positive) into ceil(dim/64) longs.
    * The stored artifact a 100 TB stage-one scan reads INSTEAD of the
    * fp corpus: dim×4 bytes → dim/8 bytes (32×). The packing
    * expression is a static OR-tree over 64 `when`s per word — plain
    * codegen'd conditionals, no higher-order functions — and this is
    * index-BUILD cost, paid once per corpus. A vector of the wrong
    * length fails loudly (a silent zero-bit tail would quietly rank
    * everything near it). */
  def signEncode(corpus: DataFrame, embCol: String, idCol: String,
                 dim: Int): DataFrame = {
    require(dim >= 1, "dim must be >= 1")
    // Tight-loop UDF, not the when-OR expression tree (round 21): the
    // static 64-conditional packing expression per word looked
    // codegen-friendly but measured 12-24 s per 2000-row build at
    // sf0.1 AND degraded across runs (a fresh expression id defeats
    // the codegen cache, and the generated when-chain is too large to
    // JIT cleanly) vs 0.1 s for the loop — the pqEncodeBig/ivfAssignBig
    // exception applied here, identical bits by AnnSpec's packing spec.
    // Same contracts: null embeddings dropped, wrong length fails
    // loudly with the id in the message.
    val enc = udf { (emb: Seq[Double], id: String) =>
      if (emb.length != dim)
        throw new IllegalArgumentException(
          s"signEncode: expected dim $dim, got ${emb.length} for id $id")
      val out = new Array[Long]((dim + 63) / 64)
      var i = 0
      while (i < dim) {
        if (emb(i) > 0) out(i / 64) |= 1L << (i % 64)
        i += 1
      }
      out
    }
    corpus.filter(col(embCol).isNotNull)
      .select(col(idCol),
        enc(col(embCol).cast("array<double>"),
          col(idCol).cast("string")).as("sign_code"))
  }

  /** Driver-side twin of [[signEncode]]'s packing for one vector — the
    * reference the sign rung's in-plan query packing is checked against. */
  def signCode(vec: Array[Double]): Array[Long] = {
    val out = new Array[Long]((vec.length + 63) / 64)
    var i = 0
    while (i < vec.length) {
      if (vec(i) > 0) out(i / 64) |= 1L << (i % 64)
      i += 1
    }
    out
  }

  /** The sign rung: Hamming distance between packed sign codes — per
    * word one XOR and one `bit_count`, summed statically over the words
    * `dim` packs to (no HOF) — then exact cosine rerank. The query packs
    * by [[signCode]]'s rule inside the plan. `dim` is the ENCODED
    * dimension and the query must match it exactly: a shorter query
    * would silently ignore the stored codes' trailing words. Hamming
    * ties are massive (integer distances), so the id tie-break is what
    * makes the candidate cut a contract. */
  private def sign(who: String, dim: Int): Quantizer = {
    require(dim >= 1, "dim must be >= 1")
    val words = (dim + 63) / 64
    Quantizer(who, "sign_code",
      prep = qv => array((0 until words).map(w =>
        (w * 64 until math.min(dim, w * 64 + 64)).map(i =>
          when(element_at(qv, i + 1) > 0, lit(1L << (i % 64))).otherwise(lit(0L)))
          .reduce(_ bitwiseOR _)): _*),
      approx = qc => (0 until words).map(w => bit_count(
        element_at(col("sign_code"), w + 1).bitwiseXOR(element_at(qc, w + 1))))
        .reduce(_ + _).cast("long"),
      width = _ => (lit(words), lit(s" words but dim=$dim packs to $words — " +
        "the table was encoded at a different dimension; id ")),
      queryDim = Some(QueryDim(dim)),
      approxScore = Score("hamming", asc = true, "hamming (word-count mismatch)"),
      exact = VectorFunctions.cosine, exactScore = Score("cos", asc = false))
  }

  /** Sign rung served from a stored [[signEncode]] table. */
  def signSearchEncoded(encoded: DataFrame, vectors: DataFrame,
                        embCol: String, idCol: String,
                        queryVec: Array[Double], dim: Int, k: Int,
                        candMult: Int = 4): DataFrame =
    serveQuantized(sign("signSearchEncoded", dim), encoded, Some(vectors),
      embCol, idCol, OneVector(queryVec), k, candMult)

  /** Sign rung served from a stored [[signEncode]] table, for a query
    * frame. */
  def signSearchEncodedBatch(encoded: DataFrame, vectors: DataFrame,
                             embCol: String, idCol: String,
                             queries: DataFrame, qidCol: String,
                             qvecCol: String, dim: Int, k: Int,
                             candMult: Int = 4): DataFrame =
    serveQuantized(sign("signSearchEncodedBatch", dim), encoded,
      Some(vectors), embCol, idCol, QueryFrame(queries, qidCol, qvecCol),
      k, candMult)

  // ---------------------------------------------------------------------
  // Matryoshka (prefix-dimension) serving — Kusupati et al. 2022,
  // "Matryoshka Representation Learning" (NeurIPS): MRL-trained
  // embeddings concentrate coarse similarity in the leading
  // dimensions, so a stage-one scan over just the first m components
  // reads m/dim of the bytes (16/64 = 4× here) and the full vector is
  // only touched for the bounded rerank set. Same two-stage contract
  // as the int8/PQ/sign families — the prefix column is the stored
  // artifact, column pruning never reads the fp corpus in stage one.
  // ---------------------------------------------------------------------

  /** The prefix artifact: (id, first-`prefixDim`-components) as its
    * own stored table. A too-short vector fails loudly — `slice`
    * would otherwise silently hand stage one a truncated prefix that
    * ranks the vector closer than it is. */
  def prefixEncode(corpus: DataFrame, embCol: String, idCol: String,
                   prefixDim: Int): DataFrame = {
    require(prefixDim >= 1, "prefixDim must be >= 1")
    corpus.filter(col(embCol).isNotNull)
      .select(
        when(size(col(embCol)) < prefixDim,
          raise_error(concat(
            lit(s"prefixEncode: embedding shorter than prefixDim $prefixDim for id "),
            col(idCol).cast("string"))))
          .otherwise(col(idCol)).as(idCol),
        slice(col(embCol).cast("array<double>"), 1, prefixDim)
          .as("prefix_vec"))
  }

  /** The prefix rung: L2 over the stored prefix, full-dimension L2
    * rerank. Recall caveat, measured (round-14 candMult sweep,
    * PLANS.md): the prefix cut only ranks well when the embedding model
    * concentrates information in the leading components (MRL-trained).
    * On embeddings WITHOUT that training this rung can trail even the
    * 8× smaller sign rung (0.16→0.57 recall@10 over candMult 1→16 on
    * the synthetic corpus, vs sign's 0.19→0.69 and int8's 1.00 at
    * candMult=2) — pick it for its bytes only when the model is
    * MRL-trained, and prefer the int8 rung when 80 B/vec is affordable. */
  private def prefix(who: String, prefixDim: Int): Quantizer = {
    require(prefixDim >= 1, "prefixDim must be >= 1")
    Quantizer(who, "prefix_vec",
      prep = qv => slice(qv, 1, prefixDim),
      approx = qp => VectorFunctions.l2(col("prefix_vec"), qp),
      width = _ => (lit(prefixDim), lit(s" components but prefixDim is " +
        s"$prefixDim — the table was encoded at a different prefix width; id ")),
      queryDim = Some(QueryDim(prefixDim, atLeast = true)),
      approxScore = Score("prefix_dist", asc = true, "prefix distance"),
      exact = VectorFunctions.l2, exactScore = RerankL2)
  }

  /** Prefix rung served from a stored [[prefixEncode]] table. */
  def prefixSearchEncoded(encoded: DataFrame, vectors: DataFrame,
                          embCol: String, idCol: String,
                          queryVec: Array[Double], prefixDim: Int,
                          k: Int, candMult: Int = 4): DataFrame =
    serveQuantized(prefix("prefixSearchEncoded", prefixDim), encoded,
      Some(vectors), embCol, idCol, OneVector(queryVec), k, candMult)

  /** Prefix rung served from a stored [[prefixEncode]] table, for a
    * query frame. */
  def prefixSearchEncodedBatch(encoded: DataFrame, vectors: DataFrame,
                               embCol: String, idCol: String,
                               queries: DataFrame, qidCol: String,
                               qvecCol: String, prefixDim: Int, k: Int,
                               candMult: Int = 4): DataFrame =
    serveQuantized(prefix("prefixSearchEncodedBatch", prefixDim), encoded,
      Some(vectors), embCol, idCol, QueryFrame(queries, qidCol, qvecCol),
      k, candMult)

  // ---------------------------------------------------------------------
  // The quantizer serving core. Every compressed rung — int8, PQ (and
  // IVF-PQ), sign, prefix — serves one algorithm: score a small stored
  // artifact approximately, cut to k·candMult, fetch those vectors,
  // rerank exactly, cut to k. A [[Quantizer]] holds what differs
  // between rungs; [[serveQuantized]] is the algorithm, for one query
  // vector and for a query frame alike.
  // ---------------------------------------------------------------------

  /** A score of the core and its cut direction. An ascending score
    * fails loudly on null, `noun` naming it in the error: an ascending
    * cut puts NULLS FIRST, so an unguarded null would take a top-k slot
    * ahead of every true neighbor. A descending cut puts nulls last,
    * where they displace nothing. */
  private final case class Score(name: String, asc: Boolean, noun: String = "") {
    def order: Column = if (asc) col(name) else desc(name)
  }

  private val RerankL2 =
    Score("dist", asc = true, "rerank distance (dim mismatch or null vector)")

  /** The query length a rung accepts: exactly `n`, or at least `n`. */
  private final case class QueryDim(n: Int, atLeast: Boolean = false) {
    def ok(len: Int): Boolean = if (atLeast) len >= n else len == n
    def ok(len: Column): Column = if (atLeast) len >= n else len === n
    def rule: String =
      if (atLeast) s"shorter than prefixDim $n" else s"the encoded dimension is $n"
  }

  /** What one quantizer rung contributes to [[serveQuantized]]. */
  private final case class Quantizer(
      who: String,                          // entry point; starts every error
      code: String,                         // the stored code column
      prep: Column => Column,               // query vector → query-side artifact
      approx: Column => Column,             // artifact → approximate score of `code`
      width: Column => (Column, Column),    // artifact → (code width, message tail)
      queryDim: Option[QueryDim],           // accepted query length; None: any
      approxScore: Score,
      exact: (Column, Column) => Column,    // (fp vector, query vector) → metric
      exactScore: Score)

  private sealed trait Queries
  /** One query vector as an expression over the code table's rows. */
  private final case class OneColumn(vec: Column) extends Queries
  private final case class OneVector(vec: Array[Double]) extends Queries
  private final case class QueryFrame(df: DataFrame, qidCol: String,
                                      qvecCol: String) extends Queries

  /** IVF pruning: serve only the `nprobe` clusters nearest each query. */
  private[graft] final case class Probe(centroids: DataFrame, cidCol: String,
                                        cvecCol: String, nprobe: Int) {
    require(nprobe >= 1, s"nprobe $nprobe must be >= 1")
  }

  /** The two-stage core behind every quantizer serve function. Stage
    * one scores the stored code table (`encoded`) with the rung's
    * approximate metric and cuts each query to k·candMult; stage two
    * fetches those survivors' fp vectors from `vectors` by broadcast
    * join, reranks them by the exact metric and cuts to k. With
    * `vectors` None the code table was derived inline from the corpus
    * and carries the vectors itself. Contract:
    *
    *  - Total orders. Both cuts order by (score, id), so results are
    *    deterministic and the oracles replay them stage for stage.
    *    Recall is governed by candMult: the exact stage restores order
    *    among survivors but cannot resurrect one the approximate metric
    *    dropped.
    *  - NULLS FIRST. Null codes are dropped before stage one (a null
    *    vector is never a neighbor), and every ascending score fails
    *    loudly on null ([[Score]]).
    *  - Width, asserted in the plan. Each stored code's width must equal
    *    what the rung's parameters (or, for int8, the query) pack to,
    *    so a table encoded at another dimension or with another
    *    codebook fails at scan time in both directions instead of
    *    silently ignoring trailing components.
    *  - One query vector. A served form's stage one reads only the code
    *    table (column pruning reaches the parquet reader; the fp vectors
    *    are touched only for the ≤ k·candMult survivors), an array
    *    query's preparation is evaluated once on the driver into one
    *    literal ([[constant]]), IVF probing is a static `isin` (the
    *    reader prunes partitions), and both cuts are a global
    *    orderBy.limit — TakeOrderedAndProject, no shuffle. Ids keep
    *    their type.
    *  - A query frame: one scan of the code table serves every query.
    *    The frame is collected once, guarded and prepared per query,
    *    and broadcast;
    *    IVF probing is the union `isin` plus the (qid, cluster) probe
    *    join, so each code row is scored only for the queries probing
    *    its cluster; both cuts are per-qid `row_number <= n` windows,
    *    which InferWindowGroupLimit runs as map-side partial
    *    group-limits (round 14 measured them equal to the TopK
    *    aggregator). Output gains qid and knn_rank. Ids and qids must
    *    be integral: the internal long cast would null any other id and
    *    silently drop its rows. */
  private def serveQuantized(q: Quantizer, encoded: DataFrame,
                             vectors: Option[DataFrame], embCol: String,
                             idCol: String, queries: Queries, k: Int,
                             candMult: Int,
                             probe: Option[Probe] = None): DataFrame = {
    require(k >= 1 && candMult >= 1, "k and candMult must be >= 1")
    probe.foreach(_ => require(encoded.columns.contains("cluster_id"),
      s"${q.who} needs a cluster-assigned code table (cluster_id column)"))
    val (approxCol, exactCol) = (q.approxScore.name, q.exactScore.name)
    val emb = col(embCol).cast("array<double>")
    def guarded(s: Score, x: Column, id: Column): Column =
      if (!s.asc) x
      else when(x.isNull, raise_error(concat(
        lit(s"${q.who}: null ${s.noun} for id "), id.cast("string")))).otherwise(x)
    def approx(prepped: Column): Column = {
      val (width, tail) = q.width(prepped)
      val code = col(q.code)
      when(size(code) =!= width, raise_error(concat(
          lit(s"${q.who}: stored ${q.code} has "), size(code).cast("string"),
          tail, col(idCol).cast("string"))))
        .otherwise(guarded(q.approxScore, q.approx(prepped), col(idCol)))
        .as(approxCol)
    }
    // An inline code table is derived from the vectors, so its codes
    // are null exactly when the vector is: filter on the vector there.
    // A filter on the derived codes would be pushed below their
    // projection and recompute the whole encoding per row.
    val stored = encoded.filter(
      col(if (vectors.isEmpty) embCol else q.code).isNotNull)
    def one(qv: Column, prepped: Column): DataFrame = {
      val pruned = probe.fold(stored)(p =>
        stored.filter(col("cluster_id").isin(probeList(p, qv): _*)))
      val survivors = pruned
        .select(if (vectors.isEmpty) col("*") else col(idCol), approx(prepped))
        .orderBy(q.approxScore.order, col(idCol))
        .limit(k * candMult)
      vectors.fold(survivors)(v => broadcast(survivors)
          .join(v.select(col(idCol), col(embCol)), Seq(idCol)))
        .withColumn(exactCol, guarded(q.exactScore, q.exact(emb, qv), col(idCol)))
        .orderBy(q.exactScore.order, col(idCol))
        .limit(k)
        .select(col(idCol), col(approxCol), col(exactCol))
    }
    queries match {
      case OneColumn(qv) => one(qv, q.prep(qv))
      case OneVector(v) =>
        q.queryDim.foreach(d => require(d.ok(v.length),
          s"${q.who}: query vector has ${v.length} components — ${d.rule}"))
        val qv = typedlit(v.toSeq)
        one(qv, constant(encoded.sparkSession, q.prep(qv)))
      case QueryFrame(df, qidCol, qvecCol) =>
        requireIntegralId(encoded, idCol, q.who, "id")
        requireIntegralId(df, qidCol, q.who, "query id")
        val qv = col(qvecCol).cast("array<double>")
        val checked = df.select(col(qidCol).cast("long").as("__qid"),
          q.queryDim.fold(qv)(d => when(!d.ok(size(qv)), raise_error(concat(
            lit(s"${q.who}: query "), col(qidCol).cast("string"), lit(" has "),
            size(qv).cast("string"), lit(s" components — ${d.rule}"))))
            .otherwise(qv)).as("__qv"))
          .withColumn("__qp", q.prep(col("__qv")))
        // The query frame is broadcast anyway, so it is bounded: collect
        // it once, guarded and prepared, and let the probe ranking and
        // both stages read that local relation instead of rescanning
        // the caller's frame.
        val sp = encoded.sparkSession
        val rows = checked.collect()
        val qdf = sp.createDataFrame(java.util.Arrays.asList(rows: _*), checked.schema)
        val prepped = broadcast(qdf.select(col("__qid"), col("__qp")))
        val pairs = probe match {
          case None => stored.crossJoin(prepped)
          case Some(p) =>
            import sp.implicits._
            // the queries and the k-row centroid table are both on the
            // driver here: ≤ nq·nprobe pairs
            val cents = collectCentroids(p.centroids, p.cidCol, p.cvecCol)
            val probes = rows.toSeq.flatMap(r => probeCells(cents,
              r.getSeq[Double](1).toArray, p.nprobe).map((r.getLong(0), _)))
            stored.filter(col("cluster_id").isin(probes.map(_._2).distinct: _*))
              .join(broadcast(probes.toDF("__qid", "__pcid")),
                col("cluster_id").cast("long") === col("__pcid"))
              .join(prepped, Seq("__qid"))
        }
        val survivors = topPerQuery(pairs.select(col("__qid"),
            col(idCol).cast("long").as("__id"), approx(col("__qp"))),
          q.approxScore, k * candMult).drop("knn_rank")
        topPerQuery(broadcast(survivors)
            .join(vectors.getOrElse(encoded)
              .select(col(idCol).cast("long").as("__id"), col(embCol)), Seq("__id"))
            .join(broadcast(qdf.select(col("__qid"), col("__qv"))), Seq("__qid"))
            .withColumn(exactCol,
              guarded(q.exactScore, q.exact(emb, col("__qv")), col("__id"))),
          q.exactScore, k)
          .select(col("__qid").as(qidCol), col("knn_rank"),
            col("__id").as(idCol), col(approxCol), col(exactCol))
    }
  }

  /** A constant expression evaluated once on the driver (a projection
    * of a one-row local relation runs no job) and returned as ONE
    * literal, so a large constant tree — a PQ lookup table is m·nCodes
    * l2sq terms, referenced by every subspace lookup and guard — stays
    * out of the plans built on it. */
  private def constant(sp: org.apache.spark.sql.SparkSession, c: Column): Column = {
    val plan = sp.createDataFrame(java.util.List.of(org.apache.spark.sql.Row()),
      org.apache.spark.sql.types.StructType(Nil)).select(c).queryExecution.executedPlan
    val dt = plan.schema.head.dataType
    org.apache.spark.sql.graftbridge.ColumnBridge.column(
      org.apache.spark.sql.catalyst.expressions.Literal(plan.executeCollect()(0).get(0, dt), dt))
  }

  /** A query frame's cut: the first `n` rows of each `__qid` by
    * (score, id), numbered 1.. in `knn_rank`. */
  private def topPerQuery(df: DataFrame, s: Score, n: Int): DataFrame =
    df.withColumn("knn_rank", row_number().over(
        Window.partitionBy("__qid").orderBy(s.order, col("__id"))))
      .filter(col("knn_rank") <= n)

  // ---------------------------------------------------------------------
  // The IVF probe rule: probe the `nprobe` cells whose centroids are
  // nearest the query. The distance is `sqrt` of the left-folded squared
  // L2 in double (bit-equal to VectorFunctions.l2), ties go to the
  // smaller cid, a length mismatch or null element fails loudly, and a
  // null query vector probes no cell. Two functions hold it: one over a
  // collected centroid array, one as a plan over the centroid table.
  // ---------------------------------------------------------------------

  /** The probe rule over a collected ([[collectCentroids]]) centroid
    * array: the `nprobe` nearest cells, nearest first. */
  private[graft] def probeCells(cents: Array[(Long, Array[Double])],
                                q: Array[Double], nprobe: Int): Array[Long] =
    cents.map { case (cid, c) => (math.sqrt(l2sqStrict(q, c)), cid) }
      .sorted.take(nprobe).map(_._2)

  /** The probe rule as a plan, for one query vector: an orderBy.limit
    * over the centroid table that ships only the `nprobe` ids to the
    * driver, not k×dim centroid doubles. */
  private[graft] def probeList(p: Probe, queryVec: Column): Array[Long] = {
    val d = VectorFunctions.l2(col(p.cvecCol), queryVec)
    p.centroids.filter(queryVec.isNotNull)
      .orderBy(when(d.isNull, raise_error(lit("IVF probe: null query-to-centroid " +
          "distance (length mismatch or null element)"))).otherwise(d),
        col(p.cidCol))
      .limit(p.nprobe)
      .select(col(p.cidCol).cast("long"))
      .collect().map(_.getLong(0))
  }

  /** [[probeCells]] as a column over query vectors, for frame forms:
    * the centroid table is collected and broadcast once, and each row
    * gets its cells as an array, nearest first — `explode` it into
    * (query, cell) rows, or `posexplode` for the 0-based probe rank as
    * well. A narrow map with no aggregation, so a streaming plan stays
    * append-mode legal. */
  private[graft] def probeCellsUdf(p: Probe): Column => Column = {
    val bc = p.centroids.sparkSession.sparkContext.broadcast(
      collectCentroids(p.centroids, p.cidCol, p.cvecCol))
    val nprobe = p.nprobe // the closure must not capture the centroid frame
    val cells = udf((q: Seq[java.lang.Double]) => probeCellsOf(bc.value, q, nprobe))
    qv => cells(qv.cast("array<double>"))
  }

  /** [[probeCells]] for a query vector as a row holds it: a null vector
    * probes no cell, a null element fails loudly. */
  private[graft] def probeCellsOf(cents: Array[(Long, Array[Double])],
                                  q: Seq[java.lang.Double], nprobe: Int): Array[Long] =
    if (q == null) Array.empty[Long]
    else {
      require(!q.contains(null), "IVF probe: query vector has a null element")
      probeCells(cents, q.map(_.doubleValue).toArray, nprobe)
    }

  /** The core behind the five single-vector exact IVF forms: the rows
    * of `source` in `cells`, narrowed by `restrict`, cut to the exact
    * top-k. `cluster_id IN cells` is a static predicate, so over a
    * store written partitionBy(cluster_id) the scan lists only those
    * directories (PartitionFilters). */
  private def exactInCells(source: DataFrame, cells: Array[Long],
                           embCol: String, idCol: String, queryVec: Column,
                           k: Int,
                           restrict: DataFrame => DataFrame = identity): DataFrame =
    Knn.exact(restrict(source.filter(col("cluster_id").isin(cells: _*))),
      embCol, idCol, queryVec, k)

  private[operators] def requireIntegralId(df: DataFrame, c: String,
                                           who: String, role: String): Unit = {
    import org.apache.spark.sql.types._
    val dt = df.schema(c).dataType
    require(Seq(ByteType, ShortType, IntegerType, LongType).contains(dt),
      s"$who: $role column $c is $dt — non-integral ids would be nulled " +
        "by the internal long cast and their rows silently dropped; for " +
        "non-numeric ids use a single-query form, which keeps the id " +
        "column untyped (for the cascade: search or searchFixed)")
  }
}
