package graft

import graft.functions.{TextAnalysis, TextFunctions, VectorFunctions}
import graft.multimodal.{DecodeStub, Multimodal}
import graft.operators.{Ann, Bm25, Chunker, Curation, Dedup, HeavyHitters, Knn, LshAnn, Mmr, MultiStageSearch, Packing, QualityModel, Rerank, RetrievalEval}
import graft.sources.JobCorpus
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** ANN serving at scale: IVF train/assign/store/serve (v14–v21),
  * scalar-quantized / PQ / IVFADC pipelines (s1q–s10).
  */
private[graft] trait QueriesAnn { self: QueriesShared =>


  /** v14's trained-index artifact — MLlib-KMeans centroids + the
    * cluster-partitioned IVF index, built ONCE per sf dir (the
    * bandIndexFor pattern): train → broadcast-argmin assign →
    * IndexStore write are INDEX-time cost, paid when the index is
    * (re)built; repeated verify/bench runs then measure SERVE-time,
    * the cost a query actually pays against an existing index. A lost
    * race builds twice into separate temp dirs — wasteful, never
    * wrong. */
  val trainedIvfRoots =
    scala.collection.concurrent.TrieMap.empty[String, String]

  /** Stable sidecar root for v14's trained centroids — the v6/v10
    * hyperplane pattern applied to the TRAINED index: KMeans' float
    * reductions are not SQL-replayable, but the k×dim centroid TABLE
    * is an artifact like any other, and with it exported the whole
    * serve path (assign → probe → exact cut → recall) replays in
    * DuckDB. Centroids are data-dependent (unlike the seeded planes),
    * so each corpus' set lands under a subdir keyed by a content
    * fingerprint BOTH engines compute identically in exact integer
    * arithmetic — sum(floor(first_component·1e6)) — and the oracle
    * selects the set matching the corpus it queries (sf0.001/sf0.01
    * share a row COUNT, so count alone would collide). */
  def v14SidecarBase: String =
    new java.io.File("target/graft_sidecars/ivf_v14_centroids").getAbsolutePath

  val v14CorpusKeySql: String =
    "(SELECT CAST(sum(floor(CAST(embedding[1] AS DOUBLE) * 1000000)) AS BIGINT) FROM embeddings)"

  def v14CorpusKey(e: DataFrame): Long =
    e.agg(sum(floor(col("embedding").getItem(0).cast("double") * 1e6)))
      .collect()(0).getLong(0)

  def trainedIvfFor(s: SparkSession, d: String): String =
    trainedIvfRoots.getOrElseUpdate(d, {
      val root =
        java.nio.file.Files.createTempDirectory("graft_trained_ivf_").toString
      val e = t(s, d, "embeddings")
      val cent = Ann.trainCentroids(e, "embedding", k = 32, seed = 42L,
        maxIter = 10)
      cent.write.parquet(s"$root/centroids")
      val key = v14CorpusKey(e)
      cent.withColumn("corpus_key", lit(key)).coalesce(1)
        .write.mode("overwrite").parquet(s"$v14SidecarBase/key_$key")
      val assigned = Ann
        .ivfAssignBig(e, "embedding", "vec_id", cent, "cid", "cvec")
        .select(col("vec_id"), col("embedding"), col("cluster_id"))
      graft.sources.IndexStore.write(assigned, s"$root/index")
      root
    })


  private val v14 = QuerySpec("v14_trained_ivf_serve",
    // Round-9 ask #2: the PRODUCTION index shape on the correctness
    // clock. Every other s*/v9+ row assigns against toy fixed
    // centroids (first-k vectors) precisely so DuckDB can replay the
    // assignment; this query serves from an index whose centroids
    // KMeans TRAINED (Ann.trainCentroids, seed-deterministic), stored
    // cluster-partitioned and probed with static partition pruning
    // (Ann.ivfSearchStore — the s9 serving shape). HASH-CHECKED since
    // round 12 (closing the oldest no_oracle): the trained centroid
    // table ships as a parquet sidecar ([[v14SidecarBase]]) and the
    // oracle replays the ENTIRE serve — argmin assignment, the
    // nprobe=8 probe rule, the exact (dist, id) top-10 cut, and even
    // the recall@10-vs-exact-kNN number — over that sidecar. Training
    // itself stays spec+recall-checked (KMeans' iterative float
    // reductions are not SQL-replayable; they don't need to be — both
    // engines serve from the SAME exported table).
    // The in-process gates remain (the c1/t21 pattern):
    //   1. identity: the served-from-store top-10 must equal the
    //      inline ivfSearchBatch on the same centroid table row for
    //      row — store round-trip and partition pruning change
    //      nothing;
    //   2. recall floor: recall@10 vs the exact kNN must clear 0.5,
    //      raised loudly otherwise and REPORTED as data (measured 0.8
    //      at sf0.01 — synthetic near-orthogonal embeddings are ANN's
    //      worst case; random bucketing at nprobe=8/32 would be ~0.25).
    // Both run under the identityGates flag: ON in Verify (the
    // correctness artifact carries the stamp), OFF in the timed
    // bench loop, which then measures pure serve cost.
    (s, d) => {
      val root = trainedIvfFor(s, d)
      val cent = s.read.parquet(s"$root/centroids")
      val e = t(s, d, "embeddings")
      val qv = typedlit(e.filter(col("vec_id") === 0)
        .select("embedding").collect()(0).getSeq[Float](0).map(_.toDouble))
      val served = Ann.ivfSearchStore(s, s"$root/index", "embedding",
          "vec_id", cent, "cid", "cvec", qv, k = 10, nprobe = 8)
        .select(col("vec_id"), col("cluster_id").cast("long").as("cluster_id"),
          round(col("dist"), 6).as("dist"))
        .orderBy("dist", "vec_id")
      val (stamp, recall): (Boolean, java.lang.Double) =
        if (!identityGates) (false, null)
        else {
          val servedRows = served.collect().toSeq
            .map(r => (r.getLong(0), r.getDouble(2)))
          val assigned = Ann.ivfAssignBig(e, "embedding", "vec_id",
            cent, "cid", "cvec")
          val qs = e.filter(col("vec_id") === 0)
            .select(col("vec_id").as("qid"), col("embedding").as("qv"))
          val inline = Ann.ivfSearchBatch(assigned, "embedding", "vec_id",
              cent, "cid", "cvec", qs, "qid", "qv", k = 10, nprobe = 8)
            .select(col("vec_id"), round(col("dist"), 6).as("dist"))
            .orderBy("dist", "vec_id").collect().toSeq
            .map(r => (r.getLong(0), r.getDouble(1)))
          require(servedRows.nonEmpty && servedRows == inline,
            s"trained-IVF store/inline identity violated: " +
              s"served=$servedRows\ninline=$inline")
          val exactIds = Knn.exact(e, "embedding", "vec_id", qv, 10)
            .select("vec_id").collect().map(_.getLong(0)).toSet
          val rec = servedRows.map(_._1).toSet.intersect(exactIds).size / 10.0
          require(rec >= 0.5,
            s"trained-IVF recall@10 $rec below the 0.5 broken-index " +
              "floor at nprobe=8/32 (random bucketing would be ~0.25)")
          (true, Double.box(rec))
        }
      served.withColumn("recall_at_10", lit(recall).cast("double"))
        .withColumn("identity_match", lit(stamp))
    },
    Some(s"""WITH cent AS (SELECT cid, cvec
        FROM read_parquet('$v14SidecarBase/*/*.parquet')
        WHERE corpus_key = $v14CorpusKeySql),
      q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
      assign AS (SELECT e.vec_id, e.embedding, cid,
        row_number() OVER (PARTITION BY e.vec_id
          ORDER BY ${l2Sql("e.embedding", "cvec")}, cid) AS crn
        FROM embeddings e CROSS JOIN cent),
      clusters AS (SELECT vec_id, embedding, cid AS cluster_id
        FROM assign WHERE crn = 1),
      probe AS (SELECT cid AS cluster_id FROM cent CROSS JOIN q
        ORDER BY ${l2Sql("cvec", "q.qv")}, cid LIMIT 8),
      served AS (SELECT c.vec_id, c.cluster_id,
          ${l2Sql("c.embedding", "q.qv")} AS dist
        FROM clusters c JOIN probe USING (cluster_id) CROSS JOIN q
        ORDER BY dist, c.vec_id LIMIT 10),
      exact AS (SELECT e.vec_id FROM embeddings e CROSS JOIN q
        ORDER BY ${l2Sql("e.embedding", "q.qv")}, e.vec_id LIMIT 10),
      rec AS (SELECT count(*) / 10.0 AS r
        FROM served s JOIN exact x ON s.vec_id = x.vec_id)
      SELECT vec_id, cluster_id, round(dist, 6) AS dist,
        r AS recall_at_10, TRUE AS identity_match
      FROM served CROSS JOIN rec ORDER BY dist, vec_id"""))


  private val s1q = QuerySpec("s1_ann_cosine_topk",
    (s, d) => {
      val qs = t(s, d, "embeddings").filter(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("embedding").as("qv"))
      Knn.batch(t(s, d, "embeddings"), "embedding", "vec_id", qs, "qid", "qv",
          10, metric = "cosine")
        .select(col("qid"), col("knn_rank"), col("vec_id"),
          round(-col("dist"), 6).as("cos"))
        .orderBy("qid", "knn_rank")
    },
    Some(s"""SELECT qid, knn_rank, vec_id, round(cos, 6) AS cos FROM (
      SELECT q.vec_id AS qid, e.vec_id AS vec_id,
        ${cosineSql("e.embedding", "q.embedding")} AS cos,
        row_number() OVER (PARTITION BY q.vec_id
          ORDER BY -(${cosineSql("e.embedding", "q.embedding")}), e.vec_id) AS knn_rank
      FROM embeddings e CROSS JOIN (SELECT * FROM embeddings WHERE vec_id < 5) q)
      WHERE knn_rank <= 10 ORDER BY qid, knn_rank"""))

  // ======================================================================
  // Generators: G1 recursive chunker (no SQL oracle — imperative
  // recursive semantics; ScalaTest-verified), G4 synonym expansion
  // ======================================================================


  private val s2 = QuerySpec("s2_ann_ivf",
    // IVF ANN scale path: centroids → narrow argmin assignment →
    // nprobe-pruned exact top-k (partition pruning when the assigned
    // table is stored partitionBy(cluster_id)).
    (s, d) => {
      val e = t(s, d, "embeddings")
      val cent = e.filter(col("vec_id") < 8)
        .select(col("vec_id").as("cid"), col("embedding").as("cvec"))
      val qv = typedlit(e.filter(col("vec_id") === 0)
        .select("embedding").collect()(0).getSeq[Float](0).map(_.toDouble))
      val assigned = Ann.ivfAssign(e, "embedding", "vec_id", cent, "cid", "cvec")
      Ann.ivfSearch(assigned, "embedding", "vec_id", cent, "cid", "cvec",
          qv, k = 10, nprobe = 2)
        .select(col("vec_id"), col("cluster_id"), round(col("dist"), 6).as("dist"))
    },
    Some(s"""WITH cent AS (SELECT vec_id AS cid, embedding AS cvec
        FROM embeddings WHERE vec_id < 8),
      q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
      assign AS (SELECT e.vec_id, e.embedding, cid,
        row_number() OVER (PARTITION BY e.vec_id
          ORDER BY ${l2Sql("e.embedding", "cvec")}, cid) AS crn
        FROM embeddings e CROSS JOIN cent),
      clusters AS (SELECT vec_id, embedding, cid AS cluster_id FROM assign WHERE crn = 1),
      probe AS (SELECT cid AS cluster_id FROM cent CROSS JOIN q
        ORDER BY ${l2Sql("cvec", "q.qv")}, cid LIMIT 2)
      SELECT vec_id, cluster_id, round(dist, 6) AS dist FROM (
        SELECT c.vec_id, c.cluster_id, ${l2Sql("c.embedding", "q.qv")} AS dist
        FROM clusters c JOIN probe USING (cluster_id) CROSS JOIN q)
      ORDER BY dist, vec_id LIMIT 10"""))


  private val int8Paths = scala.collection.concurrent.TrieMap.empty[String, String]

  /** Stored int8 code table (Ann.quantizedEncode): the 4×-smaller
    * artifact s10's stage one scans instead of the fp corpus. */
  private def int8TableFor(s: SparkSession, d: String): String =
    int8Paths.getOrElseUpdate(d, {
      val p = java.nio.file.Files
        .createTempDirectory("graft_int8_codes_").toString + "/codes"
      Ann.quantizedEncode(t(s, d, "embeddings"), "embedding", "vec_id")
        .write.parquet(p)
      p
    })


  private val s10 = QuerySpec("s10_int8_served",
    // s5 SERVED from the stored int8 code table (the s8 treatment for
    // the scalar-quantization family): stage one reads ONLY the codes
    // — the fp corpus is untouched until the ≤ k·candMult survivors
    // rerank via broadcast join. Same arithmetic, orders and cuts as
    // s5, so row-identical by construction — the oracle IS s5's.
    (s, d) => {
      val e = t(s, d, "embeddings")
      val qv = typedlit(e.filter(col("vec_id") === 0)
        .select("embedding").collect()(0).getSeq[Float](0).map(_.toDouble))
      Ann.quantizedSearchEncoded(s.read.parquet(int8TableFor(s, d)), e,
          "embedding", "vec_id", qv, k = 10, candMult = 4)
        .select(col("vec_id"), round(col("approx_cos"), 6).as("approx_cos"),
          round(col("cos"), 6).as("cos"))
    },
    Some(int8SearchOracle))


  private val signPaths = scala.collection.concurrent.TrieMap.empty[String, String]

  /** Stored sign-bit code table (Ann.signEncode): the 32×-smaller
    * artifact s11's stage one scans instead of the fp corpus. */
  private def signTableFor(s: SparkSession, d: String): String =
    signPaths.getOrElseUpdate(d, {
      val p = java.nio.file.Files
        .createTempDirectory("graft_sign_codes_").toString + "/codes"
      Ann.signEncode(t(s, d, "embeddings"), "embedding", "vec_id", dim = 64)
        .write.parquet(p)
      p
    })


  private val s11 = QuerySpec("s11_sign_hamming_served",
    // The coarsest rung of the compression ladder (int8 4× → PQ
    // 16-32× → sign bits 32× with popcount ranking): stage one scans
    // ONLY the stored 1-long-per-vector code table, ranks by
    // XOR+bit_count Hamming distance against the broadcast-constant
    // query code, and keeps a (hamming, id)-ordered 40-row heap per
    // partition; stage two broadcast-joins the survivors to the fp
    // corpus for the exact-cosine top-10. The oracle replays the sign
    // rule (component > 0), the integer Hamming sum, the heavily-tied
    // (hamming, id) candidate cut and the exact rerank — Hamming ties
    // are massive by construction, so the id tie-break is what makes
    // the 40-cut a contract instead of a scheduler race.
    (s, d) => {
      val e = t(s, d, "embeddings")
      val qv = e.filter(col("vec_id") === 0)
        .select("embedding").collect()(0).getSeq[Float](0)
        .map(_.toDouble).toArray
      Ann.signSearchEncoded(s.read.parquet(signTableFor(s, d)), e,
          "embedding", "vec_id", qv, dim = 64, k = 10, candMult = 4)
        .select(col("vec_id"), col("hamming"),
          round(col("cos"), 6).as("cos"))
    },
    Some(s"""WITH q AS (SELECT list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qv
        FROM embeddings WHERE vec_id = 0),
      ham AS (SELECT e.vec_id,
          CAST(list_sum(list_transform(range(1, len(e.embedding) + 1),
            i -> CASE WHEN (CAST(e.embedding[i] AS DOUBLE) > 0) != (qv[i] > 0)
                 THEN 1 ELSE 0 END)) AS BIGINT) AS hamming
        FROM embeddings e CROSS JOIN q),
      cand AS (SELECT vec_id, hamming FROM ham ORDER BY hamming, vec_id LIMIT 40)
      SELECT c.vec_id, c.hamming, round(${cosineSql("e.embedding", "qv")}, 6) AS cos
      FROM cand c JOIN embeddings e USING (vec_id) CROSS JOIN q
      ORDER BY cos DESC, vec_id LIMIT 10"""))


  private val prefixPaths = scala.collection.concurrent.TrieMap.empty[String, String]

  /** Stored 16-dim prefix table (Ann.prefixEncode): the 4×-smaller
    * artifact s12's stage one scans instead of the fp corpus. */
  private def prefixTableFor(s: SparkSession, d: String): String =
    prefixPaths.getOrElseUpdate(d, {
      val p = java.nio.file.Files
        .createTempDirectory("graft_prefix_codes_").toString + "/codes"
      Ann.prefixEncode(t(s, d, "embeddings"), "embedding", "vec_id",
          prefixDim = 16)
        .write.parquet(p)
      p
    })


  private val s12 = QuerySpec("s12_matryoshka_served",
    // Matryoshka/prefix-dimension serving (Kusupati et al. 2022):
    // stage one ranks by L2 over the stored FIRST-16-components table
    // (4× fewer bytes than the fp corpus; per-partition 40-row heap),
    // stage two reranks the survivors by full-64-dim L2 via broadcast
    // join. The oracle replays both stages over array slices —
    // embedding[1:16] against qv[1:16], then the full vectors.
    (s, d) => {
      val e = t(s, d, "embeddings")
      val qv = e.filter(col("vec_id") === 0)
        .select("embedding").collect()(0).getSeq[Float](0)
        .map(_.toDouble).toArray
      Ann.prefixSearchEncoded(s.read.parquet(prefixTableFor(s, d)), e,
          "embedding", "vec_id", qv, prefixDim = 16, k = 10, candMult = 4)
        .select(col("vec_id"),
          round(col("prefix_dist"), 6).as("prefix_dist"),
          round(col("dist"), 6).as("dist"))
    },
    Some(s"""WITH q AS (SELECT list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qv
        FROM embeddings WHERE vec_id = 0),
      cand AS (SELECT e.vec_id,
          ${l2Sql("e.embedding[1:16]", "qv[1:16]")} AS prefix_dist
        FROM embeddings e CROSS JOIN q
        ORDER BY prefix_dist, vec_id LIMIT 40)
      SELECT c.vec_id, round(c.prefix_dist, 6) AS prefix_dist,
        round(${l2Sql("e.embedding", "qv")}, 6) AS dist
      FROM cand c JOIN embeddings e USING (vec_id) CROSS JOIN q
      ORDER BY dist, vec_id LIMIT 10"""))


  private val s13 = QuerySpec("s13_quantizer_ladder",
    // The v22 treatment for the quantizer axis: one query emitting the
    // compression ladder's quality/size trade-off as data — per method
    // (sign 8 B/vec, fp32 prefix-16 64 B, int8 80 B incl. the mn/scale
    // pair; fp32 baseline is 256 B) the recall@10 of its two-stage
    // serve against the EXACT top-10 in the method's own rerank metric
    // (cosine for sign/int8, L2 for prefix). Recall measures what the
    // stage-one CUT loses — the rerank itself is exact — so this is
    // the number an operator reads before choosing a rung. Every
    // stage is total-ordered and ≤ 40 rows leave any scan, and the
    // oracle replays all three ladders plus both exact baselines.
    (s, d) => {
      val e = t(s, d, "embeddings")
      val qv = e.filter(col("vec_id") === 0)
        .select("embedding").collect()(0).getSeq[Float](0)
        .map(_.toDouble).toArray
      val qcol = typedlit(qv.toSeq)
      val emb = col("embedding").cast("array<double>")
      val exactCos = e.select(col("vec_id"),
          graft.functions.VectorFunctions.cosine(emb, qcol).as("s"))
        .orderBy(desc("s"), col("vec_id")).limit(10).select("vec_id")
      val exactL2 = e.select(col("vec_id"),
          graft.functions.VectorFunctions.l2(emb, qcol).as("s"))
        .orderBy(col("s"), col("vec_id")).limit(10).select("vec_id")
      val sign = Ann.signSearchEncoded(s.read.parquet(signTableFor(s, d)),
        e, "embedding", "vec_id", qv, dim = 64, k = 10, candMult = 4)
        .select("vec_id")
      val pref = Ann.prefixSearchEncoded(s.read.parquet(prefixTableFor(s, d)),
        e, "embedding", "vec_id", qv, prefixDim = 16, k = 10, candMult = 4)
        .select("vec_id")
      val int8 = Ann.quantizedSearchEncoded(s.read.parquet(int8TableFor(s, d)),
        e, "embedding", "vec_id", qcol, k = 10, candMult = 4).select("vec_id")
      def row(name: String, got: org.apache.spark.sql.DataFrame,
              truth: org.apache.spark.sql.DataFrame, bytes: Int) =
        got.join(truth, "vec_id")
          .agg(round(count(lit(1)) / 10.0, 6).as("recall_at_10"))
          .select(lit(name).as("method"), col("recall_at_10"),
            lit(bytes).as("bytes_per_vec"))
      row("int8", int8, exactCos, 80)
        .unionByName(row("prefix16", pref, exactL2, 64))
        .unionByName(row("sign", sign, exactCos, 8))
        .orderBy("method")
    },
    Some(s"""WITH q AS (SELECT list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qv
        FROM embeddings WHERE vec_id = 0),
      ed AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
        FROM embeddings),
      exact_cos AS (SELECT vec_id FROM (SELECT vec_id,
          ${cosineSql("e", "qv")} AS s FROM ed CROSS JOIN q
        ORDER BY s DESC, vec_id LIMIT 10)),
      exact_l2 AS (SELECT vec_id FROM (SELECT vec_id,
          ${l2Sql("e", "qv")} AS s FROM ed CROSS JOIN q
        ORDER BY s, vec_id LIMIT 10)),
      sign_cand AS (SELECT vec_id FROM (SELECT ed.vec_id,
          list_sum(list_transform(range(1, len(e) + 1),
            i -> CASE WHEN (e[i] > 0) != (qv[i] > 0) THEN 1 ELSE 0 END)) AS h
        FROM ed CROSS JOIN q ORDER BY h, vec_id LIMIT 40)),
      sign_top AS (SELECT vec_id FROM (SELECT c.vec_id,
          ${cosineSql("e", "qv")} AS s
        FROM sign_cand c JOIN ed USING (vec_id) CROSS JOIN q
        ORDER BY s DESC, vec_id LIMIT 10)),
      pref_cand AS (SELECT vec_id FROM (SELECT ed.vec_id,
          ${l2Sql("e[1:16]", "qv[1:16]")} AS s FROM ed CROSS JOIN q
        ORDER BY s, vec_id LIMIT 40)),
      pref_top AS (SELECT vec_id FROM (SELECT c.vec_id,
          ${l2Sql("e", "qv")} AS s
        FROM pref_cand c JOIN ed USING (vec_id) CROSS JOIN q
        ORDER BY s, vec_id LIMIT 10)),
      m8 AS (SELECT vec_id, e, list_min(e) AS mn, list_max(e) AS mx FROM ed),
      sc8 AS (SELECT vec_id, e, mn,
        CASE WHEN mx = mn THEN 1.0 ELSE (mx - mn) / 255.0 END AS scale FROM m8),
      dq8 AS (SELECT vec_id, e,
        list_transform(e, x -> CAST(round((x - mn) / scale, 0) AS INT) * scale + mn) AS deq
        FROM sc8),
      int8_cand AS (SELECT vec_id, e FROM (SELECT vec_id, e,
          ${cosineSql("deq", "qv")} AS s FROM dq8 CROSS JOIN q
        ORDER BY s DESC, vec_id LIMIT 40)),
      int8_top AS (SELECT vec_id FROM (SELECT vec_id,
          ${cosineSql("e", "qv")} AS s FROM int8_cand CROSS JOIN q
        ORDER BY s DESC, vec_id LIMIT 10))
      SELECT * FROM (
        SELECT 'int8' AS method,
          round((SELECT count(*) FROM int8_top JOIN exact_cos USING (vec_id)) / 10.0, 6) AS recall_at_10,
          80 AS bytes_per_vec
        UNION ALL SELECT 'prefix16',
          round((SELECT count(*) FROM pref_top JOIN exact_l2 USING (vec_id)) / 10.0, 6), 64
        UNION ALL SELECT 'sign',
          round((SELECT count(*) FROM sign_top JOIN exact_cos USING (vec_id)) / 10.0, 6), 8
      ) ORDER BY method"""))


  private val s14 = QuerySpec("s14_sign_batch_served",
    // s11's batch form (the v19 treatment): one scan of the stored
    // sign-code table serves 5 queries — the broadcast query set
    // rides as packed code words, per-query candidate cuts are
    // rank-limit windows (map-side partial group-limits; only nq·40
    // rows per partition cross the exchange), and the exact-cosine rerank
    // joins the bounded survivor set back by broadcast. The oracle
    // replays every query's ladder with per-qid row_number twins of
    // both cuts.
    (s, d) => {
      val e = t(s, d, "embeddings")
      val qs = e.filter(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("embedding").as("qv"))
      Ann.signSearchEncodedBatch(s.read.parquet(signTableFor(s, d)), e,
          "embedding", "vec_id", qs, "qid", "qv", dim = 64, k = 10,
          candMult = 4)
        .select(col("qid"), col("knn_rank"), col("vec_id"), col("hamming"),
          round(col("cos"), 6).as("cos"))
        .orderBy("qid", "knn_rank")
    },
    Some(s"""WITH q AS (SELECT vec_id AS qid,
          list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qv
        FROM embeddings WHERE vec_id < 5),
      ham AS (SELECT q.qid, e.vec_id,
          CAST(list_sum(list_transform(range(1, len(e.embedding) + 1),
            i -> CASE WHEN (CAST(e.embedding[i] AS DOUBLE) > 0) != (qv[i] > 0)
                 THEN 1 ELSE 0 END)) AS BIGINT) AS hamming
        FROM embeddings e CROSS JOIN q),
      cand AS (SELECT qid, vec_id, hamming FROM (
        SELECT qid, vec_id, hamming, row_number() OVER (
            PARTITION BY qid ORDER BY hamming, vec_id) AS rn
        FROM ham) WHERE rn <= 40),
      rr AS (SELECT c.qid, c.vec_id, c.hamming,
          ${cosineSql("e.embedding", "qv")} AS cos
        FROM cand c JOIN embeddings e USING (vec_id)
          JOIN q ON c.qid = q.qid)
      SELECT qid, knn_rank, vec_id, hamming, round(cos, 6) AS cos FROM (
        SELECT qid, vec_id, hamming, cos, row_number() OVER (
            PARTITION BY qid ORDER BY cos DESC, vec_id) AS knn_rank
        FROM rr)
      WHERE knn_rank <= 10 ORDER BY qid, knn_rank"""))


  private val s15 = QuerySpec("s15_int8_batch_served",
    // s10's batch form — the s14 treatment for the int8 rung,
    // completing batch serving across the quantizer ladder: one scan
    // of the stored code table serves 3 queries. Per-query candidate
    // cuts are rank-limit windows (InferWindowGroupLimit partial-izes
    // them map-side — the round-14 idiom, none of the typed
    // Aggregator's per-row cost), the exact-cosine rerank joins the
    // bounded survivors back by broadcast, and the stored code width
    // is asserted in the plan against each query's width. The oracle
    // replays the dequantize (s13's CTE idiom) and both per-qid cuts.
    (s, d) => {
      val e = t(s, d, "embeddings")
      val qs = e.filter(col("vec_id") < 3)
        .select(col("vec_id").as("qid"), col("embedding").as("qv"))
      Ann.quantizedSearchEncodedBatch(s.read.parquet(int8TableFor(s, d)), e,
          "embedding", "vec_id", qs, "qid", "qv", k = 10, candMult = 4)
        .select(col("qid"), col("knn_rank"), col("vec_id"),
          round(col("approx_cos"), 6).as("approx_cos"),
          round(col("cos"), 6).as("cos"))
        .orderBy("qid", "knn_rank")
    },
    Some(s"""WITH q AS (SELECT vec_id AS qid,
          list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qv
        FROM embeddings WHERE vec_id < 3),
      ed AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
        FROM embeddings),
      m8 AS (SELECT vec_id, e, list_min(e) AS mn, list_max(e) AS mx FROM ed),
      sc8 AS (SELECT vec_id, e, mn,
        CASE WHEN mx = mn THEN 1.0 ELSE (mx - mn) / 255.0 END AS scale FROM m8),
      dq8 AS (SELECT vec_id,
        list_transform(e, x -> CAST(round((x - mn) / scale, 0) AS INT) * scale + mn) AS deq
        FROM sc8),
      ap AS (SELECT q.qid, d.vec_id, ${cosineSql("deq", "qv")} AS approx_cos
        FROM dq8 d CROSS JOIN q),
      cand AS (SELECT qid, vec_id, approx_cos FROM (
        SELECT qid, vec_id, approx_cos, row_number() OVER (
            PARTITION BY qid ORDER BY approx_cos DESC, vec_id) AS rn
        FROM ap) WHERE rn <= 40),
      rr AS (SELECT c.qid, c.vec_id, c.approx_cos,
          ${cosineSql("ed.e", "qv")} AS cos
        FROM cand c JOIN ed USING (vec_id) JOIN q ON c.qid = q.qid)
      SELECT qid, knn_rank, vec_id, round(approx_cos, 6) AS approx_cos,
        round(cos, 6) AS cos FROM (
        SELECT qid, vec_id, approx_cos, cos, row_number() OVER (
            PARTITION BY qid ORDER BY cos DESC, vec_id) AS knn_rank
        FROM rr)
      WHERE knn_rank <= 10 ORDER BY qid, knn_rank"""))


  private val s16 = QuerySpec("s16_prefix_batch_served",
    // s12's batch form — the matryoshka rung joins the batch-serving
    // family: one scan of the stored first-16-components table serves
    // 3 queries (per-query prefix-L2 rank-limit cuts), the
    // full-dimension rerank touches only the bounded survivors, and
    // BOTH width contracts (stored prefix vs prefixDim, query length
    // vs prefixDim) are asserted in the plan. Oracle: per-qid
    // row_number twins of both cuts over array slices.
    (s, d) => {
      val e = t(s, d, "embeddings")
      val qs = e.filter(col("vec_id") < 3)
        .select(col("vec_id").as("qid"), col("embedding").as("qv"))
      Ann.prefixSearchEncodedBatch(s.read.parquet(prefixTableFor(s, d)), e,
          "embedding", "vec_id", qs, "qid", "qv", prefixDim = 16, k = 10,
          candMult = 4)
        .select(col("qid"), col("knn_rank"), col("vec_id"),
          round(col("prefix_dist"), 6).as("prefix_dist"),
          round(col("dist"), 6).as("dist"))
        .orderBy("qid", "knn_rank")
    },
    Some(s"""WITH q AS (SELECT vec_id AS qid,
          list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qv
        FROM embeddings WHERE vec_id < 3),
      ed AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
        FROM embeddings),
      pp AS (SELECT q.qid, ed.vec_id,
          ${l2Sql("e[1:16]", "qv[1:16]")} AS prefix_dist
        FROM ed CROSS JOIN q),
      cand AS (SELECT qid, vec_id, prefix_dist FROM (
        SELECT qid, vec_id, prefix_dist, row_number() OVER (
            PARTITION BY qid ORDER BY prefix_dist, vec_id) AS rn
        FROM pp) WHERE rn <= 40),
      rr AS (SELECT c.qid, c.vec_id, c.prefix_dist,
          ${l2Sql("ed.e", "qv")} AS dist
        FROM cand c JOIN ed USING (vec_id) JOIN q ON c.qid = q.qid)
      SELECT qid, knn_rank, vec_id, round(prefix_dist, 6) AS prefix_dist,
        round(dist, 6) AS dist FROM (
        SELECT qid, vec_id, prefix_dist, dist, row_number() OVER (
            PARTITION BY qid ORDER BY dist, vec_id) AS knn_rank
        FROM rr)
      WHERE knn_rank <= 10 ORDER BY qid, knn_rank"""))


  private val s17 = QuerySpec("s17_pq_batch_served",
    // s8's batch form — with s14/s15/s16 this completes batch serving
    // across the WHOLE quantizer ladder (sign/int8/prefix/PQ): one
    // scan of the stored m-byte code table serves 3 queries. Each
    // query's ADC lookup table is computed once per query on the
    // broadcast query frame from the shared deterministic codebook;
    // per-query cuts are
    // rank-limit windows (map-side WindowGroupLimit partials), and the
    // exact rerank touches only the bounded survivors. The oracle
    // shares cb/enc/wide (query-independent encode) with the s6/s8
    // chain and adds per-qid LUT + cut CTEs.
    (s, d) => {
      val e = t(s, d, "embeddings")
      val qs = e.filter(col("vec_id") < 3)
        .select(col("vec_id").as("qid"), col("embedding").as("qv"))
      Ann.pqSearchEncodedBatch(s.read.parquet(pqCodeTableFor(s, d)), e,
          "embedding", "vec_id", pqCodebook(s, d), qs, "qid", "qv",
          k = 10, candMult = 4)
        .select(col("qid"), col("knn_rank"), col("vec_id"),
          round(col("approx_dist"), 6).as("approx_dist"),
          round(col("dist"), 6).as("dist"))
        .orderBy("qid", "knn_rank")
    },
    Some(s"""WITH qs AS (SELECT vec_id AS qid,
          list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qv
        FROM embeddings WHERE vec_id < 3),
      subs AS (SELECT j FROM unnest([0, 1, 2, 3]) AS t(j)),
      cb AS (SELECT j AS sub_idx, vec_id AS code,
          list_transform(embedding[j*16+1 : j*16+16], x -> CAST(x AS DOUBLE)) AS subvec
        FROM embeddings CROSS JOIN subs WHERE vec_id < 16),
      enc AS (SELECT vec_id, sub_idx, code FROM (
        SELECT e.vec_id, c.sub_idx, c.code,
          row_number() OVER (PARTITION BY e.vec_id, c.sub_idx ORDER BY
            list_sum(list_transform(range(1, 17),
              i -> (CAST(e.embedding[c.sub_idx*16 + i] AS DOUBLE) - c.subvec[i])**2)),
            c.code) AS rn
        FROM embeddings e CROSS JOIN cb c) WHERE rn = 1),
      wide AS (SELECT vec_id,
          max(CASE WHEN sub_idx = 0 THEN code END) AS c0,
          max(CASE WHEN sub_idx = 1 THEN code END) AS c1,
          max(CASE WHEN sub_idx = 2 THEN code END) AS c2,
          max(CASE WHEN sub_idx = 3 THEN code END) AS c3
        FROM enc GROUP BY vec_id),
      lut AS (SELECT qs.qid, sub_idx, code,
          list_sum(list_transform(range(1, 17),
            i -> (qs.qv[sub_idx*16 + i] - subvec[i])**2)) AS pd
        FROM cb CROSS JOIN qs),
      lutl AS (SELECT qid, sub_idx, list(pd ORDER BY code) AS l
        FROM lut GROUP BY qid, sub_idx),
      lutw AS (SELECT qid,
          any_value(CASE WHEN sub_idx = 0 THEN l END) AS l0,
          any_value(CASE WHEN sub_idx = 1 THEN l END) AS l1,
          any_value(CASE WHEN sub_idx = 2 THEN l END) AS l2,
          any_value(CASE WHEN sub_idx = 3 THEN l END) AS l3
        FROM lutl GROUP BY qid),
      ap AS (SELECT u.qid, w.vec_id,
          sqrt(u.l0[w.c0 + 1] + u.l1[w.c1 + 1] + u.l2[w.c2 + 1] + u.l3[w.c3 + 1])
            AS approx_dist
        FROM wide w CROSS JOIN lutw u),
      cand AS (SELECT qid, vec_id, approx_dist FROM (
        SELECT qid, vec_id, approx_dist, row_number() OVER (
            PARTITION BY qid ORDER BY approx_dist, vec_id) AS rn
        FROM ap) WHERE rn <= 40),
      rr AS (SELECT c.qid, c.vec_id, c.approx_dist,
          ${l2Sql("e.embedding", "qv")} AS dist
        FROM cand c JOIN embeddings e USING (vec_id)
          JOIN qs ON c.qid = qs.qid)
      SELECT qid, knn_rank, vec_id, round(approx_dist, 6) AS approx_dist,
        round(dist, 6) AS dist FROM (
        SELECT qid, vec_id, approx_dist, dist, row_number() OVER (
            PARTITION BY qid ORDER BY dist, vec_id) AS knn_rank
        FROM rr)
      WHERE knn_rank <= 10 ORDER BY qid, knn_rank"""))


  private val s18 = QuerySpec("s18_ivfpq_batch_served",
    // s9's batch form — IVFADC serving for a query set, BOTH prunings
    // per query: each query's probe list (nprobe=2 of 8) restricts the
    // reader to probed cluster partitions (union filter → static
    // PartitionFilters on the partitionBy(cluster_id) layout) and the
    // (qid, cluster) probe map restricts ADC work to the queries
    // probing each cluster; per-query LUTs ride broadcast, cuts are
    // rank-limit windows, exact rerank of the bounded survivors. The
    // oracle is fully SET-BASED (no per-qid namespacing): probe as a
    // per-qid row_number over queries × centroids, shared
    // assignment/encode CTEs, per-qid LUT + cut twins.
    (s, d) => {
      val e = t(s, d, "embeddings")
      val cent = e.filter(col("vec_id") < 8)
        .select(col("vec_id").as("cid"), col("embedding").as("cvec"))
      val qs = e.filter(col("vec_id") < 3)
        .select(col("vec_id").as("qid"), col("embedding").as("qv"))
      Ann.ivfPqSearchEncodedBatch(s.read.parquet(ivfPqCodeTableFor(s, d)), e,
          "embedding", "vec_id", cent, "cid", "cvec", pqCodebook(s, d),
          qs, "qid", "qv", k = 10, nprobe = 2, candMult = 4)
        .select(col("qid"), col("knn_rank"), col("vec_id"),
          round(col("approx_dist"), 6).as("approx_dist"),
          round(col("dist"), 6).as("dist"))
        .orderBy("qid", "knn_rank")
    },
    Some(s"""WITH qs AS (SELECT vec_id AS qid,
          list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qv
        FROM embeddings WHERE vec_id < 3),
      cent AS (SELECT vec_id AS cid, embedding AS cvec
        FROM embeddings WHERE vec_id < 8),
      assign AS (SELECT e.vec_id, cid,
        row_number() OVER (PARTITION BY e.vec_id
          ORDER BY ${l2Sql("e.embedding", "cvec")}, cid) AS crn
        FROM embeddings e CROSS JOIN cent),
      clusters AS (SELECT vec_id, cid AS cluster_id FROM assign WHERE crn = 1),
      probe AS (SELECT qid, cluster_id FROM (
        SELECT qs.qid, cent.cid AS cluster_id, row_number() OVER (
            PARTITION BY qs.qid ORDER BY ${l2Sql("cvec", "qs.qv")}, cid) AS rn
        FROM cent CROSS JOIN qs) WHERE rn <= 2),
      subs AS (SELECT j FROM unnest([0, 1, 2, 3]) AS t(j)),
      cb AS (SELECT j AS sub_idx, vec_id AS code,
          list_transform(embedding[j*16+1 : j*16+16], x -> CAST(x AS DOUBLE)) AS subvec
        FROM embeddings CROSS JOIN subs WHERE vec_id < 16),
      enc AS (SELECT vec_id, sub_idx, code FROM (
        SELECT e.vec_id, c.sub_idx, c.code,
          row_number() OVER (PARTITION BY e.vec_id, c.sub_idx ORDER BY
            list_sum(list_transform(range(1, 17),
              i -> (CAST(e.embedding[c.sub_idx*16 + i] AS DOUBLE) - c.subvec[i])**2)),
            c.code) AS rn
        FROM embeddings e CROSS JOIN cb c) WHERE rn = 1),
      wide AS (SELECT vec_id,
          max(CASE WHEN sub_idx = 0 THEN code END) AS c0,
          max(CASE WHEN sub_idx = 1 THEN code END) AS c1,
          max(CASE WHEN sub_idx = 2 THEN code END) AS c2,
          max(CASE WHEN sub_idx = 3 THEN code END) AS c3
        FROM enc GROUP BY vec_id),
      lut AS (SELECT qs.qid, sub_idx, code,
          list_sum(list_transform(range(1, 17),
            i -> (qs.qv[sub_idx*16 + i] - subvec[i])**2)) AS pd
        FROM cb CROSS JOIN qs),
      lutl AS (SELECT qid, sub_idx, list(pd ORDER BY code) AS l
        FROM lut GROUP BY qid, sub_idx),
      lutw AS (SELECT qid,
          any_value(CASE WHEN sub_idx = 0 THEN l END) AS l0,
          any_value(CASE WHEN sub_idx = 1 THEN l END) AS l1,
          any_value(CASE WHEN sub_idx = 2 THEN l END) AS l2,
          any_value(CASE WHEN sub_idx = 3 THEN l END) AS l3
        FROM lutl GROUP BY qid),
      ap AS (SELECT p.qid, w.vec_id,
          sqrt(u.l0[w.c0 + 1] + u.l1[w.c1 + 1] + u.l2[w.c2 + 1] + u.l3[w.c3 + 1])
            AS approx_dist
        FROM wide w JOIN clusters cl USING (vec_id)
          JOIN probe p ON p.cluster_id = cl.cluster_id
          JOIN lutw u ON u.qid = p.qid),
      cand AS (SELECT qid, vec_id, approx_dist FROM (
        SELECT qid, vec_id, approx_dist, row_number() OVER (
            PARTITION BY qid ORDER BY approx_dist, vec_id) AS rn
        FROM ap) WHERE rn <= 40),
      rr AS (SELECT c.qid, c.vec_id, c.approx_dist,
          ${l2Sql("e.embedding", "qv")} AS dist
        FROM cand c JOIN embeddings e USING (vec_id)
          JOIN qs ON c.qid = qs.qid)
      SELECT qid, knn_rank, vec_id, round(approx_dist, 6) AS approx_dist,
        round(dist, 6) AS dist FROM (
        SELECT qid, vec_id, approx_dist, dist, row_number() OVER (
            PARTITION BY qid ORDER BY dist, vec_id) AS knn_rank
        FROM rr)
      WHERE knn_rank <= 10 ORDER BY qid, knn_rank"""))


  private val s5 = QuerySpec("s5_quantized_search",
    // Search over the int8-quantized store (s3's artifact put to
    // work): approx-cosine candidates from the dequantized codes —
    // the 4×-smaller representation a 100 TB scan reads — then exact
    // rerank of the top-40 survivors only. Both stages are total-
    // ordered (score desc, id), so the two-stage cut is deterministic
    // and the oracle replays it stage for stage.
    (s, d) => {
      val e = t(s, d, "embeddings").crossJoin(broadcast(
        queryVec(s, d, 0).select(col("qv").cast("array<double>").as("qv"))))
      Ann.quantizedSearch(e, "embedding", "vec_id", col("qv"), k = 10, candMult = 4)
        .select(col("vec_id"), round(col("approx_cos"), 6).as("approx_cos"),
          round(col("cos"), 6).as("cos"))
    },
    Some(int8SearchOracle))

  /** Shared by s5 (inline) and s10 (served) — identical pipelines by
    * construction, one oracle. */
  private lazy val int8SearchOracle: String =
    s"""WITH q AS (SELECT list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qv
        FROM embeddings WHERE vec_id = 0),
      e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
        FROM embeddings),
      m AS (SELECT vec_id, e, list_min(e) AS mn, list_max(e) AS mx FROM e),
      sc AS (SELECT vec_id, e, mn,
        CASE WHEN mx = mn THEN 1.0 ELSE (mx - mn) / 255.0 END AS scale FROM m),
      dq AS (SELECT vec_id, e,
        list_transform(e, x -> CAST(round((x - mn) / scale, 0) AS INT) * scale + mn) AS deq
        FROM sc),
      cand AS (SELECT vec_id, e, ${cosineSql("deq", "qv")} AS approx_cos
        FROM dq CROSS JOIN q ORDER BY approx_cos DESC, vec_id LIMIT 40)
      SELECT vec_id, round(approx_cos, 6) AS approx_cos,
        round(${cosineSql("e", "qv")}, 6) AS cos
      FROM cand CROSS JOIN q ORDER BY cos DESC, vec_id LIMIT 10"""


  /** DuckDB mirror of the PQ pipeline (Ann.pqEncode + pqSearch) over a
    * `pool` relation with (vec_id, embedding): deterministic codebook
    * (subvectors of vec_id < 16, m=4 × subDim=16 over dim 64), argmin
    * encode with (dist, code) tie-break, query LUT, ADC candidate cut
    * at `candLimit` — the exact Spark fold order (j ascending,
    * left-assoc adds, sqrt last). Expects a `q(qv)` CTE in scope.
    * Shared by s6 (whole corpus) and s7 (IVF-probed pool) so the two
    * oracles can never drift on the quantization arithmetic. */
  private def pqCtes(pool: String, candLimit: Int): String =
    s"""subs AS (SELECT j FROM unnest([0, 1, 2, 3]) AS t(j)),
      cb AS (SELECT j AS sub_idx, vec_id AS code,
          list_transform(embedding[j*16+1 : j*16+16], x -> CAST(x AS DOUBLE)) AS subvec
        FROM embeddings CROSS JOIN subs WHERE vec_id < 16),
      enc AS (SELECT vec_id, sub_idx, code FROM (
        SELECT e.vec_id, c.sub_idx, c.code,
          row_number() OVER (PARTITION BY e.vec_id, c.sub_idx ORDER BY
            list_sum(list_transform(range(1, 17),
              i -> (CAST(e.embedding[c.sub_idx*16 + i] AS DOUBLE) - c.subvec[i])**2)),
            c.code) AS rn
        FROM $pool e CROSS JOIN cb c) WHERE rn = 1),
      wide AS (SELECT vec_id,
          max(CASE WHEN sub_idx = 0 THEN code END) AS c0,
          max(CASE WHEN sub_idx = 1 THEN code END) AS c1,
          max(CASE WHEN sub_idx = 2 THEN code END) AS c2,
          max(CASE WHEN sub_idx = 3 THEN code END) AS c3
        FROM enc GROUP BY vec_id),
      lut AS (SELECT sub_idx, code,
          list_sum(list_transform(range(1, 17),
            i -> (q.qv[sub_idx*16 + i] - subvec[i])**2)) AS pd
        FROM cb CROSS JOIN q),
      lutl AS (SELECT
          (SELECT list(pd ORDER BY code) FROM lut WHERE sub_idx = 0) AS l0,
          (SELECT list(pd ORDER BY code) FROM lut WHERE sub_idx = 1) AS l1,
          (SELECT list(pd ORDER BY code) FROM lut WHERE sub_idx = 2) AS l2,
          (SELECT list(pd ORDER BY code) FROM lut WHERE sub_idx = 3) AS l3),
      cand AS (SELECT w.vec_id,
          sqrt(l0[w.c0 + 1] + l1[w.c1 + 1] + l2[w.c2 + 1] + l3[w.c3 + 1]) AS approx_dist
        FROM wide w CROSS JOIN lutl
        ORDER BY approx_dist, vec_id LIMIT $candLimit)"""


  /** Exact-rerank tail shared by the s6/s7 oracles. */
  private def pqFinalSelect(pool: String, k: Int): String =
    s"""SELECT vec_id, round(approx_dist, 6) AS approx_dist, round(dist, 6) AS dist
      FROM (SELECT c.vec_id, c.approx_dist, ${l2Sql("e.embedding", "q.qv")} AS dist
        FROM cand c JOIN $pool e USING (vec_id) CROSS JOIN q)
      ORDER BY dist, vec_id LIMIT $k"""


  /** The deterministic oracle codebook shared by s6/s7/s8 (subvectors
    * of vec_id < 16 → m=4 × 16-codeword subspaces over dim 64) — kept
    * in ONE place so the three queries can never drift on the
    * quantization setup, exactly like [[pqCtes]] on the oracle side. */
  private def pqCodebook(s: SparkSession, d: String): DataFrame = {
    val embD = col("embedding").cast("array<double>")
    t(s, d, "embeddings").filter(col("vec_id") < 16)
      .select(explode(array((0 until 4).map(j => struct(
        lit(j).as("sub_idx"), col("vec_id").as("code"),
        slice(embD, j * 16 + 1, 16).as("subvec"))): _*)).as("r"))
      .select(col("r.sub_idx"), col("r.code"), col("r.subvec"))
  }


  /** The s6 query-vector collect shared with s7/s8. */
  private def pqQueryVec(s: SparkSession, d: String): Array[Double] =
    t(s, d, "embeddings").filter(col("vec_id") === 0)
      .select("embedding").collect()(0).getSeq[Float](0).map(_.toDouble).toArray


  /** One oracle for s6 AND s8: the two Spark paths (inline encode vs
    * pre-stored codes) are row-identical by construction (AnnSpec
    * asserts), so they share the SQL verbatim. */
  private val pqSearchOracle: String =
    s"""WITH q AS (SELECT list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qv
        FROM embeddings WHERE vec_id = 0),
      ${pqCtes(pool = "embeddings", candLimit = 40)}
      ${pqFinalSelect(pool = "embeddings", k = 10)}"""


  private val s6 = QuerySpec("s6_pq_search",
    // Product quantization (Jégou et al. 2011): the corpus is stored
    // as m=4 codes over 16-codeword subspace codebooks (4 small ints
    // instead of 64 floats — the representation a 100 TB deployment
    // scans), searched by ADC (query-side LUT of subspace squared
    // distances, m lookups + adds per row), then the top k·candMult
    // survivors rerank exactly. Deterministic codebook (subvectors of
    // vec_id < 16) so encode + LUT + both cuts sit inside the DuckDB
    // oracle; production codebooks come from Ann.pqTrainCodebooks
    // (per-subspace MLlib k-means), the same swap as s2 → s4.
    // NOTE: this form times index-BUILD + search (encode is inline,
    // measured ~90% of the cost); s8 times the serving path against
    // the pre-stored code artifact.
    (s, d) => {
      val e = t(s, d, "embeddings")
      Ann.pqSearch(e, "embedding", "vec_id", pqCodebook(s, d), pqQueryVec(s, d),
          k = 10, candMult = 4)
        .select(col("vec_id"), round(col("approx_dist"), 6).as("approx_dist"),
          round(col("dist"), 6).as("dist"))
    },
    Some(pqSearchOracle))


  /** PQ code table persisted ONCE per sf dir (the d12 band-index /
    * i1 posting-index pattern): `pqEncodeBig` output — (vec_id,
    * pq_codes), the m-small-ints-per-vector artifact an index build
    * emits — written to parquet so s8 measures what a deployment
    * actually pays per query: a codes-only columnar scan + bounded
    * rerank, with the encode cost paid once here at "index time".
    * TrieMap-guarded for the same reason as [[bandIndexPaths]]: a
    * lost race builds the artifact twice, never wrong. */
  private val pqCodePaths = scala.collection.concurrent.TrieMap.empty[String, String]

  private def pqCodeTableFor(s: SparkSession, d: String): String =
    pqCodePaths.getOrElseUpdate(d, {
      val p = java.nio.file.Files.createTempDirectory("graft_pq_codes_").toString + "/codes"
      Ann.pqEncodeBig(t(s, d, "embeddings"), "embedding", pqCodebook(s, d))
        .select("vec_id", "pq_codes")
        .write.parquet(p)
      p
    })


  private val s8 = QuerySpec("s8_pq_served",
    // The PQ SERVING path (what a deployment runs per query): stage
    // one scans ONLY the pre-stored (vec_id, pq_codes) parquet — m
    // bytes per vector, never the fp embeddings — ADC-scores it with
    // the query-side LUT, and the ≤ k·candMult survivors broadcast
    // into a semi-lookup against the vector table for the exact
    // rerank. Encode cost (90% of s6's time) moved to index build
    // where production pays it once. Row-identical to s6 by
    // construction (same codebook, same cuts, same tie-breaks;
    // AnnSpec asserts) — the oracle IS s6's.
    (s, d) => {
      val e = t(s, d, "embeddings")
      Ann.pqSearchEncoded(s.read.parquet(pqCodeTableFor(s, d)), e,
          "embedding", "vec_id", pqCodebook(s, d), pqQueryVec(s, d),
          k = 10, candMult = 4)
        .select(col("vec_id"), round(col("approx_dist"), 6).as("approx_dist"),
          round(col("dist"), 6).as("dist"))
    },
    Some(pqSearchOracle))


  /** One oracle for s7 AND s9 (the inline/served IVFADC pair — the
    * s6/s8 relationship one pruning level up). */
  private val ivfPqOracle: String =
    s"""WITH q AS (SELECT list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qv
        FROM embeddings WHERE vec_id = 0),
      cent AS (SELECT vec_id AS cid, embedding AS cvec
        FROM embeddings WHERE vec_id < 8),
      assign AS (SELECT e.vec_id, e.embedding, cid,
        row_number() OVER (PARTITION BY e.vec_id
          ORDER BY ${l2Sql("e.embedding", "cvec")}, cid) AS crn
        FROM embeddings e CROSS JOIN cent),
      clusters AS (SELECT vec_id, embedding, cid AS cluster_id
        FROM assign WHERE crn = 1),
      probe AS (SELECT cid AS cluster_id FROM cent CROSS JOIN q
        ORDER BY ${l2Sql("cvec", "q.qv")}, cid LIMIT 2),
      pool AS (SELECT c.vec_id, c.embedding
        FROM clusters c JOIN probe USING (cluster_id)),
      ${pqCtes(pool = "pool", candLimit = 40)}
      ${pqFinalSelect(pool = "pool", k = 10)}"""


  /** Cluster-keyed PQ code table persisted ONCE per sf dir — the IVFADC
    * index artifact (coarse assignment + codes, both build-time costs),
    * written partitionBy(cluster_id) so s9's probe prunes partitions at
    * the reader (the ivfSearchStore layout). */
  private val ivfVecPaths = scala.collection.concurrent.TrieMap.empty[String, String]

  /** Stored plain-IVF index with toy (DuckDB-replayable) centroids:
    * full vectors + the `label` metadata column, cluster-partitioned
    * by IndexStore.write — the layout v15's filtered serve reads with
    * static partition pruning + predicate pushdown in one scan. */
  private def ivfVecTableFor(s: SparkSession, d: String): String =
    ivfVecPaths.getOrElseUpdate(d, {
      val p = java.nio.file.Files
        .createTempDirectory("graft_ivf_vecs_").toString + "/index"
      val e = t(s, d, "embeddings")
      val cent = e.filter(col("vec_id") < 8)
        .select(col("vec_id").as("cid"), col("embedding").as("cvec"))
      graft.sources.IndexStore.write(
        Ann.ivfAssign(e, "embedding", "vec_id", cent, "cid", "cvec")
          .select("cluster_id", "vec_id", "embedding", "label"), p)
      p
    })


  private val v15 = QuerySpec("v15_filtered_ivf_serve",
    // Metadata-filtered ANN serving (Ann.ivfSearchStoreWhere): the
    // "vector search WHERE tenant/license/label = ..." shape every
    // production vector store exposes, served from the stored
    // cluster-partitioned index so both prunings land in ONE scan —
    // the probe list as static PartitionFilters, the label predicate
    // as parquet PushedFilters (AnnSpec pins both in the plan).
    // PRE-filter semantics: exact top-k among matching rows inside
    // the probed clusters. Toy centroids keep the whole composition
    // DuckDB-replayable — assignment, probe rule, filter, cut and
    // tie-breaks all hash-checked.
    (s, d) => {
      val e = t(s, d, "embeddings")
      val cent = e.filter(col("vec_id") < 8)
        .select(col("vec_id").as("cid"), col("embedding").as("cvec"))
      val qv = typedlit(e.filter(col("vec_id") === 0)
        .select("embedding").collect()(0).getSeq[Float](0).map(_.toDouble))
      Ann.ivfSearchStoreWhere(s, ivfVecTableFor(s, d), "embedding",
          "vec_id", cent, "cid", "cvec", qv, k = 10, nprobe = 3,
          predicate = col("label").isin(0, 2, 4))
        .select(col("vec_id"), col("cluster_id").cast("long").as("cluster_id"),
          col("label"), round(col("dist"), 6).as("dist"))
    },
    Some(s"""WITH cent AS (SELECT vec_id AS cid, embedding AS cvec
        FROM embeddings WHERE vec_id < 8),
      q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
      assign AS (SELECT e.vec_id, e.embedding, e.label, cid,
        row_number() OVER (PARTITION BY e.vec_id
          ORDER BY ${l2Sql("e.embedding", "cvec")}, cid) AS crn
        FROM embeddings e CROSS JOIN cent),
      clusters AS (SELECT vec_id, embedding, label, cid AS cluster_id
        FROM assign WHERE crn = 1),
      probe AS (SELECT cid AS cluster_id FROM cent CROSS JOIN q
        ORDER BY ${l2Sql("cvec", "q.qv")}, cid LIMIT 3)
      SELECT vec_id, cluster_id, label, round(dist, 6) AS dist FROM (
        SELECT c.vec_id, c.cluster_id, c.label,
          ${l2Sql("c.embedding", "q.qv")} AS dist
        FROM clusters c JOIN probe USING (cluster_id) CROSS JOIN q
        WHERE c.label IN (0, 2, 4))
      ORDER BY dist, vec_id LIMIT 10"""))


  private val v16 = QuerySpec("v16_tombstone_ivf_serve",
    // Tombstone-aware ANN serving (Ann.ivfSearchStoreExcluding): the
    // deletes-between-rebuilds shape every production vector store
    // has to handle — the cluster-partitioned index stays immutable,
    // deletes accumulate in a small tombstone table, and serving
    // anti-joins it (broadcast) BEFORE the exact cut so a deleted id
    // can never surface and top-k stays exact over live rows. Every
    // 17th vector is deleted — including vec_id 0, the query vector
    // itself, so the query-for-a-deleted-doc path is exercised too.
    // Probe pruning is s9/v15's static PartitionFilters; the oracle
    // replays assignment, probe rule, delete set, cut and tie-breaks.
    (s, d) => {
      val e = t(s, d, "embeddings")
      val cent = e.filter(col("vec_id") < 8)
        .select(col("vec_id").as("cid"), col("embedding").as("cvec"))
      val qv = typedlit(e.filter(col("vec_id") === 0)
        .select("embedding").collect()(0).getSeq[Float](0).map(_.toDouble))
      val tomb = e.filter(col("vec_id") % 17 === 0)
        .select(col("vec_id").as("deleted_id"))
      Ann.ivfSearchStoreExcluding(s, ivfVecTableFor(s, d), "embedding",
          "vec_id", cent, "cid", "cvec", qv, k = 10, nprobe = 3,
          tombstones = tomb, tombIdCol = "deleted_id")
        .select(col("vec_id"), col("cluster_id").cast("long").as("cluster_id"),
          round(col("dist"), 6).as("dist"))
    },
    Some(s"""WITH cent AS (SELECT vec_id AS cid, embedding AS cvec
        FROM embeddings WHERE vec_id < 8),
      q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
      assign AS (SELECT e.vec_id, e.embedding, cid,
        row_number() OVER (PARTITION BY e.vec_id
          ORDER BY ${l2Sql("e.embedding", "cvec")}, cid) AS crn
        FROM embeddings e CROSS JOIN cent),
      clusters AS (SELECT vec_id, embedding, cid AS cluster_id
        FROM assign WHERE crn = 1),
      probe AS (SELECT cid AS cluster_id FROM cent CROSS JOIN q
        ORDER BY ${l2Sql("cvec", "q.qv")}, cid LIMIT 3)
      SELECT vec_id, cluster_id, round(dist, 6) AS dist FROM (
        SELECT c.vec_id, c.cluster_id,
          ${l2Sql("c.embedding", "q.qv")} AS dist
        FROM clusters c JOIN probe USING (cluster_id) CROSS JOIN q
        WHERE c.vec_id % 17 <> 0)
      ORDER BY dist, vec_id LIMIT 10"""))


  /** v17 artifact: the full corpus indexed once, then every 13th doc
    * RE-EMBEDDED (deterministically borrows its successor's vector —
    * DuckDB-replayable; the last doc, successor-less, keeps its own)
    * and upserted via [[graft.sources.IndexStore.upsertReassigned]],
    * which purges each old copy from its ORIGINAL cluster before the
    * new row lands in its possibly-different one. Build + upsert are
    * cached build-time costs (the s9/v15 treatment); the timed query
    * is the serve. The upsert is idempotent, so a cache miss after a
    * restart just re-applies it. */
  private val upsertIvfPaths = scala.collection.concurrent.TrieMap.empty[String, String]

  private def upsertedIvfTableFor(s: SparkSession, d: String): String =
    upsertIvfPaths.getOrElseUpdate(d, {
      val p = java.nio.file.Files
        .createTempDirectory("graft_ivf_upsert_").toString + "/index"
      val e = t(s, d, "embeddings")
      val cent = e.filter(col("vec_id") < 8)
        .select(col("vec_id").as("cid"), col("embedding").as("cvec"))
      graft.sources.IndexStore.write(
        Ann.ivfAssign(e, "embedding", "vec_id", cent, "cid", "cvec")
          .select("cluster_id", "vec_id", "embedding"), p)
      val nxt = e.select(col("vec_id").as("nid"), col("embedding").as("nemb"))
      val delta = e.filter(col("vec_id") % 13 === 0)
        .join(nxt, col("nid") === col("vec_id") + 1, "left")
        .select(col("vec_id"), coalesce(col("nemb"), col("embedding")).as("embedding"))
      graft.sources.IndexStore.upsertReassigned(s, p,
        Ann.ivfAssign(delta, "embedding", "vec_id", cent, "cid", "cvec")
          .select("cluster_id", "vec_id", "embedding"), "vec_id")
      p
    })


  private val v17 = QuerySpec("v17_ivf_upsert_serve",
    // Serving after an in-place index UPSERT with cluster moves: every
    // 13th doc re-embedded (successor's vector), so its Voronoi cell —
    // and with it the cluster directory holding it — can change.
    // IndexStore.upsertReassigned rewrites ONLY the affected cluster
    // partitions: old copies are purged wherever they lived, new rows
    // land re-assigned, untouched clusters' files are never read
    // (cost ∝ batch + affected partitions — the i2/d15 economics
    // applied to the vector index). The serve is the plain s9/v15
    // partition-pruned read; the oracle replays re-embedding,
    // assignment over the MERGED corpus, probe rule, cut and
    // tie-breaks, so a stale un-purged copy or a lost row would flip
    // the hash. IndexStoreSpec pins merged == from-scratch identity.
    (s, d) => {
      val e = t(s, d, "embeddings")
      val cent = e.filter(col("vec_id") < 8)
        .select(col("vec_id").as("cid"), col("embedding").as("cvec"))
      val qv = typedlit(e.filter(col("vec_id") === 0)
        .select("embedding").collect()(0).getSeq[Float](0).map(_.toDouble))
      Ann.ivfSearchStore(s, upsertedIvfTableFor(s, d), "embedding",
          "vec_id", cent, "cid", "cvec", qv, k = 10, nprobe = 3)
        .select(col("vec_id"), col("cluster_id").cast("long").as("cluster_id"),
          round(col("dist"), 6).as("dist"))
    },
    Some(s"""WITH cent AS (SELECT vec_id AS cid, embedding AS cvec
        FROM embeddings WHERE vec_id < 8),
      q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
      corpus AS (
        SELECT vec_id, embedding FROM embeddings WHERE vec_id % 13 <> 0
        UNION ALL
        SELECT e.vec_id, coalesce(n.embedding, e.embedding) AS embedding
          FROM embeddings e LEFT JOIN embeddings n ON n.vec_id = e.vec_id + 1
          WHERE e.vec_id % 13 = 0),
      assign AS (SELECT c0.vec_id, c0.embedding, cid,
        row_number() OVER (PARTITION BY c0.vec_id
          ORDER BY ${l2Sql("c0.embedding", "cvec")}, cid) AS crn
        FROM corpus c0 CROSS JOIN cent),
      clusters AS (SELECT vec_id, embedding, cid AS cluster_id
        FROM assign WHERE crn = 1),
      probe AS (SELECT cid AS cluster_id FROM cent CROSS JOIN q
        ORDER BY ${l2Sql("cvec", "q.qv")}, cid LIMIT 3)
      SELECT vec_id, cluster_id, round(dist, 6) AS dist FROM (
        SELECT c.vec_id, c.cluster_id,
          ${l2Sql("c.embedding", "q.qv")} AS dist
        FROM clusters c JOIN probe USING (cluster_id) CROSS JOIN q)
      ORDER BY dist, vec_id LIMIT 10"""))


  private val v19 = QuerySpec("v19_ivf_batch_serve",
    // BATCH serving from the stored index (Ann.ivfSearchStoreBatch):
    // the throughput shape a production deployment actually runs —
    // a query batch amortizes ONE scan of the stored index instead
    // of per-query round-trips. The union of all probed clusters
    // becomes a static PartitionFilters isin on the cluster_id
    // layout (the scan lists only directories some query probes);
    // inside it, the broadcast probe join fans rows out only to the
    // queries probing their cluster, and the bounded TopK aggregation
    // ships ≤ k rows per (query × partition). The oracle replays
    // per-query probe selection and per-query exact top-k inside the
    // probed clusters, rank column included.
    (s, d) => {
      val e = t(s, d, "embeddings")
      val cent = e.filter(col("vec_id") < 8)
        .select(col("vec_id").as("cid"), col("embedding").as("cvec"))
      val qs = e.filter(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("embedding").as("qv"))
      Ann.ivfSearchStoreBatch(s, ivfVecTableFor(s, d), "embedding",
          "vec_id", cent, "cid", "cvec", qs, "qid", "qv",
          k = 10, nprobe = 3)
        .select(col("qid"), col("knn_rank"), col("vec_id"),
          round(col("dist"), 6).as("dist"))
        .orderBy("qid", "knn_rank")
    },
    Some(s"""WITH cent AS (SELECT vec_id AS cid, embedding AS cvec
        FROM embeddings WHERE vec_id < 8),
      q AS (SELECT vec_id AS qid, embedding AS qv
        FROM embeddings WHERE vec_id < 5),
      assign AS (SELECT e.vec_id, e.embedding, cid,
        row_number() OVER (PARTITION BY e.vec_id
          ORDER BY ${l2Sql("e.embedding", "cvec")}, cid) AS crn
        FROM embeddings e CROSS JOIN cent),
      clusters AS (SELECT vec_id, embedding, cid AS cluster_id
        FROM assign WHERE crn = 1),
      probes AS (SELECT qid, qv, cluster_id FROM (
        SELECT q.qid, q.qv, cid AS cluster_id,
          row_number() OVER (PARTITION BY q.qid
            ORDER BY ${l2Sql("cvec", "q.qv")}, cid) AS pr
        FROM cent CROSS JOIN q) WHERE pr <= 3)
      SELECT qid, CAST(rnk AS INT) AS knn_rank, vec_id,
        round(dist, 6) AS dist FROM (
        SELECT p.qid, c.vec_id, ${l2Sql("c.embedding", "p.qv")} AS dist,
          row_number() OVER (PARTITION BY p.qid
            ORDER BY ${l2Sql("c.embedding", "p.qv")}, c.vec_id) AS rnk
        FROM clusters c JOIN probes p USING (cluster_id))
      WHERE rnk <= 10 ORDER BY qid, knn_rank"""))


  /** v20's occupancy table, computed once per sf dir (the index is
    * immutable here): the sizes input a serving loop keeps per index
    * version instead of re-scanning occupancy per query. */
  private val ivfSizesCache = scala.collection.concurrent.TrieMap.empty[String, Map[Long, Long]]

  private def ivfSizesFor(s: SparkSession, d: String): Map[Long, Long] =
    ivfSizesCache.getOrElseUpdate(d, Ann.clusterSizes(s, ivfVecTableFor(s, d)))


  private val v20 = QuerySpec("v20_adaptive_probe",
    // ADAPTIVE-nprobe serving (Ann.ivfSearchStoreAdaptive): the probe
    // count is not a config constant but the fewest distance-ranked
    // clusters whose stored occupancies cover k·candMult candidates —
    // a pure function of the index and the query vector, so the
    // whole adaptive decision is replayed in SQL (cumulative sum over
    // ranked cluster sizes) and hash-checked, not just spot-tested.
    // The emitted n_probed is the serving monitor's occupancy-drift
    // dial. Same static-PartitionFilters scan as v14/s9; toy
    // centroids keep assignment DuckDB-replayable. At sf0.01 (500
    // vecs, 8 clusters) target 100 probes ~2 clusters; at sf0.1 the
    // denser clusters cover it with 1 — the per-sf variation IS the
    // adaptivity, pinned per-sf by the driver's hash.
    (s, d) => {
      val e = t(s, d, "embeddings")
      val cent = e.filter(col("vec_id") < 8)
        .select(col("vec_id").as("cid"), col("embedding").as("cvec"))
      val qv = typedlit(e.filter(col("vec_id") === 0)
        .select("embedding").collect()(0).getSeq[Float](0).map(_.toDouble))
      Ann.ivfSearchStoreAdaptive(s, ivfVecTableFor(s, d), "embedding",
          "vec_id", cent, "cid", "cvec", qv, k = 10, candMult = 10,
          maxProbe = 8, ivfSizesFor(s, d))
        .select(col("vec_id"), col("cluster_id").cast("long").as("cluster_id"),
          round(col("dist"), 6).as("dist"), col("n_probed"))
    },
    Some(s"""WITH cent AS (SELECT vec_id AS cid, embedding AS cvec
        FROM embeddings WHERE vec_id < 8),
      q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
      assign AS (SELECT e.vec_id, e.embedding, cid,
        row_number() OVER (PARTITION BY e.vec_id
          ORDER BY ${l2Sql("e.embedding", "cvec")}, cid) AS crn
        FROM embeddings e CROSS JOIN cent),
      clusters AS (SELECT vec_id, embedding, cid AS cluster_id
        FROM assign WHERE crn = 1),
      sizes AS (SELECT cluster_id, count(*) AS n FROM clusters GROUP BY 1),
      ranked AS (SELECT cid, row_number() OVER (
          ORDER BY ${l2Sql("cvec", "qv")}, cid) AS rn
        FROM cent CROSS JOIN q),
      cum AS (SELECT rn, cid, sum(coalesce(n, 0)) OVER (ORDER BY rn) AS c
        FROM ranked LEFT JOIN sizes ON cid = cluster_id),
      pick AS (SELECT coalesce(min(CASE WHEN c >= 100 THEN rn END),
          (SELECT max(rn) FROM cum)) AS p FROM cum),
      probed AS (SELECT cid FROM cum, pick WHERE rn <= p)
      SELECT vec_id, cluster_id, round(dist, 6) AS dist,
        (SELECT p FROM pick) AS n_probed FROM (
        SELECT cl.vec_id, cl.cluster_id,
          ${l2Sql("cl.embedding", "qv")} AS dist
        FROM clusters cl JOIN probed ON cl.cluster_id = probed.cid
        CROSS JOIN q)
      ORDER BY dist, vec_id LIMIT 10"""))


  /** One candidate index's half of the v21 A/B oracle: assignment,
    * probe selection, IVF top-10, per-query recall vs the shared
    * exact top-10, per-query candidate volume, and the per-index
    * roll-up — all tagged so two candidates coexist in one WITH. */
  private def abIndexSql(tag: String, centWhere: String): String =
    s"""cent_$tag AS (SELECT vec_id AS cid, embedding AS cvec
        FROM embeddings WHERE $centWhere),
      assign_$tag AS (SELECT e.vec_id, e.embedding, cid,
        row_number() OVER (PARTITION BY e.vec_id
          ORDER BY ${l2Sql("e.embedding", "cvec")}, cid) AS crn
        FROM embeddings e CROSS JOIN cent_$tag),
      clusters_$tag AS (SELECT vec_id, embedding, cid AS cluster_id
        FROM assign_$tag WHERE crn = 1),
      sizes_$tag AS (SELECT cluster_id, count(*) AS csz
        FROM clusters_$tag GROUP BY 1),
      probes_$tag AS (SELECT qid, qv, cluster_id FROM (
        SELECT q.qid, q.qv, cid AS cluster_id,
          row_number() OVER (PARTITION BY q.qid
            ORDER BY ${l2Sql("cvec", "q.qv")}, cid) AS pr
        FROM cent_$tag CROSS JOIN q) WHERE pr <= 2),
      ivf_$tag AS (SELECT qid, vec_id FROM (
        SELECT p.qid, c.vec_id,
          row_number() OVER (PARTITION BY p.qid
            ORDER BY ${l2Sql("c.embedding", "p.qv")}, c.vec_id) AS rnk
        FROM clusters_$tag c JOIN probes_$tag p USING (cluster_id))
        WHERE rnk <= 10),
      rec_$tag AS (SELECT ex.qid,
          count(iv.vec_id) / 10.0 AS recall
        FROM exact ex LEFT JOIN ivf_$tag iv
          ON ex.qid = iv.qid AND ex.vec_id = iv.vec_id
        GROUP BY ex.qid),
      cand_$tag AS (SELECT p.qid, sum(s.csz) AS n_cand
        FROM probes_$tag p JOIN sizes_$tag s USING (cluster_id)
        GROUP BY p.qid),
      m_$tag AS (SELECT '$tag' AS index_id,
        round(avg(recall), 6) AS mean_recall,
        round(avg(n_cand), 2) AS mean_candidates
        FROM rec_$tag JOIN cand_$tag USING (qid))"""


  private val v21 = QuerySpec("v21_index_ab_gate",
    // The index RELEASE GATE: two candidate IVF indexes (different
    // centroid sets) scored on the same query set — mean recall@10
    // vs the shared exact top-10 and mean probed-candidate volume
    // (the serving-cost proxy) — with the winner picked by
    // (recall desc, cost asc, id asc). This is the comparison
    // IndexMaintenance's validate step runs before a flip, here as a
    // first-class oracle-checked report: toy centroid sets keep BOTH
    // candidates' assignment/probe/recall math DuckDB-replayable, so
    // the verdict itself is hash-checked, not asserted.
    (s, d) => {
      val e = t(s, d, "embeddings")
      val qs = e.filter(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("embedding").as("qv"))
      val exact = Knn.batchAgg(e, "embedding", "vec_id", qs, "qid", "qv", 10)
        .select(col("qid"), col("vec_id"))
      def evalIndex(tag: String, cent: DataFrame): DataFrame = {
        val assigned = Ann.ivfAssignBig(e, "embedding", "vec_id",
          cent, "cid", "cvec")
        val ivf = Ann.ivfSearchBatch(assigned, "embedding", "vec_id",
            cent, "cid", "cvec", qs, "qid", "qv", k = 10, nprobe = 2)
          .select(col("qid"), col("vec_id"), lit(1).as("__hit"))
        val rec = exact.join(ivf, Seq("qid", "vec_id"), "left")
          .groupBy("qid").agg((count(col("__hit")) / 10.0).as("recall"))
        val sizes = assigned.groupBy("cluster_id")
          .agg(count(lit(1)).as("csz"))
        val probes = qs.select(col("qid"), explode(Ann.probeCellsUdf(
          Ann.Probe(cent, "cid", "cvec", 2))(col("qv"))).as("cluster_id"))
        val cand = probes.join(sizes, Seq("cluster_id"))
          .groupBy("qid").agg(sum("csz").as("n_cand"))
        rec.join(cand, Seq("qid"))
          .agg(round(avg("recall"), 6).as("mean_recall"),
            round(avg("n_cand"), 2).as("mean_candidates"))
          .select(lit(tag).as("index_id"), col("mean_recall"),
            col("mean_candidates"))
      }
      val cA = e.filter(col("vec_id") < 8)
        .select(col("vec_id").as("cid"), col("embedding").as("cvec"))
      val cB = e.filter(col("vec_id") >= 8 && col("vec_id") < 16)
        .select(col("vec_id").as("cid"), col("embedding").as("cvec"))
      val both = evalIndex("a", cA).unionByName(evalIndex("b", cB))
      val ww = Window.orderBy(desc("mean_recall"),
        asc("mean_candidates"), asc("index_id"))
      both.withColumn("is_winner", row_number().over(ww) === 1)
        .orderBy("index_id")
    },
    Some(s"""WITH q AS (SELECT vec_id AS qid, embedding AS qv
        FROM embeddings WHERE vec_id < 5),
      exact AS (SELECT qid, vec_id FROM (
        SELECT q.qid, e.vec_id,
          row_number() OVER (PARTITION BY q.qid
            ORDER BY ${l2Sql("e.embedding", "q.qv")}, e.vec_id) AS rnk
        FROM embeddings e CROSS JOIN q) WHERE rnk <= 10),
      ${abIndexSql("a", "vec_id < 8")},
      ${abIndexSql("b", "vec_id >= 8 AND vec_id < 16")},
      ab AS (SELECT * FROM m_a UNION ALL SELECT * FROM m_b)
      SELECT index_id, mean_recall, mean_candidates,
        (row_number() OVER (ORDER BY mean_recall DESC,
          mean_candidates ASC, index_id ASC) = 1) AS is_winner
      FROM ab ORDER BY index_id"""))


  /** v18 artifact: a private copy of the v15/v16 index layout with
    * v16's tombstone set (every 17th id) COMPACTED into the files —
    * only the clusters holding a tombstoned row are rewritten, and a
    * fully-emptied cluster loses its directory. Cached build-time
    * cost; the timed query is the post-compaction serve. */
  private val compactIvfPaths = scala.collection.concurrent.TrieMap.empty[String, String]

  private def compactedIvfTableFor(s: SparkSession, d: String): String =
    compactIvfPaths.getOrElseUpdate(d, {
      val p = java.nio.file.Files
        .createTempDirectory("graft_ivf_compact_").toString + "/index"
      val e = t(s, d, "embeddings")
      val cent = e.filter(col("vec_id") < 8)
        .select(col("vec_id").as("cid"), col("embedding").as("cvec"))
      graft.sources.IndexStore.write(
        Ann.ivfAssign(e, "embedding", "vec_id", cent, "cid", "cvec")
          .select("cluster_id", "vec_id", "embedding"), p)
      graft.sources.IndexStore.compactPartitioned(s, p,
        e.filter(col("vec_id") % 17 === 0)
          .select(col("vec_id").as("deleted_id")),
        "deleted_id", "vec_id")
      p
    })


  private val v18 = QuerySpec("v18_ivf_compact_serve",
    // Serving after tombstone COMPACTION: v16 pays a per-query
    // broadcast anti-join to honor deletes; compaction folds the
    // tombstone set into the index files once (rewriting only the
    // affected cluster partitions) and serving returns to the plain
    // partition-pruned ivfSearchStore shape — no anti-join, no
    // tombstone table at query time. Same result set as v16 by
    // construction, so the oracle IS v16's (exact top-k over live
    // rows); a compaction that missed a tombstoned row — or dropped a
    // live one — flips the hash. IndexStoreSpec pins compacted ==
    // from-scratch-over-live-rows and the emptied-directory cleanup.
    (s, d) => {
      val e = t(s, d, "embeddings")
      val cent = e.filter(col("vec_id") < 8)
        .select(col("vec_id").as("cid"), col("embedding").as("cvec"))
      val qv = typedlit(e.filter(col("vec_id") === 0)
        .select("embedding").collect()(0).getSeq[Float](0).map(_.toDouble))
      Ann.ivfSearchStore(s, compactedIvfTableFor(s, d), "embedding",
          "vec_id", cent, "cid", "cvec", qv, k = 10, nprobe = 3)
        .select(col("vec_id"), col("cluster_id").cast("long").as("cluster_id"),
          round(col("dist"), 6).as("dist"))
    },
    Some(s"""WITH cent AS (SELECT vec_id AS cid, embedding AS cvec
        FROM embeddings WHERE vec_id < 8),
      q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
      assign AS (SELECT e.vec_id, e.embedding, cid,
        row_number() OVER (PARTITION BY e.vec_id
          ORDER BY ${l2Sql("e.embedding", "cvec")}, cid) AS crn
        FROM embeddings e CROSS JOIN cent),
      clusters AS (SELECT vec_id, embedding, cid AS cluster_id
        FROM assign WHERE crn = 1),
      probe AS (SELECT cid AS cluster_id FROM cent CROSS JOIN q
        ORDER BY ${l2Sql("cvec", "q.qv")}, cid LIMIT 3)
      SELECT vec_id, cluster_id, round(dist, 6) AS dist FROM (
        SELECT c.vec_id, c.cluster_id,
          ${l2Sql("c.embedding", "q.qv")} AS dist
        FROM clusters c JOIN probe USING (cluster_id) CROSS JOIN q
        WHERE c.vec_id % 17 <> 0)
      ORDER BY dist, vec_id LIMIT 10"""))


  private val ivfPqCodePaths = scala.collection.concurrent.TrieMap.empty[String, String]

  private def ivfPqCodeTableFor(s: SparkSession, d: String): String =
    ivfPqCodePaths.getOrElseUpdate(d, {
      val p = java.nio.file.Files.createTempDirectory("graft_ivfpq_codes_").toString + "/codes"
      val e = t(s, d, "embeddings")
      val cent = e.filter(col("vec_id") < 8)
        .select(col("vec_id").as("cid"), col("embedding").as("cvec"))
      graft.sources.IndexStore.write(
        Ann.pqEncodeBig(
            Ann.ivfAssign(e, "embedding", "vec_id", cent, "cid", "cvec"),
            "embedding", pqCodebook(s, d))
          .select("cluster_id", "vec_id", "pq_codes"), p)
      p
    })


  private val s9 = QuerySpec("s9_ivfpq_served",
    // The IVFADC SERVING path (s8's upgrade applied to s7): coarse
    // assignment AND PQ encode both live in the stored artifact; per
    // query the driver-collected probe list (bounded: nprobe of 8
    // centroid rows) prunes to nprobe cluster partitions AT THE READER
    // (static PartitionFilters on the partitionBy(cluster_id) layout,
    // AnnSpec-asserted via scan metrics), the scan inside them touches
    // only the m-byte codes, and ≤ k·candMult vectors rerank exactly.
    // Row-identical to s7 by construction (same probe rule, codebook,
    // cuts, tie-breaks; AnnSpec asserts) — the oracle IS s7's.
    (s, d) => {
      val e = t(s, d, "embeddings")
      val cent = e.filter(col("vec_id") < 8)
        .select(col("vec_id").as("cid"), col("embedding").as("cvec"))
      Ann.ivfPqSearchEncoded(s.read.parquet(ivfPqCodeTableFor(s, d)), e,
          "embedding", "vec_id", cent, "cid", "cvec",
          pqCodebook(s, d), pqQueryVec(s, d), k = 10, nprobe = 2, candMult = 4)
        .select(col("vec_id"), round(col("approx_dist"), 6).as("approx_dist"),
          round(col("dist"), 6).as("dist"))
    },
    Some(ivfPqOracle))


  private val s7 = QuerySpec("s7_ivfpq_search",
    // IVF+PQ (the FAISS IndexIVFPQ composition): the coarse quantizer
    // prunes the corpus to nprobe=2 of 8 clusters, the product
    // quantizer ADC-scores only the survivors, the top-40 rerank
    // exactly. The two prunings MULTIPLY at 100 TB: read the probed
    // cluster partitions only (s2's partition pruning), and within
    // them only the m-byte codes (s6's scan shrink). Deterministic
    // centroids (s2's) + deterministic codebook (s6's) keep the whole
    // composition inside the DuckDB oracle.
    (s, d) => {
      val e = t(s, d, "embeddings")
      val cent = e.filter(col("vec_id") < 8)
        .select(col("vec_id").as("cid"), col("embedding").as("cvec"))
      val assigned = Ann.ivfAssign(e, "embedding", "vec_id", cent, "cid", "cvec")
      Ann.ivfPqSearch(assigned, "embedding", "vec_id", cent, "cid", "cvec",
          pqCodebook(s, d), pqQueryVec(s, d), k = 10, nprobe = 2, candMult = 4)
        .select(col("vec_id"), round(col("approx_dist"), 6).as("approx_dist"),
          round(col("dist"), 6).as("dist"))
    },
    Some(ivfPqOracle))


  private val s4 = QuerySpec("s4_ann_ivf_bigk",
    // s2 at REAL centroid count: 256 centroids assigned via the
    // broadcast-argmin path (Ann.ivfAssignBig — constant-size plan, no
    // per-centroid literals, no Janino blowup), nprobe=8 pruned exact
    // top-k. Same oracle shape as s2 scaled to k=256.
    (s, d) => {
      val e = t(s, d, "embeddings")
      val cent = e.filter(col("vec_id") < 256)
        .select(col("vec_id").as("cid"), col("embedding").as("cvec"))
      val qv = typedlit(e.filter(col("vec_id") === 0)
        .select("embedding").collect()(0).getSeq[Float](0).map(_.toDouble))
      val assigned = Ann.ivfAssignBig(e, "embedding", "vec_id", cent, "cid", "cvec")
      Ann.ivfSearch(assigned, "embedding", "vec_id", cent, "cid", "cvec",
          qv, k = 10, nprobe = 8)
        .select(col("vec_id"), col("cluster_id"), round(col("dist"), 6).as("dist"))
    },
    Some(s"""WITH cent AS (SELECT vec_id AS cid, embedding AS cvec
        FROM embeddings WHERE vec_id < 256),
      q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
      assign AS (SELECT e.vec_id, e.embedding, cid,
        row_number() OVER (PARTITION BY e.vec_id
          ORDER BY ${l2Sql("e.embedding", "cvec")}, cid) AS crn
        FROM embeddings e CROSS JOIN cent),
      clusters AS (SELECT vec_id, embedding, cid AS cluster_id FROM assign WHERE crn = 1),
      probe AS (SELECT cid AS cluster_id FROM cent CROSS JOIN q
        ORDER BY ${l2Sql("cvec", "q.qv")}, cid LIMIT 8)
      SELECT vec_id, cluster_id, round(dist, 6) AS dist FROM (
        SELECT c.vec_id, c.cluster_id, ${l2Sql("c.embedding", "q.qv")} AS dist
        FROM clusters c JOIN probe USING (cluster_id) CROSS JOIN q)
      ORDER BY dist, vec_id LIMIT 10"""))


  private val s3 = QuerySpec("s3_quantize_int8",
    // Embedding int8 quantization (the 100 TB storage path: 4× smaller
    // vectors): per-vector min/max affine quantize to 0..255, then
    // measure the round-trip fidelity as cosine(original, dequantized).
    // Pure column arithmetic, identical in both engines (round-half-up
    // agrees for the non-negative quantization domain).
    (s, d) => {
      val emb = col("embedding").cast("array<double>")
      t(s, d, "embeddings")
        .withColumn("mn", array_min(emb))
        .withColumn("mx", array_max(emb))
        .withColumn("scale",
          when(col("mx") === col("mn"), lit(1.0))
            .otherwise((col("mx") - col("mn")) / 255.0))
        .withColumn("deq", transform(emb, x =>
          round((x - col("mn")) / col("scale"), 0) * col("scale") + col("mn")))
        .select(col("vec_id"),
          round(col("mn"), 6).as("mn"), round(col("mx"), 6).as("mx"),
          round(VectorFunctions.cosine(emb, col("deq")), 6).as("cos_fidelity"))
        .orderBy("vec_id")
    },
    Some(s"""WITH q AS (SELECT vec_id,
        list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e FROM embeddings),
      m AS (SELECT vec_id, e, list_min(e) AS mn, list_max(e) AS mx FROM q),
      sc AS (SELECT vec_id, e, mn, mx,
        CASE WHEN mx = mn THEN 1.0 ELSE (mx - mn) / 255.0 END AS scale FROM m),
      dq AS (SELECT vec_id, e, mn, mx,
        list_transform(e, x -> round((x - mn) / scale, 0) * scale + mn) AS deq FROM sc)
      SELECT vec_id, round(mn, 6) AS mn, round(mx, 6) AS mx,
        round(${cosineSql("e", "deq")}, 6) AS cos_fidelity
      FROM dq ORDER BY vec_id"""))

  /** One nprobe setting's half of the v22 sweep oracle — shares the
    * single cent/assign/clusters/sizes chain (built once in the WITH
    * prologue), so the per-setting CTEs are probe/cut/recall/cost
    * only. The abIndexSql pattern with nprobe as the parameter
    * instead of the centroid set. */
  private def sweepNprobeSql(n: Int): String =
    s"""probes_$n AS (SELECT qid, qv, cluster_id FROM (
        SELECT q.qid, q.qv, cid AS cluster_id,
          row_number() OVER (PARTITION BY q.qid
            ORDER BY ${l2Sql("cvec", "q.qv")}, cid) AS pr
        FROM cent CROSS JOIN q) WHERE pr <= $n),
      ivf_$n AS (SELECT qid, vec_id FROM (
        SELECT p.qid, c.vec_id,
          row_number() OVER (PARTITION BY p.qid
            ORDER BY ${l2Sql("c.embedding", "p.qv")}, c.vec_id) AS rnk
        FROM clusters c JOIN probes_$n p USING (cluster_id))
        WHERE rnk <= 10),
      rec_$n AS (SELECT ex.qid, count(iv.vec_id) / 10.0 AS recall
        FROM exact ex LEFT JOIN ivf_$n iv
          ON ex.qid = iv.qid AND ex.vec_id = iv.vec_id
        GROUP BY ex.qid),
      cand_$n AS (SELECT p.qid, sum(s.csz) AS n_cand
        FROM probes_$n p JOIN sizes s USING (cluster_id)
        GROUP BY p.qid),
      m_$n AS (SELECT $n AS nprobe,
        round(avg(recall), 6) AS mean_recall,
        round(avg(n_cand), 2) AS mean_candidates
        FROM rec_$n JOIN cand_$n USING (qid))"""

  private val SweepProbes = Seq(1, 2, 4, 8)

  private val v22 = QuerySpec("v22_nprobe_sweep",
    // The recall/cost TUNING CURVE every IVF deployment reads before
    // picking nprobe: one index, the same query set, mean recall@10
    // vs the exact top-10 and mean probed-candidate volume (the
    // serving-cost proxy) at each probe width. v21 compares two
    // indexes at a fixed nprobe; this sweeps nprobe on one index —
    // together they are the two dials of index release. Toy centroids
    // keep every point on the curve DuckDB-replayable, so the CURVE
    // hash-checks. Scale shape (round 22): assignment, probe ranks
    // and candidate distances are each computed ONCE at the widest
    // probe and checkpointed; every sweep point is a filter + bounded
    // window over the tagged candidate frame — the corpus's probed
    // slice is scanned once per sweep, not once per point.
    (s, d) => {
      val e = t(s, d, "embeddings")
      val cent = e.filter(col("vec_id") < 8)
        .select(col("vec_id").as("cid"), col("embedding").as("cvec"))
      val qs = e.filter(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("embedding").as("qv"))
      // Round 22 (the r21 verdict's v22 adjudication): the sweep was
      // job-overhead-bound, not compute-bound — profiled 41 jobs
      // spanning 2.85 s around 1.66 s of executor time, because each
      // of the 4 points re-ran probe selection AND the probed
      // candidate join, and the three lazily-checkpointed shared
      // frames raced their consumers. Probe lists are PREFIXES (the
      // first n cells at width 8 are the cells at width n — same
      // (dist, cid) order), and a point's top-10 is the top-10 among
      // candidates in its first n cells, so
      // ONE candidate pass at the widest probe, tagged with the rank,
      // serves every point: distances are the same expression on the
      // same rows and the (dist, id) cut order is unchanged, so each
      // point's rows are bit-identical to the per-point ivfSearchBatch
      // it replaces (the DuckDB oracle replays every point unchanged).
      // Shared frames are checkpointed EAGERLY: four consumers each.
      val exact = Knn.batchAgg(e, "embedding", "vec_id", qs, "qid", "qv", 10)
        .select(col("qid"), col("vec_id"))
        .localCheckpoint(true)
      val assigned = Ann.ivfAssignBig(e, "embedding", "vec_id",
          cent, "cid", "cvec")
        .select(col("vec_id"), col("embedding"), col("cluster_id"))
        .localCheckpoint(true)
      val sizes = assigned.groupBy("cluster_id")
        .agg(count(lit(1)).as("csz")).localCheckpoint(true)
      // __pr is the 0-based probe rank: width n keeps __pr < n
      val probes = qs.select(col("qid"), col("qv"), posexplode(Ann.probeCellsUdf(
          Ann.Probe(cent, "cid", "cvec", SweepProbes.max))(col("qv")))
          .as(Seq("__pr", "cluster_id")))
        .localCheckpoint(true)
      val cands = assigned.join(broadcast(probes), Seq("cluster_id"))
        .select(col("qid"), col("__pr"),
          VectorFunctions.l2(col("embedding"), col("qv")).as("__dist"),
          col("vec_id"))
        .localCheckpoint(true)
      val points = SweepProbes.map { n =>
        val w = Window.partitionBy("qid").orderBy(col("__dist"), col("vec_id"))
        val ivf = cands.filter(col("__pr") < n)
          .withColumn("__rn", row_number().over(w))
          .filter(col("__rn") <= 10)
          .select(col("qid"), col("vec_id"), lit(1).as("__hit"))
        val rec = exact.join(ivf, Seq("qid", "vec_id"), "left")
          .groupBy("qid").agg((count(col("__hit")) / 10.0).as("recall"))
        val cand = probes.filter(col("__pr") < n)
          .select("qid", "cluster_id")
          .join(sizes, Seq("cluster_id"))
          .groupBy("qid").agg(sum("csz").as("n_cand"))
        rec.join(cand, Seq("qid"))
          .agg(round(avg("recall"), 6).as("mean_recall"),
            round(avg("n_cand"), 2).as("mean_candidates"))
          .select(lit(n).as("nprobe"), col("mean_recall"),
            col("mean_candidates"))
      }
      points.reduce(_ unionByName _).orderBy("nprobe")
    },
    Some(s"""WITH q AS (SELECT vec_id AS qid, embedding AS qv
        FROM embeddings WHERE vec_id < 5),
      exact AS (SELECT qid, vec_id FROM (
        SELECT q.qid, e.vec_id,
          row_number() OVER (PARTITION BY q.qid
            ORDER BY ${l2Sql("e.embedding", "q.qv")}, e.vec_id) AS rnk
        FROM embeddings e CROSS JOIN q) WHERE rnk <= 10),
      cent AS (SELECT vec_id AS cid, embedding AS cvec
        FROM embeddings WHERE vec_id < 8),
      assign AS (SELECT e.vec_id, e.embedding, cid,
        row_number() OVER (PARTITION BY e.vec_id
          ORDER BY ${l2Sql("e.embedding", "cvec")}, cid) AS crn
        FROM embeddings e CROSS JOIN cent),
      clusters AS (SELECT vec_id, embedding, cid AS cluster_id
        FROM assign WHERE crn = 1),
      sizes AS (SELECT cluster_id, count(*) AS csz
        FROM clusters GROUP BY 1),
      ${SweepProbes.map(sweepNprobeSql).mkString(",\n      ")},
      curve AS (${SweepProbes.map(n => s"SELECT * FROM m_$n")
        .mkString(" UNION ALL ")})
      SELECT nprobe, mean_recall, mean_candidates
      FROM curve ORDER BY nprobe"""))

  final def queriesAnn: Seq[QuerySpec] = Seq(v14, v15, v16, v17, v18, v19, v20, v21, v22, s1q, s2, s3, s4, s5, s6, s7, s8, s9, s10, s11, s12, s13, s14, s15, s16, s17, s18)
}
