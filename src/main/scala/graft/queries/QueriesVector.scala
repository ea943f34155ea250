package graft

import graft.functions.{TextAnalysis, TextFunctions, VectorFunctions}
import graft.multimodal.{DecodeStub, Multimodal}
import graft.operators.{Ann, Bm25, Chunker, Curation, Dedup, HeavyHitters, Knn, LshAnn, Mmr, MultiStageSearch, Packing, QualityModel, Rerank, RetrievalEval}
import graft.sources.JobCorpus
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Vector search v1–v13 (V1–V4 exact kNN, MMR, IR metrics, drift)
  * plus seeded-LSH ANN (v6/v10) and stage-union/top-k checks (A1/A3/A5/A9).
  */
private[graft] trait QueriesVector { self: QueriesShared =>


  private val v1 = QuerySpec("v1_knn_exact",
    (s, d) => {
      val e = t(s, d, "embeddings").crossJoin(broadcast(queryVec(s, d, 0)))
      Knn.exact(e, "embedding", "vec_id", col("qv"), 10)
        .select(col("vec_id"), round(col("dist"), 6).as("dist"))
    },
    Some(s"""WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0)
      SELECT vec_id, round(dist, 6) AS dist FROM (
        SELECT e.vec_id, ${l2Sql("e.embedding", "q.qv")} AS dist
        FROM embeddings e CROSS JOIN q)
      ORDER BY dist, vec_id LIMIT 10"""))


  private val v3 = QuerySpec("v3_knn_filtered",
    (s, d) => {
      val corpus = t(s, d, "embeddings")
        .join(t(s, d, "documents"), col("vec_id") === col("doc_id"))
        .crossJoin(broadcast(queryVec(s, d, 0)))
      Knn.filtered(corpus, "embedding", "vec_id",
        col("text").contains("join") && col("text").contains("table"), col("qv"), 10)
        .select(col("vec_id"), round(col("dist"), 6).as("dist"))
    },
    Some(s"""WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0)
      SELECT vec_id, round(dist, 6) AS dist FROM (
        SELECT e.vec_id, ${l2Sql("e.embedding", "q.qv")} AS dist
        FROM embeddings e JOIN documents doc ON e.vec_id = doc.doc_id CROSS JOIN q
        WHERE contains(doc.text, 'join') AND contains(doc.text, 'table'))
      ORDER BY dist, vec_id LIMIT 10"""))


  private val v2 = QuerySpec("v2_knn_batch",
    (s, d) => {
      val qs = t(s, d, "embeddings").filter(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("embedding").as("qv"))
      Knn.batch(t(s, d, "embeddings"), "embedding", "vec_id", qs, "qid", "qv", 5)
        .select(col("qid"), col("knn_rank"), col("vec_id"), round(col("dist"), 6).as("dist"))
        .orderBy("qid", "knn_rank")
    },
    Some(s"""SELECT qid, knn_rank, vec_id, round(dist, 6) AS dist FROM (
      SELECT q.vec_id AS qid, e.vec_id AS vec_id,
        ${l2Sql("e.embedding", "q.embedding")} AS dist,
        row_number() OVER (PARTITION BY q.vec_id
          ORDER BY ${l2Sql("e.embedding", "q.embedding")}, e.vec_id) AS knn_rank
      FROM embeddings e CROSS JOIN (SELECT * FROM embeddings WHERE vec_id < 5) q)
      WHERE knn_rank <= 5 ORDER BY qid, knn_rank"""))


  private val v8 = QuerySpec("v8_mmr_diversify",
    // MMR diversity re-rank of the top-20 cosine page (operators/Mmr):
    // the distributed part is the top-N TakeOrderedAndProject; the
    // greedy k-pick is driver-side over the bounded survivors. Both
    // engines share the left-fold cosine and (score desc, id asc)
    // tie-break; λ and 1−λ are embedded at full double precision so
    // the score arithmetic is bit-identical.
    (s, d) => {
      val lam = 0.7
      val cand = t(s, d, "embeddings").crossJoin(broadcast(queryVec(s, d, 0)))
        .select(col("vec_id"), col("embedding"),
          VectorFunctions.cosine(col("embedding"), col("qv")).as("rel"))
        .orderBy(desc("rel"), asc("vec_id")).limit(20)
      Mmr.diversify(cand, "vec_id", "embedding", "rel", k = 5, lambda = lam)
        .select(col("rank"), col("vec_id"),
          round(col("rel"), 6).as("rel"), round(col("score"), 6).as("score"))
    },
    Some {
      val lam = 0.7
      val oneMinus = 1 - lam
      s"""WITH RECURSIVE
      q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
      cand AS (SELECT vec_id, embedding, ${cosineSql("embedding", "qv")} AS rel
        FROM embeddings CROSS JOIN q
        ORDER BY rel DESC, vec_id LIMIT 20),
      sims AS (SELECT a.vec_id AS ia, b.vec_id AS ib,
          ${cosineSql("a.embedding", "b.embedding")} AS sim
        FROM cand a JOIN cand b ON a.vec_id <> b.vec_id),
      sel(step, ids, picked, score) AS (
        SELECT 1 AS step, [t.m.id] AS ids, t.m.id AS picked, -(t.m.s) AS score
        FROM (SELECT min({'s': -($lam * rel), 'id': vec_id}) AS m FROM cand) t
        UNION ALL
        SELECT step + 1, list_append(ids, t.m.id), t.m.id, -(t.m.s) FROM (
          SELECT s.step AS step, s.ids AS ids,
            min({'s': -($lam * c.rel - $oneMinus * (SELECT max(sim) FROM sims
                  WHERE ia = c.vec_id AND list_contains(s.ids, ib))),
                 'id': c.vec_id}) AS m
          FROM sel s JOIN cand c ON NOT list_contains(s.ids, c.vec_id)
          WHERE s.step < 5 GROUP BY s.step, s.ids) t)
      SELECT s.step AS rank, s.picked AS vec_id, round(c.rel, 6) AS rel,
        round(s.score, 6) AS score
      FROM sel s JOIN cand c ON c.vec_id = s.picked ORDER BY rank"""
    })


  private val v11 = QuerySpec("v11_retrieval_metrics",
    // The full IR eval triple over batch IVF at a DELIBERATELY lossy
    // nprobe=4 (so the metrics are non-trivial): recall@10, MRR@10,
    // nDCG@10 per query against the exact batch kNN ground truth.
    // v9's recall check generalized — this is the sign-off gate an ANN
    // config passes before serving at corpus scale, and every join in
    // it is k-bounded per query (nothing re-touches the corpus).
    (s, d) => {
      val e = t(s, d, "embeddings")
      val cent = e.filter(col("vec_id") < 64)
        .select(col("vec_id").as("cid"), col("embedding").as("cvec"))
      val qs = e.filter(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("embedding").as("qv"))
      val assigned = Ann.ivfAssignBig(e, "embedding", "vec_id", cent, "cid", "cvec")
      val ivf = Ann.ivfSearchBatch(assigned, "embedding", "vec_id",
        cent, "cid", "cvec", qs, "qid", "qv", k = 10, nprobe = 4)
      val exact = Knn.batch(e, "embedding", "vec_id", qs, "qid", "qv", 10)
      RetrievalEval.metricsAtK(ivf, exact.select("qid", "vec_id"),
          "qid", "vec_id", "knn_rank", k = 10)
        .orderBy("qid")
    },
    Some(s"""WITH cent AS (SELECT vec_id AS cid, embedding AS cvec
        FROM embeddings WHERE vec_id < 64),
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
        FROM cent CROSS JOIN q) WHERE pr <= 4),
      ivf AS (SELECT qid, vec_id, rnk FROM (
        SELECT p.qid, c.vec_id,
          row_number() OVER (PARTITION BY p.qid
            ORDER BY ${l2Sql("c.embedding", "p.qv")}, c.vec_id) AS rnk
        FROM clusters c JOIN probes p USING (cluster_id)) WHERE rnk <= 10),
      exact AS (SELECT qid, vec_id FROM (
        SELECT q.qid, e.vec_id,
          row_number() OVER (PARTITION BY q.qid
            ORDER BY ${l2Sql("e.embedding", "q.qv")}, e.vec_id) AS rnk
        FROM embeddings e CROSS JOIN q) WHERE rnk <= 10),
      j AS (SELECT i.qid, i.rnk,
          CASE WHEN x.vec_id IS NOT NULL THEN 1 ELSE 0 END AS rel
        FROM ivf i LEFT JOIN exact x
          ON i.qid = x.qid AND i.vec_id = x.vec_id),
      idcg AS (SELECT sum(1.0/(ln(r+1)/ln(2))) AS v FROM range(1, 11) t(r))
      SELECT qid, round(sum(rel)/10.0, 6) AS recall_10,
        round(coalesce(max(CASE WHEN rel = 1 THEN 1.0/rnk END), 0.0), 6) AS mrr_10,
        round(sum(CASE WHEN rel = 1 THEN 1.0/(ln(rnk+1)/ln(2)) ELSE 0.0 END)
          / (SELECT v FROM idcg), 6) AS ndcg_10
      FROM j GROUP BY qid ORDER BY qid"""))


  private val v12 = QuerySpec("v12_embedding_drift",
    // Embedding-space drift (Ann.embeddingDrift): both snapshot
    // halves assigned to the SAME 8 fixed centroids (s2's narrow
    // broadcast argmin, Ann.ivfAssignBig — no shuffle; ties to the
    // smaller cid, as the oracle's ORDER BY l2, cid), JS divergence
    // over the two cluster-mass distributions. The vector twin of
    // t22: tells the index operator the mass no longer matches the
    // partitioning (re-train centroids) BEFORE v9/v11's recall eval
    // says it after the fact.
    // Exchange carries 8 counts per side, never vectors.
    (s, d) => {
      val e = t(s, d, "embeddings")
      val cent = e.filter(col("vec_id") < 8)
        .select(col("vec_id").as("cid"), col("embedding").as("cvec"))
      Ann.embeddingDrift(
          e.filter(col("vec_id") % 2 === 0), e.filter(col("vec_id") % 2 === 1),
          "embedding", "vec_id", cent, "cid", "cvec")
        .orderBy("cluster_id")
    },
    Some(s"""WITH cent AS (SELECT vec_id AS cid, embedding AS cvec
        FROM embeddings WHERE vec_id < 8),
      aa AS (SELECT cid AS cluster_id FROM (
        SELECT e.vec_id, cid, row_number() OVER (PARTITION BY e.vec_id
          ORDER BY ${l2Sql("e.embedding", "cvec")}, cid) AS crn
        FROM embeddings e CROSS JOIN cent WHERE e.vec_id % 2 = 0) WHERE crn = 1),
      bb AS (SELECT cid AS cluster_id FROM (
        SELECT e.vec_id, cid, row_number() OVER (PARTITION BY e.vec_id
          ORDER BY ${l2Sql("e.embedding", "cvec")}, cid) AS crn
        FROM embeddings e CROSS JOIN cent WHERE e.vec_id % 2 = 1) WHERE crn = 1),
      ca AS (SELECT cluster_id, count(*) AS ca FROM aa GROUP BY 1),
      cb AS (SELECT cluster_id, count(*) AS cb FROM bb GROUP BY 1),
      j AS (SELECT coalesce(a.cluster_id, b.cluster_id) AS cluster_id,
          coalesce(ca, 0) AS ca, coalesce(cb, 0) AS cb
        FROM ca a FULL JOIN cb b ON a.cluster_id = b.cluster_id),
      tot AS (SELECT sum(ca) AS na, sum(cb) AS nb FROM j),
      p AS (SELECT cluster_id, ca, cb,
          CAST(ca AS DOUBLE) / na AS pa, CAST(cb AS DOUBLE) / nb AS pb,
          (CAST(ca AS DOUBLE) / na + CAST(cb AS DOUBLE) / nb) / 2.0 AS m
        FROM j CROSS JOIN tot),
      c AS (SELECT cluster_id, pa, pb,
          (CASE WHEN ca > 0 THEN pa * ln(pa / m) / 2.0 ELSE 0.0 END)
          + (CASE WHEN cb > 0 THEN pb * ln(pb / m) / 2.0 ELSE 0.0 END) AS contrib
        FROM p),
      t AS (SELECT round(sum(contrib), 4) AS js_total FROM c)
      SELECT cluster_id, round(pa, 6) AS p_a, round(pb, 6) AS p_b,
        round(contrib, 6) AS js_contrib, js_total
      FROM c CROSS JOIN t ORDER BY cluster_id"""))


  private val v13 = QuerySpec("v13_cluster_audit",
    // Per-cluster IVF health report (Ann.clusterAudit): member count,
    // mean member→centroid L2 (tightness), nearest-other-centroid L2
    // (separation), and their Dunn-style ratio. v12 says the MASS
    // moved; this says the GEOMETRY is bad — the two reports an index
    // operator reads before spending a retrain. One narrow assignment
    // scan (the Ann.ivfAssignBig argmin, which also yields each
    // member's distance) + a k-group aggregate; the k×k separation
    // matrix never leaves the driver. Same fixed 8-centroid table as
    // v12/d13 so the assignment is inside the DuckDB oracle.
    (s, d) => {
      val e = t(s, d, "embeddings")
      val cent = e.filter(col("vec_id") < 8)
        .select(col("vec_id").as("cid"), col("embedding").as("cvec"))
      Ann.clusterAudit(e, "embedding", "vec_id", cent, "cid", "cvec")
        .orderBy("cluster_id")
    },
    Some(s"""WITH cent AS (SELECT vec_id AS cid, embedding AS cvec
        FROM embeddings WHERE vec_id < 8),
      assign AS (SELECT e.vec_id, e.embedding, cid,
        row_number() OVER (PARTITION BY e.vec_id
          ORDER BY ${l2Sql("e.embedding", "cvec")}, cid) AS crn
        FROM embeddings e CROSS JOIN cent),
      members AS (SELECT a.vec_id, a.cid,
          ${l2Sql("a.embedding", "c.cvec")} AS d
        FROM (SELECT vec_id, embedding, cid FROM assign WHERE crn = 1) a
        JOIN cent c USING (cid)),
      intra AS (SELECT cid, count(*) AS n, avg(d) AS mi
        FROM members GROUP BY cid),
      inter AS (SELECT a.cid, min(${l2Sql("a.cvec", "b.cvec")}) AS min_inter
        FROM cent a JOIN cent b ON a.cid <> b.cid GROUP BY a.cid)
      SELECT i.cid AS cluster_id, coalesce(n, 0) AS n,
        round(mi, 6) AS mean_intra, round(min_inter, 6) AS min_inter,
        CASE WHEN mi IS NULL OR mi = 0 THEN NULL
          ELSE round(min_inter / mi, 6) END AS separation
      FROM inter i LEFT JOIN intra USING (cid) ORDER BY cluster_id"""))


  private val v9 = QuerySpec("v9_ann_recall",
    // ANN quality measurement: recall@10 of batch IVF (64 toy
    // centroids, nprobe=8) against the exact batch kNN, per query.
    // Both engines share the (dist, id) total order, so the top-10
    // SETS are identical and recall is deterministic. This is the
    // evaluation harness an approximate index needs before anyone
    // trusts it at 100 TB — and it composes ivfAssignBig +
    // ivfSearchBatch + the bounded TopK batch-exact path end-to-end.
    (s, d) => {
      val e = t(s, d, "embeddings")
      val cent = e.filter(col("vec_id") < 64)
        .select(col("vec_id").as("cid"), col("embedding").as("cvec"))
      val qs = e.filter(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("embedding").as("qv"))
      val assigned = Ann.ivfAssignBig(e, "embedding", "vec_id", cent, "cid", "cvec")
      val ivf = Ann.ivfSearchBatch(assigned, "embedding", "vec_id",
        cent, "cid", "cvec", qs, "qid", "qv", k = 10, nprobe = 8)
      val exact = Knn.batch(e, "embedding", "vec_id", qs, "qid", "qv", 10)
      exact.select(col("qid"), col("vec_id"))
        .join(ivf.select(col("qid"), col("vec_id"), lit(1).as("__hit")),
          Seq("qid", "vec_id"), "left")
        .groupBy("qid")
        .agg(count(col("__hit")).as("n_hit"))
        .select(col("qid"), col("n_hit"),
          round(col("n_hit") / 10.0, 6).as("recall"))
        .orderBy("qid")
    },
    Some(s"""WITH cent AS (SELECT vec_id AS cid, embedding AS cvec
        FROM embeddings WHERE vec_id < 64),
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
        FROM cent CROSS JOIN q) WHERE pr <= 8),
      ivf AS (SELECT qid, vec_id FROM (
        SELECT p.qid, c.vec_id,
          row_number() OVER (PARTITION BY p.qid
            ORDER BY ${l2Sql("c.embedding", "p.qv")}, c.vec_id) AS rnk
        FROM clusters c JOIN probes p USING (cluster_id)) WHERE rnk <= 10),
      exact AS (SELECT qid, vec_id FROM (
        SELECT q.qid, e.vec_id,
          row_number() OVER (PARTITION BY q.qid
            ORDER BY ${l2Sql("e.embedding", "q.qv")}, e.vec_id) AS rnk
        FROM embeddings e CROSS JOIN q) WHERE rnk <= 10)
      SELECT x.qid AS qid, CAST(count(i.vec_id) AS BIGINT) AS n_hit,
        round(count(i.vec_id) / 10.0, 6) AS recall
      FROM exact x LEFT JOIN ivf i
        ON x.qid = i.qid AND x.vec_id = i.vec_id
      GROUP BY x.qid ORDER BY qid"""))


  private val v7 = QuerySpec("v7_knn_batch_topk",
    // V2 at scale: bounded top-k AGGREGATION instead of a rank window —
    // map-side partial heaps, exchange carries ≤k rows per query per
    // partition. Same oracle as the window form (identical semantics).
    (s, d) => {
      val qs = t(s, d, "embeddings").filter(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("embedding").as("qv"))
      Knn.batch(t(s, d, "embeddings"), "embedding", "vec_id", qs, "qid", "qv", 5)
        .select(col("qid"), col("knn_rank"), col("vec_id"), round(col("dist"), 6).as("dist"))
        .orderBy("qid", "knn_rank")
    },
    Some(s"""SELECT qid, knn_rank, vec_id, round(dist, 6) AS dist FROM (
      SELECT q.vec_id AS qid, e.vec_id AS vec_id,
        ${l2Sql("e.embedding", "q.embedding")} AS dist,
        row_number() OVER (PARTITION BY q.vec_id
          ORDER BY ${l2Sql("e.embedding", "q.embedding")}, e.vec_id) AS knn_rank
      FROM embeddings e CROSS JOIN (SELECT * FROM embeddings WHERE vec_id < 5) q)
      WHERE knn_rank <= 5 ORDER BY qid, knn_rank"""))


  private val v5 = QuerySpec("v5_knn_postfilter",
    (s, d) => {
      // F2 (main_remind.py:137-156): kNN first, substring filter AFTER.
      val corpus = t(s, d, "embeddings")
        .join(t(s, d, "documents"), col("vec_id") === col("doc_id"))
        .crossJoin(broadcast(queryVec(s, d, 0)))
      Knn.exact(corpus, "embedding", "vec_id", col("qv"), 50)
        .filter(lower(col("text")).contains("join"))
        .select(col("vec_id"), round(col("dist"), 6).as("dist"))
        .orderBy("dist", "vec_id")
    },
    Some(s"""WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
      knn AS (
        SELECT e.vec_id, doc.text, ${l2Sql("e.embedding", "q.qv")} AS dist
        FROM embeddings e JOIN documents doc ON e.vec_id = doc.doc_id CROSS JOIN q
        ORDER BY dist, vec_id LIMIT 50)
      SELECT vec_id, round(dist, 6) AS dist FROM knn
      WHERE contains(lower(text), 'join') ORDER BY dist, vec_id"""))


  private val v4 = QuerySpec("v4_ner_overlap",
    (s, d) => {
      val jobs = Seq("join", "merge", "sort", "scan").sorted.mkString("|")
      val regions = Seq("row", "line", "column", "key").sorted.mkString("|")
      // single-file table → repartition so the regex scan parallelizes
      t(s, d, "documents")
        .repartition(s.sparkContext.defaultParallelism)
        .select(col("doc_id"),
          regexp_extract(lower(col("text")), s"\\b($jobs)\\b", 1).as("doc_job"),
          regexp_extract(lower(col("text")), s"\\b($regions)\\b", 1).as("doc_region"))
        .withColumn("overlap", Rerank.nerOverlap(Seq(
          (lit("join"), col("doc_job")), (lit("row"), col("doc_region")), (lit(""), lit("")))))
        .filter(col("overlap") > 0)
        .orderBy("doc_id")
    },
    Some {
      val jobs = Seq("join", "merge", "sort", "scan").sorted.mkString("|")
      val regions = Seq("row", "line", "column", "key").sorted.mkString("|")
      def ov(u: String, dcol: String) =
        s"""(CASE WHEN len('$u') > 0 AND len($dcol) > 0
            AND (contains($dcol, '$u') OR contains('$u', $dcol)) THEN 1 ELSE 0 END)"""
      s"""SELECT doc_id, doc_job, doc_region,
        CAST(${ov("join", "doc_job")} + ${ov("row", "doc_region")} + 0 AS DOUBLE) AS overlap
      FROM (SELECT doc_id,
        regexp_extract(lower(text), '\\b($jobs)\\b', 1) AS doc_job,
        regexp_extract(lower(text), '\\b($regions)\\b', 1) AS doc_region
        FROM documents)
      WHERE ${ov("join", "doc_job")} + ${ov("row", "doc_region")} > 0
      ORDER BY doc_id"""
    })


  private val a1 = QuerySpec("a1_stage_union_dedup",
    (s, d) => {
      // A2 stage merge + A1 keep-first priority dedup (main.py:173-181).
      val corpus = t(s, d, "embeddings")
        .join(t(s, d, "documents"), col("vec_id") === col("doc_id"))
        .crossJoin(broadcast(queryVec(s, d, 0)))
      val s1 = Knn.exact(corpus.filter(col("text").contains("join")),
        "embedding", "vec_id", col("qv"), 20).withColumn("stage_rank", lit(1))
      val s2 = Knn.exact(corpus, "embedding", "vec_id", col("qv"), 20)
        .withColumn("stage_rank", lit(2))
      Dedup.keepFirst(s1.unionByName(s2).select("vec_id", "stage_rank", "dist"),
          Seq("vec_id"), Seq(col("stage_rank"), col("dist"), col("vec_id")))
        .select(col("vec_id"), col("stage_rank"), round(col("dist"), 6).as("dist"))
        .orderBy("stage_rank", "dist", "vec_id")
    },
    Some(s"""WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
      corpus AS (SELECT e.vec_id, doc.text, ${l2Sql("e.embedding", "q.qv")} AS dist
        FROM embeddings e JOIN documents doc ON e.vec_id = doc.doc_id CROSS JOIN q),
      s1 AS (SELECT vec_id, 1 AS stage_rank, dist FROM corpus
        WHERE contains(text, 'join') ORDER BY dist, vec_id LIMIT 20),
      s2 AS (SELECT vec_id, 2 AS stage_rank, dist FROM corpus
        ORDER BY dist, vec_id LIMIT 20),
      u AS (SELECT * FROM s1 UNION ALL SELECT * FROM s2),
      dedup AS (SELECT *, row_number() OVER (PARTITION BY vec_id
        ORDER BY stage_rank, dist, vec_id) AS rn FROM u)
      SELECT vec_id, stage_rank, round(dist, 6) AS dist FROM dedup WHERE rn = 1
      ORDER BY stage_rank, dist, vec_id"""))


  private val a5 = QuerySpec("a5_topk_rank",
    // rank window runs over the ≤5 post-limit rows; partitionBy(lit)
    // declares the single partition INTENTIONAL (no WindowExec warning).
    (s, d) => t(s, d, "documents")
      .orderBy(desc("n_chars"), asc("doc_id")).limit(5)
      .withColumn("rank",
        row_number().over(
          Window.partitionBy(lit(0)).orderBy(desc("n_chars"), asc("doc_id"))))
      .select("rank", "doc_id", "n_chars"),
    Some("""SELECT row_number() OVER (ORDER BY n_chars DESC, doc_id) AS rank,
      doc_id, n_chars FROM documents ORDER BY n_chars DESC, doc_id LIMIT 5"""))


  private val a3 = QuerySpec("a3_dup_audit",
    // A3 (build_vectorstore.py:260-270): duplicate-business-key audit.
    (s, d) => t(s, d, "lineitem")
      .groupBy(col("l_orderkey")).agg(count(lit(1)).as("n_lines"))
      .filter(col("n_lines") > 1)
      .orderBy("l_orderkey"),
    Some("""SELECT l_orderkey, count(*) AS n_lines FROM lineitem
      GROUP BY l_orderkey HAVING count(*) > 1 ORDER BY l_orderkey"""))


  private val a9 = QuerySpec("a9_score_padding",
    // A9 (main.py:319-321): positional zip of a short score list onto a
    // longer doc list; missing scores pad to 0.
    (s, d) => {
      // ≤10 post-limit rows per window; lit-partition = intentional.
      val w = Window.partitionBy(lit(0)).orderBy("doc_id")
      val docs = t(s, d, "documents").select("doc_id")
        .orderBy("doc_id").limit(10)
        .withColumn("rn", row_number().over(w))
      val scores = t(s, d, "documents").select("doc_id", "n_chars")
        .orderBy("doc_id").limit(6)
        .withColumn("rn", row_number().over(w))
        .select(col("rn"), (col("n_chars") % 5).cast("double").as("llm_score"))
      docs.join(scores, Seq("rn"), "left")
        .select(col("rn"), col("doc_id"),
          coalesce(col("llm_score"), lit(0.0)).as("llm_score"))
        .orderBy("rn")
    },
    Some("""WITH docs AS (SELECT doc_id, row_number() OVER (ORDER BY doc_id) AS rn
        FROM (SELECT doc_id FROM documents ORDER BY doc_id LIMIT 10)),
      scores AS (SELECT row_number() OVER (ORDER BY doc_id) AS rn,
        CAST(n_chars % 5 AS DOUBLE) AS llm_score
        FROM (SELECT doc_id, n_chars FROM documents ORDER BY doc_id LIMIT 6))
      SELECT docs.rn, doc_id, coalesce(llm_score, 0.0) AS llm_score
      FROM docs LEFT JOIN scores ON docs.rn = scores.rn ORDER BY docs.rn"""))


  /** The seeded-LSH sidecar (round-9 ask #1): the fitted model's
    * hyperplanes + bucketLength written ONCE per (config, sf dir) to
    * a STABLE absolute path the oracle SQL can name — the d12 band-
    * index / `_graft_meta` pattern applied to MLlib LSH. With the
    * planes exported, the entire bucketing is replayable as plain SQL
    * (`floor(dot(v, plane) / bucket_length)` per table), which is
    * what converts v6/v10 from rows-only to HASH-CHECKED. Planes
    * depend only on (seed, dim, numTables), so re-writes across sf
    * dirs are byte-stable; the TrieMap just skips the redundant IO. */
  private def lshSidecarPath(name: String): String =
    new java.io.File(s"target/graft_sidecars/$name").getAbsolutePath

  private val lshSidecarWritten =
    scala.collection.concurrent.TrieMap.empty[(String, String), Boolean]

  private def ensureLshSidecar(s: SparkSession, d: String, name: String,
                               bucketLength: Double, numTables: Int): Unit =
    lshSidecarWritten.getOrElseUpdate((name, d), {
      LshAnn.writeHyperplaneSidecar(t(s, d, "embeddings"), "embedding",
        lshSidecarPath(name), bucketLength, numTables)
      true
    })


  /** DuckDB replay of the LSH batch kNN from the exported sidecar —
    * the CTE chain ending in `lsh(qid, knn_rank, vec_id, dist)`:
    * per-table `floor(dot/L)` bucketing of queries and corpus,
    * candidate = shares ≥1 (table, bucket) key, exact-L2 rerank with
    * the (dist, id) total order. Mirrors [[LshAnn.approxNearestBatch]]
    * stage for stage; shared by v6 and v10 so the two oracles cannot
    * drift on what a bucket is. */
  private def lshReplayCtes(name: String, qPred: String, k: Int): String =
    s"""planes AS (SELECT table_idx, plane, bucket_length
        FROM read_parquet('${lshSidecarPath(name)}/*.parquet')),
      q AS (SELECT vec_id AS qid, embedding AS qv
        FROM embeddings WHERE $qPred),
      qb AS (SELECT qid, table_idx,
        CAST(floor(${dotSql("q.qv", "p.plane")} / p.bucket_length) AS BIGINT) AS b
        FROM q CROSS JOIN planes p),
      eb AS (SELECT e.vec_id, p.table_idx,
        CAST(floor(${dotSql("e.embedding", "p.plane")} / p.bucket_length) AS BIGINT) AS b
        FROM embeddings e CROSS JOIN planes p),
      cand AS (SELECT DISTINCT qb.qid, eb.vec_id
        FROM qb JOIN eb ON qb.table_idx = eb.table_idx AND qb.b = eb.b),
      lsh AS (SELECT qid, knn_rank, vec_id, dist FROM (
        SELECT c.qid, c.vec_id, ${l2Sql("e.embedding", "q.qv")} AS dist,
          row_number() OVER (PARTITION BY c.qid
            ORDER BY ${l2Sql("e.embedding", "q.qv")}, c.vec_id) AS knn_rank
        FROM cand c JOIN embeddings e ON c.vec_id = e.vec_id
          JOIN q ON c.qid = q.qid)
        WHERE knn_rank <= $k)"""


  private val v6 = QuerySpec("v6_lsh_ann",
    // MLlib BucketedRandomProjectionLSH ANN, HASH-CHECKED (round-9
    // ask #1): the seeded hyperplanes ship as a parquet sidecar and
    // the oracle replays bucketing → candidate join → exact-L2
    // (dist, id) top-k in DuckDB. The Spark side serves through the
    // fitted model's own transform (LshAnn.bucketTable path inside
    // approxNearestBatch); LshAnnSpec pins transform ≡ plane-replay,
    // and this oracle pins the whole query end to end.
    (s, d) => {
      val e = t(s, d, "embeddings")
      ensureLshSidecar(s, d, "lsh_v6", bucketLength = 2.0, numTables = 4)
      val qs = e.filter(col("vec_id") === 0)
        .select(col("vec_id").as("qid"), col("embedding").as("qv"))
      LshAnn.approxNearestBatch(e, "embedding", "vec_id", qs, "qid", "qv",
          k = 10, bucketLength = 2.0, numTables = 4)
        .select(col("vec_id"), round(col("dist"), 6).as("dist"))
        .orderBy("dist", "vec_id")
    },
    Some(s"""WITH ${lshReplayCtes("lsh_v6", "vec_id = 0", 10)}
      SELECT vec_id, round(dist, 6) AS dist FROM lsh
      ORDER BY dist, vec_id"""))


  private val v10 = QuerySpec("v10_lsh_recall",
    // The v9 treatment for the MLlib LSH path: recall@10 of the
    // bucketed batch kNN against the exact batch kNN, per query —
    // the quality measurement that decides whether an LSH config
    // earns trust, reported as data. HASH-CHECKED via the same
    // sidecar replay as v6 (round-9 ask #1): DuckDB rebuilds the
    // LSH top-10 from the exported planes AND the exact top-10, then
    // recomputes every recall row — both sides of the measurement
    // are now inside the oracle, not just the measurement's output.
    (s, d) => {
      val e = t(s, d, "embeddings")
      ensureLshSidecar(s, d, "lsh_v10", bucketLength = 4.0, numTables = 8)
      val qs = e.filter(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("embedding").as("qv"))
      val lsh = LshAnn.approxNearestBatch(e, "embedding", "vec_id",
        qs, "qid", "qv", k = 10, bucketLength = 4.0, numTables = 8)
      val exact = Knn.batch(e, "embedding", "vec_id", qs, "qid", "qv", 10)
      exact.select(col("qid"), col("vec_id"))
        .join(lsh.select(col("qid"), col("vec_id"), lit(1).as("__hit")),
          Seq("qid", "vec_id"), "left")
        .groupBy("qid")
        .agg(count(col("__hit")).as("n_hit"))
        .select(col("qid"), col("n_hit"),
          round(col("n_hit") / 10.0, 6).as("recall"))
        .orderBy("qid")
    },
    Some(s"""WITH ${lshReplayCtes("lsh_v10", "vec_id < 5", 10)},
      exact AS (SELECT qid, vec_id FROM (
        SELECT q.qid, e.vec_id,
          row_number() OVER (PARTITION BY q.qid
            ORDER BY ${l2Sql("e.embedding", "q.qv")}, e.vec_id) AS rn
        FROM embeddings e CROSS JOIN q) WHERE rn <= 10)
      SELECT x.qid, count(l.vec_id) AS n_hit,
        round(count(l.vec_id) / 10.0, 6) AS recall
      FROM exact x LEFT JOIN lsh l ON x.qid = l.qid AND x.vec_id = l.vec_id
      GROUP BY x.qid ORDER BY x.qid"""))

  final def queriesVector: Seq[QuerySpec] = Seq(v1, v2, v3, v4, v5, v6, v7, v8, v9, v10, v11, v12, v13, a1, a3, a5, a9)
}
