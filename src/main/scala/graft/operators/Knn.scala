package graft.operators

import graft.functions.VectorFunctions
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** kNN / similarity search (SURVEY.md §2.5 V1-V3; north-star ANN).
  *
  * Exact paths are distance-expression + top-k: Spark plans
  * `orderBy(dist).limit(k)` as `TakeOrderedAndProject` — a per-partition
  * k-heap plus a k-merge on the driver, NOT a global sort. That is the
  * correct 100 TB plan for single-query kNN: one narrow scan, no
  * shuffle of the corpus, k rows move.
  *
  * The batch form broadcasts the (small) query side so the corpus
  * never shuffles; its per-query top-k is the bounded [[TopK.topK]]
  * aggregation, so the exchange carries ≤k rows per (partition ×
  * query). The approximate scale path (LSH / IVF) lives in [[Ann]].
  */
object Knn {

  /** V1: exact kNN of one query vector over a corpus.
    * Total order (dist, id) — ties never flip between engines. */
  def exact(corpus: DataFrame, embCol: String, idCol: String,
            queryVec: Column, k: Int): DataFrame =
    corpus
      .withColumn("dist", VectorFunctions.l2(col(embCol), queryVec))
      .orderBy(col("dist"), col(idCol))
      .limit(k)

  /** [[exact]] restricted to rows with a DEFINED distance: a null
    * distance (null embedding, null element, dim mismatch) is dropped
    * BEFORE the top-k cut, so every returned row is a real candidate
    * and k is not eaten by nulls (Spark's ascending sort is NULLS
    * FIRST, so [[exact]] ranks such rows at the top). This is the
    * candidate contract the cascade's batch forms enforce; the
    * single-query cascade uses this so `batch == per-query` holds on
    * corpora with null embeddings. */
  def exactDefined(corpus: DataFrame, embCol: String, idCol: String,
                   queryVec: Column, k: Int): DataFrame =
    corpus
      .withColumn("dist", VectorFunctions.l2(col(embCol), queryVec))
      .filter(col("dist").isNotNull)
      .orderBy(col("dist"), col(idCol))
      .limit(k)

  /** V3: filtered kNN — predicate composes BEFORE top-k, so the filter
    * is pushed into the scan and top-k is exact over survivors (no
    * k·3 over-fetch hack needed — /root/reference/main.py:160-165). */
  def filtered(corpus: DataFrame, embCol: String, idCol: String,
               predicate: Column, queryVec: Column, k: Int): DataFrame =
    exact(corpus.filter(predicate), embCol, idCol, queryVec, k)

  private def metricDist(metric: String, embCol: String, qvecCol: String): Column =
    metric match {
      case "l2"     => VectorFunctions.l2(col(embCol), col(qvecCol))
      case "cosine" => -VectorFunctions.cosine(col(embCol), col(qvecCol))
      case m        => throw new IllegalArgumentException(s"metric $m")
    }

  /** V2: batch kNN — top-k per query over queries × corpus, as
    * (qid, knn_rank, id, dist). `queries(qid, qvec)` is broadcast, so
    * the corpus stays put, and the per-query top-k is a bounded
    * [[TopK.topK]] aggregation: partial heaps map-side, so the exchange
    * carries ≤k rows per (partition × query), not the replicated
    * corpus. Total order (dist, id); a null distance (null embedding,
    * null element, dim mismatch) is no candidate, as in
    * [[exactDefined]]. */
  def batch(corpus: DataFrame, embCol: String, idCol: String,
            queries: DataFrame, qidCol: String, qvecCol: String,
            k: Int, metric: String = "l2"): DataFrame =
    corpus.crossJoin(broadcast(queries))
      .select(col(qidCol),
        metricDist(metric, embCol, qvecCol).as("__dist"),
        col(idCol).cast("long").as("__id"))
      .groupBy(qidCol)
      .agg(TopK.topK(k)(col("__dist"), col("__id")).as("__topk"))
      .select(col(qidCol), posexplode(col("__topk")).as(Seq("__pos", "__entry")))
      .select(col(qidCol), (col("__pos") + 1).cast("int").as("knn_rank"),
        col("__entry.id").as(idCol), col("__entry.dist").as("dist"))
}
