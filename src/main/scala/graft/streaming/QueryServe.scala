package graft.streaming

import graft.functions.VectorFunctions
import graft.operators.{Ann, TopK}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Online kNN serving as Structured Streaming (north-star claim:
  * "online ANN serving requires specialized infrastructure" — on
  * Spark it is a micro-batch stream-static join).
  *
  * Queries arrive as a stream `(query_id, ts, qvec)`; the corpus is a
  * STATIC DataFrame (the loaded vector index). The static side's ROWS
  * are re-executed per micro-batch, but its parquet FILE LISTING is a
  * plan-time snapshot — an [[EventStream.upsertBatch]] that rewrites
  * the store does NOT become visible mid-query (and can invalidate
  * the snapshot's files). Picking up index updates requires
  * re-resolving the static side: restart the streaming query on an
  * index-version change, or serve via foreachBatch and `spark.read`
  * the current version inside the batch function.
  * Stream-static joins need no state store; the per-query top-k is the
  * bounded [[TopK]] aggregation keyed by (query, event-time window),
  * so the watermark bounds aggregation state and emits each query's
  * result once its window closes (append mode).
  */
object QueryServe {

  /** `queries`: streaming DF with `qidCol`, `tsCol`, `qvecCol`.
    * Returns a streaming DF `(window, qid, topk: array<struct<dist,id>>)`
    * writable in append mode. */
  def serve(queries: DataFrame, corpus: DataFrame,
            embCol: String, idCol: String,
            qidCol: String, tsCol: String, qvecCol: String,
            k: Int, watermark: String = "1 minute",
            windowLen: String = "1 minute"): DataFrame =
    queries
      .withWatermark(tsCol, watermark)
      .join(corpus) // stream-static cross join: corpus scan per batch
      .select(col(qidCol), col(tsCol),
        VectorFunctions.l2(col(embCol), col(qvecCol)).as("__dist"),
        col(idCol).cast("long").as("__id"))
      .groupBy(window(col(tsCol), windowLen).as("w"), col(qidCol))
      .agg(TopK.topK(k)(col("__dist"), col("__id")).as("topk"))
      .select(col("w.start").as("w_start"), col(qidCol), col("topk"))

  /** IVF-pruned serving: [[serve]] with the per-batch full corpus scan
    * replaced by probe selection + an EQUI-join on `cluster_id`.
    *
    * `assigned` is an IVF-assigned corpus ([[graft.operators.Ann]]
    * ivfAssign/ivfAssignBig output, ideally loaded from an
    * [[graft.sources.IndexStore]] written partitionBy(cluster_id)).
    * Probe selection is the engine's one IVF probe rule
    * ([[graft.operators.Ann.probeCellsUdf]]): a narrow map over the
    * query stream against the broadcast centroid array — no
    * aggregation, so the plan keeps a single stateful op and stays
    * append-mode legal — exploded to (query, probed cluster) rows and
    * equi-joined to the corpus: distance work drops from |corpus|·|q|
    * to the probed clusters only, ~nprobe/k of the corpus per query.
    * A null query vector probes NOTHING (the explode drops the record)
    * instead of killing the whole streaming query — one malformed
    * query must not take down serving. Results equal batch
    * [[graft.operators.Ann.ivfSearch]] at the same nprobe (asserted in
    * QueryServeSpec). For scan pruning on top of compute pruning,
    * deploy via foreachBatch reading only the probed cluster
    * partitions (`WHERE cluster_id IN (...)` over the partitioned
    * store) — the join form here keeps the fully declarative streaming
    * plan. */
  def serveIvf(queries: DataFrame, assigned: DataFrame, centroids: DataFrame,
               embCol: String, idCol: String,
               qidCol: String, tsCol: String, qvecCol: String,
               cidCol: String, cvecCol: String,
               k: Int, nprobe: Int,
               watermark: String = "1 minute",
               windowLen: String = "1 minute"): DataFrame = {
    val probes = Ann.probeCellsUdf(Ann.Probe(centroids, cidCol, cvecCol, nprobe))
    queries
      .withWatermark(tsCol, watermark)
      .withColumn("__probe", explode(probes(col(qvecCol))))
      .join(assigned, col("__probe") === col("cluster_id"))
      .select(col(qidCol), col(tsCol),
        VectorFunctions.l2(col(embCol), col(qvecCol)).as("__dist"),
        col(idCol).cast("long").as("__id"))
      .groupBy(window(col(tsCol), windowLen).as("w"), col(qidCol))
      .agg(TopK.topK(k)(col("__dist"), col("__id")).as("topk"))
      .select(col("w.start").as("w_start"), col(qidCol), col("topk"))
  }
}
