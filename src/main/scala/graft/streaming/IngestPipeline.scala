package graft.streaming

import graft.operators.Dedup
import graft.sources.IndexStore
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Streaming corpus ingest: the round-7 pieces composed into the
  * pipeline a production training-data service runs — documents
  * arrive as micro-batches, each batch is deduplicated AGAINST THE
  * CURRENT INDEX (exact id anti-join + incremental MinHash near-dup,
  * [[graft.operators.Dedup.minhashNearDupsAgainst]] — new×corpus
  * only, never corpus×corpus), and the survivors commit as a new
  * immutable [[graft.sources.IndexStore]] version. Readers on version
  * N are untouched by the commit of N+1 (the _SUCCESS-gated snapshot
  * flip), and a crashed batch leaves no visible version — foreachBatch
  * retries simply produce the next committed one.
  *
  * The corpus is re-resolved INSIDE the batch function (`spark.read`
  * per batch), which is exactly the pattern [[QueryServe]]'s scaladoc
  * prescribes for picking up index updates mid-stream — a stream-
  * static join would snapshot version 1's file listing forever.
  *
  * Scale note: this sink rewrites corpus∪survivors per commit — the
  * right shape for the versioned-snapshot contract and modest corpora;
  * at 100 TB the same dedup gate feeds [[dedupedPartitionedSink]]
  * (cost ∝ affected partitions via
  * [[graft.sources.IndexStore.upsertPartitioned]]) with periodic
  * versioned rebuilds instead of per-batch full rewrites.
  */
object IngestPipeline {

  /** foreachBatch body. Within-batch duplicate ids collapse first
    * (arbitrary-deterministic by id ordering they are exact dups of
    * each other only if ids repeat); batch-internal NEAR-dups are the
    * caller's pre-pass ([[Dedup.minhashNearDups]] on the batch) when
    * the arrival stream itself is dirty. Cache hygiene is the dedup
    * operator's own: [[Dedup.minhashNearDupsAgainst]] bounds its
    * persist lifetime internally, so repeated batches leak nothing. */
  def dedupedVersionedSink(root: String, idCol: String, textCol: String,
                           numHashes: Int = 32, bandRows: Int = 4,
                           shingleK: Int = 3, threshold: Double = 0.5)
                          (batch: DataFrame, batchId: Long): Unit = {
    val spark = batch.sparkSession
    val incoming = batch.dropDuplicates(idCol)
    if (incoming.isEmpty) return // replayed/empty batch: no new version
    IndexStore.committedVersions(spark, root) match {
      case Nil =>
        IndexStore.writeVersioned(incoming, root)
      case vs =>
        val corpus = IndexStore.load(spark, s"$root/v${vs.last}")
        val survivors = dedupGate(incoming, corpus, idCol, textCol,
          numHashes, bandRows, shingleK, threshold)
        // an all-duplicate batch (e.g. an at-least-once replay after a
        // driver restart) must not rewrite the corpus into a new
        // version — it would burn full-corpus I/O and churn genuinely
        // distinct versions out of the pruneVersions rollback window
        if (!survivors.isEmpty)
          IndexStore.writeVersioned(corpus.unionByName(survivors), root)
    }
  }

  /** Quality gate for streaming ingest: drop documents failing the
    * Gopher structural rules ([[graft.operators.Curation.gopherFilter]])
    * BEFORE they reach the dedup gate — junk is rejected before the
    * pipeline pays shingle/minhash cost for it, the same stage order
    * every web-corpus pipeline runs (filter, then dedup). Compose it
    * inside `foreachBatch`:
    * {{{
    * .foreachBatch { (b, id) =>
    *   IngestPipeline.dedupedVersionedSink(root, "doc_id", "text")(
    *     IngestPipeline.qualityGate(b, "doc_id", "text"), id)
    * }
    * }}}
    * Per batch the rule evaluation is a narrow map over the
    * micro-batch and the keep verdict comes back as a left-semi join
    * on id — batch-sized, never corpus-sized. Rejections are silent
    * by design (the stream's job is to keep up); audit the rejection
    * RATE offline with the t31 relation over the raw feed. */
  def qualityGate(batch: DataFrame, idCol: String, textCol: String,
                  minWords: Int = 50, maxWords: Int = 100000,
                  minStopHits: Int = 2): DataFrame = {
    val keep = graft.operators.Curation.gopherFilter(
        batch, idCol, textCol,
        minWords = minWords, maxWords = maxWords, minStopHits = minStopHits)
      .filter(col("keep")).select(col(idCol))
    batch.join(keep, Seq(idCol), "left_semi")
  }

  /** The batch-vs-corpus dedup gate both sinks share: exact (an id
    * already in the corpus never re-enters) then near (a batch doc
    * whose text near-duplicates ANY corpus doc is dropped — corpus
    * keeps priority, keep-first semantics). */
  private def dedupGate(incoming: DataFrame, corpus: DataFrame,
                        idCol: String, textCol: String, numHashes: Int,
                        bandRows: Int, shingleK: Int, threshold: Double): DataFrame = {
    val fresh = incoming.join(corpus, Seq(idCol), "left_anti")
    val nearDup = Dedup.minhashNearDupsAgainst(
        fresh, corpus, idCol, textCol,
        numHashes, bandRows, shingleK, threshold)
      .select(col("doc_new").as(idCol)).distinct()
    fresh.join(nearDup, Seq(idCol), "left_anti")
  }

  /** The 100 TB ingest shape: same dedup gate, but the sink is
    * [[graft.sources.IndexStore.upsertPartitioned]] — survivors are
    * assigned a `cluster_id` by the caller's `assign` (e.g.
    * [[graft.operators.Ann.ivfAssignBig]] against the serving centroids,
    * or any stable partitioner) and ONLY the affected cluster
    * partitions are read and rewritten under dynamic partition
    * overwrite. Per-batch cost ∝ batch collision footprint + affected
    * partitions, never corpus size; the trade versus
    * [[dedupedVersionedSink]] is in-place mutation (no snapshot
    * versions — concurrent readers of the touched partitions can see
    * the flip; run periodic versioned rebuilds for the rollback
    * window, as the scale note above prescribes). */
  def dedupedPartitionedSink(path: String, idCol: String, textCol: String,
                             assign: DataFrame => DataFrame,
                             numHashes: Int = 32, bandRows: Int = 4,
                             shingleK: Int = 3, threshold: Double = 0.5)
                            (batch: DataFrame, batchId: Long): Unit = {
    val spark = batch.sparkSession
    val incoming = batch.dropDuplicates(idCol)
    if (incoming.isEmpty) return // replayed/empty batch: nothing to write
    val survivors = IndexStore.loadIfExists(spark, path) match {
      case None => incoming
      case Some(corpus) =>
        dedupGate(incoming, corpus.drop("cluster_id"), idCol, textCol,
          numHashes, bandRows, shingleK, threshold)
    }
    if (!survivors.isEmpty)
      IndexStore.upsertPartitioned(spark, path, assign(survivors), idCol)
  }
}
