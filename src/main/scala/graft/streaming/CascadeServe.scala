package graft.streaming

import graft.operators.{CascadeConfig, MultiStageSearch}
import graft.sources.IndexStore
import org.apache.spark.sql.DataFrame

/** The flagship cascade as a STREAMING service — the Spark-first
  * replacement for the reference's per-request REST loop: queries
  * arrive as a stream `(qid, qtext, qvec)`, each micro-batch is served
  * by ONE [[MultiStageSearch.searchGatedBatchServed]] call against
  * the newest COMMITTED index version, and results land
  * batch-partitioned so at-least-once replay is idempotent.
  *
  * Three serving concerns this composition settles:
  *
  *  - **Index freshness — atomically WITH its geometry.** A
  *    stream-static join snapshots the static side's file listing at
  *    plan time ([[QueryServe]]'s scaladoc), so a rebuilt index would
  *    not be seen — and an overwritten one can invalidate the snapshot
  *    mid-query. Reading [[IndexStore.loadCurrentWithCentroidsCached]]
  *    INSIDE foreachBatch re-resolves per micro-batch (the CACHED
  *    form's freshness is the same per-call version listing plus the
  *    marker-mtime token, so only the per-version schema re-inference
  *    — ~1.5 s/batch on the measured 2M root — is skipped): a
  *    `_SUCCESS`-gated version flip
  *    ([[IndexStore.writeVersionedWithCentroids]]) is picked up at the
  *    next batch, a crashed build is invisible (no marker, not
  *    current) — and because the centroid table rides INSIDE the
  *    version directory, a RETRAIN that changes both the geometry and
  *    the cluster-id space flips as one unit. Probing new cluster ids
  *    with old centroids (the failure mode of a separate centroid
  *    path) cannot happen: the pair is read from the same committed
  *    directory.
  *  - **Throughput.** The whole micro-batch is one
  *    [[MultiStageSearch.searchGatedBatchServed]] call — a
  *    request-sized batch is one pass over the probed cells that ranks
  *    every (query, stage) top-k, with the gates and rerank on the
  *    driver (three jobs per batch: centroids, query broadcast, pass),
  *    so the per-query fixed cost is paid once per BATCH, and the pair
  *    stream is probe-pruned to each query's nprobe clusters.
  *  - **Replay.** foreachBatch delivers at-least-once after recovery.
  *    Results are written `mode=overwrite` into a `batch=<id>`
  *    directory, so a replayed batch REPLACES its own output instead
  *    of appending duplicates — idempotent without a journal, because
  *    serving output (unlike [[MvMaintain]]'s running aggregate) has
  *    no cross-batch state to double-absorb. Readers see the result
  *    log as one partitioned table ([[results]]).
  *
  * An empty micro-batch writes nothing (no empty batch=N debris), and
  * so does a batch whose queries are ALL blank — both detected from
  * the QUERY side (one cheap micro-batch scan), so the served plan
  * executes exactly once per live batch. A live batch that serves
  * ZERO rows (e.g. null query vectors) is swept AFTER the write from
  * the written listing — same no-debris contract, still one plan
  * execution.
  *
  * A micro-batch is sized by the engine, not here: a request-sized
  * batch merges its heaps on the driver while its candidates fit the
  * driver budget, and otherwise across a qid shuffle, a log over the
  * log limit slicing itself by the measured row width
  * ([[MultiStageSearch.searchGatedBatch]]).
  */
object CascadeServe {

  /** foreachBatch body. Wire as
    * `.writeStream.option("checkpointLocation", ckpt)
    *   .foreachBatch(CascadeServe.sink(root, out, ...) _)`.
    * `nprobe` is the CONFIGURED probe budget; when the current
    * version's `_meta.json` carries a maintenance-validated budget
    * ([[IndexStore.PairMeta.nprobe]]), the sink serves at
    * `max(configured, stamped)` — see [[IndexStore.effectiveNprobe]].
    * `indexRoot` is a versioned [[IndexStore]] root written by
    * [[IndexStore.writeVersionedWithCentroids]]: each committed
    * version holds the cluster-assigned cascade index (doc id, text,
    * embedding, cluster_id) AND the centroid table (`cid`, `cvec`) it
    * was assigned with, read back as one atomic pair per micro-batch. */
  def sink(indexRoot: String, outPath: String,
           idCol: String, textCol: String, embCol: String,
           qidCol: String, qtextCol: String, qvecCol: String,
           nprobe: Int, cfg: CascadeConfig = CascadeConfig())
          (batch: DataFrame, batchId: Long): Unit = {
    // Empty/all-blank detection runs on the QUERY side (one cheap scan
    // of the micro-batch), not by executing the served plan twice — an
    // isEmpty on `served` would run the full cascade once for the check
    // and again for the write, doubling per-batch serving cost.
    import org.apache.spark.sql.functions.col
    // "non-blank" must match MultiStageSearch's Java-trim semantics
    // (every char <= U+0020 is whitespace): at least one char ABOVE
    // U+0020. Spark's trim() strips only spaces, so trim(text) != ''
    // would judge a "\t"-only batch live and write empty debris.
    if (batch.filter(col(qtextCol).isNotNull &&
        col(qtextCol).rlike("[^\\x00-\\x20]")).isEmpty) return
    val spark = batch.sparkSession
    // The CACHED pair load: freshness is identical to the uncached form
    // (every micro-batch re-lists committed versions and stats the
    // current marker's mtime — a flip OR a deleted-and-rebuilt root is
    // picked up at the very next batch, both spec-pinned), so the sink
    // stops paying the per-batch schema re-inference the round-16 A/B
    // measured at ~1.5 s on a 256-partition 2M root — pure tax at
    // steady state, where the version flips rarely and batches arrive
    // constantly.
    val (index, cent, version) =
      IndexStore.loadCurrentWithCentroidsCached(spark, indexRoot)
    // The version's stamped meta, read once per batch (one tiny FS
    // read, same class as the listing the load already pays): the
    // maintenance-validated probe budget is a FLOOR — a maintenance
    // commit that adapted nprobe to a grown cell count validated THIS
    // geometry at THAT budget, and serving below it re-creates the
    // exact recall sag the adaptation corrected (the round-18 2M
    // probe: recall 0.32 at the config's nprobe 16 vs 0.609 at the
    // adopted 87). A configured nprobe ABOVE the stamp is honored —
    // probing more never hurts recall, and the deployment may want
    // the headroom. Re-read per batch so a maintenance flip changes
    // the effective budget at the very batch that picks it up.
    val np = IndexStore.effectiveNprobe(nprobe,
      IndexStore.pairMeta(spark, indexRoot, version))
    val out = s"$outPath/batch=$batchId"
    new MultiStageSearch(index, idCol, textCol, embCol, cfg)
      .searchGatedBatchServed(batch, qidCol, qtextCol, qvecCol,
        cent, "cid", "cvec", np)
      .write.mode("overwrite").parquet(out)
    dropIfDataless(spark, out)
  }

  /** Remove a batch directory that holds no DATA rows. A live batch
    * can legitimately serve zero rows (e.g. every query vector null —
    * all pair distances null, excluded by contract), and a data-less
    * `batch=<id>` directory (just `_SUCCESS`, or 0-row part files)
    * would crash [[results]] when it is the only output so far
    * (parquet schema inference over zero rows). The check inspects the
    * WRITTEN output — one listing plus, when part files exist, one
    * read-back isEmpty over the tiny written result — never a second
    * execution of the served plan. */
  private def dropIfDataless(spark: org.apache.spark.sql.SparkSession,
                             out: String): Unit = {
    val path = new org.apache.hadoop.fs.Path(out)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(path)) return
    val parts = fs.listStatus(path)
      .filter(_.getPath.getName.startsWith("part-"))
    if (parts.isEmpty || spark.read.parquet(out).isEmpty)
      fs.delete(path, true)
  }

  /** The accumulated result log as one table: every served batch's
    * rows plus the `batch` partition column (which micro-batch
    * answered the query). */
  def results(spark: org.apache.spark.sql.SparkSession,
              outPath: String): DataFrame =
    spark.read.parquet(outPath)
}
