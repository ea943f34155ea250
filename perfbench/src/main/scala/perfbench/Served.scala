package perfbench

import graft.operators.{Ann, MultiStageSearch}
import graft.sources.IndexStore
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import scala.jdk.CollectionConverters._

/** `served_refresh`: a CLOSED loop with one offline caller over a served
  * IVF index that is both written and read. A refresh cycle: a seeded
  * delta of new documents arrives, is assigned to the current centroids
  * (`Ann.ivfAssignBig`), committed as index ∪ delta
  * (`IndexStore.writeVersionedWithCentroids`) and old versions pruned
  * (`pruneVersions(keep = 2)`); then `LogsPerCycle` seeded query logs are
  * served against the new version — each read through
  * `loadCurrentWithCentroidsCached` (the first misses the pair cache, the
  * rest hit it) and answered by `searchGatedBatchServed` (nprobe 8). The
  * latency op is one served log (pair load → collected answers);
  * throughput divides the queries served by the whole cycles' time, so
  * the refresh counts there.
  *
  * Why: CascadeServe's production shape. A read-side layout change that
  * slows commits shows in throughput, and so does the reverse. The load
  * is the Ann probe, the batch cascade and shuffles; it bypasses
  * per-query driver orchestration and Dedup. Size: a 2,000-row index
  * (k = 32 centroids) growing by `DeltaDocs` rows per cycle; logs of
  * `LogQueries` queries, even logs drawn near 2 of the 16 clusters
  * (queries share probed cells), odd logs from the whole corpus. */
final class Served(ctx: Ctx) extends Workload {
  import Served._
  private val spark = ctx.spark
  private var corpus: Gen.Corpus = _
  private var root: String = _
  private var dir: String = _
  private var nextId = 0L
  private var cycle = 0
  private var centroidDigest = ""
  // per measured cycle
  private val refreshMs = scala.collection.mutable.ArrayBuffer.empty[Double]
  private val cycleMs = scala.collection.mutable.ArrayBuffer.empty[Double]
  private val writeAmp = scala.collection.mutable.ArrayBuffer.empty[Double]
  private val files = scala.collection.mutable.ArrayBuffer.empty[Double]

  def opSpan: String = "cycle"

  def setup(rep: Int): Unit = {
    dir = s"${ctx.work}/served/rep$rep"
    root = s"$dir/index"
    corpus = Gen.corpus(spark, ctx.seed, dir, Online.CorpusDocs,
      Online.CorpusVectors)
    val rows = spark.read.parquet(corpus.docsPath)
      .join(spark.read.parquet(corpus.embPath), col("doc_id") === col("vec_id"))
      .select(col("doc_id"), col("text"), col("embedding"))
    // on the partitioned join output, KMeans trained one of two centroid
    // tables (apart in their last bits) for the same rows, even between
    // set-ups of one run, and the served answers followed; one partition in
    // a fixed row order trains the same centroids every time
    val cent = Ann.trainCentroids(
      rows.repartition(1).sortWithinPartitions("doc_id"), "embedding", Centroids, seed = 42L)
    centroidDigest = cent.orderBy("cid").collect().map(r =>
      r.getLong(0) + ":" + r.getSeq[Double](1).map(java.lang.Double.doubleToLongBits)
        .mkString(",")).mkString(";").hashCode.toHexString
    IndexStore.writeVersionedWithCentroids(
      Ann.ivfAssignBig(rows, "embedding", "doc_id", cent, "cid", "cvec")
        .select(col("doc_id"), col("text"), col("embedding"), col("cluster_id")),
      cent, root)
    nextId = FirstDeltaId
    cycle = -1
  }

  /** One whole cycle, not measured. */
  def warmUp(): Unit = runCycle(new Outcome)

  def measure(seconds: Double): Outcome = {
    val out = new Outcome
    Seq(refreshMs, cycleMs, writeAmp, files).foreach(_.clear())
    out.digestAdd(s"centroids $centroidDigest")
    val t0 = System.nanoTime()
    while (cycle == 0 || (System.nanoTime() - t0) / 1e9 < seconds) {
      out.attempted += 1
      try runCycle(out)
      catch { case e: Exception => out.fail(s"cycle $cycle threw ${e.getMessage}") }
    }
    out.busySeconds = cycleMs.sum / 1000
    out.info("refresh_p50_ms") = Stats.median(refreshMs.toSeq)
    out.info("cycle_p50_ms") = Stats.median(cycleMs.toSeq)
    out.info("index_store.write_amplification") = Stats.median(writeAmp.toSeq)
    out.info("index_store.files_per_version") = Stats.median(files.toSeq)
    val (fs, p) = fsOf(root)
    out.info("index_store.bytes_on_disk_end") =
      fs.getContentSummary(p).getLength.toDouble
    out
  }

  /** One refresh cycle; measured ops (cycle ≥ 0) record into `out`. */
  private def runCycle(out: Outcome): Unit = {
    val c = cycle
    cycle += 1
    val on = c >= 0 && ctx.traced(c)
    val deltaPath = s"$dir/delta_$c.parquet"
    val delta = Gen.delta(spark, ctx.seed, c, nextId, DeltaDocs, deltaPath)
    nextId += DeltaDocs
    val t0 = System.nanoTime()
    val (probeId, probeVec) = delta(Gen.rng(ctx.seed, s"probe-$c").nextInt(delta.length))
    var cycleBatchMs = Vector.empty[Double]
    val version = ctx.span(on, "cycle", c) {
      val arrived = spark.read.parquet(deltaPath)
        .select(col("doc_id"), col("text"), col("embedding"))
      val (index, cent, _) = IndexStore.loadCurrentWithCentroidsCached(spark, root)
      val assigned = ctx.span(on, "ann.assign", c) {
        val a = Ann.ivfAssignBig(arrived, "embedding", "doc_id", cent, "cid", "cvec")
          .select(col("doc_id"), col("text"), col("embedding"), col("cluster_id"))
        if (on) a.localCheckpoint(true) else a
      }
      val v = ctx.span(on, "index_store.commit", c)(
        IndexStore.writeVersionedWithCentroids(index.unionByName(assigned), cent, root))
      ctx.span(on, "index_store.prune", c)(IndexStore.pruneVersions(spark, root, 2))
      if (c >= 0) refreshMs += (System.nanoTime() - t0) / 1e6
      (0 until LogsPerCycle).foreach { l =>
        val log = queryLog(c, l, probeVec)
        val b0 = System.nanoTime()
        val (idx, cen, served) = ctx.span(on,
            if (l == 0) "index_store.load_pair_cold" else "index_store.load_pair_warm", c)(
          IndexStore.loadCurrentWithCentroidsCached(spark, root))
        if (served != v) out.fail(s"cycle $c log $l read v$served, committed v$v")
        val rows = ctx.span(on, "cascade.batch", c)(
          new MultiStageSearch(idx, "doc_id", "text", "embedding")
            .searchGatedBatchServed(log, "qid", "qtext", "qvec", cen, "cid", "cvec", Nprobe)
            .select(col("qid"), col("doc_id"), col("rank"))
            .collect().toSeq)
        cycleBatchMs :+= (System.nanoTime() - b0) / 1e6
        if (c >= 0) {
          out.attempted += 1
          checkLog(c, l, rows, probeId).foreach(m => out.fail(s"cycle $c log $l: $m"))
          out.items += LogQueries + 1
          // the digest covers the first cycle, which every run completes
          if (c == 0) rows.map(r => (r.getLong(0), r.getInt(2), r.getLong(1))).sorted
            .foreach { case (q, k, d) => out.digestAdd(s"$l $q $k $d") }
        }
      }
      v
    }
    if (c >= 0) {
      cycleMs += (System.nanoTime() - t0) / 1e6
      out.ops ++= cycleBatchMs.map(ms => (ms, on))
      val (fs, p) = fsOf(root)
      val vdir = new org.apache.hadoop.fs.Path(p, s"v$version")
      val written = fs.getContentSummary(vdir)
      val deltaBytes = fs.getContentSummary(
        new org.apache.hadoop.fs.Path(deltaPath)).getLength
      writeAmp += written.getLength.toDouble / deltaBytes
      files += written.getFileCount.toDouble
    }
  }

  /** Query log `l` of cycle `c`: `LogQueries` generated queries plus one
    * probe (qid = `LogQueries`) whose vector is a delta document's
    * embedding and whose text has no terms, so that document must rank in
    * its top 5. */
  private def queryLog(c: Int, l: Int, probe: Array[Double]): DataFrame = {
    val r = Gen.rng(ctx.seed, s"log-$c-$l")
    val local = if (l % 2 == 0)
      Some(Set(r.nextInt(Gen.Clusters), r.nextInt(Gen.Clusters))) else None
    val rows = Gen.queryMix(r, LogQueries).zipWithIndex.map { case (q, i) =>
      Row(i.toLong, q, Gen.queryVector(r, corpus, local).toSeq)
    } :+ Row(LogQueries.toLong, "hello i need some work soon", probe.toSeq)
    spark.createDataFrame(rows.asJava, LogSchema)
  }

  private def checkLog(c: Int, l: Int, rows: Seq[Row], probeId: Long): Option[String] = {
    val byQ = rows.groupBy(_.getLong(0))
    val bad = byQ.collectFirst {
      case (q, rs) if rs.size > 5 || rs.map(_.getInt(2)).sorted != (1 to rs.size) =>
        s"query $q ranks ${rs.map(_.getInt(2))}"
    }
    bad.orElse(
      if (!byQ.getOrElse(LogQueries.toLong, Nil).exists(_.getLong(1) == probeId))
        Some(s"probe for delta doc $probeId missed it")
      else None)
  }

  private def fsOf(path: String) = {
    val p = new org.apache.hadoop.fs.Path(path)
    (p.getFileSystem(spark.sparkContext.hadoopConfiguration), p)
  }
}

object Served {
  val Centroids = 32
  val Nprobe = 8
  val DeltaDocs = 200
  val LogsPerCycle = 2
  val LogQueries = 64
  val FirstDeltaId = 1000000L
  val LogSchema: StructType = StructType(Seq(StructField("qid", LongType),
    StructField("qtext", StringType),
    StructField("qvec", ArrayType(DoubleType, containsNull = false))))
}
