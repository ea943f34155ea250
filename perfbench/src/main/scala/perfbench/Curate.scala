package perfbench

import graft.operators.{Curation, Dedup}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** `curate_dedup`: a BATCH job, repeated, over a seeded near-duplicate
  * corpus (see [[Gen.nearDupCorpus]]). One op is the whole pipeline:
  * `Dedup.exactByText` → `Dedup.minhashNearDups` over the exact-dedup
  * survivors → `Dedup.components` → `Dedup.applyPurgeManifest` →
  * `Curation.removeDuplicateSpans` (k = 4, minTokens = 8, maxGramDf = 50)
  * over the kept docs, consumed by one aggregate (count, chars, removed
  * tokens, content hash). The session's cached blocks are dropped between
  * jobs, as between two runs of a batch pipeline.
  *
  * Why: bound by shuffles, joins and window skew (the ROADMAP d2/d9/d16
  * items); it bypasses the cascade, Ann and IndexStore. Size: `BaseDocs`
  * base documents of 16–64 words, each with 0–`MaxCopies` extra copies
  * (each copy kept with probability `Density`) → about 3,000 docs. */
final class Curate(ctx: Ctx) extends Workload {
  import Curate._
  private val spark = ctx.spark
  private var docs: DataFrame = _
  private var nDocs = 0L
  private var job = 0
  // per measured window
  private var firstHash: Option[Long] = None
  private val pairs, removedDocs, charsRemoved, keptChars =
    scala.collection.mutable.ArrayBuffer.empty[Double]

  def opSpan: String = "job"

  def setup(rep: Int): Unit = {
    val path = s"${ctx.work}/curate/rep$rep/neardup.parquet"
    nDocs = Gen.nearDupCorpus(spark, ctx.seed, path, BaseDocs, Density, MaxCopies)
    docs = spark.read.parquet(path)
    job = -1
  }

  def warmUp(): Unit = runJob(new Outcome)

  def measure(seconds: Double): Outcome = {
    val out = new Outcome
    firstHash = None
    Seq(pairs, removedDocs, charsRemoved, keptChars).foreach(_.clear())
    val t0 = System.nanoTime()
    while (job == 0 || (System.nanoTime() - t0) / 1e9 < seconds) {
      out.attempted += 1
      try runJob(out)
      catch { case e: Exception => out.fail(s"job $job threw ${e.getMessage}") }
    }
    out.busySeconds = out.ops.map(_._1).sum / 1000
    if (pairs.nonEmpty) {
      out.info("dedup.pairs_per_doc") = Stats.median(pairs.toSeq) / nDocs
      out.info("dedup.removed_share") = Stats.median(removedDocs.toSeq) / nDocs
      out.info("curation.chars_removed_share") =
        charsRemoved.sum / math.max(1.0, keptChars.sum)
    }
    out
  }

  private def runJob(out: Outcome): Unit = {
    val j = job
    job += 1
    val on = j >= 0 && ctx.traced(j)
    // a traced job forces each layer's output at its boundary, so every
    // layer span covers its own work
    def force(df: DataFrame) = if (on) df.localCheckpoint(true) else df
    ctx.dropCachedBlocks()
    val t0 = System.nanoTime()
    val (pairDf, comp, verdict, kept, result) = ctx.span(on, "job", j) {
      val exact = ctx.span(on, "dedup.exact", j)(
        force(Dedup.exactByText(docs, "text", "doc_id")))
      val reps = docs.join(exact.select(col("keep_id").as("doc_id")), "doc_id")
      val pairDf = ctx.span(on, "dedup.minhash", j)(
        force(Dedup.minhashNearDups(reps, "doc_id", "text")))
      val comp = ctx.span(on, "dedup.components", j)(Dedup.components(pairDf))
      val verdict = ctx.span(on, "dedup.purge", j)(
        force(Dedup.applyPurgeManifest(reps, "doc_id", comp)))
      val kept = reps.join(verdict.filter(col("keep")).select("doc_id"), "doc_id")
      val result = ctx.span(on, "curation.span_dedup", j)(
        Curation.removeDuplicateSpans(kept, "doc_id", "text", 4, 8, 50)
          .agg(count(lit(1)), sum(length(col("text"))), sum(col("n_removed_tokens")),
            sum(pmod(xxhash64(col("doc_id"), col("text")), lit(1L << 31))))
          .collect()(0))
      (pairDf, comp, verdict, kept, result)
    }
    val ms = (System.nanoTime() - t0) / 1e6
    if (j < 0) return
    out.ops += ((ms, on))
    out.items += nDocs
    val digest = (0 until 4).map(i => if (result.isNullAt(i)) 0L else result.getLong(i))
    if (j == 0) out.digestAdd(digest.mkString(" "))
    if (firstHash.getOrElse(digest(3)) != digest(3))
      out.fail(s"job $j: output differs from the window's first job")
    if (firstHash.isEmpty) firstHash = Some(digest(3))
    if (j == 0 || on) {
      // untimed checks: the components partition the ids they cover,
      // every input id gets exactly one verdict, each component keeps
      // exactly its minimum id
      out.attempted += 1
      val c = comp.collect().map(r => (r.getLong(0), r.getLong(1)))
      val v = verdict.select("doc_id", "component_id", "keep").collect()
      val nReps = docs.join(Dedup.exactByText(docs, "text", "doc_id")
        .select(col("keep_id").as("doc_id")), "doc_id").count()
      val problems = Seq(
        (c.map(_._1).distinct.length != c.length) -> "a doc in two components",
        (v.length != nReps || v.map(_.getLong(0)).distinct.length != v.length) ->
          s"${v.length} verdicts for $nReps docs",
        c.groupBy(_._2).exists { case (cid, ms) => !ms.exists(_._1 == cid) } ->
          "a component id outside its component",
        v.filter(!_.isNullAt(1)).groupBy(_.getLong(1)).exists { case (cid, rs) =>
          rs.count(_.getBoolean(2)) != 1 || !rs.exists(r => r.getBoolean(2) && r.getLong(0) == cid)
        } -> "a component without exactly one kept doc")
      problems.collect { case (true, m) => m }.foreach(m => out.fail(s"job $j: $m"))
      if (on) {
        pairs += pairDf.count().toDouble
        val kc = kept.agg(sum(length(col("text")))).collect()(0).getLong(0)
        removedDocs += (nDocs - digest(0)).toDouble
        charsRemoved += (kc - digest(1)).toDouble
        keptChars += kc.toDouble
      }
    }
  }
}

object Curate {
  val BaseDocs = 1500
  val Density = 0.35
  val MaxCopies = 3
}
