package perfbench

import graft.operators.MultiStageSearch
import java.util.concurrent.{Executors, TimeUnit}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

/** `online_cascade`: independent job seekers sharing one long-lived
  * session; nothing is dropped from the session's caches between requests.
  * One request is a generated message plus its query vector →
  * `MultiStageSearch.search` → collect of the top-5. The window has two
  * parts:
  *  - throughput: `cores` clients in a CLOSED loop for `ClosedShare` of the
  *    window; requests answered divided by the time they took;
  *  - latency: an OPEN loop for the rest. Requests arrive on a fixed
  *    schedule (`Rate` per second), are dispatched to `cores` worker
  *    threads and are timed from their due time.
  *
  * Why: this is the reference product's request. Its time goes to driver
  * planning, per-stage jobs and the per-call scored-corpus checkpoint; it
  * bypasses IndexStore and Dedup. Size: the cascade corpus is documents ⋈
  * embeddings = 2,000 rows (5,000 documents, 2,000 vectors). */
final class Online(ctx: Ctx) extends Workload {
  import Online._
  private val spark = ctx.spark
  private var corpus: Gen.Corpus = _
  private var search: MultiStageSearch = _

  def opSpan: String = "request"

  def setup(rep: Int): Unit = {
    corpus = Gen.corpus(spark, ctx.seed, s"${ctx.work}/online/rep$rep",
      CorpusDocs, CorpusVectors)
    // the service loads its corpus once and keeps it for every request
    val rows = spark.read.parquet(corpus.docsPath)
      .join(spark.read.parquet(corpus.embPath), col("doc_id") === col("vec_id"))
      .select(col("doc_id"), col("text"), col("embedding"))
      .localCheckpoint(true)
    search = new MultiStageSearch(rows, "doc_id", "text", "embedding")
  }

  /** The request workers; the warm-up runs on them too, so the window
    * starts on warm threads. */
  private lazy val pool = Executors.newFixedThreadPool(ctx.cores)

  /** `cores` clients in a closed loop for `WarmUpSeconds`: the planner
    * and codegen paths need tens of requests before latency settles. */
  def warmUp(): Unit = closedLoop("warmup", WarmUpSeconds, new Outcome)

  private def vec(v: Array[Double]) = typedlit(v.toSeq)

  def measure(seconds: Double): Outcome = {
    val out = new Outcome
    closedLoop("closed", seconds * ClosedShare, out)
    openLoop(seconds * (1 - ClosedShare), out)
    out
  }

  /** `cores` clients, each sending its next request (drawn from `stream`)
    * as soon as the last one is answered, until `seconds` have passed;
    * sets the throughput. */
  private def closedLoop(stream: String, seconds: Double, out: Outcome): Unit = {
    val r = Gen.rng(ctx.seed, stream)
    val qs = Gen.queryMix(r, 400).map(q => (q, Gen.queryVector(r, corpus, None))).toArray
    val next = new java.util.concurrent.atomic.AtomicInteger(0)
    val answered = new java.util.concurrent.atomic.AtomicLong(0)
    val t0 = System.nanoTime()
    val until = t0 + (seconds * 1e9).toLong
    val clients = (0 until ctx.cores).map { _ =>
      pool.submit(new Runnable {
        def run(): Unit = while (System.nanoTime() < until) {
          val i = next.getAndIncrement()
          val (q, v) = qs(i % qs.length)
          try {
            val df = search.search(q, vec(v))
            check(q, df, df.collect().toSeq) match {
              case Some(m) => out.fail(s"closed-loop request $i: $m")
              case None => answered.incrementAndGet()
            }
          } catch {
            case e: Exception => out.fail(s"closed-loop request $i threw ${e.getMessage}")
          }
        }
      })
    }
    clients.foreach(_.get())
    out.synchronized(out.attempted += next.get())
    out.items = answered.get()
    out.busySeconds = (System.nanoTime() - t0) / 1e9
  }

  /** Requests due at `Rate` per second for `seconds`; sets the latency. */
  private def openLoop(seconds: Double, out: Outcome): Unit = {
    val n = math.max(1, math.round(Rate * seconds).toInt)
    val r = Gen.rng(ctx.seed, "requests")
    val reqs = Gen.queryMix(r, n).map(q => (q, Gen.queryVector(r, corpus, None))).toArray
    // the loop opens with LeadInSeconds of unmeasured requests on the same
    // schedule: the first requests after a closed loop run slow
    val lead = math.round(Rate * LeadInSeconds).toInt
    val leadIn = Gen.queryMix(Gen.rng(ctx.seed, "lead-in"), lead)
      .map(q => (q, Gen.queryVector(r, corpus, None))).toArray
    val results = new Array[Seq[Row]](n)
    val latency = new Array[Double](n)
    val late = new Array[Double](n)
    val wrong = new Array[Boolean](n)
    def serve(i: Int, due: Long): Unit = {
      val on = ctx.traced(i)
      try {
        val (q, v) = reqs(i)
        val rows = ctx.span(on, "request", i) {
          val df = ctx.span(on, "cascade.search", i)(search.search(q, vec(v)))
          val got = ctx.span(on, "cascade.rerank", i)(df.collect().toSeq)
          check(q, df, got).foreach { m =>
            out.fail(s"request $i: $m")
            wrong(i) = true
          }
          got
        }
        latency(i) = (System.nanoTime() - due) / 1e6
        results(i) = rows
        out.synchronized(out.ops += ((latency(i), on)))
      } catch {
        case e: Exception => out.fail(s"request $i threw ${e.getMessage}")
      }
    }
    val intervalNs = (1e9 / Rate).toLong
    val t0 = System.nanoTime() + 20000000L + lead * intervalNs
    (-lead until n).foreach { i =>
      val due = t0 + i * intervalNs
      val wait = due - System.nanoTime()
      if (wait > 0) TimeUnit.NANOSECONDS.sleep(wait)
      if (i < 0) {
        val (q, v) = leadIn(i + lead)
        pool.execute(() => { search.search(q, vec(v)).collect(); () })
      } else {
        late(i) = (System.nanoTime() - due) / 1e6
        pool.execute(() => serve(i, due))
      }
    }
    pool.shutdown()
    pool.awaitTermination(1, TimeUnit.HOURS)
    out.attempted += n
    // a failed or wrong answer misses the SLO
    out.info("slo_share") = (0 until n).count(i =>
      results(i) != null && !wrong(i) && latency(i) <= SloMs).toDouble / n
    out.info("loadgen.late_p95_ms") = Stats.quantile(late.toSeq, 0.95)
    (0 until n).foreach { i =>
      out.digestAdd(s"$i " + Option(results(i)).fold("failed")(_.map(row =>
        s"${row.getAs[Any]("doc_id")}@${row.getAs[Int]("rank")}").mkString(",")))
    }
    // c1 identity on a seeded sample: the adaptive cascade's answer must
    // be row-identical to the declarative gated cascade's
    val pick = Gen.rng(ctx.seed, "identity")
    val sample = (0 until n).filter(i => results(i) != null &&
      !Gen.isBlank(reqs(i)._1))
      .sortBy(_ => pick.nextLong()).take(IdentitySample)
    sample.foreach { i =>
      out.attempted += 1
      val (q, v) = reqs(i)
      val gated = search.searchGated(q, vec(v)).collect().toSeq
      if (gated.sortBy(_.getAs[Int]("rank")) != results(i).sortBy(_.getAs[Int]("rank")))
        out.fail(s"request $i: search and searchGated disagree")
    }
  }

  private def check(q: String, df: DataFrame, rows: Seq[Row]): Option[String] =
    if (Gen.isBlank(q)) {
      if (rows.nonEmpty) Some("blank query returned rows")
      else if (df.schema.fieldNames.toSeq != ResultCols)
        Some(s"blank query schema ${df.schema.fieldNames.mkString(",")}")
      else None
    } else {
      val ranks = rows.map(_.getAs[Int]("rank"))
      if (rows.isEmpty || rows.size > 5) Some(s"${rows.size} rows")
      else if (ranks.sorted != (1 to rows.size)) Some(s"ranks $ranks")
      else None
    }
}

object Online {
  /** About half of one client's capacity, so latency measures the
    * cascade, not a backlog (`slo_share` and `loadgen.late_p95_ms` show
    * when that stops holding). */
  val Rate = 2.0
  /** Share of the window that the closed loop takes. */
  val ClosedShare = 0.3
  val WarmUpSeconds = 5.0
  val LeadInSeconds = 2.0
  val SloMs = 1000.0
  val CorpusDocs = 5000
  val CorpusVectors = 2000
  val IdentitySample = 3
  val ResultCols = Seq("doc_id", "text", "dist", "stage_rank",
    "judge_score", "rule_score", "score", "rank")
}
