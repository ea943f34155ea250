package perfbench

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession

/** One benchmark run: start a `local[nproc]` session, set the workload up
  * several times (the last set-up is the one measured), warm it up,
  * run its measured window, and write every figure as one JSON object to
  * `--out`.
  * `perfbench/run.py` builds this program and turns that file into the
  * benchmark's result line.
  *
  * Usage: Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *             --work <dir> --out <file> */
object Main {
  /** Set-ups per run: at least `MinSetups`, and more, up to `MaxSetups`,
    * until the set-ups after the first, cold one have taken `SetupSeconds`.
    * `setup_s` is their median, so a quick set-up is repeated more often
    * and one slow repetition does not move it. */
  val MinSetups = 3
  val MaxSetups = 9
  val SetupSeconds = 3.0

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") =>
      k.drop(2) -> v }.toMap
    val name = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val traced = a("trace") == "1"
    val work = a("work")
    val loadStart = loadavg()
    val cores = Runtime.getRuntime.availableProcessors
    val s0 = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
      .config("spark.sql.codegen.cache.maxEntries", "4096")
      // the tracer sees which persisted blocks each task stored
      .config("spark.taskMetrics.trackUpdatedBlockStatuses", traced.toString)
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.nanoTime() - s0) / 1e9

    val ctx = new Ctx(spark, seed, work, cores)
    val wl: Workload = name match {
      case "online_cascade" => new Online(ctx)
      case "served_refresh" => new Served(ctx)
      case "curate_dedup"   => new Curate(ctx)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val setups = scala.collection.mutable.ArrayBuffer.empty[Double]
    while (setups.size < MinSetups ||
           (setups.size < MaxSetups && setups.drop(1).sum < SetupSeconds)) {
      ctx.dropCachedBlocks()
      val t = System.nanoTime()
      wl.setup(setups.size)
      setups += (System.nanoTime() - t) / 1e9
    }
    val wu = System.nanoTime()
    wl.warmUp()
    // let the collector and Spark's ContextCleaner retire the warm-up's
    // garbage before the window opens, not during its first ops
    System.gc()
    val warmUpS = (System.nanoTime() - wu) / 1e9
    val probes = if (traced) Tracer.selfCheck(spark) else Nil
    if (traced) ctx.tracer = Some(new Tracer(spark))
    val w0 = System.nanoTime()
    val out = wl.measure(seconds)
    val wallS = (System.nanoTime() - w0) / 1e9
    probes.foreach { case (probe, n, duplicate) =>
      out.attempted += 1
      if ((n > 0) != duplicate)
        out.fail(s"tracer self-check: $probe read $n recomputed stages")
    }
    val trace = ctx.tracer.map(_.finish())
    val sc = spark.sparkContext
    val retainedRdds = sc.getPersistentRDDs.size.toDouble
    val retainedMb = sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / 1048576.0

    val untraced = out.untracedMs
    val (tailP, tailMs) = Stats.tail(untraced)
    val e2e = Seq(
      "setup_s" -> Stats.median(setups.toSeq),
      "latency_p50_ms" -> Stats.median(untraced),
      "throughput_per_s" -> out.items / math.max(1e-9, out.busySeconds),
      "peak_rss_mb" -> peakRssMb())
    val shown = Seq(
      "latency_tail_ms" -> tailMs,
      "latency_tail_percentile" -> tailP,
      "latency_samples" -> untraced.size.toDouble,
      "session_start_s" -> sessionS,
      "warm_up_s" -> warmUpS) ++
      out.info.toSeq.filterNot(_._1.contains('.'))
    val layers = trace.fold(Seq.empty[(String, Double)])(t =>
      perLayer(t, wl.opSpan, out, cores, wallS, retainedRdds, retainedMb))
    trace.foreach(t => writeSpans(t, s"$work/spans.json"))

    val correct = out.failed == 0 && out.attempted > 0
    val env = Seq(
      "loadavg_start" -> num(loadStart), "loadavg_end" -> num(loadavg()),
      "nproc" -> cores.toString,
      "heap_max_mb" -> num(Runtime.getRuntime.maxMemory / 1048576.0),
      "spark_version" -> str(spark.version),
      "java_version" -> str(System.getProperty("java.version")),
      "seed" -> seed.toString)
    val json = obj(Seq(
      "workload" -> str(name), "seed" -> seed.toString,
      "seconds" -> num(seconds), "trace" -> traced.toString,
      "correct" -> correct.toString, "attempted" -> out.attempted.toString,
      "failed" -> out.failed.toString,
      "failures" -> out.failures.map(str).mkString("[", ",", "]"),
      "digest" -> str(out.digest),
      "setup_runs_s" -> setups.map(num).mkString("[", ",", "]"),
      "recompute_probes" -> obj(probes.map { case (k, n, _) => k -> n.toString }),
      "measured_wall_s" -> num(wallS),
      "ops_ms" -> out.ops.map { case (ms, on) => obj(Seq("ms" -> num(ms),
        "traced" -> on.toString)) }.mkString("[", ",", "]"),
      "env" -> obj(env),
      "end_to_end" -> obj(e2e.map { case (k, v) => k -> num(v) }),
      "shown" -> obj(shown.map { case (k, v) => k -> num(v) }),
      "per_layer" -> obj(layers.map { case (k, v) => k -> num(v) })))
    Files.write(Paths.get(a("out")), json.getBytes("UTF-8"))
    spark.stop()
    System.exit(0)
  }

  /** Per-layer figures of a traced run. Spark counters are summed over
    * each op's span tree and averaged per op; span times are medians of
    * the layer's spans. A layer the workload does not call reads 0. */
  private def perLayer(t: Tracer.Trace, opSpan: String, out: Outcome,
                       cores: Int, wallS: Double, retainedRdds: Double,
                       retainedMb: Double): Seq[(String, Double)] = {
    val perOp = t.named(opSpan).map(t.inclusive)
    def mean(f: Tracer.Counters => Double): Double =
      if (perOp.isEmpty) 0.0 else perOp.map(f).sum / perOp.size
    def spanMs(n: String): Double = Stats.median(t.named(n).map(_.ms))
    val requests = t.named("request").map(t.inclusive)
    val traced = out.tracedMs
    val untraced = out.untracedMs
    val overhead = Stats.median(traced) - Stats.median(untraced)
    Seq(
      "spark.planning_ms" -> mean(_.planningMs),
      "spark.jobs" -> mean(_.jobs.toDouble),
      "spark.stages" -> mean(_.stages.toDouble),
      "spark.tasks" -> mean(_.tasks.toDouble),
      "spark.executor_run_ms" -> mean(_.runMs.toDouble),
      "spark.executor_cpu_ms" -> mean(_.cpuMs.toDouble),
      "spark.gc_ms" -> mean(_.gcMs.toDouble),
      "spark.busy_share" -> t.totalRunMs / (wallS * 1000 * cores),
      "spark.peak_concurrency" -> t.peakConcurrency.toDouble,
      "spark.shuffle_write_bytes" -> mean(_.shuffleWrite.toDouble),
      "spark.shuffle_read_bytes" -> mean(_.shuffleRead.toDouble),
      "spark.spill_bytes" -> mean(_.spill.toDouble),
      "spark.task_skew" -> Stats.median(perOp.map(_.worstSkew)),
      "spark.recomputed_stages" -> mean(_.recomputedStages.toDouble),
      "cascade.search_ms" -> spanMs("cascade.search"),
      "cascade.rerank_ms" -> spanMs("cascade.rerank"),
      "cascade.jobs_per_request" ->
        (if (requests.isEmpty) 0.0 else requests.map(_.jobs).sum.toDouble / requests.size),
      "cascade.retained_rdds_end" -> retainedRdds,
      "cascade.retained_mb_end" -> retainedMb,
      "cascade.batch_ms" -> spanMs("cascade.batch"),
      "ann.assign_ms" -> spanMs("ann.assign"),
      "index_store.load_pair_cold_ms" -> spanMs("index_store.load_pair_cold"),
      "index_store.load_pair_warm_ms" -> spanMs("index_store.load_pair_warm"),
      "index_store.commit_ms" -> spanMs("index_store.commit"),
      "index_store.prune_ms" -> spanMs("index_store.prune"),
      "dedup.exact_ms" -> spanMs("dedup.exact"),
      "dedup.minhash_ms" -> spanMs("dedup.minhash"),
      "dedup.components_ms" -> spanMs("dedup.components"),
      "dedup.purge_ms" -> spanMs("dedup.purge"),
      "curation.span_dedup_ms" -> spanMs("curation.span_dedup"),
      "trace.overhead_ms" -> overhead,
      "trace.overhead_share" ->
        (if (untraced.isEmpty) 0.0 else overhead / Stats.median(untraced)),
      "check.failed_share" -> out.failed.toDouble / math.max(1L, out.attempted)
    ) ++ Seq("index_store.write_amplification", "index_store.files_per_version",
      "index_store.bytes_on_disk_end", "dedup.pairs_per_doc",
      "dedup.removed_share", "curation.chars_removed_share",
      "loadgen.late_p95_ms").map(k => k -> out.info.getOrElse(k, 0.0))
  }

  private def writeSpans(t: Tracer.Trace, path: String): Unit = {
    val base = t.spans.map(_.startNs).minOption.getOrElse(0L)
    val rows = t.spans.map { s =>
      val c = t.counters.getOrElse(s.id, Tracer.Counters())
      obj(Seq("id" -> s.id.toString, "parent" -> s.parent.toString,
        "name" -> str(s.name), "request" -> s.request.toString,
        "start_ms" -> num((s.startNs - base) / 1e6),
        "end_ms" -> num((s.endNs - base) / 1e6),
        "self_ms" -> num(t.selfMs(s)),
        "jobs" -> c.jobs.toString, "stages" -> c.stages.toString,
        "tasks" -> c.tasks.toString, "planning_ms" -> num(c.planningMs),
        "executor_run_ms" -> c.runMs.toString,
        "shuffle_write_bytes" -> c.shuffleWrite.toString,
        "shuffle_read_bytes" -> c.shuffleRead.toString,
        "recomputed_stages" -> c.recomputedStages.toString))
    }
    Files.write(Paths.get(path), rows.mkString("[\n", ",\n", "\n]\n").getBytes("UTF-8"))
  }

  private def loadavg(): Double =
    try new String(Files.readAllBytes(Paths.get("/proc/loadavg"))).split(" ")(0).toDouble
    catch { case _: Exception => -1.0 }

  /** The JVM's peak resident set (VmHWM), in MB. */
  private def peakRssMb(): Double =
    try {
      val line = new String(Files.readAllBytes(Paths.get("/proc/self/status")))
        .split("\n").find(_.startsWith("VmHWM:")).get
      line.split("\\s+")(1).toDouble / 1024
    } catch { case _: Exception => -1.0 }

  private def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else d.toString
  private def str(s: String): String =
    "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
  private def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}
