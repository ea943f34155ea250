package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.scheduler._
import org.apache.spark.sql.{SparkInternals, SparkSession}
import org.apache.spark.sql.execution.SparkPlanInfo
import org.apache.spark.sql.execution.ui.{SparkListenerSQLAdaptiveExecutionUpdate, SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.storage.RDDBlockId
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Spans around the benchmark's calls into each engine layer, with Spark
  * engine counters attributed to them, all recorded from outside the
  * engine by a `SparkListener` the benchmark registers: jobs, stages and
  * task metrics, and each SQL execution's `QueryExecution.tracker`
  * planning phases. A span tags the Spark jobs it starts with a job tag
  * (`pb-<span id>`, thread-local in Spark), so jobs, stages, tasks and SQL
  * executions map back to the innermost open span of the calling thread.
  * Spans and events are kept in memory and aggregated once at the end.
  *
  * Duplicate work ("racing consumers"): a task recomputes when it
  * computes, for its partition, a piece of work that an earlier task of
  * the same op (the span tree under one top-level span) already computed.
  * A piece of work is
  *  - a SQL plan node metric the task updated, named by the node's
  *    subtree's description (so two plannings of the same DataFrame, with
  *    fresh RDDs, match), leaving out scans of data already in memory
  *    (checkpointed or cached RDDs, local rows);
  *  - an RDD of the task's stage lineage that is not persisted, by id;
  *  - a persisted RDD's block, when the task stored it (a block lost to
  *    eviction or a drop and stored again was computed twice; a consumer
  *    that waited for another's block did not compute it).
  * A stage with such a task counts once in `recomputedStages`. */
final class Tracer(spark: SparkSession) {
  import Tracer._

  private val sc = spark.sparkContext
  private val nextId = new AtomicLong(0)
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val stack = new ThreadLocal[List[Span]] {
    override def initialValue(): List[Span] = Nil
  }

  // raw listener events
  private val jobSpans = new ConcurrentLinkedQueue[Long]()
  private val stages = new ConcurrentLinkedQueue[(StageInfo, Long)]()   // completed stage → span
  private val stageSpan = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
  private val tasks = new ConcurrentLinkedQueue[TaskSample]()
  private val execSpan = new java.util.concurrent.ConcurrentHashMap[Long, Long]()
  private val planning = new ConcurrentLinkedQueue[(Long, Double)]()   // execution → ms
  private val plans = new ConcurrentLinkedQueue[SparkPlanInfo]()

  private def spanOfTags(tags: Iterable[String]): Long =
    tags.collect { case t if t.startsWith(TagPrefix) =>
      t.stripPrefix(TagPrefix).toLong }.maxOption.getOrElse(0L)

  private def spanOfProps(p: java.util.Properties): Long =
    spanOfTags(SparkInternals.jobTags(p))

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      jobSpans.add(spanOfProps(e.properties))
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      stageSpan.put(e.stageInfo.stageId, spanOfProps(e.properties))
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      stages.add((e.stageInfo, stageSpan.getOrDefault(e.stageInfo.stageId, 0L)))
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null) {
        // the task's run on the executor: launch + deserialization, then
        // its run time (driver-side launch/finish times overlap across
        // tasks while results travel back)
        val runStart = e.taskInfo.launchTime + m.executorDeserializeTime
        tasks.add(TaskSample(e.stageId, e.taskInfo.partitionId, runStart,
          runStart + m.executorRunTime,
          e.taskInfo.duration, m.executorRunTime, m.executorCpuTime / 1000000,
          m.jvmGCTime, m.shuffleWriteMetrics.bytesWritten,
          m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead,
          m.memoryBytesSpilled + m.diskBytesSpilled,
          e.taskInfo.accumulables.filter(_.update.isDefined).map(_.id),
          m.updatedBlockStatuses.collect {
            case (b: RDDBlockId, st) if st.storageLevel.isValid => (b.rddId, b.splitIndex)
          }))
      }
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart =>
        execSpan.put(s.executionId, spanOfTags(s.jobTags))
        plans.add(s.sparkPlanInfo)
      case s: SparkListenerSQLAdaptiveExecutionUpdate =>
        plans.add(s.sparkPlanInfo)
      case s: SparkListenerSQLExecutionEnd =>
        planning.add((s.executionId, SparkInternals.planningMs(s)))
      case _ =>
    }
  }

  sc.addSparkListener(listener)

  /** Run `f` inside a span named after the layer it calls into. */
  def span[T](name: String, request: Long)(f: => T): T = {
    val parent = stack.get().headOption
    val s = Span(nextId.incrementAndGet(), parent.map(_.id).getOrElse(0L),
      name, request, System.nanoTime())
    stack.set(s :: stack.get())
    sc.addJobTag(TagPrefix + s.id)
    try f
    finally {
      s.endNs = System.nanoTime()
      sc.removeJobTag(TagPrefix + s.id)
      stack.set(stack.get().tail)
      spans.add(s)
    }
  }

  /** Stop listening and attribute every recorded event to its span. */
  def finish(): Trace = {
    SparkInternals.drain(sc)
    sc.removeSparkListener(listener)
    val all = spans.asScala.toSeq.sortBy(_.id)
    val counters = mutable.HashMap.empty[Long, Counters]
    def of(id: Long) = counters.getOrElseUpdate(id, Counters())
    jobSpans.asScala.foreach(s => of(s).jobs += 1)
    planning.asScala.foreach { case (exec, ms) =>
      of(execSpan.getOrDefault(exec, 0L)).planningMs += ms }
    val taskByStage = tasks.asScala.toSeq.groupBy(_.stage)
    stages.asScala.foreach { case (info, s) =>
      val c = of(s)
      c.stages += 1
      val ts = taskByStage.getOrElse(info.stageId, Nil)
      c.tasks += ts.size
      ts.foreach { t =>
        c.runMs += t.runMs; c.cpuMs += t.cpuMs; c.gcMs += t.gcMs
        c.shuffleWrite += t.shuffleWrite; c.shuffleRead += t.shuffleRead
        c.spill += t.spill
      }
      if (ts.size >= 2) {
        val d = ts.map(_.durationMs.toDouble).sorted
        val med = math.max(1.0, d(d.size / 2))
        c.worstSkew = math.max(c.worstSkew, d.last / med)
      }
    }
    recomputed(all).foreach { case (stage, s) => of(s).recomputedStages += 1 }
    val edges = tasks.asScala.toSeq.flatMap(t => Seq((t.runStartMs, 1), (t.runEndMs, -1)))
      .sortBy { case (at, d) => (at, d) }
    val peak = edges.scanLeft(0)(_ + _._2).max
    Trace(all, counters.toMap, peak, tasks.asScala.map(_.runMs).sum)
  }

  /** The (stage, span) pairs of stages with a task that recomputed work
    * (see the class comment). */
  private def recomputed(all: Seq[Span]): Set[(Int, Long)] = {
    val parent = all.map(s => s.id -> s.parent).toMap
    def root(id: Long): Long = parent.get(id).filter(_ != 0L).fold(id)(root)
    val nodeOfAcc = mutable.HashMap.empty[Long, String]
    plans.asScala.foreach(describe(_, nodeOfAcc))
    val stageOf = stages.asScala.map { case (info, s) => info.stageId -> (info, s) }.toMap
    val seen = mutable.HashMap.empty[Long, mutable.HashSet[String]]
    val out = mutable.HashSet.empty[(Int, Long)]
    tasks.asScala.toSeq.sortBy(_.runStartMs).foreach { t =>
      stageOf.get(t.stage).filter(_._2 != 0L).foreach { case (info, s) =>
        val p = t.partition
        val work = t.accumulators.flatMap(nodeOfAcc.get).map(n => s"node $n $p") ++
          unpersistedLineage(info).map(r => s"rdd $r $p") ++
          t.storedBlocks.map { case (r, split) => s"block $r $split" }
        val done = seen.getOrElseUpdate(root(s), mutable.HashSet.empty[String])
        if (work.exists(done.contains)) out += ((t.stage, s))
        done ++= work
      }
    }
    out.toSet
  }
}

object Tracer {
  val TagPrefix = "pb-"

  /** Name every plan node that computes something by a hash of its
    * subtree's description, and map each of the node's metric accumulators
    * to that name and the metric's (an exchange's write metrics move in the
    * stage before it, its read metrics in the stage after).
    * Plan ids are left out, so two plannings of the same query match.
    * Nodes that read data already in memory are not mapped: in-memory
    * table scans (their cached plan is mapped, and runs only while the
    * cache fills) and leaves other than file scans and ranges. Returns the
    * subtree's name. */
  private def describe(p: SparkPlanInfo, into: mutable.Map[Long, String]): String = {
    val kids = p.children.map(describe(_, into))
    val own = s"${p.nodeName} ${p.simpleString} ${p.metadata.toSeq.sorted}"
      .replaceAll("""\[plan_id=\d+\]""", "")
    val name = java.util.HexFormat.of().formatHex(java.security.MessageDigest
      .getInstance("SHA-256").digest((own +: kids).mkString("\u0000").getBytes("UTF-8")), 0, 12)
    val computes = if (kids.isEmpty) p.metadata.contains("Location") || p.nodeName == "Range"
      else p.nodeName != "InMemoryTableScan"
    if (computes)
      p.metrics.foreach(m => into(m.accumulatorId) = s"$name ${m.name}")
    name
  }

  /** Trace three known cases, each as one op, and return each case's
    * recomputed stages with whether it holds duplicate work: the same
    * uncached frame planned twice (the shape of the d14 finding), one
    * frame collected twice, and a frame persisted and materialized before
    * a second query reads it (no duplicate). */
  def selfCheck(spark: SparkSession): Seq[(String, Long, Boolean)] = {
    val n = spark.sparkContext.defaultParallelism
    def base = spark.range(0, 200000, 1, n)
      .selectExpr("id", "id % 101 AS k", "sha2(cast(id AS string), 256) AS h")
    def traced(body: => Unit): Long = {
      val t = new Tracer(spark)
      t.span("probe", 0)(body)
      val tr = t.finish()
      tr.named("probe").map(tr.inclusive(_).recomputedStages).sum
    }
    val replanned = traced {
      val b = base
      b.groupBy("k").count().collect()
      b.groupBy("k").agg(org.apache.spark.sql.functions.max("h")).collect()
    }
    val repeated = traced {
      val q = base.groupBy("k").count()
      q.collect()
      q.collect()
    }
    val cached = base.persist()
    val materialized = traced {
      cached.count()
      cached.groupBy("k").count().collect()
    }
    cached.unpersist(true)
    Seq(("replanned", replanned, true), ("repeated", repeated, true),
      ("materialized", materialized, false))
  }

  /** The RDDs a task of the stage computes that are not persisted: the
    * stage's RDD and its narrow ancestors, stopping at persisted RDDs. */
  private def unpersistedLineage(info: StageInfo): Seq[Int] = {
    val byId = info.rddInfos.map(r => r.id -> r).toMap
    val out = mutable.LinkedHashSet.empty[Int]
    def walk(id: Int): Unit = byId.get(id).foreach { r =>
      if (!r.storageLevel.isValid && out.add(id)) r.parentIds.foreach(walk)
    }
    info.rddInfos.headOption.foreach(r => walk(r.id))
    out.toSeq
  }

  final case class Span(id: Long, parent: Long, name: String, request: Long,
                        startNs: Long) {
    @volatile var endNs: Long = startNs
    def ms: Double = (endNs - startNs) / 1e6
  }

  final case class TaskSample(stage: Int, partition: Int, runStartMs: Long,
                              runEndMs: Long, durationMs: Long, runMs: Long,
                              cpuMs: Long, gcMs: Long, shuffleWrite: Long,
                              shuffleRead: Long, spill: Long,
                              accumulators: Seq[Long], storedBlocks: Seq[(Int, Int)])

  final case class Counters(var jobs: Long = 0, var stages: Long = 0,
                            var tasks: Long = 0, var planningMs: Double = 0,
                            var runMs: Long = 0, var cpuMs: Long = 0,
                            var gcMs: Long = 0, var shuffleWrite: Long = 0,
                            var shuffleRead: Long = 0, var spill: Long = 0,
                            var worstSkew: Double = 1.0,
                            var recomputedStages: Long = 0) {
    def +=(o: Counters): Unit = {
      jobs += o.jobs; stages += o.stages; tasks += o.tasks
      planningMs += o.planningMs; runMs += o.runMs; cpuMs += o.cpuMs
      gcMs += o.gcMs; shuffleWrite += o.shuffleWrite
      shuffleRead += o.shuffleRead; spill += o.spill
      worstSkew = math.max(worstSkew, o.worstSkew)
      recomputedStages += o.recomputedStages
    }
  }

  /** The recorded spans with their own counters (events outside every
    * span land on id 0), the peak number of concurrently running tasks,
    * and the executor run time of every task seen. */
  final case class Trace(spans: Seq[Span], counters: Map[Long, Counters],
                         peakConcurrency: Int, totalRunMs: Long) {
    private val children = spans.groupBy(_.parent)

    /** Counters of a span and all its descendants. */
    def inclusive(s: Span): Counters = {
      val c = Counters()
      def add(x: Span): Unit = {
        counters.get(x.id).foreach(c += _)
        children.getOrElse(x.id, Nil).foreach(add)
      }
      add(s)
      c
    }

    /** Duration minus the part of it that child spans cover. */
    def selfMs(s: Span): Double = {
      val iv = children.getOrElse(s.id, Nil)
        .map(c => (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs)))
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var covered = 0L
      var end = Long.MinValue
      iv.foreach { case (a, b) =>
        val from = math.max(a, end)
        if (b > from) covered += b - from
        end = math.max(end, b)
      }
      (s.endNs - s.startNs - covered) / 1e6
    }

    def named(name: String): Seq[Span] = spans.filter(_.name == name)
  }
}
