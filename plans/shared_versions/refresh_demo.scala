// Refresh cycles on perfbench served_refresh's corpus and deltas (seed 1):
// each 200-row delta is assigned to the current centroids and committed as
// the pair cache's frame ∪ delta, then versions are pruned to 2 — the
// commit and prune of perfbench's Served cycle, without the served logs.
// Prints each commit's wall time, Spark job count and manifest shape, and
// leaves the store at $DEMO_WORK/index for tools/store_report.py.
//
//   DEMO_WORK=/tmp/refresh_demo DEMO_CYCLES=18 $SPARK_HOME/bin/spark-shell \
//     --master "local[4]" --driver-memory 2g \
//     --driver-class-path perfbench/target/scala-2.13/classes \
//     --conf spark.ui.enabled=false --conf spark.ui.showConsoleProgress=false \
//     -I plans/shared_versions/refresh_demo.scala
import org.apache.spark.sql.functions._
import graft.operators.Ann
import graft.sources.IndexStore
import perfbench.{Gen, Online, Served}

// one block: the REPL reads a script line by line
locally {
  spark.sparkContext.setLogLevel("ERROR")
  val work = sys.env.getOrElse("DEMO_WORK", "/tmp/refresh_demo")
  val cycles = sys.env.getOrElse("DEMO_CYCLES", "18").toInt
  val seed = 1L
  val corpus = Gen.corpus(spark, seed, s"$work/corpus", Online.CorpusDocs, Online.CorpusVectors)
  val rows = spark.read.parquet(corpus.docsPath)
    .join(spark.read.parquet(corpus.embPath), col("doc_id") === col("vec_id"))
    .select(col("doc_id"), col("text"), col("embedding"))
  val cent = Ann.trainCentroids(rows.repartition(1).sortWithinPartitions("doc_id"),
    "embedding", Served.Centroids, seed = 42L)
  def assign(df: org.apache.spark.sql.DataFrame, c: org.apache.spark.sql.DataFrame) =
    Ann.ivfAssignBig(df, "embedding", "doc_id", c, "cid", "cvec")
      .select(col("doc_id"), col("text"), col("embedding"), col("cluster_id"))
  val root = s"$work/index"
  IndexStore.writeVersionedWithCentroids(assign(rows, cent), cent, root)
  val sc = spark.sparkContext
  def jobsOf[T](f: => T): (T, Int) = {
    val tag = s"demo-${java.util.UUID.randomUUID}"
    sc.addJobTag(tag)
    val out = try f finally sc.removeJobTag(tag)
    sc.addJobTag(tag + "-marker")
    try sc.parallelize(Seq(1), 1).count() finally sc.removeJobTag(tag + "-marker")
    while (sc.statusTracker.getJobIdsForTag(tag + "-marker").isEmpty) Thread.sleep(10)
    (out, sc.statusTracker.getJobIdsForTag(tag).length)
  }
  println("| cycle | version | commit ms | commit jobs | deltas | prune ms | rows |")
  println("|---:|---:|---:|---:|---:|---:|---:|")
  (0 until cycles).foreach { c =>
    val path = s"$work/delta_$c.parquet"
    Gen.delta(spark, seed, c, Served.FirstDeltaId + c * Served.DeltaDocs, Served.DeltaDocs, path)
    val (index, cn, _) = IndexStore.loadCurrentWithCentroidsCached(spark, root)
    val assigned = assign(spark.read.parquet(path), cn).localCheckpoint(true)
    val t0 = System.nanoTime()
    val (v, jobs) = jobsOf(IndexStore.writeVersionedWithCentroids(index.unionByName(assigned), cn, root))
    val t1 = System.nanoTime()
    IndexStore.pruneVersions(spark, root, 2)
    val t2 = System.nanoTime()
    val deltas = scala.io.Source.fromFile(s"$root/v$v/_manifest.json").mkString
      .split("\"bucket\"").count(_.trim.startsWith(": -3"))
    val n = IndexStore.loadCurrentWithCentroidsCached(spark, root)._1.count()
    println(f"| $c | $v | ${(t1 - t0) / 1e6}%.0f | $jobs | $deltas | ${(t2 - t1) / 1e6}%.1f | $n |")
  }
}
sys.exit(0)
