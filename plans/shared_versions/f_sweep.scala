// F sweep: served-log latency over a pair version whose index is the base
// scan ∪ one scan over d delta files (the shape IndexStore.pairIndex
// builds), against one fresh base holding the same rows (what a full
// write, i.e. a fold, leaves). Runs on perfbench's served_refresh corpus,
// centroids, 200-row deltas and query logs (seed 1). For every d it times
// interleaved cold logs (fresh frames: listing + base schema inference)
// and warm logs (the same frames again), and checks both layouts answer
// every log identically.
//
// Run with the perfbench build's classes (graft + perfbench):
//   F_SWEEP_WORK=/tmp/f_sweep $SPARK_HOME/bin/spark-shell --master "local[4]" \
//     --driver-memory 2g \
//     --driver-class-path perfbench/target/scala-2.13/classes \
//     --conf spark.ui.enabled=false --conf spark.ui.showConsoleProgress=false \
//     -I plans/shared_versions/f_sweep.scala
// Env: F_SWEEP_SIZES (delta counts, default 0,1,2,4,8,16,24,32),
// F_SWEEP_REPS (rounds per count, default 5).
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import graft.operators.{Ann, MultiStageSearch}
import graft.sources.IndexStore
import perfbench.{Gen, Online, Served}
import scala.jdk.CollectionConverters._

// one block: the REPL reads a script line by line
locally {
  spark.sparkContext.setLogLevel("ERROR")
  val work = sys.env.getOrElse("F_SWEEP_WORK", "/tmp/f_sweep")
  val sizes = sys.env.getOrElse("F_SWEEP_SIZES", "0,1,2,4,8,16,24,32").split(",").map(_.toInt).toSeq
  val reps = sys.env.getOrElse("F_SWEEP_REPS", "5").toInt
  val seed = 1L
  val corpus = Gen.corpus(spark, seed, s"$work/corpus", Online.CorpusDocs, Online.CorpusVectors)
  val rows = spark.read.parquet(corpus.docsPath)
    .join(spark.read.parquet(corpus.embPath), col("doc_id") === col("vec_id"))
    .select(col("doc_id"), col("text"), col("embedding"))
  val cent = Ann.trainCentroids(rows.repartition(1).sortWithinPartitions("doc_id"),
    "embedding", Served.Centroids, seed = 42L).localCheckpoint(true)
  def assign(df: DataFrame) = Ann.ivfAssignBig(df, "embedding", "doc_id", cent, "cid", "cvec")
    .select(col("doc_id"), col("text"), col("embedding"), col("cluster_id"))
  IndexStore.write(assign(rows), s"$work/base")
  val baseSchema = spark.read.parquet(s"$work/base").schema
  val maxD = sizes.max
  val deltaFiles = (0 until maxD).map { c =>
    Gen.delta(spark, seed, c, Served.FirstDeltaId + c * Served.DeltaDocs, Served.DeltaDocs,
      s"$work/arrived_$c.parquet")
    val dir = s"$work/delta_$c"
    assign(spark.read.parquet(s"$work/arrived_$c.parquet"))
      .select(baseSchema.fields.toSeq.map(f => col(f.name).cast(f.dataType)): _*)
      .coalesce(1).sortWithinPartitions("cluster_id").write.parquet(dir)
    new java.io.File(dir).listFiles.map(_.getPath).filter(_.endsWith(".parquet")).head
  }
  // the fold of base ∪ first d deltas, one fresh base per d
  sizes.foreach { d =>
    val u = if (d == 0) spark.read.parquet(s"$work/base")
      else spark.read.parquet(s"$work/base")
        .union(spark.read.schema(baseSchema).parquet(deltaFiles.take(d): _*))
    IndexStore.write(u, s"$work/full_$d")
  }
  def unionFrame(d: Int): DataFrame = {
    val base = spark.read.parquet(s"$work/base")
    if (d == 0) base else base.union(spark.read.schema(base.schema).parquet(deltaFiles.take(d): _*))
  }

  def fullFrame(d: Int): DataFrame = spark.read.parquet(s"$work/full_$d")
  def queryLog(l: Int): DataFrame = {
    val r = Gen.rng(seed, s"log-0-$l")
    val local = if (l % 2 == 0) Some(Set(r.nextInt(Gen.Clusters), r.nextInt(Gen.Clusters))) else None
    val qs = Gen.queryMix(r, Served.LogQueries).zipWithIndex.map { case (q, i) =>
      Row(i.toLong, q, Gen.queryVector(r, corpus, local).toSeq) }
    spark.createDataFrame(qs.asJava, Served.LogSchema)
  }
  val logs = Seq(queryLog(0), queryLog(1))
  def serve(idx: DataFrame, log: DataFrame): (Double, Seq[(Long, Int, Long)]) = {
    val t0 = System.nanoTime()
    val out = new MultiStageSearch(idx, "doc_id", "text", "embedding")
      .searchGatedBatchServed(log, "qid", "qtext", "qvec", cent, "cid", "cvec", Served.Nprobe)
      .select(col("qid"), col("rank"), col("doc_id")).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq.sorted
    ((System.nanoTime() - t0) / 1e6, out)
  }
  // one warm-up pass over everything, then `reps` interleaved rounds
  sizes.foreach { d => logs.foreach { l => serve(unionFrame(d), l); serve(fullFrame(d), l) } }
  val times = scala.collection.mutable.Map.empty[(Int, String, String), Vector[Double]]
  def record(key: (Int, String, String), ms: Double): Unit =
    times(key) = times.getOrElse(key, Vector.empty[Double]) :+ ms
  var mismatches = 0
  (1 to reps).foreach { rep =>
    sizes.foreach { d =>
      val kinds = if (rep % 2 == 0) Seq("union", "full") else Seq("full", "union")
      val answers = kinds.map { k =>
        def mk(): DataFrame = if (k == "union") unionFrame(d) else fullFrame(d)
        val frame = mk()
        val cold = logs.map { l => val r = serve(mk(), l); record((d, k, "cold"), r._1); r._2 }
        logs.foreach { l => record((d, k, "warm"), serve(frame, l)._1) }
        cold
      }
      if (answers.distinct.size != 1) mismatches += 1
    }
  }
  def med(xs: Seq[Double]) = { val s = xs.sorted; s(s.size / 2) }
  def q(xs: Seq[Double], p: Double) = { val s = xs.sorted; s(((s.size - 1) * p).round.toInt) }
  println(s"| deltas | union cold ms | full cold ms | union warm ms | full warm ms | warm union/full |")
  println(s"|---:|---:|---:|---:|---:|---:|")
  sizes.foreach { d =>
    val f = (k: String, w: String) => { val xs = times((d, k, w)); f"${med(xs)}%.0f (${q(xs, 0.25)}%.0f-${q(xs, 0.75)}%.0f)" }
    println(s"| $d | ${f("union", "cold")} | ${f("full", "cold")} | ${f("union", "warm")} | ${f("full", "warm")} | " +
      f"${med(times((d, "union", "warm"))) / med(times((d, "full", "warm")))}%.2f |")
  }
  println(s"answer mismatches between the layouts: $mismatches of ${sizes.size * reps} rounds")
}
sys.exit(0)
