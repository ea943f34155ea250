// The batch cascade's two paths, timed in one process: for |Q| = 64, 256
// and 1024 queries, both batch forms (searchGatedBatch over the exact
// corpus, searchGatedBatchServed over an IVF index) run under the engine's
// own size policy (one pass on the driver, or the distributed core when
// the candidates overflow the driver budget) and under a log limit of 0
// (the distributed core always), interleaved, on a multi-partition
// stored corpus. The IVF index is written by IndexStore.write (its
// cell-aligned layout), or with PATH_CUT_INDEX=slivers straight from the
// 16 corpus partitions: one small file per (partition, cell), the layout
// IndexStore.write's filesPerCell dial exists to avoid. Prints one JSON
// line per measured call and a summary.
//
//   /opt/spark/bin/spark-shell --master "local[4]" --driver-memory 2g \
//     --driver-class-path target/scala-2.13/classes \
//     --conf spark.ui.enabled=false --conf spark.ui.showConsoleProgress=false \
//     --conf spark.sql.shuffle.partitions=4 --conf spark.sql.session.timeZone=UTC \
//     --conf spark.sql.files.maxPartitionBytes=1m \
//     -I plans/one_pass_batch/path_cut.scala
//
// Environment: PATH_CUT_WORK (a scratch directory for the corpus files),
// PATH_CUT_REPS (timed calls per cell, default 5), PATH_CUT_SIZES (log
// sizes, default 64,256,1024), PATH_CUT_FORMS (default exact,served),
// PATH_CUT_INDEX (store or slivers, default store).
import graft.operators.{Ann, MultiStageSearch}
import graft.sources.IndexStore
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import scala.util.Random

spark.sparkContext.setLogLevel("ERROR")
val work = sys.env("PATH_CUT_WORK")
val reps = sys.env.getOrElse("PATH_CUT_REPS", "5").toInt
val sizes = sys.env.getOrElse("PATH_CUT_SIZES", "64,256,1024").split(",").map(_.toInt).toSeq
val forms = sys.env.getOrElse("PATH_CUT_FORMS", "exact,served").split(",").toSeq
val layout = sys.env.getOrElse("PATH_CUT_INDEX", "store")
val (nDocs, dim, nCells, nprobe, files) = (20000, 64, 32, 8, 16)
val jobs = Seq("spark", "query", "table", "join", "filter", "group", "sort",
  "window", "stream", "batch", "vector", "hash", "scan", "merge")
val regions = Seq("line", "row", "column", "part", "order", "customer", "key", "value")
val filler = Seq("data", "engine", "plan", "node", "cluster", "task", "stage",
  "cache", "disk", "memory", "record", "field")
val rng = new Random(7)
val centers = Array.fill(nCells)(Array.fill(dim)(rng.nextGaussian() * 4))
def near(c: Array[Double], r: Random) = c.map(_ + r.nextGaussian())
// 40-word doc texts (~250 bytes), a job and a region term among them
val docs = (0 until nDocs).map { i =>
  val r = new Random(i)
  val words = Seq(jobs(r.nextInt(jobs.size)), regions(r.nextInt(regions.size))) ++
    Seq.fill(38)(filler(r.nextInt(filler.size)))
  (i.toLong, r.shuffle(words).mkString(" "), near(centers(r.nextInt(nCells)), r).toSeq)
}
import spark.implicits._
docs.toDF("doc_id", "text", "embedding").repartition(files)
  .write.mode("overwrite").parquet(s"$work/corpus")
val corpus = spark.read.parquet(s"$work/corpus")
val cents = centers.zipWithIndex.map { case (c, i) => (i.toLong, c) }.toSeq.toDF("cid", "cvec")
val assigned = Ann.ivfAssignBig(corpus, "embedding", "doc_id", cents, "cid", "cvec")
if (layout == "slivers") {
  assigned.write.mode("overwrite").partitionBy("cluster_id").parquet(s"$work/index")
} else IndexStore.write(assigned, s"$work/index")
val index = IndexStore.load(spark, s"$work/index")
println(s"corpus partitions ${corpus.rdd.getNumPartitions}, index partitions ${index.rdd.getNumPartitions}")

// a log of n queries cycling through the four query structures
// (job + region, region only, job only, no terms)
def log(n: Int): DataFrame = (0 until n).map { i =>
  val r = new Random(1000 + i)
  val (j, g) = (jobs(r.nextInt(jobs.size)), regions(r.nextInt(regions.size)))
  val text = i % 4 match {
    case 0 => s"looking for a $j job in the $g area"
    case 1 => s"anything in the $g area"
    case 2 => s"$j pipelines"
    case _ => "hello world"
  }
  (i.toLong, text, near(centers(r.nextInt(nCells)), r).toSeq)
}.toDF("qid", "qtext", "qvec").localCheckpoint(true)

val sc = spark.sparkContext
def timed(f: => Array[Row]): (Array[Row], Double, Int) = {
  val tag = s"path-cut-${java.util.UUID.randomUUID}"
  sc.addJobTag(tag)
  val t0 = System.nanoTime()
  val rows = try f finally sc.removeJobTag(tag)
  val ms = (System.nanoTime() - t0) / 1e6
  Thread.sleep(200) // the status tracker is fed asynchronously
  (rows, ms, sc.statusTracker.getJobIdsForTag(tag).length)
}
// The distributed path is forced through the batch forms' size-policy
// overloads (MultiStageSearch.BatchSizing with a log limit of 0). They are
// package-private to graft, which the bytecode leaves public, so this
// script, compiled outside the package, calls them reflectively.
val distributedCore = Class.forName("graft.operators.MultiStageSearch$BatchSizing").getConstructors.head.newInstance(Int.box(0), Long.box(0L), None).asInstanceOf[AnyRef]
def sized(search: MultiStageSearch, method: String, args: AnyRef*): DataFrame = {
  val m = search.getClass.getMethods.find(m => m.getName == method && m.getParameterCount == args.size + 1).get
  m.invoke(search, (args :+ distributedCore): _*).asInstanceOf[DataFrame]
}
def run(form: String, q: DataFrame, distributed: Boolean): Array[Row] = {
  val search = new MultiStageSearch(if (form == "exact") corpus else index,
    "doc_id", "text", "embedding")
  (form match {
    case "exact" if distributed => sized(search, "searchGatedBatch", q, "qid", "qtext", "qvec")
    case "exact" => search.searchGatedBatch(q, "qid", "qtext", "qvec")
    case "served" if distributed => sized(search, "searchGatedBatchServed",
      q, "qid", "qtext", "qvec", cents, "cid", "cvec", Int.box(nprobe))
    case "served" => search.searchGatedBatchServed(q, "qid", "qtext", "qvec",
      cents, "cid", "cvec", nprobe)
  }).collect()
}

val heapMb = Runtime.getRuntime.maxMemory >> 20
val paths = Seq("default" -> false, "distributed" -> true)
val summary = for (n <- sizes; form <- forms) yield {
  val q = log(n)
  val ref = paths.map { case (name, distributed) =>
    name -> run(form, q, distributed).map(_.toSeq).sortBy(r => (r(0).asInstanceOf[Long], r(8).asInstanceOf[Int])).toSeq
  }.toMap // warm-up call per path, and the row check
  val same = ref("default") == ref("distributed")
  val ms = scala.collection.mutable.Map.empty[String, Vector[Double]].withDefaultValue(Vector.empty)
  val js = scala.collection.mutable.Map.empty[String, Int]
  for (rep <- 0 until reps; (name, distributed) <- if (rep % 2 == 0) paths else paths.reverse) {
    val (_, t, j) = timed(run(form, q, distributed))
    ms(name) :+= t
    js(name) = j
    println(f"""{"heap_mb": $heapMb, "index": "$layout", "queries": $n, "form": "$form", "path": "$name", "rep": $rep, "ms": $t%.1f, "jobs": $j}""")
  }
  def median(v: Vector[Double]) = v.sorted.apply(v.size / 2)
  f"heap ${heapMb}%d MiB index $layout |Q| $n%4d $form%-6s default ${median(ms("default"))}%8.1f ms (${js("default")}%2d jobs)  " +
    f"distributed ${median(ms("distributed"))}%8.1f ms (${js("distributed")}%2d jobs)  rows equal $same"
}
summary.foreach(println)
sys.exit(0)
