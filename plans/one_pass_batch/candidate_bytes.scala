// The bytes the one-pass batch path's candidates take on the way to the
// driver: the summed task result sizes of each stage of a batch call (a
// SparkListener), per log size and form, over the corpus and index that
// path_cut.scala wrote (same seeds and query logs). Every log takes the
// one pass with no driver budget (a size policy of a 2^20-query log limit
// and Long.MaxValue bytes), so the pass is never cancelled and its full
// candidate bytes are measured; give the driver heap and maxResultSize
// room for them.
//
//   PATH_CUT_WORK=... /opt/spark/bin/spark-shell --master "local[4]" \
//     --driver-memory 6g --driver-class-path target/scala-2.13/classes \
//     --conf spark.ui.enabled=false --conf spark.ui.showConsoleProgress=false \
//     --conf spark.sql.shuffle.partitions=4 --conf spark.sql.files.maxPartitionBytes=1m \
//     --conf spark.driver.maxResultSize=4g -I plans/one_pass_batch/candidate_bytes.scala
import graft.operators.{Ann, MultiStageSearch}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.scheduler._
import scala.util.Random
spark.sparkContext.setLogLevel("ERROR")
val work = sys.env("PATH_CUT_WORK") // the corpus and index path_cut.scala wrote
val corpus = spark.read.parquet(s"$work/corpus")
val index = spark.read.parquet(s"$work/index")
val (dim, nCells, nprobe) = (64, 32, 8)
val rng = new Random(7)
val centers = Array.fill(nCells)(Array.fill(dim)(rng.nextGaussian() * 4))
def near(c: Array[Double], r: Random) = c.map(_ + r.nextGaussian())
import spark.implicits._
val cents = centers.zipWithIndex.map { case (c, i) => (i.toLong, c) }.toSeq.toDF("cid", "cvec")
val jobs = Seq("spark", "query", "table", "join", "filter", "group", "sort", "window", "stream", "batch", "vector", "hash", "scan", "merge")
val regions = Seq("line", "row", "column", "part", "order", "customer", "key", "value")
def log(n: Int): DataFrame = (0 until n).map { i =>
  val r = new Random(1000 + i)
  val (j, g) = (jobs(r.nextInt(jobs.size)), regions(r.nextInt(regions.size)))
  val text = i % 4 match { case 0 => s"looking for a $j job in the $g area"; case 1 => s"anything in the $g area"; case 2 => s"$j pipelines"; case _ => "hello world" }
  (i.toLong, text, near(centers(r.nextInt(nCells)), r).toSeq)
}.toDF("qid", "qtext", "qvec").localCheckpoint(true)
// The batch forms' size-policy overloads (MultiStageSearch.BatchSizing)
// are package-private to graft, which the bytecode leaves public, so this
// script, compiled outside the package, calls them reflectively.
val onePass = Class.forName("graft.operators.MultiStageSearch$BatchSizing").getConstructors.head.newInstance(Int.box(1 << 20), Long.box(Long.MaxValue), None).asInstanceOf[AnyRef]
def sized(search: MultiStageSearch, method: String, args: AnyRef*): DataFrame = {
  val m = search.getClass.getMethods.find(m => m.getName == method && m.getParameterCount == args.size + 1).get
  m.invoke(search, (args :+ onePass): _*).asInstanceOf[DataFrame]
}
val sizes = new java.util.concurrent.ConcurrentLinkedQueue[(Int, Long)]()
spark.sparkContext.addSparkListener(new SparkListener {
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    if (e.taskMetrics != null) sizes.add((e.stageId, e.taskMetrics.resultSize))
})
for (n <- Seq(64, 256, 1024); form <- Seq("exact", "served")) {
  val q = log(n); q.count()
  Thread.sleep(300); sizes.clear()
  val rows = (form match {
    case "exact" => sized(new MultiStageSearch(corpus, "doc_id", "text", "embedding"), "searchGatedBatch", q, "qid", "qtext", "qvec")
    case "served" => sized(new MultiStageSearch(index, "doc_id", "text", "embedding"), "searchGatedBatchServed", q, "qid", "qtext", "qvec", cents, "cid", "cvec", Int.box(nprobe))
  }).collect()
  Thread.sleep(500)
  val byStage = sizes.toArray(Array.empty[(Int, Long)]).groupBy(_._1).map { case (s, xs) => (s, xs.length, xs.map(_._2).sum, xs.map(_._2).max) }.toSeq.sortBy(-_._3)
  println(s"|Q| $n $form rows ${rows.length}: (stage, tasks, total result bytes, max task bytes) " + byStage.take(3).mkString(" "))
}
println(s"heap ${Runtime.getRuntime.maxMemory >> 20} MiB")
sys.exit(0)
