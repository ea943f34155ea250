package perfbench

import org.apache.spark.sql.SparkSession
import scala.collection.mutable

/** What a workload needs from the run: the session, the seed, a work
  * directory inside the checkout, the core count, and — in a traced run
  * — the tracer. */
final class Ctx(val spark: SparkSession, val seed: Long, val work: String,
                val cores: Int) {
  /** Set for the measured window of a traced run. */
  @volatile var tracer: Option[Tracer] = None

  /** Ops alternate in a traced run: odd ops traced, even ops untraced,
    * so the same run measures the tracing overhead. */
  def traced(op: Long): Boolean = tracer.isDefined && op % 2 == 1

  def span[T](on: Boolean, name: String, op: Long)(f: => T): T =
    if (on) tracer.get.span(name, op)(f) else f

  /** Drop every cached and checkpointed block of the session. */
  def dropCachedBlocks(): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
  }
}

/** What one measured window produced. */
final class Outcome {
  /** Latency of each op the window finished, with whether it was traced. */
  val ops = mutable.ArrayBuffer.empty[(Double, Boolean)]
  var attempted = 0L
  var failed = 0L
  /** Items (requests, queries, docs) completed, and the seconds the
    * throughput divides them by. */
  var items = 0L
  var busySeconds = 0.0
  val failures = mutable.ArrayBuffer.empty[String]
  /** Workload-specific figures: end-to-end ones shown but not gated, and
    * per-layer ones (named `layer.metric`) for the traced run. */
  val info = mutable.LinkedHashMap.empty[String, Double]
  private val md = java.security.MessageDigest.getInstance("SHA-256")

  def digestAdd(s: String): Unit = synchronized(md.update((s + "\n").getBytes("UTF-8")))
  def digest: String = synchronized(md.clone().asInstanceOf[java.security.MessageDigest]
    .digest().take(8).map(b => f"${b & 0xff}%02x").mkString)

  def fail(msg: String): Unit = synchronized {
    failed += 1
    if (failures.size < 20) failures += msg
  }

  def untracedMs: Seq[Double] = ops.collect { case (ms, false) => ms }.toSeq
  def tracedMs: Seq[Double] = ops.collect { case (ms, true) => ms }.toSeq
}

trait Workload {
  /** Name of the root span of one op, for per-op Spark counters. */
  def opSpan: String
  /** Generate the inputs, load them and build what serving needs. */
  def setup(rep: Int): Unit
  /** Run untimed ops so that the JIT, codegen and caches are warm. */
  def warmUp(): Unit
  /** Run ops for `seconds` (the last op may run past it) and check them. */
  def measure(seconds: Double): Outcome
}

object Stats {
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(s.size - 1, lo + 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** The highest percentile (at most the 95th) that leaves at least ten
    * samples beyond it, as (percentile, value). */
  def tail(xs: Seq[Double]): (Double, Double) = {
    val p = math.min(0.95, math.max(0.5, 1.0 - 10.0 / xs.size))
    (p * 100, quantile(xs, p))
  }
}
