package graft

import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.util.QueryExecutionListener

/** The executed plans of the Dataset actions a piece of driver code runs,
  * eager checkpoints included — for specs that audit a plan an operator
  * runs but does not return (its result is a checkpoint). */
trait ExecutedPlans { this: SparkSpec =>

  /** `f`'s result and the plans of the actions it ran, in order. The
    * listener is fed asynchronously and in order, so `f`'s plans are the
    * ones between two marker actions run before and after it, read once
    * the second marker has arrived. */
  def plansOf[T](f: => T): (T, Seq[SparkPlan]) = {
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[QueryExecution]
    val listener = new QueryExecutionListener {
      def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        seen.add(qe)
      def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    def mark(): String = {
      val name = s"plans_marker_${java.util.UUID.randomUUID.toString.replace('-', '_')}"
      spark.range(1).toDF(name).collect()
      name
    }
    def is(marker: String)(qe: QueryExecution) = qe.analyzed.output.exists(_.name == marker)
    def arrived = seen.toArray(Array.empty[QueryExecution]).toSeq
    spark.listenerManager.register(listener)
    try {
      val start = mark()
      val out = f
      val end = mark()
      val deadline = System.nanoTime() + 30000000000L
      while (!arrived.exists(is(end)) && System.nanoTime() < deadline) Thread.sleep(10)
      assert(arrived.exists(is(end)), "the marker action never reached the listener")
      (out, arrived.dropWhile(!is(start)(_)).drop(1).takeWhile(!is(end)(_))
        .map(_.executedPlan))
    } finally spark.listenerManager.unregister(listener)
  }
}
