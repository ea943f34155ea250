package org.apache.spark.sql

import org.apache.spark.SparkContext
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** The Spark internals the benchmark's tracer reads, which Spark keeps
  * private to its own packages. */
object SparkInternals {
  /** Wait until every posted event has reached the listeners. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** The job tags recorded in a job's or stage's properties. */
  def jobTags(p: java.util.Properties): Seq[String] =
    Option(p).flatMap(x => Option(x.getProperty(SparkContext.SPARK_JOB_TAGS)))
      .fold(Seq.empty[String])(_.split(SparkContext.SPARK_JOB_TAGS_SEP).toSeq)

  /** Driver time the execution spent in analysis, optimization and
    * physical planning (`QueryExecution.tracker` phases). */
  def planningMs(e: SparkListenerSQLExecutionEnd): Double =
    Option(e.qe).fold(0.0)(_.tracker.phases.values.map(_.durationMs).sum.toDouble)
}
