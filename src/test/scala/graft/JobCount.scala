package graft

/** Counting the Spark jobs a piece of driver code starts, for specs that
  * pin a job budget. */
trait JobCount { this: SparkSpec =>

  /** `f`'s result and the number of Spark jobs it started, counted by a
    * job tag through the status tracker. The tracker is fed
    * asynchronously, so the count is read once a marker job started
    * after `f` has reached it. */
  def jobsOf[T](f: => T): (T, Int) = {
    val sc = spark.sparkContext
    val tag = s"job-count-${java.util.UUID.randomUUID}"
    sc.addJobTag(tag)
    val out = try f finally sc.removeJobTag(tag)
    sc.addJobTag(tag + "-marker")
    try sc.parallelize(Seq(1), 1).count() finally sc.removeJobTag(tag + "-marker")
    val deadline = System.nanoTime() + 30000000000L
    while (sc.statusTracker.getJobIdsForTag(tag + "-marker").isEmpty &&
        System.nanoTime() < deadline) Thread.sleep(10)
    assert(sc.statusTracker.getJobIdsForTag(tag + "-marker").nonEmpty)
    (out, sc.statusTracker.getJobIdsForTag(tag).length)
  }
}
