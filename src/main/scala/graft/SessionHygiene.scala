package graft

import org.apache.spark.sql.SparkSession

/** Cache hygiene between independent queries in one session:
  * `catalog.clearCache` drops Dataset.persist entries a query left
  * pinned (the CacheManager keeps them while the session lives — the
  * ContextCleaner never frees them; the dedup operators release their
  * own shingle frames before returning); the RDD loop drops
  * localCheckpoint blocks, which live outside the CacheManager, such
  * as the dedup operators' eager pair results.
  * Shared by Bench and Verify so the two harnesses cannot drift. */
private[graft] object SessionHygiene {
  def dropCachedBlocks(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
  }
}
