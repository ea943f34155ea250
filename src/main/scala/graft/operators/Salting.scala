package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Skew-resistant aggregation (100 TB posture; AQE's skew handling
  * covers joins, but a single hot GROUP BY key still lands on one
  * reducer — the classic corpus case is near-duplicate boilerplate
  * text, where one text_hash can carry millions of rows).
  *
  * Two-phase: salt the key with a per-row bucket, aggregate per
  * (key, salt) — spreading a hot key over `buckets` reducers — then
  * aggregate the partials. Only algebraic aggregates decompose this
  * way; the provided wrappers (count/sum/min/max) are the
  * decompositions.
  *
  * The salt hashes CALLER-SUPPLIED identity columns (`saltCols` — a
  * row id, line number, or any near-unique narrow key), which is the
  * only assignment that is simultaneously: (1) DETERMINISTIC per row —
  * a positional salt (monotonically_increasing_id / zipWithIndex) is
  * fetch-order-dependent, so a partial stage retry after executor loss
  * can re-salt rows differently and double-count or drop them in the
  * two-phase aggregation; (2) SPREADING for identical payloads — the
  * pathological hot key is many byte-identical rows, which any
  * content hash sends to one salt (ids differ even when payloads
  * don't); and (3) PRUNING-safe — hashing `struct(*)` would force
  * every column through the scan.
  */
object Salting {

  private[graft] def salt(saltCols: Seq[String], buckets: Int) = {
    require(saltCols.nonEmpty, "saltCols: supply identity columns to hash")
    pmod(xxhash64(saltCols.map(col): _*), lit(buckets.toLong))
  }

  /** count(*) per key, skew-spread over `buckets` reducers. */
  def saltedCount(df: DataFrame, keyCols: Seq[String], saltCols: Seq[String],
                  buckets: Int, outCol: String = "n"): DataFrame = {
    require(buckets > 0)
    df.withColumn("__salt", salt(saltCols, buckets))
      .groupBy((keyCols :+ "__salt").map(col): _*)
      .agg(count(lit(1)).as("__partial"))
      .groupBy(keyCols.map(col): _*)
      .agg(sum("__partial").as(outCol))
  }

  /** sum(valueCol) per key, skew-spread over `buckets` reducers. */
  def saltedSum(df: DataFrame, keyCols: Seq[String], saltCols: Seq[String],
                valueCol: String, buckets: Int,
                outCol: String = "sum"): DataFrame = {
    require(buckets > 0)
    df.withColumn("__salt", salt(saltCols, buckets))
      .groupBy((keyCols :+ "__salt").map(col): _*)
      .agg(sum(valueCol).as("__partial"))
      .groupBy(keyCols.map(col): _*)
      .agg(sum("__partial").as(outCol))
  }

  /** Hot/cold SPLIT join — the act side of `Curation.skewAudit`'s
    * diagnosis (q7 pairs them): rows carrying a hot key join via a
    * broadcast of the small side's hot subset (each hot key's rows
    * stay spread across their input partitions — no reducer ever
    * holds a hot key's full row set), everything else takes the
    * ordinary keyed shuffle, and the union is EXACTLY the plain
    * inner join (the q7 oracle). Use when a handful of keys dominate
    * (the audit's x_mean_key ≫ 1): AQE's skew-join split only kicks
    * in on sort-merge partitions past a size threshold and re-plans
    * at runtime, while this split is declarative — visible in the
    * plan (one BroadcastHashJoin + one shuffle join, spec-pinned)
    * and independent of runtime stats at any scale. INNER-join
    * semantics: null-keyed big rows match nothing and are dropped by
    * both branches (`!isin` evaluates null → filtered), same as the
    * plain join. `hotKeys` is caller-supplied and driver-sized by
    * construction (skewAudit's bounded top-N). */
  def skewSplitJoin(big: DataFrame, small: DataFrame,
                    bigSideKey: String, smallSideKey: String,
                    hotKeys: Seq[Any]): DataFrame = {
    // Drop null hot keys BEFORE building the filters: skewAudit counts
    // nulls (they ARE the key a null-heavy join explodes on) and can
    // surface key=null in its top-N, but a null key matches nothing in
    // an inner join — and a null inside NOT IN makes the cold-branch
    // predicate NULL for EVERY row, silently emptying the cold half
    // and breaking the union==plain-join contract.
    val hot = hotKeys.filterNot(_ == null)
    require(hot.nonEmpty,
      "hotKeys: empty (or all-null) split is a plain join — supply skewAudit's top non-null keys")
    // Reserved rename of the small side's key (the batchProbes __q*
    // pattern): with identical key names on both sides an unattached
    // col(bigSideKey) === col(smallSideKey) resolves ambiguously and the join
    // throws. Renamed back (or dropped when the names collide) after.
    val sk = "__graft_sk"
    val smallR = small.withColumnRenamed(smallSideKey, sk)
    val hotBig = big.filter(col(bigSideKey).isin(hot: _*))
    val coldBig = big.filter(!col(bigSideKey).isin(hot: _*))
    val hotSmall = smallR.filter(col(sk).isin(hot: _*))
    val coldSmall = smallR.filter(!col(sk).isin(hot: _*))
    val joined = hotBig.join(broadcast(hotSmall), col(bigSideKey) === col(sk))
      .unionByName(coldBig.join(coldSmall, col(bigSideKey) === col(sk)))
    if (bigSideKey == smallSideKey) joined.drop(sk)
    else joined.withColumnRenamed(sk, smallSideKey)
  }

  /** Salted broadcast-side replication for a skewed join: replicate
    * the small side `buckets`× with an explicit salt column and salt
    * the big side's key, so one hot join key spreads over `buckets`
    * tasks. Returns (bigSalted, smallReplicated, saltedKeys). */
  def saltedJoinSides(big: DataFrame, small: DataFrame,
                      keyCols: Seq[String], saltCols: Seq[String],
                      buckets: Int)
      : (DataFrame, DataFrame, Seq[String]) = {
    require(buckets > 0)
    val bigSalted = big.withColumn("__salt", salt(saltCols, buckets))
    val smallRep = small
      .withColumn("__salt", explode(sequence(lit(0L), lit(buckets - 1L))))
    (bigSalted, smallRep, keyCols :+ "__salt")
  }
}
