package graft.operators

import graft.functions.TextAnalysis
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operators.
  *
  * A1 keep-first dedup mirrors the reference's order-sensitive
  * `seen_ids` loop (/root/reference/main.py:173-181): first occurrence
  * per business key wins, where "first" means (stage priority, then
  * ascending distance). On Spark row order is NOT a carrier of meaning,
  * so the priority is made explicit via a window sort — deterministic
  * on any number of partitions (SURVEY.md §2.6 A1).
  *
  * The corpus-scale operators (exact, MinHash/LSH, SimHash, n-gram
  * Jaccard) are the north-star dedup family (BASELINE.json): all are
  * built from cross-engine-reproducible primitives (md5) so each has
  * an exact DuckDB oracle, and all are shuffle-planned for scale: the
  * only wide exchanges are hash-partitioned groupBys/joins on
  * hash/band keys, never an unbounded cross join.
  */
object Dedup {

  /** A1: keep the first row per `key` under an explicit priority order.
    * `orderBy` must be a total order (break ties!) for determinism. */
  def keepFirst(df: DataFrame, key: Seq[String], orderBy: Seq[Column]): DataFrame = {
    val w = Window.partitionBy(key.map(col): _*).orderBy(orderBy: _*)
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }

  /** Exact dedup: one representative (min `idCol`) per identical text.
    * Group key is md5(text) — 16 bytes shuffled instead of the full
    * document payload; at 100 TB this is the difference between
    * shuffling hashes and shuffling the corpus. */
  def exactByText(df: DataFrame, textCol: String, idCol: String): DataFrame =
    df.select(md5(col(textCol)).as("text_hash"), col(idCol))
      .groupBy("text_hash")
      .agg(min(idCol).as("keep_id"), count(lit(1)).as("n_copies"))

  /** MinHash signature: `numHashes` independent min-hashes over word
    * `shingleK`-shingles. Hash family = md5 with a seed prefix —
    * portable across engines (lexicographic min over hex strings).
    *
    * NOTE: column form for single-row/expression use only. In a corpus
    * pipeline use [[minhashNearDups]]'s explode+aggregate shape —
    * Catalyst inlines this column's shingle subexpression into every
    * one of the `numHashes` transforms (HOFs don't share subexpressions
    * under codegen), recomputing the shingling numHashes× per row. */
  def minhashSignature(text: Column, numHashes: Int, shingleK: Int): Column = {
    val sh = TextAnalysis.shingles(text, shingleK)
    array((0 until numHashes).map { seed =>
      array_min(transform(sh, s => md5(concat(lit(s"$seed|"), s))))
    }: _*)
  }

  /** Shared signature-pipeline front half of the MinHash operators —
    * ONE code path so [[minhashNearDups]] and the incremental
    * [[minhashNearDupsAgainst]] can never desynchronize their hash
    * scheme (both are mirrored by the same oracle CTE chain).
    *
    * ONE hash exchange (doc_id) BELOW the shingle computation: it
    * parallelizes the single-file scan AND pre-co-partitions both
    * downstream groupBys (Generate/Project preserve the child's hash
    * partitioning, so neither aggregation re-shuffles), while moving
    * raw documents — not the 5-10× larger exploded shingle rows.
    * persist(MEMORY_AND_DISK): the exploded shingle rows materialize
    * ONCE (as an InMemoryRelation shared by every subtree referencing
    * this frame) and the band join sides + verify sets all read the
    * same cached blocks. Without it nothing shares the work: AQE turns
    * the small band join into a broadcast join, whose build side is a
    * structurally different plan — shuffle reuse can't fire — and the
    * whole shingle pipeline re-executes per subtree (measured 3× at
    * sf0.1). persist (not localCheckpoint) keeps LINEAGE: on executor
    * loss a lost block recomputes from the scan, where a
    * localCheckpoint's truncated lineage would fail the job. Dataset.
    * persist entries are pinned by the session CacheManager (the
    * ContextCleaner does NOT free them while the session lives), so
    * every caller owns the frame's lifetime: it computes its result
    * eagerly (a localCheckpoint of the pairs, or the index write) and
    * unpersists the frame before returning — no entry outlives the
    * call. `doPersist = false` skips the materialization for
    * single-consumer plans (e.g. [[writeBandIndex]], whose bands are
    * derived in one pass and never re-read). */
  private def shinglePipeline(df: DataFrame, idCol: String, textCol: String,
                              shingleK: Int, doPersist: Boolean = true): DataFrame = {
    val rows = df.select(col(idCol).as("doc_id"), col(textCol).as("__text"))
      .repartition(df.sparkSession.sparkContext.defaultParallelism, col("doc_id"))
      .select(col("doc_id"),
        explode(TextAnalysis.shinglesFast(col("__text"), shingleK)).as("s"))
    if (doPersist) {
      rows.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      // NOTE: persist() caches blocks only as jobs compute them. Where
      // the first job reads the rows in one stage, that job fills the
      // cache and the later consumers read it ([[minhashNearDups]]:
      // the band-table count). Where the first job reads them in
      // several concurrent stages (df census, posting joins, verify
      // sides), those stages race and recompute the explode (profiled
      // on d14: five ~7-13 s copies, 50.8 s executor total for a 3.3 s
      // query); a separate upfront count() removed the copies but
      // measured SLOWER on wall clock at sf0.1 in round 22 (d14 2.35
      // vs 2.20 s, min-of-3 interleaved), so no form adds one.
    }
    rows
  }

  /** (doc_id, band_idx, band_sig) from a [[shinglePipeline]] frame.
    * Each shingle is md5'd ONCE; the numHashes minhash family derives
    * from two numeric digests by an affine map (a·(seed+1)+b) mod p.
    * Two deliberate properties: (1) the generated code stays SMALL —
    * inlining numHashes copies of md5 into the aggregate made Janino
    * compilation of the stage take ~60s per distinct plan shape;
    * (2) min over BIGINT is a fixed-width aggregation buffer, so the
    * whole stage is one codegen'd HashAggregate with map-side
    * partials. */
  private def minhashBandsOf(shingleRows: DataFrame,
                             numHashes: Int, bandRows: Int): DataFrame = {
    val nBands = numHashes / bandRows
    val P = 1000000007L
    val hashed = shingleRows.select(
      col("doc_id"),
      conv(substring(md5(col("s")), 1, 7), 16, 10).cast("long").as("ha"),
      conv(substring(md5(col("s")), 9, 7), 16, 10).cast("long").as("hb"))
    val minAggs = (0 until numHashes).map { seed =>
      min((col("ha") * (seed + 1) + col("hb")) % P).as(s"mh$seed")
    }
    hashed.groupBy("doc_id").agg(minAggs.head, minAggs.tail: _*)
      .select(
        col("doc_id"),
        posexplode(array((0 until nBands).map { b =>
          md5(concat_ws("|",
            (0 until bandRows).map(r => col(s"mh${b * bandRows + r}")): _*))
        }: _*)).as(Seq("band_idx", "band_sig")))
  }

  /** Shingled-doc threshold for [[minhashNearDups]]' verify-shape gate
    * (see the note in its body). Round-22 interleaved min-over-3 A/B on
    * a quiet box: 5k docs (sf0.1) collect_set 0.95–1.12 s vs join-count
    * 1.17–1.42 s; 20k docs (4×-replicated, dup-heavy) join-count
    * 2.63 s vs collect_set 4.83 s. Crossover sits between; 10k splits
    * the gap. */
  private[graft] val JoinCountVerifyMinDocs = 10000L

  /** LSH banding: candidate pairs = docs sharing any band signature,
    * then verified with exact shingle-set Jaccard >= `threshold`.
    *
    * Plan shape, sized for 100 TB: the bands relation carries ONLY
    * (doc_id, band_idx, band_sig) — 3 narrow columns — so the band
    * self-join shuffles hashes, never document payloads. Candidate
    * (doc_a, doc_b) id pairs are deduplicated FIRST (a doc pair can
    * collide in several bands), and only then joined back to the
    * deduplicated signature table for the exact shingle-set check —
    * the expensive array intersection runs once per candidate pair.
    * With r-row bands, P(candidate | jaccard=j) = 1-(1-j^r)^b: at
    * r=4, b=8 a true near-dup (j≥0.9) is caught w.p. ≥0.9998 while a
    * j=0.1 noise pair collides w.p. ~0.0008 — candidates stay sparse,
    * so no stage is quadratic in the corpus.
    *
    * CONTRACTS (round 22, per the r21 advice): `idCol` values must be
    * UNIQUE — the large-corpus join-count verify equates row counts
    * with set sizes, so a duplicated id would inflate |A|/|A∩B| where
    * the small-corpus collect_set verify silently deduplicates (same
    * contract [[minhashNearDupsAgainst]] states). `threshold` must be
    * in (0, 1]: threshold = 0 (previously accepted, returning
    * zero-intersection pairs at jaccard 0.0) now fails loudly — the
    * join-count verify structurally cannot emit inter = 0 pairs.
    *
    * The verified pairs are computed EAGERLY (localCheckpoint; they
    * are candidate-bounded and small by the collision math above) so
    * the persisted shingle rows and band table are released before
    * returning, as in the `Against` forms: no CacheManager entry
    * outlives the call. */
  def minhashNearDups(
      df: DataFrame, idCol: String, textCol: String,
      numHashes: Int = 32, bandRows: Int = 4,
      shingleK: Int = 3, threshold: Double = 0.5): DataFrame = {
    require(numHashes % bandRows == 0, "bands must tile the signature")
    require(threshold > 0 && threshold <= 1,
      s"threshold $threshold must be in (0, 1]")
    val shingleRows = shinglePipeline(df, idCol, textCol, shingleK)
    // The band table materializes once, eagerly: both sides of the
    // self-join are alias projections of it, which defeat exchange
    // reuse, so a lazy table ran its stage once per side. Its count
    // also fills the shingle cache in one stage, before any consumer
    // of the shingle rows runs.
    val bands = minhashBandsOf(shingleRows, numHashes, bandRows)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val shingledDocs = bands.count() / (numHashes / bandRows)
    // Verify-shape gate (round 22, closing the r21 verdict's task #1):
    // the round-21 join-count verify REGRESSED at sf0.1 in both bench
    // windows (d2 1.18→1.37 builder / 1.89 driver) while winning at a
    // 4×-replicated dup-heavy corpus — the corpus-wide collect_set is
    // an in-memory aggregate over the persisted shingle frame and beats
    // the extra join chain while the corpus is small, and loses once
    // ObjectHashAggregate arrays for every doc outgrow it. The gate
    // reads the band table's row count (docs with a shingle × bands),
    // which the materialization above computes anyway: small corpus →
    // collect_set verify, large → join-count. Both verifies are
    // oracle-bit-identical (each was hash-green across rounds 20/21;
    // integer-valued counts divide identically in IEEE doubles), so
    // the gate can never change rows.
    val useJoinCount = shingledDocs > JoinCountVerifyMinDocs
    val cand = bands.select(col("band_idx"), col("band_sig"), col("doc_id").as("doc_a"))
      .join(bands.select(col("band_idx"), col("band_sig"), col("doc_id").as("doc_b")),
        Seq("band_idx", "band_sig"))
      .filter(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b")
      .distinct()
    val verified = if (!useJoinCount) {
      // Small-corpus exact verify (the round-20 shape): one
      // explode+join+collect_list pass reassembles each candidate
      // pair's two shingle sets from the persisted shingle frame
      // (pair-symmetric Jaccard, so collect_list order is harmless).
      pairShingleSets(cand, shingleRows)
        .withColumn("jaccard",
          TextAnalysis.jaccard(element_at(col("both"), 1), element_at(col("both"), 2)))
        .filter(col("jaccard") >= threshold)
        .select(col("doc_a"), col("doc_b"), round(col("jaccard"), 6).as("jaccard"))
    } else {
      // Large-corpus exact verify via join-count (round 21; the
      // containmentPairs treatment): |A∩B| = the number of (pair,
      // shingle) rows present on BOTH sides — shinglesFast emits each
      // doc's DISTINCT shingles, so row counts ARE set sizes. The
      // expensive stage shuffles narrow (id, id, shingle) rows bounded
      // by candidates × |A| in place of ObjectHashAggregate'd shingle
      // arrays for EVERY corpus doc + the array_intersect HOF per pair.
      // IEEE-identical jaccard: __inter/__na/__nb are integer-valued,
      // the division mirrors TextAnalysis.jaccard's inter/(na+nb-inter)
      // exactly, and the union==0 branch is unreachable here (a
      // candidate doc has >= 1 shingle by construction — it produced a
      // band). The inner join drops inter==0 pairs, which the threshold
      // (> 0 by the operator contract) would drop anyway.
      val sizes = shingleRows.groupBy("doc_id").agg(count(lit(1)).as("__n"))
      cand
        .join(shingleRows.select(col("doc_id").as("doc_a"), col("s")), Seq("doc_a"))
        .join(shingleRows.select(col("doc_id").as("doc_b"), col("s")), Seq("doc_b", "s"))
        .groupBy("doc_a", "doc_b")
        .agg(count(lit(1)).as("__inter"))
        .join(sizes.select(col("doc_id").as("doc_a"), col("__n").as("__na")), Seq("doc_a"))
        .join(sizes.select(col("doc_id").as("doc_b"), col("__n").as("__nb")), Seq("doc_b"))
        .withColumn("jaccard", col("__inter").cast("double") /
          ((col("__na") + col("__nb")).cast("double") - col("__inter").cast("double")))
        .filter(col("jaccard") >= threshold)
        .select(col("doc_a"), col("doc_b"), round(col("jaccard"), 6).as("jaccard"))
    }
    val out = verified.localCheckpoint(true)
    bands.unpersist()
    shingleRows.unpersist()
    out
  }

  /** Exact-verify reassembly shared by [[minhashNearDups]]' small-
    * corpus shape: (doc_a, doc_b) candidate pairs → (doc_a, doc_b,
    * both), where `both` holds the pair's two shingle sets. The
    * shingle-set subtree appears ONCE in the plan: each candidate
    * pair is exploded into its two member ids, joined against the
    * sets a single time, and the pair's two arrays are reassembled
    * with collect_list. The list order is nondeterministic, so the
    * metric applied to `both` must be pair-symmetric (Jaccard is).
    * Joining sets twice (once per side) would re-execute the whole
    * shingle pipeline per side — alias projections defeat exchange
    * reuse. */
  private def pairShingleSets(cand: DataFrame,
                              shingleRows: DataFrame): DataFrame = {
    val sets = shingleRows.groupBy("doc_id").agg(collect_set(col("s")).as("shs"))
    cand
      .select(col("doc_a"), col("doc_b"),
        explode(array(col("doc_a"), col("doc_b"))).as("doc_id"))
      .join(sets, Seq("doc_id"))
      .groupBy("doc_a", "doc_b")
      .agg(collect_list(col("shs")).as("both"))
  }

  /** Incremental near-dup: which docs of an incoming batch are near-
    * duplicates of an EXISTING corpus — the daily-ingest form of
    * [[minhashNearDups]]. The band join runs new×old only (never
    * old×old, the quadratic bulk a self-join would redo every day);
    * with a small batch against a huge corpus, AQE broadcasts the
    * batch's band table, so the corpus pays one band-materialization
    * scan and zero shuffles of its documents. In production the corpus
    * bands are the PRE-STORED artifact: [[writeBandIndex]] persists
    * them partitionBy a band_sig bucket at index time (the i1/b2
    * posting-index pattern) and [[minhashNearDupsAgainstIndex]] reads
    * only matching buckets.
    *
    * Ids must be distinct across the two frames (same contract as a
    * union); pairs are oriented (doc_new, doc_old). Same signature
    * family, band scheme, and exact-Jaccard verify as
    * [[minhashNearDups]] — d11 shares d2's oracle fragments.
    *
    * The result is computed EAGERLY (localCheckpoint of the verified
    * pair list, which is candidate-bounded and small by the LSH
    * collision math) so the two internally-persisted shingle frames
    * can be unpersisted before returning — persist lifetime is
    * bounded inside the method and repeated callers (a per-batch
    * ingest loop) never accumulate session cache. */
  def minhashNearDupsAgainst(
      newDf: DataFrame, corpus: DataFrame, idCol: String, textCol: String,
      numHashes: Int = 32, bandRows: Int = 4,
      shingleK: Int = 3, threshold: Double = 0.5): DataFrame = {
    require(numHashes % bandRows == 0, "bands must tile the signature")
    val newShingles = shinglePipeline(newDf, idCol, textCol, shingleK)
    val oldShingles = shinglePipeline(corpus, idCol, textCol, shingleK)
    val cand = minhashBandsOf(newShingles, numHashes, bandRows)
      .select(col("band_idx"), col("band_sig"), col("doc_id").as("doc_new"))
      .join(minhashBandsOf(oldShingles, numHashes, bandRows)
        .select(col("band_idx"), col("band_sig"), col("doc_id").as("doc_old")),
        Seq("band_idx", "band_sig"))
      .filter(col("doc_new") =!= col("doc_old"))
      .select("doc_new", "doc_old")
      .distinct()
    // Exact verify from the PERSISTED corpus shingle frame (round 22,
    // REVERTING the round-21 candidate-bounded verify, which regressed
    // in both bench windows — d11 0.97→1.28/1.29 s): the "bounded"
    // re-shingle of candidate docs re-scanned the corpus parquet and
    // re-ran shinglesFast, while collect_set over the already-persisted
    // shingle rows is an in-memory aggregate — the SAME outcome the
    // round-21 containmentPairsAgainst A/B measured, now confirmed here
    // by an interleaved min-over-3 A/B at sf0.1 (0.79 vs 1.04 s) AND at
    // a 4×-replicated corpus (2.42 vs 3.15 s): collect_set wins at both
    // scales, so no gate — this form, unconditionally.
    val newSets = newShingles.groupBy("doc_id").agg(collect_set(col("s")).as("sh_new"))
    val oldSets = oldShingles.groupBy("doc_id").agg(collect_set(col("s")).as("sh_old"))
    val out = cand
      .join(newSets.withColumnRenamed("doc_id", "doc_new"), Seq("doc_new"))
      .join(oldSets.withColumnRenamed("doc_id", "doc_old"), Seq("doc_old"))
      .withColumn("jaccard", TextAnalysis.jaccard(col("sh_new"), col("sh_old")))
      .filter(col("jaccard") >= threshold)
      .select(col("doc_new"), col("doc_old"), round(col("jaccard"), 6).as("jaccard"))
      .localCheckpoint(true)
    newShingles.unpersist()
    oldShingles.unpersist()
    out
  }

  /** Bucket key for the pre-stored band index: derived from band_sig
    * ONLY, so write side and read side always agree given the same
    * `nBuckets` (persisted in the index's own metadata — see
    * [[writeBandIndex]]). */
  private def bandBucket(nBuckets: Int): Column =
    pmod(xxhash64(col("band_sig")), lit(nBuckets.toLong))

  /** Build and persist the corpus MinHash band table — the pre-stored
    * index that turns per-batch incremental dedup from "re-shingle the
    * corpus every day" into "read the matching band buckets"
    * ([[minhashNearDupsAgainst]]'s own scaladoc names this artifact).
    *
    * Layout: (doc_id, band_idx, band_sig) partitioned by band_bucket =
    * hash(band_sig) mod nBuckets, so a batch's lookups prune to the
    * directories its own signatures hash into. The hash scheme
    * parameters (numHashes, bandRows, shingleK, nBuckets) are written
    * alongside under `_graft_meta` (underscore prefix: invisible to
    * plain parquet readers of the band table) and re-read by
    * [[minhashNearDupsAgainstIndex]] — the reader can never drift from
    * the writer's scheme, which would silently drop true pairs.
    *
    * Size nBuckets so one bucket's bands fit a scan task comfortably
    * (bands are 3 narrow columns; at 100 TB corpus scale thousands of
    * buckets keep per-bucket reads small while batch-side pruning
    * stays effective — a small batch touches few distinct buckets).
    * `filesPerBucket` is [[graft.sources.IndexStore]]'s salt dial
    * applied here: when a single bucket's bands exceed one write
    * task's comfort (an under-sized nBuckets on a huge corpus), a
    * value > 1 salts the layout exchange so each bucket lands in at
    * most that many files instead of making one task the straggler —
    * rows and read-side pruning are identical either way. */
  def writeBandIndex(corpus: DataFrame, idCol: String, textCol: String,
                     path: String, numHashes: Int = 32, bandRows: Int = 4,
                     shingleK: Int = 3, nBuckets: Int = 64,
                     filesPerBucket: Int = 1): Unit = {
    require(numHashes % bandRows == 0, "bands must tile the signature")
    require(nBuckets >= 1, s"nBuckets $nBuckets must be >= 1")
    // >= 1, not >= 0: partitionAligned's 0 means write-through, which
    // for a NARROW derivation like bands is exactly the tasks×buckets
    // sliver shape this store's layout exchange exists to prevent —
    // and a negative must fail HERE by name, not as partitionAligned's
    // anonymous require deep inside the write
    require(filesPerBucket >= 1,
      s"filesPerBucket $filesPerBucket must be >= 1")
    val spark = corpus.sparkSession
    // single-consumer plan: bands are derived in one pass, no persist
    val bands = minhashBandsOf(
        shinglePipeline(corpus, idCol, textCol, shingleK, doPersist = false),
        numHashes, bandRows)
      .withColumn("band_bucket", bandBucket(nBuckets))
    // band derivation is narrow, so a write-through layout would emit
    // tasks × buckets sliver files — one exchange buys filesPerBucket
    // files per bucket (IndexStore.partitionAligned carries the
    // measured rationale and the salt)
    graft.sources.IndexStore.partitionAligned(bands, "band_bucket",
        filesPerBucket)
      .write.mode("overwrite").partitionBy("band_bucket").parquet(path)
    import spark.implicits._
    Seq((numHashes, bandRows, shingleK, nBuckets))
      .toDF("num_hashes", "band_rows", "shingle_k", "n_buckets")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/_graft_meta")
  }

  /** [[minhashNearDupsAgainst]] served from a pre-stored band index
    * ([[writeBandIndex]]'s artifact) — identical pairs, but the corpus
    * side reads ONLY the band buckets the batch's own signatures hash
    * into (static partition pruning on band_bucket; the bucket list is
    * a bounded driver collect, ≤ the index's nBuckets) instead of
    * re-shingling the whole corpus per batch. The exact-Jaccard verify
    * re-shingles just the CANDIDATE corpus docs (semi-join on the
    * collision pairs), so corpus-side work scales with the batch's
    * collision footprint, not the corpus.
    *
    * Hash-scheme parameters come from the index's own `_graft_meta`,
    * never from the caller — a mismatched reader is impossible by
    * construction. Persist lifetime is bounded inside the method, as
    * in [[minhashNearDupsAgainst]]. */
  /** The pruned corpus-band read [[minhashNearDupsAgainstIndex]] is
    * built on, extracted so its plan shape is testable: the method's
    * own output is `localCheckpoint`ed (lineage truncated to an
    * ExistingRDD scan), so the partition pruning this design depends
    * on is only visible HERE — DedupSpec asserts the scan carries a
    * `band_bucket` PartitionFilter and touches fewer directories than
    * the index has buckets. */
  private[graft] def prunedBandRead(spark: SparkSession, indexPath: String,
                                    buckets: Seq[Long]): DataFrame =
    spark.read.parquet(indexPath)
      .filter(col("band_bucket").isin(buckets: _*))

  def minhashNearDupsAgainstIndex(
      newDf: DataFrame, indexPath: String, corpus: DataFrame,
      idCol: String, textCol: String, threshold: Double = 0.5): DataFrame = {
    val spark = newDf.sparkSession
    val meta = spark.read.parquet(s"$indexPath/_graft_meta").collect()(0)
    val (numHashes, bandRows, shingleK, nBuckets) =
      (meta.getAs[Int]("num_hashes"), meta.getAs[Int]("band_rows"),
        meta.getAs[Int]("shingle_k"), meta.getAs[Int]("n_buckets"))
    val newShingles = shinglePipeline(newDf, idCol, textCol, shingleK)
    val newBands = minhashBandsOf(newShingles, numHashes, bandRows)
      .withColumn("band_bucket", bandBucket(nBuckets))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // ≤ nBuckets values: the literal IN list is what makes the pruning
    // STATIC (visible in the scan's PartitionFilters) rather than a
    // runtime-dependent join the planner may or may not prune.
    val buckets = newBands.select("band_bucket").distinct()
      .collect().map(_.getLong(0)).sorted
    val corpusBands = prunedBandRead(spark, indexPath, buckets)
    val cand = newBands
      .select(col("band_idx"), col("band_sig"), col("doc_id").as("doc_new"))
      .join(corpusBands
        .select(col("band_idx"), col("band_sig"), col("doc_id").as("doc_old")),
        Seq("band_idx", "band_sig"))
      .filter(col("doc_new") =!= col("doc_old"))
      .select("doc_new", "doc_old")
      .distinct()
      .localCheckpoint(true) // eager + small: reused for verify AND the old-id semi-join
    val newSets = newShingles.groupBy("doc_id").agg(collect_set(col("s")).as("sh_new"))
    // verify-side corpus shingles: candidate docs only (shinglesFast
    // already returns the distinct-shingle set the Jaccard expects)
    val oldIds = cand.select(col("doc_old")).distinct()
    val oldSets = corpus
      .join(oldIds, corpus(idCol) === oldIds("doc_old"), "left_semi")
      .select(col(idCol).as("doc_old"),
        TextAnalysis.shinglesFast(col(textCol), shingleK).as("sh_old"))
    val out = cand
      .join(newSets.withColumnRenamed("doc_id", "doc_new"), Seq("doc_new"))
      .join(oldSets, Seq("doc_old"))
      .withColumn("jaccard", TextAnalysis.jaccard(col("sh_new"), col("sh_old")))
      .filter(col("jaccard") >= threshold)
      .select(col("doc_new"), col("doc_old"), round(col("jaccard"), 6).as("jaccard"))
      .localCheckpoint(true)
    newShingles.unpersist()
    newBands.unpersist()
    out
  }

  /** SimHash over word frequencies at `bits` width (multiple of 4,
    * ≤60 so every value — including 16^(hex-1) place weights in the
    * DuckDB mirror — stays inside signed BIGINT). Per token: v = first
    * bits/4 hex chars of md5; per bit: sign of Σ±1; fingerprint = the
    * sign bits packed. */
  private def simhashBits(df: DataFrame, idCol: String, textCol: String,
                          bits: Int): DataFrame = {
    require(bits % 4 == 0 && bits > 0 && bits <= 60,
      s"bits $bits must be a positive multiple of 4, at most 60")
    // doc_id hash exchange BELOW the word explode (round 22; the
    // shinglePipeline rationale): a single-file corpus scans as one
    // partition, so the explode + 64-column bit-sum aggregation ran
    // single-task (profiled on d10/d21 as serial 300-450 ms stages).
    // The exchange moves raw documents once and pre-co-partitions the
    // groupBy(doc_id), which then needs no exchange of its own.
    val src = df.select(col(idCol).as("doc_id"), col(textCol).as("__text"))
      .repartition(df.sparkSession.sparkContext.defaultParallelism, col("doc_id"))
    val words = src.select(col("doc_id"),
      explode(split(trim(col("__text")), "[ \t\n]+")).as("w"))
      .filter(length(col("w")) > 0)
      .withColumn("v",
        conv(substring(md5(col("w")), 1, bits / 4), 16, 10).cast("long"))
    val bitSums = (0 until bits).map { i =>
      sum(when(shiftright(col("v"), i).bitwiseAND(1) === 1, 1).otherwise(-1))
        .as(s"b$i")
    }
    words.groupBy("doc_id").agg(bitSums.head, bitSums.tail: _*)
      .select(col("doc_id"),
        (0 until bits).map(i =>
          when(col(s"b$i") > 0, lit(1L << i)).otherwise(lit(0L)))
          .reduce(_ + _).as("simhash"))
  }

  /** 16-bit SimHash — the oracle-light teaching form. A 16-bit space
    * SATURATES near 10⁴ docs (measured: the d10 manifest at 100k docs
    * went 1 s → 232 s because ~every doc pair collides in some block);
    * use [[simhashNearDupsWide]] beyond toy corpora. */
  def simhash16(df: DataFrame, idCol: String, textCol: String): DataFrame =
    simhashBits(df, idCol, textCol, 16)

  /** SimHash near-dup pairs: Hamming distance ≤ `maxHamming` on the
    * 16-bit fingerprint. Candidate generation is pigeonhole banding —
    * split the fingerprint into `maxHamming + 1` blocks; any pair
    * within the distance budget must agree exactly on ≥1 block, so
    * candidates come from equality joins on (block_idx, block_value)
    * — hash-sized shuffle keys, same scale shape as the MinHash
    * bands — and are then verified with an exact popcount. */
  def simhashNearDups(df: DataFrame, idCol: String, textCol: String,
                      maxHamming: Int = 1): DataFrame =
    simhashNearDupsAt(df, idCol, textCol, maxHamming, bits = 16)

  /** [[simhashNearDups]] at corpus-scale hash width (default 60 bits:
    * 15 md5 hex chars — the widest that keeps every packed value and
    * place weight in signed BIGINT on both engines). The block count
    * is still maxHamming+1 by pigeonhole; at 60 bits a block is 30/20/
    * 15 bits wide for ham ≤1/2/3, so block-collision probability stays
    * ~n/2^blockBits — the knob that must GROW with the corpus (the
    * 16-bit form measured quadratic at 100k docs; this form stays
    * collision-bounded until ~2^15× that density). */
  def simhashNearDupsWide(df: DataFrame, idCol: String, textCol: String,
                          maxHamming: Int = 3): DataFrame =
    simhashNearDupsAt(df, idCol, textCol, maxHamming, bits = 60)

  private def simhashNearDupsAt(df: DataFrame, idCol: String, textCol: String,
                                maxHamming: Int, bits: Int): DataFrame = {
    val nBlocks = maxHamming + 1
    require(bits % nBlocks == 0,
      s"bits $bits must divide evenly into ${nBlocks} blocks")
    val blockBits = bits / nBlocks
    val fp = simhashBits(df, idCol, textCol, bits)
    val blocks = fp.select(
      col("doc_id"), col("simhash"),
      posexplode(array((0 until nBlocks).map { b =>
        shiftright(col("simhash"), b * blockBits)
          .bitwiseAND((1L << blockBits) - 1)
      }: _*)).as(Seq("block_idx", "block_val")))
    val cand = blocks
      .select(col("block_idx"), col("block_val"),
        col("doc_id").as("doc_a"), col("simhash").as("sh_a"))
      .join(blocks.select(col("block_idx"), col("block_val"),
        col("doc_id").as("doc_b"), col("simhash").as("sh_b")),
        Seq("block_idx", "block_val"))
      .filter(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b", "sh_a", "sh_b")
      .distinct()
    cand
      .withColumn("hamming", bit_count(col("sh_a").bitwiseXOR(col("sh_b"))))
      .filter(col("hamming") <= maxHamming)
      .select(col("doc_a"), col("doc_b"), col("hamming").cast("int").as("hamming"))
  }

  /** Embedding near-dup pairs at scale: all (a, b) with L2 distance ≤
    * `maxDist`, EXACT (100% recall, zero false positives), with no
    * corpus-fraction broadcast and no all-pairs stage.
    *
    * Candidate generation is deterministic grid blocking on `nProj`
    * Rademacher/Walsh projections u_j (sign pattern ±1 by bit j of the
    * element index; ‖u_j‖² = dim exactly). Cauchy–Schwarz gives
    * |u·a − u·b| ≤ ‖u‖·‖a−b‖ ≤ √dim·maxDist =: w for every true pair,
    * so bucketing each projection at width w and emitting the
    * {cell, cell+1} corner set per row guarantees every true pair
    * collides in ≥1 of the 2^nProj emitted cells — recall is a
    * THEOREM, not a tuning outcome, which is what makes the operator
    * oracle-checkable (the DuckDB oracle computes the answer by brute
    * force; both sides are exact, so they agree bit-for-bit).
    *
    * Scale shape: one narrow pass computes the projections; the band
    * relation carries (id, cell, p₀..p_{n-1}) — never the vectors — so
    * the self-join shuffles fixed-width keys; candidates are
    * prefiltered on |Δp_j| ≤ w (cheap scalars), deduplicated, and only
    * then joined back to the vectors ONCE (explode + collect_list, the
    * [[minhashNearDups]] shape) for the exact distance. Pruning power
    * grows as the threshold tightens (w ∝ maxDist): at true near-dup
    * thresholds the grid is sparse; at loose "mild similarity"
    * thresholds prefer [[graft.operators.LshAnn.approxSelfJoin]] and
    * accept approximation.
    *
    * SIZE `nProj` to the corpus: candidates are O(n² · Π pⱼ) where pⱼ
    * (per-projection collision probability) is fixed by w and the data
    * spread, so at fixed nProj candidate count grows quadratically
    * with corpus size; each added projection multiplies candidates by
    * pⱼ (≈0.1-0.3) at the cost of doubling the 2^nProj cell emission —
    * raise nProj as n grows so per-cell occupancy stays O(1). Measured
    * on a 20×-replicated sf0.1 corpus (80k vectors, identical exact
    * output at every setting): nProj=3 → 467 s, nProj=5 → 61 s,
    * nProj=6 → 164 s (emission cost passes the pruning gain) — the
    * optimum grows roughly logarithmically with density. */
  def embeddingNearDups(df: DataFrame, idCol: String, embCol: String,
                        maxDist: Double, dim: Int, nProj: Int = 3): DataFrame = {
    require(nProj == 0 || (nProj >= 1 && nProj <= 6),
      s"nProj must be 1..6, or 0 for auto, got $nProj")
    require(maxDist > 0, "maxDist must be positive")
    // nProj = 0 → auto-size from corpus count (one cheap narrow scan),
    // following the measured optimum curve: +1 projection per ~5×
    // density past the 4k-row baseline, capped where 2^nProj emission
    // outgrows the pruning (see the sizing note above).
    val chosenProj =
      if (nProj > 0) nProj
      else {
        val n = df.count()
        val extra = math.max(0.0, math.ceil(math.log(n / 4000.0) / math.log(5.0)))
        math.min(6, 3 + extra.toInt)
      }
    val parallelism = df.sparkSession.sparkContext.defaultParallelism
    val w = maxDist * math.sqrt(dim.toDouble)
    val base = df
      .select(col(idCol).cast("long").as("doc_id"),
        col(embCol).cast("array<double>").as("emb"))
      .repartition(parallelism)
    // p_j = Σ ±emb_i with sign = bit j of the element index — one
    // interpreted HOF per projection, computed once per row here and
    // never re-referenced (HOF columns inline on reuse).
    def proj(j: Int): Column = aggregate(
      transform(col("emb"), (x, i) =>
        when(shiftright(i, j) % 2 === 0, x).otherwise(-x)),
      lit(0.0), (acc, x) => acc + x)
    val projected = base.select(
      (Seq(col("doc_id"), col("emb")) ++
        (0 until chosenProj).map(j => proj(j).as(s"__p$j"))): _*)
    // 2^nProj corner cells per row: every pair within w per projection
    // lands in the same cell for at least one corner choice.
    val combos = (0 until (1 << chosenProj)).map { mask =>
      struct((0 until chosenProj).map { j =>
        (floor(col(s"__p$j") / w).cast("long") + ((mask >> j) & 1)).as(s"c$j")
      }: _*)
    }
    val bands = projected.select(
      (Seq(col("doc_id"), explode(array(combos: _*)).as("cell")) ++
        (0 until chosenProj).map(j => col(s"__p$j"))): _*)
    val left = bands.select(
      (Seq(col("cell"), col("doc_id").as("doc_a")) ++
        (0 until chosenProj).map(j => col(s"__p$j").as(s"__pa$j"))): _*)
    val right = bands.select(
      (Seq(col("cell"), col("doc_id").as("doc_b")) ++
        (0 until chosenProj).map(j => col(s"__p$j").as(s"__pb$j"))): _*)
    val withinW = (0 until chosenProj)
      .map(j => abs(col(s"__pa$j") - col(s"__pb$j")) <= w)
      .reduce(_ && _)
    val cand = left.join(right, Seq("cell"))
      .filter(col("doc_a") < col("doc_b") && withinW)
      .select("doc_a", "doc_b")
      .distinct()
    // Exact verify: vectors join the candidate set ONCE (explode the
    // pair into its members; dist is symmetric so list order is
    // harmless) — the column pruner drops __p* from this subtree.
    val vecs = projected.select(col("doc_id"), col("emb"))
    cand
      .select(col("doc_a"), col("doc_b"),
        explode(array(col("doc_a"), col("doc_b"))).as("doc_id"))
      .join(vecs, Seq("doc_id"))
      .groupBy("doc_a", "doc_b")
      .agg(collect_list(col("emb")).as("both"))
      .withColumn("dist",
        graft.functions.VectorFunctions.l2(
          element_at(col("both"), 1), element_at(col("both"), 2)))
      .filter(col("dist") <= maxDist)
      .select(col("doc_a"), col("doc_b"), col("dist"))
  }

  /** SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic near-dup
    * pairs via cluster-blocked cosine comparison. Embeddings are
    * assigned to their nearest centroid ([[Ann.ivfAssignBig]]: L2,
    * ranked as the IVF probe rule ranks cells, ties to the smaller cid
    * — k-means assignment, as in the paper), and pairwise cosine
    * similarity is computed ONLY within a cluster; pairs with
    * cos ≥ `threshold` are semantic
    * duplicates. Cross-cluster pairs are never compared — that is the
    * SemDeDup tradeoff (recall bounded by clustering quality, measured
    * in the paper at ≥99% of dup mass for k ~ √n), and what removes
    * the quadratic corpus term.
    *
    * Scale shape: the only wide exchanges are the two cluster_id hash
    * exchanges feeding the self-join — each shuffles the corpus
    * payload once, and per-cluster work is Σ cᵢ², bounded by sizing k
    * so E[cᵢ] = n/k stays O(√n) (k grows with the corpus, exactly how
    * the IVF centroid count is sized). No stage is O(n²) and nothing
    * corpus-sized is broadcast or collected: the k centroids broadcast
    * into [[Ann.ivfAssignBig]]'s argmin. Downstream, a
    * purge manifest is the existing composition: pairs →
    * [[components]] → keep min id per component (the d10 shape).
    *
    * Production centroids come from [[Ann.trainCentroids]] (MLlib
    * k-means); the harness query uses a deterministic centroid table
    * so the operator is DuckDB-oracle-checkable end to end. */
  def semanticNearDups(df: DataFrame, idCol: String, embCol: String,
                       centroids: DataFrame, cidCol: String, cvecCol: String,
                       threshold: Double): DataFrame = {
    // lazy localCheckpoint: the assignment pass (the k-way argmin over
    // the corpus — the dominant per-row cost) feeds BOTH sides of the
    // self-join below and would execute twice (no cross-subtree CSE;
    // the frameDedupPairs shared-subtree pattern)
    val assigned = Ann.ivfAssignBig(
        df.select(col(idCol), col(embCol)), embCol, idCol,
        centroids, cidCol, cvecCol)
      .select(col("cluster_id"), col(idCol).as("doc_id"), col(embCol).as("emb"))
      .localCheckpoint(false)
    val left = assigned.select(col("cluster_id"),
      col("doc_id").as("doc_a"), col("emb").as("emb_a"))
    val right = assigned.select(col("cluster_id"),
      col("doc_id").as("doc_b"), col("emb").as("emb_b"))
    left.join(right, Seq("cluster_id"))
      .filter(col("doc_a") < col("doc_b"))
      .withColumn("cos",
        graft.functions.VectorFunctions.cosine(col("emb_a"), col("emb_b")))
      .filter(col("cos") >= threshold)
      .select(col("cluster_id"), col("doc_a"), col("doc_b"),
        round(col("cos"), 6).as("cos"))
  }

  /** N-gram Jaccard near-dup via LSH candidates (exact verify) — the
    * scalable composition: Jaccard itself is exact; candidate
    * generation reuses the MinHash bands. */
  def ngramJaccardPairs(df: DataFrame, idCol: String, textCol: String,
                        shingleK: Int, threshold: Double): DataFrame =
    minhashNearDups(df, idCol, textCol,
      numHashes = 32, bandRows = 4, shingleK = shingleK, threshold = threshold)

  /** Containment near-dup: pairs where the smaller document's shingle
    * set sits mostly inside the larger's — C(A,B) = |A∩B| /
    * min(|A|,|B|). The nested-document family resemblance dedup is
    * structurally blind to: a page embedded verbatim in a boilerplate-
    * heavy superset has C ≈ 1 but Jaccard ≈ |A|/|B|, far below any
    * useful resemblance threshold — AND below the LSH collision
    * probability that generates d2's candidates in the first place
    * (at r=4 a j=0.1 pair collides w.p. ~0.0008), so this operator
    * needs its own candidate generator, not just its own verify.
    *
    * Candidates: docs sharing ≥ `minShared` RARE shingles, where rare
    * means document frequency ≤ `maxDf` — the d9 rare-gram cap. The
    * df cap is what keeps the inverted-index self-join non-quadratic
    * at corpus scale: a boilerplate shingle in half the corpus would
    * alone contribute n²/4 candidate pairs and zero containment
    * signal, while a genuinely nested pair shares MANY rare shingles
    * (every shingle of the nested doc that isn't global boilerplate).
    * Exact |A∩B| then runs on the candidate pairs that survive an
    * upper-bound prune, by join-count (see the notes in the body).
    *
    * Candidate-recall contract: a pair is missed only if the smaller
    * doc has fewer than `minShared` shingles rarer than `maxDf` —
    * i.e. it consists of corpus boilerplate, which is exact-dedup's
    * (d1) or span-dedup's (d9) job, not containment's.
    *
    * `idCol` values must be UNIQUE (round 22, per the r21 advice): the
    * join-count exact verify equates row counts with set sizes, so a
    * duplicated id would inflate the intersection and size terms.
    *
    * The pairs are computed EAGERLY (localCheckpoint; the prune leaves
    * few) and the persisted shingle rows are released before
    * returning, as in [[minhashNearDups]].
    *
    * Reference behavior: dedup families in SURVEY.md §2.7; containment
    * as distinct from resemblance per Broder, "On the resemblance and
    * containment of documents" (SEQUENCES '97). */
  def containmentPairs(df: DataFrame, idCol: String, textCol: String,
                       shingleK: Int = 3, maxDf: Int = 20,
                       minShared: Int = 2, threshold: Double = 0.8): DataFrame = {
    require(maxDf >= 2, s"maxDf $maxDf must be >= 2 (df-1 shingles cannot pair)")
    require(minShared >= 1, s"minShared $minShared must be >= 1")
    require(threshold > 0 && threshold <= 1,
      s"threshold $threshold must be in (0, 1]")
    val shingleRows = shinglePipeline(df, idCol, textCol, shingleK)
    // Inverted index over rare shingles only: df computed on the
    // already-distinct (doc, shingle) rows, so df = document frequency.
    val rare = shingleRows.groupBy("s")
      .agg(count(lit(1)).as("__df"))
      .filter(col("__df") >= 2 && col("__df") <= maxDf)
      .select("s")
    // posts deliberately NOT checkpointed (round-22 A/B): an eager
    // checkpoint dropped duplicate-compute (45.5 -> 14.9 s executor
    // total) but AQE then coalesced the tiny-bytes ExistingRDD feeding
    // the EXPLODING self-join to one partition and serialized it (wall
    // 2.6 -> 5.5 s); pinning the width with an explicit s-repartition
    // before the checkpoint restored parallelism but re-inflated
    // executor time (37.9 s) for no wall gain. The cached shingle frame
    // already bounds each re-derivation to an in-memory scan + df join.
    val posts = shingleRows.join(rare, Seq("s"))
    val cand = posts.select(col("s"), col("doc_id").as("doc_a"))
      .join(posts.select(col("s"), col("doc_id").as("doc_b")), Seq("s"))
      .filter(col("doc_a") < col("doc_b"))
      .groupBy("doc_a", "doc_b")
      .agg(count(lit(1)).as("__shared"))
      .filter(col("__shared") >= minShared)
    // SOUND upper-bound prune before the exact verify (round 21; guide
    // §2.3 "shuffle fewer bytes"): every shared shingle is either rare
    // (counted EXACTLY by __shared — the candidate join runs on the
    // rare posts) or non-rare, and a pair can share at most
    // min(nonrare_a, nonrare_b) non-rare shingles, so
    //   |A∩B| <= __shared + min(nonrare_a, nonrare_b)
    // with both terms integers and the bound tight when documents are
    // mostly rare shingles. Division (not multiplication) mirrors the
    // final filter's exact float expression; numerator monotonicity of
    // IEEE division makes the prune a strict superset of the survivors
    // — zero false negatives by construction, so the result set (and
    // the DuckDB oracle) is unchanged. Measured at sf0.1: 109,919
    // candidates -> 256 survivors, and the exact-verify stage no
    // longer builds collect_set arrays for every document (the
    // ObjectHashAggregate + corpus-wide broadcast that dominated d14).
    val sizes = shingleRows.groupBy("doc_id").agg(count(lit(1)).as("__n"))
    val rsz = posts.groupBy("doc_id").agg(count(lit(1)).as("__nr"))
    val szl = sizes.join(rsz, Seq("doc_id"), "left")
      .select(col("doc_id"), col("__n"),
        (col("__n") - coalesce(col("__nr"), lit(0L))).as("__nonrare"))
    val pruned = cand
      .join(szl.select(col("doc_id").as("doc_a"),
        col("__n").as("__na"), col("__nonrare").as("__nra")), Seq("doc_a"))
      .join(szl.select(col("doc_id").as("doc_b"),
        col("__n").as("__nb"), col("__nonrare").as("__nrb")), Seq("doc_b"))
      .withColumn("__minsz", least(col("__na"), col("__nb")))
      .filter((col("__shared") + least(col("__nra"), col("__nrb")))
        .cast("double") / col("__minsz") >= threshold)
      .select("doc_a", "doc_b", "__minsz")
    // Exact |A∩B| on the pruned survivors via join-count instead of
    // array materialization: expand each surviving pair by doc_a's
    // shingles, keep those present in doc_b (hash join on (doc_b, s)),
    // count per pair. Shuffles narrow (id, id, shingle) rows bounded by
    // survivors × |A| — no corpus-wide collect_set, no array_intersect.
    // __minsz rides the groupBy key (functionally dependent on the
    // pair) so the pruned subtree is referenced exactly once. Every
    // pruned pair shares >= minShared >= 1 shingles, so the inner join
    // cannot drop a surviving pair.
    val out = pruned
      .join(shingleRows.select(col("doc_id").as("doc_a"), col("s")), Seq("doc_a"))
      .join(shingleRows.select(col("doc_id").as("doc_b"), col("s")), Seq("doc_b", "s"))
      .groupBy("doc_a", "doc_b", "__minsz")
      .agg(count(lit(1)).as("__inter"))
      .withColumn("containment",
        col("__inter").cast("double") / col("__minsz"))
      .filter(col("containment") >= threshold)
      // long n_small: the DuckDB oracle's len() is BIGINT — keep the
      // harness compare type-stable, not just value-equal.
      .select(col("doc_a"), col("doc_b"),
        col("__minsz").cast("long").as("n_small"),
        round(col("containment"), 6).as("containment"))
      .localCheckpoint(true)
    shingleRows.unpersist()
    out
  }

  /** Incremental containment: which docs of an incoming batch are
    * nested in (or supersets of) an EXISTING corpus — the daily-
    * ingest form of [[containmentPairs]], pairing with
    * [[minhashNearDupsAgainst]] the way d14 pairs with d2. The
    * candidate join runs new×old only, never old×old: the batch's
    * shingles probe the corpus's rare-shingle inverted index, so the
    * per-batch cost is proportional to the batch's collision
    * footprint, not the corpus.
    *
    * Two deliberate deltas from the self-join form: (1) rarity (df ≤
    * maxDf) is judged on the CORPUS side — that df is the index-time
    * statistic a production deployment precomputes, and a batch
    * can't shift it; (2) no df ≥ 2 floor — a corpus shingle unique
    * within the corpus (df = 1) can still witness a cross-side pair.
    * Ids must be distinct across the two frames (same contract as
    * [[minhashNearDupsAgainst]]); pairs are oriented (doc_new,
    * doc_old). Result computed eagerly so both internal persists are
    * released before returning.
    *
    * Round-21 A/B note: the candidate-bounded verify (re-shingling
    * only candidate docs, the [[minhashNearDupsAgainst]] treatment)
    * and a window-count posting derivation were BOTH tried here and
    * both measured slower than this shape in interleaved min-over-N
    * runs — the persisted shingle frames make the corpus-wide
    * collect_set an in-memory aggregate, while the "bounded" verify
    * re-scanned the corpus parquet. Kept as-is deliberately. */
  def containmentPairsAgainst(newDf: DataFrame, corpus: DataFrame,
                              idCol: String, textCol: String,
                              shingleK: Int = 3, maxDf: Int = 20,
                              minShared: Int = 2,
                              threshold: Double = 0.8): DataFrame = {
    require(maxDf >= 1, s"maxDf $maxDf must be >= 1")
    require(minShared >= 1, s"minShared $minShared must be >= 1")
    require(threshold > 0 && threshold <= 1,
      s"threshold $threshold must be in (0, 1]")
    val newShingles = shinglePipeline(newDf, idCol, textCol, shingleK)
    val oldShingles = shinglePipeline(corpus, idCol, textCol, shingleK)
    val rare = oldShingles.groupBy("s")
      .agg(count(lit(1)).as("__df"))
      .filter(col("__df") <= maxDf)
      .select("s")
    val cand = newShingles.select(col("s"), col("doc_id").as("doc_new"))
      .join(oldShingles.join(rare, Seq("s"))
        .select(col("s"), col("doc_id").as("doc_old")), Seq("s"))
      .groupBy("doc_new", "doc_old")
      .agg(count(lit(1)).as("__shared"))
      .filter(col("__shared") >= minShared)
      .select("doc_new", "doc_old")
    val newSets = newShingles.groupBy("doc_id").agg(collect_set(col("s")).as("sh_new"))
    val oldSets = oldShingles.groupBy("doc_id").agg(collect_set(col("s")).as("sh_old"))
    val out = cand
      .join(newSets.withColumnRenamed("doc_id", "doc_new"), Seq("doc_new"))
      .join(oldSets.withColumnRenamed("doc_id", "doc_old"), Seq("doc_old"))
      .withColumn("__inter",
        size(array_intersect(col("sh_new"), col("sh_old"))))
      .withColumn("__minsz", least(size(col("sh_new")), size(col("sh_old"))))
      .withColumn("containment",
        col("__inter").cast("double") / col("__minsz"))
      .filter(col("containment") >= threshold)
      .select(col("doc_new"), col("doc_old"),
        col("__minsz").cast("long").as("n_small"),
        round(col("containment"), 6).as("containment"))
      .localCheckpoint(true)
    newShingles.unpersist()
    oldShingles.unpersist()
    out
  }

  /** The containment family's index-time artifact (the
    * [[writeBandIndex]] treatment for [[containmentPairsAgainst]]):
    * the corpus's RARE-shingle inverted index — (s, doc_id) posting
    * rows for shingles with corpus df ≤ maxDf — stored
    * partitionBy(shingle_bucket) so a daily batch's probe reads only
    * the buckets its own shingles hash into. Rarity is judged on
    * corpus df, the precomputable index-time statistic; the df cap is
    * what keeps the posting list non-quadratic (stop-shingles never
    * enter the index). This is the 100×-measured split made physical:
    * the corpus-side shingle+df pass (240 s at 100× sf0.1, PLANS.md
    * round 11) is paid HERE once per corpus version, and the per-batch
    * query pays only its probe. Hash-scheme parameters persist in
    * `_graft_meta`; readers take them from the index, never from the
    * caller. `filesPerBucket` is the same salt dial as
    * [[writeBandIndex]]'s: > 1 bounds a too-big bucket's write to
    * several tasks instead of one straggler, identical rows and
    * pruning. */
  def writeShingleIndex(corpus: DataFrame, idCol: String, textCol: String,
                        path: String, shingleK: Int = 3, maxDf: Int = 20,
                        nBuckets: Int = 64, filesPerBucket: Int = 1): Unit = {
    require(maxDf >= 1, s"maxDf $maxDf must be >= 1")
    require(nBuckets >= 1, s"nBuckets $nBuckets must be >= 1")
    // same rationale as writeBandIndex: 0 would silently restore the
    // sliver write-through, negatives must fail by name
    require(filesPerBucket >= 1,
      s"filesPerBucket $filesPerBucket must be >= 1")
    val spark = corpus.sparkSession
    // two consumers (df census + posting join) → bounded persist
    val sh = shinglePipeline(corpus, idCol, textCol, shingleK)
    val rare = sh.groupBy("s").agg(count(lit(1)).as("__df"))
      .filter(col("__df") <= maxDf).select("s")
    // filesPerBucket files per bucket, not one per task per bucket
    // (the same exchange-for-layout trade writeBandIndex makes)
    graft.sources.IndexStore.partitionAligned(
        sh.join(rare, Seq("s"))
          .select(col("s"), col("doc_id"),
            pmod(hash(col("s")), lit(nBuckets)).as("shingle_bucket")),
        "shingle_bucket", filesPerBucket)
      .write.mode("overwrite").partitionBy("shingle_bucket").parquet(path)
    sh.unpersist()
    import spark.implicits._
    Seq((shingleK, maxDf, nBuckets))
      .toDF("shingle_k", "max_df", "n_buckets")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/_graft_meta")
  }

  /** The pruned posting read [[containmentPairsAgainstIndex]] is built
    * on, extracted so its plan shape is testable (the
    * [[prunedBandRead]] precedent): DedupSpec asserts the scan carries
    * a `shingle_bucket` PartitionFilter. */
  private[graft] def prunedShingleRead(spark: SparkSession, indexPath: String,
                                       buckets: Seq[Int]): DataFrame =
    spark.read.parquet(indexPath)
      .filter(col("shingle_bucket").isin(buckets: _*))

  /** [[containmentPairsAgainst]] served from a pre-stored rare-shingle
    * index ([[writeShingleIndex]]'s artifact) — identical pairs, but
    * the corpus side reads ONLY the posting buckets the batch's own
    * shingles hash into (static partition pruning on shingle_bucket;
    * the bucket list is a bounded driver collect, ≤ the index's
    * nBuckets) instead of re-shingling and re-counting the whole
    * corpus per batch. The exact containment verify re-shingles just
    * the CANDIDATE corpus docs (semi-join on the collision pairs), so
    * corpus-side work scales with the batch's collision footprint,
    * not the corpus. Candidate semantics are
    * [[containmentPairsAgainst]]'s exactly: ≥ minShared shared
    * rare-by-corpus-df shingles, then C = |A∩B| / min(|A|,|B|) ≥
    * threshold on the FULL shingle sets. */
  def containmentPairsAgainstIndex(newDf: DataFrame, indexPath: String,
                                   corpus: DataFrame, idCol: String,
                                   textCol: String, minShared: Int = 2,
                                   threshold: Double = 0.8): DataFrame = {
    require(minShared >= 1, s"minShared $minShared must be >= 1")
    require(threshold > 0 && threshold <= 1,
      s"threshold $threshold must be in (0, 1]")
    val spark = newDf.sparkSession
    val meta = spark.read.parquet(s"$indexPath/_graft_meta").collect()(0)
    val (shingleK, nBuckets) =
      (meta.getAs[Int]("shingle_k"), meta.getAs[Int]("n_buckets"))
    val newShingles = shinglePipeline(newDf, idCol, textCol, shingleK)
    // ≤ nBuckets values: the literal IN list makes the pruning STATIC
    // (visible in the scan's PartitionFilters), not a runtime join
    val buckets = newShingles
      .select(pmod(hash(col("s")), lit(nBuckets)).as("b")).distinct()
      .collect().map(_.getInt(0)).sorted.toSeq
    val posts = prunedShingleRead(spark, indexPath, buckets)
    val cand = newShingles.select(col("s"), col("doc_id").as("doc_new"))
      .join(posts.select(col("s"), col("doc_id").as("doc_old")), Seq("s"))
      .groupBy("doc_new", "doc_old")
      .agg(count(lit(1)).as("__shared"))
      .filter(col("__shared") >= minShared)
      .select("doc_new", "doc_old")
      .localCheckpoint(true) // eager + small: reused for verify AND the semi-join
    // Verify-side shingle sets for CANDIDATE docs only on BOTH sides
    // (round 21): shinglesFast returns the distinct set as a narrow
    // per-row projection, so neither side pays a batch- or corpus-wide
    // collect_set exchange.
    val newIds = cand.select(col("doc_new")).distinct()
    val newSets = newDf
      .join(newIds, newDf(idCol) === newIds("doc_new"), "left_semi")
      .select(col(idCol).as("doc_new"),
        TextAnalysis.shinglesFast(col(textCol), shingleK).as("sh_new"))
    val oldIds = cand.select(col("doc_old")).distinct()
    val oldSets = corpus
      .join(oldIds, corpus(idCol) === oldIds("doc_old"), "left_semi")
      .select(col(idCol).as("doc_old"),
        TextAnalysis.shinglesFast(col(textCol), shingleK).as("sh_old"))
    val out = cand
      .join(newSets, Seq("doc_new"))
      .join(oldSets, Seq("doc_old"))
      .withColumn("__inter",
        size(array_intersect(col("sh_new"), col("sh_old"))))
      .withColumn("__minsz", least(size(col("sh_new")), size(col("sh_old"))))
      .withColumn("containment",
        col("__inter").cast("double") / col("__minsz"))
      .filter(col("containment") >= threshold)
      .select(col("doc_new"), col("doc_old"),
        col("__minsz").cast("long").as("n_small"),
        round(col("containment"), 6).as("containment"))
      .localCheckpoint(true)
    newShingles.unpersist()
    out
  }

  /** Near-dup GROUPS from near-dup pairs: connected components by
    * iterated min-label propagation (hash-to-min). Each node adopts
    * the minimum label in its closed neighborhood until fixpoint —
    * what a dedup pipeline actually consumes (keep one doc per
    * component), the step after [[minhashNearDups]].
    *
    * Scale shape: every iteration is one edge join + aggregation on
    * the PAIRS table (edges, not corpus) plus one labels-sized
    * pointer-doubling join: after the one-hop min step, each node
    * adopts its label's label (label(x) ← label(label(x)) — well-
    * defined because every label is itself a node, and monotone
    * because labels only decrease). The shortcut squares the reach
    * per round, so iterations ~ log₂(component eccentricity) instead
    * of the eccentricity itself — a 1M-node chain converges in ~20
    * rounds, not 1M (DedupSpec pins a 300-deep chain inside 12).
    * The fixpoint is unchanged: a round with no label change means
    * label(x) is already the closed-neighborhood min AND its own
    * label's label, which is exactly the component min.
    * Exiting without convergence is an ERROR, not a silent partial
    * answer. The driver-side convergence loop checks a count per
    * round, like the cascade's gating (SURVEY.md §4).
    * Returns (doc_id, component_id = min doc id in the component). */
  def components(pairs: DataFrame, aCol: String = "doc_a",
                 bCol: String = "doc_b", maxIter: Int = 20,
                 driverSideThreshold: Long = 1000000L): DataFrame = {
    val spark = pairs.sparkSession
    import org.apache.spark.storage.StorageLevel
    val edgesRaw = pairs.select(col(aCol).as("u"), col(bCol).as("v"))
    // Size probe that never computes the pairs twice: limit(t+1) ran to
    // completion means the collected rows ARE the complete edge set.
    val probed = edgesRaw.limit(driverSideThreshold.toInt + 1).collect()
    if (probed.length <= driverSideThreshold) {
      // Adaptive small path: union-find with path compression on the
      // driver — exact, O(E α), no iteration jobs, no cached blocks.
      // (Same spirit as the cascade's driver-side gating: the data-
      // dependent small case shouldn't pay the distributed loop.)
      val es = probed.map(r => (r.getLong(0), r.getLong(1)))
      val parent = scala.collection.mutable.HashMap.empty[Long, Long]
      def find(x: Long): Long = {
        var r = x
        while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
        var c = x
        while (parent.getOrElse(c, c) != c) { val n = parent(c); parent(c) = r; c = n }
        r
      }
      es.foreach { case (u, v) =>
        parent.getOrElseUpdate(u, u)
        parent.getOrElseUpdate(v, v)
        val (ru, rv) = (find(u), find(v))
        if (ru != rv) { if (ru < rv) parent(rv) = ru else parent(ru) = rv }
      }
      val out = parent.keys.toSeq.sorted.map(n => (n, find(n)))
      import spark.implicits._
      return out.toDF("doc_id", "component_id")
    }
    // Distributed path: iterated min-label propagation. Each round is
    // one join + aggregation over the EDGES table (never the corpus).
    // Labels round-trip through an RDD per iteration: the Catalyst
    // plan stays one createDataFrame deep (a pure DataFrame loop
    // doubles the logical plan per round until explainString OOMs —
    // persist() caches data but does NOT truncate the plan), lineage
    // stays linear, and the previous round unpersists directly.
    import spark.implicits._
    val edgesDf = edgesRaw
      .unionByName(pairs.select(col(bCol).as("u"), col(aCol).as("v")))
      .distinct()
    val edges = edgesDf.as[(Long, Long)].rdd.persist(StorageLevel.MEMORY_AND_DISK)
    var labels = edgesDf.groupBy("u").agg(least(min("v"), first("u")).as("label"))
      .as[(Long, Long)].rdd.persist(StorageLevel.MEMORY_AND_DISK)
    labels.count()
    var iter = 0
    var converged = false
    while (iter < maxIter && !converged) {
      val labelsDf = labels.toDF("node", "label")
      // one-hop min step — materialized once (the doubling join below
      // reads it on BOTH sides; as a lazy subtree the edge join would
      // recompute twice)
      val oneHop = edges.toDF("u", "v")
        .join(labelsDf.select(col("node").as("v"), col("label").as("vlabel")), Seq("v"))
        .groupBy("u").agg(min("vlabel").as("nlabel"))
        .join(labelsDf.select(col("node").as("u"), col("label")), Seq("u"))
        .select(col("u").as("node"), least(col("label"), col("nlabel")).as("l1"))
        .as[(Long, Long)].rdd.persist(StorageLevel.MEMORY_AND_DISK)
      val oneHopDf = oneHop.toDF("node", "l1")
      // pointer doubling on THIS round's labels: l1(l1(x)). Inner join
      // is safe — every label is a node id and every node has a row —
      // and l1(y) <= y makes least() redundant-but-cheap insurance.
      val next = oneHopDf
        .join(oneHopDf.select(col("node").as("l1"), col("l1").as("l2")), Seq("l1"))
        .select(col("node"), least(col("l1"), col("l2")).as("newlabel"))
        .as[(Long, Long)].rdd.persist(StorageLevel.MEMORY_AND_DISK)
      val changed = next.toDF("node", "newlabel")
        .join(labels.toDF("node", "old"), Seq("node"))
        .filter(col("newlabel") =!= col("old")).count()
      oneHop.unpersist()
      labels.unpersist()
      labels = next
      converged = changed == 0
      iter += 1
    }
    if (!converged) {
      edges.unpersist(); labels.unpersist()
      throw new IllegalStateException(
        s"components() did not converge in $maxIter rounds: a component " +
        "needing more rounds would get WRONG labels. Raise maxIter " +
        "(rounds ~ log2 of component eccentricity with pointer doubling; " +
        "the default 20 covers chains beyond 2^19 hops).")
    }
    val out = labels.toDF("doc_id", "component_id").localCheckpoint(true)
    edges.unpersist()
    labels.unpersist()
    out
  }

  /** Apply-side of the purge manifest (the d10 detection put to
    * work): given the corpus ids and a (doc_id, component_id)
    * assignment from [[components]], emit the per-doc keep verdict —
    * keep-first (min doc_id) per duplicate component, docs outside
    * every component untouched (`component_id` null, keep true). The
    * downstream purge is then `filter(keep)`; emitting the verdict
    * rather than pre-filtering keeps the relation auditable (what was
    * dropped and WHY — its cluster — survives in the output).
    *
    * Scale shape: the keeper table is one min-aggregate over the
    * component assignment (≤ one row per duplicate cluster,
    * map-side combinable), and both joins are keyed on ids — text
    * never shuffles. Since `component_id` IS the min doc_id of the
    * component by [[components]]' contract, keep reduces to
    * `doc_id == component_id` — the keeper aggregate exists so the
    * operator stays correct under any other component labelling. */
  def applyPurgeManifest(docs: DataFrame, idCol: String,
                         comp: DataFrame): DataFrame = {
    val keepers = comp.groupBy("component_id")
      .agg(min("doc_id").as("__keep_doc"))
    docs.select(col(idCol).as("doc_id"))
      .join(comp, Seq("doc_id"), "left")
      .join(keepers, Seq("component_id"), "left")
      .select(col("doc_id"), col("component_id"),
        (col("component_id").isNull || col("doc_id") === col("__keep_doc"))
          .as("keep"))
  }

  /** [[applyPurgeManifest]] with the keeper rule production pipelines
    * actually want: within each duplicate component keep the doc with
    * the HIGHEST `scoreCol` (ties → lowest doc_id), not the lowest id.
    * Near-dup clusters routinely mix a clean original with
    * boilerplate-wrapped or truncated copies; keep-first keeps
    * whichever happened to be crawled first, while a quality keeper
    * keeps the best exemplar (the CCNet/RefinedWeb practice).
    *
    * `docs` must carry `scoreCol`; the verdict passes it through for
    * auditability. Scale shape: the keeper election is ONE row_number
    * window over the component assignment joined with (id, score)
    * pairs — both sides are id/scalar-width and the window partitions
    * by component (duplicate docs only, a small fraction of the
    * corpus); the corpus-wide verdict joins ship (id, component,
    * score, bool) tuples. Text never shuffles. */
  def applyPurgeManifestBy(docs: DataFrame, idCol: String,
                           comp: DataFrame, scoreCol: String): DataFrame = {
    // Shared-subtree checkpoint: the (id, score) pair feeds BOTH the
    // keeper election and the returned verdicts. scoreCol is typically
    // an expensive per-row featurization (d21: the regex-heavy quality
    // score) — without the checkpoint each consumer re-runs it over
    // the whole corpus (measured 2× the probe time at 100× sf0.1).
    // Only the two scalar columns materialize, never the text.
    val scored = docs.select(col(idCol).as("doc_id"), col(scoreCol))
      .localCheckpoint(false)
    val w = Window.partitionBy("component_id")
      .orderBy(col("__s").desc, col("doc_id"))
    val keepers = comp
      .join(scored.select(col("doc_id"), col(scoreCol).as("__s")),
        Seq("doc_id"))
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .select(col("component_id"), col("doc_id").as("__keep_doc"))
    scored
      .join(comp, Seq("doc_id"), "left")
      .join(keepers, Seq("component_id"), "left")
      .select(col("doc_id"), col("component_id"), col(scoreCol),
        (col("component_id").isNull || col("doc_id") === col("__keep_doc"))
          .as("keep"))
  }
}
