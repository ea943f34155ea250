package graft.sources

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.ZOrderLayout.ZRank

/** The Z-order layout with a LIFECYCLE — [[ZOrderLayout.writeZOrdered]]
  * is write-once (the first appended batch would land unordered and
  * dilute the per-file min/max envelopes the whole pruning win depends
  * on), so ZStore gives the layout the same versioned, incrementally
  * maintainable shape every other store in this tree has
  * ([[IndexStore]]'s versions, the band/shingle stores' pruned
  * buckets), re-expressed for a layout whose artifact is FILE ORDER
  * rather than a partition-keyed table. Reference analog: the
  * persisted store is upsert-by-id (`build_vectorstore.py:239`) — a
  * layout that only works write-once is half an operator.
  *
  * Design — a minimal manifest store (the public Delta/Iceberg idea,
  * cut down to single-writer batch maintenance):
  *
  *  - **Data pool.** Immutable parquet files under `root/data/<uuid>/`,
  *    each holding one contiguous CURVE-BUCKET range: the Morton key's
  *    top `bucketBits` bits partition the curve into 2^bucketBits
  *    contiguous segments, every write repartitions to one file per
  *    touched bucket and sorts by the full key inside. Because a
  *    file never spans buckets, its per-column min/max is bounded by
  *    its bucket's curve envelope BY CONSTRUCTION — absorbed batches
  *    cannot dilute old files' statistics (they are immutable) and
  *    the new files' statistics stay bucket-tight.
  *  - **Versions.** `root/v<N>/` holds only metadata: `_zmeta.json`
  *    (layout columns, bits, bucketBits, per-column [[ZRank]]
  *    envelopes — absorbed batches rank against the SAME envelopes
  *    the base layout used) and `_manifest.json` (the file list, each
  *    with its bucket). A version is committed by the `_SUCCESS`
  *    marker after an atomic staging rename — [[IndexStore]]'s
  *    publish contract; readers resolve the newest committed version
  *    and can never observe a half-published flip. Untouched files
  *    are SHARED across versions: an absorb's new version costs
  *    O(batch) data IO plus one tiny manifest write, never a table
  *    rewrite — at 100 TB that is the difference between appending
  *    and re-laying-out.
  *  - **Absorb** ([[absorb]]): key the batch with the stamped ranks,
  *    write one new file per touched bucket, publish
  *    old-manifest + new-files. Values outside the stamped envelopes
  *    CLAMP into the edge buckets (correct, disclosed: the report
  *    counts them — rising clamp mass is the re-layout signal).
  *  - **Maintain** ([[maintain]]): fold buckets fragmented past
  *    `maxFilesPerBucket` back to one sorted file each — cost ∝ dirty
  *    buckets, gated by an exact row-count reconciliation (a rewrite
  *    that loses or duplicates rows refuses to publish and removes
  *    its own debris). Fragmentation costs listing/open overhead and
  *    intra-bucket sort, NOT envelope width — so maintain is a
  *    scheduled compaction, not a correctness prop.
  *  - **Delete / Upsert by id** ([[delete]], [[upsert]]): copy-on-
  *    write rewrite of ONLY the pool FILES holding the affected
  *    ids — retention/compliance deletes and the reference's
  *    upsert-by-id semantic without a full relayout; one narrow
  *    locate scan (manifest-pruned when an id column is declared)
  *    plus a rewrite ∝ affected files.
  *  - **Re-layout** ([[relayout]]): re-derive ranks from current
  *    content and rewrite everything — the full-cost escape hatch for
  *    real envelope drift (the absorb report's clamp counter trending
  *    up). Publishes as just another version.
  *  - **Prune** ([[prune]]): drop old versions, then garbage-collect
  *    pool files no kept manifest references.
  *
  * [[IndexStore]]'s (index, centroids) pair versions use the same
  * manifest, publish and prune: a pair manifest names a base
  * directory, delta files and a centroid directory in the same pool.
  *
  * Single-writer contract as [[IndexStore]]: concurrent publishes race
  * loudly (the rename arbitration), never corrupt; readers only ever
  * see committed manifests over immutable files.
  */
object ZStore {

  /** The layout recipe stamped at init and carried by every absorb:
    * ranks are FROZEN so old and new files agree on the curve.
    * `schemaTypes` are the columns' catalog type strings, aligned with
    * `schemaCols` — the absorb gate compares NAME AND TYPE, because a
    * name-only check would let a drifted column type (x: double →
    * int) publish files whose physical parquet type diverges from the
    * pool's and poison every subsequent union read of the store.
    * `idCol`, when declared at [[init]], is the row-identity column
    * whose per-file [min, max] every write stamps into the manifest
    * ([[ZFile.idMin]]/[[ZFile.idMax]]) so [[delete]]/[[upsert]] can
    * prune their locate scan by manifest arithmetic — None keeps the
    * pre-stat behavior (full narrow locate scan). */
  final case class ZMeta(cols: Seq[String], bits: Int, bucketBits: Int,
                         ranks: Seq[ZRank], schemaCols: Seq[String],
                         schemaTypes: Seq[String],
                         idCol: Option[String] = None) {
    def shift: Int = bits * cols.length - bucketBits
    def nBuckets: Int = 1 << bucketBits
  }

  /** One manifest entry: a pool file (path relative to the root), the
    * curve bucket it covers, and its row count (stamped at write time
    * from the same footer-count read the reconciliation gate already
    * pays — so per-BUCKET occupancy is readable from the manifest
    * alone, no data scan; -1 on manifests written before the stamp
    * existed, and every consumer of occupancy must treat -1 as
    * "unknown", never as zero rows). `idMin`/`idMax` are the file's
    * inclusive [[ZMeta.idCol]] extremes, stamped by the same job and
    * string-encoded per the id column's type (integral types as
    * decimal digits compared numerically, strings compared in UTF-8
    * byte order — Spark's own string ordering); None on files written
    * before the stat existed, on stores with no declared id column,
    * and on all-null-id files — every consumer must treat None as
    * "could hold any id", never as empty. */
  final case class ZFile(path: String, bucket: Int, rows: Long = -1L,
                         idMin: Option[String] = None,
                         idMax: Option[String] = None)

  /** A parsed version manifest: the file list, the cumulative absorb
    * statistics, and the last streaming batch id absorbed
    * ([[absorb]]'s replay guard; -1 = no batch-tracked absorb yet or a
    * pre-guard manifest). */
  final case class ZManifest(files: Seq[ZFile], stats: ZStats,
                             lastBatchId: Long)

  /** Cumulative absorb statistics SINCE the current envelopes were
    * derived (init or relayout reset them), persisted in every
    * version's manifest: the scaladoc's "rising clamp counter is the
    * re-layout signal" as durable state a scheduler can read, instead
    * of a per-call report it would have to track externally. */
  final case class ZStats(absorbedRows: Long, oobRows: Long) {
    def clampFraction: Double =
      if (absorbedRows == 0) 0.0 else oobRows.toDouble / absorbedRows
  }

  /** The maintenance decision [[advice]] derives from persisted state
    * alone — no data scan: `action` is "relayout" (clamp fraction over
    * the floor: the stamped envelopes no longer cover the stream and
    * edge buckets are absorbing the overflow), "maintain" (buckets
    * fragmented past the cap), or "healthy".
    *
    * `equalDepth` is the RANK-FAMILY recommendation for whatever
    * relayout eventually runs (inline or offline): true when at least
    * one dimension is width-ranked AND the manifest's per-bucket
    * occupancy (`occupancySkew` = fullest bucket ÷ mean occupied
    * bucket) is piled past the skew factor — under equal-width ranks
    * the curve buckets inherit the data's joint distribution, so a
    * heavy-tailed clustered column shows up as exactly this pile-up,
    * the regime the 60M skew probe measured at 7.6× recordsRead for
    * the equal-depth rank (PLANS.md round 18). A hint, not a command:
    * genuinely correlated dimensions can also skew occupancy, and the
    * ~10× layout-job price stands either way — the operator opts in
    * via [[relayout]]'s `equalDepth`. None/false on pre-row-stamp
    * manifests (occupancy unknown) and on stores with no width-ranked
    * dimension (Depth is already equal-depth; Dict is equal-depth by
    * value). */
  final case class ZAdvice(action: String, fragmentedBuckets: Long,
                           maxFilesInBucket: Long, stats: ZStats,
                           reason: String, equalDepth: Boolean = false,
                           occupancySkew: Option[Double] = None)

  final case class ZAbsorbReport(version: Long, rowsAbsorbed: Long,
                                 filesAdded: Long, bucketsTouched: Long,
                                 outOfEnvelopeRows: Long, reason: String)

  final case class ZMaintainReport(version: Option[Long],
                                   dirtyBuckets: Long, filesBefore: Long,
                                   filesAfter: Long, rowsRewritten: Long,
                                   reason: String,
                                   bucketsDeferred: Long = 0L)

  /** One row-level delete decision. `version` is None when no
    * tombstoned id was present (nothing published); `bucketsRewritten`
    * counts the distinct buckets of the affected FILES (the rewrite
    * itself is file-granular). */
  final case class ZDeleteReport(version: Option[Long], rowsDeleted: Long,
                                 bucketsRewritten: Long,
                                 filesRewritten: Long, reason: String)

  /** One upsert-by-id decision: `oldCopiesRemoved` counts the prior
    * rows of the batch's ids purged wherever they lived;
    * `outOfEnvelopeRows` is [[absorb]]'s clamp counter for the new
    * rows. */
  final case class ZUpsertReport(version: Long, rowsUpserted: Long,
                                 oldCopiesRemoved: Long,
                                 bucketsRewritten: Long,
                                 outOfEnvelopeRows: Long, reason: String)

  // ---------------------------------------------------------------
  // Init / read
  // ---------------------------------------------------------------

  /** Lay `df` out Z-ordered on `cols` as version 1 of a new store at
    * `root`: derive the ranks ([[ZOrderLayout.columnRanks]] — loud
    * type validation, optional equal-depth), write sorted
    * bucket-local files into the pool (`writeFanOut` contiguous
    * sub-range files per bucket — the write-parallelism dial for big
    * tables; see the pool writer's scaladoc), publish
    * (meta, manifest).
    *
    * `idCol` declares the row-identity column [[delete]]/[[upsert]]
    * will key on: every write then stamps the file's id [min, max]
    * into the manifest — read straight from the parquet FOOTER
    * statistics of the just-written files, the same metadata read
    * that already supplies the reconciliation gate's row counts, so
    * the stamp decodes zero data pages — and the locate scan prunes
    * to the files whose stamped range admits some batch id. For
    * monotone-ish ids (event streams, chunk ids) that skips most of
    * the table; for scattered ids it degrades to the full narrow
    * scan, never worse. Integral and string id types only (a
    * fractional id is not an identity; refused loudly). */
  def init(df: DataFrame, cols: Seq[String], root: String,
           bits: Int = 8, bucketBits: Int = 5,
           equalDepth: Boolean = false, writeFanOut: Int = 1,
           idCol: Option[String] = None): Long = {
    val n = cols.length
    require(bits * n <= 62,
      s"bits $bits x $n cols must fit a long (<= 62 bits)")
    require(bucketBits >= 1 && bucketBits <= math.min(12, bits * n),
      s"bucketBits $bucketBits must be in [1, min(12, bits x n_cols)] — " +
        "2^bucketBits contiguous curve segments, driver-listed")
    require(!df.isEmpty, "ZStore.init on an empty table — nothing to lay out")
    Seq("__zkey", "__zb").foreach(r => require(!df.columns.contains(r),
      s"ZStore.init: input carries the reserved layout column `$r` — " +
        "rename it; the store derives its own"))
    idCol.foreach { c =>
      val f = df.schema.fields.find(_.name == c).getOrElse(
        throw new IllegalArgumentException(
          s"id column `$c` not in ${df.columns.mkString(", ")}"))
      require(StampableIdTypes.contains(f.dataType.catalogString),
        s"id column `$c` has type ${f.dataType.catalogString} — per-file " +
          "id statistics support integral and string identities only " +
          s"(${StampableIdTypes.mkString(", ")}); init without idCol to " +
          "keep the unpruned locate scan")
    }
    val ranks = ZOrderLayout.columnRanks(df, cols, bits, equalDepth)
    val meta = ZMeta(cols, bits, bucketBits, ranks, df.columns.toSeq,
      df.schema.fields.map(_.dataType.catalogString).toSeq, idCol)
    val spark = df.sparkSession
    val files = writeDataFiles(df, meta, root, writeFanOut)
    publish(spark, root, meta, files, ZStats(0L, 0L), lastBatchId = -1L)
  }

  /** The newest committed version's rows — the original schema, no
    * layout columns (files are read as leaf paths, so even the bucket
    * directory names stay invisible). Fails loudly when no committed
    * version exists. */
  def read(spark: SparkSession, root: String): DataFrame = {
    val (_, manifest, _) = loadCurrent(spark, root)
    require(manifest.nonEmpty, s"committed manifest under $root is empty")
    spark.read.parquet(manifest.map(f => s"$root/${f.path}"): _*)
  }

  /** [[read]] with MANIFEST-LEVEL file skipping for conjunctive range
    * predicates on layout columns — the reason the store keeps bucket
    * ids in its manifest: a plain read hands EVERY pool file to the
    * scanner, and even though parquet footer statistics then prune
    * row groups, the scanner still lists and opens every footer —
    * per-file IO that at millions of files dominates a selective
    * query. Here the pruning happens DRIVER-SIDE from metadata alone
    * (the Delta/Iceberg data-skipping idea, over the curve): each
    * query bound ranks through the STAMPED envelopes
    * ([[ZOrderLayout.ZRank.rankInterval]] — conservative by
    * construction), each curve bucket's id fixes the HIGH bits of
    * every dimension's rank (the interleave in reverse), and a bucket
    * survives iff every queried dimension's rank interval overlaps
    * the bucket's — O(2^bucketBits × dims) integer arithmetic, no IO.
    * Only surviving buckets' files reach the scanner; the actual
    * predicate is applied on top, so the result is EXACTLY
    * `read(...).filter(lo <= c && c <= hi && ...)` regardless of how
    * wide the conservative pruning was (oracle-checked: j7).
    *
    * `ranges` maps layout columns to inclusive [lo, hi] bounds —
    * numeric dims take numeric bounds, string dims take strings
    * (equality = lo == hi), and TEMPORAL dims take typed temporal
    * bounds (`java.sql.Date`/`Timestamp`, `java.time.LocalDate`/
    * `Instant`/`LocalDateTime`): the bound ranks through the same
    * epoch-seconds cast the layout ranked the data with (mirrored
    * driver-side in the session time zone), while the residual
    * predicate compares the ORIGINAL typed literal against the raw
    * column — so the parquet reader still pushes it down (an
    * epoch-double comparison on a timestamp column would defeat
    * PushedFilters, and before round 20 it did not even analyze).
    * Clamped data is never lost: numeric/temporal out-of-envelope
    * rows clamp MONOTONICALLY, so out-of-envelope query bounds clamp
    * to the same edge ranks; out-of-DICTIONARY strings clamp to rank
    * 0 non-monotonically, so when the store has absorbed any
    * (`stats.oobRows > 0`) the rank-0 buckets are kept for string
    * dims unconditionally. */
  def readRange(spark: SparkSession, root: String,
                ranges: Map[String, (Any, Any)]): DataFrame = {
    require(ranges.nonEmpty, "readRange needs at least one column range")
    val (meta, manifest, v) = loadCurrent(spark, root)
    ranges.keys.foreach(c => require(meta.cols.contains(c),
      s"`$c` is not a layout column (${meta.cols.mkString(", ")}) — " +
        "readRange prunes by the curve; filter a plain read() for " +
        "non-layout columns"))
    require(manifest.nonEmpty, s"committed manifest under $root is empty")
    val kept = rangeKeptBuckets(meta,
      statsOf(spark, root, v).oobRows > 0,
      rankBoundsOf(spark, meta, ranges)).toSet
    val predicate = ranges.map { case (c, (lo, hi)) =>
      col(c) >= lit(lo) && col(c) <= lit(hi)
    }.reduce(_ && _)
    val files = manifest.filter(f => kept(f.bucket))
    if (files.isEmpty)
      // provably no matching bucket: an empty frame with the store's
      // schema (one footer read, zero data files scanned)
      spark.read.parquet(s"$root/${manifest.head.path}")
        .filter(lit(false))
    else
      spark.read.parquet(files.map(f => s"$root/${f.path}"): _*)
        .filter(predicate)
  }

  /** [[readRange]]'s driver-side bucket test, exposed for specs and
    * probes: the curve buckets whose per-dimension rank-prefix
    * intervals all overlap the query's rank intervals. */
  private[graft] def rangeKeptBuckets(meta: ZMeta, oobSeen: Boolean,
      ranges: Map[String, (Any, Any)]): Seq[Int] = {
    val n = meta.cols.length
    val queried = ranges.map { case (c, (lo, hi)) =>
      val i = meta.cols.indexOf(c)
      val slice = meta.ranks(i).rankInterval(lo, hi, meta.bits)
      val includeZero = oobSeen &&
        meta.ranks(i).isInstanceOf[ZRank.Dict]
      (i, slice, includeZero)
    }.toSeq
    (0 until meta.nBuckets).filter { b =>
      queried.forall { case (i, slice, includeZero) =>
        // the bucket id fixes rank_i's bits j for all j with
        // j*n + i >= shift; the unknown low j0 bits make an interval
        val j0 = if (meta.shift <= i) 0 else (meta.shift - i + n - 1) / n
        var high = 0L
        var j = j0
        while (j < meta.bits) {
          val keyPos = j * n + i
          high |= ((b.toLong >> (keyPos - meta.shift)) & 1L) << (j - j0)
          j += 1
        }
        val bLo = high << j0
        val bHi = bLo | ((1L << j0) - 1L)
        slice.exists { case (qLo, qHi) => qLo <= bHi && bLo <= qHi } ||
          (includeZero && bLo == 0L)
      }
    }
  }

  /** [[readRange]] bounds normalized for the rank mirrors: temporal
    * layout dimensions' typed bounds convert to the epoch-seconds
    * doubles their [[ZRank]] envelopes were derived over (the exact
    * driver-side mirror of [[ZOrderLayout.rankInput]]'s
    * `cast(timestamp).cast(double)`, session-time-zone for the
    * date-to-instant step); numeric and string bounds pass through.
    * A NUMBER offered for a temporal dimension is refused loudly —
    * the residual predicate must be built from the typed literal so
    * the parquet reader can push it down, so there is no honest way
    * to accept a bare epoch double here. */
  private[graft] def rankBoundsOf(spark: SparkSession, meta: ZMeta,
      ranges: Map[String, (Any, Any)]): Map[String, (Any, Any)] = {
    val typeOf = meta.schemaCols.zip(meta.schemaTypes).toMap
    val zone = java.time.ZoneId.of(
      spark.conf.get("spark.sql.session.timeZone"))
    ranges.map { case (c, (lo, hi)) =>
      typeOf.getOrElse(c, "") match {
        case "date" | "timestamp" | "timestamp_ntz" =>
          c -> (epochSeconds(c, lo, zone), epochSeconds(c, hi, zone))
        case _ => c -> (lo, hi)
      }
    }
  }

  /** The session-zone epoch-seconds double of a typed temporal bound —
    * mirrors Spark's `cast(c as timestamp).cast(double)` the envelopes
    * rank through. Sub-second precision carries (the Width mirror's ±1
    * rank pad absorbs any residual FP disagreement). */
  private def epochSeconds(c: String, v: Any,
                           zone: java.time.ZoneId): Double = v match {
    case t: java.sql.Timestamp =>
      t.getTime / 1000.0 + t.getNanos % 1000000 / 1e9
    case i: java.time.Instant => i.getEpochSecond + i.getNano / 1e9
    case d: java.sql.Date =>
      d.toLocalDate.atStartOfDay(zone).toEpochSecond.toDouble
    case ld: java.time.LocalDate =>
      ld.atStartOfDay(zone).toEpochSecond.toDouble
    case ldt: java.time.LocalDateTime =>
      val zdt = ldt.atZone(zone)
      zdt.toEpochSecond + zdt.getNano / 1e9
    case other => throw new IllegalArgumentException(
      s"temporal layout dimension `$c` needs a typed temporal bound " +
        "(java.sql.Date/Timestamp, java.time.LocalDate/Instant/" +
        s"LocalDateTime), got $other (${other.getClass.getName}) — " +
        "a bare epoch number cannot build a pushdown-able residual " +
        "predicate on the raw column")
  }

  /** The newest committed (meta, manifest, version). */
  def loadCurrent(spark: SparkSession, root: String)
      : (ZMeta, Seq[ZFile], Long) = {
    val vs = IndexStore.committedVersions(spark, root)
    require(vs.nonEmpty, s"no committed z-store version under $root")
    val v = vs.last
    (readMeta(spark, root, v), readManifest(spark, root, v), v)
  }

  /** Read a SPECIFIC committed version — time travel over the shared
    * pool: manifests are snapshots and pool files immutable, so any
    * version inside the [[prune]] retention window reads exactly what
    * it committed (untouched files are shared, never rewritten).
    * Fails loudly on an uncommitted or pruned version. */
  def readVersion(spark: SparkSession, root: String, v: Long): DataFrame = {
    val vs = IndexStore.committedVersions(spark, root)
    require(vs.contains(v),
      s"version v$v is not committed under $root (committed: " +
        s"${vs.mkString(", ")}) — pruned versions and in-flight " +
        "stagings are unreadable by design")
    val manifest = readManifest(spark, root, v)
    require(manifest.nonEmpty, s"manifest of v$v under $root is empty")
    spark.read.parquet(manifest.map(f => s"$root/${f.path}"): _*)
  }

  // ---------------------------------------------------------------
  // Absorb
  // ---------------------------------------------------------------

  /** Absorb `batch` into the layout: rank against the STAMPED
    * envelopes, write one new sorted file per touched bucket, publish
    * a new version whose manifest is old-files + new-files. O(batch)
    * data IO; untouched files are shared, their statistics untouched.
    * The report counts rows that clamped outside the stamped
    * envelopes — pruning for those rows degrades toward the edge
    * buckets' width, and a rising counter is the [[relayout]]
    * signal. Row-count gated like [[maintain]].
    *
    * `batchId` is the streaming replay guard: foreachBatch is
    * at-least-once, so a crash between this publish and the stream's
    * checkpoint commit replays the batch — absorbing it again would
    * silently duplicate rows. When `batchId` is passed and is <= the
    * manifest's persisted `lastBatchId`, the absorb no-ops (store
    * unchanged, zero-row report); a published absorb advances the
    * persisted id, making batch-tracked absorbs effectively-once.
    * Batch-untracked callers (None) keep plain at-least-once append
    * semantics and leave the persisted id untouched.
    *
    * ONE STREAM LINEAGE PER STORE: batch ids are Spark checkpoint
    * sequence numbers, so the guard is only meaningful while one
    * stream (one checkpoint directory) feeds the store. Re-pointing a
    * store at a FRESH checkpoint restarts ids at 0 and the guard
    * would silently skip every absorb until the new sequence passes
    * the persisted id — when deliberately restarting a stream's
    * lineage, either replay from a new (empty) store, or hand the
    * sink batch-untracked absorbs for the transition. (The standard
    * foreachBatch-idempotence caveat, stated rather than assumed.) */
  def absorb(spark: SparkSession, root: String, batch: DataFrame,
             batchId: Option[Long] = None): ZAbsorbReport = {
    val (meta, manifest, v) = loadCurrent(spark, root)
    requireSchemaMatch(meta, batch, "absorb")
    val man = manifestOf(spark, root, v)
    if (batchId.exists(_ <= man.lastBatchId))
      return ZAbsorbReport(v, 0L, 0L, 0L, 0L,
        s"batch ${batchId.get} already absorbed (persisted lastBatchId " +
          s"${man.lastBatchId}) — replay skipped, store unchanged")
    if (batch.isEmpty)
      return ZAbsorbReport(v, 0L, 0L, 0L, 0L,
        "empty batch — store unchanged")
    // one bounded aggregate: rows with ANY dimension outside its
    // stamped envelope (they clamp into edge buckets; see scaladoc)
    val types = ZOrderLayout.validateZColumns(batch, meta.cols)
    val oobFlag = meta.cols.lazyZip(types).lazyZip(meta.ranks).map {
      case (c, dt, r) => r.outOfEnvelope(ZOrderLayout.rankInput(dt, c))
    }.reduce(_ || _)
    val Row2 = batch.agg(count(lit(1)), sum(when(oobFlag, 1L).otherwise(0L)))
      .head()
    val (nBatch, nOob) = (Row2.getLong(0),
      if (Row2.isNullAt(1)) 0L else Row2.getLong(1))
    val files = writeDataFiles(batch, meta, root)
    // reconciliation gate: the just-written files must hold exactly
    // the batch (the per-file counts stamped by writeDataFiles come
    // from a footer-count read of the written files — no payload scan)
    val written = files.map(_.rows).sum
    if (written != nBatch) {
      deleteFiles(spark, root, files)
      throw new IllegalStateException(
        s"absorb wrote $written rows for a $nBatch-row batch — refusing " +
          "to publish; new files removed, store unchanged")
    }
    val nv = publish(spark, root, meta, man.files ++ files,
      ZStats(man.stats.absorbedRows + nBatch, man.stats.oobRows + nOob),
      batchId.getOrElse(man.lastBatchId))
    ZAbsorbReport(nv, nBatch, files.length.toLong,
      files.map(_.bucket).distinct.length.toLong, nOob,
      s"absorbed $nBatch rows into ${files.length} bucket file(s) as " +
        s"v$nv ($nOob row(s) clamped outside the stamped envelopes)")
  }

  /** The last streaming batch id a published absorb recorded (-1 when
    * none) — the durable side of [[absorb]]'s replay guard, readable
    * by schedulers and specs. */
  def lastAbsorbedBatchId(spark: SparkSession, root: String): Long = {
    val vs = IndexStore.committedVersions(spark, root)
    require(vs.nonEmpty, s"no committed z-store version under $root")
    manifestOf(spark, root, vs.last).lastBatchId
  }

  // ---------------------------------------------------------------
  // Maintain / re-layout / prune
  // ---------------------------------------------------------------

  /** Fold buckets fragmented past `maxFilesPerBucket` back to
    * `writeFanOut` contiguous sorted file(s) each (1 by default; a
    * power of two — the write-parallelism dial for folds over huge
    * buckets, required <= maxFilesPerBucket so a fold cannot re-trip
    * itself). Cost ∝ dirty buckets; a no-op publishes
    * nothing. Gated: the rewritten files must hold exactly the rows
    * the dirty files held — on mismatch the new files are removed and
    * the store stays on the previous version (the same
    * refuse-to-publish shape as every recall-gated maintenance op).
    *
    * `maxBucketsPerFold` bounds ONE call's rewrite to the k DIRTIEST
    * buckets (most files first; ties by bucket id for determinism) —
    * the amortization dial for streams whose batches span the whole
    * value range: a uniform stream fragments every bucket in lockstep,
    * so an unbounded fold is periodically a full-store rewrite (the
    * 30M probe measured 14–15 s stalls every ~8 batches), while a
    * bounded fold spreads the same work across calls and each call's
    * cost stays ∝ k buckets. Deferred buckets stay fragmented (a
    * listing/open tax, never an envelope-width problem) and are the
    * first picks of the next call; the report discloses them. */
  def maintain(spark: SparkSession, root: String,
               maxFilesPerBucket: Int = 1,
               maxBucketsPerFold: Int = Int.MaxValue,
               writeFanOut: Int = 1): ZMaintainReport = {
    require(maxFilesPerBucket >= 1,
      s"maxFilesPerBucket $maxFilesPerBucket must be >= 1")
    require(maxBucketsPerFold >= 1,
      s"maxBucketsPerFold $maxBucketsPerFold must be >= 1")
    require(writeFanOut <= maxFilesPerBucket,
      s"writeFanOut $writeFanOut above maxFilesPerBucket " +
        s"$maxFilesPerBucket would re-trip the fold it just ran")
    val (meta, manifest, v) = loadCurrent(spark, root)
    val byBucket = manifest.groupBy(_.bucket)
    val allDirty = byBucket.filter(_._2.length > maxFilesPerBucket)
    if (allDirty.isEmpty)
      return ZMaintainReport(None, 0L, manifest.length.toLong,
        manifest.length.toLong, 0L,
        s"no bucket above $maxFilesPerBucket file(s) — store unchanged")
    val dirty = allDirty.toSeq
      .sortBy { case (b, fs) => (-fs.length, b) }
      .take(maxBucketsPerFold).toMap
    val deferred = (allDirty.size - dirty.size).toLong
    val dirtyFiles = dirty.values.flatten.toSeq
    val rows = spark.read.parquet(dirtyFiles.map(f => s"$root/${f.path}"): _*)
    val before = rows.count()
    val rewritten = writeDataFiles(rows, meta, root, writeFanOut)
    val after = rewritten.map(_.rows).sum
    if (after != before) {
      deleteFiles(spark, root, rewritten)
      throw new IllegalStateException(
        s"maintain rewrote $before rows as $after — refusing to publish; " +
          "rewritten files removed, store unchanged")
    }
    val man = manifestOf(spark, root, v)
    val untouched = man.files.filterNot(f => dirty.contains(f.bucket))
    // compaction neither absorbs nor re-ranks: stats + batch id carry
    val nv = publish(spark, root, meta, untouched ++ rewritten,
      man.stats, man.lastBatchId)
    ZMaintainReport(Some(nv), dirty.size.toLong, manifest.length.toLong,
      (untouched.length + rewritten.length).toLong, before,
      s"compacted ${dirty.size} bucket(s) (${dirtyFiles.length} file(s) " +
        s"-> ${rewritten.length}), $before rows verified, committed v$nv" +
        (if (deferred > 0) s"; $deferred dirty bucket(s) deferred to the " +
          "next call (maxBucketsPerFold)" else ""),
      bucketsDeferred = deferred)
  }

  /** Full re-layout from current content with FRESH ranks — the
    * escape hatch for envelope drift (absorb's clamp counter trending
    * up means the stamped [min, max]/dictionary no longer covers the
    * data and edge buckets are absorbing the overflow). Cost ∝ table;
    * publishes as a new version, so readers flip atomically and
    * [[prune]] reclaims the old pool files. */
  def relayout(spark: SparkSession, root: String,
               equalDepth: Boolean = false, writeFanOut: Int = 1): Long = {
    val (meta, manifest, v) = loadCurrent(spark, root)
    val current = spark.read.parquet(manifest.map(f => s"$root/${f.path}"): _*)
    val ranks = ZOrderLayout.columnRanks(current, meta.cols, meta.bits,
      equalDepth)
    val fresh = meta.copy(ranks = ranks)
    val files = writeDataFiles(current, fresh, root, writeFanOut)
    // fresh envelopes: the clamp counters describe drift SINCE the
    // current envelopes were derived, so they reset here (and at
    // init) — but the replay guard's batch id CARRIES (stream
    // progress is orthogonal to envelopes; resetting it would
    // re-admit a replayed batch right after the relayout)
    publish(spark, root, fresh, files, ZStats(0L, 0L),
      manifestOf(spark, root, v).lastBatchId)
  }

  /** Row-level delete by id — the retention/compliance path a 100 TB
    * append-only table cannot live without: copy-on-write rewrite of
    * ONLY the pool files that hold a tombstoned row (file granularity
    * since round 20 — bucket granularity turned a consecutive-id
    * delete into a full-table rewrite, because such an id set hashes
    * across every curve bucket while touching one FILE per bucket),
    * published as a new version over the shared pool (untouched files
    * are never read or rewritten). The reference store's semantic is
    * upsert/delete by explicit id (`build_vectorstore.py:239`); this
    * closes the same gap for the layout store.
    *
    * Cost: one NARROW (`idCol`, `_metadata.file_path`) scan to locate
    * the affected files — parquet column pruning keeps it
    * payload-free — plus a rewrite ∝ affected files. When the store
    * declared `idCol` at [[init]], the locate scan is first pruned by
    * the manifest's stamped per-file id [min, max]
    * ([[locateCandidateFiles]]): for monotone-ish ids it opens only
    * the files that could hold a tombstoned id (the round-19 probe's
    * dominant term for small deletes, removed by manifest arithmetic);
    * for scattered ids, or stores initialized without `idCol`, it
    * degrades to the full narrow scan — the disclosed price of not
    * maintaining an id→bucket sidecar. `tombstones` must be broadcast-small (a delete batch,
    * not half the table; half the table is a [[relayout]] of the
    * filtered read). Row-count gated: the rewritten files must hold
    * exactly the survivors. The clamp statistics carry verbatim —
    * deletion neither absorbs nor re-ranks, and envelope drift that
    * already happened is not undone by removing rows.
    *
    * COMPLIANCE NOTE — delete is LOGICAL until prune: versions are
    * immutable snapshots over a shared pool, so the pre-delete
    * versions (and the pool files only they reference) still hold the
    * deleted rows until [[prune]] GCs them. A
    * right-to-be-forgotten delete is `delete` + `prune` — the same
    * two-step every snapshot store has (Delta VACUUM), stated rather
    * than discovered at audit time; spec-pinned both ways
    * (readVersion shows the rows before prune, the pool is physically
    * clean after). */
  def delete(spark: SparkSession, root: String, tombstones: DataFrame,
             idCol: String): ZDeleteReport = {
    val (meta, manifest, v) = loadCurrent(spark, root)
    require(meta.schemaCols.contains(idCol),
      s"delete id column `$idCol` is not in the store's schema " +
        s"(${meta.schemaCols.mkString(", ")})")
    val ids = tombstones.select(col(idCol)).distinct()
    // a null id can never match the anti join below (nor should it:
    // null is not an identity) — silently appending while old null-id
    // rows survive would violate the by-id contract, so refuse loudly
    require(ids.filter(col(idCol).isNull).isEmpty,
      s"delete tombstones carry a null `$idCol` — null is not a row " +
        "identity (the by-id purge joins on it); drop null ids first")
    val affFiles = affectedFiles(spark, root, meta, manifest, ids, idCol)
    if (affFiles.isEmpty)
      return ZDeleteReport(None, 0L, 0L, 0L,
        "no tombstoned id present in the store — store unchanged")
    val affBuckets = affFiles.map(_.bucket).distinct
    val affRead = spark.read.parquet(affFiles.map(f => s"$root/${f.path}"): _*)
    val before = affRead.count()
    val survivors = affRead.join(broadcast(ids), Seq(idCol), "left_anti")
    val nSurv = survivors.count()
    if (nSurv == 0L && affFiles.length == manifest.length)
      throw new IllegalStateException(
        s"delete would empty the whole store at $root — refusing to " +
          "publish an unreadable layout; drop the store explicitly instead")
    val rewritten =
      if (nSurv == 0L) Seq.empty[ZFile]
      else writeDataFiles(survivors, meta, root)
    val written = rewritten.map(_.rows).sum
    if (written != nSurv) {
      deleteFiles(spark, root, rewritten)
      throw new IllegalStateException(
        s"delete rewrote $nSurv surviving rows as $written — refusing to " +
          "publish; rewritten files removed, store unchanged")
    }
    val man = manifestOf(spark, root, v)
    val affSet = affFiles.map(_.path).toSet
    val untouched = man.files.filterNot(f => affSet(f.path))
    val nv = publish(spark, root, meta, untouched ++ rewritten,
      man.stats, man.lastBatchId)
    ZDeleteReport(Some(nv), before - nSurv, affBuckets.length.toLong,
      rewritten.length.toLong,
      s"deleted ${before - nSurv} row(s) from ${affFiles.length} file(s) " +
        s"across ${affBuckets.length} bucket(s) " +
        s"(-> ${rewritten.length} rewritten), committed v$nv")
  }

  /** Upsert by id — new rows win per `idCol` (the reference's Chroma
    * `ids=` semantic, `build_vectorstore.py:239`): every OLD copy of a
    * batch id is purged via the same file-granular copy-on-write
    * rewrite as [[delete]], and the batch lands ranked against the
    * STAMPED envelopes like [[absorb]] — one published version, so
    * readers flip from old copies to new atomically. Survivors of the
    * affected files and the new rows are written in ONE pass (a
    * batch that lands in the buckets it vacates does not double the
    * file count). Duplicate ids WITHIN the batch are collapsed
    * (arbitrary winner — [[IndexStore.upsert]]'s contract); a batch
    * of entirely new ids degenerates to an absorb plus the narrow
    * locate scan. Idempotent: re-applying the same batch replaces its
    * own rows (content-identical either way — only the clamp
    * statistics would double-count). Clamp statistics advance by the
    * batch's out-of-envelope mass, exactly as absorb.
    *
    * `batchId` is [[absorb]]'s replay guard, shared field and shared
    * caveat (one stream lineage per store): content-wise a replayed
    * upsert is already idempotent, but the guard keeps the persisted
    * statistics exact and skips the replay's full locate-scan +
    * rewrite cost — on a 100 TB store a free no-op beats a correct
    * re-rewrite. */
  def upsert(spark: SparkSession, root: String, batch: DataFrame,
             idCol: String, batchId: Option[Long] = None): ZUpsertReport = {
    val (meta, manifest, v) = loadCurrent(spark, root)
    require(meta.schemaCols.contains(idCol),
      s"upsert id column `$idCol` is not in the store's schema " +
        s"(${meta.schemaCols.mkString(", ")})")
    requireSchemaMatch(meta, batch, "upsert")
    val man = manifestOf(spark, root, v)
    if (batchId.exists(_ <= man.lastBatchId))
      return ZUpsertReport(v, 0L, 0L, 0L, 0L,
        s"batch ${batchId.get} already applied (persisted lastBatchId " +
          s"${man.lastBatchId}) — replay skipped, store unchanged")
    // The one blocking checkpoint in the store's write paths: the
    // deduped batch materializes eagerly to executor storage because
    // FOUR consumers read it (locate, count, oob, write) and
    // recomputing a nondeterministic-upstream batch four times could
    // even disagree with itself. SIZE CONTRACT, same as delete's
    // tombstones: a batch is micro-batch-sized (broadcast-small ids,
    // executor-memory-small rows) — half the table is not an upsert,
    // it is a [[relayout]] of the merged read.
    val deduped = batch.dropDuplicates(idCol)
      .localCheckpoint(true)
    val nBatch = deduped.count()
    require(nBatch > 0, "upsert on an empty batch — nothing to apply")
    // the same null-identity refusal as delete: a null-id batch row
    // would APPEND (the anti join purges nothing for it) while any
    // existing null-id rows survive — new-rows-win silently broken
    require(deduped.filter(col(idCol).isNull).isEmpty,
      s"upsert batch carries a null `$idCol` — null is not a row " +
        "identity (old copies are purged by joining on it); drop or " +
        "key null rows first")
    val ids = deduped.select(col(idCol))
    val affFiles = affectedFiles(spark, root, meta, manifest, ids, idCol)
    val affBuckets = affFiles.map(_.bucket).distinct
    val (survivors, before) =
      if (affFiles.isEmpty) (None, 0L)
      else {
        val affRead = spark.read
          .parquet(affFiles.map(f => s"$root/${f.path}"): _*)
        (Some(affRead.join(broadcast(ids), Seq(idCol), "left_anti")),
          affRead.count())
      }
    val types = ZOrderLayout.validateZColumns(deduped, meta.cols)
    val oobFlag = meta.cols.lazyZip(types).lazyZip(meta.ranks).map {
      case (c, dt, r) => r.outOfEnvelope(ZOrderLayout.rankInput(dt, c))
    }.reduce(_ || _)
    val nOob = deduped.agg(coalesce(sum(when(oobFlag, 1L).otherwise(0L)),
      lit(0L))).head().getLong(0)
    // survivors + new rows in one write: aligned column order so the
    // union is positional-safe either way
    val ordered = deduped.select(meta.schemaCols.map(col): _*)
    val nSurv = survivors.map(_.count()).getOrElse(0L)
    val toWrite = survivors
      .map(s => s.select(meta.schemaCols.map(col): _*).unionByName(ordered))
      .getOrElse(ordered)
    val rewritten = writeDataFiles(toWrite, meta, root)
    val written = rewritten.map(_.rows).sum
    if (written != nSurv + nBatch) {
      deleteFiles(spark, root, rewritten)
      throw new IllegalStateException(
        s"upsert rewrote $written rows for $nSurv surviving + $nBatch " +
          "batch rows — refusing to publish; files removed, store unchanged")
    }
    val removed = before - nSurv
    val affSet = affFiles.map(_.path).toSet
    val untouched = man.files.filterNot(f => affSet(f.path))
    val nv = publish(spark, root, meta, untouched ++ rewritten,
      ZStats(man.stats.absorbedRows + nBatch, man.stats.oobRows + nOob),
      batchId.getOrElse(man.lastBatchId))
    ZUpsertReport(nv, nBatch, removed, affBuckets.length.toLong, nOob,
      s"upserted $nBatch row(s) (purged $removed old cop" +
        s"${if (removed == 1) "y" else "ies"} from ${affFiles.length} " +
        s"file(s) across ${affBuckets.length} bucket(s), $nOob clamped) " +
        s"— committed v$nv")
  }

  /** The shared (name AND type) schema gate of [[absorb]] and
    * [[upsert]] — one copy, because a name-only check would let a
    * drifted column type publish parquet files the pool's union read
    * cannot reconcile (the round-18 self-review finding), and two
    * copies of the gate would eventually disagree. */
  private def requireSchemaMatch(meta: ZMeta, batch: DataFrame,
                                 op: String): Unit = {
    val storeSig = meta.schemaCols.zip(meta.schemaTypes).sorted
    val batchSig = batch.schema.fields
      .map(f => (f.name, f.dataType.catalogString)).toSeq.sorted
    require(batchSig == storeSig, {
      val drift = (batchSig.toSet -- storeSig.toSet) ++
        (storeSig.toSet -- batchSig.toSet)
      s"$op batch schema does not match the store's — name AND type " +
        s"must agree (a drifted type would write parquet files the pool's " +
        s"union read cannot reconcile); drifted: ${drift.toSeq.sorted
          .map { case (n, t) => s"$n: $t" }.mkString(", ")}"
    })
  }

  /** The manifest FILES holding any of `ids` — one narrow
    * (`idCol`, file-path metadata) scan over the CANDIDATE files;
    * [[delete]]/[[upsert]] copy-on-write rewrites ONLY these (file
    * granularity, round 20 — the pre-round-20 bucket granularity
    * rewrote every file of an affected bucket, which for an id set
    * hashing across all buckets was a full-table rewrite; the 60M
    * probe's 78k-consecutive-id delete rewrote 1244 files where 64
    * held the ids).
    *
    * When the store declared this id column at [[init]], the scan is
    * first pruned by MANIFEST ARITHMETIC ([[locateCandidateFiles]]):
    * only files whose stamped id [min, max] admits some batch id are
    * opened — the same data-skipping move [[readRange]] makes over
    * the curve, applied to the identity axis, and the fix for the
    * O(table) locate term the 60M probe named dominant for small
    * mutations. Files without stats (pre-stat manifests, all-null-id
    * files) are always candidates — pruning errs wide, never drops.
    * Hits map back to manifest entries by path SUFFIX (attempt uuid +
    * bucket dir + part name — unique by construction; a hit that
    * matches no manifest entry fails loudly rather than silently
    * leaving a stale copy unrewritten). */
  private def affectedFiles(spark: SparkSession, root: String,
                            meta: ZMeta, manifest: Seq[ZFile],
                            ids: DataFrame, idCol: String): Seq[ZFile] = {
    val candidates = locateCandidateFiles(meta, manifest, ids, idCol)
    if (candidates.isEmpty) return Seq.empty
    // _metadata.file_path comes back URI-ENCODED (a root containing a
    // space/%/# encodes every hit) — decode before the suffix match so
    // such roots keep working (round 22, closing the r20 advice note);
    // a path that does not parse as a URI compares raw, as before.
    def decoded(fp: String): String =
      try new org.apache.hadoop.fs.Path(new java.net.URI(fp)).toUri.getPath
      catch { case _: Exception => fp }
    val hits = spark.read.parquet(candidates.map(f => s"$root/${f.path}"): _*)
      .select(col(idCol), col("_metadata.file_path").as("__fp"))
      .join(broadcast(ids), Seq(idCol), "left_semi")
      .select(col("__fp")).distinct()
      .collect().map(r => decoded(r.getString(0)))
    hits.foreach(fp => require(candidates.exists(f => fp.endsWith("/" + f.path)),
      s"locate hit `$fp` matches no candidate manifest entry — " +
        "refusing a rewrite that could leave a stale copy in place"))
    candidates.filter(f => hits.exists(_.endsWith("/" + f.path)))
  }

  /** Distinct-id cap for the per-id manifest test: past it the pruning
    * falls back to ONE [min, max] interval test of the whole batch
    * (still conservative-correct, two aggregated values crossing the
    * driver instead of the id set). */
  private val MaxLocateIds = 1 << 20

  /** The manifest files that could hold some id of `ids` — driver-side
    * arithmetic over the stamped per-file id [min, max], no IO beyond
    * one bounded collect of the (broadcast-small by contract) id set.
    * Conservative by construction: stores whose meta never declared
    * this id column, files stamped before the stat existed, and
    * all-null-id files (no extremes) are always kept; only a file
    * whose stamped range PROVABLY excludes every batch id is skipped.
    * Integral ids compare numerically, string ids in UTF-8 byte order
    * (Spark's own min/max ordering for strings — a UTF-16
    * `compareTo` would disagree past the BMP and could wrongly skip). */
  private[graft] def locateCandidateFiles(meta: ZMeta, manifest: Seq[ZFile],
      ids: DataFrame, idCol: String): Seq[ZFile] = {
    if (!meta.idCol.contains(idCol) ||
        !manifest.exists(f => f.idMin.isDefined && f.idMax.isDefined))
      return manifest
    val cmp = idComparator(meta.schemaTypes(meta.schemaCols.indexOf(idCol)))
      .getOrElse(return manifest)
    val collected = ids.na.drop().limit(MaxLocateIds + 1)
      .collect().map(_.get(0).toString)
    if (collected.isEmpty) return Seq.empty
    if (collected.length > MaxLocateIds) {
      // id set too big to hold driver-side: one interval test on the
      // batch's own extremes (a spanning batch keeps everything — it
      // would have anyway)
      val r = ids.agg(min(col(idCol)).cast("string"),
        max(col(idCol)).cast("string")).head()
      val (qLo, qHi) = (r.getString(0), r.getString(1))
      return manifest.filter(f => (f.idMin, f.idMax) match {
        case (Some(mn), Some(mx)) =>
          cmp(qLo, mx) <= 0 && cmp(mn, qHi) <= 0
        case _ => true
      })
    }
    val sorted = collected.sortWith(cmp(_, _) < 0)
    // first sorted id >= lo, then check it is <= hi: any-id-in-range
    def admits(lo: String, hi: String): Boolean = {
      var l = 0; var r = sorted.length
      while (l < r) {
        val m = (l + r) >>> 1
        if (cmp(sorted(m), lo) < 0) l = m + 1 else r = m
      }
      l < sorted.length && cmp(sorted(l), hi) <= 0
    }
    manifest.filter(f => (f.idMin, f.idMax) match {
      case (Some(mn), Some(mx)) => admits(mn, mx)
      case _ => true
    })
  }

  /** Catalog types that can stamp per-file id statistics, and the
    * driver-side comparator over their string encoding. Fractional
    * and temporal identities are refused at [[init]] (a double id is
    * not an identity; FP re-encoding could narrow the range). */
  private[graft] val StampableIdTypes =
    Set("tinyint", "smallint", "int", "bigint", "string")

  private def idComparator(typeStr: String)
      : Option[(String, String) => Int] = typeStr match {
    case "tinyint" | "smallint" | "int" | "bigint" =>
      Some((a, b) => java.lang.Long.compare(a.toLong, b.toLong))
    case "string" => Some(utf8Compare)
    case _ => None
  }

  /** Unsigned UTF-8 byte-order comparison — the binary ordering
    * Spark's min/max aggregates use for strings, mirrored so the
    * driver-side range test can never order differently and wrongly
    * skip a file (Java's `compareTo` disagrees for supplementary
    * characters). */
  private def utf8Compare(a: String, b: String): Int = {
    val x = a.getBytes("UTF-8"); val y = b.getBytes("UTF-8")
    val n = math.min(x.length, y.length)
    var i = 0
    while (i < n) {
      val c = (x(i) & 0xff) - (y(i) & 0xff)
      if (c != 0) return c
      i += 1
    }
    x.length - y.length
  }

  /** The cumulative absorb statistics of the current version. */
  def stats(spark: SparkSession, root: String): ZStats = {
    val vs = IndexStore.committedVersions(spark, root)
    require(vs.nonEmpty, s"no committed z-store version under $root")
    statsOf(spark, root, vs.last)
  }

  /** The maintenance decision from persisted state alone — no data
    * scan: relayout when the clamp fraction since the last envelope
    * derivation exceeds `clampFloor` (with at least `minAbsorbed`
    * rows absorbed, so one tiny early batch cannot trigger a
    * full-table rewrite), else maintain when any bucket is fragmented
    * past `maxFilesPerBucket`, else healthy. The same
    * detect-cheaply / act-gated shape as [[IndexMaintenance]]'s
    * drift loop, for the layout axis. */
  def advice(spark: SparkSession, root: String,
             maxFilesPerBucket: Int = 1, clampFloor: Double = 0.05,
             minAbsorbed: Long = 10000L,
             skewFactor: Double = 8.0): ZAdvice = {
    require(maxFilesPerBucket >= 1,
      s"maxFilesPerBucket $maxFilesPerBucket must be >= 1")
    require(clampFloor > 0 && clampFloor <= 1,
      s"clampFloor $clampFloor must be in (0, 1]")
    require(skewFactor > 1,
      s"skewFactor $skewFactor must be > 1 (fullest bucket over mean)")
    val (meta, manifest, v) = loadCurrent(spark, root)
    val st = statsOf(spark, root, v)
    val perBucket = manifest.groupBy(_.bucket).map(_._2.length.toLong)
    val maxFiles = if (perBucket.isEmpty) 0L else perBucket.max
    val fragmented = perBucket.count(_ > maxFilesPerBucket).toLong
    // rank-family recommendation from manifest occupancy alone (see
    // ZAdvice scaladoc): only meaningful when every file's row count
    // is stamped AND some dimension is width-ranked
    val skew: Option[Double] =
      if (manifest.isEmpty || manifest.exists(_.rows < 0) ||
          !meta.ranks.exists(_.isInstanceOf[ZRank.Width])) None
      else {
        val byBucket = manifest.groupBy(_.bucket)
          .map(_._2.map(_.rows).sum).filter(_ > 0)
        if (byBucket.isEmpty) None
        else Some(byBucket.max.toDouble / (byBucket.sum.toDouble / byBucket.size))
      }
    val wantDepth = skew.exists(_ > skewFactor)
    val depthNote = if (wantDepth)
      f"; occupancy piled (fullest bucket ${skew.get}%.1fx the mean, " +
        f"factor $skewFactor%.1f) — relayout with equalDepth ranks" else ""
    if (st.absorbedRows >= minAbsorbed && st.clampFraction > clampFloor)
      ZAdvice("relayout", fragmented, maxFiles, st,
        f"${st.oobRows} of ${st.absorbedRows} absorbed rows " +
          f"(${st.clampFraction * 100}%.1f%%) clamped outside the stamped " +
          f"envelopes (floor ${clampFloor * 100}%.1f%%) — the envelopes no " +
          "longer cover the stream; relayout re-derives them" + depthNote,
        wantDepth, skew)
    else if (fragmented > 0)
      ZAdvice("maintain", fragmented, maxFiles, st,
        s"$fragmented bucket(s) above $maxFilesPerBucket file(s) " +
          s"(max $maxFiles) — fold the fragments; envelopes are healthy" +
          depthNote,
        wantDepth, skew)
    else
      ZAdvice("healthy", 0L, maxFiles, st,
        "no bucket fragmented and clamp mass under the floor" + depthNote,
        wantDepth, skew)
  }

  /** One offline maintenance decision, acted: what [[advice]] said,
    * what ran ("relayout-equal-depth", "relayout", "maintain",
    * "none"), and the version it published (None when the store was
    * healthy or the action was withheld). */
  final case class ZAutoReport(advice: ZAdvice, acted: String,
                               version: Option[Long], reason: String)

  /** The offline scheduler's one-call loop body — read the durable
    * [[advice]] and ACT on it, including the rank-family
    * recommendation (the round-18 gap: the operator knew drift
    * happened but not whether the re-derived ranks should switch
    * family; now the occupancy evidence picks equal-depth and this
    * driver passes it through). The batch counterpart of
    * [[graft.streaming.ZIngest]]'s inline housekeeping, for stores
    * fed by batch absorbs or for the table-bounded relayout the
    * streaming sinks deliberately leave to a scheduler:
    *
    *  - advice "relayout" + `allowRelayout` → [[relayout]] with the
    *    advised `equalDepth`;
    *  - advice "relayout" withheld (`allowRelayout = false` — e.g.
    *    the maintenance window is too short for a table rewrite) →
    *    fold fragmentation instead when any exists, exactly the
    *    pending-relayout fallback the streaming sinks run;
    *  - advice "maintain" → [[maintain]] (bounded by
    *    `maxBucketsPerFold`);
    *  - healthy → no-op.
    *
    * `keepVersions >= 1` prunes after an acted step (strictly
    * alternating with the publish — the loop-internal exclusion
    * argument as everywhere else). Single-writer contract applies:
    * do not run concurrently with a stream's inline housekeeping on
    * the same root.
    *
    * `writeFanOut` threads through to BOTH acted paths — the offline
    * relayout this scheduler exists to run is exactly the
    * one-task-per-bucket straggler case the dial was measured 2.8× on
    * (PLANS.md 24M probe), and before round 20 the loop body could
    * not pass it. Bounded by `maxFilesPerBucket` so a fanned-out fold
    * cannot re-trip the fragmentation trigger it just serviced. */
  def autoMaintain(spark: SparkSession, root: String,
                   maxFilesPerBucket: Int = 1, clampFloor: Double = 0.05,
                   minAbsorbed: Long = 10000L, skewFactor: Double = 8.0,
                   maxBucketsPerFold: Int = Int.MaxValue,
                   allowRelayout: Boolean = true,
                   keepVersions: Int = 0,
                   writeFanOut: Int = 1): ZAutoReport = {
    require(keepVersions >= 0,
      s"keepVersions $keepVersions must be >= 0 (0 = never prune)")
    require(writeFanOut <= maxFilesPerBucket,
      s"writeFanOut $writeFanOut above maxFilesPerBucket " +
        s"$maxFilesPerBucket would re-trip the fold it just ran")
    val ad = advice(spark, root, maxFilesPerBucket, clampFloor,
      minAbsorbed, skewFactor)
    val (acted, v, why) = ad.action match {
      case "relayout" if allowRelayout =>
        val nv = relayout(spark, root, equalDepth = ad.equalDepth,
          writeFanOut = writeFanOut)
        (if (ad.equalDepth) "relayout-equal-depth" else "relayout",
          Some(nv),
          s"relayout committed v$nv" +
            (if (ad.equalDepth) " with equal-depth ranks (occupancy " +
              f"skew ${ad.occupancySkew.getOrElse(0.0)}%.1fx)" else ""))
      case "relayout" if ad.fragmentedBuckets > 0 =>
        val m = maintain(spark, root, maxFilesPerBucket, maxBucketsPerFold,
          writeFanOut)
        ("maintain", m.version,
          "relayout withheld (allowRelayout=false) — folded " +
            s"fragmentation meanwhile: ${m.reason}")
      case "relayout" =>
        ("none", None,
          "relayout withheld (allowRelayout=false) and nothing to fold")
      case "maintain" =>
        val m = maintain(spark, root, maxFilesPerBucket, maxBucketsPerFold,
          writeFanOut)
        ("maintain", m.version, m.reason)
      case _ =>
        ("none", None, "healthy — store unchanged")
    }
    if (v.isDefined && keepVersions >= 1) prune(spark, root, keepVersions)
    ZAutoReport(ad, acted, v, why)
  }

  /** Drop all but the newest `keep` committed versions, sweep stale
    * staging debris, then garbage-collect pool data no kept manifest
    * references — the one prune of both stores ([[IndexStore.pruneVersions]]
    * is this body). Absorb and maintain share untouched files across
    * versions, and a pair version shares its base directory, centroid
    * directory and delta files, so pool data dies only when the LAST
    * manifest naming it (or a directory above it) dies. Staging debris
    * is a `.build_v<N>` (pair) or `.zbuild_v<N>` (z-store) directory
    * for an already-published number: an in-flight build always
    * targets a number above the newest committed one, so the sweep
    * never races a live writer. A kept version without a manifest (an
    * [[IndexStore.writeVersioned]] one) references no pool data.
    * Returns (prunedVersions, deletedDataFiles).
    *
    * Single-writer contract applies HARD here: a prune racing an
    * in-flight write would GC the pool data its staged-but-not-yet-
    * committed manifest references (they are in no committed manifest
    * yet); the scheduler, not the store, serializes them. */
  def prune(spark: SparkSession, root: String, keep: Int)
      : (Seq[Long], Long) = {
    require(keep >= 1, "must keep at least the current version")
    val (fs, p) = IndexStore.fsOf(spark, root)
    val committed = IndexStore.committedVersions(spark, root)
    if (committed.isEmpty) return (Seq.empty, 0L)
    val keepSet = committed.takeRight(keep).toSet
    val doomed = IndexStore.allVersions(spark, root)
      .filter(v => !keepSet.contains(v) && v < committed.last).sorted
    doomed.foreach(v => fs.delete(new Path(p, s"v$v"), true))
    val StagingDir = "^\\.z?build_v(\\d+)(_.*)?$".r
    fs.listStatus(p).toSeq.filter(_.isDirectory).foreach { s =>
      s.getPath.getName match {
        case StagingDir(n, _) if n.toLong <= committed.last =>
          fs.delete(s.getPath, true)
        case _ =>
      }
    }
    // GC: pool data referenced by NO kept manifest, as a file or as a
    // directory above it. Paths are relativized against the QUALIFIED
    // root — the listing returns fully-qualified paths, so stripping a
    // relative root string would relativize NOTHING and this walk would
    // delete every live file (a relative `root` works for init/absorb/
    // read, so the first warning would have been the destroyed store;
    // spec-pinned on a relative root); a path that fails to relativize
    // is left alone. The walk is a plain listStatus recursion, NOT
    // `fs.listFiles(recursive)` — the located-status iterator fetches
    // BLOCK LOCATIONS per file, which the GC never reads, and at high
    // bucket counts that metadata is the whole cost (measured: 45 s to
    // walk 4k files at bucketBits=10, ~0.1 s via listStatus — the
    // round-20 1024-bucket probe caught prune dominating every batch);
    // a referenced directory (a pair's base) is not walked at all.
    val referenced = keepSet.toSeq.flatMap(v =>
      manifestAt(spark, s"$root/v$v").toSeq.flatMap(_.files.map(_.path))).toSet
    def live(rel: String): Boolean =
      rel.split('/').inits.exists(s => s.nonEmpty && referenced(s.mkString("/")))
    val rootUri = fs.makeQualified(p).toUri.getPath.stripSuffix("/")
    var deleted = 0L
    // whether `d` still holds referenced (or unrelativizable) data; a
    // subdirectory that holds none is deleted whole (a pool dir keeps
    // its write-time _SUCCESS marker, so "empty" means "no data files
    // left under it"), and files sitting directly under data/ are swept
    // by the same rule
    def sweep(d: Path): Boolean = fs.listStatus(d).toSeq.map { st =>
      val fp = fs.makeQualified(st.getPath).toUri.getPath
      if (!fp.startsWith(rootUri + "/") ||
          live(fp.stripPrefix(rootUri + "/"))) true
      else if (st.isDirectory) {
        val kept = sweep(st.getPath)
        if (!kept) fs.delete(st.getPath, true)
        kept
      } else {
        if (st.getPath.getName.endsWith(".parquet")) {
          fs.delete(st.getPath, false)
          deleted += 1
        }
        false
      }
    }.foldLeft(false)(_ || _)
    val dataRoot = new Path(p, "data")
    if (fs.exists(dataRoot)) sweep(dataRoot)
    (doomed, deleted)
  }

  // ---------------------------------------------------------------
  // Internals
  // ---------------------------------------------------------------

  /** Key `rows` with the stamped ranks and write sorted bucket-local
    * files into a fresh pool directory; returns the new manifest
    * entries WITH their row counts (one footer-count read-back of the
    * just-written files — the same job every caller's reconciliation
    * gate needs, so stamping occupancy into the manifest is free).
    * The sort-within satisfies FileFormatWriter's partition-column
    * ordering requirement as a PREFIX, so the writer never re-sorts
    * and the intra-file key order survives. Files never span buckets
    * → per-file min/max bounded by the bucket's curve envelope.
    *
    * `fanOut` (power of two) splits each bucket into that many
    * CONTIGUOUS curve sub-ranges, one task and one file each — the
    * write-parallelism dial for table-bounded rewrites (init /
    * relayout / maintain): one task per bucket means a 100 TB
    * relayout at bucketBits=12 writes 4096 multi-GB straggler files,
    * and at LOW bucket counts it cannot even fill a cluster's cores.
    * A sub-range split (the key's next log2(fanOut) bits below the
    * bucket bits) keeps every per-file envelope a strict SUBSET of
    * its bucket's — pruning gets tighter, not looser, unlike a hash
    * salt, which would spread each file across the bucket's whole
    * range. fanOut = 1 is the previous one-file-per-bucket behavior. */
  private def writeDataFiles(rows: DataFrame, meta: ZMeta,
                             root: String, fanOut: Int = 1): Seq[ZFile] = {
    require(fanOut >= 1 && Integer.bitCount(fanOut) == 1,
      s"fanOut $fanOut must be a power of two >= 1")
    val splitBits = 31 - Integer.numberOfLeadingZeros(fanOut)
    require(splitBits <= meta.shift,
      s"fanOut $fanOut needs $splitBits sub-bucket key bits, the layout " +
        s"has ${meta.shift} below the bucket bits")
    val spark = rows.sparkSession
    val attempt = java.util.UUID.randomUUID().toString.take(8)
    val dataDir = s"$root/data/$attempt"
    val keyed = rows
      .withColumn("__zkey",
        ZOrderLayout.zorderKey(rows, meta.cols, meta.ranks, meta.bits))
      .withColumn("__zb", shiftright(col("__zkey"), meta.shift))
    // explicit partition count for the fan-out: the split has
    // nBuckets × fanOut distinct values, and the session default
    // (sized for generic exchanges) would cap the write parallelism
    // the dial exists to buy; hash collisions between sub-ranges are
    // harmless (a task writes one file per bucket dir it holds, so a
    // same-bucket collision just yields fewer, still-bucket-local
    // files)
    val parted =
      if (fanOut == 1) keyed.repartition(col("__zb"))
      else keyed.repartition(
        math.min(meta.nBuckets.toLong * fanOut, 1L << 15).toInt,
        shiftright(col("__zkey"), meta.shift - splitBits))
    parted
      .sortWithinPartitions("__zb", "__zkey")
      .drop("__zkey")
      .write.partitionBy("__zb").parquet(dataDir)
    val (fs, _) = IndexStore.fsOf(spark, root)
    val BucketDir = "^__zb=(\\d+)$".r
    val files = fs.listStatus(new Path(dataDir)).toSeq
      .filter(_.isDirectory)
      .flatMap { d =>
        d.getPath.getName match {
          case BucketDir(b) =>
            fs.listStatus(d.getPath).toSeq
              .filter(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
              .map(f => ZFile(
                s"data/$attempt/__zb=$b/${f.getPath.getName}", b.toInt))
          case _ => Seq.empty
        }
      }
    if (files.isEmpty) return files
    // per-file counts + id extremes straight from the PARQUET FOOTERS
    // of the just-written files (driver-side, one footer read per
    // file — the metadata the writer already wrote; zero data pages
    // decoded): the pre-round-20 Spark count job read no payload, but
    // adding min/max of the id column to it forced decoding the whole
    // id column per write (+9 s on a 20M init, measured), while the
    // footer already carries both the row count and the column's
    // min/max bounds. Parquet statistics are BOUNDS by contract (a
    // truncated binary max is >= every value, a truncated min <=) —
    // exactly the conservative semantic the locate pruning needs.
    // Files indexed directly off our own listing: no path re-keying,
    // and a file whose footer cannot be read fails the write loudly
    // rather than stamping a phantom 0 into the reconciliation gates.
    val statId: Option[(String, String)] = meta.idCol.collect {
      case c if meta.schemaCols.indexOf(c) >= 0 &&
          StampableIdTypes.contains(
            meta.schemaTypes(meta.schemaCols.indexOf(c))) =>
        (c, meta.schemaTypes(meta.schemaCols.indexOf(c)))
    }
    // footer reads run on a bounded driver pool: sequential opens at
    // bucketBits=10+ (1024 files per write) measured 6-9 s per batch —
    // the metadata read must not rival the data write it stamps
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.min(32, files.length))
    try {
      files.map(f => pool.submit(
        new java.util.concurrent.Callable[ZFile] {
          def call(): ZFile =
            stampFromFooter(spark, s"$root/${f.path}", f, statId)
        })).map { fut =>
        // unwrap so the intended loud, typed failure surfaces (not an
        // ExecutionException shell) — round 22, closing the r20
        // advice note
        try fut.get()
        catch {
          case e: java.util.concurrent.ExecutionException =>
            throw Option(e.getCause).getOrElse(e)
        }
      }
    } catch {
      case e: Throwable =>
        // a failed stamp aborts the write: cancel the remaining footer
        // reads instead of letting them race the caller's cleanup
        pool.shutdownNow()
        throw e
    } finally pool.shutdown()
  }

  /** One file's manifest stamp from its parquet footer: exact row
    * count (sum of row-group counts) and, when `statId` names the
    * declared id column (name, catalog type), the column's [min, max]
    * statistics combined across row groups — None when any row group
    * lacks trustworthy statistics for it (all-null groups, stats
    * disabled), which every consumer already treats as "could hold
    * any id". String statistics compare in parquet's unsigned-byte
    * order = Spark's = the locate pruning's [[utf8Compare]], so the
    * three can never disagree. */
  private[graft] def stampFromFooter(spark: SparkSession, fullPath: String,
                              f: ZFile,
                              statId: Option[(String, String)]): ZFile = {
    import scala.jdk.CollectionConverters._
    val conf = spark.sparkContext.hadoopConfiguration
    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new Path(fullPath), conf))
    try {
      val blocks = reader.getFooter.getBlocks.asScala.toSeq
      val rows = blocks.map(_.getRowCount).sum
      val stat: Option[(String, String)] = statId.flatMap { case (c, t) =>
        val perBlock = blocks.map { b =>
          b.getColumns.asScala
            .find(_.getPath.toDotString == c)
            .map(_.getStatistics)
            .filter(s => s != null && !s.isEmpty && s.hasNonNullValue)
            .map(s => (statString(s.genericGetMin.asInstanceOf[AnyRef]),
              statString(s.genericGetMax.asInstanceOf[AnyRef])))
        }
        if (perBlock.isEmpty || perBlock.exists(_.isEmpty)) None
        else idComparator(t).map { cmp =>
          val all = perBlock.flatten
          (all.map(_._1).reduce((a, b) => if (cmp(a, b) <= 0) a else b),
           all.map(_._2).reduce((a, b) => if (cmp(a, b) >= 0) a else b))
        }
      }
      f.copy(rows = rows, idMin = stat.map(_._1), idMax = stat.map(_._2))
    } finally reader.close()
  }

  /** A parquet statistics value string-encoded the way the manifest
    * and [[idComparator]] expect: integral stats as decimal digits,
    * binary (string) stats as their UTF-8 text. */
  private def statString(v: AnyRef): String = v match {
    case b: org.apache.parquet.io.api.Binary => b.toStringUsingUTF8
    case other => other.toString
  }

  private def deleteFiles(spark: SparkSession, root: String,
                          files: Seq[ZFile]): Unit = {
    val (fs, p) = IndexStore.fsOf(spark, root)
    files.foreach(f => fs.delete(new Path(p, f.path), false))
  }

  /** Publish (meta, manifest) as the next version through
    * [[publishFiles]]. */
  private def publish(spark: SparkSession, root: String, meta: ZMeta,
                      manifest: Seq[ZFile], stats: ZStats,
                      lastBatchId: Long): Long =
    publishFiles(spark, root, ".zbuild_v", Seq("_zmeta.json" -> metaJson(meta),
      ManifestFile -> manifestJson(manifest, stats, lastBatchId)))

  /** Publish a metadata-only version: `files` (name -> content) plus the
    * `_SUCCESS` marker are fully written into an invisible
    * `<stagingPrefix><N>_<attempt>` staging dir, then handed to the
    * SHARED [[IndexStore.publishStaged]] arbitration (one copy of the
    * rename-race semantics for both stores). */
  private[graft] def publishFiles(spark: SparkSession, root: String,
      stagingPrefix: String, files: Seq[(String, String)]): Long = {
    val next = (IndexStore.allVersions(spark, root) :+ 0L).max + 1
    val (fs, p) = IndexStore.fsOf(spark, root)
    val attempt = java.util.UUID.randomUUID().toString.take(8)
    val stagingName = s"$stagingPrefix${next}_$attempt"
    val staging = new Path(p, stagingName)
    fs.mkdirs(staging)
    files.foreach { case (name, body) => writeString(fs, new Path(staging, name), body) }
    fs.create(new Path(staging, "_SUCCESS"), true).close()
    IndexStore.publishStaged(fs, p, stagingName, next, root)
  }

  private def writeString(fs: org.apache.hadoop.fs.FileSystem, path: Path,
                          s: String): Unit = {
    val out = fs.create(path, true)
    try out.write(s.getBytes("UTF-8")) finally out.close()
  }

  private def readString(spark: SparkSession, root: String,
                         rel: String): String = {
    val (fs, p) = IndexStore.fsOf(spark, root)
    val in = fs.open(new Path(p, rel))
    try scala.io.Source.fromInputStream(in, "UTF-8").mkString
    finally in.close()
  }

  // JSON via the Jackson shipped with Spark — envelopes carry
  // arbitrary dictionary strings, so hand-rolled escaping is the
  // wrong tool here.
  private val mapper = new ObjectMapper()

  private[graft] def metaJson(meta: ZMeta): String = {
    val o = mapper.createObjectNode()
    val cols = o.putArray("cols"); meta.cols.foreach(cols.add)
    o.put("bits", meta.bits)
    o.put("bucketBits", meta.bucketBits)
    meta.idCol.foreach(o.put("idCol", _))
    val sc = o.putArray("schemaCols"); meta.schemaCols.foreach(sc.add)
    val st = o.putArray("schemaTypes"); meta.schemaTypes.foreach(st.add)
    val rs = o.putArray("ranks")
    meta.ranks.foreach {
      case ZRank.Width(mn, mx) =>
        val r = rs.addObject(); r.put("type", "width")
        r.put("min", mn); r.put("max", mx)
      case ZRank.Depth(bounds, lo, hi) =>
        val r = rs.addObject(); r.put("type", "depth")
        r.put("lo", lo); r.put("hi", hi)
        val b = r.putArray("bounds"); bounds.foreach(b.add)
      case ZRank.Dict(values) =>
        val r = rs.addObject(); r.put("type", "dict")
        val v = r.putArray("values"); values.foreach(v.add)
    }
    mapper.writerWithDefaultPrettyPrinter().writeValueAsString(o)
  }

  private[graft] def parseMeta(json: String): ZMeta = {
    val n = mapper.readTree(json)
    import scala.jdk.CollectionConverters._
    val ranks = n.get("ranks").elements().asScala.map { r =>
      r.get("type").asText() match {
        case "width" => ZRank.Width(r.get("min").asDouble(),
          r.get("max").asDouble()): ZRank
        case "depth" => ZRank.Depth(
          r.get("bounds").elements().asScala.map(_.asDouble()).toSeq,
          r.get("lo").asDouble(), r.get("hi").asDouble())
        case "dict" => ZRank.Dict(
          r.get("values").elements().asScala.map(_.asText()).toSeq)
        case other => throw new IllegalStateException(
          s"unknown rank type '$other' in _zmeta.json")
      }
    }.toSeq
    ZMeta(
      n.get("cols").elements().asScala.map(_.asText()).toSeq,
      n.get("bits").asInt(), n.get("bucketBits").asInt(), ranks,
      n.get("schemaCols").elements().asScala.map(_.asText()).toSeq,
      n.get("schemaTypes").elements().asScala.map(_.asText()).toSeq,
      Option(n.get("idCol")).map(_.asText()))
  }

  private[graft] def manifestJson(files: Seq[ZFile], stats: ZStats,
                                  lastBatchId: Long): String = {
    val o = mapper.createObjectNode()
    o.put("absorbedRows", stats.absorbedRows)
    o.put("oobRows", stats.oobRows)
    o.put("lastBatchId", lastBatchId)
    val fsArr = o.putArray("files")
    files.foreach { f =>
      val e = fsArr.addObject(); e.put("path", f.path)
      e.put("bucket", f.bucket); e.put("rows", f.rows)
      f.idMin.foreach(e.put("idMin", _))
      f.idMax.foreach(e.put("idMax", _))
    }
    mapper.writerWithDefaultPrettyPrinter().writeValueAsString(o)
  }

  /** Manifest parse, backward-compatible with pre-round-19 manifests:
    * absent per-file `rows` parse as -1 (occupancy unknown — never 0,
    * which would read as an empty file), absent `lastBatchId` as -1
    * (no batch-tracked absorb yet). */
  private[graft] def parseManifest(json: String): ZManifest = {
    import scala.jdk.CollectionConverters._
    val n = mapper.readTree(json)
    def longOr(field: String, dflt: Long): Long =
      Option(n.get(field)).map(_.asLong()).getOrElse(dflt)
    ZManifest(
      n.get("files").elements().asScala
        .map(e => ZFile(e.get("path").asText(), e.get("bucket").asInt(),
          Option(e.get("rows")).map(_.asLong()).getOrElse(-1L),
          Option(e.get("idMin")).map(_.asText()),
          Option(e.get("idMax")).map(_.asText())))
        .toSeq,
      ZStats(longOr("absorbedRows", 0L), longOr("oobRows", 0L)),
      longOr("lastBatchId", -1L))
  }

  private def readMeta(spark: SparkSession, root: String, v: Long): ZMeta =
    parseMeta(readString(spark, root, s"v$v/_zmeta.json"))

  private[graft] val ManifestFile = "_manifest.json"

  private def manifestOf(spark: SparkSession, root: String,
                         v: Long): ZManifest =
    parseManifest(readString(spark, root, s"v$v/$ManifestFile"))

  /** The manifest in version directory `dir`; None when it holds none
    * (an [[IndexStore.writeVersioned]] version). */
  private[graft] def manifestAt(spark: SparkSession, dir: String)
      : Option[ZManifest] = {
    val (fs, p) = IndexStore.fsOf(spark, dir)
    if (!fs.exists(new Path(p, ManifestFile))) None
    else Some(parseManifest(readString(spark, dir, ManifestFile)))
  }

  private def readManifest(spark: SparkSession, root: String,
                           v: Long): Seq[ZFile] =
    manifestOf(spark, root, v).files

  private def statsOf(spark: SparkSession, root: String, v: Long): ZStats =
    manifestOf(spark, root, v).stats
}
