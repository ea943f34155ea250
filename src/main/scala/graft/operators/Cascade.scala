package graft.operators

import graft.functions.VectorFunctions
import graft.semantic.{DictSynonyms, QueryNer, RuleQueryNer, SemanticSuite, UserProfile}
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.InterpretedProjection
import org.apache.spark.sql.catalyst.optimizer.ReplaceExpressions
import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, LogicalPlan, Project}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, IntegerType, StringType, StructField, StructType}
import scala.jdk.CollectionConverters._

/** `semanticDriverBatchMax`: batch-cascade query logs at most this
  * large resolve NER/synonyms on the DRIVER (the reference's
  * per-request shape — one external call per query); larger logs
  * resolve them inside the cluster via `mapPartitions` (SURVEY §2.7's
  * batch shape), so an offline log never funnels its texts through
  * the driver. 0 forces the distributed path. Both paths are
  * row-identical by construction (CascadeBatchSpec pins it).
  *
  * `broadcastQueryMax`: the batch cascades BROADCAST the resolved
  * query frame (the pair stream is corpus × broadcast(queries)), which
  * bounds a single plan at a broadcastable query side. Logs larger
  * than this are hash-sliced by qid and served as SEQUENTIAL per-slice
  * plans whose bounded results union (the CascadeServe slicer idiom,
  * automatic) — so a 10M+ offline log runs without a manual knob. 0
  * (the default) derives the bound WIDTH-AWARE from the JVM heap:
  * 1/16 of the heap in broadcast bytes divided by the log's MEASURED
  * row width (a bounded 32-row probe of vector dims + text length) — a
  * 32 GiB driver derives ~2M queries per slice at dim 64 but only
  * ~240k at the reference's dim 1024, where a flat rows-per-GiB
  * constant would admit ~8× the budget and abort the broadcast at
  * `maxResultSize`. Positive values override (rows, taken verbatim);
  * the slices are hash-sized in expectation, not exactly, so the
  * slicer targets 80% of the budget per slice as skew headroom. */
final case class CascadeConfig(
    topK: Int = 10,
    relaxThreshold: Int = 5,
    fallbackThreshold: Int = 15,
    fallbackK: Int = 15,
    finalN: Int = 5,
    wJudge: Double = 0.7,
    wRule: Double = 0.3,
    semanticDriverBatchMax: Int = 1024,
    broadcastQueryMax: Int = 0)

/** The flagship query: multi-stage retrieval with progressive filter
  * relaxation, priority dedup, hybrid rerank, top-N
  * (/root/reference/main.py:329-411 — SURVEY.md §3.1).
  *
  * The cascade is deliberately DRIVER-SIDE adaptive control flow
  * (SURVEY.md §4) over ONE Spark job per request: a single pass over
  * the candidate pool computes each row's distance once and ranks the
  * top-k of EVERY stage the ladder could run ([[TopK.slotTopK]] — one
  * bounded heap per stage per partition, no shuffle, no checkpoint);
  * the ≤ partitions × Σk rows come to the driver, where the gates,
  * keep-first dedup and the rerank run over them in memory. Ranking a
  * stage a gate then skips costs only heap pushes inside the same
  * scan. The expensive side (the scan and the distance) is Catalyst's;
  * only the orchestration is imperative — the same split the reference
  * reaches by accident, made explicit as policy.
  *
  * The ladder policy is written once, in the companion:
  * [[MultiStageSearch.ladder]] gives a query's stage groups and gates,
  * [[MultiStageSearch.walk]] applies them to per-stage top-k lists, the
  * stage predicates come from `slotPredicates` and the rerank scores
  * from `withScores`. `search` walks the lists of its one pass on the
  * driver; the batch core (`searchGatedBatch`, `searchGatedBatchServed`,
  * `searchGated`) walks each query's windowed lists in a UDF.
  * `searchFixed` is `search` with its gates open. Both reference
  * compositions (main.py strict-first and main_remind.py
  * scan-then-filter — SURVEY.md §3.4) are expressible by configuring
  * the stage list.
  */
final class MultiStageSearch(
    corpus: DataFrame, idCol: String, textCol: String, embCol: String,
    cfg: CascadeConfig = CascadeConfig(),
    profile: UserProfile = UserProfile.empty,
    // Pluggable per-query candidate pool: query vector → the rows
    // (idCol, textCol, embCol) every stage ranks. Default: `corpus`
    // itself. A served deployment passes an ANN-index reader here (c5:
    // the IVF-probed partitions of the stored index); the cascade's one
    // pass scores, null-filters and cuts the pool itself, so the POLICY
    // (stage list, gates, dedup, rerank) and the distance are identical
    // either way, which is exactly what c5's identity gate pins.
    knnBackend: Option[Column => DataFrame] = None) {

  private val (queryNer, synonyms, _) = SemanticSuite.default

  /** L2 + profile coalesce (main.py:430-449): query NER first, then
    * any missing field backfills from the caller's profile. */
  private def resolvedNer(queryText: String): QueryNer =
    queryNer(queryText).withDefaults(profile)

  /** F4 empty-query guard (main.py:419-426): does this query short-
    * circuit to the typed empty response? The reference strips and
    * tests BEFORE NER/profile coalesce — a blank message is empty even
    * for a fully-populated profile. */
  private def isBlank(queryText: String): Boolean =
    MultiStageSearch.isBlankText(queryText)

  /** The typed empty response: the exact result schema every search
    * method returns, zero rows, built as a LOCAL empty relation — the
    * plan does not reference the corpus, so NO stage (not even a scan)
    * can execute downstream of the guard, and collecting it runs no
    * job. */
  private def emptyResponse: DataFrame = {
    val schema = StructType(Seq(
      corpus.schema(idCol), corpus.schema(textCol),
      StructField("dist", DoubleType, nullable = true),
      StructField("stage_rank", IntegerType, nullable = false),
      StructField("judge_score", DoubleType, nullable = true),
      StructField("rule_score", DoubleType, nullable = true),
      StructField("score", DoubleType, nullable = true),
      StructField("rank", IntegerType, nullable = false)))
    corpus.sparkSession.createDataFrame(java.util.Collections.emptyList[Row], schema)
  }

  /** Case-insensitive substring test on the doc text: the remind
    * composition's filter. */
  private def contains(term: String): Column =
    lower(col(textCol)).contains(term.toLowerCase)

  /** L1 double, columnar: deterministic rule-NER over the doc text —
    * first vocabulary hit per field (job/region). */
  private def docNer(text: Column): (Column, Column) = {
    def firstHit(vocab: Set[String]) =
      regexp_extract(lower(text), "\\b(" + vocab.toSeq.sorted.mkString("|") + ")\\b", 1)
    (firstHit(SemanticSuite.CorpusVocab), firstHit(SemanticSuite.RegionVocab))
  }

  /** A query's NER fields (job, region, age) as string literals, null
    * when absent: the column form [[slotPredicates]] and [[withScores]]
    * read, which the batch core fills from its resolved query frame. */
  private def nerLits(ner: QueryNer): (Column, Column, Column) = {
    def str(v: Option[String]) = v.fold(lit(null).cast("string"))(lit)
    (str(ner.job), str(ner.region), str(ner.ageGroup))
  }

  /** Each ladder slot's predicate on the doc text, slot s at index s
    * (the numbering of [[MultiStageSearch.ladder]]), for NER fields as
    * string columns, null when absent. A term matches as a
    * case-insensitive substring; a null term or text makes the test
    * null, which every consumer reads as false. Over literals the
    * optimizer folds the absent-field tests away. */
  private def slotPredicates(job: Column, region: Column,
                             syns: Seq[Column]): Seq[Column] = {
    def has(t: Column) = lower(col(textCol)).contains(lower(t))
    val inRegion = region.isNull || has(region)
    Seq(inRegion && (job.isNull || has(job)),                          // S1 strict AND
      region.isNotNull && job.isNotNull && (has(region) || has(job)), // S2 OR
      has(region), has(job),                                           // S3 single field
      lit(true)) ++                                                    // S5 fallback
      syns.map(syn => inRegion && has(syn))                            // S4 synonyms
  }

  /** Run the cascade. `queryVec` is the embedded query (the embedding
    * model is an external boundary — SURVEY.md §2.1 S5). */
  def search(queryText: String, queryVec: Column): DataFrame =
    search(queryText, queryVec, cfg)

  /** The adaptive ladder with the count gates of `gates`
    * (`relaxThreshold`, `fallbackThreshold`); everything else follows
    * the instance's config.
    *
    * Every stage the ladder COULD run is ranked in one pass over the
    * pool (the `knnBackend` pool for `queryVec`, or the corpus): each
    * row's distance is computed once, null distances (null embedding,
    * null element, dim mismatch) are no candidates ([[Knn.exactDefined]]'s
    * contract — the batch core excludes them too, which keeps
    * `batch == per-query`), and each stage keeps its top-k by
    * (dist, id) in Spark's ordering, so a string id ranks exactly as
    * `orderBy` would rank it. Default and served pools take this one
    * path, so a backend cannot score a different vector than the one
    * the call searches. The pass is one job and leaves nothing cached.
    * [[MultiStageSearch.walk]] then applies the gates, keep-first dedup
    * and stage numbering to the collected stage rows on the driver. */
  private def search(queryText: String, queryVec: Column,
                     gates: CascadeConfig): DataFrame = {
    if (isBlank(queryText)) return emptyResponse
    val ner: QueryNer = resolvedNer(queryText)
    val syns = ner.job.toSeq.flatMap(synonyms(_))
    val ladder = MultiStageSearch.ladder(ner.job.isDefined,
      ner.region.isDefined, syns.length, gates)
    val (job, region, _) = nerLits(ner)
    val preds = slotPredicates(job, region, syns.map(lit))
    val stages = ladder.flatMap(_._2)
    val pool = knnBackend.fold(corpus)(_(queryVec))
      .select(col(idCol), col(textCol),
        VectorFunctions.l2(col(embCol), queryVec).as("dist"))
    val ranked = stages.map(_._1).zip(TopK.slotTopK(pool, Seq("dist", idCol),
      stages.map { case (slot, k) => (Some(preds(slot)), k) })).toMap
    val kept = MultiStageSearch.walk(ladder, ranked)(_.get(0)).map {
      case (r, stage) => Row(r.get(0), r.get(1), r.get(2), stage)
    }

    // hybrid rerank → top-N → rank (main.py:410,455-469)
    rerankLocal(kept, StructType(Seq(pool.schema(idCol),
      pool.schema(textCol), StructField("dist", DoubleType, nullable = false),
      StructField("stage_rank", IntegerType, nullable = false))), ner)
  }

  /** The rerank score columns (main.py:410,455-469), written once for
    * every rerank tail: the deterministic judge (L4 double: 0..5 by the
    * fraction of the query's job/region terms the doc text contains),
    * the NER-overlap rule score and their weighted combine. `ner` is
    * (job, region, age) as string columns, null when absent. */
  private def withScores(acc: DataFrame, ner: (Column, Column, Column)): DataFrame = {
    val (job, region, age) = ner
    val terms = Seq(job, region)
    val hits = terms.map(t =>
      when(lower(col(textCol)).contains(lower(t)), 1).otherwise(0)).reduce(_ + _)
    val nTerms = terms.map(t => when(t.isNotNull, 1).otherwise(0)).reduce(_ + _)
    val (dJob, dRegion) = docNer(col(textCol))
    acc
      .withColumn("judge_score", when(nTerms === 0, lit(0.0))
        .otherwise(round(lit(5.0) * hits / nTerms, 0).cast("double")))
      .withColumn("rule_score", Rerank.nerOverlap(Seq(
        (job, dJob), (region, dRegion), (age, lit("")))))
      .withColumn("score",
        Rerank.combined(col("judge_score"), col("rule_score"), cfg.wJudge, cfg.wRule))
  }

  /** The final rank order: score desc, dist asc, id asc (`true` =
    * ascending). */
  private def rankKeys: Seq[(String, Boolean)] =
    Seq("score" -> false, "dist" -> true, idCol -> true)

  /** The rerank tail over rows already on the driver: the
    * [[localScorer]] columns on `kept` (of `schema`), then the
    * [[rankKeys]] order in Spark's ordering ([[TopK.sparkOrdering]]),
    * top-N and rank 1..n — returned as a LocalRelation, so the caller's
    * collect runs no job. */
  private def rerankLocal(kept: Seq[Row], schema: StructType,
                          ner: QueryNer): DataFrame = {
    val (scoredSchema, score) = localScorer(schema)
    val nerVals = Seq(ner.job, ner.region, ner.ageGroup).map(_.orNull)
    val top = score(kept.map(r => Row.fromSeq(r.toSeq ++ nerVals)))
      .sorted(TopK.sparkOrdering(scoredSchema, rankKeys)).take(cfg.finalN)
    val external = CatalystTypeConverters.createToScalaConverter(scoredSchema)
    corpus.sparkSession.createDataFrame(top.zipWithIndex.map { case (r, i) =>
        Row.fromSeq(external(r).asInstanceOf[Row].toSeq :+ (i + 1))
      }.asJava,
      scoredSchema.add(StructField("rank", IntegerType, nullable = false)))
  }

  /** [[withScores]] for driver-side rows: rows of `schema` followed by
    * the NER fields (job, region, age; null when absent) → the rows of
    * `schema` + the score columns, as catalyst rows, and that schema.
    * The columns are analyzed ONCE per input schema, over a local
    * relation with the NER fields as string columns (the batch core's
    * form), and each Project of the analyzed plan is then applied row by
    * row, as the optimizer's ConvertToLocalRelation would fold it — so a
    * request's rerank plans nothing. The evaluation is serialized per
    * scorer: expressions such as `regexp_extract` keep per-instance
    * state. */
  private def localScorer(schema: StructType)
      : (StructType, Seq[Row] => Seq[InternalRow]) =
    localScorers.computeIfAbsent(schema, { (s: StructType) =>
      val ner = Seq("__job", "__region", "__age")
      val in = ner.foldLeft(s)(_.add(_, StringType))
      val scored = withScores(corpus.sparkSession.createDataFrame(
          java.util.Collections.emptyList[Row], in),
        (col("__job"), col("__region"), col("__age"))).drop(ner: _*)
      def steps(p: LogicalPlan): List[InterpretedProjection] = p match {
        case Project(list, child) => steps(child) :+ new InterpretedProjection(list, child.output)
        case _: LocalRelation => Nil
      }
      val projections = steps(ReplaceExpressions(scored.queryExecution.analyzed))
      val internal = CatalystTypeConverters.createToCatalystConverter(in)
      (scored.schema, (rows: Seq[Row]) => projections.synchronized {
        rows.map(r => projections.foldLeft(internal(r).asInstanceOf[InternalRow])((row, p) => p(row)))
      })
    })

  private val localScorers = new java.util.concurrent.ConcurrentHashMap[
    StructType, (StructType, Seq[Row] => Seq[InternalRow])]()

  /** The rerank tail as a lazy plan, for [[searchRemindFixed]]: score
    * columns, top-N, rank. The rank window is global but runs over
    * ≤finalN rows (post-limit), so the single-partition sort is a
    * handful of rows, not a scale concern — this is the source of the
    * "No Partition Defined for Window" warnings Verify logs:
    * INTENTIONAL on these bounded final-rank projections (the r20
    * verdict's carry-over note; same pattern as
    * [[graft.operators.Bm25.rankBounded]]). */
  private def rerankTail(acc: DataFrame, ner: QueryNer): DataFrame = {
    val order = rankKeys.map { case (c, ascending) => if (ascending) asc(c) else desc(c) }
    withScores(acc, nerLits(ner)).orderBy(order: _*).limit(cfg.finalN)
      .withColumn("rank", row_number().over(Window.partitionBy(lit(0)).orderBy(order: _*)))
  }

  /** [[search]] with its count gates open: `relaxThreshold` and
    * `fallbackThreshold` at `Int.MaxValue`, so every stage of the
    * flagship list always runs — the static stage list c3/c6 replay in
    * DuckDB (union of per-stage top-k → keep-first dedup → rerank →
    * top-N + rank), minus the adaptivity. It IS [[search]]: the same
    * one-pass job over the pool, the same driver-side ladder and
    * rerank; only the gate thresholds differ. */
  def searchFixed(queryText: String, queryVec: Column): DataFrame =
    search(queryText, queryVec,
      cfg.copy(relaxThreshold = Int.MaxValue, fallbackThreshold = Int.MaxValue))

  /** [[search]] as ONE declarative plan: the batch core
    * ([[gatedBatchCore]]) over a one-row query log. The query resolves
    * on the driver ([[MultiStageSearch.resolveQuery]], the batch
    * prelude's driver path); every pool row (the `knnBackend` pool, or
    * the corpus) carries the query id, the resolved NER fields and
    * `queryVec` itself — a column of the pool, so a query vector that
    * is a corpus column works too — and the rerank text is read from
    * the same pool. The result is a lazy plan with no checkpoint, so
    * repeated calls retain nothing. `search ≡ searchGated` row for row
    * on any corpus (CascadeSpec pins it; c1/c5 assert it on the real
    * corpora).
    *
    * Needs an INTEGRAL corpus id: the core ranks on a long-cast id, so
    * a string id fails here, at call time ([[Ann.requireIntegralId]]);
    * [[search]] and [[searchFixed]] keep the id column untyped. */
  def searchGated(queryText: String, queryVec: Column): DataFrame = {
    Ann.requireIntegralId(corpus, idCol, "searchGated", "corpus id")
    MultiStageSearch.resolveQuery(queryNer, synonyms, profile, 0L, queryText)
      .fold(emptyResponse) { q =>
        val spark = corpus.sparkSession
        import spark.implicits._
        val nerDf = broadcast(
          Seq(q).toDF("__qid", "__job", "__region", "__age", "__syns"))
        val pool = knnBackend.fold(corpus)(_(queryVec))
        gatedBatchCore("__qid", nerDf, q._5.length,
          pool.crossJoin(nerDf).withColumn("__qv", queryVec), pool)
          .drop("__qid")
      }
  }

  /** The gated cascade for a BATCH of queries, as ONE data-parallel
    * plan — queries are rows, not driver round-trips. [[search]] scans
    * the pool once per query (|Q| scans in |Q| jobs for a query log);
    * this form scans the corpus TWICE TOTAL regardless of |Q|:
    *
    *  1. candidates: corpus ⨯ broadcast(queries) computes each pair's
    *     distance ONCE, tags it with the stage slots whose predicate
    *     it satisfies (slot masks are per-pair boolean expressions over
    *     the query's terms, carried as columns), and feeds ONE
    *     (qid, slot)-keyed bounded [[TopK]] aggregation — partial
    *     k-heaps map-side, so the single shuffle carries ≤ k rows per
    *     (partition × query × slot), never the corpus;
    *  2. text fetch: the surviving ≤ Σk·|Q| candidate ids broadcast-
    *     join back to the corpus for the rerank text.
    *
    * Each query's stage lists are gathered into one row per qid, and
    * [[MultiStageSearch.walk]] — the walk [[search]] runs on the
    * driver — applies the gates, keep-first dedup and stage numbering
    * to them inside a UDF, |Q| times in one narrow map instead of |Q|
    * driver plans. Per-query results are row-identical to [[search]]
    * (CascadeBatchSpec pins the identity across all four query
    * structures; c9 hash-checks the batch against per-query DuckDB
    * replays).
    *
    * The semantic boundary is scale-dispatched (see [[batchPrelude]]):
    * request-sized batches resolve NER/synonyms on the driver from the
    * collected (qid, text) pairs (the reference's per-request shape);
    * larger query logs resolve them inside the cluster via
    * `mapPartitions` — the driver never holds the texts. Vectors never
    * go near the boundary either way. Blank queries contribute zero
    * rows (the F4 guard, batch-shaped). Integral ids are REQUIRED on
    * both sides (the candidate entry is (double, long)) and enforced
    * eagerly
    * ([[Ann.requireIntegralId]]) — the internal non-ANSI long cast
    * would null non-numeric ids and silently drop their rows; not
    * available with a custom `knnBackend` — the batch plan IS the
    * candidate source.
    *
    * The query source must be DETERMINISTIC across re-scans: an
    * over-budget log is auto-sliced (see `sliceDispatch`), which
    * re-scans `queries` for the size probe, the count, and once per
    * slice rather than pinning a 10M-row vector-bearing frame whole. A
    * source whose rows shift between scans — `sample()`, a `limit`
    * over shuffled data, `rand()`-derived qids — can drop or duplicate
    * queries across slices in ways the per-slice duplicate guard
    * cannot see. Checkpoint such a source first (`localCheckpoint` or
    * a parquet round-trip); files, tables, and deterministic
    * transforms over them need nothing. */
  def searchGatedBatch(queries: DataFrame, qidCol: String,
                       qtextCol: String, qvecCol: String): DataFrame = {
    require(knnBackend.isEmpty,
      "searchGatedBatch builds its own batched candidate plan and cannot " +
        "honor a custom knnBackend — use per-query search for served " +
        "backends, or searchGatedBatchServed over a cluster-assigned index")
    Ann.requireIntegralId(corpus, idCol, "searchGatedBatch", "corpus id")
    Ann.requireIntegralId(queries, qidCol, "searchGatedBatch", "query id")
    def one(q: DataFrame): DataFrame =
      batchPrelude("searchGatedBatch", q, qidCol, qtextCol, qvecCol) match {
        case Left(empty) => empty
        case Right((nerDf, maxSyn, qframe)) =>
          gatedBatchCore(qidCol, nerDf, maxSyn,
            corpus.crossJoin(broadcast(qframe)), corpus)
      }
    sliceDispatch(queries, qidCol, qtextCol, qvecCol)(one)
      .getOrElse(one(queries))
  }

  /** [[searchGatedBatch]] over a cluster-assigned (IVF) index — the
    * high-QPS serving shape: the exact batch's pair stream touches
    * |corpus|·|Q| rows, this one touches only the pairs whose corpus
    * row lives in a cluster the query PROBES. Each query's probe list
    * ([[Ann.probeCellsUdf]], the rule c5/c8 apply through
    * [[Ann.probeList]]) is exploded into the broadcast query frame, one
    * row per (query, cell); joining the index on cluster_id against it
    * REPLACES the cross join, so each index row meets only the queries
    * probing its cluster — the pair stream shrinks by ~nprobe/k and,
    * over a stored partitioned index, the scan itself prunes to the
    * union of probed clusters. Per-query
    * results are row-identical to [[search]] with the equivalent
    * served backend (CascadeBatchSpec pins it); the gate ladder,
    * dedup, and rerank are [[gatedBatchCore]]'s, unchanged. Same
    * deterministic-query-source requirement as [[searchGatedBatch]]
    * (the auto-slicer re-scans the log; see that scaladoc). */
  def searchGatedBatchServed(queries: DataFrame, qidCol: String,
                             qtextCol: String, qvecCol: String,
                             centroids: DataFrame, cidCol: String,
                             cvecCol: String, nprobe: Int): DataFrame = {
    require(knnBackend.isEmpty,
      "searchGatedBatchServed probes the cluster-assigned corpus itself " +
        "and cannot honor a custom knnBackend")
    val cells = Ann.probeCellsUdf(Ann.Probe(centroids, cidCol, cvecCol, nprobe))
    require(corpus.columns.contains("cluster_id"),
      "searchGatedBatchServed needs a cluster-assigned corpus " +
        "(cluster_id column, from Ann.ivfAssign*)")
    Ann.requireIntegralId(corpus, idCol, "searchGatedBatchServed",
      "corpus id")
    Ann.requireIntegralId(queries, qidCol, "searchGatedBatchServed",
      "query id")
    def one(q: DataFrame): DataFrame =
      batchPrelude("searchGatedBatchServed", q, qidCol, qtextCol,
          qvecCol) match {
        case Left(empty) => empty
        case Right((nerDf, maxSyn, qframe)) =>
          val qprobe = qframe.withColumn("__cid", explode(cells(col("__qv"))))
          gatedBatchCore(qidCol, nerDf, maxSyn,
            corpus.join(broadcast(qprobe),
              col("cluster_id").cast("long") === col("__cid")), corpus)
      }
    // the served form's broadcast frame is qprobe — |Q| · nprobe rows,
    // not |Q| — so its slice budget divides by nprobe (the exact form
    // broadcasts qframe itself and keeps the full budget)
    sliceDispatch(queries, qidCol, qtextCol, qvecCol,
        budgetDivisor = nprobe)(one)
      .getOrElse(one(queries))
  }

  /** The 10M+-log escape hatch, automatic: a query log larger than the
    * broadcast budget ([[CascadeConfig.broadcastQueryMax]]) is
    * hash-sliced by qid and each slice served as its OWN plan,
    * SEQUENTIALLY — only one slice's query broadcast and pair stream
    * are ever live, because each slice's bounded result (≤ finalN·
    * |slice| rows, no vectors) is eagerly materialized
    * (localCheckpoint) before the next slice starts; the returned
    * frame is the cheap union of the materialized results. This is
    * [[graft.streaming.CascadeServe]]'s `maxBatchQueries` slicer
    * turned into an engine-side dispatch with a memory-derived
    * default, so the batch forms stop being bounded by a single
    * broadcastable query frame.
    *
    * Size detection is a LIMIT-probe (scan at most maxQ+1 qids), so
    * in-budget logs — the common case — never pay a full count; the
    * exact count (and so the slice count) is computed only on the
    * over-budget path. Per-slice work sums to the unsliced plan's
    * (each slice resolves only its own queries; the corpus is scanned
    * once per slice instead of once — the price of bounding memory).
    * Duplicate qids land in the SAME hash slice, so the per-slice
    * prelude guard still catches them. The query source is re-scanned
    * once per slice rather than checkpointed: a 10M-row vector-bearing
    * log is exactly what must NOT be pinned whole — which is why the
    * source must be DETERMINISTIC across re-scans (see the entry
    * points' scaladoc). `budgetDivisor` scales the budget to the
    * caller's broadcast WIDTH: the served form broadcasts |Q| · nprobe
    * probe rows per slice, so it passes nprobe. Slices are hash-sized
    * only in EXPECTATION, so the slice count targets 80% of the
    * budget: at small slice counts binomial skew routinely pushes one
    * slice ~10% past n/nSlices, and the budget guards a memory cliff
    * (broadcast abort at `maxResultSize`), not a soft target — the
    * headroom makes the expected worst slice land under it. Returns
    * None when the log fits the budget — the caller runs the
    * single-plan form. */
  private def sliceDispatch(queries: DataFrame, qidCol: String,
                            qtextCol: String, qvecCol: String,
                            budgetDivisor: Int = 1)
      (perSlice: DataFrame => DataFrame): Option[DataFrame] = {
    val maxQ = resolvedBroadcastQueryMax(queries, qtextCol, qvecCol,
      budgetDivisor)
    val over = queries.select(col(qidCol)).limit(maxQ + 1).count() > maxQ
    if (!over) return None
    val n = queries.count()
    // 80% of the budget per slice, ROUNDED: floor would turn a tiny
    // explicit override (maxQ=2, the c11 harness shape) into 1-query
    // slices and double its deliberate slicing tax, while at derived
    // scale (~millions) round vs floor is noise and the headroom holds
    val target = math.max(1L, math.round(maxQ * 0.8))
    val nSlices = math.min(Int.MaxValue.toLong,
      (n + target - 1) / target).toInt
    val parts = (0 until nSlices).map { j =>
      perSlice(queries.filter(
          pmod(hash(col(qidCol)), lit(nSlices)) === j))
        .localCheckpoint(true)
    }
    Some(parts.reduce(_ unionByName _))
  }

  /** The per-slice query budget, in ROWS. A positive
    * `cfg.broadcastQueryMax` wins verbatim (a deployment that knows
    * its row width); the 0 default derives it WIDTH-AWARE from the JVM
    * heap: 1/16 of the heap in broadcast bytes, divided by the query
    * log's MEASURED row width (one bounded probe of `size(qvec)` +
    * `length(qtext)`, [[MultiStageSearch.probedQueryRowBytes]]) —
    * never a flat rows-per-GiB constant. The flat ~1 KiB/row
    * assumption this replaces was only right near dim 64: at the
    * reference's own 1024-dim embeddings a resolved row carries ~8 KiB
    * of `array<double>` alone, so the old default admitted ~8× the
    * intended broadcast bytes — reproducing the exact `maxResultSize`
    * abort the slicer exists to prevent (the round-16 10M probe
    * measured that kill). Both forms divide by `budgetDivisor`: the
    * served form's broadcast is |Q| · nprobe probe rows, not |Q|. */
  private[graft] def resolvedBroadcastQueryMax(
      queries: DataFrame, qtextCol: String, qvecCol: String,
      budgetDivisor: Int = 1): Int = {
    val base: Long =
      if (cfg.broadcastQueryMax > 0) cfg.broadcastQueryMax.toLong
      else {
        // the abort the budget guards is the BroadcastExchange collect
        // crossing spark.driver.maxResultSize, so the byte budget must
        // respect the session's ACTUAL limit, not just heap/16 — a
        // 32 GiB driver at the default 1g maxResultSize would
        // otherwise derive 2 GiB slices that still die at collect
        // (bare numbers are MiB, Spark's own rule for this key; 0 =
        // unlimited, heap-only budget)
        val mrs = queries.sparkSession.sparkContext.getConf
          .getSizeAsMb("spark.driver.maxResultSize", "1g") << 20
        MultiStageSearch.broadcastBudgetRows(
          MultiStageSearch.probedQueryRowBytes(queries, qtextCol, qvecCol),
          Runtime.getRuntime.maxMemory, mrs)
      }
    math.max(1L, math.min(base / math.max(1, budgetDivisor),
      Int.MaxValue.toLong - 1)).toInt
  }

  /** Shared batch prelude: the SEMANTIC boundary, scale-dispatched.
    * Only (qid, text) ever feeds NER/synonym resolution (L2/L3 are
    * external calls — vectors never go near them); HOW it runs depends
    * on the batch size, limit-probed with `semanticDriverBatchMax + 1`
    * rows (the d6 limit-probe idiom — a request-sized batch is
    * collected WHOLE by the probe itself, so the dispatch costs
    * nothing extra on the path it picks):
    *
    *  - request-sized (≤ `cfg.semanticDriverBatchMax`): resolved on
    *    the driver, one call per query — the reference's per-request
    *    shape, no Spark job;
    *  - larger (an offline query log): resolved INSIDE the cluster via
    *    `mapPartitions` over the (qid, text) projection — SURVEY
    *    §2.7's prescribed batch shape — with the duplicate-qid guard
    *    as a counts-only aggregate and the ner frame localCheckpointed
    *    (it is read 3× downstream: isEmpty, syn-width, joins). The
    *    texts are never COLLECTED to the driver for resolution (the
    *    round-15 probe measured the driver path collapsing at 1M
    *    queries); the resolved compact frame IS still broadcast,
    *    because the whole batch design broadcasts the query side (the
    *    pair stream is corpus × broadcast(queries)) — so a SINGLE
    *    plan stays bounded by a broadcastable query frame. Logs
    *    beyond that bound no longer need a manual knob: the public
    *    batch entry points auto-slice them BEFORE this prelude runs
    *    ([[MultiStageSearch.sliceDispatch]],
    *    `cfg.broadcastQueryMax`), so every batch that reaches here
    *    is already within the broadcast budget.
    *
    * Both paths produce the identical ner frame through the same
    * [[MultiStageSearch.resolveQuery]] (CascadeBatchSpec pins
    * driver == distributed on the full output). Returns the
    * broadcastable ner frame, the batch's synonym-slot width, and the
    * query frame (vectors stay distributed); Left(typed empty) when
    * every query is blank. */
  private def batchPrelude(op: String, queries: DataFrame, qidCol: String,
                           qtextCol: String, qvecCol: String)
      : Either[DataFrame, (DataFrame, Int, DataFrame)] = {
    val spark = corpus.sparkSession
    import spark.implicits._
    def typedEmpty = Left(emptyResponse.crossJoin(
        spark.range(0).select(col("id").as("__qid")))
      .select(batchOutCols(qidCol): _*))
    // clamp to [0, MaxValue - 1]: the probe fetches lim + 1 rows, and
    // a caller pinning the driver path with Int.MaxValue must not
    // overflow the limit into a negative
    val lim = math.min(math.max(cfg.semanticDriverBatchMax, 0),
      Int.MaxValue - 1)
    val probe = queries
      .select(col(qidCol).cast("long"), col(qtextCol).cast("string"))
      .limit(lim + 1).collect()
    val (nerSrc, maxSyn): (DataFrame, Int) =
      if (probe.length <= lim) {
        val qmeta = probe.toSeq.map(r => (r.getLong(0), r.getString(1)))
        require(qmeta.map(_._1).distinct.length == qmeta.length,
          s"$op: duplicate $qidCol values in the query batch")
        val resolved = qmeta.flatMap { case (qid, t) =>
          MultiStageSearch.resolveQuery(queryNer, synonyms, profile, qid, t)
        }
        if (resolved.isEmpty) return typedEmpty
        (resolved.toDF("__qid", "__job", "__region", "__age", "__syns"),
          resolved.map(_._5.length).max)
      } else {
        val dups = queries.groupBy(col(qidCol)).count()
          .filter(col("count") > 1).limit(1).count()
        require(dups == 0,
          s"$op: duplicate $qidCol values in the query batch")
        // locals only — the task closure must not capture `this`
        // (MultiStageSearch holds DataFrames)
        val (qn, syn, prof) = (queryNer, synonyms, profile)
        val ner = queries
          .select(col(qidCol).cast("long"), col(qtextCol).cast("string"))
          .as[(Long, String)]
          .mapPartitions(_.flatMap { case (qid, t) =>
            MultiStageSearch.resolveQuery(qn, syn, prof, qid, t)
          })
          .toDF("__qid", "__job", "__region", "__age", "__syns")
          .localCheckpoint(true)
        if (ner.isEmpty) return typedEmpty
        (ner, ner.agg(max(size(col("__syns")))).collect()(0).getInt(0))
      }
    val nerDf = broadcast(nerSrc)
    val qframe = queries
      .select(col(qidCol).cast("long").as("__qid"),
        col(qvecCol).cast("array<double>").as("__qv"))
      .join(nerDf, "__qid") // inner join drops blank queries
    Right((nerDf, maxSyn, qframe))
  }

  private def batchOutCols(qidCol: String): Seq[Column] =
    Seq(col("__qid").as(qidCol), col(idCol), col(textCol),
      col("dist"), col("stage_rank"), col("judge_score"), col("rule_score"),
      col("score"), col("rank"))

  /** The batched gate-ladder pipeline over an already-joined
    * (corpus row × query) pair stream: slot masks → windowed top-k per
    * (qid, slot) → one row per qid → [[MultiStageSearch.walk]] (gates,
    * keep-first dedup, stage numbering) → text fetch from `texts` →
    * [[withScores]] rerank. Shared verbatim by the exact batch, the
    * served batch and [[searchGated]] (a one-row log over its pool) —
    * only the pair stream and the text source differ, which is exactly
    * the backend-independence the identity gates pin. */
  private def gatedBatchCore(qidCol: String, nerDf: DataFrame, maxSyn: Int,
                             paired: DataFrame, texts: DataFrame): DataFrame = {
    val slots = slotPredicates(col("__job"), col("__region"),
      (0 until maxSyn).map(i => get(col("__syns"), lit(i)))) // null past the end
    // null-embedding rows carry a null distance and are excluded from
    // every slot BEFORE the per-slot cut — the same contract the
    // single-query form's stages enforce via Knn.exactDefined (a null
    // dist would otherwise rank FIRST under Spark's ascending NULLS
    // FIRST and eat the stage's k), so batch == per-query holds on
    // corpora with null embeddings
    val pairs = paired
      .select(col("__qid"),
        col(idCol).cast("long").as("__id"),
        VectorFunctions.l2(col(embCol), col("__qv")).as("__dist"),
        array(slots.zipWithIndex.map { case (ok, s) =>
          struct(lit(s).as("slot"), ok.as("ok"))
        }: _*).as("__slots"))
      .filter(col("__dist").isNotNull)
      .select(col("__qid"), col("__id"), col("__dist"),
        explode(col("__slots")).as("__e"))
      .filter(col("__e").getField("ok"))
      .select(col("__qid"), col("__e").getField("slot").as("__slot"),
        col("__dist"), col("__id"))
    // Per-(qid, slot) top-k via a rank-limit window rather than the
    // TopK Aggregator: the `row_number <= k` filter triggers Spark's
    // InferWindowGroupLimit, which inserts a PARTIAL group-limit
    // before the exchange, so ≤ maxK rows per (map partition × qid ×
    // slot) cross it — the same bound the Aggregator's partial heaps
    // give. A controlled A/B (identical materialized 10M-row pair
    // stream, interleaved, quiet box — PLANS.md round-14 correction)
    // measured the two forms EQUAL on wall-clock; the window form is
    // kept because it is native end-to-end (no Aggregator buffer
    // tuning, plan-auditable via the WindowGroupLimit node), not
    // because it is faster. The row number carries the (dist, id)
    // order in Spark's ordering to the walk.
    val wTop = Window.partitionBy("__qid", "__slot")
      .orderBy(col("__dist"), col("__id"))
    val walked = pairs
      .withColumn("__rn", row_number().over(wTop))
      .filter(col("__rn") <= math.max(cfg.topK, cfg.fallbackK))
      .groupBy("__qid")
      .agg(collect_list(struct(col("__slot"), col("__rn"), col("__dist"),
        col("__id"))).as("__cand"))
      .join(nerDf, "__qid")
      .select(col("__qid"), col("__job"), col("__region"), col("__age"),
        explode(MultiStageSearch.walkUdf(cfg)(col("__job").isNotNull,
          col("__region").isNotNull, size(col("__syns")), col("__cand"))).as("__e"))
      .select(col("*"), col("__e._1").as("stage_rank"),
        col("__e._2").as("dist"), col("__e._3").as("__id"))
      .drop("__e")

    // pass 2 (text) + rerank
    val withText = broadcast(walked)
      .join(texts.select(col(idCol).cast("long").as("__id"),
        col(textCol)), "__id")
    val wq = Window.partitionBy("__qid")
      .orderBy(desc("score"), asc("dist"), asc("__id"))
    withScores(withText, (col("__job"), col("__region"), col("__age")))
      .withColumn("rank", row_number().over(wq))
      .filter(col("rank") <= cfg.finalN)
      .withColumn(idCol, col("__id").cast(corpus.schema(idCol).dataType))
      .select(batchOutCols(qidCol): _*)
  }

  /** The main_remind.py composition (SURVEY.md §3.4): stage 0 scans a
    * large candidate pool (k≈corpus) and POST-filters on the parsed
    * NER metadata (F3/F2 — /root/reference/main_remind.py:409-474),
    * falling back to the unfiltered pool when fewer than
    * `relaxThreshold` survive; then the same rerank tail. Same
    * operators as [[search]], different composition — configurable
    * policy, not a hard-coded pipeline. */
  def searchRemind(queryText: String, queryVec: Column,
                   scanK: Int = 1000): DataFrame = {
    if (isBlank(queryText)) return emptyResponse
    val ner = resolvedNer(queryText)

    val pool = Knn.exactDefined(corpus, embCol, idCol, queryVec, scanK)
      .select(col(idCol), col(textCol), col("dist"))
    val poolRows = pool.collect()

    // F2/F3 post-filter on the scanned pool, driver-side over ≤scanK rows
    val textIdx = 1
    def keep(r: Row): Boolean = {
      // null text = non-matching (the columnar path tolerates nulls too)
      if (r.isNullAt(textIdx)) return false
      val t = r.getString(textIdx).toLowerCase
      ner.job.forall(j => t.contains(j.toLowerCase)) &&
        ner.region.forall(rg => t.contains(rg.toLowerCase))
    }
    val filtered = poolRows.filter(keep)
    val kept = if (filtered.length >= cfg.relaxThreshold) filtered else poolRows

    rerankLocal(kept.toSeq.map(r => Row.fromSeq(r.toSeq :+ 1)),
      pool.schema.add(StructField("stage_rank", IntegerType, nullable = false)), ner)
  }

  /** [[searchRemind]] WITH its adaptive gate, as one declarative plan.
    *
    * The remind composition has exactly ONE gate (fewer than
    * `relaxThreshold` post-filter survivors ⇒ fall back to the
    * unfiltered pool), and a single count-gate over a single pool IS
    * relationally expressible: flag matching pool rows, aggregate the
    * flag count (1 row), broadcast it back over the pool, and keep
    * `match=1 OR count<threshold`. No driver-side collect, and the
    * ADAPTIVITY itself sits inside the oracle-checked plan (c4).
    *
    * Scale shape: the pool is one filter ∘ distance ∘
    * TakeOrderedAndProject (≤scanK rows); everything after operates on
    * that bounded relation; the count broadcast is 1 row. */
  def searchRemindFixed(queryText: String, queryVec: Column,
                        scanK: Int = 1000): DataFrame = {
    if (isBlank(queryText)) return emptyResponse
    val ner = resolvedNer(queryText)
    val pool = Knn.exactDefined(corpus, embCol, idCol, queryVec, scanK)
      .select(col(idCol), col(textCol), col("dist"))
    // keep(r): null text never matches; absent NER fields don't filter
    val pred = col(textCol).isNotNull &&
      ner.job.map(contains).getOrElse(lit(true)) &&
      ner.region.map(contains).getOrElse(lit(true))
    val flagged = pool.withColumn("__match", when(pred, 1).otherwise(0))
    val cnt = flagged.agg(sum("__match").as("__n"))
    val kept = flagged.crossJoin(broadcast(cnt))
      .filter(col("__match") === 1 || col("__n") < cfg.relaxThreshold)
      .withColumn("stage_rank", lit(1))
      .select(col(idCol), col(textCol), col("dist"), col("stage_rank"))
    rerankTail(kept, ner)
  }
}

object MultiStageSearch {

  private[operators] def isBlankText(t: String): Boolean =
    t == null || t.trim.isEmpty

  /** The flagship ladder's shape (main.py:329-411) for a query with the
    * given NER fields and synonym count: its gate groups in ladder
    * order, each (gate, stages) with stage = (slot, k). A group runs
    * when fewer than `gate` distinct ids are kept before it
    * (Int.MaxValue: always), all its stages or none. Slots: 0 S1
    * strict AND, 1 S2 OR, 2 region, 3 job, 4 the unfiltered fallback,
    * 5 + i synonym i — the order `slotPredicates` builds them in. */
  private[graft] def ladder(job: Boolean, region: Boolean, nSyn: Int,
      c: CascadeConfig): Seq[(Int, Seq[(Int, Int)])] = List(
    Int.MaxValue -> List(0 -> c.topK),                             // S1 (main.py:341-347)
    c.relaxThreshold -> List(1 -> c.topK).filter(_ => job && region), // S2 (main.py:351-360)
    c.relaxThreshold -> List(2 -> region, 3 -> job)                 // S3 (main.py:363-383)
      .collect { case (slot, true) => slot -> c.topK },
    Int.MaxValue -> List.tabulate(nSyn)(i => (5 + i) -> c.topK),    // S4 (main.py:386-397)
    c.fallbackThreshold -> List(4 -> c.fallbackK))                  // S5 (main.py:400-407)

  /** The ladder walk over per-slot top-k lists (`lists(slot)`, ranked
    * best first): a group's gate reads the number of distinct ids kept
    * so far; each stage that runs reads its slot's first k rows and is
    * numbered 1, 2, … in ladder order (a skipped or absent stage takes
    * no number); keep-first dedup (A1: first stage wins, then the
    * list's order — main.py:173-181) keeps a row only at its id's
    * first occurrence. Returns the kept rows with their stage numbers,
    * in walk order. */
  private[graft] def walk[A](ladder: Seq[(Int, Seq[(Int, Int)])],
      lists: Int => Seq[A])(id: A => Any): Seq[(A, Int)] = {
    val seen = scala.collection.mutable.HashSet.empty[Any]
    val kept = Vector.newBuilder[(A, Int)]
    var stage = 0
    ladder.foreach { case (gate, stages) =>
      if (seen.size < gate) stages.foreach { case (slot, k) =>
        stage += 1
        lists(slot).iterator.take(k).foreach(a => if (seen.add(id(a))) kept += a -> stage)
      }
    }
    kept.result()
  }

  /** [[walk]] for the batch core, one call per qid: (job defined,
    * region defined, synonym count, the qid's window rows as
    * (slot, row number, dist, id)) → (stage, dist, id) per kept row.
    * Built here so the closure holds the config alone, not the
    * DataFrame-holding instance. */
  private def walkUdf(c: CascadeConfig) =
    udf { (job: Boolean, region: Boolean, nSyn: Int, cand: Seq[Row]) =>
      val lists = cand.groupBy(_.getInt(0)).map { case (s, rs) => s -> rs.sortBy(_.getInt(1)) }
      walk(ladder(job, region, nSyn, c), lists.getOrElse(_, Nil))(_.getLong(3))
        .map { case (r, stage) => (stage, r.getDouble(2), r.getLong(3)) }
    }

  /** One query's semantic resolution — the F4 blank guard, L2 NER +
    * profile coalesce, L3 synonyms — as a pure function of the
    * (serializable) semantic doubles, shared verbatim by the batch
    * prelude's driver-collect and `mapPartitions` paths so the two are
    * identical by construction. None = blank query (contributes no
    * row, the batch-shaped F4 guard). */
  private[operators] def resolveQuery(qn: RuleQueryNer, syn: DictSynonyms,
      prof: UserProfile, qid: Long, t: String)
      : Option[(Long, String, String, String, Seq[String])] =
    if (isBlankText(t)) None
    else {
      val ner = qn(t).withDefaults(prof)
      Some((qid, ner.job.orNull, ner.region.orNull, ner.ageGroup.orNull,
        ner.job.toSeq.flatMap(syn(_))))
    }

  /** Fixed per-row overhead charged on top of the measured vector and
    * text bytes: the resolved ner/synonym fields, UnsafeRow struct
    * headers, and broadcast-side object slack. 512 B keeps the dim-64
    * derivation where the round-16 probe validated it (~1 KiB rows ⇒
    * ~2M queries per 32 GiB driver). */
  private[graft] val QueryRowOverheadBytes = 512L

  /** The query log's in-broadcast row width, MEASURED: one bounded
    * probe (LIMIT 32 over non-null-vector rows, a single tiny task) of
    * max `size(qvec)` × 8 B (`array<double>`) + max `length(qtext)` ×
    * 2 B (UTF-16 slack over UTF8String) + [[QueryRowOverheadBytes]].
    * The MAX over a small sample, not the first row: vector width is
    * constant per log but text lengths vary, and a short-text first
    * row would under-report the width and re-admit part of the
    * over-broadcast. Rows with a null vector are skipped (same
    * under-report hazard); an all-null or empty log measures overhead
    * only — correct, those rows broadcast no vector bytes. One probe
    * per batch dispatch, paid on the in-budget path too — a 32-row
    * scan is noise next to the prelude's own limit-probe. */
  private[graft] def probedQueryRowBytes(queries: DataFrame,
      qtextCol: String, qvecCol: String): Long = {
    val probe = queries
      .filter(col(qvecCol).isNotNull)
      .select(
        coalesce(size(col(qvecCol).cast("array<double>")), lit(0)).as("d"),
        coalesce(length(col(qtextCol).cast("string")), lit(0)).as("t"))
      .limit(32)
      .agg(coalesce(max(col("d")), lit(0)).as("d"),
        coalesce(max(col("t")), lit(0)).as("t"))
      .collect()
    val (dims, chars) =
      if (probe.isEmpty) (0, 0) else (probe(0).getInt(0), probe(0).getInt(1))
    8L * dims + 2L * chars + QueryRowOverheadBytes
  }

  /** (heap, maxResultSize) → per-slice query-row budget: the LESSER of
    * 1/16 of the heap (the round-16-validated ratio — at ~1 KiB rows
    * this IS the old heapGiB × 65536 constant) and HALF the driver's
    * `maxResultSize` (the broadcast collect is what actually aborts;
    * half leaves room for the task-result framing and any concurrent
    * collect), divided by the measured row width instead of an assumed
    * one. `maxResultBytes <= 0` = unlimited (Spark's own 0 semantics
    * for the key) — heap-only budget. */
  private[graft] def broadcastBudgetRows(rowBytes: Long,
      heapBytes: Long, maxResultBytes: Long): Long = {
    val heapBudget = math.max(1L, heapBytes / 16)
    val mrsBudget =
      if (maxResultBytes <= 0) Long.MaxValue
      else math.max(1L, maxResultBytes / 2)
    math.max(1L, math.min(heapBudget, mrsBudget) / math.max(1L, rowBytes))
  }
}
