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
import org.apache.spark.sql.types.{ArrayType, DoubleType, IntegerType, LongType, StringType, StructField, StructType}
import scala.jdk.CollectionConverters._

/** The cascade's policy: each stage's k (`topK`, the fallback's
  * `fallbackK`), the count gates (`relaxThreshold`,
  * `fallbackThreshold`), the result size `finalN` and the rerank
  * weights. How a batch log is run is not configured here: the engine
  * sizes it ([[MultiStageSearch.BatchLogLimit]] and the measured driver
  * budget, see [[MultiStageSearch.searchGatedBatch]]). */
final case class CascadeConfig(
    topK: Int = 10,
    relaxThreshold: Int = 5,
    fallbackThreshold: Int = 15,
    fallbackK: Int = 15,
    finalN: Int = 5,
    wJudge: Double = 0.7,
    wRule: Double = 0.3)

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
  * driver, and so do the batch forms (`searchGatedBatch`,
  * `searchGatedBatchServed`) for a request-sized log: one pass ranks
  * every (query, stage) top-k, grouped by qid. Larger logs and
  * `searchGated` run the distributed batch core, which walks each
  * query's windowed lists in a UDF.
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
      stages.map { case (slot, k) => (Some(preds(slot)), k) }).get(())).toMap
    val kept = MultiStageSearch.walk(ladder, ranked)(_.get(0)).map {
      case (r, stage) => Row(r.get(0), r.get(1), r.get(2), stage)
    }

    // hybrid rerank → top-N → rank (main.py:410,455-469)
    rerankLocal(Seq((Nil, kept, nerValues(ner))), keptSchema(pool.schema), Nil)
  }

  /** The (id, text, dist, stage_rank) rows a walk keeps from a pool of
    * schema `pool`, as the driver rerank reads them. */
  private def keptSchema(pool: StructType): StructType = StructType(Seq(pool(idCol),
    pool(textCol), StructField("dist", DoubleType, nullable = false),
    StructField("stage_rank", IntegerType, nullable = false)))

  /** A query's NER fields (job, region, age) as the driver rerank reads
    * them, null when absent. */
  private def nerValues(ner: QueryNer): Seq[String] =
    Seq(ner.job, ner.region, ner.ageGroup).map(_.orNull)

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

  /** The rerank tail over rows already on the driver, for one query or
    * many: per query, the [[localScorer]] columns on its kept rows (of
    * `schema`) with its NER values ([[nerValues]]), then the
    * [[rankKeys]] order in Spark's ordering ([[TopK.sparkOrdering]]),
    * top-N and rank 1..n, each row led by the query's `lead` values (a
    * batch's qid; nothing for a single query). Returned as one
    * LocalRelation of `lead` + the scored columns + rank, so the
    * caller's collect runs no job. */
  private def rerankLocal(queries: Seq[(Seq[Any], Seq[Row], Seq[String])],
                          schema: StructType, lead: Seq[StructField]): DataFrame = {
    val (scoredSchema, score) = localScorer(schema)
    val order = TopK.sparkOrdering(scoredSchema, rankKeys)
    val external = CatalystTypeConverters.createToScalaConverter(scoredSchema)
    val rows = queries.flatMap { case (key, kept, ner) =>
      score(kept.map(r => Row.fromSeq(r.toSeq ++ ner)))
        .sorted(order).take(cfg.finalN).zipWithIndex.map { case (r, i) =>
          Row.fromSeq(key ++ external(r).asInstanceOf[Row].toSeq :+ (i + 1))
        }
    }
    corpus.sparkSession.createDataFrame(rows.asJava, StructType(lead ++
      scoredSchema.add(StructField("rank", IntegerType, nullable = false))))
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
    * on the driver ([[MultiStageSearch.resolveQuery]], as a
    * request-sized batch resolves); every pool row (the `knnBackend` pool, or
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

  /** The gated cascade for a BATCH of queries: queries are rows, not
    * driver round-trips, and per-query results are row-identical to
    * [[search]] (CascadeBatchSpec pins the identity across all four
    * query structures; c9 hash-checks the batch against per-query
    * DuckDB replays). Two shapes, chosen by the engine alone
    * ([[batchDispatch]]) on the log's size, at most
    * [[MultiStageSearch.BatchLogLimit]] queries, and on the one pass's
    * candidate bytes against the driver budget:
    *
    *  - a REQUEST-SIZED log (the serving case) is read once on the
    *    driver — its rows and count in one bounded read — and answered
    *    in ONE pass ([[batchOnDriver]]): the corpus paired with
    *    a broadcast local frame of the resolved queries feeds
    *    [[TopK.slotTopK]] with the qid as group key, a bounded heap per
    *    (query, stage slot) per partition; the gates, keep-first dedup
    *    ([[MultiStageSearch.walk]]) and the rerank then run on the driver,
    *    as in [[search]], and the result is a LocalRelation, so the
    *    caller's collect starts no job. Two jobs per log: the broadcast
    *    of the query frame and the pass. When the candidates the pass
    *    would send the driver overflow its budget, the pass stops early
    *    and the log takes the distributed core instead;
    *  - a larger (offline) log keeps the distributed core: NER/synonyms
    *    resolve inside the cluster via `mapPartitions` ([[batchPrelude]]),
    *    and [[gatedBatchCore]] ranks each (qid, slot)'s top-k in a
    *    windowed plan over corpus ⨯ broadcast(queries), walks each qid's
    *    lists in a UDF and fetches the rerank text by a broadcast join —
    *    the driver never holds the texts. Over-budget logs are
    *    auto-sliced first (`sliceDispatch`).
    *
    * Vectors never go near the semantic boundary either way. Blank
    * queries contribute zero rows (the F4 guard, batch-shaped).
    * Integral ids are REQUIRED on both sides (the candidate entry is
    * (double, long)) and enforced eagerly ([[Ann.requireIntegralId]]) —
    * the internal non-ANSI long cast would null non-numeric ids and
    * silently drop their rows; not available with a custom `knnBackend`
    * — the batch plan IS the candidate source.
    *
    * The query source must be DETERMINISTIC across re-scans: past the
    * size read, the distributed path and its auto-slicer
    * (`sliceDispatch`) scan `queries` again for the count and once per
    * slice rather than pinning a 10M-row vector-bearing frame whole. A
    * source whose rows shift between scans — `sample()`, a `limit`
    * over shuffled data, `rand()`-derived qids — can drop or duplicate
    * queries across slices in ways the per-slice duplicate guard
    * cannot see. Checkpoint such a source first (`localCheckpoint` or
    * a parquet round-trip); files, tables, and deterministic
    * transforms over them need nothing. */
  def searchGatedBatch(queries: DataFrame, qidCol: String,
                       qtextCol: String, qvecCol: String): DataFrame =
    searchGatedBatch(queries, qidCol, qtextCol, qvecCol, engineSizing)

  /** [[searchGatedBatch]] under a given size policy rather than the
    * engine's own ([[MultiStageSearch.BatchSizing]]), so a spec or the
    * c11 harness row can put a small log on either path and through
    * the slicer. */
  private[graft] def searchGatedBatch(queries: DataFrame, qidCol: String,
      qtextCol: String, qvecCol: String,
      sizing: MultiStageSearch.BatchSizing): DataFrame = {
    require(knnBackend.isEmpty,
      "searchGatedBatch builds its own batched candidate plan and cannot " +
        "honor a custom knnBackend — use per-query search for served " +
        "backends, or searchGatedBatchServed over a cluster-assigned index")
    Ann.requireIntegralId(corpus, idCol, "searchGatedBatch", "corpus id")
    Ann.requireIntegralId(queries, qidCol, "searchGatedBatch", "query id")
    batchDispatch("searchGatedBatch", queries, qidCol, qtextCol, qvecCol,
        sizing, None, budgetDivisor = 1) { q =>
      batchPrelude("searchGatedBatch", q, qidCol, qtextCol, qvecCol) match {
        case Left(empty) => empty
        case Right((nerDf, maxSyn, qframe)) =>
          gatedBatchCore(qidCol, nerDf, maxSyn,
            corpus.crossJoin(broadcast(qframe)), corpus)
      }
    }
  }

  /** [[searchGatedBatch]] over a cluster-assigned (IVF) index — the
    * high-QPS serving shape: the exact batch's pair stream touches
    * |corpus|·|Q| rows, this one touches only the pairs whose corpus
    * row lives in a cluster the query PROBES (the rule c5/c8 apply
    * through [[Ann.probeList]]), so the pair stream shrinks by ~nprobe/k
    * and, over a stored partitioned index, the scan prunes to the union
    * of probed clusters. Per-query results are row-identical to
    * [[search]] with the equivalent served backend (CascadeBatchSpec
    * pins it). Same two shapes as [[searchGatedBatch]]:
    *
    *  - a request-sized log is probed on the driver ([[Ann.probeCells]]
    *    over [[Ann.collectCentroids]]) into a local (query, cell) frame,
    *    broadcast against the index rows of the probed cells, and
    *    answered in [[batchOnDriver]]'s one pass — three jobs per log:
    *    the centroid collect, the broadcast and the pass;
    *  - a larger log explodes each query's probe list
    *    ([[Ann.probeCellsUdf]]) into the broadcast query frame, one row
    *    per (query, cell), and runs [[gatedBatchCore]] over the index
    *    joined on cluster_id against it.
    *
    * Same deterministic-query-source requirement as
    * [[searchGatedBatch]] (see that scaladoc). */
  def searchGatedBatchServed(queries: DataFrame, qidCol: String,
                             qtextCol: String, qvecCol: String,
                             centroids: DataFrame, cidCol: String,
                             cvecCol: String, nprobe: Int): DataFrame =
    searchGatedBatchServed(queries, qidCol, qtextCol, qvecCol, centroids,
      cidCol, cvecCol, nprobe, engineSizing)

  /** [[searchGatedBatchServed]] under a given size policy, as the
    * sized [[searchGatedBatch]]. */
  private[graft] def searchGatedBatchServed(queries: DataFrame,
      qidCol: String, qtextCol: String, qvecCol: String,
      centroids: DataFrame, cidCol: String, cvecCol: String, nprobe: Int,
      sizing: MultiStageSearch.BatchSizing): DataFrame = {
    require(knnBackend.isEmpty,
      "searchGatedBatchServed probes the cluster-assigned corpus itself " +
        "and cannot honor a custom knnBackend")
    val probe = Ann.Probe(centroids, cidCol, cvecCol, nprobe)
    require(corpus.columns.contains("cluster_id"),
      "searchGatedBatchServed needs a cluster-assigned corpus " +
        "(cluster_id column, from Ann.ivfAssignBig)")
    Ann.requireIntegralId(corpus, idCol, "searchGatedBatchServed",
      "corpus id")
    Ann.requireIntegralId(queries, qidCol, "searchGatedBatchServed",
      "query id")
    lazy val cells = Ann.probeCellsUdf(probe)
    lazy val cents = Ann.collectCentroids(centroids, cidCol, cvecCol)
    // the served form's broadcast frame is |Q| · nprobe rows, not |Q|,
    // so its slice budget divides by nprobe (the exact form broadcasts
    // the query frame itself and keeps the full budget)
    batchDispatch("searchGatedBatchServed", queries, qidCol, qtextCol,
        qvecCol, sizing, Some(Ann.probeCellsOf(cents, _, nprobe)),
        budgetDivisor = nprobe) { q =>
      batchPrelude("searchGatedBatchServed", q, qidCol, qtextCol,
          qvecCol) match {
        case Left(empty) => empty
        case Right((nerDf, maxSyn, qframe)) =>
          val qprobe = qframe.withColumn("__cid", explode(cells(col("__qv"))))
          gatedBatchCore(qidCol, nerDf, maxSyn,
            corpus.join(broadcast(qprobe),
              col("cluster_id").cast("long") === col("__cid")), corpus)
      }
    }
  }

  /** The size policy of both batch forms, in one place: the log is read
    * on the driver by one bounded read of `sizing.logLimit + 1` rows
    * (the d6 limit-probe idiom) as (qid, text, vector) rows. A log that
    * fits in it is answered by [[batchOnDriver]]'s one pass (probed
    * into `cells` for the served form) while its candidates fit
    * `sizing.driverBytes`; a larger or over-budget log runs the
    * distributed core (`core`), auto-sliced first when it overflows the
    * slice budget ([[sliceDispatch]], which reuses the rows this read
    * already holds). */
  private def batchDispatch(op: String, queries: DataFrame, qidCol: String,
      qtextCol: String, qvecCol: String, sizing: MultiStageSearch.BatchSizing,
      cells: Option[Seq[java.lang.Double] => Array[Long]], budgetDivisor: Int)
      (core: DataFrame => DataFrame): DataFrame = {
    val held = queries.select(col(qidCol).cast("long"),
        col(qtextCol).cast("string"), col(qvecCol).cast("array<double>"))
      .limit(sizing.logLimit + 1).collect()
    Some(held).filter(_.length <= sizing.logLimit)
      .flatMap(batchOnDriver(op, _, qidCol, cells, sizing.driverBytes))
      .orElse(sliceDispatch(queries, qidCol, held, sizing, budgetDivisor)(core))
      .getOrElse(core(queries))
  }

  /** The batch cascade over a log already on the driver (`log`: (qid,
    * text, vector) rows from [[batchDispatch]]) in ONE pass over the pool:
    * the queries resolve on the driver ([[MultiStageSearch.resolveQuery]],
    * blank ones drop out) into a local frame (qid, vector, NER fields,
    * synonyms) — one row per query, or with `cells` one per (query,
    * probed cell) — broadcast against the corpus (a cross join, or with
    * `cells` a join on cluster_id over the probed cells only). Every
    * pair's distance is computed once and [[TopK.slotTopK]], grouped by
    * qid, keeps each (query, slot)'s top-k in Spark's (dist, id) order
    * with the batch core's slot predicates; the driver then walks each
    * query's lists ([[MultiStageSearch.walk]]) and reranks the kept rows
    * ([[rerankLocal]]) into a LocalRelation with [[batchOutCols]]'
    * schema. An all-blank log runs no job.
    *
    * The candidates the pass sends the driver — partitions × |Q| × Σk
    * rows, each with its doc text — must fit `driverBytes`, measured in
    * the pass ([[TopK.slotTopK]]'s `maxBytes`); None when they do not,
    * and the caller runs the distributed core, which keeps them on the
    * executors. */
  private def batchOnDriver(op: String, log: Array[Row], qidCol: String,
                            cells: Option[Seq[java.lang.Double] => Array[Long]],
                            driverBytes: Long): Option[DataFrame] = {
    val spark = corpus.sparkSession
    require(log.map(_.getLong(0)).distinct.length == log.length,
      s"$op: duplicate $qidCol values in the query batch")
    val resolved = log.toSeq.flatMap(r => MultiStageSearch.resolveQuery(
      queryNer, synonyms, profile, r.getLong(0), r.getString(1))
      .map(_ -> r.getSeq[java.lang.Double](2)))
    val lead = Seq(StructField(qidCol, LongType, nullable = false))
    if (resolved.isEmpty) return Some(rerankLocal(Nil, keptSchema(corpus.schema), lead))
    val maxSyn = resolved.map(_._1._5.length).max
    // every slot any query of the batch can run, as (slot, k) in slot order
    val slots = MultiStageSearch.ladder(job = true, region = true, maxSyn, cfg)
      .flatMap(_._2).sortBy(_._1)
    val preds = slotPredicates(col("__job"), col("__region"),
      (0 until maxSyn).map(i => get(col("__syns"), lit(i)))) // null past the end
    val qschema = StructType(Seq(StructField("__qid", LongType, nullable = false),
      StructField("__qv", ArrayType(DoubleType)),
      StructField("__job", StringType), StructField("__region", StringType),
      StructField("__syns", ArrayType(StringType))) ++
      cells.map(_ => StructField("__cid", LongType, nullable = false)))
    val frame = resolved.flatMap { case ((qid, job, region, _, syns), qv) =>
      val row = Seq(qid, qv, job, region, syns)
      cells.fold(Seq(Row.fromSeq(row)))(_(qv).toSeq.map(c => Row.fromSeq(row :+ c)))
    }
    val local = broadcast(spark.createDataFrame(frame.asJava, qschema))
    val paired = cells.fold(corpus.crossJoin(local)) { _ =>
      val cid = col("cluster_id").cast("long")
      corpus.filter(cid.isin(frame.map(_.getLong(5)).distinct: _*))
        .join(local, cid === col("__cid"))
    }
    TopK.slotTopK(paired.select(col(idCol), col(textCol),
        VectorFunctions.l2(col(embCol), col("__qv")).as("dist"), col("__qid"),
        col("__job"), col("__region"), col("__syns")),
      Seq("dist", idCol), slots.map { case (slot, k) => (Some(preds(slot)), k) },
      Some("__qid"), driverBytes).map { ranked =>
      rerankLocal(resolved.map { case ((qid, job, region, age, syns), _) =>
        val ladder = MultiStageSearch.ladder(job != null, region != null,
          syns.length, cfg)
        val kept = MultiStageSearch.walk(ladder, ranked(qid))(_.get(0)).map {
          case (r, stage) => Row(r.get(0), r.get(1), r.get(2), stage)
        }
        (Seq(qid), kept, Seq(job, region, age))
      }, keptSchema(corpus.schema), lead)
    }
  }

  /** The 10M+-log escape hatch, automatic: a query log larger than the
    * broadcast budget ([[resolvedBroadcastQueryMax]]) is hash-sliced by
    * qid and each slice served as its OWN plan, SEQUENTIALLY — only one
    * slice's query broadcast and pair stream are ever live, because
    * each slice's bounded result (≤ finalN·|slice| rows, no vectors) is
    * eagerly materialized (localCheckpoint) before the next slice
    * starts; the returned frame is the cheap union of the materialized
    * results. The batch forms are thus not bounded by a single
    * broadcastable query frame.
    *
    * `held` is [[batchDispatch]]'s bounded read of the log: the row
    * width comes from it, and it decides the size without another read
    * when it holds the whole log or already more rows than a slice
    * admits. Otherwise size detection is a LIMIT-probe (scan at most
    * maxQ+1 qids), so in-budget logs — the common case — never pay a
    * full count; the exact count (and so the slice count) is computed
    * only on the over-budget path. Per-slice work sums to the unsliced
    * plan's (each slice resolves only its own queries; the corpus is
    * scanned once per slice instead of once — the price of bounding
    * memory). Duplicate qids land in the SAME hash slice, so the
    * per-slice prelude guard still catches them. The query source is
    * re-scanned once per slice rather than checkpointed: a 10M-row
    * vector-bearing log is exactly what must NOT be pinned whole —
    * which is why the source must be DETERMINISTIC across re-scans (see
    * the entry points' scaladoc). Slices are hash-sized only in
    * EXPECTATION, so the slice count targets 80% of the budget: at
    * small slice counts binomial skew routinely pushes one slice ~10%
    * past n/nSlices, and the budget guards a memory cliff (broadcast
    * abort at `maxResultSize`), not a soft target — the headroom makes
    * the expected worst slice land under it. Returns None when the log
    * fits the budget — the caller runs the single-plan form. */
  private def sliceDispatch(queries: DataFrame, qidCol: String,
                            held: Array[Row], sizing: MultiStageSearch.BatchSizing,
                            budgetDivisor: Int)
      (perSlice: DataFrame => DataFrame): Option[DataFrame] = {
    val maxQ = sizing.sliceRows.getOrElse(
      resolvedBroadcastQueryMax(held, budgetDivisor))
    val whole = held.length <= sizing.logLimit
    val over = held.length > maxQ ||
      !whole && queries.select(col(qidCol)).limit(maxQ + 1).count() > maxQ
    if (!over) return None
    val n = if (whole) held.length.toLong else queries.count()
    // 80% of the budget per slice, ROUNDED: floor would turn a tiny
    // budget (2 queries, the c11 harness shape) into 1-query slices and
    // double its deliberate slicing tax, while at derived scale
    // (~millions) round vs floor is noise and the headroom holds
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

  /** The per-slice query budget, in ROWS, derived WIDTH-AWARE from the
    * JVM heap ([[MultiStageSearch.broadcastBudgetRows]]): the driver
    * budget in broadcast bytes, divided by the query log's MEASURED row
    * width over the rows already held
    * ([[MultiStageSearch.queryRowBytes]]) and by `budgetDivisor` (the
    * served form's broadcast is |Q| · nprobe probe rows, not |Q|) —
    * never a flat rows-per-GiB constant. The flat ~1 KiB/row
    * assumption this replaces was only right near dim 64: at the
    * reference's own 1024-dim embeddings a resolved row carries ~8 KiB
    * of `array<double>` alone, so the old default admitted ~8× the
    * intended broadcast bytes — reproducing the exact `maxResultSize`
    * abort the slicer exists to prevent (the round-16 10M probe
    * measured that kill). */
  private def resolvedBroadcastQueryMax(held: Array[Row],
                                        budgetDivisor: Int): Int =
    math.min(MultiStageSearch.broadcastBudgetRows(
      MultiStageSearch.queryRowBytes(held), Runtime.getRuntime.maxMemory,
      maxResultBytes, budgetDivisor), Int.MaxValue.toLong - 1).toInt

  /** The session's `spark.driver.maxResultSize` in bytes. The aborts
    * the driver budgets guard are task results (a broadcast's collect,
    * the one-pass candidates) crossing it, so a budget must respect the
    * ACTUAL limit, not just heap/16 — a 32 GiB driver at the default 1g
    * would otherwise derive 2 GiB budgets that still die at collect
    * (bare numbers are MiB, Spark's own rule for this key; 0 =
    * unlimited). */
  private def maxResultBytes: Long = corpus.sparkSession.sparkContext.getConf
    .getSizeAsMb("spark.driver.maxResultSize", "1g") << 20

  /** The engine's own size policy for a batch log:
    * [[MultiStageSearch.BatchLogLimit]] queries on the one pass, whose
    * candidates may take [[MultiStageSearch.driverBudgetBytes]] of this
    * JVM's heap and `maxResultSize`, and slices derived from the
    * measured row width. */
  private def engineSizing: MultiStageSearch.BatchSizing =
    MultiStageSearch.BatchSizing(MultiStageSearch.BatchLogLimit,
      MultiStageSearch.driverBudgetBytes(Runtime.getRuntime.maxMemory, maxResultBytes))

  /** The distributed core's batch prelude, for logs over
    * [[MultiStageSearch.BatchLogLimit]] (request-sized logs take
    * [[batchOnDriver]]): the SEMANTIC boundary, resolved INSIDE the
    * cluster via `mapPartitions` over the (qid, text) projection —
    * SURVEY §2.7's prescribed batch shape. Only (qid, text) ever feeds
    * NER/synonym resolution (L2/L3 are external calls — vectors never
    * go near them). The duplicate-qid guard is a counts-only aggregate
    * and the ner frame is localCheckpointed (it is read 3× downstream:
    * isEmpty, syn-width, joins). The texts are never COLLECTED to the
    * driver for resolution (the round-15 probe measured a driver path
    * collapsing at 1M queries); the resolved compact frame IS still
    * broadcast, because the core broadcasts the query side (the pair
    * stream is corpus × broadcast(queries)) — so a SINGLE plan stays
    * bounded by a broadcastable query frame. Logs beyond that bound
    * need no manual knob: the public batch entry points auto-slice them
    * BEFORE this prelude runs ([[sliceDispatch]]), so every batch that
    * reaches here is already within the broadcast budget.
    *
    * The resolution is [[MultiStageSearch.resolveQuery]], the one the
    * driver path runs (CascadeBatchSpec pins driver == distributed on
    * the full output). Returns the broadcastable ner frame, the batch's
    * synonym-slot width, and the query frame (vectors stay
    * distributed); Left(typed empty) when every query is blank. */
  private def batchPrelude(op: String, queries: DataFrame, qidCol: String,
                           qtextCol: String, qvecCol: String)
      : Either[DataFrame, (DataFrame, Int, DataFrame)] = {
    val spark = corpus.sparkSession
    import spark.implicits._
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
    if (ner.isEmpty)
      return Left(emptyResponse.crossJoin(
          spark.range(0).select(col("id").as("__qid")))
        .select(batchOutCols(qidCol): _*))
    val maxSyn = ner.agg(max(size(col("__syns")))).collect()(0).getInt(0)
    val nerDf = broadcast(ner)
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
    * [[withScores]] rerank. Shared verbatim by the exact batch and the
    * served batch over logs too large for [[batchOnDriver]], and by
    * [[searchGated]] (a one-row log over its pool) — only the pair
    * stream and the text source differ, which is exactly the
    * backend-independence the identity gates pin. */
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

    rerankLocal(Seq((Nil, kept.toSeq.map(r => Row.fromSeq(r.toSeq :+ 1)), nerValues(ner))),
      pool.schema.add(StructField("stage_rank", IntegerType, nullable = false)), Nil)
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
    * (serializable) semantic doubles, shared verbatim by the driver-side
    * batch ([[batchOnDriver]], [[searchGated]]) and the distributed
    * prelude's `mapPartitions` so the two are identical by
    * construction. None = blank query (contributes no
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

  /** The query log's in-broadcast row width, MEASURED on (qid, text,
    * vector) rows already on the driver (the batch dispatch's bounded
    * read, at least 32 rows at [[BatchLogLimit]]): max vector length × 8
    * B (`array<double>`) + max text length × 2 B (UTF-16 slack over
    * UTF8String) + [[QueryRowOverheadBytes]]. The MAX over the rows,
    * not the first row: vector width is constant per log but text
    * lengths vary, and a short-text first row would under-report the
    * width and re-admit part of the over-broadcast. Rows with a null
    * vector are skipped (same under-report hazard); an all-null or
    * empty log measures overhead only — correct, those rows broadcast
    * no vector bytes. */
  private[graft] def queryRowBytes(held: Array[Row]): Long = {
    val sized = held.filterNot(_.isNullAt(2))
    def most(width: Row => Int) = sized.map(width).maxOption.getOrElse(0)
    8L * most(_.getSeq[Any](2).length) +
      2L * most(r => if (r.isNullAt(1)) 0 else r.getString(1).length) +
      QueryRowOverheadBytes
  }

  /** (heap, maxResultSize) → the bytes one result may bring to the
    * driver: the LESSER of 1/16 of the heap (the round-16-validated
    * ratio) and HALF the driver's `maxResultSize` (the collect is what
    * actually aborts; half leaves room for the task-result framing and
    * any concurrent collect). `maxResultBytes <= 0` = unlimited
    * (Spark's own 0 semantics for the key) — heap-only budget. */
  private[graft] def driverBudgetBytes(heapBytes: Long, maxResultBytes: Long): Long = {
    val heapBudget = math.max(1L, heapBytes / 16)
    val mrsBudget =
      if (maxResultBytes <= 0) Long.MaxValue
      else math.max(1L, maxResultBytes / 2)
    math.min(heapBudget, mrsBudget)
  }

  /** (heap, maxResultSize) → per-slice query-row budget:
    * [[driverBudgetBytes]] divided by the measured row width instead of
    * an assumed one (at ~1 KiB rows this IS the old heapGiB × 65536
    * constant), and by `budgetDivisor`, the broadcast rows per query. */
  private[graft] def broadcastBudgetRows(rowBytes: Long,
      heapBytes: Long, maxResultBytes: Long, budgetDivisor: Int = 1): Long =
    math.max(1L, driverBudgetBytes(heapBytes, maxResultBytes) /
      math.max(1L, rowBytes) / math.max(1, budgetDivisor))

  /** The largest query log a batch form answers in one pass on the
    * driver. `plans/one_pass_batch/path_cut.md` timed both batch paths
    * at |Q| = 64, 256 and 1,024 on a 16-partition corpus: wherever the
    * candidates fit the driver budget the one pass took 0.24–0.33 of the
    * distributed core's time, 1,024 included. Past that size the cost
    * is the budget's to judge, and a larger log is an offline log, whose
    * texts and candidates should not funnel through the driver. */
  private[graft] val BatchLogLimit = 1024

  /** A batch log's size policy: a log of at most `logLimit` queries is
    * answered by the one pass while its candidates fit `driverBytes`;
    * the distributed core slices a log into hash slices of `sliceRows`
    * queries, or, when None, of the driver budget over the log's
    * measured row width. The batch entry points run the engine's own
    * ([[BatchLogLimit]], the measured driver budget, derived slices);
    * specs and the c11 harness row pass theirs to put a small log on
    * the distributed core and through the slicer. */
  private[graft] final case class BatchSizing(logLimit: Int,
      driverBytes: Long, sliceRows: Option[Int] = None)
}
