package graft.operators

import graft.functions.VectorFunctions
import graft.semantic.{DictSynonyms, QueryNer, RuleQueryNer, SemanticSuite, UserProfile}
import org.apache.spark.sql.{Column, DataFrame, Encoders, Row}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.{Attribute, Expression, InterpretedProjection}
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
  * from `withScores`. Every form ranks with one heap core, the bounded
  * heaps of [[TopK.slotTopK]], and the forms differ only in where the
  * heaps merge. `search` merges its one pass on the driver and walks
  * and reranks there, and so do the batch forms (`searchGatedBatch`,
  * `searchGatedBatchServed`) for a request-sized log, grouped by qid.
  * Larger logs, a request-sized log whose candidates overflow the
  * driver budget, and `searchGated` merge the heaps across a qid
  * shuffle, where each reducer walks and reranks its queries with the
  * same function ([[MultiStageSearch.answerer]]).
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
    * read, which the batch forms fill from their pair rows' columns. */
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
    * contract — the batch forms' pass excludes them too, which keeps
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
    * many: each query's kept rows (of `schema`) reranked by
    * [[localRerank]] with its NER values ([[nerValues]]), each row led
    * by the query's `lead` values (a batch's qid; nothing for a single
    * query). Returned as one LocalRelation of `lead` + the scored
    * columns + rank, so the caller's collect runs no job. */
  private def rerankLocal(queries: Seq[(Seq[Any], Seq[Row], Seq[String])],
                          schema: StructType, lead: Seq[StructField]): DataFrame = {
    val rerank = localRerank(schema)
    corpus.sparkSession.createDataFrame(queries.flatMap { case (key, kept, ner) =>
      rerank(kept, ner).map(r => Row.fromSeq(key ++ r.toSeq))
    }.asJava, StructType(lead ++ rerank.schema))
  }

  /** [[withScores]] and the [[rankKeys]] top-N for rows in memory
    * ([[MultiStageSearch.LocalRerank]]): rows of `schema` followed by
    * the NER fields (job, region, age; null when absent). The columns
    * are analyzed ONCE per input schema, over a local relation with the
    * NER fields as string columns, and each Project of the analyzed
    * plan is then applied row by row, as the optimizer's
    * ConvertToLocalRelation would fold it — so a request's rerank plans
    * nothing, and a reducer of the distributed batch merge runs the same
    * projections. */
  private def localRerank(schema: StructType): MultiStageSearch.LocalRerank =
    localReranks.computeIfAbsent(schema, { (s: StructType) =>
      val ner = Seq("__job", "__region", "__age")
      val in = ner.foldLeft(s)(_.add(_, StringType))
      val scored = withScores(corpus.sparkSession.createDataFrame(
          java.util.Collections.emptyList[Row], in),
        (col("__job"), col("__region"), col("__age"))).drop(ner: _*)
      def steps(p: LogicalPlan): List[(Seq[Expression], Seq[Attribute])] = p match {
        case Project(list, child) => steps(child) :+ (list -> child.output)
        case _: LocalRelation => Nil
      }
      new MultiStageSearch.LocalRerank(steps(ReplaceExpressions(scored.queryExecution.analyzed)),
        in, scored.schema, rankKeys, cfg.finalN)
    })

  private val localReranks =
    new java.util.concurrent.ConcurrentHashMap[StructType, MultiStageSearch.LocalRerank]()

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

  /** [[search]] as ONE lazy plan: the batch cascade over a one-row query
    * log, with the heaps merged across the qid shuffle
    * ([[batchShuffled]]) where `search` merges them on the driver. The
    * query resolves on the driver ([[MultiStageSearch.resolveQuery]], as
    * a request-sized batch resolves); every pool row (the `knnBackend`
    * pool, or the corpus) carries the query id, the resolved NER fields
    * and `queryVec` itself — a column of the pool, so a query vector
    * that is a corpus column works too. The result is a lazy plan with
    * no checkpoint, so repeated calls retain nothing. `search ≡
    * searchGated` row for row, column names and types included, on any
    * corpus (CascadeSpec pins it; c1/c5 assert it on the real corpora).
    *
    * Needs an INTEGRAL corpus id, as the batch forms do: a string id
    * fails here, at call time ([[Ann.requireIntegralId]]); [[search]]
    * and [[searchFixed]] keep the id column untyped. */
  def searchGated(queryText: String, queryVec: Column): DataFrame = {
    Ann.requireIntegralId(corpus, idCol, "searchGated", "corpus id")
    MultiStageSearch.resolveQuery(queryNer, synonyms, profile, 0L, queryText)
      .fold(emptyResponse) { case (qid, job, region, age, syns) =>
        val pool = knnBackend.fold(corpus)(_(queryVec))
        batchShuffled(pool.select(col(idCol), col(textCol), col(embCol),
            queryVec.as("__qv"), lit(qid).as("__qid"), lit(job).cast("string").as("__job"),
            lit(region).cast("string").as("__region"), lit(age).cast("string").as("__age"),
            typedlit(syns).as("__syns")), syns.length, "__qid")
          .drop("__qid")
      }
  }

  /** The gated cascade for a BATCH of queries: queries are rows, not
    * driver round-trips, and per-query results are row-identical to
    * [[search]] (CascadeBatchSpec pins the identity across all four
    * query structures; c9 hash-checks the batch against per-query
    * DuckDB replays). Every log runs the same heap core: one pass over
    * the (corpus row, query) pairs keeps a bounded heap per (query,
    * stage slot) per partition ([[TopK.slotTopK]], grouped by qid), and
    * each query's lists are then walked ([[MultiStageSearch.walk]]) and
    * reranked ([[localRerank]]) by one function
    * ([[MultiStageSearch.answerer]]). The engine alone picks where the
    * heaps merge ([[batchDispatch]]):
    *
    *  - a REQUEST-SIZED log (the serving case, at most
    *    [[MultiStageSearch.BatchLogLimit]] queries) is read once on the
    *    driver, resolved there, and its heaps merge on the driver
    *    ([[batchOnDriver]]); the result is a LocalRelation, so the
    *    caller's collect starts no job. Two jobs per log: the broadcast
    *    of the query frame and the pass. When the candidates the pass
    *    would send the driver overflow its budget, the pass stops early
    *    and the same resolved frame is answered with the heaps merged
    *    across a qid shuffle instead ([[batchShuffled]]);
    *  - a larger (offline) log resolves NER/synonyms inside the cluster
    *    via `mapPartitions` ([[batchPrelude]]), and its heaps merge
    *    across the qid shuffle, where each reducer walks and reranks its
    *    queries — the driver never holds the texts. Over-budget logs
    *    are auto-sliced first ([[sliceDispatch]]).
    *
    * Vectors never go near the semantic boundary either way. Blank
    * queries contribute zero rows (the F4 guard, batch-shaped).
    * Integral ids are REQUIRED on both sides and enforced eagerly
    * ([[Ann.requireIntegralId]]) — the internal non-ANSI long cast of
    * the qid would null non-numeric ids and silently drop their rows;
    * not available with a custom `knnBackend` — the batch plan IS the
    * candidate source.
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
    * c11 harness row can put a small log on either merge site and
    * through the slicer. */
  private[graft] def searchGatedBatch(queries: DataFrame, qidCol: String,
      qtextCol: String, qvecCol: String,
      sizing: MultiStageSearch.BatchSizing): DataFrame = {
    require(knnBackend.isEmpty,
      "searchGatedBatch builds its own batched candidate plan and cannot " +
        "honor a custom knnBackend — use per-query search for served " +
        "backends, or searchGatedBatchServed over a cluster-assigned index")
    Ann.requireIntegralId(corpus, idCol, "searchGatedBatch", "corpus id")
    Ann.requireIntegralId(queries, qidCol, "searchGatedBatch", "query id")
    batchDispatch("searchGatedBatch", queries, qidCol, qtextCol, qvecCol, sizing, None)
  }

  /** [[searchGatedBatch]] over a cluster-assigned (IVF) index — the
    * high-QPS serving shape: the exact batch's pair stream touches
    * |corpus|·|Q| rows, this one touches only the pairs whose corpus
    * row lives in a cluster the query PROBES (the rule c5/c8 apply
    * through [[Ann.probeList]]), so the pair stream shrinks by ~nprobe/k.
    * Per-query results are row-identical to [[search]] with the
    * equivalent served backend (CascadeBatchSpec pins it). The same heap
    * core and the same two merge sites as [[searchGatedBatch]]:
    *
    *  - a request-sized log is probed on the driver ([[Ann.probeCells]]
    *    over [[Ann.collectCentroids]]) into a local (query, cell) frame,
    *    broadcast against the index rows of the probed cells only (over
    *    a stored partitioned index the scan prunes to them), and its
    *    heaps merge on the driver — three jobs per log: the centroid
    *    collect, the broadcast and the pass;
    *  - a larger log explodes each query's probe list
    *    ([[Ann.probeCellsUdf]]) into the broadcast query frame, one row
    *    per (query, cell), joins it to the index on cluster_id, and
    *    merges its heaps across the qid shuffle.
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
    batchDispatch("searchGatedBatchServed", queries, qidCol, qtextCol,
      qvecCol, sizing, Some(probe))
  }

  /** The size policy of both batch forms, in one place: the log is read
    * on the driver by one bounded read of `sizing.logLimit + 1` rows
    * (the d6 limit-probe idiom) as (qid, text, vector) rows. A log that
    * fits in it is answered by [[batchOnDriver]]; a larger log resolves
    * in the cluster ([[batchPrelude]]) and merges its heaps across the
    * qid shuffle ([[batchShuffled]]), auto-sliced first when it
    * overflows the slice budget ([[sliceDispatch]], which reuses the
    * rows this read already holds). The served form's slice budget
    * divides by nprobe: its broadcast frame is |Q| · nprobe rows. */
  private def batchDispatch(op: String, queries: DataFrame, qidCol: String,
      qtextCol: String, qvecCol: String, sizing: MultiStageSearch.BatchSizing,
      probe: Option[Ann.Probe]): DataFrame = {
    val held = queries.select(col(qidCol).cast("long"),
        col(qtextCol).cast("string"), col(qvecCol).cast("array<double>"))
      .limit(sizing.logLimit + 1).collect()
    if (held.length <= sizing.logLimit)
      return batchOnDriver(op, held, qidCol, probe, sizing.driverBytes)
    lazy val cells = probe.map(Ann.probeCellsUdf) // once for every slice
    def core(q: DataFrame) = {
      val resolved = batchPrelude(op, q, qidCol, qtextCol, qvecCol)
      batchShuffled(paired(cells.fold(resolved)(c =>
        resolved.withColumn("__cid", explode(c(col("__qv"))))), probe, None),
        synonyms.width, qidCol)
    }
    sliceDispatch(queries, qidCol, held, sizing, probe.fold(1)(_.nprobe))(core)
      .getOrElse(core(queries))
  }

  /** The pairs a batch ranks: each query of the resolved frame `q`
    * ([[MultiStageSearch.QueryFrame]]) with every corpus row, or, with a
    * probe, with the rows of the cell its `__cid` names (one row of `q`
    * per (query, probed cell)). `cells`, when the driver holds them, are
    * every cell `q` probes: a static filter on them prunes a stored
    * index's scan to those cells. */
  private def paired(q: DataFrame, probe: Option[Ann.Probe],
                     cells: Option[Seq[Long]]): DataFrame = {
    val cid = col("cluster_id").cast("long")
    probe.fold(corpus.crossJoin(broadcast(q))) { _ =>
      cells.fold(corpus)(cs => corpus.filter(cid.isin(cs: _*)))
        .join(broadcast(q), cid === col("__cid"))
    }
  }

  /** The batch cascade over a log already on the driver (`log`: (qid,
    * text, vector) rows from [[batchDispatch]]): the queries resolve on
    * the driver ([[MultiStageSearch.resolveQuery]], blank ones drop out)
    * into a local frame — one row per query, or with a probe one per
    * (query, probed cell) — [[paired]] with the corpus, and the heap
    * core's one pass ([[TopK.slotTopK]], grouped by qid) merges the
    * heaps on the driver, which answers each query
    * ([[MultiStageSearch.answerer]]) into a LocalRelation. An all-blank
    * log runs no job.
    *
    * The candidates the pass sends the driver — partitions × |Q| × Σk
    * rows, each with its doc text — must fit `driverBytes`, measured in
    * the pass ([[TopK.slotTopK]]'s `maxBytes`). When they do not, the
    * same pairs are answered with the heaps merged across the qid
    * shuffle ([[batchShuffled]]), which keeps them on the executors. */
  private def batchOnDriver(op: String, log: Array[Row], qidCol: String,
                            probe: Option[Ann.Probe], driverBytes: Long): DataFrame = {
    require(log.map(_.getLong(0)).distinct.length == log.length,
      s"$op: duplicate $qidCol values in the query batch")
    val resolved = log.toSeq.flatMap(r => MultiStageSearch.resolveQuery(
      queryNer, synonyms, profile, r.getLong(0), r.getString(1))
      .map(_ -> r.getSeq[java.lang.Double](2)))
    val lead = StructField(qidCol, LongType, nullable = false)
    if (resolved.isEmpty) return rerankLocal(Nil, keptSchema(corpus.schema), Seq(lead))
    val cellsOf = probe.map { p =>
      val cents = Ann.collectCentroids(p.centroids, p.cidCol, p.cvecCol)
      Ann.probeCellsOf(cents, _: Seq[java.lang.Double], p.nprobe)
    }
    val frame = resolved.flatMap { case ((qid, job, region, age, syns), qv) =>
      val row = Seq(qid, qv, job, region, age, syns)
      cellsOf.fold(Seq(Row.fromSeq(row)))(_(qv).toSeq.map(c => Row.fromSeq(row :+ c)))
    }
    val schema = MultiStageSearch.QueryFrame ++
      probe.map(_ => StructField("__cid", LongType, nullable = false))
    val pairs = paired(corpus.sparkSession.createDataFrame(frame.asJava, StructType(schema)),
      probe, probe.map(_ => frame.map(_.getLong(6)).distinct))
    val width = resolved.map(_._1._5.length).max
    val rows = pairRows(pairs)
    val rerank = localRerank(keptSchema(rows.schema))
    val answer = MultiStageSearch.answerer(cfg, rerank)
    TopK.slotTopK(rows, Seq("dist", idCol), batchSlots(width), Some("__qid"), driverBytes)
      .fold(batchShuffled(pairs, width, qidCol)) { ranked =>
        corpus.sparkSession.createDataFrame(resolved.flatMap { case (q, _) =>
          answer(q._1, ranked(q._1))
        }.asJava, StructType(lead +: rerank.schema))
      }
  }

  /** The candidate rows of a batch's pairs, as the heaps carry them:
    * (id, text, dist, qid, job, region, age, synonyms) — the doc text
    * and the query's NER fields ride along, so the walk and the rerank
    * read nothing else. */
  private def pairRows(paired: DataFrame): DataFrame =
    paired.select(col(idCol), col(textCol),
      VectorFunctions.l2(col(embCol), col("__qv")).as("dist"), col("__qid"),
      col("__job"), col("__region"), col("__age"), col("__syns"))

  /** Every ladder slot a batch whose queries have at most `width`
    * synonyms can run, as (predicate on [[pairRows]], k) at the slot's
    * index: the slot predicates over each pair's own NER columns. */
  private def batchSlots(width: Int): Seq[(Option[Column], Int)] = {
    val preds = slotPredicates(col("__job"), col("__region"),
      (0 until width).map(i => get(col("__syns"), lit(i)))) // null past the end
    MultiStageSearch.ladder(job = true, region = true, width, cfg)
      .flatMap(_._2).sortBy(_._1).map { case (slot, k) => (Some(preds(slot)), k) }
  }

  /** The batch cascade over `paired` ([[paired]]'s rows, or any frame
    * with the corpus and [[MultiStageSearch.QueryFrame]] columns) with
    * the heaps merged across a shuffle on the qid
    * ([[TopK.slotTopKShuffled]]): each reducer answers its queries
    * ([[MultiStageSearch.answerer]], the function [[batchOnDriver]] runs
    * on the driver), so only the answers leave the executors. A lazy
    * plan of `qidCol` + [[localRerank]]'s columns; `width` bounds the
    * queries' synonym counts. */
  private def batchShuffled(paired: DataFrame, width: Int, qidCol: String): DataFrame = {
    val rows = pairRows(paired)
    val rerank = localRerank(keptSchema(rows.schema))
    corpus.sparkSession.createDataFrame(
      TopK.slotTopKShuffled(rows, Seq("dist", idCol), batchSlots(width), "__qid")(
        MultiStageSearch.answerer(cfg, rerank)),
      StructType(StructField(qidCol, LongType, nullable = false) +: rerank.schema))
  }

  /** The 10M+-log escape hatch, automatic: a query log larger than the
    * broadcast budget ([[resolvedBroadcastQueryMax]]) is hash-sliced by
    * qid and each slice served as its OWN plan, SEQUENTIALLY — only one
    * slice's query broadcast and pair stream are ever live, because
    * each slice's bounded result (≤ finalN·|slice| rows, no vectors) is
    * eagerly materialized (localCheckpoint) before the next slice
    * starts; the returned frame is the cheap union of the materialized
    * results. The distributed merge is thus not bounded by a single
    * broadcastable query frame.
    *
    * `held` is [[batchDispatch]]'s bounded read of a log over the log
    * limit: the row width comes from it, and it decides the size without
    * another read when it already holds more rows than a slice admits.
    * Otherwise size detection is a LIMIT-probe (scan at most maxQ+1
    * qids), so in-budget logs — the common case — never pay a full
    * count; the exact count (and so the slice count) is computed only on
    * the over-budget path. Per-slice work sums to the unsliced plan's
    * (each slice resolves only its own queries; the corpus is scanned
    * once per slice instead of once — the price of bounding memory).
    * Duplicate qids land in the SAME hash slice, so the per-slice
    * prelude guard still catches them. The query source is re-scanned
    * once per slice rather than checkpointed: a 10M-row vector-bearing
    * log is exactly what must NOT be pinned whole — which is why the
    * source must be DETERMINISTIC across re-scans (see the entry
    * points' scaladoc). Slices are hash-sized only in EXPECTATION, so
    * the slice count targets 80% of the budget: at small slice counts
    * binomial skew routinely pushes one slice ~10% past n/nSlices, and
    * the budget guards a memory cliff (broadcast abort at
    * `maxResultSize`), not a soft target — the headroom makes the
    * expected worst slice land under it. Returns None when the log fits
    * the budget — the caller runs the single-plan form. */
  private def sliceDispatch(queries: DataFrame, qidCol: String,
                            held: Array[Row], sizing: MultiStageSearch.BatchSizing,
                            budgetDivisor: Int)
      (perSlice: DataFrame => DataFrame): Option[DataFrame] = {
    val maxQ = sizing.sliceRows.getOrElse(
      resolvedBroadcastQueryMax(held, budgetDivisor))
    val over = held.length > maxQ ||
      queries.select(col(qidCol)).limit(maxQ + 1).count() > maxQ
    if (!over) return None
    val n = queries.count()
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

  /** The distributed merge's batch prelude, for logs over
    * [[MultiStageSearch.BatchLogLimit]] (request-sized logs resolve in
    * [[batchOnDriver]]): the SEMANTIC boundary, resolved INSIDE the
    * cluster via `mapPartitions` — SURVEY §2.7's prescribed batch
    * shape. Only (qid, text) ever feeds NER/synonym resolution (L2/L3
    * are external calls — vectors only ride along). The duplicate-qid
    * guard is a counts-only aggregate. The texts are never COLLECTED to
    * the driver for resolution (the round-15 probe measured a driver
    * path collapsing at 1M queries); the resolved frame is broadcast,
    * because the pair stream is corpus × broadcast(queries) — so a
    * SINGLE plan stays bounded by a broadcastable query frame. Logs
    * beyond that bound need no manual knob: the public batch entry
    * points auto-slice them BEFORE this prelude runs
    * ([[sliceDispatch]]). Each reducer of the merge reads a query's NER
    * fields and synonym count from its own candidate rows, so nothing
    * here is read back on the driver.
    *
    * The resolution is [[MultiStageSearch.resolveQuery]], the one the
    * driver path runs (CascadeBatchSpec pins driver == distributed on
    * the full output). Returns the resolved frame
    * ([[MultiStageSearch.QueryFrame]]); blank queries drop out. */
  private def batchPrelude(op: String, queries: DataFrame, qidCol: String,
                           qtextCol: String, qvecCol: String): DataFrame = {
    val dups = queries.groupBy(col(qidCol)).count()
      .filter(col("count") > 1).limit(1).count()
    require(dups == 0,
      s"$op: duplicate $qidCol values in the query batch")
    // locals only — the task closure must not capture `this`
    // (MultiStageSearch holds DataFrames)
    val (qn, syn, prof) = (queryNer, synonyms, profile)
    queries.select(col(qidCol).cast("long"), col(qtextCol).cast("string"),
        col(qvecCol).cast("array<double>"))
      .mapPartitions(_.flatMap { r =>
        MultiStageSearch.resolveQuery(qn, syn, prof, r.getLong(0), r.getString(1))
          .map { case (qid, job, region, age, syns) => Row(qid, r.get(2), job, region, age, syns) }
      })(Encoders.row(StructType(MultiStageSearch.QueryFrame)))
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

  /** One query's answer in every batch form, wherever its heaps merged:
    * its per-slot top-k lists of candidate rows (id, text, dist, qid,
    * job, region, age, synonyms — the batch pair rows) → the query's
    * [[ladder]], built from the NER fields its rows carry, [[walk]]ed,
    * and its kept rows reranked by `rerank`, each answer row led by the
    * qid. A query with no candidate answers no row. Built here so the
    * function holds the config and the reranker alone, not the
    * DataFrame-holding instance: the distributed merge runs it in the
    * tasks. */
  private[operators] def answerer(c: CascadeConfig, rerank: LocalRerank)
      : (Any, IndexedSeq[Seq[Row]]) => Seq[Row] = (qid, lists) =>
    lists.iterator.flatten.nextOption().toSeq.flatMap { r =>
      val (job, region, age) = (r.getString(4), r.getString(5), r.getString(6))
      val kept = walk(ladder(job != null, region != null, r.getSeq[String](7).length, c),
          lists)(_.get(0)).map { case (k, stage) => Row(k.get(0), k.get(1), k.get(2), stage) }
      rerank(kept, Seq(job, region, age)).map(a => Row.fromSeq(qid +: a.toSeq))
    }

  /** The rerank tail over one query's rows in memory: the score columns
    * of `withScores`, applied as the analyzed Project lists `steps` over
    * rows of `in` (the kept rows' columns, then the query's NER fields),
    * then the top `finalN` in the `rankKeys` order in Spark's ordering
    * ([[TopK.sparkOrdering]]), ranked 1..n. Serializable, so a reducer
    * of the distributed merge reranks as the driver does: the
    * projections are built where they run, and evaluated one call at a
    * time, since expressions such as `regexp_extract` keep
    * per-instance state. */
  private[operators] final class LocalRerank(steps: Seq[(Seq[Expression], Seq[Attribute])],
      in: StructType, scored: StructType, rankKeys: Seq[(String, Boolean)], finalN: Int)
      extends Serializable {
    /** The answer rows' schema: the kept rows' columns, the score columns
      * and the rank. */
    val schema: StructType = scored.add(StructField("rank", IntegerType, nullable = false))
    private val order = TopK.sparkOrdering(scored, rankKeys)
    @transient private lazy val projections =
      steps.map { case (exprs, input) => new InterpretedProjection(exprs, input) }
    @transient private lazy val toCatalyst = CatalystTypeConverters.createToCatalystConverter(in)
    @transient private lazy val toScala = CatalystTypeConverters.createToScalaConverter(scored)

    def apply(kept: Seq[Row], ner: Seq[String]): Seq[Row] = synchronized {
      kept.map(r => projections.foldLeft(
        toCatalyst(Row.fromSeq(r.toSeq ++ ner)).asInstanceOf[InternalRow])((row, p) => p(row)))
    }.sorted(order).take(finalN).zipWithIndex.map { case (r, i) =>
      Row.fromSeq(toScala(r).asInstanceOf[Row].toSeq :+ (i + 1))
    }
  }

  /** A batch's resolved query frame: the qid, the query vector, the NER
    * fields (null when absent) and the synonyms, one row per non-blank
    * query. */
  private[operators] val QueryFrame: Seq[StructField] = Seq(
    StructField("__qid", LongType, nullable = false), StructField("__qv", ArrayType(DoubleType)),
    StructField("__job", StringType), StructField("__region", StringType),
    StructField("__age", StringType), StructField("__syns", ArrayType(StringType)))

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

  /** The largest query log a batch form reads and resolves on the
    * driver, merging its heaps there while they fit the budget.
    * `plans/one_pass_batch/path_cut.md` timed the batch paths at |Q| =
    * 64, 256 and 1,024 on a 16-partition corpus: wherever the candidates
    * fit the driver budget the driver merge took 0.24–0.33 of the
    * (since deleted) windowed core's time, 1,024 included. Past that
    * size a log is an offline log, whose texts and candidates should not
    * funnel through the driver. */
  private[graft] val BatchLogLimit = 1024

  /** A batch log's size policy: a log of at most `logLimit` queries
    * merges its heaps on the driver while its candidates fit
    * `driverBytes`; a larger log is sliced into hash slices of
    * `sliceRows` queries, or, when None, of the driver budget over the
    * log's measured row width, and merges its heaps across the qid
    * shuffle. The batch entry points run the engine's own
    * ([[BatchLogLimit]], the measured driver budget, derived slices);
    * specs and the c11 harness row pass theirs to put a small log on
    * the shuffle merge and through the slicer. */
  private[graft] final case class BatchSizing(logLimit: Int,
      driverBytes: Long, sliceRows: Option[Int] = None)
}
