package graft

import graft.functions.{TextAnalysis, TextFunctions, VectorFunctions}
import graft.multimodal.{DecodeStub, Multimodal}
import graft.operators.{Ann, Bm25, Chunker, Curation, Dedup, HeavyHitters, Knn, LshAnn, Mmr, MultiStageSearch, Packing, QualityModel, Rerank, RetrievalEval}
import graft.sources.JobCorpus
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Lexical retrieval + hybrid fusion (operators/Bm25): BM25, posting
  * index build/serve/incremental (i1–i4), RRF (r2), hybrid rerank (r1).
  */
private[graft] trait QueriesLexical { self: QueriesShared =>


  private val Bm25Terms = Seq("join", "merge", "stream")


  /** DuckDB mirror of Bm25.score for [[Bm25Terms]]: CTE chain ending in
    * `scored(doc_id, tf_*, bm25)`. Same fold order, same constants. */
  private def bm25Ctes: String = {
    val tfCols = Bm25Terms.map(t =>
      s"CAST(len(list_filter(toks, w -> w = '$t')) AS DOUBLE) AS tf_$t").mkString(", ")
    val dfCols = Bm25Terms.map(t =>
      s"CAST(sum(CASE WHEN tf_$t > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df_$t").mkString(", ")
    val scoreSum = Bm25Terms.map { t =>
      s"""(CASE WHEN tf_$t > 0 THEN
        ln(1.0 + (n_docs - df_$t + 0.5) / (df_$t + 0.5)) * tf_$t * (1.2 + 1.0)
          / (tf_$t + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl))
        ELSE 0.0 END)"""
    }.mkString(" + ")
    s"""toks AS (SELECT doc_id,
        list_filter(string_split_regex(lower(trim(text)), '$WsSplit'),
          w -> len(w) > 0) AS toks
        FROM documents),
      tf AS (SELECT doc_id, CAST(len(toks) AS DOUBLE) AS dl, $tfCols FROM toks),
      stats AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs, avg(dl) AS avgdl, $dfCols
        FROM tf),
      scored AS (SELECT doc_id, ${Bm25Terms.map(t => s"tf_$t").mkString(", ")},
        $scoreSum AS bm25 FROM tf CROSS JOIN stats)"""
  }


  /** Shared by b1 and its index-serving twin b2 — identical scores. */
  private def bm25TopkSql: String =
    s"""WITH $bm25Ctes
      SELECT doc_id, ${Bm25Terms.map(t => s"CAST(tf_$t AS BIGINT) AS tf_$t").mkString(", ")},
        round(bm25, 6) AS bm25
      FROM scored WHERE bm25 > 0 ORDER BY bm25 DESC, doc_id LIMIT 10"""


  private val b1 = QuerySpec("b1_bm25_topk",
    // BM25 serving form: fixed query, per-doc tf as narrow HOFs, ONE
    // global stats row broadcast back, TakeOrderedAndProject top-k —
    // the corpus never shuffles.
    (s, d) => Bm25.topK(t(s, d, "documents"), "doc_id", "text", Bm25Terms, 10)
      .select(Seq(col("doc_id")) ++
        Bm25Terms.map(t => col(s"tf_$t").cast("long").as(s"tf_$t")) :+
        round(col("bm25"), 6).as("bm25"): _*),
    Some(bm25TopkSql))


  private val i1 = QuerySpec("i1_build_postings",
    // Inverted-index build: per-term df/cf + doc_id-sorted posting
    // list (serialized doc:tf for the engine-portable hash). The
    // build-once artifact that turns b1's two corpus scans into b2's
    // |query terms| posting-row reads.
    (s, d) => Bm25.buildPostings(t(s, d, "documents"), "doc_id", "text")
      .select(col("term"), col("df"), col("cf"),
        array_join(transform(col("postings"), p =>
          concat(p.getField("doc_id").cast("string"), lit(":"),
            p.getField("tf").cast("string"))), ",").as("postings"))
      .orderBy("term"),
    Some(postingsIndexSql))


  /** Whole-corpus posting-index SQL — shared by i1 (build) and i2
    * (incremental upsert): the upsert's merged index must be
    * IDENTICAL to a from-scratch build, so they hash-check against
    * the same oracle. */
  private def postingsIndexSql: String = postingsIndexSql("")

  private def postingsIndexSql(where: String): String =
    s"""WITH toks AS (SELECT doc_id,
        unnest(list_filter(string_split_regex(lower(trim(text)), '$WsSplit'),
          w -> len(w) > 0)) AS term
        FROM documents $where),
      tf AS (SELECT term, doc_id, count(*) AS tf FROM toks GROUP BY 1, 2)
      SELECT term, count(*) AS df, CAST(sum(tf) AS BIGINT) AS cf,
        string_agg(doc_id || ':' || tf, ',' ORDER BY doc_id) AS postings
      FROM tf GROUP BY term ORDER BY term"""


  private val i2 = QuerySpec("i2_postings_upsert",
    // Incremental posting-index maintenance (Bm25.upsertPostings):
    // the stored i1 artifact absorbs a new-doc batch without a
    // rebuild — corpus = doc_id % 10 ≠ 3, batch = the rest. The
    // merged index must be IDENTICAL to a from-scratch build over the
    // union, so the oracle is i1's whole-corpus SQL verbatim — any
    // df/cf drift or posting mis-merge breaks the hash. Only the
    // batch's terms shuffle (batch-sized delta joined to stored rows
    // on term); untouched terms pass through a left-anti join — the
    // lexical twin of d15/d17's incremental containment serving.
    (s, d) => {
      val docs = t(s, d, "documents")
      val stored = Bm25.buildPostings(
        docs.filter(col("doc_id") % 10 =!= 3), "doc_id", "text")
      Bm25.upsertPostings(stored,
          docs.filter(col("doc_id") % 10 === 3), "doc_id", "text")
        .select(col("term"), col("df"), col("cf"),
          array_join(transform(col("postings"), p =>
            concat(p.getField("doc_id").cast("string"), lit(":"),
              p.getField("tf").cast("string"))), ",").as("postings"))
        .orderBy("term")
    },
    Some(postingsIndexSql))


  private val i3 = QuerySpec("i3_postings_delete",
    // Posting-index DELETE without a rebuild (Bm25.deletePostings):
    // the lexical twin of v18's tombstone compaction. A purge batch
    // (doc_id % 9 = 0, text in hand from the purge manifest) names
    // its own terms — the broadcast (term, doc_id) delete pairs
    // semi-join out the affected stored rows, deleted entries
    // anti-join away, one term-keyed regroup rebuilds list/df/cf;
    // untouched terms never explode. The compacted index must be
    // IDENTICAL to a from-scratch build over live docs, so the
    // oracle is i1's SQL with the delete predicate — a stale
    // posting, drifted df/cf, or zero-df debris breaks the hash.
    (s, d) => {
      val docs = t(s, d, "documents")
      val stored = Bm25.buildPostings(docs, "doc_id", "text")
      Bm25.deletePostings(stored,
          docs.filter(col("doc_id") % 9 === 0), "doc_id", "text")
        .select(col("term"), col("df"), col("cf"),
          array_join(transform(col("postings"), p =>
            concat(p.getField("doc_id").cast("string"), lit(":"),
              p.getField("tf").cast("string"))), ",").as("postings"))
        .orderBy("term")
    },
    Some(postingsIndexSql("WHERE doc_id % 9 <> 0")))


  /** i4's OLD-snapshot posting index, persisted ONCE per sf dir: the
    * stored artifact a deployment already has when a delta arrives.
    * TrieMap-guarded like [[pqCodeTableFor]]. */
  private val oldPostingsPaths = scala.collection.concurrent.TrieMap.empty[String, String]

  private def oldPostingsFor(s: SparkSession, d: String): String =
    oldPostingsPaths.getOrElseUpdate(d, {
      val p = tempDir("graft_old_postings_").toString + "/postings"
      val docs = t(s, d, "documents")
      val oldSnap = docs.filter(col("doc_id") % 7 =!= 0)
        .withColumn("text", when(col("doc_id") % 5 === 0,
          concat(col("text"), lit(" graftstale"))).otherwise(col("text")))
      Bm25.buildPostings(oldSnap, "doc_id", "text").write.parquet(p)
      p
    })


  private val i4 = QuerySpec("i4_diff_reindex",
    // The full incremental-reindex loop the maintenance primitives
    // exist FOR, composed end to end: d22's snapshotDiff (hash-only
    // exchange) classifies old vs new corpus rows, the removed ∪
    // changed OLD rows feed i3's deletePostings (each names its own
    // terms), the added ∪ changed NEW rows feed i2's upsertPostings —
    // and the result must be IDENTICAL to a from-scratch build over
    // the new snapshot, so the oracle is i1's SQL with the new-
    // snapshot predicate. Old snapshot = docs with id % 7 ≠ 0, with
    // id % 5 = 0 texts staled (→ `changed`); new = docs with
    // id % 13 ≠ 0 (% 13 = 0 → `removed`; % 7 = 0 → `added`). The
    // diff bounds the work: only touched docs re-tokenize, only
    // their terms shuffle — at 100 TB this is the difference between
    // reindexing a daily delta and reindexing the corpus. The OLD
    // index is a stored artifact (built once per sf dir, the
    // s8/d12/j2 pattern): a deployment's stored index already exists
    // when the delta arrives, so the timed query measures
    // diff + delete + upsert, not the historical build.
    (s, d) => {
      val docs = t(s, d, "documents")
      val oldSnap = docs.filter(col("doc_id") % 7 =!= 0)
        .withColumn("text", when(col("doc_id") % 5 === 0,
          concat(col("text"), lit(" graftstale"))).otherwise(col("text")))
      val newSnap = docs.filter(col("doc_id") % 13 =!= 0)
      val diff = Curation.snapshotDiff(oldSnap, newSnap, "doc_id", "text")
      val delIds = diff.filter(col("status").isin("removed", "changed"))
        .select("doc_id")
      val upIds = diff.filter(col("status").isin("added", "changed"))
        .select("doc_id")
      val stored = s.read.parquet(oldPostingsFor(s, d))
      val compacted = Bm25.deletePostings(stored,
        oldSnap.join(broadcast(delIds), Seq("doc_id"), "left_semi"),
        "doc_id", "text")
      Bm25.upsertPostings(compacted,
          newSnap.join(broadcast(upIds), Seq("doc_id"), "left_semi"),
          "doc_id", "text")
        .select(col("term"), col("df"), col("cf"),
          array_join(transform(col("postings"), p =>
            concat(p.getField("doc_id").cast("string"), lit(":"),
              p.getField("tf").cast("string"))), ",").as("postings"))
        .orderBy("term")
    },
    Some(postingsIndexSql("WHERE doc_id % 13 <> 0")))


  private val b2 = QuerySpec("b2_bm25_indexed",
    // b1 served FROM the posting-list index: only the query terms'
    // posting rows are read (partition-pruned against an on-disk index
    // — Bm25Spec), joined back to the doc-length table. Same oracle as
    // b1: scores are bit-identical by construction.
    (s, d) => {
      val docs = t(s, d, "documents")
      Bm25.topKFromIndex(Bm25.buildPostings(docs, "doc_id", "text"),
          Bm25.docLengths(docs, "doc_id", "text"), "doc_id", Bm25Terms, 10)
        .select(Seq(col("doc_id")) ++
          Bm25Terms.map(t => col(s"tf_$t").cast("long").as(s"tf_$t")) :+
          round(col("bm25"), 6).as("bm25"): _*)
    },
    Some(bm25TopkSql))


  private val r2 = QuerySpec("r2_rrf_fusion",
    // Hybrid retrieval tail: BM25 top-50 × cosine-kNN top-50 →
    // reciprocal-rank fusion → top-10. Both lists are k-bounded BEFORE
    // the fusion join, so fusion cost is k², corpus-size-independent.
    (s, d) => {
      val lex = Bm25.rankBounded(
        Bm25.topK(t(s, d, "documents"), "doc_id", "text", Bm25Terms, 50),
        Seq(desc("bm25"), asc("doc_id"))).select("doc_id", "rank")
      val vec = Bm25.rankBounded(
        t(s, d, "embeddings").crossJoin(broadcast(queryVec(s, d, 0)))
          .withColumn("cos", VectorFunctions.cosine(col("embedding"), col("qv")))
          .orderBy(desc("cos"), asc("vec_id")).limit(50),
        Seq(desc("cos"), asc("vec_id")))
        .select(col("vec_id").as("doc_id"), col("rank"))
      Bm25.rrf(lex, vec, "doc_id")
        .orderBy(desc("rrf_score"), asc("doc_id")).limit(10)
        .select(col("doc_id"), round(col("rrf_score"), 6).as("rrf_score"),
          col("rank_a").as("rank_lex"), col("rank_b").as("rank_vec"))
    },
    Some(s"""WITH $bm25Ctes,
      lex AS (SELECT doc_id, row_number() OVER (ORDER BY bm25 DESC, doc_id) AS rank_lex
        FROM (SELECT doc_id, bm25 FROM scored WHERE bm25 > 0
          ORDER BY bm25 DESC, doc_id LIMIT 50)),
      q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
      vec AS (SELECT doc_id, row_number() OVER (ORDER BY cos DESC, doc_id) AS rank_vec
        FROM (SELECT vec_id AS doc_id, ${cosineSql("embedding", "qv")} AS cos
          FROM embeddings CROSS JOIN q
          ORDER BY cos DESC, doc_id LIMIT 50)),
      fused AS (SELECT coalesce(lex.doc_id, vec.doc_id) AS doc_id,
        coalesce(1.0 / (60.0 + rank_lex), 0.0)
          + coalesce(1.0 / (60.0 + rank_vec), 0.0) AS rrf_raw,
        rank_lex, rank_vec
        FROM lex FULL OUTER JOIN vec ON lex.doc_id = vec.doc_id)
      SELECT doc_id, round(rrf_raw, 6) AS rrf_score, rank_lex, rank_vec
      FROM fused ORDER BY rrf_raw DESC, doc_id LIMIT 10"""))

  // ======================================================================
  // Dedup family (north star: exact, MinHash+LSH, SimHash, n-gram
  // Jaccard, embedding near-dup)
  // ======================================================================


  private val r1 = QuerySpec("r1_hybrid_rerank",
    // A6+A10 (main.py:298-324): 0.7·judge + 0.3·rule, sort desc — the
    // rerank tail of the cascade, oracle-checked in isolation with the
    // deterministic judge double.
    (s, d) => {
      val txt = lower(col("text"))
      val judge = round(lit(5.0) *
        (when(txt.contains("join"), 1).otherwise(0) +
         when(txt.contains("row"), 1).otherwise(0)) / 2, 0).cast("double")
      val docJob = regexp_extract(txt, "\\b(join|merge|sort|scan)\\b", 1)
      val docRegion = regexp_extract(txt, "\\b(row|line|column|key)\\b", 1)
      val rule = Rerank.nerOverlap(Seq(
        (lit("join"), docJob), (lit("row"), docRegion), (lit(""), lit(""))))
      t(s, d, "documents")
        .select(col("doc_id"), judge.as("judge_score"), rule.as("rule_score"))
        .withColumn("score",
          Rerank.combined(col("judge_score"), col("rule_score")))
        .orderBy(desc("score"), asc("doc_id")).limit(20)
        .select(col("doc_id"), col("judge_score"), col("rule_score"),
          round(col("score"), 6).as("score"))
    },
    Some {
      def ov(u: String, dcol: String) =
        s"""(CASE WHEN len('$u') > 0 AND len($dcol) > 0
            AND (contains($dcol, '$u') OR contains('$u', $dcol)) THEN 1 ELSE 0 END)"""
      s"""SELECT doc_id, judge_score, rule_score, round(score, 6) AS score FROM (
        SELECT doc_id, judge_score, rule_score,
          0.7 * judge_score + 0.3 * rule_score AS score FROM (
          SELECT doc_id,
            CAST(round(5.0 * (CASE WHEN contains(lower(text), 'join') THEN 1 ELSE 0 END
              + CASE WHEN contains(lower(text), 'row') THEN 1 ELSE 0 END) / 2, 0) AS DOUBLE)
              AS judge_score,
            CAST(${ov("join", "doc_job")} + ${ov("row", "doc_region")} AS DOUBLE) AS rule_score
          FROM (SELECT doc_id, text,
            regexp_extract(lower(text), '\\b(join|merge|sort|scan)\\b', 1) AS doc_job,
            regexp_extract(lower(text), '\\b(row|line|column|key)\\b', 1) AS doc_region
            FROM documents)))
        ORDER BY score DESC, doc_id LIMIT 20"""
    })

  final def queriesLexical: Seq[QuerySpec] = Seq(b1, b2, i1, i2, i3, i4, r2, r1)
}
