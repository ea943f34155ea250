package graft

import graft.functions.{TextAnalysis, TextFunctions, VectorFunctions}
import graft.multimodal.{DecodeStub, Multimodal}
import graft.operators.{Ann, Bm25, Chunker, Curation, Dedup, HeavyHitters, Knn, LshAnn, Mmr, MultiStageSearch, Packing, QualityModel, Rerank, RetrievalEval}
import graft.sources.JobCorpus
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Dedup family d1–d24 (north star: exact, MinHash+LSH, SimHash,
  * n-gram Jaccard, embedding near-dup, manifests/applies, components).
  */
private[graft] trait QueriesDedup { self: QueriesShared =>


  /** Shared DuckDB mirror of Curation.duplicateSpans at (k=4,
    * minTokens=8, maxGramDf=50) on `documents` — the CTE chain ending
    * in `spans(doc_a, doc_b, start_a, start_b, span_tokens)` WITH the
    * min-length filter applied. ONE copy shared by d9 (detect) and
    * d16 (apply) so the two oracles can never drift on what a span
    * is. */
  private def dupSpanCtes: String =
    s"""ws AS (SELECT doc_id, string_split_regex(trim(text), '$WsSplit') AS ws
        FROM documents),
      grams AS (SELECT doc_id, i AS pos,
        ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3] AS gram
        FROM ws, unnest(range(1, greatest(len(ws) - 2, 1))) AS t(i)),
      rare AS (SELECT gram FROM grams GROUP BY gram
        HAVING count(DISTINCT doc_id) <= 50),
      kept AS (SELECT g.* FROM grams g JOIN rare USING (gram)),
      m AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
          a.pos AS pos_a, b.pos AS pos_b, a.pos - b.pos AS diag
        FROM kept a JOIN kept b ON a.gram = b.gram AND a.doc_id < b.doc_id),
      isl AS (SELECT doc_a, doc_b, diag, pos_a, pos_b,
        pos_a - row_number() OVER (PARTITION BY doc_a, doc_b, diag
          ORDER BY pos_a) AS grp FROM m),
      spans AS (SELECT doc_a, doc_b, start_a, start_b, span_tokens FROM
        (SELECT doc_a, doc_b, min(pos_a) AS start_a,
          min(pos_b) AS start_b, CAST(count(*) + 3 AS BIGINT) AS span_tokens
        FROM isl GROUP BY doc_a, doc_b, diag, grp)
        WHERE span_tokens >= 8)"""


  private val d9 = QuerySpec("d9_dup_spans",
    // Exact duplicate-SPAN dedup (suffix-array semantics, declarative):
    // maximal runs of ≥8 consecutive shared tokens between doc pairs,
    // via positional 4-gram match + per-diagonal gaps-and-islands.
    (s, d) => Curation.duplicateSpans(t(s, d, "documents"), "doc_id", "text",
        k = 4, minTokens = 8, maxGramDf = 50)
      .orderBy("doc_a", "doc_b", "start_a", "start_b"),
    Some(s"""WITH $dupSpanCtes
      SELECT doc_a, doc_b, start_a, start_b, span_tokens FROM spans
      ORDER BY doc_a, doc_b, start_a, start_b"""))


  private val d16 = QuerySpec("d16_span_dedup_apply",
    // d9's ACTION (apply-side span dedup): the CLEANED corpus with
    // every detected duplicated span removed keep-first — the lower-id
    // doc of each pair keeps the surviving copy, doc_b's occurrence is
    // cut token-wise (overlapping intervals merged via cummax
    // gaps-and-islands, survivors re-joined with single spaces; an
    // untouched doc keeps its text byte-identical). Oracle mirrors the
    // whole chain: detection CTEs shared verbatim with d9, then the
    // same interval merge, NOT-EXISTS token cut, and ordered re-join.
    (s, d) => Curation.removeDuplicateSpans(t(s, d, "documents"), "doc_id",
        "text", k = 4, minTokens = 8, maxGramDf = 50)
      .orderBy("doc_id"),
    Some(s"""WITH $dupSpanCtes,
      iv AS (SELECT doc_b AS adoc, start_b AS s,
        start_b + span_tokens - 1 AS e FROM spans),
      gi AS (SELECT adoc, s, e, max(e) OVER (PARTITION BY adoc
        ORDER BY s, e ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        AS pmax FROM iv),
      gr AS (SELECT adoc, s, e, sum(CASE WHEN pmax IS NULL OR s > pmax
          THEN 1 ELSE 0 END) OVER (PARTITION BY adoc ORDER BY s, e
          ROWS UNBOUNDED PRECEDING) AS grp FROM gi),
      mi AS (SELECT adoc, min(s) AS s, max(e) AS e FROM gr
        GROUP BY adoc, grp),
      aff AS (SELECT DISTINCT adoc FROM mi),
      atoks AS (SELECT w.doc_id AS adoc, i AS pos, w.ws[i] AS tok
        FROM ws w JOIN aff ON w.doc_id = aff.adoc,
        unnest(range(1, len(w.ws) + 1)) AS t(i)),
      ktoks AS (SELECT a.adoc, a.pos, a.tok FROM atoks a
        WHERE NOT EXISTS (SELECT 1 FROM mi
          WHERE mi.adoc = a.adoc AND a.pos BETWEEN mi.s AND mi.e)),
      reb AS (SELECT adoc, string_agg(tok, ' ' ORDER BY pos) AS ctext,
        count(*) AS nkept FROM ktoks GROUP BY adoc),
      cln AS (SELECT aff.adoc, coalesce(reb.ctext, '') AS ctext,
        coalesce(reb.nkept, 0) AS nkept
        FROM aff LEFT JOIN reb ON aff.adoc = reb.adoc)
      SELECT d.doc_id,
        CASE WHEN cln.adoc IS NOT NULL THEN cln.ctext ELSE d.text END AS text,
        CAST(CASE WHEN cln.adoc IS NOT NULL THEN len(w.ws) - cln.nkept
          ELSE 0 END AS BIGINT) AS n_removed_tokens
      FROM documents d JOIN ws w ON d.doc_id = w.doc_id
        LEFT JOIN cln ON d.doc_id = cln.adoc
      ORDER BY d.doc_id"""))

  // ======================================================================
  // Lexical retrieval + hybrid fusion (operators/Bm25): the lexical
  // half the vector-only reference lacks, and the RRF tail that fuses
  // it with the ANN stage
  // ======================================================================


  private val d1 = QuerySpec("d1_dedup_exact",
    (s, d) => Dedup.exactByText(t(s, d, "documents"), "text", "doc_id")
      .orderBy("text_hash"),
    Some("""SELECT md5(text) AS text_hash, min(doc_id) AS keep_id, count(*) AS n_copies
      FROM documents GROUP BY 1 ORDER BY 1"""))


  /** Shared DuckDB mirror of Dedup.minhashNearDups — same band scheme,
    * same dedup-candidates-then-join-back shape, same exact Jaccard.
    * `minhashPairsCtes` returns the CTE chain ending in `verified`
    * so the components oracle (d6) can build on the same pair set. */
  private def minhashOracle(numHashes: Int, bandRows: Int, shingleK: Int,
                            threshold: Double): String =
    s"""WITH ${minhashPairsCtes(numHashes, bandRows, shingleK)}
      SELECT doc_a, doc_b, round(jaccard, 6) AS jaccard FROM verified
      WHERE jaccard >= $threshold ORDER BY doc_a, doc_b"""


  /** DuckDB mirror of TextAnalysis.shinglesFast over a split-word list
    * `ws` — ONE copy shared by the minhash CTE chain (d2/d4/d6/d11/
    * d12) and the containment oracle (d14) so candidate and verify
    * shingle sets can never drift apart. */
  private def shingleExprSql(shingleK: Int): String =
    if (shingleK == 1) "list_distinct(ws)"
    else {
      val parts = (0 until shingleK).map(j => s"ws[i+$j]").mkString(" || ' ' || ")
      s"list_distinct(list_transform(range(1, len(ws) - ${shingleK - 2}), i -> $parts))"
    }


  /** The ws→shingled CTE pair shared by every shingle-set oracle. */
  private def shingledCtes(shingleK: Int): String =
    s"""ws AS (SELECT doc_id, string_split_regex(trim(text), '$WsSplit') AS ws FROM documents),
      shingled AS (SELECT doc_id,
        CASE WHEN len(ws) < $shingleK THEN []::VARCHAR[] ELSE ${shingleExprSql(shingleK)} END AS sh FROM ws)"""


  private def minhashPairsCtes(numHashes: Int, bandRows: Int, shingleK: Int,
                               candSql: Option[String] = None): String = {
    val nBands = numHashes / bandRows
    // hex→numeric digests (mirrors Spark's conv(substring(md5(s),…),16,10)):
    // value of 7 hex chars starting at position p, big-endian.
    def hexVal(p: Int): String = (0 until 7).map { k =>
      s"(strpos('0123456789abcdef', substr(md5(s), ${p + k}, 1)) - 1) * ${math.pow(16, 6 - k).toLong}"
    }.mkString(" + ")
    val mh = (0 until numHashes)
      .map(j => s"min((ha * ${j + 1} + hb) % 1000000007) AS mh$j").mkString(", ")
    val bands = (0 until nBands).map { b =>
      val sig = (0 until bandRows).map(r => s"mh${b * bandRows + r}").mkString(" || '|' || ")
      s"SELECT doc_id, $b AS band_idx, md5($sig) AS band_sig FROM sig"
    }.mkString(" UNION ALL ")
    val inter = "len(list_intersect(sa.sh, sb.sh))"
    s"""${shingledCtes(shingleK)},
      hexv AS (SELECT doc_id, ${hexVal(1)} AS ha, ${hexVal(9)} AS hb
        FROM (SELECT doc_id, unnest(sh) AS s FROM shingled)),
      sig AS (SELECT doc_id, $mh FROM hexv GROUP BY doc_id),
      bands AS ($bands),
      cand AS (${candSql.getOrElse("""SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bands a JOIN bands b
          ON a.band_idx = b.band_idx AND a.band_sig = b.band_sig AND a.doc_id < b.doc_id""")}),
      verified AS (SELECT doc_a, doc_b,
        CAST($inter AS DOUBLE) / (len(sa.sh) + len(sb.sh) - $inter) AS jaccard
        FROM cand JOIN shingled sa ON cand.doc_a = sa.doc_id
                  JOIN shingled sb ON cand.doc_b = sb.doc_id)"""
  }


  private val d2 = QuerySpec("d2_minhash_neardup",
    (s, d) => Dedup.minhashNearDups(t(s, d, "documents"), "doc_id", "text",
        numHashes = 32, bandRows = 4, shingleK = 3, threshold = 0.5)
      .orderBy("doc_a", "doc_b"),
    Some(minhashOracle(32, 4, 3, 0.5)))


  private val d11 = QuerySpec("d11_incremental_neardup",
    // Daily-ingest dedup: the incoming batch (doc_id % 10 = 0 here)
    // band-joins against the EXISTING corpus only — never old×old.
    // Same signatures/bands/verify as d2, so the oracle reuses d2's
    // CTE chain with a cross-side candidate join.
    (s, d) => {
      val docs = t(s, d, "documents")
      Dedup.minhashNearDupsAgainst(
          docs.filter(col("doc_id") % 10 === 0),
          docs.filter(col("doc_id") % 10 =!= 0),
          "doc_id", "text", numHashes = 32, bandRows = 4,
          shingleK = 3, threshold = 0.5)
        .orderBy("doc_new", "doc_old")
    },
    Some(s"""WITH ${minhashPairsCtes(32, 4, 3, candSql = Some(
      """SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bands a JOIN bands b
          ON a.band_idx = b.band_idx AND a.band_sig = b.band_sig
        WHERE a.doc_id % 10 = 0 AND b.doc_id % 10 <> 0"""))}
      SELECT doc_a AS doc_new, doc_b AS doc_old, round(jaccard, 6) AS jaccard
      FROM verified WHERE jaccard >= 0.5 ORDER BY 1, 2"""))


  /** d12's pre-stored corpus band table — built ONCE per sf dir (a
    * TrieMap keyed on the dir), because the band index is the
    * INDEX-TIME artifact of the incremental-dedup design: repeated
    * bench/verify runs then measure QUERY-time cost, the cost a daily
    * batch actually pays against an index that already exists. A lost
    * race builds the index twice into separate temp dirs — wasteful,
    * never wrong (both are complete). */
  private val bandIndexPaths = scala.collection.concurrent.TrieMap.empty[String, String]

  private def bandIndexFor(s: SparkSession, d: String): String =
    bandIndexPaths.getOrElseUpdate(d, {
      val p = tempDir("graft_band_idx_").toString + "/bands"
      Dedup.writeBandIndex(
        t(s, d, "documents").filter(col("doc_id") % 10 =!= 0),
        "doc_id", "text", p,
        numHashes = 32, bandRows = 4, shingleK = 3, nBuckets = 16)
      p
    })


  private val d12 = QuerySpec("d12_incremental_banded",
    // d11 served from the pre-stored band index: the corpus side reads
    // ONLY the batch's band buckets (static partition pruning on
    // band_bucket) and re-shingles only CANDIDATE corpus docs, instead
    // of re-shingling the whole corpus per batch. Identical pairs by
    // construction (same hash scheme, read from the index's own
    // metadata) — the oracle IS d11's.
    (s, d) => {
      val docs = t(s, d, "documents")
      Dedup.minhashNearDupsAgainstIndex(
          docs.filter(col("doc_id") % 10 === 0),
          bandIndexFor(s, d),
          docs.filter(col("doc_id") % 10 =!= 0),
          "doc_id", "text", threshold = 0.5)
        .orderBy("doc_new", "doc_old")
    },
    d11.oracle)


  private val d13 = QuerySpec("d13_semdedup",
    // SemDeDup (arXiv:2303.09540): cluster-blocked semantic near-dup.
    // Nearest-centroid assignment (s2's broadcast argmin,
    // Ann.ivfAssignBig: L2, ties to the smaller cid), then pairwise
    // cosine ONLY within a cluster — the cross-cluster quadrant is
    // never computed, which is what removes the corpus-quadratic term
    // at 100 TB. Deterministic centroid table (vec_id < 8) so the
    // cluster blocking itself is inside the DuckDB oracle; production
    // centroids come from Ann.trainCentroids (MLlib k-means, v14).
    (s, d) => {
      val e = t(s, d, "embeddings")
      val cent = e.filter(col("vec_id") < 8)
        .select(col("vec_id").as("cid"), col("embedding").as("cvec"))
      Dedup.semanticNearDups(e, "vec_id", "embedding", cent, "cid", "cvec",
          threshold = 0.3)
        .select(col("cluster_id"), col("doc_a").as("vec_a"),
          col("doc_b").as("vec_b"), col("cos"))
        .orderBy("vec_a", "vec_b")
    },
    Some(s"""WITH cent AS (SELECT vec_id AS cid, embedding AS cvec
        FROM embeddings WHERE vec_id < 8),
      assign AS (SELECT e.vec_id, e.embedding, cid,
        row_number() OVER (PARTITION BY e.vec_id
          ORDER BY ${l2Sql("e.embedding", "cvec")}, cid) AS crn
        FROM embeddings e CROSS JOIN cent),
      clusters AS (SELECT vec_id, embedding, cid AS cluster_id
        FROM assign WHERE crn = 1)
      SELECT cluster_id, vec_a, vec_b, round(cos, 6) AS cos FROM (
        SELECT a.cluster_id, a.vec_id AS vec_a, b.vec_id AS vec_b,
          ${cosineSql("a.embedding", "b.embedding")} AS cos
        FROM clusters a JOIN clusters b
          ON a.cluster_id = b.cluster_id AND a.vec_id < b.vec_id)
      WHERE cos >= 0.3 ORDER BY vec_a, vec_b"""))


  private val d14 = QuerySpec("d14_containment",
    // Containment near-dup (Dedup.containmentPairs): the nested-
    // document quadrant Jaccard resemblance is blind to — C(A,B) =
    // |A∩B| / min(|A|,|B|) over shingle sets, candidates from a
    // df-capped rare-shingle inverted index (not d2's bands: a
    // nested pair's Jaccard is too LOW to collide in resemblance
    // LSH). Oracle mirrors both stages exactly: same shingle CTE as
    // d2's chain, same df window [2, maxDf], same >= minShared gate.
    (s, d) => Dedup.containmentPairs(t(s, d, "documents"), "doc_id", "text",
        shingleK = 3, maxDf = 20, minShared = 2, threshold = 0.8)
      .orderBy("doc_a", "doc_b"),
    Some(s"""WITH ${shingledCtes(3)},
      posts AS (SELECT doc_id, unnest(sh) AS s FROM shingled),
      rare AS (SELECT s FROM posts GROUP BY s HAVING count(*) BETWEEN 2 AND 20),
      rp AS (SELECT p.doc_id, p.s FROM posts p JOIN rare USING (s)),
      cand AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM rp a JOIN rp b ON a.s = b.s AND a.doc_id < b.doc_id
        GROUP BY 1, 2 HAVING count(*) >= 2),
      verified AS (SELECT doc_a, doc_b,
          least(len(sa.sh), len(sb.sh)) AS n_small,
          CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)
            / least(len(sa.sh), len(sb.sh)) AS c
        FROM cand JOIN shingled sa ON cand.doc_a = sa.doc_id
                  JOIN shingled sb ON cand.doc_b = sb.doc_id)
      SELECT doc_a, doc_b, n_small, round(c, 6) AS containment
      FROM verified WHERE c >= 0.8 ORDER BY doc_a, doc_b"""))


  private val d15 = QuerySpec("d15_containment_incremental",
    // d14's daily-ingest form (Dedup.containmentPairsAgainst): the
    // batch (doc_id % 10 = 0, d11's split) probes the corpus's
    // rare-shingle inverted index — new×old only, rarity judged on
    // corpus df (the precomputable index-time statistic), no df >= 2
    // floor (a corpus-unique shingle still witnesses a cross pair).
    (s, d) => {
      val docs = t(s, d, "documents")
      Dedup.containmentPairsAgainst(
          docs.filter(col("doc_id") % 10 === 0),
          docs.filter(col("doc_id") % 10 =!= 0),
          "doc_id", "text", shingleK = 3, maxDf = 20,
          minShared = 2, threshold = 0.8)
        .orderBy("doc_new", "doc_old")
    },
    Some(s"""WITH ${shingledCtes(3)},
      posts AS (SELECT doc_id, unnest(sh) AS s FROM shingled),
      rare AS (SELECT s FROM posts WHERE doc_id % 10 <> 0
        GROUP BY s HAVING count(*) <= 20),
      cand AS (SELECT n.doc_id AS doc_new, o.doc_id AS doc_old
        FROM posts n JOIN posts o ON n.s = o.s JOIN rare r ON n.s = r.s
        WHERE n.doc_id % 10 = 0 AND o.doc_id % 10 <> 0
        GROUP BY 1, 2 HAVING count(*) >= 2),
      verified AS (SELECT doc_new, doc_old,
          least(len(sn.sh), len(so.sh)) AS n_small,
          CAST(len(list_intersect(sn.sh, so.sh)) AS DOUBLE)
            / least(len(sn.sh), len(so.sh)) AS c
        FROM cand JOIN shingled sn ON cand.doc_new = sn.doc_id
                  JOIN shingled so ON cand.doc_old = so.doc_id)
      SELECT doc_new, doc_old, n_small, round(c, 6) AS containment
      FROM verified WHERE c >= 0.8 ORDER BY doc_new, doc_old"""))


  /** d17's pre-stored corpus rare-shingle index — built ONCE per sf
    * dir (the bandIndexFor pattern): the INDEX-time artifact of the
    * incremental containment design, so repeated runs measure the
    * per-batch probe cost, not the corpus-side shingle+df pass (240 s
    * of d15's first run at 100× — PLANS.md round 11). */
  private val shingleIndexPaths =
    scala.collection.concurrent.TrieMap.empty[String, String]

  private def shingleIndexFor(s: SparkSession, d: String): String =
    shingleIndexPaths.getOrElseUpdate(d, {
      val p = tempDir("graft_shingle_idx_").toString + "/posts"
      Dedup.writeShingleIndex(
        t(s, d, "documents").filter(col("doc_id") % 10 =!= 0),
        "doc_id", "text", p, shingleK = 3, maxDf = 20, nBuckets = 16)
      p
    })


  private val d19 = QuerySpec("d19_url_dedup",
    // URL-level dedup (Curation.urlDedup over canonicalizeUrl): the
    // crawl-snapshot step that runs BEFORE any text dedup — a page
    // fetched twice with different tracking params / case / port /
    // trailing-slash noise is one document. URLs are PLANTED from
    // table columns (sf-independent): case noise on scheme+www,
    // optional :443, optional trailing slash, two utm_* params, an
    // optional REAL param (page=2, preserved), and a fragment. Group
    // key after canonicalization = (source, doc_id%6, doc_id%5=0) —
    // every noise axis collapses, the real param does not. The oracle
    // replays all five canonicalization steps regex-for-regex (RE2-
    // safe by construction: no lookarounds) and the keep-first rule.
    (s, d) => {
      val u = t(s, d, "documents").select(col("doc_id"),
        concat(
          when(col("doc_id") % 2 === 0, lit("HTTPS://WWW.")).otherwise(lit("https://")),
          col("source"), lit(".Example.COM"),
          when(col("doc_id") % 4 === 0, lit(":443")).otherwise(lit("")),
          lit("/item/"), (col("doc_id") % 6).cast("string"),
          when(col("doc_id") % 3 === 0, lit("/")).otherwise(lit("")),
          lit("?utm_source=feed&utm_campaign=c"), (col("doc_id") % 7).cast("string"),
          when(col("doc_id") % 5 === 0, lit("&page=2")).otherwise(lit("")),
          lit("#sec"), (col("doc_id") % 9).cast("string")).as("url"))
      Curation.urlDedup(u, "doc_id", "url").orderBy("doc_id")
    },
    Some(s"""WITH u AS (SELECT doc_id,
        (CASE WHEN doc_id % 2 = 0 THEN 'HTTPS://WWW.' ELSE 'https://' END)
        || source || '.Example.COM'
        || (CASE WHEN doc_id % 4 = 0 THEN ':443' ELSE '' END)
        || '/item/' || (doc_id % 6)
        || (CASE WHEN doc_id % 3 = 0 THEN '/' ELSE '' END)
        || '?utm_source=feed&utm_campaign=c' || (doc_id % 7)
        || (CASE WHEN doc_id % 5 = 0 THEN '&page=2' ELSE '' END)
        || '#sec' || (doc_id % 9) AS url
        FROM documents),
      c AS (SELECT doc_id, url,
        lower(regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.-]*)://([^/?#]+)', 1)) AS scheme,
        regexp_replace(regexp_replace(
          lower(regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.-]*)://([^/?#]+)', 2)),
          '^www\\.', ''), ':(80|443)${"$"}', '') AS host,
        regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.-]*)://([^/?#]+)(.*)${"$"}', 3) AS rest
        FROM u),
      n AS (SELECT doc_id, url,
        CASE WHEN scheme = '' OR host = '' THEN trim(url)
          ELSE scheme || '://' || host ||
            regexp_replace(regexp_replace(regexp_replace(regexp_replace(
              regexp_replace(regexp_replace(rest, '#.*${"$"}', ''),
              '([?&])(utm_[A-Za-z0-9_]*|fbclid|gclid|ref)=[^&#]*', '\\1', 'g'),
              '&&+', '&', 'g'), '\\?&', '?'), '[?&]+${"$"}', ''),
              '/+(\\?|${"$"})', '\\1', 'g')
          END AS url_canon
        FROM c),
      g AS (SELECT url_canon, min(doc_id) AS keeper,
          count(*) AS group_size FROM n GROUP BY 1)
      SELECT n.doc_id, n.url, n.url_canon, g.group_size,
        n.doc_id = g.keeper AS keep
      FROM n JOIN g USING (url_canon) ORDER BY n.doc_id"""))


  private val d18 = QuerySpec("d18_line_dedup",
    // Corpus-wide line-level dedup APPLY (Curation.lineDedup): the
    // RefinedWeb/CCNet step that strips repeated boilerplate lines
    // keep-first and rebuilds each doc. Line structure is PLANTED
    // deterministically from table columns (the t27 precedent —
    // sf-independent): every doc gets the same header line (survives
    // only in the min doc_id), a blank line (structure — preserved
    // everywhere), its own unique body, and a per-source footer
    // (survives once per source). The oracle replays the same reshape,
    // a keep-first window over non-blank lines, and the ordered
    // string_agg rebuild.
    (s, d) => {
      val reshaped = t(s, d, "documents").select(col("doc_id"),
        concat_ws("\n", lit("=== corpus boilerplate header ==="), lit(""),
          col("text"),
          concat(lit("footer of source "), col("source"))).as("text"))
      Curation.lineDedup(reshaped, "doc_id", "text").orderBy("doc_id")
    },
    Some("""WITH src AS (SELECT doc_id,
        '=== corpus boilerplate header ===' || chr(10) || chr(10) || text
          || chr(10) || 'footer of source ' || source AS text
        FROM documents),
      ls AS (SELECT doc_id, string_split(text, chr(10)) AS ls FROM src),
      lines AS (SELECT doc_id, unnest(ls) AS ln,
        unnest(range(1, len(ls) + 1)) AS pos FROM ls),
      rn AS (SELECT doc_id, pos, ln, row_number() OVER (PARTITION BY ln
          ORDER BY doc_id, pos) AS rn FROM lines WHERE trim(ln) <> ''),
      kept AS (SELECT doc_id, pos, ln FROM rn WHERE rn = 1
        UNION ALL SELECT doc_id, pos, ln FROM lines WHERE trim(ln) = ''),
      reb AS (SELECT doc_id, count(*) AS n_kept,
        string_agg(ln, chr(10) ORDER BY pos) AS text_clean
        FROM kept GROUP BY doc_id)
      SELECT l.doc_id, CAST(len(l.ls) AS BIGINT) AS n_lines,
        CAST(coalesce(n_kept, 0) AS BIGINT) AS n_kept,
        coalesce(text_clean, '') AS text_clean
      FROM ls l LEFT JOIN reb ON l.doc_id = reb.doc_id
      ORDER BY l.doc_id"""))


  private val d17 = QuerySpec("d17_containment_served",
    // d15 served from the pre-stored rare-shingle inverted index: the
    // corpus side reads ONLY the batch's posting buckets (static
    // partition pruning on shingle_bucket) and re-shingles only
    // CANDIDATE corpus docs, instead of re-shingling + re-df-counting
    // the whole corpus per batch — the d12 treatment applied to the
    // containment family. Identical pairs by construction (rarity
    // judged on the same corpus df, recorded at index-build time; all
    // parameters from the index's own _graft_meta) — the oracle IS
    // d15's.
    (s, d) => {
      val docs = t(s, d, "documents")
      Dedup.containmentPairsAgainstIndex(
          docs.filter(col("doc_id") % 10 === 0),
          shingleIndexFor(s, d),
          docs.filter(col("doc_id") % 10 =!= 0),
          "doc_id", "text", minShared = 2, threshold = 0.8)
        .orderBy("doc_new", "doc_old")
    },
    d15.oracle)


  private val d4 = QuerySpec("d4_ngram_jaccard",
    (s, d) => Dedup.ngramJaccardPairs(t(s, d, "documents"), "doc_id", "text",
        shingleK = 2, threshold = 0.4)
      .orderBy("doc_a", "doc_b"),
    Some(minhashOracle(32, 4, 2, 0.4)))


  /** CTE chain ending in `sig(doc_id, simhash)` — DuckDB mirror of
    * Dedup.simhashBits at any width ≤60 (place weights and packed
    * values stay in signed BIGINT). 16-bit shared by d3/d7; 60-bit by
    * d10. */
  private def simhashCtesAt(bits: Int): String = {
    val hex = bits / 4
    val hexVal = (1 to hex).map { i =>
      s"(strpos('0123456789abcdef', substr(md5(w), $i, 1)) - 1) * ${1L << (4 * (hex - i))}"
    }.mkString(" + ")
    val bitSums = (0 until bits)
      .map(i => s"sum(CASE WHEN (v >> $i) & 1 = 1 THEN 1 ELSE -1 END) AS b$i").mkString(", ")
    val fp = (0 until bits)
      .map(i => s"CASE WHEN b$i > 0 THEN ${1L << i} ELSE 0 END").mkString(" + ")
    s"""words AS (
      SELECT doc_id, unnest(string_split_regex(trim(text), '$WsSplit')) AS w FROM documents),
    vals AS (SELECT doc_id, $hexVal AS v FROM words WHERE len(w) > 0),
    bits AS (SELECT doc_id, $bitSums FROM vals GROUP BY doc_id),
    sig AS (SELECT doc_id, CAST($fp AS BIGINT) AS simhash FROM bits)"""
  }


  private def simhashCtes: String = simhashCtesAt(16)


  private val d3 = QuerySpec("d3_simhash",
    (s, d) => Dedup.simhash16(t(s, d, "documents"), "doc_id", "text")
      .orderBy("doc_id"),
    Some(s"WITH $simhashCtes SELECT doc_id, simhash FROM sig ORDER BY doc_id"))


  private val d7 = QuerySpec("d7_simhash_neardup",
    // SimHash pair-finding: Hamming ≤ 1 via pigeonhole block banding
    // (2 blocks of 8 bits: any pair within budget agrees on ≥1 block)
    // + exact popcount verify.
    (s, d) => Dedup.simhashNearDups(t(s, d, "documents"), "doc_id", "text",
        maxHamming = 1)
      .orderBy("doc_a", "doc_b"),
    Some(s"""WITH $simhashCtes,
      blocks AS (SELECT doc_id, simhash, b AS block_idx,
        (simhash >> (b * 8)) & 255 AS block_val
        FROM sig, unnest([0, 1]) AS t(b)),
      cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
        a.simhash AS sa, b.simhash AS sb
        FROM blocks a JOIN blocks b
          ON a.block_idx = b.block_idx AND a.block_val = b.block_val
          AND a.doc_id < b.doc_id)
      SELECT doc_a, doc_b, CAST(bit_count(xor(sa, sb)) AS INT) AS hamming
      FROM cand WHERE bit_count(xor(sa, sb)) <= 1 ORDER BY doc_a, doc_b"""))


  private val d6 = QuerySpec("d6_neardup_components",
    // Pairs → canonical GROUPS (what a dedup pipeline keeps): connected
    // components over the d2 pair set via iterated min-label
    // propagation; oracle = recursive-CTE transitive closure.
    (s, d) => Dedup.components(
        Dedup.minhashNearDups(t(s, d, "documents"), "doc_id", "text",
          numHashes = 32, bandRows = 4, shingleK = 3, threshold = 0.5))
      .orderBy("doc_id"),
    Some(s"""WITH RECURSIVE ${minhashPairsCtes(32, 4, 3)},
      pairs AS (SELECT doc_a, doc_b FROM verified WHERE jaccard >= 0.5),
      edges AS (SELECT doc_a AS u, doc_b AS v FROM pairs
        UNION SELECT doc_b, doc_a FROM pairs),
      reach(u, v) AS (SELECT u, v FROM edges
        UNION SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u)
      SELECT u AS doc_id, least(u, min(v)) AS component_id FROM reach
      GROUP BY u ORDER BY doc_id"""))


  private val d10 = QuerySpec("d10_dedup_manifest",
    // Detection → ACTION: the purge manifest a dedup job executes.
    // Components over the WIDE (60-bit, ham≤3) SimHash pair set — the
    // 16-bit space saturates near 10⁴ docs (measured 1 s → 232 s at
    // 100k docs) — joined back to the corpus for sizes; per duplicate
    // cluster: the canonical keeper (min doc_id), the cluster size,
    // and the characters reclaimed by purging the rest. Singleton docs
    // never enter the manifest. The join and aggregation shuffle
    // component ids and scalar sizes — never text.
    (s, d) => {
      val docs = t(s, d, "documents")
      val comp = Dedup.components(
        Dedup.simhashNearDupsWide(docs, "doc_id", "text", maxHamming = 3))
      comp.join(docs.select("doc_id", "n_chars"), Seq("doc_id"))
        .groupBy("component_id")
        .agg(count(lit(1)).as("n_docs"),
          min("doc_id").as("keep_doc"),
          (sum("n_chars") - min_by(col("n_chars"), col("doc_id")))
            .cast("long").as("chars_purged"))
        .orderBy("component_id")
    },
    Some(s"""WITH RECURSIVE ${simhashCtesAt(60)},
      blocks AS (SELECT doc_id, simhash, b AS block_idx,
        (simhash >> (b * 15)) & 32767 AS block_val
        FROM sig, unnest([0, 1, 2, 3]) AS t(b)),
      cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
        a.simhash AS sa, b.simhash AS sb
        FROM blocks a JOIN blocks b
          ON a.block_idx = b.block_idx AND a.block_val = b.block_val
          AND a.doc_id < b.doc_id),
      pairs AS (SELECT doc_a, doc_b FROM cand WHERE bit_count(xor(sa, sb)) <= 3),
      edges AS (SELECT doc_a AS u, doc_b AS v FROM pairs
        UNION SELECT doc_b, doc_a FROM pairs),
      reach(u, v) AS (SELECT u, v FROM edges
        UNION SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u),
      comp AS (SELECT u AS doc_id, least(u, min(v)) AS component_id
        FROM reach GROUP BY u)
      SELECT component_id, count(*) AS n_docs, min(doc_id) AS keep_doc,
        CAST(sum(n_chars) - arg_min(n_chars, doc_id) AS BIGINT) AS chars_purged
      FROM comp JOIN documents USING (doc_id)
      GROUP BY component_id ORDER BY component_id"""))


  private val d24 = QuerySpec("d24_group_split",
    // The FIX for t43's leakage: group-aware splitting. Near-dup
    // components (d10's wide-SimHash pairs → connected components)
    // collapse to a representative (component id; singletons are
    // their own rep), and the t10 hash split runs on the REP — so a
    // near-dup cluster lands in exactly one split by construction
    // and can never leak train→test. Output: per-split doc and group
    // counts. The oracle replays the entire chain (simhash, banding,
    // pair verify, recursive components, rep coalesce, md5 bucket
    // split), so a component or assignment drift anywhere breaks the
    // hash. Exchanges carry ids/hashes/component ids — never text
    // past the signature stage.
    (s, d) => {
      val docs = t(s, d, "documents")
      val comp = Dedup.components(
        Dedup.simhashNearDupsWide(docs, "doc_id", "text", maxHamming = 3))
      val withRep = docs.join(comp, Seq("doc_id"), "left")
        .withColumn("rep", coalesce(col("component_id"), col("doc_id")))
      Curation.hashSplit(withRep, "rep")
        .groupBy("split")
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(col("rep")).as("n_groups"))
        .orderBy("split")
    },
    Some(s"""WITH RECURSIVE ${simhashCtesAt(60)},
      blocks AS (SELECT doc_id, simhash, b AS block_idx,
        (simhash >> (b * 15)) & 32767 AS block_val
        FROM sig, unnest([0, 1, 2, 3]) AS t(b)),
      cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
        a.simhash AS sa, b.simhash AS sb
        FROM blocks a JOIN blocks b
          ON a.block_idx = b.block_idx AND a.block_val = b.block_val
          AND a.doc_id < b.doc_id),
      pairs AS (SELECT doc_a, doc_b FROM cand WHERE bit_count(xor(sa, sb)) <= 3),
      edges AS (SELECT doc_a AS u, doc_b AS v FROM pairs
        UNION SELECT doc_b, doc_a FROM pairs),
      reach(u, v) AS (SELECT u, v FROM edges
        UNION SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u),
      comp AS (SELECT u AS doc_id, least(u, min(v)) AS component_id
        FROM reach GROUP BY u),
      rep AS (SELECT d.doc_id,
        coalesce(c.component_id, d.doc_id) AS rep
        FROM documents d LEFT JOIN comp c USING (doc_id)),
      spl AS (SELECT doc_id, rep,
        CASE WHEN ${hashBucketSql("rep", 100)} < 80 THEN 'train'
          WHEN ${hashBucketSql("rep", 100)} < 90 THEN 'valid'
          ELSE 'test' END AS split
        FROM rep)
      SELECT split, count(*) AS n_docs,
        CAST(count(DISTINCT rep) AS BIGINT) AS n_groups
      FROM spl GROUP BY split ORDER BY split"""))


  private val d20 = QuerySpec("d20_dedup_apply",
    // d10's manifest APPLIED (Dedup.applyPurgeManifest): the per-doc
    // keep verdict over the whole corpus — keep-first per duplicate
    // SimHash component, singletons untouched with a null cluster.
    // Downstream purge is filter(keep); the relation keeps what was
    // dropped AND why (its cluster id) auditable. The oracle shares
    // d10's detection CTE chain verbatim and replays the keeper rule.
    (s, d) => {
      val docs = t(s, d, "documents")
      val comp = Dedup.components(
        Dedup.simhashNearDupsWide(docs, "doc_id", "text", maxHamming = 3))
      Dedup.applyPurgeManifest(docs, "doc_id", comp).orderBy("doc_id")
    },
    Some(s"""WITH RECURSIVE ${simhashCtesAt(60)},
      blocks AS (SELECT doc_id, simhash, b AS block_idx,
        (simhash >> (b * 15)) & 32767 AS block_val
        FROM sig, unnest([0, 1, 2, 3]) AS t(b)),
      cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
        a.simhash AS sa, b.simhash AS sb
        FROM blocks a JOIN blocks b
          ON a.block_idx = b.block_idx AND a.block_val = b.block_val
          AND a.doc_id < b.doc_id),
      pairs AS (SELECT doc_a, doc_b FROM cand WHERE bit_count(xor(sa, sb)) <= 3),
      edges AS (SELECT doc_a AS u, doc_b AS v FROM pairs
        UNION SELECT doc_b, doc_a FROM pairs),
      reach(u, v) AS (SELECT u, v FROM edges
        UNION SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u),
      comp AS (SELECT u AS doc_id, least(u, min(v)) AS component_id
        FROM reach GROUP BY u),
      keepers AS (SELECT component_id, min(doc_id) AS keep_doc
        FROM comp GROUP BY component_id)
      SELECT d.doc_id, c.component_id,
        (c.component_id IS NULL OR d.doc_id = k.keep_doc) AS keep
      FROM documents d
      LEFT JOIN comp c USING (doc_id)
      LEFT JOIN keepers k USING (component_id)
      ORDER BY d.doc_id"""))


  private val d22 = QuerySpec("d22_snapshot_diff",
    // Corpus snapshot diff (Curation.snapshotDiff): the per-doc
    // added/removed/changed/unchanged verdict between two snapshot
    // versions — the delta computation that FEEDS this library's
    // incremental maintainers (changed/added → v17/i2 upserts,
    // removed → v18/i3 compactions). Snapshot B adds the % 10 = 0
    // docs, drops the % 10 = 3 docs, and edits the % 7 = 0 docs
    // (planted " v2" suffix), so all four statuses appear. The join
    // ships (id, md5) pairs only — text never crosses the exchange —
    // and the oracle replays hash compare, outer-join semantics and
    // the per-source rollup.
    (s, d) => {
      val docs = t(s, d, "documents")
      val a = docs.filter(col("doc_id") % 10 =!= 0)
      val b = docs.filter(col("doc_id") % 10 =!= 3)
        .select(col("doc_id"),
          when(col("doc_id") % 7 === 0, concat(col("text"), lit(" v2")))
            .otherwise(col("text")).as("text"))
      graft.operators.Curation.snapshotDiff(a, b, "doc_id", "text")
        .join(docs.select("doc_id", "source"), Seq("doc_id"))
        .groupBy("source", "status").agg(count(lit(1)).as("n"))
        .orderBy("source", "status")
    },
    Some("""WITH a AS (SELECT doc_id, md5(text) AS ha
        FROM documents WHERE doc_id % 10 <> 0),
      b AS (SELECT doc_id, md5(CASE WHEN doc_id % 7 = 0
          THEN text || ' v2' ELSE text END) AS hb
        FROM documents WHERE doc_id % 10 <> 3),
      diff AS (SELECT coalesce(a.doc_id, b.doc_id) AS doc_id,
        CASE WHEN ha IS NULL THEN 'added'
             WHEN hb IS NULL THEN 'removed'
             WHEN ha <> hb THEN 'changed'
             ELSE 'unchanged' END AS status
        FROM a FULL OUTER JOIN b ON a.doc_id = b.doc_id)
      SELECT d.source, status, count(*) AS n
      FROM diff JOIN documents d USING (doc_id)
      GROUP BY 1, 2 ORDER BY 1, 2"""))


  private val d23 = QuerySpec("d23_line_dedup_within",
    // WITHIN-doc duplicate-line removal (Curation.lineDedupWithinDoc):
    // the apply side of t36's census and the in-document half of
    // Gopher repetition cleanup — d18 strips corpus-wide boilerplate,
    // this strips a page's own repeated lines (nav fragments, chat
    // echoes) with blank lines preserved as layout. Keep-first is ONE
    // (doc, line)-keyed min-struct aggregate — no window, no join, no
    // corpus-wide hot key (a line repeated in a million docs is a
    // million group keys). Dup lines are planted with t36's exact
    // pattern so the two queries describe the same corpus; the oracle
    // replays split, blank exclusion, first-occurrence rule and the
    // ordered rebuild.
    (s, d) => {
      val src = t(s, d, "documents").select(col("doc_id"),
        when(col("doc_id") % 7 === 0,
          concat(col("text"), lit("\nplanted duplicate line\n" +
            "planted duplicate line\nplanted duplicate line")))
          .otherwise(col("text")).as("text"))
      graft.operators.Curation.lineDedupWithinDoc(src, "doc_id", "text")
        .orderBy("doc_id")
    },
    Some("""WITH src AS (SELECT doc_id, CASE WHEN doc_id % 7 = 0
        THEN text || chr(10) || 'planted duplicate line' || chr(10) ||
          'planted duplicate line' || chr(10) || 'planted duplicate line'
        ELSE text END AS text FROM documents),
      ls AS (SELECT doc_id, string_split(text, chr(10)) AS ls FROM src),
      lines AS (SELECT doc_id, unnest(ls) AS ln,
        unnest(range(1, len(ls) + 1)) AS pos FROM ls),
      rn AS (SELECT doc_id, pos, ln, row_number() OVER (
          PARTITION BY doc_id, ln ORDER BY pos) AS rn
        FROM lines WHERE trim(ln) <> ''),
      kept AS (SELECT doc_id, pos, ln FROM rn WHERE rn = 1
        UNION ALL SELECT doc_id, pos, ln FROM lines WHERE trim(ln) = ''),
      reb AS (SELECT doc_id, count(*) AS n_kept,
        string_agg(ln, chr(10) ORDER BY pos) AS text_clean
        FROM kept GROUP BY doc_id)
      SELECT l.doc_id, CAST(len(l.ls) AS BIGINT) AS n_lines,
        CAST(coalesce(n_kept, 0) AS BIGINT) AS n_kept,
        coalesce(text_clean, '') AS text_clean
      FROM ls l LEFT JOIN reb ON l.doc_id = reb.doc_id
      ORDER BY l.doc_id"""))


  private val d21 = QuerySpec("d21_quality_keeper_dedup",
    // d20's apply with the keeper rule real pipelines use
    // (Dedup.applyPurgeManifestBy): within each near-dup cluster keep
    // the highest-QUALITY doc (t2's engine-identical quality score;
    // ties → lowest doc_id), not the lowest id — clusters routinely
    // mix a clean original with boilerplate-wrapped copies, and
    // keep-first keeps whichever crawled first. Same SimHash-wide
    // detection chain as d10/d20 (the oracle shares those CTEs
    // verbatim); the keeper election is ONE row_number window over
    // the component assignment (duplicate docs only, never the
    // corpus); the verdict joins ship (id, component, score, bool)
    // tuples — text never shuffles.
    (s, d) => {
      val docs = t(s, d, "documents")
      val comp = Dedup.components(
        Dedup.simhashNearDupsWide(docs, "doc_id", "text", maxHamming = 3))
      // NOT repartitioned (round-22 interleaved A/B: 2.39 vs 2.21 s —
      // at 5k docs the quality featurization is too small to pay the
      // spread exchange; the SimHash detection chain dominates)
      val scored = docs.select(col("doc_id"),
        TextAnalysis.qualityScore(col("text")).as("quality"))
      Dedup.applyPurgeManifestBy(scored, "doc_id", comp, "quality")
        .orderBy("doc_id")
    },
    Some(s"""WITH RECURSIVE ${simhashCtesAt(60)},
      blocks AS (SELECT doc_id, simhash, b AS block_idx,
        (simhash >> (b * 15)) & 32767 AS block_val
        FROM sig, unnest([0, 1, 2, 3]) AS t(b)),
      cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
        a.simhash AS sa, b.simhash AS sb
        FROM blocks a JOIN blocks b
          ON a.block_idx = b.block_idx AND a.block_val = b.block_val
          AND a.doc_id < b.doc_id),
      pairs AS (SELECT doc_a, doc_b FROM cand WHERE bit_count(xor(sa, sb)) <= 3),
      edges AS (SELECT doc_a AS u, doc_b AS v FROM pairs
        UNION SELECT doc_b, doc_a FROM pairs),
      reach(u, v) AS (SELECT u, v FROM edges
        UNION SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u),
      comp AS (SELECT u AS doc_id, least(u, min(v)) AS component_id
        FROM reach GROUP BY u),
      qual AS (SELECT doc_id, $qualityExprSql AS quality
        FROM (${qualityInnerSql()})),
      keepers AS (SELECT component_id, doc_id AS keep_doc FROM (
        SELECT c.doc_id, c.component_id,
          row_number() OVER (PARTITION BY c.component_id
            ORDER BY q.quality DESC, c.doc_id) AS rn
        FROM comp c JOIN qual q USING (doc_id)) WHERE rn = 1)
      SELECT d.doc_id, c.component_id, q.quality,
        (c.component_id IS NULL OR d.doc_id = k.keep_doc) AS keep
      FROM documents d
      JOIN qual q USING (doc_id)
      LEFT JOIN comp c USING (doc_id)
      LEFT JOIN keepers k USING (component_id)
      ORDER BY d.doc_id"""))


  private val d5 = QuerySpec("d5_embedding_neardup",
    (s, d) => {
      val e = t(s, d, "embeddings")
      val a = e.filter(col("vec_id") % 10 === 0)
        .select(col("vec_id").as("vec_a"), col("embedding").as("emb_a"))
      val b = e.select(col("vec_id").as("vec_b"), col("embedding").as("emb_b"))
      b.crossJoin(broadcast(a))
        .filter(col("vec_a") < col("vec_b"))
        .withColumn("cos", VectorFunctions.cosine(col("emb_a"), col("emb_b")))
        .filter(col("cos") >= 0.3)
        .select(col("vec_a"), col("vec_b"), round(col("cos"), 6).as("cos"))
        .orderBy("vec_a", "vec_b")
    },
    Some(s"""SELECT vec_a, vec_b, round(cos, 6) AS cos FROM (
      SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
        ${cosineSql("a.embedding", "b.embedding")} AS cos
      FROM embeddings a JOIN embeddings b ON a.vec_id % 10 = 0 AND a.vec_id < b.vec_id)
      WHERE cos >= 0.3 ORDER BY vec_a, vec_b"""))


  private val d8 = QuerySpec("d8_embedding_neardup_grid",
    // The SCALE-SAFE embedding near-dup (d5's broadcast-crossJoin form
    // is the small-sf demo; this is the plan you'd run at 100 TB):
    // deterministic Walsh-projection grid blocking — 100% recall within
    // maxDist by Cauchy–Schwarz — + exact L2 verify, no corpus-fraction
    // broadcast, no all-pairs stage. Near-dups are PLANTED (each vector
    // unioned with an affine-perturbed copy at dist ≈ 0.008) so the
    // exact answer is a non-trivial, deterministic pair set; the oracle
    // recomputes it by brute force — both sides exact, hashes match.
    (s, d) => {
      val e = t(s, d, "embeddings")
        .select(col("vec_id").cast("long").as("vec_id"),
          col("embedding").cast("array<double>").as("emb"))
      val dup = e.select((col("vec_id") + 1000000).as("vec_id"),
        transform(col("emb"), x => x * 0.999 + 0.001).as("emb"))
      // nProj = 4 (round 21): at this corpus's density the default 3
      // projections admit 89,243 grid candidates for 2,000 true pairs
      // and the exact verify dominates the query; 4 projections cut it
      // to a fraction (measured 2.69 s -> 1.50 s at sf0.1, nProj=5/6
      // flat-to-worse). Output is IDENTICAL at any nProj — recall is
      // the operator's Cauchy–Schwarz theorem and the verify is exact —
      // so the oracle is untouched.
      Dedup.embeddingNearDups(e.unionByName(dup), "vec_id", "emb",
          maxDist = 0.05, dim = 64, nProj = 4)
        .select(col("doc_a").as("vec_a"), col("doc_b").as("vec_b"),
          round(col("dist"), 6).as("dist"))
        .orderBy("vec_a", "vec_b")
    },
    Some(s"""WITH base AS (SELECT CAST(vec_id AS BIGINT) AS vec_id,
        list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb FROM embeddings),
      dup AS (SELECT vec_id + 1000000 AS vec_id,
        list_transform(emb, x -> x * 0.999 + 0.001) AS emb FROM base),
      corpus AS (SELECT * FROM base UNION ALL SELECT * FROM dup)
      SELECT vec_a, vec_b, round(dist, 6) AS dist FROM (
        SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
          ${l2Sql("a.emb", "b.emb")} AS dist
        FROM corpus a JOIN corpus b ON a.vec_id < b.vec_id)
      WHERE dist <= 0.05 ORDER BY vec_a, vec_b"""))

  // ======================================================================
  // Vector search (V1-V4) + stage-union dedup (A1/A2) + top-k (A5/A7/A8)
  // ======================================================================

  final def queriesDedup: Seq[QuerySpec] = Seq(d1, d2, d3, d4, d5, d6, d7, d8, d9, d10, d11, d12, d13, d14, d15, d16, d17, d18, d19, d20, d21, d22, d23, d24)
}
