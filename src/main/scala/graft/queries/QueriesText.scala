package graft

import graft.functions.{TextAnalysis, TextFunctions, VectorFunctions}
import graft.multimodal.{DecodeStub, Multimodal}
import graft.operators.{Ann, Bm25, Chunker, Curation, Dedup, HeavyHitters, Knn, LshAnn, Mmr, MultiStageSearch, Packing, QualityModel, Rerank, RetrievalEval}
import graft.sources.JobCorpus
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Text analysis t1–t21 (north star: lang-ID, quality, tokens,
  * fingerprint, learned quality classifier).
  */
private[graft] trait QueriesText { self: QueriesShared =>


  private val t1 = QuerySpec("t1_lang_id",
    (s, d) => t(s, d, "documents")
      .select(col("doc_id"), TextAnalysis.langId(col("text")).as("lang_pred"),
        col("lang").as("lang_actual"))
      .orderBy("doc_id"),
    Some {
      val scores = TextAnalysis.LangMarkers.map { case (lang, pat) =>
        s"len(regexp_extract_all(lower(text), '$pat')) AS s_$lang"
      }.mkString(", ")
      val langs = TextAnalysis.LangMarkers.map(_._1)
      val best = s"greatest(${langs.map("s_" + _).mkString(", ")})"
      val cases = langs.map(l => s"WHEN s_$l > 0 AND s_$l = best THEN '$l'").mkString(" ")
      s"""SELECT doc_id, CASE $cases ELSE 'und' END AS lang_pred, lang AS lang_actual
         FROM (SELECT doc_id, lang, $best AS best, ${langs.map("s_" + _).mkString(", ")}
               FROM (SELECT doc_id, lang, $scores FROM documents))
         ORDER BY doc_id"""
    })


  private val t2 = QuerySpec("t2_quality_score",
    (s, d) => t(s, d, "documents")
      .select(col("doc_id"), TextAnalysis.qualityScore(col("text")).as("quality"))
      .orderBy("doc_id"),
    Some(s"""SELECT doc_id, $qualityExprSql AS quality
      FROM (${qualityInnerSql()})
      ORDER BY doc_id"""))


  private val t3 = QuerySpec("t3_token_count",
    (s, d) => t(s, d, "documents")
      .select(col("doc_id"),
        TextAnalysis.tokenCountWs(col("text")).as("n_ws"),
        TextAnalysis.tokenCountBpeish(col("text")).as("n_bpe"))
      .orderBy("doc_id"),
    Some(s"""SELECT doc_id,
      CASE WHEN len(trim(text)) = 0 THEN 0
           ELSE len(string_split_regex(trim(text), '$WsSplit')) END AS n_ws,
      len(regexp_extract_all(text, '${TextAnalysis.BpeishPattern.replace("\t", "\\t").replace("\n", "\\n")}')) AS n_bpe
      FROM documents ORDER BY doc_id"""))


  private val t4 = QuerySpec("t4_fingerprint",
    (s, d) => t(s, d, "documents")
      .select(col("doc_id"), TextAnalysis.fingerprint(col("text")).as("fp"))
      .orderBy("doc_id"),
    Some(s"""SELECT doc_id,
      md5(array_to_string(list_sort(list_distinct(
        string_split_regex(lower(trim(text)), '$WsSplit'))), ' ')) AS fp
      FROM documents ORDER BY doc_id"""))


  private val t6 = QuerySpec("t6_winnowing",
    // Rolling-hash document fingerprinting (winnowing/MOSS): min gram
    // hash per sliding w-window, full windows only. Round 14: the
    // whole selection runs as TextAnalysis.winnowFingerprints — one
    // narrow per-document expression (hash array → w shifted slices
    // folded with least → array_distinct), ZERO shuffles where the
    // exploded formulation exchanged the ~1000·|docs| gram stream
    // twice (window partition + distinct). The DuckDB oracle still
    // expresses the roll as a ROWS window frame, so the narrow
    // rewrite is hash-checked against the windowed semantics.
    (s, d) => {
      val (k, w) = (8, 4)
      TextAnalysis.winnowFingerprints(
          t(s, d, "documents").repartition(s.sparkContext.defaultParallelism),
          "doc_id", "text", k, w)
        .select(col("doc_id"), size(col("fps")).cast("long").as("n_fps"),
          array_min(col("fps")).as("fp_min"),
          array_max(col("fps")).as("fp_max"))
        .orderBy("doc_id")
    },
    Some {
      val (k, w) = (8, 4)
      val hex = (1 to 15).map { j =>
        s"(strpos('0123456789abcdef', substr(h, $j, 1)) - 1) * ${math.pow(16, 15 - j).toLong}"
      }.mkString(" + ")
      s"""WITH grams AS (
        SELECT doc_id, pos, $hex AS gram_hash FROM (
          SELECT doc_id, CAST(i AS INT) AS pos,
            md5(substr(text, CAST(i AS INT), $k)) AS h
          FROM (SELECT doc_id, text, unnest(range(1, len(text) - $k + 2)) AS i
                FROM documents WHERE len(text) >= $k))),
      win AS (SELECT doc_id, pos,
        min(gram_hash) OVER (PARTITION BY doc_id ORDER BY pos
          ROWS BETWEEN CURRENT ROW AND ${w - 1} FOLLOWING) AS fp,
        max(pos) OVER (PARTITION BY doc_id) AS npos
        FROM grams),
      fps AS (SELECT DISTINCT doc_id, fp FROM win WHERE pos <= npos - ${w - 1})
      SELECT doc_id, count(*) AS n_fps, min(fp) AS fp_min, max(fp) AS fp_max
      FROM fps GROUP BY doc_id ORDER BY doc_id"""
    })


  private val t7 = QuerySpec("t7_curation_manifest",
    // The training-data curation pass, composed end-to-end in ONE scan
    // + one hash-key dedup window: lang-ID + quality + token counts +
    // exact-dedup keep flag → the filtered manifest a 100 TB curation
    // job would write. Everything before the dedup window is a single
    // codegen'd projection; the window shuffles only (hash, id, small
    // scalars). The keep rule is d1's (min doc_id per md5(text)).
    (s, d) => {
      val docs = t(s, d, "documents")
        .repartition(s.sparkContext.defaultParallelism)
        .select(col("doc_id"), col("text"),
          TextAnalysis.langId(col("text")).as("lang_pred"),
          TextAnalysis.qualityScore(col("text")).as("quality"),
          TextAnalysis.tokenCountWs(col("text")).as("n_tokens"),
          md5(col("text")).as("text_hash"))
      val w = Window.partitionBy("text_hash").orderBy("doc_id")
      docs
        .withColumn("keep", row_number().over(w) === 1)
        .filter(col("keep") && col("quality") >= 0.5 && col("n_tokens") >= 5)
        .select(col("doc_id"), col("lang_pred"), col("quality"), col("n_tokens"))
        .orderBy("doc_id")
    },
    Some {
      val scores = TextAnalysis.LangMarkers.map { case (lang, pat) =>
        s"len(regexp_extract_all(lower(text), '$pat')) AS s_$lang"
      }.mkString(", ")
      val langs = TextAnalysis.LangMarkers.map(_._1)
      val best = s"greatest(${langs.map("s_" + _).mkString(", ")})"
      val cases = langs.map(l => s"WHEN s_$l > 0 AND s_$l = best THEN '$l'").mkString(" ")
      s"""WITH scored AS (
          SELECT doc_id, text,
            $qualityExprSql AS quality,
            nws AS n_tokens,
            row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
          FROM (${qualityInnerSql()})),
        lang AS (SELECT doc_id, CASE $cases ELSE 'und' END AS lang_pred
          FROM (SELECT doc_id, $best AS best, ${langs.map("s_" + _).mkString(", ")}
                FROM (SELECT doc_id, $scores FROM documents)))
      SELECT s.doc_id, lang_pred, quality, n_tokens
      FROM scored s JOIN lang USING (doc_id)
      WHERE rn = 1 AND quality >= 0.5 AND n_tokens >= 5
      ORDER BY s.doc_id"""
    })


  private val t8 = QuerySpec("t8_lm_score",
    // Corpus-LM quality scoring (the KenLM-style signal web-scale
    // pipelines filter on): unigram model from the corpus itself, each
    // doc scored by its mean word log-probability. Two aggregations:
    // the frequency table (map-side partials on word), then a join
    // back and a per-doc mean — both shuffles carry words/ids, never
    // documents. avg re-association noise (~1e-13) is absorbed by
    // round(4), the e1 precedent.
    (s, d) => {
      val words = t(s, d, "documents")
        .select(col("doc_id"),
          explode(split(lower(trim(col("text"))), "[ \t\n]+")).as("w"))
        .filter(length(col("w")) > 0)
      val freq = words.groupBy("w").agg(count(lit(1)).as("wn"))
      val tot = freq.agg(sum("wn").as("n"))
      words.join(freq, Seq("w"))
        .crossJoin(broadcast(tot))
        .groupBy("doc_id")
        .agg(round(avg(log(col("wn") / col("n"))), 4).as("avg_logp"),
          count(lit(1)).as("n_words"))
        .orderBy("doc_id")
    },
    Some(s"""WITH w2 AS (SELECT doc_id, w FROM (
          SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '$WsSplit')) AS w
          FROM documents) WHERE len(w) > 0),
      freq AS (SELECT w, count(*) AS wn FROM w2 GROUP BY w),
      tot AS (SELECT sum(wn) AS n FROM freq)
      SELECT doc_id, round(avg(ln(wn / n)), 4) AS avg_logp,
        count(*) AS n_words
      FROM w2 JOIN freq USING (w) CROSS JOIN tot
      GROUP BY doc_id ORDER BY doc_id"""))

  // ======================================================================
  // Corpus curation (north star: repetition quality filters, hash
  // split, mixture sampling, contamination audit — operators/Curation)
  // ======================================================================


  private val t9 = QuerySpec("t9_repetition_stats",
    // Gopher-style repetition filters: top-bigram fraction + duplicate-
    // trigram fraction per doc, keep-flag at the published thresholds.
    (s, d) => Curation.repetitionStats(t(s, d, "documents"), "doc_id", "text")
      .orderBy("doc_id"),
    Some(s"""WITH ws AS (SELECT doc_id, string_split_regex(trim(text), '$WsSplit') AS ws
        FROM documents),
      g2 AS (SELECT doc_id, 2 AS n, unnest(CASE WHEN len(ws) < 2 THEN []::VARCHAR[]
        ELSE list_transform(range(1, len(ws)), i -> ws[i] || ' ' || ws[i+1]) END) AS gram
        FROM ws),
      g3 AS (SELECT doc_id, 3 AS n, unnest(CASE WHEN len(ws) < 3 THEN []::VARCHAR[]
        ELSE list_transform(range(1, len(ws) - 1),
          i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]) END) AS gram
        FROM ws),
      cnt AS (SELECT doc_id, n, gram, count(*) AS cnt
        FROM (SELECT * FROM g2 UNION ALL SELECT * FROM g3) GROUP BY 1, 2, 3),
      agg AS (SELECT doc_id,
        max(CASE WHEN n = 2 THEN cnt END) AS top2,
        sum(CASE WHEN n = 2 THEN cnt END) AS tot2,
        sum(CASE WHEN n = 3 AND cnt > 1 THEN cnt END) AS dup3,
        sum(CASE WHEN n = 3 THEN cnt END) AS tot3
        FROM cnt GROUP BY doc_id),
      fr AS (SELECT d.doc_id,
        round(CASE WHEN coalesce(tot2, 0) > 0
          THEN CAST(coalesce(top2, 0) AS DOUBLE) / tot2 ELSE 0.0 END, 6) AS top2_frac,
        round(CASE WHEN coalesce(tot3, 0) > 0
          THEN CAST(coalesce(dup3, 0) AS DOUBLE) / tot3 ELSE 0.0 END, 6) AS dup3_frac
        FROM documents d LEFT JOIN agg ON d.doc_id = agg.doc_id)
      SELECT doc_id, top2_frac, dup3_frac,
        (top2_frac <= 0.18 AND dup3_frac <= 0.30) AS keep
      FROM fr ORDER BY doc_id"""))


  private val t10 = QuerySpec("t10_hash_split",
    // Deterministic train/valid/test split by id hash (stable under
    // corpus growth, engine-portable — no rand(seed) layout dependence)
    // + per-split doc and token totals.
    (s, d) => Curation.hashSplit(t(s, d, "documents"), "doc_id")
      .groupBy("split")
      .agg(count(lit(1)).as("n_docs"),
        sum(TextAnalysis.tokenCountWs(col("text")).cast("long")).as("n_tokens"))
      .orderBy("split"),
    Some(s"""SELECT split, count(*) AS n_docs,
        CAST(sum(CASE WHEN len(trim(text)) = 0 THEN 0
          ELSE len(string_split_regex(trim(text), '$WsSplit')) END) AS BIGINT) AS n_tokens
      FROM (SELECT text,
        CASE WHEN ${hashBucketSql("doc_id", 100)} < 80 THEN 'train'
          WHEN ${hashBucketSql("doc_id", 100)} < 90 THEN 'valid'
          ELSE 'test' END AS split
        FROM documents)
      GROUP BY split ORDER BY split"""))


  private val t11 = QuerySpec("t11_contamination",
    // Benchmark-contamination audit: distinct 3-gram overlap between
    // the train slice and a small "benchmark" slice (doc_id % 100 = 0),
    // join keyed on the gram (never all-pairs).
    (s, d) => {
      val docs = t(s, d, "documents")
      Curation.contamination(
          docs.filter(col("doc_id") % 100 =!= 0),
          docs.filter(col("doc_id") % 100 === 0),
          "doc_id", "text", k = 3, minShared = 3)
        .orderBy("train_doc", "eval_doc")
    },
    Some(s"""WITH ws AS (SELECT doc_id, string_split_regex(trim(text), '$WsSplit') AS ws
        FROM documents),
      sh AS (SELECT doc_id, CASE WHEN len(ws) < 3 THEN []::VARCHAR[]
        ELSE list_distinct(list_transform(range(1, len(ws) - 1),
          i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) END AS sh FROM ws),
      tg AS (SELECT doc_id AS train_doc, unnest(sh) AS gram FROM sh WHERE doc_id % 100 <> 0),
      eg AS (SELECT doc_id AS eval_doc, unnest(sh) AS gram FROM sh WHERE doc_id % 100 = 0),
      ng AS (SELECT train_doc, count(*) AS n_train_grams FROM tg GROUP BY 1),
      pairs AS (SELECT train_doc, eval_doc, count(*) AS n_shared
        FROM tg JOIN eg USING (gram) GROUP BY 1, 2 HAVING count(*) >= 3)
      SELECT train_doc, eval_doc, n_shared,
        round(CAST(n_shared AS DOUBLE) / n_train_grams, 6) AS contaminated_frac
      FROM pairs JOIN ng USING (train_doc) ORDER BY train_doc, eval_doc"""))


  private val MixRates = Seq(
    "de" -> 1.0, "en" -> 0.5, "es" -> 0.75, "fr" -> 0.25, "zh" -> 0.1)

  private val t12 = QuerySpec("t12_mixture_sample",
    // Data mixing: per-language keep rates applied as a deterministic
    // per-row hash Bernoulli (narrow filter, stable across runs) —
    // report per-language totals vs kept.
    (s, d) => {
      val docs = t(s, d, "documents")
      val kept = Curation.mixtureSample(docs, "doc_id", "lang", MixRates.toMap)
      docs.groupBy("lang").agg(count(lit(1)).as("n_total"))
        .join(kept.groupBy("lang").agg(count(lit(1)).as("n_kept")), Seq("lang"), "left")
        .select(col("lang"), col("n_total"), coalesce(col("n_kept"), lit(0L)).as("n_kept"))
        .orderBy("lang")
    },
    Some {
      val rate = MixRates.foldRight("1.0") { case ((g, r), acc) =>
        s"CASE WHEN lang = '$g' THEN $r ELSE $acc END"
      }
      s"""SELECT lang, count(*) AS n_total,
        CAST(sum(CASE WHEN ${hashBucketSql("doc_id", 10000)} < ($rate) * 10000
          THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
      FROM documents GROUP BY lang ORDER BY lang"""
    })


  private val t13 = QuerySpec("t13_length_quantiles",
    // Quantile-based length trim (the p10/p90 cut of a curation
    // pipeline): EXACT corpus percentiles of the token count via
    // `percentile` (linear interpolation — same R-7 definition as
    // DuckDB's quantile_cont), broadcast back as the per-doc keep rule.
    // Exact percentile aggregates a count-per-value map, so memory is
    // ∝ DISTINCT token counts (a small integer domain) — scale-safe
    // here; a continuous-valued column would use approx_percentile.
    (s, d) => {
      val docs = t(s, d, "documents")
        .select(col("doc_id"),
          TextAnalysis.tokenCountWs(col("text")).cast("long").as("n_tokens"))
      val thr = docs.agg(
        expr("percentile(n_tokens, 0.1)").as("p10"),
        expr("percentile(n_tokens, 0.9)").as("p90"))
      docs.crossJoin(broadcast(thr))
        .select(col("doc_id"), col("n_tokens"),
          round(col("p10"), 6).as("p10"), round(col("p90"), 6).as("p90"),
          (col("n_tokens") >= col("p10") && col("n_tokens") <= col("p90"))
            .as("keep"))
        .orderBy("doc_id")
    },
    Some(s"""WITH tok AS (SELECT doc_id,
        CAST(CASE WHEN len(trim(text)) = 0 THEN 0
          ELSE len(string_split_regex(trim(text), '$WsSplit')) END AS BIGINT) AS n_tokens
        FROM documents),
      thr AS (SELECT quantile_cont(n_tokens, 0.1) AS p10,
        quantile_cont(n_tokens, 0.9) AS p90 FROM tok)
      SELECT doc_id, n_tokens, round(p10, 6) AS p10, round(p90, 6) AS p90,
        (n_tokens >= p10 AND n_tokens <= p90) AS keep
      FROM tok CROSS JOIN thr ORDER BY doc_id"""))


  private val t14 = QuerySpec("t14_bigram_lm",
    // Bigram LM with add-k smoothing (the KenLM-shaped quality signal,
    // one order up from t8's unigram): per doc, the mean log of
    // P(w2|w1) = (c(w1 w2) + k) / (c(w1) + k·V). Tokenization keeps
    // empty tokens on BOTH sides so the gram↔unigram joins align
    // exactly; shuffles carry words/grams and counts, never documents;
    // the vocabulary size is a broadcast scalar. Docs with fewer than
    // two tokens have no transitions and drop out of the result on
    // both engines. round(4) absorbs avg re-association noise (t8
    // precedent).
    (s, d) => {
      val k = 0.5
      val docs = t(s, d, "documents")
        .repartition(s.sparkContext.defaultParallelism)
        .select(col("doc_id"), lower(trim(col("text"))).as("lt"))
      val words = docs.select(col("doc_id"),
        explode(split(col("lt"), "[ \t\n]+")).as("w"))
      // uni feeds the c1 join AND the vocab scalar; without the (tiny,
      // vocabulary-sized) checkpoint the words explode re-runs per
      // consumer (round 21). c2 rides a gram-partitioned window count
      // instead of an aggregate joined back — identical counts, but the
      // bigram UDF pipeline is computed and shuffled ONCE instead of
      // twice (round 21).
      val uni = words.groupBy("w").agg(count(lit(1)).as("c1"))
        .localCheckpoint(false)
      val vocab = uni.agg(count(lit(1)).cast("double").as("v"))
      val bi = docs.select(col("doc_id"),
        explode(Curation.ngramsFast(col("lt"), 2)).as("gram"))
      bi.withColumn("c2", count(lit(1)).over(Window.partitionBy("gram")))
        .withColumn("w1", substring_index(col("gram"), " ", 1))
        .join(uni.withColumnRenamed("w", "w1"), Seq("w1"))
        .crossJoin(broadcast(vocab))
        .groupBy("doc_id")
        .agg(round(avg(log((col("c2") + k) / (col("c1") + col("v") * k))), 4)
            .as("avg_logp"),
          count(lit(1)).as("n_bigrams"))
        .orderBy("doc_id")
    },
    Some(s"""WITH toks AS (SELECT doc_id,
        string_split_regex(lower(trim(text)), '$WsSplit') AS ts FROM documents),
      words AS (SELECT doc_id, unnest(ts) AS w FROM toks),
      uni AS (SELECT w, count(*) AS c1 FROM words GROUP BY w),
      vocab AS (SELECT CAST(count(*) AS DOUBLE) AS v FROM uni),
      bi AS (SELECT doc_id, unnest(CASE WHEN len(ts) < 2 THEN []::VARCHAR[]
        ELSE list_transform(range(1, len(ts)), i -> ts[i] || ' ' || ts[i+1])
        END) AS gram FROM toks),
      big AS (SELECT gram, count(*) AS c2 FROM bi GROUP BY gram)
      SELECT doc_id,
        round(avg(ln((c2 + 0.5) / (c1 + 0.5 * v))), 4) AS avg_logp,
        count(*) AS n_bigrams
      FROM bi JOIN big USING (gram)
        JOIN uni ON uni.w = split_part(gram, ' ', 1)
        CROSS JOIN vocab
      GROUP BY doc_id ORDER BY doc_id"""))


  private val t15 = QuerySpec("t15_seq_packing",
    // Concatenate-and-chunk sequence packing: every doc gets its slot
    // in the shuffled virtual token stream (global prefix sum as
    // 64 bucket-partitioned windows + a broadcast bucket-offset row
    // set — never a single-partition global window), then the
    // seqLen-256 cut is pure arithmetic. The oracle replays the same
    // (bucket, md5, id) order as one DuckDB global window.
    (s, d) => Packing.concatChunk(
        t(s, d, "documents")
          .select(col("doc_id"),
            TextAnalysis.tokenCountWs(col("text")).as("n_tokens")),
        "doc_id", "n_tokens", seqLen = 256, buckets = 64)
      .orderBy("doc_id"),
    Some(s"""WITH tok AS (SELECT doc_id,
        CAST(CASE WHEN len(trim(text)) = 0 THEN 0
          ELSE len(string_split_regex(trim(text), '$WsSplit')) END AS BIGINT) AS n_tokens,
        ${hashBucketSql("doc_id", 64)} AS b,
        md5(CAST(doc_id AS VARCHAR)) AS ok
        FROM documents),
      cum AS (SELECT doc_id, n_tokens,
        CAST(sum(n_tokens) OVER (ORDER BY b, ok, doc_id
          ROWS UNBOUNDED PRECEDING) AS BIGINT) AS icum
        FROM tok)
      SELECT doc_id, n_tokens,
        icum - n_tokens AS start_tok,
        (icum - n_tokens) // 256 AS first_seq,
        CASE WHEN n_tokens > 0 THEN (icum - 1) // 256
          ELSE (icum - n_tokens) // 256 END AS last_seq,
        CAST(CASE WHEN n_tokens > 0
          THEN (icum - 1) // 256 - (icum - n_tokens) // 256 + 1
          ELSE 0 END AS INT) AS n_seqs
      FROM cum ORDER BY doc_id"""))


  private val t16 = QuerySpec("t16_source_cap",
    // Per-domain cap (C4/RefinedWeb-style): at most 15 docs per source,
    // best quality first, ties cut by doc_id. One window keyed on the
    // source — the shuffle carries (source, quality, id) scalars.
    (s, d) => Curation.groupCap(
        t(s, d, "documents").select(col("doc_id"), col("source"),
          TextAnalysis.qualityScore(col("text")).as("quality")),
        "doc_id", "source", "quality", cap = 15)
      .select("doc_id", "source", "quality", "grp_rank", "keep")
      .orderBy("doc_id"),
    Some(s"""WITH q AS (SELECT doc_id, source, $qualityExprSql AS quality
        FROM (${qualityInnerSql(" source,")}))
      SELECT doc_id, source, quality,
        CAST(row_number() OVER (PARTITION BY source
          ORDER BY quality DESC, doc_id) AS INT) AS grp_rank,
        row_number() OVER (PARTITION BY source
          ORDER BY quality DESC, doc_id) <= 15 AS keep
      FROM q ORDER BY doc_id"""))


  private val t17 = QuerySpec("t17_heavy_hitters",
    // Exact vocabulary heavy hitters (words with freq > n/100): a
    // Misra-Gries candidate sketch (bounded counters per partition)
    // then an exact verify of the ≤capacity candidates — the
    // full-vocabulary shuffle the naive groupBy pays never happens,
    // yet the verified result IS the naive answer (hence the plain
    // SQL oracle). operators/HeavyHitters.
    (s, d) => {
      val words = t(s, d, "documents")
        .select(explode(split(trim(col("text")), "[ \t\n]+")).as("word"))
        .filter(length(col("word")) > 0)
      HeavyHitters.exact(words, "word", k = 100)
        .orderBy(col("freq").desc, col("word"))
    },
    Some(s"""WITH w0 AS (SELECT unnest(string_split_regex(trim(text), '$WsSplit')) AS word
        FROM documents),
      w AS (SELECT word FROM w0 WHERE len(word) > 0),
      nn AS (SELECT count(*) AS n FROM w)
      SELECT word, count(*) AS freq FROM w, nn
      GROUP BY word, n HAVING count(*) * 100 > n
      ORDER BY freq DESC, word"""))


  private val t18 = QuerySpec("t18_contamination_bloom",
    // t11's audit with a broadcast Bloom gate on the train side: the
    // corpus-sized gram exchange shrinks to the collision footprint
    // before the join (Curation.contaminationBloom). Exactness is
    // unconditional — false positives die in the inner join — so it
    // shares t11's oracle bit-for-bit.
    (s, d) => {
      val docs = t(s, d, "documents")
      Curation.contaminationBloom(
          docs.filter(col("doc_id") % 100 =!= 0),
          docs.filter(col("doc_id") % 100 === 0),
          "doc_id", "text", k = 3, minShared = 3)
        .orderBy("train_doc", "eval_doc")
    },
    t11.oracle)


  private val t20 = QuerySpec("t20_decontaminate",
    // Decontamination manifest: t11's detect composed into the ACT —
    // per train doc, the worst shared-gram count vs the benchmark
    // slice and the keep verdict (any pairing ≥ minShared taints).
    (s, d) => {
      val docs = t(s, d, "documents")
      Curation.decontaminate(
          docs.filter(col("doc_id") % 100 =!= 0),
          docs.filter(col("doc_id") % 100 === 0),
          "doc_id", "text", k = 3, minShared = 3)
        .orderBy("doc_id")
    },
    Some(s"""WITH ws AS (SELECT doc_id, string_split_regex(trim(text), '$WsSplit') AS ws
        FROM documents),
      sh AS (SELECT doc_id, CASE WHEN len(ws) < 3 THEN []::VARCHAR[]
        ELSE list_distinct(list_transform(range(1, len(ws) - 1),
          i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) END AS sh FROM ws),
      tg AS (SELECT doc_id AS train_doc, unnest(sh) AS gram FROM sh WHERE doc_id % 100 <> 0),
      eg AS (SELECT doc_id AS eval_doc, unnest(sh) AS gram FROM sh WHERE doc_id % 100 = 0),
      pairs AS (SELECT train_doc, eval_doc, count(*) AS n_shared
        FROM tg JOIN eg USING (gram) GROUP BY 1, 2 HAVING count(*) >= 3),
      hits AS (SELECT train_doc AS doc_id, max(n_shared) AS hit
        FROM pairs GROUP BY 1)
      SELECT d.doc_id, coalesce(hit, 0) AS n_shared_max, hit IS NULL AS keep
      FROM (SELECT doc_id FROM documents WHERE doc_id % 100 <> 0) d
      LEFT JOIN hits USING (doc_id) ORDER BY doc_id"""))


  /** The t21 labelling projection (t2 heuristic score per doc). */
  private def qualityDocs(s: SparkSession, d: String): DataFrame =
    t(s, d, "documents")
      .repartition(s.sparkContext.defaultParallelism)
      .select(col("doc_id"), col("text"),
        TextAnalysis.qualityScore(col("text")).as("q"))


  /** Quality classifier trained ONCE per sf dir (round-9 judge ask #5
    * — the pqCodeTableFor pattern for a model artifact): weak labels
    * from the t2-heuristic median split, LR fit on the 70% hash-split
    * slice, then persisted through MLlib's writer and RELOADED — the
    * harness serves from the loaded artifact exactly as production
    * would, proving the save/load round-trip each round. Returns the
    * loaded model plus the label threshold (the median is a
    * training-time scalar the serve side must reuse — recomputing it
    * on drifted data would silently relabel the eval slice). */
  private val qualityModels = scala.collection.concurrent.TrieMap
    .empty[String, (org.apache.spark.ml.classification.LogisticRegressionModel, Double)]

  /** t21's oracle sidecars (the v14-centroid pattern for a MODEL
    * artifact): the persisted model's dense weight vector + intercept
    * + the label threshold in one 1-row table, and the held-out
    * slice's featurized rows (HashingTF's murmur3 is not
    * SQL-expressible, so the hashed bag-of-tokens ships as data) —
    * with both, DuckDB replays margin → sigmoid → threshold →
    * accuracy roll-up exactly. Keyed by a documents-content
    * fingerprint both engines compute identically (Σ of each text's
    * first-8-hex md5 as int64), since the artifacts are
    * corpus-dependent and sf0.001/sf0.01 share row counts. */
  private def t21SidecarBase(which: String): String =
    new java.io.File(s"target/graft_sidecars/qmodel_t21_$which").getAbsolutePath

  private val t21CorpusKeySql: String =
    "(SELECT sum(CAST(concat('0x', substring(md5(text), 1, 8)) AS BIGINT)) FROM documents)"

  private def t21CorpusKey(docs: DataFrame): Long =
    docs.agg(sum(conv(substring(md5(col("text")), 1, 8), 16, 10)
      .cast("long"))).collect()(0).getLong(0)

  private def qualityModelFor(s: SparkSession, d: String)
      : (org.apache.spark.ml.classification.LogisticRegressionModel, Double) =
    qualityModels.getOrElseUpdate(d, {
      val docs = qualityDocs(s, d)
      val m = docs.agg(expr("percentile(q, 0.5)")).collect()(0).getDouble(0)
      val labelled = docs
        .withColumn("label", when(col("q") >= m, 1.0).otherwise(0.0))
        .withColumn("__b", Curation.hashBucket(col("doc_id"), 100))
      val model = QualityModel.train(
        labelled.filter(col("__b") < 70), "text", "label")
      val p = tempDir("graft_qmodel_")
        .toString + "/model"
      model.write.overwrite().save(p)
      val loaded =
        org.apache.spark.ml.classification.LogisticRegressionModel.load(p)
      // Oracle sidecars: weights/intercept/threshold from the LOADED
      // artifact (what t21 serves from), held-out featurized rows.
      val key = t21CorpusKey(t(s, d, "documents"))
      import s.implicits._
      Seq((key, loaded.intercept, loaded.coefficients.toArray.toSeq, m))
        .toDF("corpus_key", "intercept", "weights", "threshold")
        .coalesce(1).write.mode("overwrite")
        .parquet(s"${t21SidecarBase("weights")}/key_$key")
      QualityModel.featurized(
          labelled.filter(col("__b") >= 70).select("doc_id", "text"), "text")
        .select(lit(key).as("corpus_key"), col("doc_id"), col("feats"))
        .coalesce(1).write.mode("overwrite")
        .parquet(s"${t21SidecarBase("feats")}/key_$key")
      (loaded, m)
    })


  private val t21 = QuerySpec("t21_quality_classifier",
    // Model-based quality filter (the fastText-classifier stage of the
    // GPT-3/CCNet/LLaMA pipelines), SERVED: the timed query scores the
    // held-out slice with the pre-trained persisted model
    // (qualityModelFor — built once per sf dir) and reports measured
    // held-out accuracy — training cost lives at index-build time,
    // production's shape. HASH-CHECKED since round 12 (the v14
    // centroid-sidecar pattern): weights/intercept/threshold and the
    // held-out featurized rows ship as parquet sidecars, and the
    // oracle replays margin (dense Σ feats·w, bit-identical to MLlib's
    // sparse BLAS.dot — see QualityModel.featurized) → sigmoid →
    // threshold-at-0 prediction → heuristic-label join → accuracy
    // roll-up. TRAINING stays spec-checked (QualityModelSpec's
    // separable-corpus floor) — like KMeans in v14, the iterative fit
    // is not SQL-replayable and doesn't need to be: both engines score
    // from the SAME exported weights.
    (s, d) => {
      val (model, m) = qualityModelFor(s, d)
      val labelled = qualityDocs(s, d)
        .withColumn("label", when(col("q") >= m, 1.0).otherwise(0.0))
      QualityModel.scoreEval(model, labelled, "doc_id", "text", "label")
        .orderBy("doc_id")
    },
    Some(s"""WITH w AS (SELECT intercept, weights, threshold
        FROM read_parquet('${t21SidecarBase("weights")}/*/*.parquet')
        WHERE corpus_key = $t21CorpusKeySql),
      f AS (SELECT doc_id, feats
        FROM read_parquet('${t21SidecarBase("feats")}/*/*.parquet')
        WHERE corpus_key = $t21CorpusKeySql),
      lab AS (SELECT doc_id, $qualityExprSql AS q FROM (${qualityInnerSql()})),
      scored AS (SELECT f.doc_id,
          list_sum(list_transform(range(1, len(f.feats) + 1),
            i -> f.feats[i] * w.weights[i])) + w.intercept AS margin
        FROM f CROSS JOIN w),
      verdicts AS (SELECT s.doc_id,
          round(1.0 / (1.0 + exp(-margin)), 4) AS quality_prob,
          margin > 0 AS quality_pred,
          CAST(l.q >= w.threshold AS INT) AS label,
          (margin > 0) = (l.q >= w.threshold) AS correct
        FROM scored s JOIN lab l USING (doc_id) CROSS JOIN w),
      acc AS (SELECT round(avg(CASE WHEN correct THEN 1.0 ELSE 0.0 END), 4)
          AS heldout_accuracy FROM verdicts)
      SELECT doc_id, quality_prob, quality_pred, label, correct,
        heldout_accuracy
      FROM verdicts CROSS JOIN acc ORDER BY doc_id"""))


  private val t19 = QuerySpec("t19_curate_pack_pipeline",
    // The end-to-end training-data pass, composed from the operator
    // family and oracle-checked as ONE flow: t7's manifest rule
    // (quality + token floor + exact-dup keep-first) → t16's
    // per-source cap → t15's sequence packing over the survivors —
    // i.e. the assignment table a trainer actually consumes. Each
    // stage keeps its own 100 TB shape (one codegen'd projection +
    // hash-key dedup window; one source-keyed WindowGroupLimit; the
    // bucketed two-phase prefix sum) — composition adds no new
    // shuffle beyond the stages' own.
    (s, d) => {
      val w = Window.partitionBy("text_hash").orderBy("doc_id")
      val curated = t(s, d, "documents")
        .repartition(s.sparkContext.defaultParallelism)
        .select(col("doc_id"), col("source"),
          TextAnalysis.qualityScore(col("text")).as("quality"),
          TextAnalysis.tokenCountWs(col("text")).as("n_tokens"),
          md5(col("text")).as("text_hash"))
        .withColumn("drn", row_number().over(w))
        .filter(col("drn") === 1 && col("quality") >= 0.5 && col("n_tokens") >= 5)
        .select("doc_id", "source", "quality", "n_tokens")
      val capped = Curation.groupCap(curated, "doc_id", "source", "quality", cap = 15)
        .filter(col("keep"))
        .select("doc_id", "n_tokens")
      Packing.concatChunk(capped, "doc_id", "n_tokens", seqLen = 256, buckets = 64)
        .orderBy("doc_id")
    },
    Some(s"""WITH q AS (SELECT doc_id, source, quality, n_tokens,
        row_number() OVER (PARTITION BY text_hash ORDER BY doc_id) AS drn
        FROM (SELECT doc_id, source, $qualityExprSql AS quality,
          CAST(nws AS BIGINT) AS n_tokens, md5(text) AS text_hash
          FROM (${qualityInnerSql(" source,")}))),
      curated AS (SELECT doc_id, source, quality, n_tokens FROM q
        WHERE drn = 1 AND quality >= 0.5 AND n_tokens >= 5),
      capped AS (SELECT doc_id, n_tokens FROM (
        SELECT doc_id, n_tokens, row_number() OVER (PARTITION BY source
          ORDER BY quality DESC, doc_id) AS crn FROM curated)
        WHERE crn <= 15),
      tok AS (SELECT doc_id, n_tokens, ${hashBucketSql("doc_id", 64)} AS b,
        md5(CAST(doc_id AS VARCHAR)) AS ok FROM capped),
      cum AS (SELECT doc_id, n_tokens,
        CAST(sum(n_tokens) OVER (ORDER BY b, ok, doc_id
          ROWS UNBOUNDED PRECEDING) AS BIGINT) AS icum
        FROM tok)
      SELECT doc_id, n_tokens,
        icum - n_tokens AS start_tok,
        (icum - n_tokens) // 256 AS first_seq,
        CASE WHEN n_tokens > 0 THEN (icum - 1) // 256
          ELSE (icum - n_tokens) // 256 END AS last_seq,
        CAST(CASE WHEN n_tokens > 0
          THEN (icum - 1) // 256 - (icum - n_tokens) // 256 + 1
          ELSE 0 END AS INT) AS n_seqs
      FROM cum ORDER BY doc_id"""))


  private val t5 = QuerySpec("t5_top_terms",
    // Per-language term profile: the aggregation backbone of real
    // lang-ID / quality profiling at corpus scale (map-side partial
    // aggregation on (lang, word), then a top-k window per lang).
    (s, d) => {
      val words = t(s, d, "documents")
        .select(col("lang"),
          explode(split(lower(trim(col("text"))), "[ \t\n]+")).as("w"))
        .filter(length(col("w")) >= 3)
      val win = Window.partitionBy("lang").orderBy(desc("n"), asc("w"))
      words.groupBy("lang", "w").agg(count(lit(1)).as("n"))
        .withColumn("term_rank", row_number().over(win))
        .filter(col("term_rank") <= 5)
        .orderBy("lang", "term_rank")
    },
    Some(s"""SELECT lang, w, n, term_rank FROM (
        SELECT lang, w, count(*) AS n,
          row_number() OVER (PARTITION BY lang ORDER BY count(*) DESC, w) AS term_rank
        FROM (SELECT lang, unnest(string_split_regex(lower(trim(text)), '$WsSplit')) AS w
              FROM documents)
        WHERE len(w) >= 3 GROUP BY lang, w)
      WHERE term_rank <= 5 ORDER BY lang, term_rank"""))

  /** t1's score→greatest→CASE lang-id construction over an arbitrary
    * relation/source column — shared by the t45 oracle's doc-level and
    * line-level replays so they can never drift from each other.
    * `keep` = passthrough columns (comma list, must include whatever
    * downstream CTEs key on). */
  private def langCaseSql(rel: String, keep: String, src: String,
                          out: String): String = {
    val langs = TextAnalysis.LangMarkers.map(_._1)
    val scores = TextAnalysis.LangMarkers.map { case (lang, pat) =>
      s"len(regexp_extract_all(lower($src), '$pat')) AS s_$lang"
    }.mkString(", ")
    val best = s"greatest(${langs.map("s_" + _).mkString(", ")})"
    val cases = langs.map(l => s"WHEN s_$l > 0 AND s_$l = best THEN '$l'")
      .mkString(" ")
    s"""SELECT $keep, CASE $cases ELSE 'und' END AS $out
      FROM (SELECT $keep, $best AS best, ${langs.map("s_" + _).mkString(", ")}
            FROM (SELECT $keep, $src AS __src, $scores FROM $rel))"""
  }


  private val t45 = QuerySpec("t45_line_lang_segments",
    // Per-line language segmentation (TextAnalysis.lineLangProfile):
    // the multilingual routing report — majority line language vs the
    // whole-document call, line census, and the mixed-document flag
    // that says "split before the per-language pipelines". The argmax
    // is the q11 min(struct(-cnt, lang)) aggregate (count desc, lang
    // asc), so the oracle's row_number replay and Spark's aggregate
    // pick identical winners on ties. Whitespace-only documents drop
    // out of BOTH engines (no non-empty line).
    (s, d) => TextAnalysis
      .lineLangProfile(t(s, d, "documents"), "doc_id", "text")
      .orderBy("doc_id"),
    Some {
      val docLang = langCaseSql("documents", "doc_id", "text", "doc_lang")
      val lineLang = langCaseSql("lines", "doc_id, line", "line", "line_lang")
      s"""WITH dl AS ($docLang),
        lines AS (SELECT doc_id, trim(l) AS line
          FROM (SELECT doc_id, unnest(string_split(text, chr(10))) AS l
                FROM documents)
          WHERE len(trim(l)) > 0),
        ll AS ($lineLang),
        cnt AS (SELECT doc_id, line_lang, count(*) AS cnt
          FROM ll GROUP BY doc_id, line_lang),
        ranked AS (SELECT doc_id, line_lang, cnt, row_number() OVER (
            PARTITION BY doc_id ORDER BY cnt DESC, line_lang) AS rn
          FROM cnt),
        agg AS (SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n_lines,
            count(CASE WHEN line_lang != 'und' THEN 1 END) AS n_langs
          FROM cnt GROUP BY doc_id)
        SELECT a.doc_id, dl.doc_lang, r.line_lang AS line_major,
          r.cnt AS n_major, a.n_lines, (a.n_langs > 1) AS mixed
        FROM agg a
        JOIN ranked r ON a.doc_id = r.doc_id AND r.rn = 1
        JOIN dl ON a.doc_id = dl.doc_id
        ORDER BY a.doc_id"""
    })

  final def queriesText: Seq[QuerySpec] = Seq(t1, t2, t3, t4, t5, t6, t7, t8, t9, t10, t11, t12, t13, t14, t15, t16, t17, t18, t19, t20, t21, t45)
}
