package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus-curation operators for the LLM-training-data surface (north
  * star beyond the reference): repetition-based quality filters
  * (Gopher §A2-style), deterministic hash splits, per-group mixture
  * sampling, and benchmark-contamination detection.
  *
  * Everything here is declarative DataFrame composition — narrow
  * per-row expressions plus hash-keyed shuffles (gram/doc keys), never
  * all-pairs, never a driver loop — so each operator keeps its shape on
  * a 1000-executor cluster. Every operator is mirrored by an exact
  * DuckDB oracle in [[graft.Queries]].
  */
object Curation {

  private val Ws = "[ \t\n]+"

  /** Non-distinct word n-grams (repetition COUNTS matter here, unlike
    * [[graft.functions.TextAnalysis.shingles]] which deduplicates for
    * set-similarity). Empty array below k words. */
  def ngrams(text: Column, k: Int): Column = {
    val ws = split(trim(text), Ws)
    when(size(ws) < k, array().cast("array<string>")).otherwise(
      transform(sequence(lit(1), size(ws) - (k - 1)), i =>
        concat_ws(" ", (0 until k).map(j => element_at(ws, i + j)): _*)))
  }

  /** Same semantics as [[ngrams]] via a tight Scala loop. The HOF form
    * re-evaluates the inlined `split` per element_at (interpreted, no
    * subexpression sharing) — O(words²) per document; measured 13 s for
    * 5k docs at sf0.1 vs ~1 s with this UDF. Same justification (and
    * spec-asserted equality) as TextAnalysis.shinglesFast. */
  def ngramsFast(text: Column, k: Int): Column = {
    val f = udf { (t: String) =>
      if (t == null) Array.empty[String]
      else {
        // SQL-equivalent tokenization: trim strips SPACES only; split
        // keeps interior empties, limit -1 keeps trailing ones
        var st = 0
        var en = t.length
        while (st < en && t.charAt(st) == ' ') st += 1
        while (en > st && t.charAt(en - 1) == ' ') en -= 1
        val ws = t.substring(st, en).split("[ \t\n]+", -1)
        if (ws.length < k) Array.empty[String]
        else {
          val out = new Array[String](ws.length - k + 1)
          val sb = new java.lang.StringBuilder
          var i = 0
          while (i <= ws.length - k) {
            sb.setLength(0)
            var j = 0
            while (j < k) {
              if (j > 0) sb.append(' ')
              sb.append(ws(i + j))
              j += 1
            }
            out(i) = sb.toString
            i += 1
          }
          out
        }
      }
    }
    f(text)
  }

  /** Gopher-style repetition statistics per document:
    *   - `top2_frac`: occurrences of the MOST FREQUENT word bigram over
    *     total bigrams (Gopher rejects > 0.18 at n=2);
    *   - `dup3_frac`: fraction of trigram OCCURRENCES whose trigram
    *     appears more than once;
    *   - `keep`: both under the supplied thresholds.
    * Shape: one generator explodes tagged 2- and 3-grams, one shuffle
    * on (doc, n, gram) counts them, one partial-agg shuffle folds the
    * per-gram counts back to per-doc stats — gram-keyed exchanges only,
    * the same scale contract as the winnowing fingerprint (t6). Docs
    * shorter than 3 words have no trigrams: their fractions are 0
    * (nothing repeated), not null. */
  def repetitionStats(df: DataFrame, idCol: String, textCol: String,
                      maxTop2: Double = 0.18,
                      maxDup3: Double = 0.30): DataFrame = {
    // single-file sources scan as ONE partition; spread the per-row
    // gram generation before it runs (cost ∝ corpus, not partitions)
    val spread = df.repartition(df.sparkSession.sparkContext.defaultParallelism)
    val tagged = spread.select(col(idCol).as("doc_id"),
      explode_outer(concat(
        transform(ngramsFast(col(textCol), 2), g => struct(lit(2).as("n"), g.as("gram"))),
        transform(ngramsFast(col(textCol), 3), g => struct(lit(3).as("n"), g.as("gram")))))
        .as("t"))
    val counts = tagged
      .select(col("doc_id"), col("t.n").as("n"), col("t.gram").as("gram"))
      .groupBy("doc_id", "n", "gram")
      .agg(count(lit(1)).as("cnt"))
    val safeFrac = (num: Column, den: Column) =>
      when(den > 0, num.cast("double") / den).otherwise(lit(0.0))
    counts.groupBy("doc_id")
      .agg(
        max(when(col("n") === 2, col("cnt"))).as("top2"),
        sum(when(col("n") === 2, col("cnt"))).as("tot2"),
        sum(when(col("n") === 3 && col("cnt") > 1, col("cnt"))).as("dup3"),
        sum(when(col("n") === 3, col("cnt"))).as("tot3"))
      .select(col("doc_id"),
        round(safeFrac(coalesce(col("top2"), lit(0L)), coalesce(col("tot2"), lit(0L))), 6)
          .as("top2_frac"),
        round(safeFrac(coalesce(col("dup3"), lit(0L)), coalesce(col("tot3"), lit(0L))), 6)
          .as("dup3_frac"))
      .withColumn("keep", col("top2_frac") <= maxTop2 && col("dup3_frac") <= maxDup3)
  }

  /** Engine-portable deterministic bucket in [0, buckets): first 8 hex
    * chars of md5 of the key's string form, mod buckets. Pure per-row
    * expression — the split of a 100 TB corpus is a narrow map, no
    * shuffle, reproducible across engines/runs (unlike `rand(seed)`,
    * which is partition-layout-dependent). */
  def hashBucket(key: Column, buckets: Int): Column =
    conv(substring(md5(key.cast("string")), 1, 8), 16, 10)
      .cast("long") % buckets

  /** Deterministic train/validation/test assignment by content-free id
    * hash: stable under corpus growth (a doc never changes split), the
    * property shuffle-based sampling loses on re-ingestion. */
  def hashSplit(df: DataFrame, idCol: String,
                trainPct: Int = 80, validPct: Int = 10): DataFrame = {
    require(trainPct + validPct < 100, "need a non-empty test slice")
    val b = hashBucket(col(idCol), 100)
    df.withColumn("split",
      when(b < trainPct, "train")
        .when(b < trainPct + validPct, "valid")
        .otherwise("test"))
  }

  /** BPE merge learning — tokenizer training as a Spark job. The
    * corpus is scanned ONCE into a word-frequency table (the only
    * corpus-sized pass); every merge iteration then runs over the
    * VOCABULARY (bounded by distinct words, not corpus rows): count
    * adjacent symbol pairs weighted by word frequency, pick the most
    * frequent (count desc, pair asc — a total tie-break), splice it
    * into every sequence, repeat. Symbols start as codepoints
    * (regexp char-split, identical in both engines); application is
    * a SINGLE left-to-right non-overlapping sentinel-space replace —
    * "a a a a a" merging (a,a) yields "aa a aa", with the residual
    * middle symbol picked up by a LATER iteration. That convention
    * is deliberate: java.lang.String.replace and DuckDB's replace
    * scan identically (verified), so the whole training loop —
    * counts, tie-breaks, application — replays in SQL and
    * hash-checks (t41), which a canonical greedy re-scan would break
    * (it needs a per-word loop no engine-portable SQL expresses).
    * Portability caveat: the `pair asc` tie-break compares strings —
    * Spark orders by UTF-16 code units, DuckDB by UTF-8 bytes. The two
    * orders agree on all BMP text (every codepoint < U+10000, which
    * includes all of ASCII/Latin/CJK) and diverge only when
    * supplementary-plane characters (emoji, rare ideographs) tie at
    * the same count; train on such corpora with the oracle replay in
    * mind, or pre-strip non-BMP codepoints.
    * Returns the merge table (step, pair, merged, n) — the artifact
    * a tokenizer ships. Driver work per step: one 1-row collect. */
  def bpeMerges(df: DataFrame, textCol: String, nMerges: Int): DataFrame = {
    require(nMerges >= 1, s"nMerges $nMerges must be >= 1")
    val spark = df.sparkSession
    import spark.implicits._
    var words = df
      .select(explode(split(lower(trim(col(textCol))), Ws)).as("w"))
      .filter(length(col("w")) > 0)
      .groupBy("w").agg(count(lit(1)).as("freq"))
      .select(trim(regexp_replace(col("w"), "(.)", "$1 ")).as("seq"),
        col("freq"))
      .localCheckpoint(false)
    val out = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, Long)]
    for (step <- 1 to nMerges) {
      val top = words
        .select(col("freq"), split(col("seq"), " ").as("s"))
        .select(col("freq"), explode(when(size(col("s")) < 2,
          array().cast("array<string>")).otherwise(expr(
          "transform(sequence(1, size(s) - 1), i -> concat(element_at(s, i), ' ', element_at(s, i + 1)))")))
          .as("pair"))
        .groupBy("pair").agg(sum("freq").as("n"))
        .orderBy(desc("n"), asc("pair")).limit(1)
        .collect()
      require(top.nonEmpty, s"no adjacent pairs left to merge at step $step")
      val pair = top(0).getString(0)
      val merged = pair.replace(" ", "")
      out += ((step, pair, merged, top(0).getLong(1)))
      words = words.select(
        trim(call_function("replace",
          concat(lit(" "), col("seq"), lit(" ")),
          lit(s" $pair "), lit(s" $merged "))).as("seq"),
        col("freq"))
        .localCheckpoint(false)
    }
    out.toSeq.toDF("step", "pair", "merged", "n")
  }

  /** The apply side of [[bpeMerges]]: segment the corpus with a
    * learned merge table and report per-group compression. The
    * serving shape that scales: the merge chain is applied to the
    * DISTINCT-word vocabulary (bounded), which then broadcast-joins
    * back to the exploded corpus words — per-word segmentation is
    * computed once no matter how many times the word occurs, and the
    * corpus-sized side never shuffles (group keys ride the explode).
    * Emits per-group initial symbol (codepoint) and BPE token totals
    * plus the compression ratio — the number a tokenizer budget is
    * planned with. Merge application is the same sentinel-space
    * replace as training (identical residual convention, so
    * train→apply round-trips exactly). */
  def bpeSegmentStats(df: DataFrame, textCol: String, groupCol: String,
                      merges: Seq[(String, String)]): DataFrame = {
    require(merges.nonEmpty, "merges: supply bpeMerges output")
    val words = df
      .select(col(groupCol),
        explode(split(lower(trim(col(textCol))), Ws)).as("w"))
      .filter(length(col("w")) > 0)
    var vocab = words.select("w").distinct()
      .withColumn("seq", trim(regexp_replace(col("w"), "(.)", "$1 ")))
    for ((pair, merged) <- merges)
      vocab = vocab.withColumn("seq",
        trim(call_function("replace",
          concat(lit(" "), col("seq"), lit(" ")),
          lit(s" $pair "), lit(s" $merged "))))
    val tok = vocab.select(col("w"),
      length(col("w")).cast("long").as("__n_sym"),
      size(split(col("seq"), " ")).cast("long").as("__n_tok"))
    words.join(broadcast(tok), Seq("w"))
      .groupBy(col(groupCol))
      .agg(sum("__n_sym").as("n_symbols"),
        sum("__n_tok").as("n_bpe_tokens"),
        round(sum("__n_tok") / sum("__n_sym"), 6).as("compression"))
  }

  /** Per-doc k-gram novelty: the fraction of a doc's DISTINCT k-grams
    * appearing in NO other document — high novelty flags original
    * content (or noise); near-zero novelty flags boilerplate a dedup
    * pass missed. The complement of contamination overlap (t11): same
    * gram-keyed exchange shape, but scored per-document against the
    * whole corpus instead of against an eval set. Distinct-per-doc
    * grams explode once; the gram-df aggregate map-side combines; the
    * join back is gram-keyed — no text crosses an exchange after the
    * explode. Docs shorter than k words have no grams and are absent
    * from the output (callers left-join if they need them). */
  def gramNovelty(df: DataFrame, idCol: String, textCol: String,
                  k: Int): DataFrame = {
    // ONE linear pipeline (round 21): the gram df is a count over a
    // gram-partitioned window instead of an aggregate joined back —
    // same __gdf per row by definition, but grams now has a single
    // consumer, so the localCheckpoint materialization AND one
    // corpus-gram exchange (the join's re-shuffle of grams) disappear;
    // the plan is explode → distinct → window(gram) → agg(doc).
    // SKEW TRADE (round 22, per the r21 advice): the window buffers a
    // hot boilerplate gram's rows in one task where the old agg+join
    // map-side-combined them — the rows are (id, gram) pairs already
    // DISTINCT per doc, so a gram's partition is bounded by the corpus
    // doc count, not its occurrence count; acceptable for this
    // corpus-audit relation, but a deployment with a boilerplate gram
    // in most of a billion docs should prefer the agg+join form.
    val grams = df.select(col(idCol),
        explode(ngramsFast(col(textCol), k)).as("gram"))
      .distinct()
    grams.withColumn("__gdf",
        count(lit(1)).over(Window.partitionBy("gram")))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("__gdf") === 1, 1L).otherwise(0L)).as("n_unique"),
        round(avg(when(col("__gdf") === 1, 1.0).otherwise(0.0)), 6)
          .as("novelty"))
  }

  /** Stratified EXACT split: [[hashSplit]] holds proportions only in
    * expectation — a small or unlucky stratum can land 70/20/10 — so
    * evaluation suites that need per-language (or per-source) splits
    * exact to the row use this instead. Within each stratum, rows
    * rank by the engine-portable md5 of their id (id tie-break, so
    * the order is total and replayable in SQL); the first
    * (n·trainPct) div 100 go to train, the next (n·validPct) div 100
    * to valid, the rest test — integer arithmetic, no float-rounding
    * drift between engines. Still deterministic and
    * content-independent like hashSplit, but NOT stable under corpus
    * growth (adding a doc shifts its stratum's ranks — the price of
    * exactness; pin the split at release time, which is what the
    * manifest pattern t26 exists for). One shuffle: both windows
    * share the stratum partitioning. A skewed stratum is one sorted
    * partition — the t38 audit's dial applies. */
  def stratifiedSplit(df: DataFrame, idCol: String, stratumCol: String,
                      trainPct: Int = 80, validPct: Int = 10): DataFrame = {
    require(trainPct > 0 && validPct >= 0 && trainPct + validPct < 100,
      s"bad split $trainPct/$validPct: need a non-empty test slice")
    val w = Window.partitionBy(col(stratumCol))
      .orderBy(md5(col(idCol).cast("string")), col(idCol))
    val cw = Window.partitionBy(col(stratumCol))
    df.withColumn("__rk", row_number().over(w))
      .withColumn("__n", count(lit(1)).over(cw))
      .withColumn("split",
        when(expr(s"__rk <= (__n * $trainPct) div 100"), "train")
          .when(expr(s"__rk <= (__n * ${trainPct + validPct}) div 100"), "valid")
          .otherwise("test"))
      .drop("__rk", "__n")
  }

  /** Per-group mixture sampling: keep each row with its group's target
    * rate, decided by the row's OWN deterministic hash (Bernoulli per
    * row, exact-in-expectation per group). `rates` maps group value →
    * keep rate in [0,1]; groups absent from the map keep everything.
    * This is the "data mixing" step of a training pipeline (upweight
    * rare languages / downsample boilerplate domains) as a narrow
    * filter — no shuffle, no sort, stable across runs. */
  def mixtureSample(df: DataFrame, idCol: String, groupCol: String,
                    rates: Map[String, Double]): DataFrame = {
    require(rates.values.forall(r => r >= 0 && r <= 1), "rates must be in [0,1]")
    val rate = rates.foldLeft(lit(1.0)) { case (acc, (g, r)) =>
      when(col(groupCol) === g, lit(r)).otherwise(acc)
    }
    df.filter(hashBucket(col(idCol), 10000).cast("double") < rate * 10000)
  }

  /** Per-group document cap (the C4/RefinedWeb-style "domain cap"):
    * keep at most `cap` rows per `groupCol`, preferring high `scoreCol`
    * (ties broken by id asc, so the cut is total and reproducible).
    * Adds `grp_rank` (1-based within group) and `keep`. One window
    * partitioned by the group — the shuffle carries only the grouping
    * key + score + id, and a skewed giant domain is exactly one
    * partition's sort, never a global one. */
  def groupCap(df: DataFrame, idCol: String, groupCol: String,
               scoreCol: String, cap: Int): DataFrame = {
    require(cap >= 1, s"cap $cap must be >= 1")
    val w = Window.partitionBy(groupCol)
      .orderBy(col(scoreCol).desc, col(idCol))
    df.withColumn("grp_rank", row_number().over(w))
      .withColumn("keep", col("grp_rank") <= cap)
  }

  /** Within-document duplicate-LINE statistics — the line-level Gopher
    * repetition signal ([[repetitionStats]] covers the n-gram ones,
    * the structural rules live in [[gopherFilter]]): per doc, the
    * fraction of lines and of line-characters that within-doc line
    * dedup would remove (occurrences beyond the first of each distinct
    * line). Boilerplate-heavy pages (nav bars, cookie banners,
    * templated listings) light up on exactly these two numbers.
    * Empty-after-trim lines are excluded from the census (blank lines
    * are layout, not content); lines compare RAW otherwise. Docs with
    * no nonempty lines report zero fractions.
    *
    * Scale shape: one explode → one (doc, line) count → one per-doc
    * fold; the only exchanges are keyed on (doc, line) and doc — the
    * same contract as [[repetitionStats]], with lines in place of
    * grams. */
  def dupLineStats(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val spread = df.repartition(df.sparkSession.sparkContext.defaultParallelism)
    val lines = spread.select(col(idCol).as("doc_id"),
      explode(filter(split(col(textCol), "\n"),
        l => length(trim(l)) > 0)).as("line"))
    val perLine = lines
      .select(col("doc_id"), col("line"), length(col("line")).as("__len"))
      .groupBy("doc_id", "line", "__len")
      .agg(count(lit(1)).as("__c"))
    val stats = perLine.groupBy("doc_id").agg(
      sum("__c").as("n_lines"),
      sum(when(col("__c") > 1, col("__c") - 1).otherwise(0L)).as("__dl"),
      sum(col("__len").cast("long") * col("__c")).as("__tc"),
      sum(when(col("__c") > 1, col("__len").cast("long") * (col("__c") - 1))
        .otherwise(0L)).as("__dc"))
    spread.select(col(idCol).as("doc_id"))
      .join(stats, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_lines"), lit(0L)).as("n_lines"),
        round(when(col("n_lines").isNull || col("n_lines") === 0, lit(0.0))
          .otherwise(col("__dl").cast("double") / col("n_lines")), 6)
          .as("dup_line_frac"),
        round(when(col("__tc").isNull || col("__tc") === 0, lit(0.0))
          .otherwise(col("__dc").cast("double") / col("__tc")), 6)
          .as("dup_char_frac"))
  }

  /** Exact duplicate-SPAN detection (the substring-dedup family à la
    * "Deduplicating Training Data Makes Language Models Better" —
    * suffix-array semantics re-expressed declaratively): for every
    * document pair sharing a run of ≥ `minTokens` consecutive tokens,
    * report the maximal shared spans (start positions + token length).
    *
    * Plan shape: positional k-grams (tight-loop UDF) → equality join
    * on the GRAM → per-(pair, diagonal) islands via one window + one
    * aggregation. Matching positions of a shared run all sit on one
    * diagonal (pos_a − pos_b), so consecutive pos_a values collapse to
    * a single span with the classic row_number gaps-and-islands trick.
    * All exchanges are keyed on grams or (pair, diag) — never all-pairs.
    *
    * `maxGramDf` drops grams appearing in more than that many docs
    * before the join (boilerplate/stop-gram guard): a gram shared by m
    * docs creates O(m²) candidate rows, so at corpus scale the cap is
    * what bounds the join — same role as the band-width cap in the
    * MinHash pipeline. Spans consisting ONLY of such ubiquitous grams
    * are dropped; that is the documented trade (suffix dedup pipelines
    * apply the same frequency cut). */
  def duplicateSpans(df: DataFrame, idCol: String, textCol: String,
                     k: Int, minTokens: Int,
                     maxGramDf: Int = 1000): DataFrame = {
    require(minTokens >= k, "a span must be at least one k-gram long")
    val spread = df.repartition(df.sparkSession.sparkContext.defaultParallelism)
    // lazy localCheckpoint (round 21; re-adjudicated round 22): the
    // gram rows feed BOTH the df census and the join back against it —
    // two structurally different subtrees, so ReuseExchange cannot
    // fire. Under AQE the two consumers race on duplicate posexplode
    // passes (profiled: 12.3 s + 7.8 s copies of the gram stage), but
    // an interleaved min-over-3 A/B measured the EAGER form slower on
    // wall (d9 2.75 vs 2.31 s): on an under-utilized box the racing
    // duplicate is wall-free while the eager job serializes. Kept
    // lazy.
    val grams = spread.select(col(idCol).cast("long").as("doc_id"),
        posexplode(ngramsFast(col(textCol), k)).as(Seq("pos0", "gram")))
      .select(col("doc_id"), (col("pos0") + 1).as("pos"), col("gram"))
      .localCheckpoint(false)
    // df >= 2 (round 21): a gram seen in exactly one document cannot
    // produce a cross-doc match (the self-join requires doc_a < doc_b),
    // so keeping it only inflates the checkpointed frame and the join
    // build — measured 255k -> 83k kept rows at sf0.1, identical spans
    // (the d14 rare-window precedent; the DuckDB oracle keeps df=1
    // grams and they contribute no pairs there either).
    val rare = grams.groupBy("gram")
      .agg(countDistinct(col("doc_id")).as("__df"))
      .filter(col("__df") >= 2 && col("__df") <= maxGramDf)
      .select("gram")
    // lazy localCheckpoint: the gram+df-cap pipeline feeds BOTH sides
    // of the self-join and would execute twice (no cross-subtree CSE);
    // lazy per the same A/B as `grams` above.
    val kept = grams.join(rare, Seq("gram")).localCheckpoint(false)
    val a = kept.select(col("gram"), col("doc_id").as("doc_a"), col("pos").as("pos_a"))
    val b = kept.select(col("gram"), col("doc_id").as("doc_b"), col("pos").as("pos_b"))
    val w = Window.partitionBy("doc_a", "doc_b", "diag").orderBy("pos_a")
    a.join(b, Seq("gram"))
      .filter(col("doc_a") < col("doc_b"))
      .withColumn("diag", col("pos_a") - col("pos_b"))
      .withColumn("grp", col("pos_a") - row_number().over(w))
      .groupBy("doc_a", "doc_b", "diag", "grp")
      .agg(min("pos_a").as("start_a"), min("pos_b").as("start_b"),
        (count(lit(1)) + (k - 1)).cast("long").as("span_tokens"))
      .filter(col("span_tokens") >= minTokens)
      .select("doc_a", "doc_b", "start_a", "start_b", "span_tokens")
  }

  /** Apply-side duplicate-SPAN dedup (d9's ACTION): emit the CLEANED
    * corpus with every detected duplicated span removed keep-first —
    * for each [[duplicateSpans]] pair (doc_a < doc_b), doc_b's
    * occurrence of the span is cut, so the lower-id doc keeps the one
    * surviving copy (the same priority rule as the A1 stage dedup and
    * the d10 keeper manifest). This is the operator a training
    * pipeline actually runs after d9 reports spans: d9 detects,
    * this emits.
    *
    * Span surgery is token-level: a doc's removal intervals
    * [start_b, start_b + span_tokens) are merged where they overlap
    * (classic cummax gaps-and-islands — two windows keyed by doc),
    * surviving tokens re-join with single spaces. A cleaned doc is
    * therefore whitespace-NORMALIZED (the tokenizer's contract);
    * untouched docs keep their text byte-identical, so the transform
    * is surgical, not a corpus rewrite.
    *
    * Scale shape: detection is [[duplicateSpans]]'s (gram-keyed, df-
    * capped, never all-pairs); everything after is bounded by the
    * AFFECTED set — intervals are span-pair-count rows, only affected
    * docs explode to tokens (left-semi prune BEFORE posexplode), the
    * interval anti-join broadcasts the merged-interval table, and the
    * rebuild groups by doc id. A 100 TB corpus with sparse duplication
    * pays the detector plus work proportional to the duplicated docs
    * only.
    *
    * Returns the FULL corpus: (idCol, textCol cleaned-or-original,
    * n_removed_tokens). */
  def removeDuplicateSpans(df: DataFrame, idCol: String, textCol: String,
                           k: Int, minTokens: Int,
                           maxGramDf: Int = 1000): DataFrame = {
    val spans = duplicateSpans(df, idCol, textCol, k, minTokens, maxGramDf)
    // removal intervals for the LATER doc of each pair, 1-based
    // inclusive [s, e]; merge overlaps per doc so double-counted
    // tokens (a position covered by two pairs) are cut exactly once
    val iv = spans.select(col("doc_b").as("__mdoc"), col("start_b").as("__s"),
      (col("start_b") + col("span_tokens") - 1).as("__e"))
    val w = Window.partitionBy("__mdoc").orderBy("__s", "__e")
    // EAGER localCheckpoint (round 22, was lazy): `merged` feeds BOTH
    // the affected set and the broadcast anti-join below — without it
    // the whole span DETECTOR (gram join + window) re-executes once per
    // consumer (kept's checkpoint shields only the gram pipeline, not
    // the join/window above it), and lazily the two consumers race on
    // that re-execution. Merged intervals are span-pair-bounded and
    // tiny, so the materialization is free.
    val merged = iv
      .withColumn("__pmax",
        max("__e").over(w.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("__isl",
        when(col("__pmax").isNull || col("__s") > col("__pmax"), 1).otherwise(0))
      .withColumn("__grp", sum("__isl").over(w))
      .groupBy("__mdoc", "__grp")
      .agg(min("__s").as("__s"), max("__e").as("__e"))
      .select("__mdoc", "__s", "__e")
      .localCheckpoint(true)
    val affected = merged.select(col("__mdoc").as("__adoc")).distinct()
    // token surgery ONLY for affected docs: semi-join prune first, so
    // the posexplode never runs over the untouched corpus
    val affToks = df
      .select(col(idCol).cast("long").as("__doc"), col(textCol).as("__t"))
      .join(affected, col("__doc") === col("__adoc"), "left_semi")
      .select(col("__doc"),
        posexplode(split(trim(col("__t")), Ws)).as(Seq("__p0", "__tok")))
      .select(col("__doc"), (col("__p0") + 1).as("__pos"), col("__tok"))
    val kept = affToks.join(broadcast(merged),
      col("__doc") === col("__mdoc") &&
        col("__pos") >= col("__s") && col("__pos") <= col("__e"),
      "left_anti")
    val rebuilt = kept.groupBy("__doc")
      .agg(
        array_join(transform(
          array_sort(collect_list(struct(col("__pos"), col("__tok")))),
          x => x.getField("__tok")), " ").as("__ctext"),
        count(lit(1)).as("__nkept"))
    // base on the affected set, not the rebuild: a doc whose EVERY
    // token sat inside removal intervals has no kept rows and must
    // come back as the empty string, not silently keep its text
    val cleaned = affected
      .join(rebuilt, col("__adoc") === col("__doc"), "left")
      .select(col("__adoc"),
        coalesce(col("__ctext"), lit("")).as("__ctext"),
        coalesce(col("__nkept"), lit(0L)).as("__nkept"))
    df.withColumn("__ntok", size(split(trim(col(textCol)), Ws)).cast("long"))
      .join(cleaned, col(idCol).cast("long") === col("__adoc"), "left")
      .select(col(idCol),
        when(col("__adoc").isNotNull, col("__ctext"))
          .otherwise(col(textCol)).as(textCol),
        when(col("__adoc").isNotNull, col("__ntok") - col("__nkept"))
          .otherwise(lit(0L)).as("n_removed_tokens"))
  }

  /** Benchmark-contamination audit: for every (train doc, eval doc)
    * pair sharing at least `minShared` distinct word k-grams, report
    * the shared-gram count and the contaminated fraction of the train
    * doc's grams. The join key is the GRAM (hash-sized, high
    * cardinality), so candidates shuffle by gram and aggregate by pair
    * — the eval side is typically tiny but is NOT broadcast-required;
    * the plan holds even when the eval set is itself large. */
  def contamination(train: DataFrame, eval: DataFrame,
                    idCol: String, textCol: String,
                    k: Int, minShared: Int): DataFrame = {
    // EAGER localCheckpoint (round 22, was lazy): tGrams feeds the
    // per-doc totals AND the gram join; the two consumers run as
    // concurrent AQE stages and a lazy checkpoint let them race on
    // duplicate train-corpus shingle passes (profiled on t43: 12.1 s +
    // 7.8 s copies of the same gram stage). Interleaved min-over-3 A/B
    // favored eager HERE (t11 2.69 vs 3.17 s) — unlike duplicateSpans,
    // the duplicated pass is the whole train corpus, large enough to
    // contend even on an idle box.
    val tGrams = sideGrams(train, "train", idCol, textCol, k)
      .localCheckpoint(true)
    val nGrams = tGrams.groupBy("train_doc")
      .agg(count(lit(1)).as("n_train_grams"))
    tGrams.join(sideGrams(eval, "eval", idCol, textCol, k), Seq("gram"))
      .groupBy("train_doc", "eval_doc")
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
      .join(nGrams, Seq("train_doc"))
      .select(col("train_doc"), col("eval_doc"), col("n_shared"),
        round(col("n_shared").cast("double") / col("n_train_grams"), 6)
          .as("contaminated_frac"))
  }

  /** Corpus-distribution drift between two corpora (crawl snapshots,
    * train vs eval mixes): per-word probabilities under each corpus
    * and the word's Jensen-Shannon divergence contribution
    * (JS = ½·KL(Pa‖M) + ½·KL(Pb‖M), M the mixture — symmetric, finite
    * even for one-sided words). The operator both MEASURES the drift
    * (js_total, a broadcast scalar) and EXPLAINS it (per-word
    * contributions, the words that moved).
    *
    * Scale shape: two word explodes with map-side partial counts, one
    * full-outer join on the WORD (hash-keyed, vocabulary-sized — the
    * counts shuffle, never documents), per-row math with the two
    * corpus totals broadcast. Natural log on both engines. */
  def distributionDrift(a: DataFrame, b: DataFrame,
                        textCol: String): DataFrame = {
    def words(df: DataFrame) =
      df.repartition(df.sparkSession.sparkContext.defaultParallelism)
        .select(explode(split(trim(col(textCol)), Ws)).as("word"))
        .filter(length(col("word")) > 0)
    keyedDrift(words(a), words(b), "word", opName = "distributionDrift")
  }

  /** The JS reduction of [[distributionDrift]] over ANY keyed
    * observation frames (one row per observation of `keyCol`): the
    * same math serves word distributions, cluster-assignment masses
    * ([[graft.operators.Ann.embeddingDrift]]), source mixes, …
    * Output: one row per key — (keyCol, p_a, p_b, js_contrib) — plus
    * the broadcast `js_total` scalar on every row. */
  def keyedDrift(a: DataFrame, b: DataFrame, keyCol: String,
                 opName: String = "keyedDrift"): DataFrame = {
    val ca = a.groupBy(keyCol).agg(count(lit(1)).as("ca"))
    val cb = b.groupBy(keyCol).agg(count(lit(1)).as("cb"))
    val joined = ca.join(cb, Seq(keyCol), "full_outer")
      .select(col(keyCol), coalesce(col("ca"), lit(0L)).as("ca"),
        coalesce(col("cb"), lit(0L)).as("cb"))
      // feeds the totals aggregate AND the per-key projection
      .localCheckpoint(false)
    // drift against an EMPTY side is undefined. The guard lives on the
    // DRIVER: a per-row guard column never evaluates when BOTH sides
    // are empty (no rows to carry it), silently returning an empty
    // frame against the fail-loudly contract (round-9 ADVICE). The
    // totals row always exists — null sums — so this catches
    // one-empty AND both-empty; the collect is 1 bounded row over the
    // checkpointed counts, and the totals then enter the plan as
    // literals (no broadcast join needed).
    val tot = joined.agg(sum("ca").as("na"), sum("cb").as("nb")).collect()(0)
    require(!tot.isNullAt(0) && tot.getLong(0) > 0 &&
      !tot.isNullAt(1) && tot.getLong(1) > 0,
      s"$opName: a side has no $keyCol rows")
    val pA = col("ca").cast("double") / lit(tot.getLong(0))
    val pB = col("cb").cast("double") / lit(tot.getLong(1))
    val m = (pA + pB) / 2.0
    val contrib =
      when(col("ca") > 0, pA * log(pA / m) / 2.0).otherwise(lit(0.0)) +
        when(col("cb") > 0, pB * log(pB / m) / 2.0).otherwise(lit(0.0))
    val perKey = joined
      .select(col(keyCol), round(pA, 6).as("p_a"), round(pB, 6).as("p_b"),
        round(contrib, 6).as("js_contrib"), contrib.as("__c"))
      .localCheckpoint(false) // feeds js_total AND the result rows
    val total = perKey.agg(round(sum("__c"), 4).as("js_total"))
    perKey.crossJoin(broadcast(total)).drop("__c")
  }

  /** Distinct k-gram explode for one side of a contamination-family
    * join — shared so [[contamination]], [[contaminationBloom]] and
    * [[decontaminate]] can never drift on tokenization. */
  private def sideGrams(df: DataFrame, side: String, idCol: String,
                        textCol: String, k: Int): DataFrame = {
    import graft.functions.TextAnalysis
    df.repartition(df.sparkSession.sparkContext.defaultParallelism)
      .select(col(idCol).as(s"${side}_doc"),
        explode(TextAnalysis.shinglesFast(col(textCol), k)).as("gram"))
  }

  /** Decontamination — the ACT step over [[contamination]]'s detect
    * (the d10-manifest pattern applied to benchmark overlap): every
    * train doc with its worst-case shared-gram count against the eval
    * set and the keep verdict. A doc is dropped when ANY eval doc
    * shares ≥ `minShared` distinct k-grams with it — the conservative
    * rule decontamination pipelines apply (one contaminated pairing
    * taints the doc). Left join onto the train ids keeps the manifest
    * total (clean docs report n_shared_max 0), so the output is
    * directly usable as the keep-list of a curation run.
    *
    * Built directly on the shared pair-count core rather than on
    * [[contamination]]: the audit's per-doc gram totals (the
    * `contaminated_frac` denominator — a full corpus-keyed aggregation
    * plus join) are never needed for the verdict, so this path skips
    * them. Scale shape: gram-keyed join, pair-keyed count, doc-keyed
    * max, one id join — never all-pairs, no corpus-sized denominator
    * work. */
  def decontaminate(train: DataFrame, eval: DataFrame,
                    idCol: String, textCol: String,
                    k: Int, minShared: Int): DataFrame = {
    val hits = sideGrams(train, "train", idCol, textCol, k)
      .join(sideGrams(eval, "eval", idCol, textCol, k), Seq("gram"))
      .groupBy("train_doc", "eval_doc")
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
      .groupBy("train_doc")
      .agg(max(col("n_shared")).as("__hit"))
    train.select(col(idCol).as("doc_id"))
      .join(hits.withColumnRenamed("train_doc", "doc_id"), Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("__hit"), lit(0L)).as("n_shared_max"),
        col("__hit").isNull.as("keep"))
  }

  /** Corpus-wide line-level dedup APPLY — the RefinedWeb/CCNet curation
    * step: every line that already occurred anywhere else in the corpus
    * (or earlier in the same document) is removed, keeping the single
    * globally-first occurrence (smallest (doc_id, pos) — the A1
    * keep-first convention), and each document is rebuilt from its
    * surviving lines. Boilerplate headers/footers/nav chrome collapse
    * to one canonical copy; whitespace-only lines are STRUCTURE, not
    * content, and bypass dedup (collapsing them would merge every
    * paragraph break in the corpus into one).
    *
    * Scale shape — three exchanges, none skew-fragile:
    * 1. Canonical pass: groupBy(md5(line)) → min(struct(doc_id, pos)).
    *    Partial aggregation collapses mass-duplicated lines map-side,
    *    so the exchange carries one 16-byte digest + one (id, pos)
    *    struct per DISTINCT line per partition — a row_number window
    *    (the naive form) would instead funnel every copy of a
    *    corpus-wide boilerplate line through ONE task's sort.
    * 2. Verdict join on the digest: 1:1 enrich, AQE-skew-splittable
    *    (a window over the same key could not be split).
    * 3. Doc-keyed reassembly: sort_array over (pos, line) structs.
    * Null text → n_lines null, n_kept 0, empty text_clean (null in,
    * degenerate out — the d16 affected-doc contract). */
  def lineDedup(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val lines = df.select(col(idCol).as("doc_id"),
      posexplode(split(col(textCol), "\n", -1)).as(Seq("pos", "ln")))
    val nonBlank = lines.filter(trim(col("ln")) =!= "")
    val canon = nonBlank
      .groupBy(md5(col("ln")).as("h"))
      .agg(min(struct(col("doc_id"), col("pos"))).as("c"))
      .select(col("h"), col("c.doc_id").as("__cdoc"), col("c.pos").as("__cpos"))
    val keptNb = nonBlank.withColumn("h", md5(col("ln")))
      .join(canon, Seq("h"))
      .filter(col("doc_id") === col("__cdoc") && col("pos") === col("__cpos"))
      .select("doc_id", "pos", "ln")
    val kept = keptNb.unionByName(
      lines.filter(trim(col("ln")) === "").select("doc_id", "pos", "ln"))
    val reb = kept.groupBy("doc_id").agg(
      count(lit(1)).as("__nk"),
      array_join(transform(
        array_sort(collect_list(struct(col("pos"), col("ln")))),
        x => x.getField("ln")), "\n").as("__clean"))
    df.select(col(idCol).as("doc_id"),
        size(split(col(textCol), "\n", -1)).cast("long").as("n_lines"))
      .join(reb, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_lines"),
        coalesce(col("__nk"), lit(0L)).as("n_kept"),
        coalesce(col("__clean"), lit("")).as("text_clean"))
  }

  /** Semantic decontamination — the embedding-space twin of
    * [[decontaminate]]: a train doc is dropped when its embedding sits
    * within cosine ≥ `threshold` of ANY eval-set embedding. Catches
    * the paraphrased / translated / reformatted benchmark leakage that
    * k-gram overlap is structurally blind to (the n-gram detector
    * needs verbatim token runs; a reworded benchmark answer shares
    * none) — the same gap SemDeDup-style semantic matching closes for
    * dedup, applied to the train/eval boundary.
    *
    * Scale shape: the eval side is a benchmark suite — thousands of
    * rows against a corpus of billions — so it rides the
    * [[Ann.ivfAssignBig]] pattern: collected once (loud when empty),
    * broadcast, and folded per train row by a tight JVM max-cosine
    * loop. The corpus pass is a NARROW map — no crossJoin row
    * explosion (n_train × n_eval intermediate rows never materialize),
    * no corpus-keyed shuffle at all. The cosine fold replicates
    * [[graft.functions.VectorFunctions.cosine]] exactly (one-pass
    * double left fold, zero-norm → 0), so the result hash-matches the
    * DuckDB mirror bit-for-bit.
    *
    * Contract: null embedding → null `cos_max`, keep = true (no
    * contamination witnessed — [[decontaminate]]'s keep-unless-hit
    * rule); mismatched dims fail loudly. Train/eval disjointness is
    * the caller's contract, as in [[decontaminate]]. The verdict
    * compares the EXACT max (callers round for display only). */
  def semanticDecontaminate(train: DataFrame, eval: DataFrame,
                            idCol: String, embCol: String,
                            threshold: Double): DataFrame = {
    require(threshold > -1.0 && threshold <= 1.0,
      s"cosine threshold $threshold must be in (-1, 1]")
    val evals = Ann.collectCentroids(eval, idCol, embCol).map(_._2)
    val bc = train.sparkSession.sparkContext.broadcast(evals)
    val maxCos = udf { (emb: Seq[Double]) =>
      if (emb == null) Option.empty[Double]
      else {
        val a = emb.toArray
        val evs = bc.value
        var best = Double.NegativeInfinity
        var i = 0
        while (i < evs.length) {
          val c = cosStrict(a, evs(i))
          if (c > best) best = c
          i += 1
        }
        Some(best)
      }
    }
    train.select(col(idCol).as("doc_id"),
        maxCos(col(embCol).cast("array<double>")).as("cos_max"))
      .withColumn("keep", coalesce(col("cos_max") < threshold, lit(true)))
  }

  /** One-pass cosine, bit-identical to the VectorCosine expression
    * (dot/‖a‖²/‖b‖² as independent double left folds; zero-norm → 0);
    * loud on dimension mismatch — a silent truncated fold would pass
    * a contaminated doc with no error. */
  private def cosStrict(a: Array[Double], b: Array[Double]): Double = {
    require(a.length == b.length,
      s"embedding dim ${a.length} != eval dim ${b.length}")
    var dab = 0.0; var daa = 0.0; var dbb = 0.0
    var j = 0
    while (j < a.length) {
      val x = a(j); val y = b(j)
      dab += x * y; daa += x * x; dbb += y * y
      j += 1
    }
    val nn = math.sqrt(daa) * math.sqrt(dbb)
    if (nn == 0.0) 0.0 else dab / nn
  }

  /** [[contamination]] with a broadcast Bloom-filter gate on the train
    * side — the 100 TB form of the audit.
    *
    * In the plain form BOTH sides shuffle by gram; the train side is
    * the corpus, so the exchange is corpus-sized even though almost no
    * train gram has an eval partner. Here the (small) eval side's
    * distinct grams are folded into a Bloom filter
    * (`DataFrameStatFunctions.bloomFilter` — driver-held, size bounded
    * by the filter's own bit budget, bit-ORed across partitions so the
    * result is insertion-order-independent), broadcast once, and
    * applied as a NARROW map-side filter before the gram join: the
    * corpus-sized exchange shrinks to the collision footprint
    * (true matches + the fpp tail). This is Spark's own runtime-
    * bloom-join pattern, applied where the optimizer can't see it
    * (the gram key only exists post-explode).
    *
    * EXACTNESS is unconditional: a false positive merely survives to
    * the inner join, finds no eval partner, and drops — so the result
    * is row-for-row [[contamination]]'s (one shared oracle), for any
    * `fpp`. The per-doc gram totals (the denominator) are counted
    * BEFORE the gate, as a doc-keyed partial agg carrying (doc, count)
    * scalars.
    *
    * The `mightContainString` probe is a UDF by necessity (the public
    * sketch API has no Column form — the expression behind Spark's
    * runtime filter is internal); it is a constant-time bit probe on
    * the broadcast value, off the shuffle path. */
  def contaminationBloom(train: DataFrame, eval: DataFrame,
                         idCol: String, textCol: String,
                         k: Int, minShared: Int,
                         fpp: Double = 0.01): DataFrame = {
    require(fpp > 0 && fpp < 1, s"fpp $fpp must be in (0,1)")
    val spark = train.sparkSession
    // lazy localCheckpoint: the eval gram pipeline feeds THREE
    // consumers (the sizing count, the Bloom build, and the gram join)
    // and would re-shingle the eval corpus once per consumer otherwise
    // (the duplicateSpans shared-subtree pattern)
    val eGrams = sideGrams(eval, "eval", idCol, textCol, k).localCheckpoint(false)
    // sizing pass over the eval side only (the small one, by the same
    // assumption that makes the gate worthwhile)
    val nEval = eGrams.count()
    val bf = eGrams.stat.bloomFilter("gram", math.max(nEval, 1L), fpp)
    val bc = spark.sparkContext.broadcast(bf)
    val mightContain = udf((g: String) => bc.value.mightContainString(g))
    // Totals as a NARROW per-row projection (round 21): shinglesFast
    // already returns each doc's distinct grams, so the denominator is
    // size() of the array — no explode, no doc-keyed exchange, and
    // tGrams drops to a single consumer (the gated join), so its
    // localCheckpoint materialization goes too. Zero-gram docs gain an
    // n=0 row here where the old agg had none; both die in the inner
    // join below (a doc with no grams has no pairs), so the result is
    // row-identical. KNOWN TRADE (round 22, per the r21 advice): this
    // runs shinglesFast over the train corpus twice (tGrams' explode +
    // this size() projection) — a CPU-for-exchange trade measured at
    // bench scale; at corpora where the shingling UDF dominates,
    // derive the count and the array from one projection instead.
    val tGrams = sideGrams(train, "train", idCol, textCol, k)
    val nGrams = train.select(col(idCol).as("train_doc"),
      size(graft.functions.TextAnalysis.shinglesFast(col(textCol), k))
        .cast("long").as("n_train_grams"))
    tGrams.filter(mightContain(col("gram")))
      .join(eGrams, Seq("gram"))
      .groupBy("train_doc", "eval_doc")
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
      .join(nGrams, Seq("train_doc"))
      .select(col("train_doc"), col("eval_doc"), col("n_shared"),
        round(col("n_shared").cast("double") / col("n_train_grams"), 6)
          .as("contaminated_frac"))
  }

  /** The rank-interval acceptance test behind [[quantileAudit]], kept a
    * pure function so the spec can exercise both outcomes directly:
    * a sketch value is accepted iff its rank interval [lo, hi] (the
    * empirical CDF just below / at the value — an interval because of
    * ties) intersects [p − eps, p + eps]. */
  private[graft] def rankBoundOk(lo: Double, hi: Double,
                                 p: Double, eps: Double): Boolean =
    lo <= p + eps && hi >= p - eps

  /** Corpus quantile audit: exact `percentile` values alongside the
    * Greenwald-Khanna `approx_percentile` sketch, bound-checked in
    * RANK space — the sketch's actual guarantee (the returned value's
    * rank is within n/accuracy of ⌈p·n⌉; it promises nothing in value
    * space, so a value-distance check would be wrong on any skewed
    * column). `gk_ok` accepts iff the approx value's empirical rank
    * interval (count(v < a)/n, count(v ≤ a)/n — an interval because
    * of ties) intersects [p ± (1/accuracy + slack)], and rides into
    * the oracle hash-compare as literal TRUE (the t24 pattern).
    *
    * Scale shape: exact `percentile` aggregates a count-per-value map
    * (memory ∝ distinct values — fine for integer-ish domains, the
    * t13 caveat); the GK sketch is O(accuracy·log n) per partition
    * regardless of the domain, mergeable map-side. The audit runs
    * both plus ONE extra narrow pass for the rank check (|probs|
    * bounded counter columns); at 100 TB the exact column is dropped
    * and the sketch serves alone. All driver state is bounded by
    * construction: one row of 2·|probs| doubles + the counts row. */
  def quantileAudit(df: DataFrame, valueCol: String, probs: Seq[Double],
                    accuracy: Int = 10000, slack: Double = 0.005): DataFrame = {
    require(probs.nonEmpty, "probs must be non-empty")
    require(probs.forall(p => p > 0 && p < 1), s"probs $probs must each be in (0,1)")
    require(accuracy >= 10, s"accuracy $accuracy must be >= 10")
    require(slack > 0, s"slack $slack must be > 0")
    val vals = df.select(col(valueCol).cast("double").as("v"))
      .filter(col("v").isNotNull)
    val pList = probs.mkString(",")
    // ONE aggregate pass for n + exact + sketch
    val head = vals.agg(
      count(lit(1)).as("n"),
      expr(s"percentile(v, array($pList))").as("exact"),
      expr(s"approx_percentile(v, array($pList), $accuracy)").as("approx")).head()
    val n = head.getLong(0)
    require(n > 0, s"quantileAudit: no non-null $valueCol rows")
    val exact = head.getSeq[Double](1)
    val approx = head.getSeq[Double](2)
    // rank-check pass: empirical CDF below/at each sketch value —
    // narrow map + one partial agg carrying 2·|probs| counters
    val cdfCols = probs.indices.flatMap { i =>
      Seq(sum(when(col("v") < approx(i), 1L).otherwise(0L)).as(s"lo$i"),
        sum(when(col("v") <= approx(i), 1L).otherwise(0L)).as(s"hi$i"))
    }
    val cdf = vals.agg(cdfCols.head, cdfCols.tail: _*).head()
    val eps = 1.0 / accuracy + slack
    val rows = probs.indices.map { i =>
      val lo = cdf.getLong(2 * i).toDouble / n
      val hi = cdf.getLong(2 * i + 1).toDouble / n
      (probs(i),
        BigDecimal(exact(i)).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble,
        rankBoundOk(lo, hi, probs(i), eps))
    }
    val spark = df.sparkSession
    import spark.implicits._
    rows.toDF("p", "exact_q", "gk_ok")
  }

  /** Per-group distinct-cardinality audit: exact `count(distinct value)`
    * alongside the HLL++ `approx_count_distinct` estimate at `rsd` —
    * the pre-dedup census a pipeline runs to size its dedup strategy
    * (unique docs per source, unique fingerprints per shard). The
    * third leg of the sketch family (Misra-Gries [[HeavyHitters]],
    * Bloom [[contaminationBloom]], HLL here), same contract: the
    * mergeable sketch is the corpus-scale path, the exact twin exists
    * to BOUND it.
    *
    * Scale shape: the exact form shuffles every distinct (group,
    * value) pair (Spark plans partial-distinct via Expand — exchange
    * ∝ distinct values); the HLL partial aggregate is a fixed
    * ~1.04/rsd² registers (~2.7 KB at 2%) per group per partition, so
    * its exchange is constant-size in the corpus. At 100 TB a caller
    * drops the exact column and serves the sketch; here both are
    * computed in ONE aggregate pass and `hll_ok` (|approx − exact| ≤
    * tol·exact) rides into the oracle hash-compare — an estimator
    * drifting out of tolerance fails the harness loudly instead of
    * silently skewing a downstream mixture decision. The raw estimate
    * itself is engine-specific, so it stays out of the output and the
    * BOUND is what gets checked. */
  def distinctAudit(df: DataFrame, groupCol: String, valueCol: String,
                    rsd: Double = 0.02, tol: Double = 0.1): DataFrame = {
    require(rsd > 0 && rsd < 0.4, s"rsd $rsd must be in (0, 0.4)")
    require(tol > 0, s"tol $tol must be > 0")
    df.groupBy(groupCol)
      .agg(count(lit(1)).as("n_rows"),
        countDistinct(col(valueCol)).as("n_distinct"),
        approx_count_distinct(col(valueCol), rsd).as("__approx"))
      .select(col(groupCol), col("n_rows"), col("n_distinct"),
        (abs(col("__approx") - col("n_distinct"))
          <= col("n_distinct").cast("double") * tol).as("hll_ok"))
  }

  /** CountMin point-frequency audit — the fifth leg of the sketch
    * family (frequency top-k: t17 Misra-Gries; membership: t18 Bloom;
    * cardinality: t24 HLL; quantiles: t25 GK; point frequency: here).
    * For each probe key: the exact count (the oracle-checked answer)
    * and whether the CMS estimate respects BOTH sides of the sketch's
    * contract — `est ≥ exact` (CMS never under-counts without
    * deletions) and `est ≤ exact + eps·N` (the collision bound, N from
    * the sketch's own totalCount — no second pass for the total). The
    * raw estimate is engine-specific and stays out of the output; the
    * BOUND is the checkable contract (the t24/t25 convention). With a
    * fixed seed the flag is deterministic per dataset.
    *
    * Scale shape: the sketch is `DataFrameStatFunctions
    * .countMinSketch` — fixed O(depth·width) size, merged across
    * partitions, driver-held like the t18 Bloom. Exact recount runs
    * ONLY on the bounded probe set via a broadcast semi-join (the t17
    * recount pattern): map-side filter, |probes|-row aggregate. At
    * corpus scale probes come from Misra-Gries candidates and this
    * audit is the sign-off that the serving sketch is trustworthy. */
  def cmsFrequencyAudit(df: DataFrame, keyCol: String, probes: DataFrame,
                        eps: Double, confidence: Double,
                        seed: Int): DataFrame = {
    require(eps > 0 && eps < 1, s"eps $eps must be in (0, 1)")
    require(confidence > 0 && confidence < 1,
      s"confidence $confidence must be in (0, 1)")
    val spark = df.sparkSession
    val probeDf = probes.select(col(keyCol).cast("string")).distinct()
    val probeKeys = probeDf.collect().map(_.getString(0))
    require(probeKeys.nonEmpty, "probe set is empty")
    require(probeKeys.length <= 100000,
      s"probe set ${probeKeys.length} exceeds the bounded-collect cap")
    val sketch = df.stat.countMinSketch(col(keyCol), eps, confidence, seed)
    val n = sketch.totalCount()
    val exact = df.select(col(keyCol).cast("string").as(keyCol))
      .join(broadcast(probeDf), Seq(keyCol))
      .groupBy(keyCol).agg(count(lit(1)).as("n_exact"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val rows = probeKeys.sorted.toSeq.map { k =>
      val ex = exact.getOrElse(k, 0L)
      (k, ex, cmsBoundOk(sketch.estimateCount(k), ex, eps * n))
    }
    spark.createDataFrame(rows).toDF(keyCol, "n_exact", "cms_ok")
  }

  /** Live two-sided CMS contract check (the [[rankBoundOk]] pattern —
    * kept a pure function so the spec can pin both failure sides,
    * which a healthy sketch can't be made to exhibit determinately). */
  private[graft] def cmsBoundOk(est: Long, exact: Long,
                                slack: Double): Boolean =
    est >= exact && est.toDouble <= exact + slack

  /** PII patterns, deliberately lookaround-free ASCII so the same
    * regex means the same thing under Java's engine (Spark) and RE2
    * (the DuckDB oracle): emails, dotted-quad IPv4, and bare digit
    * runs of ≥9 (account/SSN-shaped). Public so the spec and the
    * oracle builder quote ONE definition. */
  val PiiEmail = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val PiiIpv4 = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"
  val PiiIdRun = "\\b\\d{9,}\\b"

  /** PII redaction (the curation ACTION every large training-corpus
    * pipeline runs before export — C4/Dolma-style scrubbing): replace
    * emails, IPv4 addresses and long digit runs with typed tags and
    * report per-doc counts of what was ACTUALLY replaced. Redaction is
    * sequential — emails first, then IPv4 on the email-redacted text,
    * then digit runs on the IP-redacted text — and each count is
    * measured on the text its own stage saw, so a digit run inside an
    * email is redacted (and counted) exactly once, as part of the
    * email. A doc with no matches keeps its text byte-identical.
    *
    * Scale shape: a pure narrow map (three codegen'd regexps per row),
    * no shuffle, no join — at 100 TB the cost is the scan itself.
    * Returns all input columns with textCol redacted, plus
    * (n_emails, n_ipv4, n_idruns). */
  /** Deterministic training-mix sampling (the data-MIXING step of an
    * LLM pipeline: given per-source weights and a total token budget,
    * draw a sample whose per-source token mass approaches
    * budget·wₛ/Σw). Per source, the admission probability is
    * pₛ = min(1, targetₛ / tokensₛ), materialized as an integer
    * micro-threshold, and a doc is admitted iff
    * hashBucket(id, 1e6) < ⌊pₛ·1e6⌋ — content-free id hashing, so the
    * draw is reproducible across engines and runs, and NESTED: raising
    * the budget only ever ADDS docs (a doc admitted at p stays
    * admitted at every p' ≥ p), the property shuffle/rand sampling
    * loses on every re-ingestion. A weight of 0 excludes a source
    * exactly; sources missing from `weights` get `defaultWeight`.
    *
    * Scale shape: one per-source token aggregate (≤ #sources rows,
    * broadcast back), then a pure narrow filter over the corpus — no
    * corpus shuffle. Oversampling error is one doc per source by
    * construction (the threshold cuts a hash-ordered prefix).
    *
    * Returns the sampled rows (all input columns) plus `p_micro`, the
    * source's admission threshold — emitted so an auditor (and the
    * oracle) can verify every admitted doc against it. */
  def mixtureSample(df: DataFrame, idCol: String, textCol: String,
                    sourceCol: String, weights: Map[String, Double],
                    tokenBudget: Long,
                    defaultWeight: Double = 1.0): DataFrame = {
    require(tokenBudget >= 1, s"tokenBudget $tokenBudget must be >= 1")
    require(weights.values.forall(_ >= 0) && defaultWeight >= 0,
      "negative mixture weights are meaningless")
    import graft.functions.TextAnalysis
    val wCase = weights.toSeq.sortBy(_._1)
      .foldRight(lit(defaultWeight): Column) { case ((s, w), els) =>
        when(col(sourceCol) === s, lit(w)).otherwise(els)
      }
    val toks = df.withColumn("__nt",
      TextAnalysis.tokenCountWs(col(textCol)).cast("double"))
    val totals = toks.groupBy(col(sourceCol))
      .agg(sum(col("__nt")).as("__total"))
      .withColumn("__w", wCase)
    val th = totals
      .crossJoin(broadcast(totals.agg(sum(col("__w")).as("__sumw"))))
      .withColumn("__p",
        floor(least(lit(1.0),
          lit(tokenBudget.toDouble) * col("__w") / col("__sumw")
            / col("__total")) * lit(1000000.0)).cast("long"))
      .select(col(sourceCol), col("__p"))
    toks.join(broadcast(th), Seq(sourceCol))
      .filter(hashBucket(col(idCol), 1000000) < col("__p"))
      .withColumn("p_micro", col("__p"))
      .drop("__p", "__nt")
  }

  /** Gopher-style rule-based quality filter (Rae et al. 2021,
    * "Scaling Language Models: Methods, Analysis & Insights from
    * Training Gopher", appendix A — the structural rule set that
    * RefinedWeb / Dolma / FineWeb reuse): per-document surface
    * features → one boolean per rule → `keep` = AND of all rules.
    * Complements [[graft.functions.TextAnalysis.qualityScore]] (a
    * soft score) with the hard gate a curation pipeline actually
    * applies, and t9's repetition stats (which cover the
    * duplicate-content rules of the same appendix).
    *
    * Rules (published defaults):
    *   - word count in [minWords, maxWords]
    *   - mean word length in [minMeanWordLen, maxMeanWordLen]
    *   - symbol-to-word ratio (`#`/`…` count ÷ words) ≤ maxSymbolRatio
    *   - fraction of bullet-started lines ≤ maxBulletFrac
    *   - fraction of ellipsis-ended lines ≤ maxEllipsisFrac
    *   - fraction of words with ≥1 alphabetic char ≥ minAlphaFrac
    *   - ≥ minStopHits DISTINCT members of the 8-word stop list
    *     {the, be, to, of, and, that, have, with} present
    *
    * Scale shape: a pure NARROW map — every feature is a built-in
    * higher-order / regex expression over the row's own text (no
    * explode, no join, no exchange), so at 100 TB the cost is the
    * corpus scan and the plan stays one WholeStageCodegen span.
    * Regex classes use explicit ranges (no \\w, \\b classes beyond
    * what RE2 shares with Java) so the DuckDB oracle replays every
    * feature bit-for-bit; ratios divide exact integer counts as
    * doubles, so the rule booleans — not just the rounded display
    * columns — hash-match.
    *
    * Empty/blank docs: 0 words → mean/fractions defined as 0.0, so
    * they fail the word-count and alpha rules loudly rather than
    * dividing by zero. */
  def gopherFilter(df: DataFrame, idCol: String, textCol: String,
                   minWords: Int = 50, maxWords: Int = 100000,
                   minMeanWordLen: Double = 3.0, maxMeanWordLen: Double = 10.0,
                   maxSymbolRatio: Double = 0.1,
                   maxBulletFrac: Double = 0.9, maxEllipsisFrac: Double = 0.3,
                   minAlphaFrac: Double = 0.8, minStopHits: Int = 2): DataFrame = {
    require(minWords >= 0 && maxWords >= minWords, "bad word-count bounds")
    val text = col(textCol)
    val words = when(length(trim(text)) === 0, typedlit(Seq.empty[String]))
      .otherwise(split(trim(text), "[ \t\n]+"))
    val lines = split(text, "\n", -1)
    // one array_intersect, not 8 array_contains: HOF expressions are
    // inlined per USE (no CSE), so each contains() would re-split and
    // re-lower the text — the Dedup.minhashSignature hazard
    val stopHits = size(array_intersect(
      transform(words, w => lower(w)), typedlit(GopherStopWords)))
    val nWords = size(words).cast("long")
    val d0 = when(nWords === 0, lit(0.0))
    def fracOfWords(n: Column) = d0.otherwise(n.cast("double") / nWords)
    val nLines = size(lines).cast("long")
    val out = df.select(col(idCol), text.as(textCol))
      .withColumn("n_words", nWords)
      .withColumn("mean_word_len", fracOfWords(
        aggregate(words, lit(0L), (acc, w) => acc + length(w).cast("long"))))
      .withColumn("symbol_ratio", fracOfWords(
        size(regexp_extract_all(text, lit("[#…]"), lit(0)))))
      .withColumn("frac_bullet_lines",
        size(filter(lines, l => regexp_like(l, lit("^[ \t]*[-*•]"))))
          .cast("double") / nLines)
      .withColumn("frac_ellipsis_lines",
        size(filter(lines, l => regexp_like(l, lit("(\\.\\.\\.|…)[ \t]*$"))))
          .cast("double") / nLines)
      .withColumn("frac_alpha_words", fracOfWords(
        size(filter(words, w => regexp_like(w, lit("[A-Za-z]"))))))
      .withColumn("n_stop_hits", stopHits)
    out
      .withColumn("ok_words",
        col("n_words") >= minWords && col("n_words") <= maxWords)
      .withColumn("ok_word_len",
        col("mean_word_len") >= minMeanWordLen &&
          col("mean_word_len") <= maxMeanWordLen)
      .withColumn("ok_symbol", col("symbol_ratio") <= maxSymbolRatio)
      .withColumn("ok_bullet", col("frac_bullet_lines") <= maxBulletFrac)
      .withColumn("ok_ellipsis", col("frac_ellipsis_lines") <= maxEllipsisFrac)
      .withColumn("ok_alpha", col("frac_alpha_words") >= minAlphaFrac)
      .withColumn("ok_stop", col("n_stop_hits") >= minStopHits)
      .withColumn("keep",
        col("ok_words") && col("ok_word_len") && col("ok_symbol") &&
          col("ok_bullet") && col("ok_ellipsis") && col("ok_alpha") &&
          col("ok_stop"))
      .drop(textCol)
  }

  /** The Gopher stop list — 8 common English words; the rule asks for
    * ≥2 distinct to be present (a cheap "is this running English
    * prose" witness). */
  val GopherStopWords: Seq[String] =
    Seq("the", "be", "to", "of", "and", "that", "have", "with")

  /** CCNet-style perplexity bucketing (Wenzek et al. 2020): score
    * every document by its perplexity under a corpus unigram LM (the
    * t8 signal, exponentiated), split the corpus into head / middle /
    * tail at the perplexity terciles, and mark tail for dropping —
    * the standard "keep the fluent two-thirds" web-corpus gate.
    *
    * Thresholds: pass `thresholds = Some((th1, th2))` in production —
    * bucketing is then a PURE NARROW comparison after the per-doc
    * score (the cutpoints come from a bounded-memory sketch, e.g.
    * [[quantileAudit]]'s GK pass over yesterday's scores). With
    * `None` the terciles are computed exactly (Spark `percentile`,
    * memory ∝ distinct scores — fine at test SF, disclosed as the
    * non-scale path; its value is that DuckDB's `quantile_cont`
    * replays the interpolation bit-for-bit, so the whole operator is
    * oracle-checkable end to end).
    *
    * Determinism: ppl is rounded to 4dp BEFORE thresholding, so the
    * tercile interpolation runs on identical doubles in both engines
    * and absorbs both avg re-association noise (~1e-13, the t8/e1
    * precedent) and libm exp() ulp differences. Scale shape: one
    * word-frequency aggregate + join back (shuffles carry words and
    * ids, never documents), a 1-row threshold aggregate broadcast
    * back, then a narrow compare. */
  def perplexityBuckets(df: DataFrame, idCol: String, textCol: String,
                        thresholds: Option[(Double, Double)] = None): DataFrame = {
    val words = df
      .select(col(idCol).as("doc_id"),
        explode(split(lower(trim(col(textCol))), "[ \t\n]+")).as("w"))
      .filter(length(col("w")) > 0)
    val freq = words.groupBy("w").agg(count(lit(1)).as("wn"))
    val tot = freq.agg(sum("wn").as("n"))
    val perDoc = words.join(freq, Seq("w"))
      .crossJoin(broadcast(tot))
      .groupBy("doc_id")
      .agg(round(exp(-avg(log(col("wn") / col("n")))), 4).as("ppl"),
        count(lit(1)).as("n_words"))
    val withTh = thresholds match {
      case Some((t1, t2)) =>
        require(t1 <= t2, s"thresholds must be ordered: $t1 > $t2")
        perDoc.withColumn("__t1", lit(t1)).withColumn("__t2", lit(t2))
      case None =>
        perDoc.crossJoin(broadcast(perDoc.agg(
          percentile(col("ppl"), lit(1.0 / 3)).as("__t1"),
          percentile(col("ppl"), lit(2.0 / 3)).as("__t2"))))
    }
    withTh
      .withColumn("bucket",
        when(col("ppl") <= col("__t1"), lit("head"))
          .when(col("ppl") <= col("__t2"), lit("middle"))
          .otherwise(lit("tail")))
      .withColumn("keep", col("bucket") =!= "tail")
      .select(col("doc_id").as(idCol), col("ppl"), col("n_words"),
        col("bucket"), col("keep"))
  }

  /** URL canonicalization — the web-corpus normalization step that
    * runs BEFORE text dedup (CCNet / RefinedWeb both dedupe crawl
    * snapshots by normalized URL first; a page fetched twice with
    * different tracking params is the same document regardless of its
    * text hash). Steps, all pure regex (RE2-compatible — no
    * lookarounds — so the DuckDB oracle replays them verbatim):
    *
    *   1. scheme and host lowercased (path/query case is significant
    *      and preserved);
    *   2. leading `www.` and default ports `:80`/`:443` dropped from
    *      the host;
    *   3. fragment stripped;
    *   4. tracking params (`utm_*`, `fbclid`, `gclid`, `ref`)
    *      removed, separators repaired (`&&`→`&`, then `?&`→`?`,
    *      trailing `?`/`&` dropped) — real params survive in their
    *      original order;
    *   5. trailing slash on the path dropped.
    *
    * A string that doesn't parse as `scheme://host...` is returned
    * trimmed but otherwise untouched — canonicalization never
    * invents structure for a malformed URL. Narrow map, codegen'd. */
  def canonicalizeUrl(url: Column): Column = {
    val schemeHost = "^([A-Za-z][A-Za-z0-9+.-]*)://([^/?#]+)"
    val scheme = lower(regexp_extract(url, schemeHost, 1))
    val host = regexp_replace(
      regexp_replace(lower(regexp_extract(url, schemeHost, 2)), "^www\\.", ""),
      ":(80|443)$", "")
    val rest = regexp_extract(url, schemeHost + "(.*)$", 3)
    val noFrag = regexp_replace(rest, "#.*$", "")
    val noTrack = regexp_replace(noFrag,
      "([?&])(utm_[A-Za-z0-9_]*|fbclid|gclid|ref)=[^&#]*", "$1")
    val repaired = regexp_replace(regexp_replace(
      regexp_replace(noTrack, "&&+", "&"), "\\?&", "?"), "[?&]+$", "")
    val noSlash = regexp_replace(repaired, "/+(\\?|$)", "$1")
    when(scheme === "" || host === "", trim(url))
      .otherwise(concat(scheme, lit("://"), host, noSlash))
  }

  /** Keep-first dedup by canonical URL (the d18 aggregate pattern
    * applied at document granularity): every row gets its
    * [[canonicalizeUrl]] form, one row per canonical URL survives —
    * the minimum `idCol` — and every row reports its group. The
    * canonical pass is a groupBy(url_canon) → min/count AGGREGATE,
    * map-side combinable, so a hot URL (a crawl that fetched one page
    * a million times) arrives at its reducer as one partial per map
    * task, never as a single-task occurrence list. The join back is
    * keyed on url_canon: two corpus-sized exchanges total, payload
    * text never shuffles (only ids and URLs). */
  def urlDedup(df: DataFrame, idCol: String, urlCol: String): DataFrame = {
    val canon = df.select(col(idCol), col(urlCol))
      .withColumn("url_canon", canonicalizeUrl(col(urlCol)))
    val groups = canon.groupBy("url_canon")
      .agg(min(col(idCol)).as("__keeper"),
        count(lit(1)).as("group_size"))
    canon.join(groups, Seq("url_canon"))
      .withColumn("keep", col(idCol) === col("__keeper"))
      .select(col(idCol), col(urlCol), col("url_canon"),
        col("group_size"), col("keep"))
  }

  def redactPii(df: DataFrame, textCol: String): DataFrame =
    df.withColumn("n_emails", regexp_count(col(textCol), lit(PiiEmail)))
      .withColumn("__t1", regexp_replace(col(textCol), PiiEmail, "<EMAIL>"))
      .withColumn("n_ipv4", regexp_count(col("__t1"), lit(PiiIpv4)))
      .withColumn("__t2", regexp_replace(col("__t1"), PiiIpv4, "<IP>"))
      .withColumn("n_idruns", regexp_count(col("__t2"), lit(PiiIdRun)))
      .withColumn(textCol, regexp_replace(col("__t2"), PiiIdRun, "<ID>"))
      .drop("__t1", "__t2")

  /** WITHIN-doc duplicate-line removal — the APPLY side of
    * [[dupLineStats]] (t36 measures what this deletes) and the
    * in-document half of Gopher-style repetition cleanup: a line that
    * repeats inside one document keeps its first occurrence only;
    * blank lines are layout and survive everywhere (the same
    * exclusion dupLineStats counts by). Unlike [[lineDedup]]'s
    * corpus-wide canon join, first-occurrence here is one
    * (doc, line)-keyed min-struct AGGREGATE — no window, no join, no
    * global hot keys (the d19 skew principle): a boilerplate line
    * repeated across a million docs is a million separate group keys,
    * never one. Output shape matches [[lineDedup]]. */
  def lineDedupWithinDoc(df: DataFrame, idCol: String,
                         textCol: String): DataFrame = {
    val lines = df.select(col(idCol).as("doc_id"),
      posexplode(split(col(textCol), "\n", -1)).as(Seq("pos", "ln")))
    val keptNb = lines.filter(trim(col("ln")) =!= "")
      .groupBy(col("doc_id"), md5(col("ln")).as("__h"))
      .agg(min(struct(col("pos"), col("ln"))).as("c"))
      .select(col("doc_id"), col("c.pos").as("pos"), col("c.ln").as("ln"))
    val kept = keptNb.unionByName(
      lines.filter(trim(col("ln")) === "").select("doc_id", "pos", "ln"))
    val reb = kept.groupBy("doc_id").agg(
      count(lit(1)).as("__nk"),
      array_join(transform(
        array_sort(collect_list(struct(col("pos"), col("ln")))),
        x => x.getField("ln")), "\n").as("__clean"))
    df.select(col(idCol).as("doc_id"),
        size(split(col(textCol), "\n", -1)).cast("long").as("n_lines"))
      .join(reb, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_lines"),
        coalesce(col("__nk"), lit(0L)).as("n_kept"),
        coalesce(col("__clean"), lit("")).as("text_clean"))
  }

  /** Hot-key audit — the diagnostic that decides WHEN the q6 salting
    * treatment (or AQE skew join) is worth its cost: per-key counts,
    * the top `topN` keys with their corpus share, and each key's
    * multiple of the mean key load. One keyed aggregate + a
    * driver-bounded top-N against a broadcast 1-row stats frame; the
    * audited frame never shuffles twice. Null keys count as a real
    * key (they are precisely the hot key a null-heavy join explodes
    * on). */
  def skewAudit(df: DataFrame, keyCol: String, topN: Int): DataFrame = {
    require(topN >= 1, s"topN $topN must be >= 1")
    val counts = df.groupBy(col(keyCol).as("key"))
      .agg(count(lit(1)).as("n"))
    val stats = counts.agg(sum("n").as("__total"),
      count(lit(1)).as("__nkeys"))
    counts.orderBy(desc("n"), asc("key")).limit(topN)
      .crossJoin(broadcast(stats))
      .select(col("key"), col("n"),
        round(col("n") / col("__total"), 6).as("share"),
        round(col("n") * col("__nkeys") / col("__total"), 4)
          .as("x_mean_key"))
      // Terminal sort: the pre-limit orderBy bounds the rows but the
      // crossJoin+select above it would otherwise leave row ORDER to
      // physical-plan order preservation — make it contractual.
      .orderBy(desc("n"), asc("key"))
  }

  /** Corpus snapshot diff: per-doc status (added / removed / changed /
    * unchanged) between two snapshot versions — the delta computation
    * that FEEDS every incremental maintainer in this library (changed/
    * added rows → v17 index upsert + i2 posting upsert; removed rows →
    * v18 tombstone compaction + i3 posting delete). Content equality
    * is md5(text), so the full-outer join ships (id, hash) pairs only
    * — payloads never cross the exchange (the d1 principle) and the
    * one shuffle is keyed on the id. */
  def snapshotDiff(a: DataFrame, b: DataFrame,
                   idCol: String, textCol: String): DataFrame = {
    val ah = a.select(col(idCol).as(idCol), md5(col(textCol)).as("__ha"))
    val bh = b.select(col(idCol).as(idCol), md5(col(textCol)).as("__hb"))
    ah.join(bh, Seq(idCol), "full_outer")
      .select(col(idCol),
        when(col("__ha").isNull, lit("added"))
          .when(col("__hb").isNull, lit("removed"))
          .when(col("__ha") =!= col("__hb"), lit("changed"))
          .otherwise(lit("unchanged")).as("status"))
  }
}
