package graft

import graft.operators.Curation
import org.apache.spark.sql.functions._

/** Curation operators vs brute-force recomputation on small corpora. */
class CurationSpec extends SparkSpec {
  import spark.implicits._

  private def docs = Seq(
    (0L, "a b a b a b a b"),              // one bigram dominates
    (1L, "x y z w v u t s r q"),          // all grams unique
    (2L, "p q r p q r p q r"),            // repeated trigram
    (3L, ""),                             // empty
    (4L, "solo"),                         // 1 word: no grams at all
    (5L, "two words")                     // bigram exists, no trigram
  ).toDF("doc_id", "text")

  test("repetitionStats matches hand-computed fractions and keeps every doc") {
    val r = Curation.repetitionStats(docs, "doc_id", "text")
      .orderBy("doc_id")
      .select("doc_id", "top2_frac", "dup3_frac", "keep")
      .as[(Long, Double, Double, Boolean)].collect().toSeq
    assert(r.map(_._1) == Seq(0L, 1L, 2L, 3L, 4L, 5L))
    // doc 0: bigrams = [ab,ba,ab,ba,ab,ba,ab] → top "a b"=4/7;
    // trigrams = [aba,bab]×alternating over 6 → all duplicated
    assert(math.abs(r(0)._2 - 4.0 / 7) < 1e-6)
    assert(r(0)._3 == 1.0 && !r(0)._4)
    // doc 1: nothing repeats → top2 = 1/9, dup3 = 0, kept
    assert(math.abs(r(1)._2 - 1.0 / 9) < 1e-6 && r(1)._3 == 0.0 && r(1)._4)
    // doc 2: "p q r ..." trigram pqr ×3 of 7 + qrp ×2 + rpq ×2 → dup3 = 1
    assert(r(2)._3 == 1.0 && !r(2)._4)
    // degenerate docs: fractions 0, kept
    Seq(r(3), r(4)).foreach { x => assert(x._2 == 0.0 && x._3 == 0.0 && x._4) }
    // doc 5: one bigram occurrence → top2 = 1.0 > 0.18 → rejected
    assert(r(5)._2 == 1.0 && !r(5)._4)
  }

  test("dupLineStats: within-doc line dedup fractions, blanks excluded, zero fill") {
    val df = Seq(
      (0L, "aaa\nbbb\naaa\n\n  \naaa"),  // aaa×3 + bbb → 2/4 dup lines, 6/12 dup chars
      (1L, "xx\nyy\nzz"),                 // nothing repeats
      (2L, ""),                           // no nonempty lines → zeros
      (3L, "unique\nun\nunique")          // unique×2, un → 1/3, 6/14
    ).toDF("doc_id", "text")
    val r = Curation.dupLineStats(df, "doc_id", "text")
      .orderBy("doc_id")
      .as[(Long, Long, Double, Double)].collect().toSeq
    assert(r == Seq(
      (0L, 4L, 0.5, 0.5),
      (1L, 3L, 0.0, 0.0),
      (2L, 0L, 0.0, 0.0),
      (3L, 3L, round6(1.0 / 3), round6(6.0 / 14))))
  }

  private def round6(x: Double): Double =
    math.rint(x * 1e6) / 1e6

  test("ngramsFast equals the expression-form ngrams") {
    val texts = Seq("", " padded  text ", "a", "a b", "a b c d e f",
      "tab\tand\nnewline separated words here").zipWithIndex
      .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    Seq(1, 2, 3).foreach { k =>
      val slow = texts.select(col("doc_id"), Curation.ngrams(col("text"), k).as("g"))
        .as[(Long, Seq[String])].collect().toMap
      val fast = texts.select(col("doc_id"), Curation.ngramsFast(col("text"), k).as("g"))
        .as[(Long, Seq[String])].collect().toMap
      assert(fast == slow, s"k=$k")
    }
  }

  test("hashSplit is deterministic, total-preserving, and roughly proportioned") {
    val ids = (0L until 2000L).toDF("doc_id")
    val a = Curation.hashSplit(ids, "doc_id").groupBy("split").count()
      .as[(String, Long)].collect().toMap
    val b = Curation.hashSplit(ids.repartition(7), "doc_id").groupBy("split").count()
      .as[(String, Long)].collect().toMap
    assert(a == b, "split must not depend on partition layout")
    assert(a.values.sum == 2000)
    assert(a("train") > 1400 && a("train") < 1800)
    assert(a("valid") > 100 && a("test") > 100)
  }

  test("a doc keeps its split when the corpus grows") {
    val small = Curation.hashSplit((0L until 100L).toDF("doc_id"), "doc_id")
      .as[(Long, String)].collect().toMap
    val big = Curation.hashSplit((0L until 1000L).toDF("doc_id"), "doc_id")
      .as[(Long, String)].collect().toMap
    small.foreach { case (id, s) => assert(big(id) == s) }
  }

  test("mixtureSample rates: 1.0 keeps all, 0.0 keeps none, others in between") {
    val df = (0L until 1000L).map(i => (i, if (i % 2 == 0) "a" else "b"))
      .toDF("doc_id", "g")
    val kept = Curation.mixtureSample(df, "doc_id", "g",
        Map("a" -> 1.0, "b" -> 0.0))
      .groupBy("g").count().as[(String, Long)].collect().toMap
    assert(kept.getOrElse("a", 0L) == 500 && !kept.contains("b"))
    val half = Curation.mixtureSample(df, "doc_id", "g", Map("a" -> 0.5, "b" -> 0.5))
      .count()
    assert(half > 350 && half < 650)
    // unlisted groups keep everything
    val dfl = Curation.mixtureSample(df, "doc_id", "g", Map("a" -> 0.0))
      .groupBy("g").count().as[(String, Long)].collect().toMap
    assert(dfl("b") == 500 && !dfl.contains("a"))
  }

  test("groupCap keeps at most cap rows per group, best score first, id tie-break") {
    val df = Seq(
      (1L, "a", 0.9), (2L, "a", 0.9), (3L, "a", 0.5), (4L, "a", 0.7),
      (5L, "b", 0.1), (6L, "b", 0.2)).toDF("id", "src", "score")
    val got = Curation.groupCap(df, "id", "src", "score", cap = 2)
      .select("id", "grp_rank", "keep")
      .collect().map(r => r.getLong(0) -> (r.getInt(1), r.getBoolean(2))).toMap
    // group a: 0.9@1 beats 0.9@2 on id; 0.7@4 third (dropped), 0.5@3 fourth
    assert(got(1L) == ((1, true)) && got(2L) == ((2, true)))
    assert(got(4L) == ((3, false)) && got(3L) == ((4, false)))
    // group b has 2 rows, both kept
    assert(got(6L) == ((1, true)) && got(5L) == ((2, true)))
  }

  test("duplicateSpans finds maximal shared token runs with correct positions") {
    val df = Seq(
      (0L, "a b c d e f g h i j"),
      (1L, "x x c d e f g h i j"),   // shares c..j (8 tokens) from pos 3/3
      (2L, "a b c d e f q r s t")    // shares a..f (6 tokens) with doc 0
    ).toDF("doc_id", "text")
    val got = Curation.duplicateSpans(df, "doc_id", "text", k = 3, minTokens = 5)
      .orderBy("doc_a", "doc_b")
      .as[(Long, Long, Int, Int, Long)].collect().toSeq
    assert(got == Seq((0L, 1L, 3, 3, 8L), (0L, 2L, 1, 1, 6L)))
  }

  test("duplicateSpans maxGramDf drops ubiquitous grams and shortens spans") {
    val df = Seq(
      (0L, "a b c d e f g h i j"),
      (1L, "x x c d e f g h i j"),
      (2L, "a b c d e f q r s t")
    ).toDF("doc_id", "text")
    // "c d e" / "d e f" occur in all 3 docs → dropped at cap 2; the
    // (0,1) span restarts at "e f g" → 6 tokens from pos 5/5
    val got = Curation.duplicateSpans(df, "doc_id", "text", k = 3,
        minTokens = 5, maxGramDf = 2)
      .orderBy("doc_a", "doc_b")
      .as[(Long, Long, Int, Int, Long)].collect().toSeq
    assert(got == Seq((0L, 1L, 5, 5, 6L)))
  }

  test("duplicateSpans: in-doc repeats, df = maxGramDf kept, df = maxGramDf + 1 and df 1 dropped") {
    val df = Seq(
      (0L, "p q p q z0"),  // "p q" twice in one doc; "q p", "q z0": df 1
      (1L, "p q y1"),
      (2L, "k m a2"),      // "k m": df 3 = maxGramDf, kept
      (3L, "b3 k m"),
      (4L, "k m"),
      (5L, "d e"),         // "d e": df 4 = maxGramDf + 1, dropped
      (6L, "d e"),
      (7L, "d e"),
      (8L, "d e")
    ).toDF("doc_id", "text")
    val got = Curation.duplicateSpans(df, "doc_id", "text", k = 2,
        minTokens = 2, maxGramDf = 3)
      .orderBy("doc_a", "doc_b", "start_a", "start_b")
      .as[(Long, Long, Int, Int, Long)].collect().toSeq
    // each occurrence of "p q" in doc 0 pairs with doc 1's; the two
    // occurrences never pair with each other
    assert(got == Seq((0L, 1L, 1, 1, 2L), (0L, 1L, 3, 1, 2L),
      (2L, 3L, 1, 2, 2L), (2L, 4L, 1, 1, 2L), (3L, 4L, 2, 1, 2L)))
  }

  test("removeDuplicateSpans cuts doc_b's span keep-first, keeps others byte-identical") {
    val df = Seq(
      (0L, "a b c d e f g h i j"),
      (1L, "x x c d e f g h i j"),   // shares c..j (8 tokens) at pos 3..10
      (2L, "k l m  n o")             // untouched; double space preserved
    ).toDF("doc_id", "text")
    val got = Curation.removeDuplicateSpans(df, "doc_id", "text",
        k = 3, minTokens = 8)
      .orderBy("doc_id")
      .as[(Long, String, Long)].collect().toSeq
    assert(got == Seq(
      (0L, "a b c d e f g h i j", 0L),  // doc_a keeps the surviving copy
      (1L, "x x", 8L),                  // tokens 3..10 cut, rest re-joined
      (2L, "k l m  n o", 0L)))          // untouched text byte-identical
  }

  test("removeDuplicateSpans merges overlapping intervals and empties a fully-covered doc") {
    val df = Seq(
      (0L, "a b c d e f g h"),
      (1L, "c d e f g h i j"),
      (2L, "a b c d e f g h")          // doc 2 ≡ doc 0: whole doc covered
    ).toDF("doc_id", "text")
    // pairs: (0,2) full 8-token span; (0,1) spans c..h (6 < 8, dropped);
    // (1,2) likewise dropped — doc 2's single interval covers all 8 tokens
    val got = Curation.removeDuplicateSpans(df, "doc_id", "text",
        k = 3, minTokens = 8)
      .orderBy("doc_id")
      .as[(Long, String, Long)].collect().toSeq
    assert(got == Seq(
      (0L, "a b c d e f g h", 0L),
      (1L, "c d e f g h i j", 0L),
      (2L, "", 8L)))
  }

  test("removeDuplicateSpans evaluates each input row once") {
    val rows = spark.sparkContext.longAccumulator("span input rows")
    val touch = udf { (t: String) => rows.add(1); t }
    val df = Seq(
      (0L, "a b c d e f g h i j"),
      (1L, "x x c d e f g h i j"),
      (2L, "k l m n o")
    ).toDF("doc_id", "text").select(col("doc_id"), touch(col("text")).as("text"))
    val got = Curation.removeDuplicateSpans(df, "doc_id", "text",
      k = 3, minTokens = 8).collect()
    assert(got.length == 3)
    assert(rows.value == 3L, s"${rows.value} input rows evaluated for 3")
  }

  test("mixtureSample: weighted thresholds, weight-0 exclusion, nested in the budget") {
    val docs = (0L until 300L).map { i =>
      val src = if (i % 3 == 0) "a" else if (i % 3 == 1) "b" else "c"
      (i, src, s"tok ${"w " * 9}end") // 11 ws-tokens per doc
    }.toDF("doc_id", "source", "text")
    // equal corpus mass per source (100 docs × 11 tokens); weights
    // 2:1:0 at a 660-token budget → targets 440/220/0 vs totals 1100
    val got = Curation.mixtureSample(docs, "doc_id", "text", "source",
      weights = Map("a" -> 2.0, "c" -> 0.0), tokenBudget = 660L)
    val bySrc = got.groupBy("source")
      .agg(countDistinct("doc_id").as("n"), max("p_micro").as("p"))
      .as[(String, Long, Long)].collect().map(t => t._1 -> (t._2, t._3)).toMap
    // weight 0 excludes the source exactly
    assert(!bySrc.contains("c"))
    // thresholds are the arithmetic, not an approximation:
    // p(a) = floor(min(1, 660*(2/3)/1100)*1e6) = 400000; p(b) half that
    assert(bySrc("a")._2 == 400000L && bySrc("b")._2 == 200000L)
    // admission = hash prefix below the threshold, so the draw leans
    // toward p but is exact per doc; sanity-band the counts
    assert(bySrc("a")._1 > 20 && bySrc("a")._1 < 80)
    assert(bySrc("b")._1 > 5 && bySrc("b")._1 < 50)
    // every admitted doc really sits under its source's threshold
    val bad = got.filter(
      Curation.hashBucket(col("doc_id"), 1000000) >= col("p_micro")).count()
    assert(bad == 0)
    // NESTED: doubling the budget only ever ADDS docs
    val small = got.select("doc_id").as[Long].collect().toSet
    val big = Curation.mixtureSample(docs, "doc_id", "text", "source",
        weights = Map("a" -> 2.0, "c" -> 0.0), tokenBudget = 1320L)
      .select("doc_id").as[Long].collect().toSet
    assert(small.subsetOf(big) && big.size > small.size)
    // determinism: the same call yields the same set
    val again = Curation.mixtureSample(docs, "doc_id", "text", "source",
        weights = Map("a" -> 2.0, "c" -> 0.0), tokenBudget = 660L)
      .select("doc_id").as[Long].collect().toSet
    assert(again == small)
  }

  test("redactPii: typed tags, per-stage counts, byte-identity for clean docs") {
    val df = Seq(
      (0L, "mail me at a.user+x@sub.example.org or b@c.io thanks"),
      (1L, "server 192.168.1.250 and 10.0.0.1 are up"),
      (2L, "acct 123456789 ref 98765432100"),
      (3L, "clean doc  with double space and digits 12345678"), // 8 < 9
      (4L, "mixed x9876543210@bank.example.com then 1.2.3.4 then 555000111222")
    ).toDF("doc_id", "text")
    val got = Curation.redactPii(df, "text")
      .orderBy("doc_id")
      .as[(Long, String, Int, Int, Int)].collect().toSeq
    assert(got(0) == ((0L, "mail me at <EMAIL> or <EMAIL> thanks", 2, 0, 0)))
    assert(got(1) == ((1L, "server <IP> and <IP> are up", 0, 2, 0)))
    assert(got(2) == ((2L, "acct <ID> ref <ID>", 0, 0, 2)))
    // untouched doc: byte-identical text (double space preserved), all zero
    assert(got(3) == ((3L, "clean doc  with double space and digits 12345678", 0, 0, 0)))
    // the digit run INSIDE the email is consumed by the email stage —
    // redacted once, counted once, never double-tagged
    assert(got(4) == ((4L, "mixed <EMAIL> then <IP> then <ID>", 1, 1, 1)))
  }

  test("contamination equals a brute-force distinct-shingle intersection") {
    val train = Seq(
      (10L, "the quick brown fox jumps over the lazy dog"),
      (11L, "nothing in common with anything here at all"),
      (12L, "quick brown fox and also the lazy dog sleeps")).toDF("doc_id", "text")
    val eval = Seq(
      (0L, "the quick brown fox jumps high"),
      (1L, "completely disjoint benchmark sentence tokens")).toDF("doc_id", "text")
    val got = Curation.contamination(train, eval, "doc_id", "text",
        k = 3, minShared = 1)
      .orderBy("train_doc", "eval_doc")
      .as[(Long, Long, Long, Double)].collect().toSeq

    def sh(t: String, k: Int) =
      t.split(" ").sliding(k).map(_.mkString(" ")).toSet
    val want = for {
      (tid, tt) <- Seq((10L, "the quick brown fox jumps over the lazy dog"),
        (11L, "nothing in common with anything here at all"),
        (12L, "quick brown fox and also the lazy dog sleeps"))
      (eid, et) <- Seq((0L, "the quick brown fox jumps high"),
        (1L, "completely disjoint benchmark sentence tokens"))
      shared = (sh(tt, 3) intersect sh(et, 3)).size if shared >= 1
    } yield (tid, eid, shared.toLong,
      BigDecimal(shared.toDouble / sh(tt, 3).size)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    assert(got == want.sortBy(p => (p._1, p._2)))
  }

  test("distributionDrift: identical corpora → 0; disjoint → ln(2); hand case checks") {
    val a = Seq((1L, "x x y"), (2L, "y z")).toDF("doc_id", "text")
    // identical distributions → every contribution 0, total 0
    val same = Curation.distributionDrift(a, a, "text")
      .select("js_contrib", "js_total").as[(Double, Double)].collect()
    assert(same.forall(r => r._1 == 0.0 && r._2 == 0.0))
    // disjoint vocabularies → JS = ln 2 (max for natural-log JS)
    val b = Seq((3L, "p q"), (4L, "q r")).toDF("doc_id", "text")
    val disjoint = Curation.distributionDrift(a, b, "text")
      .select("js_total").as[Double].head()
    assert(math.abs(disjoint - math.log(2)) < 1e-4)
    // hand-computed asymmetric case: a = {x: 1}, b = {x: ½, y: ½}
    val ha = Seq((1L, "x x")).toDF("doc_id", "text")
    val hb = Seq((2L, "x y")).toDF("doc_id", "text")
    val got = Curation.distributionDrift(ha, hb, "text")
      .orderBy("word").select("word", "p_a", "p_b", "js_contrib")
      .as[(String, Double, Double, Double)].collect().toSeq
    def r6(v: Double) = BigDecimal(v).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    // m(x) = 0.75, m(y) = 0.25
    val cx = r6(1.0 * math.log(1.0 / 0.75) / 2 + 0.5 * math.log(0.5 / 0.75) / 2)
    val cy = r6(0.5 * math.log(0.5 / 0.25) / 2)
    assert(got == Seq(("x", 1.0, 0.5, cx), ("y", 0.0, 0.5, cy)))
    // an empty side is undefined — loud failure, not null probabilities
    val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")
    val e = intercept[Exception] {
      Curation.distributionDrift(a, empty, "text").collect()
    }
    assert(e.getMessage.contains("distributionDrift"), e.getMessage)
    // BOTH sides empty must also be loud (driver-side totals guard —
    // a per-row guard has no rows to evaluate on in this case)
    val ee = intercept[Exception] {
      Curation.distributionDrift(empty, empty, "text").collect()
    }
    assert(ee.getMessage.contains("distributionDrift"), ee.getMessage)
  }

  test("keyedDrift invariants: js_total in [0, ln 2], symmetric, property-tested") {
    import org.scalacheck.Gen
    // random keyed observation multisets over a small alphabet; both
    // sides non-empty (the guarded domain)
    val side = Gen.nonEmptyListOf(Gen.chooseNum(0, 6))
    PropHelper.forAll(Gen.zip(side, side), n = 15) { case (xs, ys) =>
      val a = xs.map(k => Tuple1(s"k$k")).toDF("key")
      val b = ys.map(k => Tuple1(s"k$k")).toDF("key")
      val ab = Curation.keyedDrift(a, b, "key")
        .select("js_total").as[Double].head()
      val ba = Curation.keyedDrift(b, a, "key")
        .select("js_total").as[Double].head()
      // JS with natural log is bounded by ln 2; 4dp rounding slack
      assert(ab >= 0.0 && ab <= math.log(2) + 1e-4, s"js_total $ab out of range")
      assert(ab == ba, s"JS must be symmetric: $ab != $ba")
    }
  }

  test("decontaminate: manifest is total, taints on any pairing, reports worst hit") {
    val train = Seq(
      (10L, "the quick brown fox jumps over the lazy dog"),
      (11L, "nothing in common with anything here at all"),
      (12L, "quick brown fox and also the lazy dog sleeps")).toDF("doc_id", "text")
    val eval = Seq(
      (0L, "the quick brown fox jumps high"),
      (1L, "completely disjoint benchmark sentence tokens")).toDF("doc_id", "text")
    val got = Curation.decontaminate(train, eval, "doc_id", "text",
        k = 3, minShared = 1)
      .orderBy("doc_id")
      .as[(Long, Long, Boolean)].collect().toSeq
    // 10 shares "the quick brown"/"quick brown fox"/"brown fox jumps"
    // with eval 0 → worst hit 3; 12 shares "quick brown fox" → 1;
    // 11 shares nothing → kept, present with 0
    assert(got == Seq((10L, 3L, false), (11L, 0L, true), (12L, 1L, false)))
    // raising minShared above 12's overlap keeps it
    val strict = Curation.decontaminate(train, eval, "doc_id", "text",
        k = 3, minShared = 2)
      .orderBy("doc_id")
      .as[(Long, Long, Boolean)].collect().toSeq
    assert(strict == Seq((10L, 3L, false), (11L, 0L, true), (12L, 0L, true)))
  }

  test("cmsFrequencyAudit: exact counts match brute force, bound holds, absent key 0") {
    val keys = Seq("a", "a", "a", "b", "b", "c").toDF("k")
    val probes = Seq("a", "b", "zzz_absent").toDF("k")
    val r = Curation.cmsFrequencyAudit(keys, "k", probes,
        eps = 0.01, confidence = 0.99, seed = 7)
      .orderBy("k").as[(String, Long, Boolean)].collect().toSeq
    // c is NOT probed — audit is probe-bounded by construction
    assert(r == Seq(("a", 3L, true), ("b", 2L, true), ("zzz_absent", 0L, true)))
  }

  test("cmsBoundOk is a live two-sided comparison") {
    assert(Curation.cmsBoundOk(est = 10, exact = 10, slack = 0.0))
    assert(Curation.cmsBoundOk(est = 12, exact = 10, slack = 2.0))
    // over the collision bound → false
    assert(!Curation.cmsBoundOk(est = 13, exact = 10, slack = 2.0))
    // under-count (impossible for a real no-deletion CMS) → false
    assert(!Curation.cmsBoundOk(est = 9, exact = 10, slack = 5.0))
  }

  test("cmsFrequencyAudit rejects degenerate parameters and empty probes loudly") {
    val keys = Seq("a").toDF("k")
    val probes = Seq("a").toDF("k")
    val none = Seq.empty[String].toDF("k")
    assert(intercept[IllegalArgumentException] {
      Curation.cmsFrequencyAudit(keys, "k", none, 0.01, 0.99, 1)
    }.getMessage.contains("empty"))
    assert(intercept[IllegalArgumentException] {
      Curation.cmsFrequencyAudit(keys, "k", probes, 0.0, 0.99, 1)
    }.getMessage.contains("eps"))
    assert(intercept[IllegalArgumentException] {
      Curation.cmsFrequencyAudit(keys, "k", probes, 0.01, 1.0, 1)
    }.getMessage.contains("confidence"))
  }

  test("lineDedup: keep-first across docs, intra-doc repeats cut, blanks preserved") {
    val corpus = Seq(
      (1L, "header\nunique one\nheader\nbody A"), // intra-doc repeat of header
      (2L, "header\n\nbody B"),                   // header dup'd from doc 1; blank kept
      (3L, "body C\nbody C\nbody C"),             // all-same lines: first survives
      (4L, "totally unique\nlines here"),         // untouched → byte-identical
      (5L, "header\nbody A")                      // everything seen before → empty
    ).toDF("doc_id", "text")
    val r = Curation.lineDedup(corpus, "doc_id", "text").orderBy("doc_id")
      .as[(Long, Long, Long, String)].collect().toSeq
    assert(r == Seq(
      (1L, 4L, 3L, "header\nunique one\nbody A"),
      (2L, 3L, 2L, "\nbody B"),
      (3L, 3L, 1L, "body C"),
      (4L, 2L, 2L, "totally unique\nlines here"),
      (5L, 2L, 0L, "")))
    // whitespace-only lines are structure: never dedup'd, never canonical
    val ws = Seq((1L, "a\n \nb"), (2L, " \nc\n ")).toDF("doc_id", "text")
    val r2 = Curation.lineDedup(ws, "doc_id", "text").orderBy("doc_id")
      .as[(Long, Long, Long, String)].collect().toSeq
    assert(r2 == Seq((1L, 3L, 3L, "a\n \nb"), (2L, 3L, 3L, " \nc\n ")))
  }

  test("semanticDecontaminate: exact copy dropped, orthogonal kept, null/zero kept") {
    val train: org.apache.spark.sql.DataFrame = Seq(
      (0L, Some(Seq(1.0, 0.0, 0.0))),   // verbatim eval copy → cos 1
      (1L, Some(Seq(0.0, 1.0, 0.0))),   // orthogonal to both evals → 0
      (2L, Some(Seq(0.6, 0.0, 0.8))),   // 0.6 vs e100, 0.8 vs e101 → max 0.8
      (3L, None),                       // null embedding → kept, null max
      (4L, Some(Seq(0.0, 0.0, 0.0)))    // zero norm → cos 0 by contract
    ).toDF("id", "emb")
    val eval = Seq(
      (100L, Seq(1.0, 0.0, 0.0)),
      (101L, Seq(0.0, 0.0, 1.0))).toDF("id", "emb")
    val r = Curation.semanticDecontaminate(train, eval, "id", "emb", 0.7)
      .orderBy("doc_id")
      .as[(Long, Option[Double], Boolean)].collect().toSeq
    assert(r.map(_._1) == Seq(0L, 1L, 2L, 3L, 4L))
    assert(r(0)._2.contains(1.0) && !r(0)._3)
    assert(r(1)._2.contains(0.0) && r(1)._3)
    assert(r(2)._2.exists(c => math.abs(c - 0.8) < 1e-12) && !r(2)._3)
    assert(r(3)._2.isEmpty && r(3)._3)
    assert(r(4)._2.contains(0.0) && r(4)._3)
    // verdict boundary is strict: max exactly AT the threshold drops
    val at = Curation.semanticDecontaminate(train, eval, "id", "emb", 0.8)
      .filter(col("doc_id") === 2L)
      .as[(Long, Option[Double], Boolean)].collect().head
    assert(!at._3, "cos_max == threshold must drop (keep is cos_max < tau)")
  }

  test("semanticDecontaminate: empty eval, dim mismatch, bad threshold fail loudly") {
    val train = Seq((0L, Seq(1.0, 0.0))).toDF("id", "emb")
    val emptyEval = Seq.empty[(Long, Seq[Double])].toDF("id", "emb")
    val e1 = intercept[IllegalArgumentException] {
      Curation.semanticDecontaminate(train, emptyEval, "id", "emb", 0.5)
    }
    assert(e1.getMessage.contains("empty"))
    val shortEval = Seq((100L, Seq(1.0, 0.0, 0.0))).toDF("id", "emb")
    val e2 = intercept[Exception] {
      Curation.semanticDecontaminate(train, shortEval, "id", "emb", 0.5).collect()
    }
    assert(e2.getMessage.contains("dim") || e2.getCause != null)
    val e3 = intercept[IllegalArgumentException] {
      Curation.semanticDecontaminate(train, shortEval, "id", "emb", 1.5)
    }
    assert(e3.getMessage.contains("threshold"))
  }

  test("contaminationBloom equals contamination for any fpp (FPs die in the join)") {
    val train = Seq(
      (10L, "the quick brown fox jumps over the lazy dog"),
      (11L, "nothing in common with anything here at all"),
      (12L, "quick brown fox and also the lazy dog sleeps")).toDF("doc_id", "text")
    val eval = Seq(
      (0L, "the quick brown fox jumps high"),
      (1L, "completely disjoint benchmark sentence tokens")).toDF("doc_id", "text")
    val want = Curation.contamination(train, eval, "doc_id", "text",
        k = 3, minShared = 1)
      .orderBy("train_doc", "eval_doc")
      .as[(Long, Long, Long, Double)].collect().toSeq
    // fpp 0.5 forces a tiny, collision-happy filter: exactness must hold
    Seq(0.01, 0.5).foreach { fpp =>
      val got = Curation.contaminationBloom(train, eval, "doc_id", "text",
          k = 3, minShared = 1, fpp = fpp)
        .orderBy("train_doc", "eval_doc")
        .as[(Long, Long, Long, Double)].collect().toSeq
      assert(got == want, s"fpp=$fpp")
    }
  }

  test("distinctAudit: exact counts match brute force, hll_ok within tolerance") {
    // 3 sources with known duplicate structure: src a has 50 rows over
    // 20 distinct values, b 30 over 30, c 5 over 1
    val rows = (0 until 50).map(i => ("a", s"text-${i % 20}")) ++
      (0 until 30).map(i => ("b", s"unique-$i")) ++
      (0 until 5).map(_ => ("c", "same"))
    val df = rows.toDF("source", "text")
    val got = Curation.distinctAudit(df, "source", "text")
      .orderBy("source")
      .as[(String, Long, Long, Boolean)].collect().toSeq
    assert(got == Seq(("a", 50L, 20L, true), ("b", 30L, 30L, true),
      ("c", 5L, 1L, true)))
  }

  test("distinctAudit: hll_ok goes false when the tolerance is impossibly tight") {
    // HLL at max rsd on 500 distinct values will not be EXACT; a
    // near-zero tolerance must flip the bound column rather than pass
    // silently — proving hll_ok is a live comparison, not a constant
    val df = (0 until 500).map(i => ("a", s"v$i")).toDF("source", "text")
    val audit = Curation.distinctAudit(df, "source", "text",
      rsd = 0.39, tol = 1e-9)
    val r = audit.as[(String, Long, Long, Boolean)].head()
    assert(r._2 == 500L && r._3 == 500L)
    assert(!r._4, "rsd=0.39 estimate should not be exact on 500 distincts")
  }

  test("quantileAudit: exact quantiles match R-7 interpolation, gk_ok true") {
    // 1..1000 uniform: percentile(p) = 1 + p*999 exactly
    val df = (1 to 1000).map(i => Tuple1(i.toLong)).toDF("v")
    val got = Curation.quantileAudit(df, "v", Seq(0.1, 0.5, 0.9))
      .orderBy("p").as[(Double, Double, Boolean)].collect().toSeq
    assert(got == Seq((0.1, 100.9, true), (0.5, 500.5, true), (0.9, 900.1, true)))
  }

  test("quantileAudit: rank interval absorbs heavy ties") {
    // 90% of the mass is one value: the sketch must return it for any
    // p inside the tie block, and the rank INTERVAL (not a point CDF)
    // is what keeps the bound true
    val df = (Seq.fill(900)(42L) ++ (1 to 100).map(_.toLong + 1000))
      .map(Tuple1(_)).toDF("v")
    val got = Curation.quantileAudit(df, "v", Seq(0.2, 0.5, 0.89))
      .as[(Double, Double, Boolean)].collect().toSeq
    assert(got.forall(_._3), s"tie block broke the rank bound: $got")
  }

  test("rankBoundOk is a live two-sided comparison") {
    // interval intersects [p±eps] → ok
    assert(Curation.rankBoundOk(0.48, 0.52, 0.5, 0.01))
    // whole interval above p+eps → reject (sketch value ranks too high)
    assert(!Curation.rankBoundOk(0.60, 0.95, 0.5, 0.01))
    // whole interval below p−eps → reject (ranks too low)
    assert(!Curation.rankBoundOk(0.10, 0.45, 0.5, 0.01))
    // tie block spanning p entirely → ok (lo below, hi above)
    assert(Curation.rankBoundOk(0.10, 0.95, 0.5, 0.01))
  }

  test("quantileAudit rejects degenerate parameters and empty input loudly") {
    val df = Seq(Tuple1(1L)).toDF("v")
    intercept[IllegalArgumentException] {
      Curation.quantileAudit(df, "v", Seq.empty)
    }
    intercept[IllegalArgumentException] {
      Curation.quantileAudit(df, "v", Seq(0.0))
    }
    intercept[IllegalArgumentException] {
      Curation.quantileAudit(df, "v", Seq(0.5), accuracy = 5)
    }
    intercept[IllegalArgumentException] {
      Curation.quantileAudit(df, "v", Seq(0.5), slack = 0.0)
    }
    intercept[IllegalArgumentException] {
      Curation.quantileAudit(df.filter(col("v") > 100), "v", Seq(0.5))
    }
  }

  test("distinctAudit rejects degenerate rsd and tol loudly") {
    val df = Seq(("a", "x")).toDF("source", "text")
    intercept[IllegalArgumentException] {
      Curation.distinctAudit(df, "source", "text", rsd = 0.0)
    }
    intercept[IllegalArgumentException] {
      Curation.distinctAudit(df, "source", "text", rsd = 0.5)
    }
    intercept[IllegalArgumentException] {
      Curation.distinctAudit(df, "source", "text", tol = 0.0)
    }
  }

  test("gopherFilter: every rule has a pass and a fail witness") {
    val good = "the quick brown fox jumps over the lazy dog and then " +
      "runs off to the forest with great speed that nobody " +
      "could have expected from such a small animal at all " +
      "because everyone knows foxes prefer napping under trees all day long"
    val corpus = Seq(
      (0L, good),                                  // passes everything
      (1L, "too short to keep"),                   // fails word count (min)
      (2L, good.replaceAll("[a-z]+", "a")),        // mean word len 1 → fails
      (3L, ("# " * 60) + good),                    // symbol ratio > 0.1
      (4L, "- one\n- two\n- three\n- four"),       // 100% bullets
      (5L, good + "\nfirst cut...\nsecond cut…"),  // 2/3 ellipsis lines
      (6L, ("123 " * 60).trim),                    // no alphabetic words
      (7L, good.replace("the", "xx").replace("to", "xx")
        .replace("and", "xx").replace("that", "xx").replace("have", "xx")
        .replace("with", "xx").replace("of", "xx")), // no stop words
      (8L, ""))                                    // empty: fails loudly as 0s
      .toDF("doc_id", "text")
    val r = Curation.gopherFilter(corpus, "doc_id", "text", minWords = 30)
      .orderBy("doc_id")
      .select("doc_id", "ok_words", "ok_word_len", "ok_symbol", "ok_bullet",
        "ok_ellipsis", "ok_alpha", "ok_stop", "keep")
      .as[(Long, Boolean, Boolean, Boolean, Boolean, Boolean, Boolean, Boolean, Boolean)]
      .collect().map { case (id, a, b, c, d2, e, f, g, k) =>
        id -> ((a, b, c, d2, e, f, g, k)) }.toMap
    assert(r(0L) == ((true, true, true, true, true, true, true, true)))
    assert(!r(1L)._1 && !r(1L)._8)
    assert(!r(2L)._2 && !r(2L)._8)
    assert(!r(3L)._3 && !r(3L)._8)
    assert(!r(4L)._4 && !r(4L)._8)
    assert(!r(5L)._5 && !r(5L)._8)
    assert(!r(6L)._6 && !r(6L)._8)
    assert(!r(7L)._7 && !r(7L)._8)
    // empty doc: all word-derived features 0, fails words+alpha+stop
    assert(!r(8L)._1 && !r(8L)._6 && !r(8L)._7 && !r(8L)._8)
  }

  test("gopherFilter: features are exact, stop hits count DISTINCT members") {
    val corpus = Seq(
      (1L, "the the the the"),      // 4 hits of ONE stop word → n_stop 1
      (2L, "the be to of and"),     // 5 distinct stop words
      (3L, "aa bbbb cc\n- x…"))     // mean len over 5 words; 1 bullet of 2
      .toDF("doc_id", "text")
    val r = Curation.gopherFilter(corpus, "doc_id", "text")
      .orderBy("doc_id")
      .select("doc_id", "n_words", "mean_word_len", "frac_bullet_lines",
        "frac_ellipsis_lines", "n_stop_hits")
      .as[(Long, Long, Double, Double, Double, Int)].collect().toSeq
    assert(r(0) == ((1L, 4L, 3.0, 0.0, 0.0, 1)))
    assert(r(1) == ((2L, 5L, 2.4, 0.0, 0.0, 5)))
    // doc 3: words = [aa, bbbb, cc, -, x…] → (2+4+2+1+2)/5 = 2.2;
    // lines = ["aa bbbb cc", "- x…"] → 1/2 bullets, 1/2 ellipsis
    assert(r(2) == ((3L, 5L, 2.2, 0.5, 0.5, 0)))
  }

  test("perplexityBuckets: hand-computed ppl, tercile split, explicit thresholds") {
    // freq: a=3, b=2, c=1, N=6 → ppl(d1)=exp(-ln(1/2))=2.0,
    // ppl(d2)=sqrt(2*3)=2.4495, ppl(d3)=sqrt(3*6)=4.2426
    val corpus = Seq(
      (1L, "a a"), (2L, "a b"), (3L, "b c")).toDF("doc_id", "text")
    val r = Curation.perplexityBuckets(corpus, "doc_id", "text")
      .orderBy("doc_id")
      .select("doc_id", "ppl", "bucket", "keep")
      .as[(Long, Double, String, Boolean)].collect().toSeq
    assert(r == Seq(
      (1L, 2.0, "head", true),
      (2L, 2.4495, "middle", true),
      (3L, 4.2426, "tail", false)))
    // explicit thresholds (the production/GK path): same scores,
    // caller-set cutpoints, no percentile aggregate in the plan
    val fixed = Curation.perplexityBuckets(corpus, "doc_id", "text",
      thresholds = Some((2.0, 2.5)))
    assert(!fixed.queryExecution.optimizedPlan.toString
      .toLowerCase.contains("percentile"))
    val rf = fixed.orderBy("doc_id").select("bucket")
      .as[String].collect().toSeq
    assert(rf == Seq("head", "middle", "tail"))
    intercept[IllegalArgumentException] {
      Curation.perplexityBuckets(corpus, "doc_id", "text",
        thresholds = Some((3.0, 2.0)))
    }
  }

  test("perplexityBuckets: buckets are contiguous in ppl order") {
    val corpus = (1L to 30L).map(i => (i, ("w" + i + " ") * i.toInt))
      .toDF("doc_id", "text")
    val r = Curation.perplexityBuckets(corpus, "doc_id", "text")
      .select("ppl", "bucket").as[(Double, String)].collect().toSeq
    val headMax = r.filter(_._2 == "head").map(_._1).max
    val midPpls = r.filter(_._2 == "middle").map(_._1)
    val tailMin = r.filter(_._2 == "tail").map(_._1).min
    assert(midPpls.nonEmpty && headMax <= midPpls.min && midPpls.max <= tailMin)
    // terciles: close to n/3 per bucket
    val sizes = r.groupBy(_._2).view.mapValues(_.size).toMap
    assert(sizes.values.forall(s => s >= 8 && s <= 12), sizes.toString)
  }

  test("canonicalizeUrl: each normalization step, malformed passthrough") {
    val cases = Seq(
      // case + www + default port + fragment + trailing slash
      ("HTTPS://WWW.Ex.COM:443/A/b/#frag", "https://ex.com/A/b"),
      ("http://ex.com:80/", "http://ex.com"),
      // tracking params stripped wherever they sit; real params survive
      ("https://ex.com/p?utm_source=x&id=2&utm_b=y", "https://ex.com/p?id=2"),
      ("https://ex.com/p?utm_a=1", "https://ex.com/p"),
      ("https://ex.com/p?id=2&ref=rss&page=3", "https://ex.com/p?id=2&page=3"),
      ("https://ex.com/p?fbclid=abc&gclid=def", "https://ex.com/p"),
      // path case preserved; non-default port preserved
      ("https://Ex.com:8080/CaseSensitive", "https://ex.com:8080/CaseSensitive"),
      // xref=1 is NOT the ref param — must survive
      ("https://ex.com/p?xref=1", "https://ex.com/p?xref=1"),
      // malformed: trimmed, otherwise untouched
      ("  not a url  ", "not a url"),
      ("ftp//missing.scheme/x", "ftp//missing.scheme/x"))
    val got = cases.map(_._1).toDF("url")
      .select(Curation.canonicalizeUrl(col("url")).as("c"))
      .as[String].collect().toSeq
    got.zip(cases).foreach { case (g, (in, want)) =>
      assert(g == want, s"canonicalizeUrl($in) = $g, want $want")
    }
  }

  test("urlDedup: keep-first by canonical URL, group sizes, noise collapses") {
    val rows = Seq(
      (1L, "https://ex.com/a?utm_source=x"),
      (2L, "HTTPS://WWW.EX.COM/a/"),          // same canon as 1
      (3L, "https://ex.com/a?page=2"),        // real param → own group
      (4L, "https://ex.com:443/a#frag"),      // same canon as 1
      (5L, "https://other.com/a"))
      .toDF("doc_id", "url")
    val r = Curation.urlDedup(rows, "doc_id", "url").orderBy("doc_id")
      .select("doc_id", "url_canon", "group_size", "keep")
      .as[(Long, String, Long, Boolean)].collect().toSeq
    assert(r == Seq(
      (1L, "https://ex.com/a", 3L, true),
      (2L, "https://ex.com/a", 3L, false),
      (3L, "https://ex.com/a?page=2", 1L, true),
      (4L, "https://ex.com/a", 3L, false),
      (5L, "https://other.com/a", 1L, true)))
  }

  test("gopherFilter rejects inverted word-count bounds loudly") {
    val df = Seq((1L, "a")).toDF("doc_id", "text")
    intercept[IllegalArgumentException] {
      Curation.gopherFilter(df, "doc_id", "text", minWords = 10, maxWords = 5)
    }
  }

  test("lineDedupWithinDoc: in-doc dups drop, cross-doc shared lines survive everywhere") {
    val docs = Seq(
      (1L, "alpha\nbeta\n\nalpha\ngamma"),   // alpha repeats IN-doc
      (2L, "alpha\ndelta"),                  // alpha again, other doc
      (3L, "\n\n"),                          // blanks only
      (4L, "solo")).toDF("doc_id", "text")
    val got = Curation.lineDedupWithinDoc(docs, "doc_id", "text")
      .orderBy("doc_id")
      .select("doc_id", "n_lines", "n_kept", "text_clean")
      .as[(Long, Long, Long, String)].collect().toSeq
    assert(got == Seq(
      (1L, 5L, 4L, "alpha\nbeta\n\ngamma"), // second alpha gone, blank kept
      (2L, 2L, 2L, "alpha\ndelta"),         // cross-doc repeat untouched
      (3L, 3L, 3L, "\n\n"),
      (4L, 1L, 1L, "solo")))
  }

  test("lineDedupWithinDoc is idempotent: cleaning a cleaned doc changes nothing") {
    val docs = Seq(
      (1L, "x\ny\nx\n\nx\nz\nz"),
      (2L, "a\na\na")).toDF("doc_id", "text")
    val once = Curation.lineDedupWithinDoc(docs, "doc_id", "text")
      .select(col("doc_id"), col("text_clean").as("text"))
    val twice = Curation.lineDedupWithinDoc(once, "doc_id", "text")
      .orderBy("doc_id").select("doc_id", "text_clean")
      .as[(Long, String)].collect().toSeq
    assert(twice == once.orderBy("doc_id")
      .as[(Long, String)].collect().toSeq)
  }

  test("stratifiedSplit: per-stratum proportions exact, deterministic, guards loud") {
    // 10 docs in stratum A → exactly 8/1/1; 3 docs in B → 2/0/1
    // (floor thresholds: (3*80)div100=2 train, (3*90)div100=2 → 0 valid)
    val docs = ((1 to 10).map(i => (i.toLong, "A")) ++
      (11 to 13).map(i => (i.toLong, "B"))).toDF("doc_id", "lang")
    val out = Curation.stratifiedSplit(docs, "doc_id", "lang")
    val counts = out.groupBy("lang", "split").count()
      .as[(String, String, Long)].collect().toSet
    assert(counts == Set(("A", "train", 8L), ("A", "valid", 1L),
      ("A", "test", 1L), ("B", "train", 2L), ("B", "test", 1L)))
    // deterministic: same assignment on re-run
    val a1 = out.orderBy("doc_id").as[(Long, String, String)].collect().toSeq
    val a2 = Curation.stratifiedSplit(docs, "doc_id", "lang")
      .orderBy("doc_id").as[(Long, String, String)].collect().toSeq
    assert(a1 == a2)
    intercept[IllegalArgumentException] {
      Curation.stratifiedSplit(docs, "doc_id", "lang", 90, 10)
    }
  }

  test("gramNovelty: unique vs shared trigrams, short docs absent") {
    val docs = Seq(
      (1L, "a b c d"),        // grams: "a b c", "b c d"
      (2L, "a b c x"),        // shares "a b c" with doc 1
      (3L, "z z"),            // < 3 words → absent
      (4L, "p q r")           // one gram, unique
    ).toDF("doc_id", "text")
    val out = Curation.gramNovelty(docs, "doc_id", "text", 3)
      .orderBy("doc_id").as[(Long, Long, Long, Double)].collect().toSeq
    assert(out == Seq(
      (1L, 2L, 1L, 0.5),   // "b c d" unique, "a b c" shared
      (2L, 2L, 1L, 0.5),
      (4L, 1L, 1L, 1.0)))
  }

  test("bpeMerges: hand-computed merges, freq weighting, residual convention") {
    // corpus: "low" x3, "lower" x1 → char pairs weighted by word freq:
    // (l,o)=4, (o,w)=4, (w,e)=1, (e,r)=1 → step1 ties (l o)/(o w) at 4,
    // pair-asc picks "l o". After merge: "lo w" x3+1 → step2 (lo,w)=4.
    // step3: "low e r" → (low,e)=1 ties (e,r)=1 → "e r" asc.
    val docs = Seq((1L, "low low low lower")).toDF("doc_id", "text")
    val out = Curation.bpeMerges(docs, "text", 3)
      .as[(Int, String, String, Long)].collect().toSeq.sortBy(_._1)
    assert(out == Seq(
      (1, "l o", "lo", 4L),
      (2, "lo w", "low", 4L),
      (3, "e r", "er", 1L)))
    // residual convention: merging (a,a) over "a a a a a" single-pass
    // leaves the middle symbol for a later step (engine-identical
    // replace semantics — the reason the whole loop is SQL-replayable)
    val rep = Seq((1L, "aaaaa")).toDF("doc_id", "text")
    val m = Curation.bpeMerges(rep, "text", 2)
      .as[(Int, String, String, Long)].collect().toSeq.sortBy(_._1)
    assert(m(0) == ((1, "a a", "aa", 4L)))   // 4 adjacent pairs counted
    // after single-pass apply: "aa a aa" → step2 ties (a,aa)/(aa,a) at 1
    assert(m(1) == ((2, "a aa", "aaa", 1L)))
  }

  test("bpeSegmentStats: learned merges compress, per-group exact counts") {
    val docs = Seq(
      (1L, "A", "low low low lower"),
      (2L, "B", "low")).toDF("doc_id", "grp", "text")
    val merges = Curation.bpeMerges(docs, "text", 2)
      .orderBy("step").as[(Int, String, String, Long)].collect()
      .map(r => (r._2, r._3)).toSeq
    // merges: (l o)->lo, (lo w)->low — "low" → 1 token, "lower" → 3
    val out = Curation.bpeSegmentStats(docs, "text", "grp", merges)
      .orderBy("grp").as[(String, Long, Long, Double)].collect().toSeq
    // A: 4 words: 3x"low"(3 sym → 1 tok) + "lower"(5 sym → 3 tok:
    // low e r); B: "low" (3 sym → 1 tok)
    assert(out == Seq(
      ("A", 14L, 6L, math.rint(6.0 / 14.0 * 1e6) / 1e6),
      ("B", 3L, 1L, math.rint(1.0 / 3.0 * 1e6) / 1e6)))
  }

  test("property: stratifiedSplit hits the integer-div quotas exactly for any stratum sizes") {
    import org.scalacheck.Gen
    PropHelper.forAll(Gen.listOfN(3, Gen.choose(1, 40)), n = 12) { sizes =>
      val docs = sizes.zipWithIndex.flatMap { case (sz, g) =>
        (0 until sz).map(i => (g * 1000L + i, s"g$g"))
      }.toDF("doc_id", "grp")
      val out = Curation.stratifiedSplit(docs, "doc_id", "grp")
        .groupBy("grp", "split").count()
        .as[(String, String, Long)].collect()
        .groupBy(_._1).view.mapValues(_.map(r => r._2 -> r._3).toMap).toMap
      sizes.zipWithIndex.foreach { case (sz, g) =>
        val m = out(s"g$g")
        val train = (sz * 80) / 100
        val valid = (sz * 90) / 100 - train
        val test = sz - train - valid
        assert(m.getOrElse("train", 0L) == train.toLong, s"sz=$sz $m")
        assert(m.getOrElse("valid", 0L) == valid.toLong, s"sz=$sz $m")
        assert(m.getOrElse("test", 0L) == test.toLong, s"sz=$sz $m")
      }
    }
  }

  test("skewAudit surfaces the hot key with share and mean-multiple; nulls count") {
    val rows = (Seq.fill(6)(Option(7L)) ++ Seq(Option(1L), Option(2L),
      Option.empty[Long], Option.empty[Long])).toDF("k")
    val got = Curation.skewAudit(rows, "k", topN = 2)
      .as[(Option[Long], Long, Double, Double)].collect().toSeq
    // 10 rows, 4 keys (incl null) -> mean 2.5
    assert(got == Seq(
      (Some(7L), 6L, 0.6, 2.4),
      (None, 2L, 0.2, 0.8)))
  }

  test("snapshotDiff: all four statuses, hashes not text across the join") {
    val a = Seq((1L, "same"), (2L, "old text"), (3L, "goes away"))
      .toDF("doc_id", "text")
    val b = Seq((1L, "same"), (2L, "new text"), (4L, "brand new"))
      .toDF("doc_id", "text")
    val got = Curation.snapshotDiff(a, b, "doc_id", "text")
      .orderBy("doc_id").as[(Long, String)].collect().toSeq
    assert(got == Seq((1L, "unchanged"), (2L, "changed"),
      (3L, "removed"), (4L, "added")))
    // the exchange ships md5 hashes, never the text payload: no text
    // column survives into the join plan (projection before exchange)
    val plan = Curation.snapshotDiff(a, b, "doc_id", "text")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("text#"), s"text crosses the exchange:\n$plan")
  }
}
