package graft

import org.apache.spark.sql.functions._

/** Automated plan-shape guards: the scale claims PLANS.md makes in
  * prose, asserted on the actual physical plans so a regression that
  * re-plans an operator into a scale anti-pattern fails CI instead of
  * waiting for a bench diff. Runs at sf0.001 — planning cost only
  * (plus the bounded driver-side collects some entries perform by
  * design). */
class PlanAuditSpec extends SparkSpec with ExecutedPlans {
  private val sf = "/root/testdata/sf0.001"

  test("no harness query plans a CartesianProduct (every cross join broadcasts)") {
    // The invariant behind every crossJoin in the codebase: the small
    // side is always broadcast(), so the planner must choose
    // BroadcastNestedLoopJoin, never CartesianProductExec — a
    // cartesian over two corpus-sized sides is the canonical
    // 100 TB-killer. Sweep EVERY harness query.
    val offenders = Queries.all.flatMap { q =>
      try {
        val plan = q.impl(spark, sf).queryExecution.sparkPlan.toString
        if (plan.contains("CartesianProduct")) Some(q.name) else None
      } catch {
        case e: Throwable => Some(s"${q.name} failed to plan: ${e.toString.take(120)}")
      }
    }
    assert(offenders.isEmpty,
      s"cartesian products (or planning failures) in: ${offenders.mkString(", ")}")
  }

  test("every unpartitioned window in the suite sits above a bounded input (sweep)") {
    // An unpartitioned WindowExec moves its WHOLE input to one
    // partition (the Verify log's WindowExec warnings) — benign only
    // when that input is bounded by construction. Sweep every harness
    // query and prove it structurally: below each such window there
    // must be a global limit (TakeOrderedAndProject / GlobalLimit /
    // CollectLimit — k·stage rows), a driver-materialized local
    // relation (the cascade's collected ≤Σk rows), a global aggregate
    // (1 row), or a union/join of only such inputs. The ONE shape that
    // is bounded by an argument the plan can't carry — a window over
    // group-summary rows whose grouping key is a hash-mod-B bucket
    // (cardinality ≤ B regardless of corpus size) — is whitelisted BY
    // QUERY NAME, so a new query with an unpartitioned window over an
    // unbounded input fails here until justified.
    import org.apache.spark.sql.execution._
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    import org.apache.spark.sql.execution.joins.BaseJoinExec
    import org.apache.spark.sql.execution.window.WindowExec
    // t15/t19: the packing prefix-sum's bucket-offset window rides a
    //   groupBy(__b = hashBucket(id) % buckets) aggregate — ≤ buckets
    //   rows (Packing.scala's two-phase design, B = 32 there).
    val groupSummaryBounded = Set("t15_seq_packing", "t19_curate_pack_pipeline")
    def bounded(p: SparkPlan, groupAggOk: Boolean): Boolean = p match {
      case _: TakeOrderedAndProjectExec | _: GlobalLimitExec |
           _: CollectLimitExec => true
      case _: LocalTableScanExec | _: RDDScanExec => true
      case a: BaseAggregateExec if a.groupingExpressions.isEmpty => true
      case a: BaseAggregateExec => groupAggOk
      case u: UnionExec => u.children.forall(bounded(_, groupAggOk))
      case j: BaseJoinExec => j.children.forall(bounded(_, groupAggOk))
      case other if other.children.length == 1 =>
        bounded(other.children.head, groupAggOk)
      case _ => false
    }
    val prior = Queries.identityGates
    Queries.identityGates = false
    val offenders =
      try Queries.all.flatMap { q =>
        try {
          val plan = q.impl(spark, sf).queryExecution.sparkPlan
          plan.collect {
              case w: WindowExec if w.partitionSpec.isEmpty => w
            }
            .filterNot(w =>
              bounded(w.child, groupSummaryBounded.contains(q.name)))
            .map(w => s"${q.name}: unpartitioned window over " +
              s"${w.child.getClass.getSimpleName}")
        } catch {
          case e: Throwable =>
            Seq(s"${q.name} failed to plan: ${e.toString.take(120)}")
        }
      }
      finally Queries.identityGates = prior
    assert(offenders.isEmpty,
      s"unbounded single-partition windows:\n${offenders.mkString("\n")}")
  }

  test("v1 kNN: TakeOrderedAndProject, native distance, zero shuffles") {
    // executedPlan, not sparkPlan: exchanges are inserted by
    // EnsureRequirements during preparation, so only the executed plan
    // can prove their absence
    val plan = SparkEntry.queries("v1_knn_exact")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"),
      s"kNN top-k must be TakeOrderedAndProject (bounded per-partition heaps):\n$plan")
    assert(plan.contains("vector_l2sq"),
      s"kNN distance must be the native codegen expression:\n$plan")
    // BroadcastExchange of the 1-row query vector is fine; what must
    // never appear is a SHUFFLE exchange
    assert(!plan.contains("Exchange hashpartitioning")
        && !plan.contains("Exchange rangepartitioning")
        && !plan.contains("Exchange SinglePartition"),
      s"exact 1xN kNN needs NO shuffle (TakeOrdered reduces partition heaps " +
        s"on the driver):\n$plan")
  }

  test("t27 PII redaction: a pure narrow map — no exchange of any kind") {
    // the scrub's whole scale story is "cost = the corpus scan": any
    // exchange appearing here means the redaction stopped being a
    // per-row map (the orderBy in the harness entry is presentation,
    // so audit the operator itself)
    val plan = graft.operators.Curation.redactPii(
        spark.read.parquet(s"$sf/documents.parquet"), "text")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"),
      s"redactPii must plan as a narrow map, no exchange:\n$plan")
  }

  test("t31 Gopher filter: a pure narrow map — no exchange of any kind") {
    // same contract as t27: every rule feature is a per-row HOF/regex
    // expression, so cost at 100 TB must be the corpus scan alone
    val plan = graft.operators.Curation.gopherFilter(
        spark.read.parquet(s"$sf/documents.parquet"), "doc_id", "text")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"),
      s"gopherFilter must plan as a narrow map, no exchange:\n$plan")
  }

  test("d19 URL dedup: canonical pass is an aggregate, never a window") {
    // the skew contract: a hot canonical URL must arrive at its
    // reducer as map-side partials (partial_min/partial_count), not as
    // a per-occurrence window partition list
    val urls = spark.read.parquet(s"$sf/documents.parquet")
      .selectExpr("doc_id", "concat('https://ex.com/', doc_id % 5) AS url")
    val plan = graft.operators.Curation.urlDedup(urls, "doc_id", "url")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Window"),
      s"urlDedup keep-first must be aggregate-based, not a window:\n$plan")
    assert(plan.contains("partial_min") || plan.contains("HashAggregate"),
      s"expected a map-side-combinable aggregate in:\n$plan")
  }

  test("t32 perplexity buckets: shuffles carry words and ids, never documents") {
    // the bucket compare must be narrow: after the per-doc score, the
    // threshold row arrives by broadcast — no extra corpus shuffle
    val plan = graft.operators.Curation.perplexityBuckets(
        spark.read.parquet(s"$sf/documents.parquet"), "doc_id", "text")
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastExchange"),
      s"tercile thresholds must broadcast back:\n$plan")
    // exactly the two word-keyed exchanges (freq agg + join back) and
    // the doc-keyed score agg may shuffle; the text column must not
    // appear in any exchange's output
    assert(!"Exchange hashpartitioning\\([^)]*text".r.findFirstIn(plan).isDefined,
      s"document text must never cross an exchange:\n$plan")
  }

  test("t16 source cap: the rank window partitions by group, never globally") {
    // groupCap returns EVERY row flagged (no rank<=cap filter, so no
    // WindowGroupLimit to push) — the scale property to pin is that
    // its window sorts per-source partitions, not one global partition
    val plan = SparkEntry.queries("t16_source_cap")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("hashpartitioning(source"),
      s"groupCap's window must shuffle on the group key:\n$plan")
    assert(!plan.contains("Exchange SinglePartition"),
      s"a single-partition exchange under a corpus-sized window moves the " +
        s"whole table to one task:\n$plan")
  }

  test("t39 stratified split: ONE stratum-keyed exchange feeds window AND final agg") {
    // row_number and count windows share the lang partitioning, and
    // the (lang, split) grouping is satisfied BY that partitioning
    // (clustered-by-subset) — a second hashpartitioning exchange
    // means the reuse broke
    val plan = SparkEntry.queries("t39_stratified_split")(spark, sf)
      .queryExecution.executedPlan.toString
    val shuffles = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(shuffles == 1,
      s"t39 must shuffle exactly once (the stratum window), saw $shuffles:\n$plan")
    assert(!plan.contains("Exchange SinglePartition"),
      s"no global window allowed:\n$plan")
  }

  test("t40 gram novelty: exchanges carry grams and ids, never text") {
    val plan = graft.operators.Curation.gramNovelty(
        spark.read.parquet(s"$sf/documents.parquet"), "doc_id", "text", 3)
      .queryExecution.executedPlan.toString
    assert(!"Exchange hashpartitioning\\([^)]*text".r.findFirstIn(plan).isDefined,
      s"document text must never cross an exchange:\n$plan")
  }

  test("t42 BPE segment: vocab broadcasts back, corpus text never shuffles") {
    val plan = graft.operators.Curation.bpeSegmentStats(
        spark.read.parquet(s"$sf/documents.parquet"), "text", "lang",
        Seq(("e r", "er")))
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastExchange"),
      s"per-word token counts must broadcast back to the corpus:\n$plan")
    assert(!"Exchange hashpartitioning\\([^)]*text".r.findFirstIn(plan).isDefined,
      s"document text must never cross an exchange:\n$plan")
  }

  test("q7 skew-split join: one broadcast branch + one shuffle branch, unioned") {
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val plan = SparkEntry.queries("q7_skew_split_join")(spark, sf)
        .queryExecution.executedPlan.toString
      assert(plan.contains("BroadcastHashJoin"),
        s"hot branch must broadcast even at threshold -1:\n$plan")
      assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin"),
        s"cold branch must keep the keyed shuffle:\n$plan")
      assert(plan.contains("Union"), s"the two branches must union:\n$plan")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("t24/t25 sketch audits: single aggregate pass over the corpus") {
    // the audit contract is ONE pass computing exact + sketch together;
    // a second corpus-side HashAggregate chain would mean the sketch
    // and the exact twin stopped sharing their scan
    val plan = SparkEntry.queries("t24_distinct_audit")(spark, sf)
      .queryExecution.sparkPlan.toString
    val scans = "FileScan parquet".r.findAllIn(plan).length
    assert(scans == 1, s"t24 must read documents exactly once, saw $scans scans:\n$plan")
  }

  test("t26 shard manifest: one scan, one aggregation exchange") {
    // the manifest is a single groupBy over one corpus read; a second
    // scan would mean assignment and counting stopped sharing it
    val plan = SparkEntry.queries("t26_shard_manifest")(spark, sf)
      .queryExecution.sparkPlan.toString
    val scans = "FileScan parquet".r.findAllIn(plan).length
    assert(scans == 1, s"t26 must read documents exactly once, saw $scans scans:\n$plan")
  }

  test("v12 embedding drift: broadcast narrow assignment; only cluster counts shuffle") {
    // the final drift plan is checkpoint-truncated (keyedDrift
    // materializes the joined counts), so the scale claims are pinned
    // on the stage that carries them: the per-snapshot assignment +
    // mass count that feeds keyedDrift
    val e = spark.read.parquet(s"$sf/embeddings.parquet")
    val cent = e.filter(col("vec_id") < 8)
      .select(col("vec_id").as("cid"), col("embedding").as("cvec"))
    val assigned = graft.operators.Ann.ivfAssignBig(
      e.filter(col("vec_id") % 2 === 0), "embedding", "vec_id",
      cent, "cid", "cvec")
    val aPlan = assigned.queryExecution.executedPlan.toString
    assert(!aPlan.contains("vector_l2sq"),
      s"assignment argmin must be the broadcast loop, not inlined literals:\n$aPlan")
    assert(!aPlan.contains("Exchange"),
      s"assignment must be a narrow map (no shuffle, no join):\n$aPlan")
    val counts = assigned.filter(col("cluster_id").isNotNull)
      .select("cluster_id").groupBy("cluster_id").count()
    val cPlan = counts.queryExecution.executedPlan.toString
    val shuffles = cPlan.split("\n").filter(_.contains("Exchange"))
    assert(shuffles.nonEmpty && shuffles.forall(!_.contains("embedding")),
      s"the mass-count exchange must carry cluster ids only:\n$cPlan")
  }

  test("v13 cluster audit: one aggregation shuffle, broadcast joins only") {
    val plan = SparkEntry.queries("v13_cluster_audit")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("SortMergeJoin"),
      s"the k-row separation/aggregate joins must broadcast:\n$plan")
    val aggShuffles = plan.split("\n")
      .filter(l => l.contains("Exchange hashpartitioning") && !l.contains("Reused"))
    assert(aggShuffles.length == 1,
      s"cluster audit needs exactly ONE aggregation exchange (the k-group " +
        s"partial/final split), found ${aggShuffles.length}:\n$plan")
    assert(aggShuffles.forall(!_.contains("embedding")),
      s"the aggregation exchange must carry (cluster_id, d) partials, " +
        s"never vectors:\n$plan")
  }

  test("d14 containment: no corpus-side broadcast, no single-partition exchange") {
    // The df-capped inverted index keeps every stage equi-keyed: a
    // BroadcastNestedLoopJoin (corpus side broadcast) or a
    // SinglePartition exchange would mean candidate generation
    // degenerated into an all-pairs or single-node shape. The pairs
    // are an eager checkpoint, so audit every plan the query runs.
    val (_, plans) = plansOf(SparkEntry.queries("d14_containment")(spark, sf).collect())
    val plan = plans.mkString("\n")
    assert(plans.length >= 2, s"the pair checkpoint and the query:\n$plan")
    assert(!plan.contains("BroadcastNestedLoopJoin"),
      s"containment must never broadcast a corpus-sized side:\n$plan")
    assert(!plan.contains("Exchange SinglePartition"),
      s"no stage of containment may collapse to one partition:\n$plan")
  }

  test("d9/d16 span detector: one gram-keyed exchange, no gram join, fixed-count repartitions") {
    // The detector gathers each gram's postings in ONE gram-keyed
    // exchange (no df census joined back, no gram self-join), and its
    // gram and island-window exchanges are fixed-count repartitions:
    // a session's AQE coalescing (parallelismFirst=false) would
    // otherwise shrink the CPU-heavy stages after them to one task. d9
    // returns the detector's plan; d16 runs it inside its eager
    // interval checkpoint, so audit every plan d16 runs.
    import org.apache.spark.sql.catalyst.expressions.Attribute
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.exchange.{REPARTITION_BY_NUM, ShuffleExchangeExec}
    import org.apache.spark.sql.execution.joins.BaseJoinExec
    object Walk extends AdaptiveSparkPlanHelper
    def keyedOn(plans: Seq[SparkPlan], names: String*) = plans.flatMap(p => Walk.collect(p) {
      case e: ShuffleExchangeExec if (e.outputPartitioning match {
        case h: HashPartitioning => h.expressions.map {
          case a: Attribute => a.name
          case other => other.toString
        } == names
        case _ => false
      }) => e
    })
    val d9 = Seq(SparkEntry.queries("d9_dup_spans")(spark, sf).queryExecution.executedPlan)
    val (_, d16) = plansOf(SparkEntry.queries("d16_span_dedup_apply")(spark, sf).collect())
    Seq("d9" -> d9, "d16" -> d16).foreach { case (q, plans) =>
      val text = plans.mkString("\n")
      val gram = keyedOn(plans, "gram")
      assert(gram.length == 1, s"$q: one gram-keyed exchange, saw ${gram.length}:\n$text")
      val window = keyedOn(plans, "doc_a", "doc_b", "diag")
      assert(window.length == 1, s"$q: one island-window exchange, saw ${window.length}:\n$text")
      assert((gram ++ window).forall(_.shuffleOrigin == REPARTITION_BY_NUM),
        s"$q: the gram and window exchanges must be fixed-count repartitions:\n$text")
      val gramJoins = plans.flatMap(p => Walk.collect(p) {
        case j: BaseJoinExec if j.leftKeys.exists(_.references.exists(_.name == "gram")) => j
      })
      assert(gramJoins.isEmpty, s"$q: no join on the gram:\n$text")
    }
    // d16's rebuild (a per-doc sort and re-join) is pinned the same way
    val rebuild = keyedOn(d16, "__doc")
    assert(rebuild.length == 1 && rebuild.head.shuffleOrigin == REPARTITION_BY_NUM,
      s"d16: the rebuild's exchange must be a fixed-count repartition:\n${d16.mkString("\n")}")
  }

  test("batch serving plans get the map-side WindowGroupLimit partial") {
    // The round-14 quantizer batch forms (s15-s18) express their
    // per-query top-k as `row_number <= k` rank-limit windows so
    // InferWindowGroupLimit turns them into partial group-limits BEFORE
    // the exchange — the bound that keeps the pair stream from
    // shuffling (wall-clock-equal to the TopK Aggregator on identical
    // streams, PLANS.md round-14 correction; the value pinned here is
    // the SHUFFLE bound, not a speedup). Pin the node's presence so a
    // Spark upgrade or a refactor that breaks the rule's preconditions
    // (a changed rank function, a filter pushed elsewhere) fails here,
    // not in a bench diff.
    for (q <- Seq("s15_int8_batch_served", "s16_prefix_batch_served",
        "s17_pq_batch_served", "s18_ivfpq_batch_served")) {
      val plan = SparkEntry.queries(q)(spark, sf).queryExecution.executedPlan.toString
      assert(plan.contains("WindowGroupLimit"),
        s"$q: rank-limit window lost its WindowGroupLimit partial:\n$plan")
    }
    // The cascade's batch core ranks with the partition heaps instead,
    // merged across one qid shuffle for logs the driver does not take.
    // c9's 4-query log takes the driver merge, so the shuffle merge is
    // audited on c9's own batch (the builder c9 runs) with it forced (a
    // log limit of 0): no rank window, no collect_list, and exactly one
    // shuffle in the lineage — the heaps', keyed by qid.
    val c9Core = Queries.exactBatchCascade(spark, sf, Some(
      graft.operators.MultiStageSearch.BatchSizing(logLimit = 0, driverBytes = 0L)))
    val c9Plan = c9Core.queryExecution.executedPlan.toString
    assert(!c9Plan.contains("Window") && !c9Plan.contains("collect_list"),
      s"c9 distributed core: a window or collect_list is back:\n$c9Plan")
    val lineage = c9Core.queryExecution.toRdd.toDebugString
    assert("ShuffledRDD".r.findAllIn(lineage).length == 1,
      s"c9 distributed core: one shuffle expected, the heaps':\n$lineage")
    // and the quantizer batch stage one must scan only the stored
    // artifact (same claim s11/s12 pin for the single-query forms)
    for ((q, codeCol) <- Seq(("s15_int8_batch_served", "q_codes"),
        ("s16_prefix_batch_served", "prefix_vec"),
        ("s17_pq_batch_served", "pq_codes"),
        ("s18_ivfpq_batch_served", "pq_codes"))) {
      val plan = SparkEntry.queries(q)(spark, sf)
        .queryExecution.executedPlan.toString
      val scans = plan.linesIterator
        .filter(l => l.contains("FileScan") && l.contains(codeCol)).toSeq
      assert(scans.nonEmpty, s"$q: no $codeCol scan found:\n$plan")
      assert(scans.forall(!_.contains("embedding")),
        s"$q: stage one must never read fp embeddings:\n$plan")
    }
  }

  test("s11/s12 serving: stage one scans ONLY the stored code table, never fp embeddings") {
    // the compression families' whole scale claim is that the ranking
    // scan reads the small artifact (8 B/vec sign codes, 16-dim
    // prefixes) INSTEAD of the fp corpus — pin it: the scan that
    // carries the code column must not also read `embedding`, and the
    // candidate cut must be a per-partition heap (TakeOrderedAndProject)
    def codeScans(plan: String, codeCol: String): Seq[String] =
      plan.linesIterator
        .filter(l => l.contains("FileScan") && l.contains(codeCol)).toSeq
    val p11 = SparkEntry.queries("s11_sign_hamming_served")(spark, sf)
      .queryExecution.executedPlan.toString
    val s11Scans = codeScans(p11, "sign_code")
    assert(s11Scans.nonEmpty, s"no sign_code scan found:\n$p11")
    assert(s11Scans.forall(!_.contains("embedding")),
      s"sign stage one must never read fp embeddings:\n$p11")
    assert(p11.contains("TakeOrderedAndProject"),
      s"hamming cut must be a bounded per-partition heap:\n$p11")
    val p12 = SparkEntry.queries("s12_matryoshka_served")(spark, sf)
      .queryExecution.executedPlan.toString
    val s12Scans = codeScans(p12, "prefix_vec")
    assert(s12Scans.nonEmpty, s"no prefix_vec scan found:\n$p12")
    assert(s12Scans.forall(!_.contains("embedding")),
      s"prefix stage one must never read fp embeddings:\n$p12")
    assert(p12.contains("TakeOrderedAndProject"),
      s"prefix cut must be a bounded per-partition heap:\n$p12")
  }
}
