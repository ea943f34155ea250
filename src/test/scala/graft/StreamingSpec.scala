package graft

import java.sql.Timestamp

import graft.streaming.EventStream
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** §2.8 streaming extension: the same transform runs batch and
  * incremental; the batch result is the oracle for the stream. */
class StreamingSpec extends SparkSpec {
  import spark.implicits._

  private def mkEvents: Seq[(Timestamp, String, Double)] = {
    val base = Timestamp.valueOf("2026-01-01 10:00:00").getTime
    (0 until 120).map { i =>
      (new Timestamp(base + i * 60000L), // one event per minute, 2 hours
        if (i % 2 == 0) "click" else "view",
        i.toDouble)
    }
  }

  test("hourlyCounts over a MemoryStream matches the batch twin") {
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[(Timestamp, String, Double)]
    stream.addData(mkEvents)
    val streamDf = stream.toDF().toDF("ts", "event_type", "value")

    val q = EventStream.hourlyCounts(streamDf)
      .writeStream.format("memory").queryName("hourly_test")
      .outputMode("complete").start()
    try {
      q.processAllAvailable()
      val got = spark.table("hourly_test")
        .orderBy("w_start", "event_type")
        .select(col("w_start").cast("string"), col("event_type"), col("n"), col("sum_value"))
        .as[(String, String, Long, Double)].collect().toSeq

      val batch = EventStream.hourlyCounts(
          mkEvents.toDF("ts", "event_type", "value"))
        .orderBy("w_start", "event_type")
        .select(col("w_start").cast("string"), col("event_type"), col("n"), col("sum_value"))
        .as[(String, String, Long, Double)].collect().toSeq

      assert(got == batch)
      assert(got.map(_._3).sum == 120)
    } finally q.stop()
  }

  test("attributionJoin: stream-stream interval join matches the batch twin") {
    implicit val sqlCtx = spark.sqlContext
    val base = Timestamp.valueOf("2026-01-01 10:00:00").getTime
    // clicks every 10 min for user 1 and 2; purchases at +15/+75/+200 min
    val clicks = (0 until 12).flatMap(i => Seq(
      (100L + i, 1L, new Timestamp(base + i * 600000L)),
      (200L + i, 2L, new Timestamp(base + i * 600000L))))
    val purchases = Seq(
      (900L, 1L, new Timestamp(base + 15 * 60000L)),
      (901L, 1L, new Timestamp(base + 75 * 60000L)),
      (902L, 2L, new Timestamp(base + 200 * 60000L)), // beyond all clicks+60m
      (903L, 3L, new Timestamp(base + 30 * 60000L)))  // user with no clicks
    def asDf(rows: Seq[(Long, Long, Timestamp)]) =
      rows.toDF("event_id", "user_id", "ts")

    val cs = MemoryStream[(Long, Long, Timestamp)]
    val ps = MemoryStream[(Long, Long, Timestamp)]
    cs.addData(clicks); ps.addData(purchases)
    val q = EventStream.attributionJoin(
        cs.toDF().toDF("event_id", "user_id", "ts"),
        ps.toDF().toDF("event_id", "user_id", "ts"), gapMinutes = 60)
      .writeStream.format("memory").queryName("attr_test")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val got = spark.table("attr_test")
        .orderBy("purchase_id", "click_id")
        .as[(Long, Long, Long, Long)].collect().toSeq
      val batch = EventStream.attributionJoin(
          asDf(clicks), asDf(purchases), gapMinutes = 60)
        .orderBy("purchase_id", "click_id")
        .as[(Long, Long, Long, Long)].collect().toSeq
      assert(got == batch)
      // purchase 900: clicks at 0/10 min qualify (within the hour
      // BEFORE it); purchase 902 and no-click user 903 attribute to
      // nothing; every lag is in [0, 60 min]
      assert(batch.filter(_._1 == 900L).map(_._2) == Seq(100L, 101L))
      assert(!batch.exists(r => r._1 == 902L || r._1 == 903L))
      assert(batch.forall(r => r._4 >= 0 && r._4 <= 3600000000L))
    } finally q.stop()
  }

  test("slidingCounts places each event in exactly two windows") {
    val df = mkEvents.toDF("ts", "event_type", "value")
    val total = EventStream.slidingCounts(df).agg(sum("n")).as[Long].head()
    assert(total == 240)
  }

  test("sessionizeStream closes sessions by in-batch gap and by watermark timeout") {
    implicit val sqlCtx = spark.sqlContext
    def t(h: Int, m: Int) = Timestamp.valueOf(f"2026-01-01 $h%02d:$m%02d:00")
    val stream = MemoryStream[(Long, Timestamp, Double)]
    // user 1: two events 10:00/10:10 (one session), then 12:00 (new
    // session) — the 12:00 arrival closes session A via in-batch gap
    stream.addData(Seq((1L, t(10, 0), 1.0), (1L, t(10, 10), 2.0)))
    stream.addData(Seq((1L, t(12, 0), 5.0)))
    // watermark pusher: 15:00 - 1h = 14:00 > 12:30 → session B times out
    stream.addData(Seq((999L, t(15, 0), 0.0)))
    stream.addData(Seq((999L, t(15, 1), 0.0)))

    val q = graft.streaming.EventStream.sessionizeStream(
        stream.toDF().toDF("user_id", "ts", "value"))
      .writeStream.format("memory").queryName("sess_test")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val out = spark.table("sess_test")
        .filter(col("user_id") === 1L)
        .orderBy("session_start")
        .select(col("session_start").cast("string"), col("n_events"), col("sum_value"))
        .as[(String, Int, Double)].collect().toSeq
      assert(out == Seq(
        ("2026-01-01 10:00:00", 2, 3.0),
        ("2026-01-01 12:00:00", 1, 5.0)))
    } finally q.stop()
  }

  test("dedupStream keeps one row per key within the watermark") {
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[(Timestamp, String, Double)]
    stream.addData(Seq(
      (Timestamp.valueOf("2026-01-01 10:00:00"), "h1", 1.0),
      (Timestamp.valueOf("2026-01-01 10:00:00"), "h1", 2.0), // in-batch dup
      (Timestamp.valueOf("2026-01-01 10:00:01"), "h2", 3.0)))
    stream.addData(Seq( // cross-batch dup, still within the watermark
      (Timestamp.valueOf("2026-01-01 10:00:02"), "h1", 4.0)))
    val out = EventStream.dedupStream(
      stream.toDF().toDF("ts", "text_hash", "v"), "ts", Seq("text_hash"))
    val q = out.writeStream.format("memory").queryName("dedup_stream_test")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val keys = spark.table("dedup_stream_test")
        .select("text_hash").as[String].collect().toSeq.sorted
      assert(keys == Seq("h1", "h2"))
    } finally q.stop()
  }

  test("IngestPipeline: streaming batches dedup against the live index version") {
    import graft.streaming.IngestPipeline
    import graft.sources.IndexStore
    implicit val sqlCtx = spark.sqlContext
    val root = QueriesShared.tempDir("graft_ingest").toString + "/corpus"
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val near = "alpha beta gamma delta epsilon zeta eta theta iota lambda"
    val far = "one two three four five six seven eight nine ten"
    val stream = MemoryStream[(Long, String)]
    val q = stream.toDF.toDF("doc_id", "text")
      .writeStream
      .foreachBatch(IngestPipeline.dedupedVersionedSink(
        root, "doc_id", "text", threshold = 0.4) _)
      .start()
    try {
      stream.addData((1L, base), (2L, far))
      q.processAllAvailable()
      assert(IndexStore.committedVersions(spark, root) == Seq(1L))
      assert(IndexStore.loadCurrent(spark, root).count() == 2)
      // batch 2: id 1 repeats (exact), id 3 near-duplicates doc 1
      // (dropped at threshold 0.4), id 4 is genuinely new
      stream.addData((1L, "changed text irrelevant"), (3L, near),
        (4L, "completely different fresh content words here"))
      q.processAllAvailable()
      assert(IndexStore.committedVersions(spark, root) == Seq(1L, 2L))
      val ids = IndexStore.loadCurrent(spark, root)
        .select("doc_id").as[Long].collect().toSeq.sorted
      assert(ids == Seq(1L, 2L, 4L))
      // version 1 is still readable (rollback window intact)
      assert(spark.read.parquet(s"$root/v1").count() == 2)
    } finally q.stop()
  }

  test("IngestPipeline: quality gate rejects junk before the dedup gate") {
    import graft.streaming.IngestPipeline
    import graft.sources.IndexStore
    implicit val sqlCtx = spark.sqlContext
    val root = QueriesShared.tempDir("graft_qgate").toString + "/corpus"
    // passes the (relaxed-minWords) Gopher rules: prose-like, has
    // stop words, sane word lengths
    val good = "the quick brown fox jumps over the lazy dog and then " +
      "runs off to the forest with great speed that nobody expected"
    val good2 = "we walked along the river bank and watched the boats " +
      "drift by with the evening light fading over the water slowly"
    val junkShort = "click here"
    val junkBullets = "- a\n- b\n- c\n- d\n- e\n- f\n- g\n- h\n- i\n- j\n" +
      "- k\n- l\n- m\n- n\n- o\n- p\n- q\n- r\n- s\n- t"
    val stream = MemoryStream[(Long, String)]
    val q = stream.toDF.toDF("doc_id", "text")
      .writeStream
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
        IngestPipeline.dedupedVersionedSink(root, "doc_id", "text")(
          IngestPipeline.qualityGate(b, "doc_id", "text", minWords = 15), id)
      }
      .start()
    try {
      stream.addData((1L, good), (2L, junkShort), (3L, junkBullets))
      q.processAllAvailable()
      // only the good doc lands; the junk never reaches the index
      assert(IndexStore.loadCurrent(spark, root)
        .select("doc_id").as[Long].collect().toSeq == Seq(1L))
      // next batch: all-junk → NO new version committed
      stream.addData((4L, junkShort))
      q.processAllAvailable()
      assert(IndexStore.committedVersions(spark, root) == Seq(1L))
      // gate then dedup still compose: good2 passes the gate and is
      // genuinely new; a re-sent id 1 stays deduped
      stream.addData((1L, good), (5L, good2))
      q.processAllAvailable()
      assert(IndexStore.loadCurrent(spark, root)
        .select("doc_id").as[Long].collect().toSeq.sorted == Seq(1L, 5L))
    } finally q.stop()
  }

  test("dedupedPartitionedSink rewrites only the batch's cluster partitions") {
    import graft.streaming.IngestPipeline
    implicit val sqlCtx = spark.sqlContext
    val path = QueriesShared.tempDir("graft_part_ingest").toString + "/corpus"
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val near = "alpha beta gamma delta epsilon zeta eta theta iota lambda"
    val far = "one two three four five six seven eight nine ten"
    val assign = (df: org.apache.spark.sql.DataFrame) =>
      df.withColumn("cluster_id", pmod(col("doc_id"), lit(2L)))
    val stream = MemoryStream[(Long, String)]
    val q = stream.toDF.toDF("doc_id", "text")
      .writeStream
      .foreachBatch(IngestPipeline.dedupedPartitionedSink(
        path, "doc_id", "text", assign, threshold = 0.4) _)
      .start()
    try {
      def filesIn(cluster: Long): Set[String] = {
        val d = new java.io.File(s"$path/cluster_id=$cluster")
        if (!d.exists()) Set.empty
        else d.listFiles().map(_.getName).filter(_.endsWith(".parquet")).toSet
      }
      stream.addData((1L, base), (2L, far)) // clusters 1 and 0
      q.processAllAvailable()
      val c1Before = filesIn(1L)
      assert(c1Before.nonEmpty && filesIn(0L).nonEmpty)
      // batch 2: id 1 repeats (exact dup), id 3 near-duplicates doc 1
      // (dropped at threshold 0.4), id 4 is new and lands in cluster 0
      stream.addData((1L, "changed text irrelevant"), (3L, near),
        (4L, "completely different fresh content words here"))
      q.processAllAvailable()
      val ids = spark.read.parquet(path)
        .select("doc_id").as[Long].collect().toSeq.sorted
      assert(ids == Seq(1L, 2L, 4L))
      // stream == batch: the same gate applied as plain batch code
      // against the surviving corpus yields the same survivor set
      val c0 = spark.read.parquet(path).filter(col("cluster_id") === 0L)
        .select("doc_id").as[Long].collect().toSeq.sorted
      assert(c0 == Seq(2L, 4L))
      // cluster 1 (doc 1) was untouched by batch 2: the upsert read and
      // rewrote ONLY cluster 0 — same physical files prove it
      assert(filesIn(1L) == c1Before)
    } finally q.stop()
  }

  test("sessionWindowAgg: native session_window batch semantics + gap boundary") {
    def ts(h: Int, m: Int) = Timestamp.valueOf(f"2026-01-01 $h%02d:$m%02d:00")
    // user 1: 10:00, 10:29 merge (gap 29 < 30). user 2: 10:00 then
    // exactly 10:30 — the boundary case: candidate windows
    // [10:00,10:30) and [10:30,11:00) touch without overlapping, and
    // Spark MERGES adjacent windows (verified behavior) — one
    // session. An event strictly more than gap later opens a new one
    // (user 3). The e8 oracle's new-session flag is therefore
    // `> gap`, the same convention as e4.
    val df = Seq(
      (1L, ts(10, 0), 1.0), (1L, ts(10, 29), 2.0),
      (2L, ts(10, 0), 5.0), (2L, ts(10, 30), 7.0),
      (3L, ts(10, 0), 8.0), (3L, ts(10, 31), 9.0)
    ).toDF("user_id", "ts", "value")
    val out = EventStream.sessionWindowAgg(df, gapMinutes = 30)
      .orderBy("user_id", "session_start_us")
      .as[(Long, Long, Long, Long, Double)].collect().toSeq
    def us(h: Int, m: Int) = ts(h, m).getTime * 1000L
    assert(out == Seq(
      (1L, us(10, 0), us(10, 59), 2L, 3.0),   // end = last ts + gap
      (2L, us(10, 0), us(11, 0), 2L, 12.0),   // boundary → merged
      (3L, us(10, 0), us(10, 30), 1L, 8.0),   // > gap → split
      (3L, us(10, 31), us(11, 1), 1L, 9.0)))
  }

  test("sessionWindowAgg over a MemoryStream matches the batch twin") {
    implicit val sqlCtx = spark.sqlContext
    def ts(h: Int, m: Int) = Timestamp.valueOf(f"2026-01-01 $h%02d:$m%02d:00")
    val rows = Seq(
      (1L, ts(10, 0), 1.0), (1L, ts(10, 10), 2.0), (1L, ts(11, 30), 3.0),
      (2L, ts(10, 5), 4.0), (2L, ts(10, 40), 5.0),
      // watermark pusher: lets every real session close for append mode
      (999L, ts(20, 0), 0.0))
    val stream = MemoryStream[(Long, Timestamp, Double)]
    val q = EventStream.sessionWindowAgg(
        stream.toDF().toDF("user_id", "ts", "value"))
      .writeStream.format("memory").queryName("swagg_test")
      .outputMode("append").start()
    try {
      rows.grouped(2).foreach { g => stream.addData(g); q.processAllAvailable() }
      val got = spark.table("swagg_test").filter(col("user_id") < 999L)
        .orderBy("user_id", "session_start_us")
        .as[(Long, Long, Long, Long, Double)].collect().toSeq
      val batch = EventStream.sessionWindowAgg(
          rows.toDF("user_id", "ts", "value"))
        .filter(col("user_id") < 999L)
        .orderBy("user_id", "session_start_us")
        .as[(Long, Long, Long, Long, Double)].collect().toSeq
      assert(got == batch)
      assert(batch.map(_._4).sum == 5)
    } finally q.stop()
  }

  test("upsertBatch: insert then overwrite-by-id") {
    val dir = QueriesShared.tempDir("graft_upsert").toString + "/index"
    EventStream.upsertBatch(dir, "id")(
      Seq((1L, "v1"), (2L, "v1")).toDF("id", "payload"), 0L)
    EventStream.upsertBatch(dir, "id")(
      Seq((2L, "v2"), (3L, "v1")).toDF("id", "payload"), 1L)
    val out = spark.read.parquet(dir)
      .orderBy("id").as[(Long, String)].collect().toSeq
    assert(out == Seq((1L, "v1"), (2L, "v2"), (3L, "v1")))
  }
}
