package graft

import java.nio.file.{Files, Paths}

import graft.sources.ShardExport
import org.apache.spark.sql.functions._

/** Shard export: partition-complete, deterministically assigned and
  * ordered, one file per shard, manifest true to the files. */
class ShardExportSpec extends SparkSpec {
  import spark.implicits._

  private def docs = (0 until 500)
    .map(i => (i.toLong, s"doc $i body with ${"w " * (i % 7)}tokens"))
    .toDF("doc_id", "text")

  test("every doc lands in exactly one shard; assignment is stable across runs") {
    val a = ShardExport.withShard(docs, "doc_id", 8)
    assert(a.groupBy("doc_id").agg(countDistinct("shard").as("n"))
      .filter(col("n") =!= 1).count() == 0)
    assert(a.filter(col("shard") < 0 || col("shard") >= 8).count() == 0)
    val b = ShardExport.withShard(docs, "doc_id", 8)
    assert(a.select("doc_id", "shard").except(b.select("doc_id", "shard")).count() == 0)
    // md5 balance: all 8 shards populated, none more than 2x the mean
    val sizes = a.groupBy("shard").count().select("count").as[Long].collect()
    assert(sizes.length == 8 && sizes.max <= 2 * (500 / 8))
  }

  test("writeShards: one file per shard dir, deterministic order, complete union, true manifest") {
    val out = QueriesShared.tempDir("graft_shards").toString
    val mf = ShardExport.writeShards(docs, "doc_id", "text", out, 8)
      .orderBy("shard")
      .as[(Int, Long, Long)].collect().toSeq
    // one parquet data file per shard directory
    for (s <- 0 until 8 if mf.exists(_._1 == s)) {
      val dir = Paths.get(out, s"shard=$s")
      val parts = Files.list(dir).iterator()
      var nData = 0
      while (parts.hasNext) {
        val f = parts.next().getFileName.toString
        if (f.endsWith(".parquet") && !f.startsWith("_")) nData += 1
      }
      assert(nData == 1, s"shard $s has $nData data files")
    }
    // union of shards == input, no loss or duplication
    val back = spark.read.parquet(out)
    assert(back.count() == 500)
    assert(back.select("doc_id").except(docs.select("doc_id")).count() == 0)
    assert(docs.select("doc_id").except(back.select("doc_id")).count() == 0)
    // manifest rows describe the written files exactly
    val recount = back
      .groupBy("shard")
      .agg(count(lit(1)).as("n_docs"),
        sum(graft.functions.TextAnalysis.tokenCountWs(col("text")).cast("long"))
          .as("n_tokens"))
      .orderBy("shard").as[(Int, Long, Long)].collect().toSeq
    assert(mf == recount)
    assert(mf.map(_._2).sum == 500)
    // deterministic read order: a second export yields the identical
    // per-shard row sequence (the reproducible-global-shuffle claim)
    val out2 = QueriesShared.tempDir("graft_shards2").toString
    ShardExport.writeShards(docs, "doc_id", "text", out2, 8)
    for (s <- mf.map(_._1)) {
      def seqOf(o: String) = spark.read.parquet(s"$o/shard=$s")
        .select("doc_id").as[Long].collect().toSeq
      assert(seqOf(out) == seqOf(out2), s"shard $s order differs across runs")
    }
    // and the order within a shard is NOT sorted by id (it is the md5
    // pseudo-random order — the point of the deterministic shuffle)
    val anyShard = spark.read.parquet(s"$out/shard=${mf.head._1}")
      .select("doc_id").as[Long].collect().toSeq
    assert(anyShard != anyShard.sorted, "shard order unexpectedly id-sorted")
  }

  test("upsertShards rewrites only affected shard dirs; result row-identical to a full rewrite") {
    import java.io.File
    val out = QueriesShared.tempDir("graft_upsert").toString
    ShardExport.writeShards(docs, "doc_id", "text", out, 8)
    def listing(s: Int): Set[(String, Long, Long)] = {
      val d = new File(out, s"shard=$s")
      d.listFiles().filter(f => f.getName.endsWith(".parquet"))
        .map(f => (f.getName, f.lastModified(), f.length())).toSet
    }
    val before = (0 until 8).map(f => f -> listing(f)).toMap
    // delta: one changed doc + one brand-new doc
    val delta = Seq((5L, "doc 5 REVISED body"), (1000L, "new doc body"))
      .toDF("doc_id", "text")
    val affected = ShardExport.withShard(delta, "doc_id", 8)
      .select("shard").as[Long].collect().map(_.toInt).toSet
    Thread.sleep(1100) // mtime resolution guard
    ShardExport.upsertShards(out, delta, "doc_id", "text", 8)
    for (s <- 0 until 8 if !affected.contains(s))
      assert(listing(s) == before(s), s"untouched shard $s was rewritten")
    for (s <- affected)
      assert(listing(s) != before(s), s"affected shard $s not rewritten")
    // the incrementally-merged manifest equals a full recount
    val mfGot = spark.read.parquet(s"$out/_graft_manifest")
      .orderBy("shard").as[(Int, Long, Long)].collect().toSeq
    val mfFull = spark.read.parquet(out).groupBy("shard")
      .agg(count(lit(1)).as("n_docs"),
        sum(graft.functions.TextAnalysis.tokenCountWs(col("text")).cast("long"))
          .as("n_tokens"))
      .orderBy("shard").as[(Int, Long, Long)].collect().toSeq
    assert(mfGot == mfFull, "incremental manifest drifted from full recount")
    // row-identity with a from-scratch export of the merged corpus,
    // including intra-shard order (the deterministic-order claim)
    val mergedDocs = docs.filter(col("doc_id") =!= 5L).unionByName(delta)
    val out2 = QueriesShared.tempDir("graft_full").toString
    ShardExport.writeShards(mergedDocs, "doc_id", "text", out2, 8)
    for (s <- 0 until 8) {
      def rows(o: String) = spark.read.parquet(s"$o/shard=$s")
        .select("doc_id", "text").as[(Long, String)].collect().toSeq
      assert(rows(out) == rows(out2), s"shard $s differs from full rewrite")
    }
  }

  test("upsertShards is idempotent: re-applying the same delta changes nothing") {
    val out = QueriesShared.tempDir("graft_idem").toString
    ShardExport.writeShards(docs, "doc_id", "text", out, 8)
    val delta = Seq((5L, "doc 5 REVISED"), (1000L, "new doc")).toDF("doc_id", "text")
    def state() = spark.read.parquet(out)
      .select("shard", "doc_id", "text")
      .as[(Int, Long, String)].collect().sortBy(r => (r._1, r._2)).toSeq
    def mf() = spark.read.parquet(s"$out/_graft_manifest")
      .orderBy("shard").as[(Int, Long, Long)].collect().toSeq
    ShardExport.upsertShards(out, delta, "doc_id", "text", 8)
    val (s1, m1) = (state(), mf())
    // a retried ingest batch re-applies the same delta — the export
    // and its manifest must be unchanged in content
    ShardExport.upsertShards(out, delta, "doc_id", "text", 8)
    assert(state() == s1 && mf() == m1)
  }

  test("guards are loud") {
    intercept[IllegalArgumentException] {
      ShardExport.withShard(docs, "doc_id", 0)
    }
    intercept[IllegalArgumentException] {
      ShardExport.writeShards(docs, "doc_id", "text", "/tmp/x", 0)
    }
  }

  test("upsertShards refuses an nShards that differs from the export's recorded modulus") {
    val out = QueriesShared.tempDir("graft_modulus").toString
    ShardExport.writeShards(docs, "doc_id", "text", out, 8)
    val delta = Seq((5L, "doc 5 REVISED")).toDF("doc_id", "text")
    // re-bucketing under 16 would strand the stale doc 5 in its
    // original shard while the revision lands elsewhere — must refuse
    val e = intercept[IllegalArgumentException] {
      ShardExport.upsertShards(out, delta, "doc_id", "text", 16)
    }
    assert(e.getMessage.contains("recorded n_shards 8"))
    // and the matching modulus still works
    ShardExport.upsertShards(out, delta, "doc_id", "text", 8)
  }

  test("a crashed upsert is completed from its journal, from every crash window") {
    import java.nio.file.{Files => F, Paths => P, StandardCopyOption}
    // expected end state: a real, uninterrupted upsert
    val outDone = QueriesShared.tempDir("graft_crash_done").toString
    ShardExport.writeShards(docs, "doc_id", "text", outDone, 8)
    val delta = Seq((5L, "doc 5 REVISED body"), (1000L, "new doc body"),
      (1001L, "second new doc"), (1002L, "third new doc"))
      .toDF("doc_id", "text")
    val affected = ShardExport.withShard(delta, "doc_id", 8)
      .select("shard").distinct().as[Long].collect()
      .map(_.toInt).sorted.toSeq
    assume(affected.size >= 2, "fixture must hit at least two shards")
    ShardExport.upsertShards(outDone, delta, "doc_id", "text", 8)
    def rows(o: String, s: Int) = spark.read.parquet(s"$o/shard=$s")
      .select("doc_id", "text").as[(Long, String)].collect().toSeq
    def mf(o: String) = spark.read.parquet(s"$o/_graft_manifest")
      .orderBy("shard").as[(Int, Long, Long)].collect().toSeq
    // crash scene: fresh export + staged merge + journal, flips torn
    // at three different points
    val out = QueriesShared.tempDir("graft_crash").toString
    ShardExport.writeShards(docs, "doc_id", "text", out, 8)
    def copyDir(src: String, dst: String): Unit = {
      F.createDirectories(P.get(dst))
      F.list(P.get(src)).iterator().forEachRemaining { f =>
        if (!F.isDirectory(f))
          F.copy(f, P.get(dst, f.getFileName.toString),
            StandardCopyOption.REPLACE_EXISTING)
      }
    }
    // staging = what the flips would install (== outDone's shard dirs)
    affected.foreach(s =>
      copyDir(s"$outDone/shard=$s", s"$out/_graft_tmp_upsert/shard=$s"))
    affected.toDF("shard").coalesce(1).write
      .parquet(s"$out/_graft_upsert_pending")
    // window B (mid-flip): first shard parked to trash, live absent
    val b = affected.head
    F.createDirectories(P.get(s"$out/_graft_trash_upsert"))
    F.move(P.get(s"$out/shard=$b"),
      P.get(s"$out/_graft_trash_upsert/shard=$b"))
    // window C (post-flip, pre-manifest): last shard already live,
    // old copy in trash, staged copy consumed
    val c = affected.last
    F.move(P.get(s"$out/shard=$c"),
      P.get(s"$out/_graft_trash_upsert/shard=$c"))
    F.move(P.get(s"$out/_graft_tmp_upsert/shard=$c"), P.get(s"$out/shard=$c"))
    // (remaining affected shards, if any, sit in window A: journal
    // written, flip not started)
    ShardExport.recoverPendingUpsert(spark, out, "text")
    for (s <- 0 until 8 if F.exists(P.get(s"$outDone/shard=$s")))
      assert(rows(out, s) == rows(outDone, s), s"shard $s diverged")
    assert(mf(out) == mf(outDone), "recovered manifest diverged")
    for (d <- Seq("_graft_upsert_pending", "_graft_tmp_upsert",
        "_graft_trash_upsert"))
      assert(!F.exists(P.get(s"$out/$d")), s"$d not cleaned up")
    // and with no journal, recovery just discards crash litter
    F.createDirectories(P.get(s"$out/_graft_tmp_upsert/shard=0"))
    ShardExport.recoverPendingUpsert(spark, out, "text")
    assert(!F.exists(P.get(s"$out/_graft_tmp_upsert")))
    assert(mf(out) == mf(outDone))
  }

  test("upsert merge stages via temp-dir flip, not a localCheckpoint memory pin") {
    // the read-modify-write safety comes from write-then-flip (the
    // IndexStore pattern), never from pinning affected-shard rows on
    // the heap — pin this at the source level so a regression to
    // localCheckpoint (unbounded memory at a large affected set)
    // cannot land silently
    val src = new String(Files.readAllBytes(
      Paths.get("src/main/scala/graft/sources/ShardExport.scala")), "UTF-8")
    // match the call syntax, not the bare word — docstrings may (and do)
    // mention localCheckpoint when explaining why it is avoided
    assert(!src.contains(".localCheckpoint("),
      "ShardExport must stage upserts via temp-dir flip, not localCheckpoint")
    assert(src.contains("_graft_tmp_upsert"), "staging dir marker missing")
    // and a crash-leftover staging dir must not poison later reads:
    // leading-underscore dirs are invisible to partition discovery
    val out = QueriesShared.tempDir("graft_tmpvis").toString
    ShardExport.writeShards(docs, "doc_id", "text", out, 4)
    Files.createDirectory(Paths.get(out, "_graft_tmp_upsert"))
    assert(spark.read.parquet(out).count() == 500)
  }

  test("writeShardsJsonl: one gz part per shard, content round-trips, manifest true to files") {
    val out = QueriesShared.tempDir("graft_jsonl").toString + "/export"
    val mf = ShardExport.writeShardsJsonl(docs, "doc_id", "text", out, 4)
      .orderBy("shard")
      .select(col("shard").cast("long"), col("n_docs"), col("n_tokens"))
      .as[(Long, Long, Long)].collect().toSeq
    // manifest equals the declarative twin — files describe the data
    val twin = ShardExport.manifest(docs, "doc_id", "text", 4)
      .orderBy("shard")
      .select(col("shard").cast("long"), col("n_docs"), col("n_tokens"))
      .as[(Long, Long, Long)].collect().toSeq
    assert(mf == twin)
    // one compressed part per shard dir
    (0 until 4).foreach { s =>
      val parts = new java.io.File(s"$out/shard=$s").listFiles
        .filter(_.getName.endsWith(".json.gz"))
      assert(parts.length == 1, s"shard $s: ${parts.length} gz parts")
    }
    // every (id, text) round-trips through JSON
    val back = spark.read.json(out)
      .select(col("doc_id").cast("long"), col("text"))
      .as[(Long, String)].collect().toSet
    assert(back == docs.as[(Long, String)].collect().toSet)
  }

  test("writeShardsJsonl records the _graft_meta modulus and pins the read-back schema") {
    // the pinned-schema read-back keeps the writer's types WITHOUT
    // paying an inference pass (an extra decompress+parse of every gz
    // shard). An all-numeric text column stays string either way —
    // the JSON writer quotes strings, so inference could not mis-type
    // it — the pin buys cost and integer widths, not quoting safety;
    // the all-numeric text below just proves the token count rides
    // through the pinned read-back faithfully
    val numericTexts = (0L until 40L).map(i => (i, s"${i * 11} ${i * 7}"))
      .toDF("doc_id", "text")
    val out = QueriesShared.tempDir("graft_jsonl_meta").toString + "/export"
    val mf = ShardExport.writeShardsJsonl(numericTexts, "doc_id", "text", out, 3)
    // same modulus sidecar as the parquet sink
    val meta = spark.read.parquet(s"$out/_graft_meta")
    assert(meta.schema("n_shards").dataType ==
      org.apache.spark.sql.types.IntegerType)
    assert(meta.select("n_shards").as[Int].head() == 3)
    // every doc has exactly 2 whitespace tokens, counted off the
    // pinned string column
    val counted = mf.agg(sum("n_docs"), sum("n_tokens"))
      .as[(Long, Long)].head()
    assert(counted == ((40L, 80L)))
    // manifest shard column stays int — interchangeable with writeShards'
    assert(mf.schema("shard").dataType ==
      org.apache.spark.sql.types.IntegerType)
  }

  test("writeShardsJsonl rejects binary columns loudly") {
    val withBin = docs.withColumn("payload", col("text").cast("binary"))
    val e = intercept[IllegalArgumentException] {
      ShardExport.writeShardsJsonl(withBin, "doc_id", "text", "/tmp/never", 2)
    }
    assert(e.getMessage.contains("base64"))
  }
}
