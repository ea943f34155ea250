package graft

import java.nio.file.Files

import graft.sources.{IndexStore, ZStore}
import org.apache.spark.sql.functions._

/** ZStore — the Z-order layout's lifecycle: versioned manifests over
  * an immutable file pool, O(batch) absorbs that cannot dilute old
  * files' envelopes, gated compaction, and GC. The pruning property
  * itself (per-file spans bounded by the bucket envelope) is asserted
  * across the whole lifecycle, because it is the reason the store
  * exists. */
class ZStoreSpec extends SparkSpec {
  import spark.implicits._

  private def grid(from: Long, until: Long) =
    spark.range(from, until).select(
      (col("id") % 60).cast("double").as("x"),
      ((col("id") / 60) % 60).cast("double").as("y"),
      col("id").as("rid")).repartition(8)

  private def meanSpan(df: org.apache.spark.sql.DataFrame,
                       c: String): Double = {
    val spans = df.groupBy(input_file_name())
      .agg((max(col(c)) - min(col(c))).as("s"))
      .select("s").as[Double].collect()
    spans.sum / spans.length
  }

  test("init -> absorb -> maintain: row identity throughout, spans stay bucket-bounded, versions flip atomically") {
    val root = QueriesShared.tempDir("graft_zstore").toString + "/t"
    val v1 = ZStore.init(grid(0, 3600), Seq("x", "y"), root,
      bits = 4, bucketBits = 4)
    assert(v1 == 1L)
    val base = ZStore.read(spark, root)
    assert(base.count() == 3600)
    assert(base.columns.sorted.toSeq == Seq("rid", "x", "y"),
      "layout columns must stay invisible")
    assert(base.select("rid").as[Long].collect().toSet == (0L until 3600L).toSet)
    val (meta1, man1, _) = ZStore.loadCurrent(spark, root)
    assert(man1.nonEmpty && man1.map(_.bucket).distinct.length == man1.length,
      s"init writes one file per touched bucket: $man1")
    val spanX0 = meanSpan(base, "x")
    // three absorbed batches: new versions share the old files
    var lastFiles = man1.map(_.path).toSet
    (1 to 3).foreach { i =>
      val r = ZStore.absorb(spark, root, grid(3600L * i, 3600L * (i + 1)))
      assert(r.version == v1 + i, r.toString)
      assert(r.rowsAbsorbed == 3600 && r.outOfEnvelopeRows == 0, r.toString)
      val (_, man, _) = ZStore.loadCurrent(spark, root)
      assert(lastFiles.subsetOf(man.map(_.path).toSet),
        "absorb must share untouched files, never rewrite them")
      lastFiles = man.map(_.path).toSet
    }
    val grown = ZStore.read(spark, root)
    assert(grown.count() == 4 * 3600)
    assert(grown.select("rid").as[Long].collect().toSet ==
      (0L until 4 * 3600L).toSet)
    // the property the store exists for: appended batches land INSIDE
    // their buckets' curve envelopes, so per-file spans do not dilute
    // toward the scattered layout (x spans [0, 60); a scattered file
    // would span ~59)
    val spanX3 = meanSpan(grown, "x")
    assert(spanX3 <= spanX0 * 1.5 && spanX3 < 30,
      s"per-file x span grew $spanX0 -> $spanX3 after absorbs")
    // fragmentation is file COUNT, not envelope width — maintain folds it
    val (_, manFrag, _) = ZStore.loadCurrent(spark, root)
    assert(manFrag.groupBy(_.bucket).exists(_._2.length > 1),
      "three same-shape batches must fragment at least one bucket")
    val m = ZStore.maintain(spark, root, maxFilesPerBucket = 1)
    assert(m.version.isDefined && m.dirtyBuckets > 0, m.toString)
    assert(m.rowsRewritten > 0 && m.filesAfter < m.filesBefore, m.toString)
    val (_, manClean, _) = ZStore.loadCurrent(spark, root)
    assert(manClean.groupBy(_.bucket).forall(_._2.length == 1),
      s"maintain must leave one file per bucket: $manClean")
    val compacted = ZStore.read(spark, root)
    assert(compacted.count() == 4 * 3600)
    assert(compacted.select("rid").as[Long].collect().toSet ==
      (0L until 4 * 3600L).toSet)
    // second maintain: clean no-op, nothing published
    val m2 = ZStore.maintain(spark, root, maxFilesPerBucket = 1)
    assert(m2.version.isEmpty && m2.reason.contains("unchanged"), m2.toString)
    // meta is carried verbatim across the whole lifecycle
    val (metaN, _, _) = ZStore.loadCurrent(spark, root)
    assert(metaN == meta1)
    // time travel: manifests are snapshots over the shared immutable
    // pool — v1 still reads its exact committed content even though
    // four later versions absorbed and compacted around it
    assert(ZStore.readVersion(spark, root, 1L).count() == 3600)
    assert(ZStore.readVersion(spark, root, 2L).count() == 2 * 3600)
    intercept[IllegalArgumentException] {
      ZStore.readVersion(spark, root, 99L)
    }
    // prune to the current version: superseded manifests die AND the
    // pool files only they referenced are GC'd; reads are unaffected
    val (pruned, deleted) = ZStore.prune(spark, root, keep = 1)
    assert(pruned.nonEmpty && deleted > 0, s"$pruned / $deleted")
    val after = ZStore.read(spark, root)
    assert(after.count() == 4 * 3600)
    // on-disk pool now holds exactly the files the kept manifest names
    val (_, manKept, _) = ZStore.loadCurrent(spark, root)
    val onDisk = {
      val fs = org.apache.hadoop.fs.FileSystem.getLocal(
        spark.sparkContext.hadoopConfiguration)
      val it = fs.listFiles(new org.apache.hadoop.fs.Path(root, "data"), true)
      var n = 0
      while (it.hasNext) {
        if (it.next().getPath.getName.endsWith(".parquet")) n += 1
      }
      n
    }
    assert(onDisk == manKept.length, s"disk $onDisk vs manifest ${manKept.length}")
    // a pruned version is loudly unreadable (its exclusive files are gone)
    intercept[IllegalArgumentException] {
      ZStore.readVersion(spark, root, 1L)
    }
    // pool dirs with no data files left are swept whole (their
    // write-time _SUCCESS markers do not pin them)
    val uuidDirs = new java.io.File(root, "data").listFiles()
      .filter(_.isDirectory)
    uuidDirs.foreach { u =>
      val hasParquet = java.nio.file.Files.walk(u.toPath).iterator()
      var found = false
      while (hasParquet.hasNext && !found)
        found = hasParquet.next().toString.endsWith(".parquet")
      assert(found, s"pool dir $u survived prune with no data files")
    }
    // reserved layout columns refuse at init
    val eRes = intercept[IllegalArgumentException] {
      ZStore.init(grid(0, 10).withColumn("__zb", lit(1)),
        Seq("x", "y"), root + "_r", bits = 4, bucketBits = 3)
    }
    assert(eRes.getMessage.contains("__zb"), eRes.getMessage)
  }

  test("absorb: envelope clamps are counted, schema drift refuses, crash debris stays invisible") {
    val root = QueriesShared.tempDir("graft_zstore2").toString + "/t"
    ZStore.init(grid(0, 3600), Seq("x", "y"), root, bits = 4, bucketBits = 3)
    // a batch beyond the stamped [0, 59] envelope: clamps into the
    // edge bucket, queryable, counted in the report
    val out = spark.range(20).select(
      (col("id") + 100).cast("double").as("x"),
      lit(5.0).as("y"), (col("id") + 90000).as("rid"))
    val r = ZStore.absorb(spark, root, out)
    assert(r.outOfEnvelopeRows == 20, r.toString)
    assert(ZStore.read(spark, root).filter(col("x") >= 100).count() == 20)
    // schema drift refuses loudly
    val e = intercept[IllegalArgumentException] {
      ZStore.absorb(spark, root,
        spark.range(3).select(col("id").cast("double").as("x"),
          col("id").as("rid")))
    }
    assert(e.getMessage.contains("schema"), e.getMessage)
    // empty batch: no version published
    val (_, _, vBefore) = ZStore.loadCurrent(spark, root)
    val r0 = ZStore.absorb(spark, root, grid(0, 3600).filter(lit(false)))
    assert(r0.version == vBefore && r0.rowsAbsorbed == 0, r0.toString)
    // crash debris: an uncommitted staging dir is invisible to readers
    // and swept by prune
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(
      spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(new org.apache.hadoop.fs.Path(root, ".zbuild_v1_dead"))
    assert(ZStore.loadCurrent(spark, root)._3 == vBefore)
    ZStore.prune(spark, root, keep = 1)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(root, ".zbuild_v1_dead")))
    // no committed version: loud
    intercept[IllegalArgumentException] {
      ZStore.read(spark, QueriesShared.tempDir("graft_zempty").toString)
    }
    // TYPE drift with matching names refuses too — a name-only gate
    // would publish parquet files the pool's union read cannot
    // reconcile (int32 x next to double x)
    val eType = intercept[IllegalArgumentException] {
      ZStore.absorb(spark, root, spark.range(3).select(
        col("id").cast("int").as("x"),
        lit(5.0).as("y"), col("id").as("rid")))
    }
    assert(eType.getMessage.contains("x: int"), eType.getMessage)
  }

  test("advice: persisted clamp counters drive the relayout/maintain/healthy decision without a data scan") {
    val root = QueriesShared.tempDir("graft_zadvice").toString + "/t"
    ZStore.init(grid(0, 3600), Seq("x", "y"), root, bits = 4, bucketBits = 3)
    assert(ZStore.stats(spark, root) == ZStore.ZStats(0L, 0L))
    val a0 = ZStore.advice(spark, root, minAbsorbed = 100)
    assert(a0.action == "healthy", a0.toString)
    // in-envelope absorb fragments buckets but clamps nothing
    ZStore.absorb(spark, root, grid(3600, 7200))
    assert(ZStore.stats(spark, root) == ZStore.ZStats(3600L, 0L))
    val a1 = ZStore.advice(spark, root, minAbsorbed = 100)
    assert(a1.action == "maintain" && a1.fragmentedBuckets > 0, a1.toString)
    // maintain folds the fragments and CARRIES the counters
    ZStore.maintain(spark, root)
    assert(ZStore.stats(spark, root) == ZStore.ZStats(3600L, 0L))
    assert(ZStore.advice(spark, root, minAbsorbed = 100).action == "healthy")
    // heavy out-of-envelope mass: over the floor → relayout advice,
    // with the cumulative fraction in the reason
    val far = spark.range(900).select(
      (col("id") + 5000).cast("double").as("x"),
      lit(5.0).as("y"), (col("id") + 80000).as("rid"))
    ZStore.absorb(spark, root, far)
    assert(ZStore.stats(spark, root) == ZStore.ZStats(4500L, 900L))
    val a2 = ZStore.advice(spark, root, clampFloor = 0.05, minAbsorbed = 100)
    assert(a2.action == "relayout", a2.toString)
    assert(a2.stats.clampFraction > 0.15 && a2.reason.contains("envelope"),
      a2.toString)
    // ...but a tiny early batch cannot trigger a full-table rewrite
    val aMin = ZStore.advice(spark, root, clampFloor = 0.05,
      minAbsorbed = 1000000L)
    assert(aMin.action != "relayout", aMin.toString)
    // relayout resets the counters (fresh envelopes) and the advice
    // returns to healthy/maintain
    ZStore.relayout(spark, root)
    assert(ZStore.stats(spark, root) == ZStore.ZStats(0L, 0L))
    assert(ZStore.advice(spark, root, minAbsorbed = 100).action == "healthy")
    assert(ZStore.read(spark, root).count() == 8100)
  }

  test("ZIngest: micro-batches absorb O(batch), compaction triggers on the advice, versions self-prune") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val root = QueriesShared.tempDir("graft_zingest").toString + "/t"
    // the store must exist before the stream starts (the layout's
    // envelopes come from a representative base, not the first batch)
    ZStore.init(grid(0, 3600), Seq("x", "y"), root, bits = 4, bucketBits = 3)
    val stream = MemoryStream[(Double, Double, Long)]
    val q = stream.toDF.toDF("x", "y", "rid")
      .writeStream
      .foreachBatch(graft.streaming.ZIngest.absorbingSink(
        root, maxFilesPerBucket = 3, keepVersions = 2) _)
      .start()
    try {
      (1 to 5).foreach { i =>
        stream.addData((0 until 300).map(j =>
          (((i * 300 + j) % 60).toDouble, (((i * 300 + j) / 60) % 60).toDouble,
            10000L + i * 300 + j)): _*)
        q.processAllAvailable()
      }
      // every streamed row is queryable alongside the base
      val back = ZStore.read(spark, root)
      assert(back.count() == 3600 + 5 * 300)
      assert(back.filter(col("rid") >= 10000).count() == 1500)
      // the advice-triggered fold kept every bucket under the cap
      val (_, man, _) = ZStore.loadCurrent(spark, root)
      assert(man.groupBy(_.bucket).forall(_._2.length <= 3),
        man.groupBy(_.bucket).map(_._2.length).toSeq.sorted.toString)
      // self-pruning held the version count at the retention window
      assert(IndexStore.committedVersions(spark, root).length <= 2)
      // clamp counters persisted across the whole stream (all batches
      // in-envelope here)
      assert(ZStore.stats(spark, root) == ZStore.ZStats(1500L, 0L))
      // a replayed empty batch publishes nothing
      val vBefore = ZStore.loadCurrent(spark, root)._3
      q.processAllAvailable()
      assert(ZStore.loadCurrent(spark, root)._3 == vBefore)
    } finally q.stop()
  }

  test("prune on a RELATIVE root relativizes against the qualified path — live files survive") {
    // listFiles returns fully-qualified paths; a raw string-prefix
    // strip against a relative root would relativize nothing and GC
    // every LIVE pool file while the manifest still points at them
    val rel = "target/zrel_" + java.util.UUID.randomUUID().toString.take(8)
    try {
      ZStore.init(grid(0, 1200), Seq("x", "y"), rel, bits = 4, bucketBits = 3)
      ZStore.absorb(spark, rel, grid(1200, 1500))
      val (pruned, deleted) = ZStore.prune(spark, rel, keep = 1)
      assert(pruned == Seq(1L), pruned.toString)
      assert(deleted == 0L,
        s"prune GC'd $deleted LIVE files on a relative root")
      val back = ZStore.read(spark, rel)
      assert(back.count() == 1500)
      assert(back.select("rid").as[Long].collect().toSet ==
        (0L until 1500L).toSet)
    } finally org.apache.commons.io.FileUtils.deleteDirectory(
      new java.io.File(rel))
  }

  test("relayout: fresh envelopes absorb the clamped mass; equal-depth init persists Depth ranks") {
    val root = QueriesShared.tempDir("graft_zrelayout").toString + "/t"
    ZStore.init(grid(0, 3600), Seq("x", "y"), root, bits = 4, bucketBits = 3)
    // a batch far outside the stamped [0, 59] envelope piles into the
    // edge bucket — the drift relayout exists for
    val far = spark.range(400).select(
      (col("id") + 1000).cast("double").as("x"),
      (col("id") % 60).cast("double").as("y"), (col("id") + 50000).as("rid"))
    val r = ZStore.absorb(spark, root, far)
    assert(r.outOfEnvelopeRows == 400, r.toString)
    val (metaOld, _, vOld) = ZStore.loadCurrent(spark, root)
    val vNew = ZStore.relayout(spark, root)
    assert(vNew == vOld + 1)
    val (metaNew, manNew, _) = ZStore.loadCurrent(spark, root)
    // the new envelopes COVER the absorbed mass (x max moved past 1000)
    assert(metaNew.ranks.head.isInstanceOf[graft.sources.ZOrderLayout.ZRank.Width])
    val w = metaNew.ranks.head.asInstanceOf[graft.sources.ZOrderLayout.ZRank.Width]
    assert(w.max >= 1399.0, w.toString)
    assert(metaOld.ranks.head
      .asInstanceOf[graft.sources.ZOrderLayout.ZRank.Width].max < 60.0)
    // row identity through the full rewrite; one file per bucket again
    val back = ZStore.read(spark, root)
    assert(back.count() == 4000)
    assert(manNew.groupBy(_.bucket).forall(_._2.length == 1))
    // re-absorbing the same far range now clamps NOTHING
    val r2 = ZStore.absorb(spark, root, far.withColumn("rid", col("rid") + 1000))
    assert(r2.outOfEnvelopeRows == 0, r2.toString)
    // equal-depth init: Depth ranks persist through the JSON round trip
    val rootD = QueriesShared.tempDir("graft_zdepthstore").toString + "/t"
    val skewed = spark.range(2000).select(
      when(col("id") % 20 === 0, (col("id") % 100) * lit(10000.0))
        .otherwise((col("id") % 100).cast("double")).as("rev"),
      (col("id") % 40).cast("double").as("u"), col("id").as("rid"))
    ZStore.init(skewed, Seq("rev", "u"), rootD, bits = 4, bucketBits = 3,
      equalDepth = true)
    val (metaD, _, _) = ZStore.loadCurrent(spark, rootD)
    val depth = metaD.ranks.head
    assert(depth.isInstanceOf[graft.sources.ZOrderLayout.ZRank.Depth])
    assert(depth.asInstanceOf[graft.sources.ZOrderLayout.ZRank.Depth]
      .bounds.length == 15)
    assert(ZStore.read(spark, rootD).count() == 2000)
    // and an absorbed batch ranks against the SAME persisted bounds
    val rD = ZStore.absorb(spark, rootD, skewed.withColumn("rid", col("rid") + 10000))
    assert(rD.rowsAbsorbed == 2000 && rD.outOfEnvelopeRows == 0, rD.toString)
    assert(ZStore.read(spark, rootD).count() == 4000)
  }

  test("a string dimension rides the lifecycle: dictionary envelopes persist in _zmeta and unseen values clamp") {
    val root = QueriesShared.tempDir("graft_zstore3").toString + "/t"
    val tenants = Seq("acme", "bravo", "corex", "delta")
    val docs = spark.range(800).select(
      element_at(typedlit(tenants), (col("id") % 4 + 1).cast("int"))
        .as("tenant"),
      (col("id") % 100).cast("double").as("ts"), col("id").as("rid"))
    ZStore.init(docs, Seq("tenant", "ts"), root, bits = 4, bucketBits = 3)
    // the dictionary survives the JSON round trip (meta is re-read on
    // every lifecycle call)
    val (meta, _, _) = ZStore.loadCurrent(spark, root)
    assert(meta.ranks.head ==
      graft.sources.ZOrderLayout.ZRank.Dict(tenants.sorted))
    // an absorbed batch with one UNSEEN tenant: clamps + counted
    val batch = spark.range(40).select(
      when(col("id") % 2 === 0, "acme").otherwise("zulu").as("tenant"),
      (col("id") % 100).cast("double").as("ts"), (col("id") + 1000).as("rid"))
    val r = ZStore.absorb(spark, root, batch)
    assert(r.outOfEnvelopeRows == 20, r.toString)
    val back = ZStore.read(spark, root)
    assert(back.count() == 840)
    assert(back.filter(col("tenant") === "zulu").count() == 20)
    // equality predicates on the string dim prune: most files hold few
    // distinct tenants
    val perFile = back.groupBy(input_file_name())
      .agg(countDistinct(col("tenant")).as("n")).select("n").as[Long].collect()
    assert(perFile.sum.toDouble / perFile.length <= 3.0, perFile.mkString(","))
  }

  test("delete/upsert by id: copy-on-write touches only affected buckets, upsert is idempotent, gates refuse loudly") {
    val root = QueriesShared.tempDir("graft_zdelete").toString + "/t"
    ZStore.init(grid(0, 3600), Seq("x", "y"), root, bits = 4, bucketBits = 4)
    val (_, man0, _) = ZStore.loadCurrent(spark, root)
    val nBuckets0 = man0.map(_.bucket).distinct.length
    // delete rids 0..99 (y in [0, 1] — a localized curve region)
    val tomb = spark.range(0, 100).select(col("id").as("rid"))
    val r = ZStore.delete(spark, root, tomb, "rid")
    assert(r.version.isDefined && r.rowsDeleted == 100, r.toString)
    assert(r.bucketsRewritten < nBuckets0,
      s"a localized delete rewrote ${r.bucketsRewritten} of $nBuckets0 " +
        "buckets — copy-on-write must touch only the affected ones")
    val afterDel = ZStore.read(spark, root)
    assert(afterDel.count() == 3500)
    assert(afterDel.filter(col("rid") < 100).count() == 0)
    // delete is LOGICAL until prune: the pre-delete snapshot still
    // reads the rows (time travel over the shared pool)...
    assert(ZStore.readVersion(spark, root, 1L)
      .filter(col("rid") < 100).count() == 100)
    // ...and prune makes it PHYSICAL: the superseded version dies and
    // the deleted rows are no longer anywhere in the pool
    ZStore.prune(spark, root, keep = 1)
    intercept[IllegalArgumentException] {
      ZStore.readVersion(spark, root, 1L)
    }
    // physical check over EVERYTHING left on disk, not just the
    // current manifest's view of it
    val allOnDisk = {
      val fs = org.apache.hadoop.fs.FileSystem.getLocal(
        spark.sparkContext.hadoopConfiguration)
      val it = fs.listFiles(new org.apache.hadoop.fs.Path(root, "data"), true)
      val b = Seq.newBuilder[String]
      while (it.hasNext) {
        val f = it.next().getPath
        if (f.getName.endsWith(".parquet")) b += f.toString
      }
      b.result()
    }
    assert(spark.read.parquet(allOnDisk: _*)
      .filter(col("rid") < 100).count() == 0,
      "pruned pool still physically holds logically deleted rows")
    // untouched buckets' files are SHARED with the previous version
    val (_, man1, _) = ZStore.loadCurrent(spark, root)
    assert(man0.map(_.path).toSet.intersect(man1.map(_.path).toSet).nonEmpty,
      "delete rewrote every file — the copy-on-write sharing is broken")
    // a tombstone set with no hit publishes nothing
    val miss = spark.range(90000, 90010).select(col("id").as("rid"))
    val r2 = ZStore.delete(spark, root, miss, "rid")
    assert(r2.version.isEmpty && r2.rowsDeleted == 0, r2.toString)
    // upsert: rids 100..199 move to a new curve position with new values
    val batch = spark.range(100, 200).select(
      lit(7.0).as("x"), lit(7.0).as("y"), col("id").as("rid"))
    val u = ZStore.upsert(spark, root, batch, "rid")
    assert(u.rowsUpserted == 100 && u.oldCopiesRemoved == 100, u.toString)
    val afterUp = ZStore.read(spark, root)
    assert(afterUp.count() == 3500, "upsert must replace, not append")
    assert(afterUp.filter(col("rid").between(100, 199))
      .filter(col("x") === 7.0 && col("y") === 7.0).count() == 100)
    // idempotent: re-applying the same batch replaces its own rows
    val u2 = ZStore.upsert(spark, root, batch, "rid")
    assert(u2.oldCopiesRemoved == 100, u2.toString)
    assert(ZStore.read(spark, root).count() == 3500)
    // pure insert (no prior copies) degenerates to an absorb
    val ins = spark.range(50000, 50050).select(
      (col("id") % 60).cast("double").as("x"), lit(3.0).as("y"),
      col("id").as("rid"))
    val u3 = ZStore.upsert(spark, root, ins, "rid")
    assert(u3.rowsUpserted == 50 && u3.oldCopiesRemoved == 0, u3.toString)
    assert(ZStore.read(spark, root).count() == 3550)
    // duplicate ids WITHIN a batch collapse to one row
    val dup = spark.range(60000, 60010).select(
      lit(1.0).as("x"), lit(1.0).as("y"), lit(77777L).as("rid"))
    val u4 = ZStore.upsert(spark, root, dup, "rid")
    assert(u4.rowsUpserted == 1, u4.toString)
    assert(ZStore.read(spark, root).filter(col("rid") === 77777L).count() == 1)
    // clamp accounting: an out-of-envelope upsert batch is counted
    val statsBefore = ZStore.stats(spark, root)
    val far = spark.range(3).select(lit(9999.0).as("x"), lit(5.0).as("y"),
      (col("id") + 70000).as("rid"))
    val u5 = ZStore.upsert(spark, root, far, "rid")
    assert(u5.outOfEnvelopeRows == 3, u5.toString)
    assert(ZStore.stats(spark, root).oobRows == statsBefore.oobRows + 3)
    // unknown id column refuses by name
    val e = intercept[IllegalArgumentException] {
      ZStore.delete(spark, root, tomb.withColumnRenamed("rid", "zid"), "zid")
    }
    assert(e.getMessage.contains("zid"), e.getMessage)
    // a store-emptying delete refuses (unreadable layout)
    intercept[IllegalStateException] {
      ZStore.delete(spark, root, ZStore.read(spark, root).select("rid"), "rid")
    }
    assert(ZStore.read(spark, root).count() == 3554,
      "the refused delete must leave the store unchanged")
    // FILE granularity (round 20): ids living only in absorbed files
    // leave the INIT files of the very same buckets untouched — a
    // bucket-granular rewrite would rewrite them all
    val rootF = QueriesShared.tempDir("graft_zfilegran").toString + "/t"
    ZStore.init(grid(0, 3600), Seq("x", "y"), rootF, bits = 4, bucketBits = 4)
    val (_, manInit, _) = ZStore.loadCurrent(spark, rootF)
    ZStore.absorb(spark, rootF, grid(3600, 7200))
    val rF = ZStore.delete(spark, rootF,
      spark.range(3600, 3700).select(col("id").as("rid")), "rid")
    assert(rF.rowsDeleted == 100, rF.toString)
    val (_, manAfter, _) = ZStore.loadCurrent(spark, rootF)
    assert(manInit.map(_.path).toSet.subsetOf(manAfter.map(_.path).toSet),
      "file-granular delete must not rewrite init files that merely " +
        "share a bucket with the affected absorbed files")
    assert(ZStore.read(spark, rootF).count() == 7100)
  }

  test("absorb batchId: a replayed batch no-ops, the persisted id survives maintain/relayout/prune, the sink is effectively-once") {
    val root = QueriesShared.tempDir("graft_zreplay").toString + "/t"
    ZStore.init(grid(0, 1200), Seq("x", "y"), root, bits = 4, bucketBits = 3)
    assert(ZStore.lastAbsorbedBatchId(spark, root) == -1L)
    val r0 = ZStore.absorb(spark, root, grid(1200, 1500), batchId = Some(0L))
    assert(r0.rowsAbsorbed == 300, r0.toString)
    assert(ZStore.lastAbsorbedBatchId(spark, root) == 0L)
    val vAfter = ZStore.loadCurrent(spark, root)._3
    // at-least-once redelivery: the replay publishes NOTHING
    val rr = ZStore.absorb(spark, root, grid(1200, 1500), batchId = Some(0L))
    assert(rr.rowsAbsorbed == 0 && rr.reason.contains("replay"), rr.toString)
    assert(ZStore.loadCurrent(spark, root)._3 == vAfter)
    assert(ZStore.read(spark, root).count() == 1500)
    // an untracked absorb is plain append and leaves the id alone
    ZStore.absorb(spark, root, grid(1500, 1600))
    assert(ZStore.lastAbsorbedBatchId(spark, root) == 0L)
    // the id rides every publish — including relayout's stats RESET
    // (stream progress is orthogonal to envelopes)
    ZStore.maintain(spark, root)
    ZStore.relayout(spark, root)
    ZStore.prune(spark, root, keep = 1)
    assert(ZStore.lastAbsorbedBatchId(spark, root) == 0L)
    assert(ZStore.stats(spark, root) == ZStore.ZStats(0L, 0L))
    // the next tracked batch advances the id
    val r1 = ZStore.absorb(spark, root, grid(1600, 1700), batchId = Some(1L))
    assert(r1.rowsAbsorbed == 100)
    assert(ZStore.lastAbsorbedBatchId(spark, root) == 1L)
    // end-to-end: the foreachBatch body called twice with one batchId
    // (the crash-between-publish-and-checkpoint replay) absorbs once
    val sink = graft.streaming.ZIngest.absorbingSink(
      root, maxFilesPerBucket = 3) _
    sink(grid(1700, 1800), 2L)
    assert(ZStore.read(spark, root).count() == 1800)
    sink(grid(1700, 1800), 2L)
    assert(ZStore.read(spark, root).count() == 1800,
      "a replayed micro-batch duplicated rows")
  }

  test("advice recommends the equal-depth rank family from manifest occupancy alone") {
    // single clustered dimension, heavy-tailed: 95% of rows share the
    // bottom width bucket, the 5% tail spreads to 1e6 — the regime the
    // 60M probe measured 7.6x for the equal-depth rank
    // tail values hit every width bucket 1..15, so the pile is pure
    // body concentration: max bucket 3800 vs mean 4000/16 = 250 -> 15x
    def skewed(n: Int) = spark.range(n).select(
      when(col("id") % 20 === 0, ((col("id") / 20) % 15 + 1) * lit(100000.0))
        .otherwise((col("id") % 50).cast("double")).as("x"),
      col("id").as("rid"))
    val root = QueriesShared.tempDir("graft_zskewadv").toString + "/t"
    ZStore.init(skewed(4000), Seq("x"), root, bits = 4, bucketBits = 4)
    val a = ZStore.advice(spark, root)
    assert(a.occupancySkew.exists(_ > 8.0), a.toString)
    assert(a.equalDepth, a.toString)
    assert(a.reason.contains("equalDepth"), a.reason)
    // a uniform store recommends nothing
    val rootU = QueriesShared.tempDir("graft_zuniadv").toString + "/t"
    ZStore.init(grid(0, 3600), Seq("x", "y"), rootU, bits = 4, bucketBits = 4)
    val au = ZStore.advice(spark, rootU)
    assert(!au.equalDepth && au.occupancySkew.exists(_ < 8.0), au.toString)
    // a depth-ranked store has no width dimension to switch — no hint
    val rootD = QueriesShared.tempDir("graft_zdepadv").toString + "/t"
    ZStore.init(skewed(4000), Seq("x"), rootD, bits = 4, bucketBits = 4,
      equalDepth = true)
    val ad = ZStore.advice(spark, rootD)
    assert(!ad.equalDepth && ad.occupancySkew.isEmpty, ad.toString)
    // acting on the hint flips the family and the pile-up dissolves
    ZStore.relayout(spark, root, equalDepth = a.equalDepth)
    val (metaR, manR, _) = ZStore.loadCurrent(spark, root)
    assert(metaR.ranks.head
      .isInstanceOf[graft.sources.ZOrderLayout.ZRank.Depth])
    val occ = manR.groupBy(_.bucket).map(_._2.map(_.rows).sum).filter(_ > 0)
    assert(occ.max.toDouble / (occ.sum.toDouble / occ.size) < 3.0,
      s"equal-depth relayout left occupancy piled: ${occ.toSeq.sorted}")
    assert(ZStore.read(spark, root).count() == 4000)
  }

  test("maintain folds only the k dirtiest buckets per call and discloses the deferral; bounded calls converge") {
    val root = QueriesShared.tempDir("graft_zfoldk").toString + "/t"
    ZStore.init(grid(0, 3600), Seq("x", "y"), root, bits = 4, bucketBits = 4)
    (1 to 3).foreach(i =>
      ZStore.absorb(spark, root, grid(3600L * i, 3600L * (i + 1))))
    val (_, man, _) = ZStore.loadCurrent(spark, root)
    val dirtyBefore = man.groupBy(_.bucket).count(_._2.length > 1)
    assert(dirtyBefore > 4, s"fixture not fragmented enough: $dirtyBefore")
    val m1 = ZStore.maintain(spark, root, maxFilesPerBucket = 1,
      maxBucketsPerFold = 2)
    assert(m1.dirtyBuckets == 2, m1.toString)
    assert(m1.bucketsDeferred == dirtyBefore - 2, m1.toString)
    assert(m1.reason.contains("deferred"), m1.reason)
    // repeated bounded calls converge to fully folded, rows intact
    var guard = 0
    while (ZStore.maintain(spark, root, 1, 2).version.isDefined &&
      guard < 30) guard += 1
    val (_, manEnd, _) = ZStore.loadCurrent(spark, root)
    assert(manEnd.groupBy(_.bucket).forall(_._2.length == 1))
    assert(ZStore.read(spark, root).count() == 4 * 3600)
  }

  test("manifest v1 (no per-file rows, no lastBatchId) parses as unknown; v2 round-trips") {
    val m = ZStore.parseManifest(
      """{"absorbedRows": 5, "oobRows": 1,
        "files": [{"path": "data/a/__zb=0/f.parquet", "bucket": 0}]}""")
    assert(m.files == Seq(ZStore.ZFile("data/a/__zb=0/f.parquet", 0, -1L)))
    assert(m.stats == ZStore.ZStats(5L, 1L) && m.lastBatchId == -1L)
    val v2 = ZStore.ZManifest(Seq(ZStore.ZFile("p", 3, 42L)),
      ZStore.ZStats(7L, 2L), 9L)
    assert(ZStore.parseManifest(
      ZStore.manifestJson(v2.files, v2.stats, v2.lastBatchId)) == v2)
  }

  test("ZIngest: relayout advice pending offline still folds fragmentation inline") {
    val root = QueriesShared.tempDir("graft_zpend").toString + "/t"
    ZStore.init(grid(0, 1200), Seq("x", "y"), root, bits = 4, bucketBits = 3)
    val sink = graft.streaming.ZIngest.absorbingSink(root,
      maxFilesPerBucket = 1, clampFloor = 0.01, minAbsorbed = 10,
      relayoutInline = false) _
    // every batch far outside the stamped envelope: clamp mass trips
    // the relayout advice from the first batch on
    (0 until 3).foreach { i =>
      sink(spark.range(200).select(
        (col("id") + 5000).cast("double").as("x"),
        (col("id") % 60).cast("double").as("y"),
        (col("id") + 90000 + i * 1000).as("rid")), i.toLong)
    }
    val ad = ZStore.advice(spark, root, 1, 0.01, 10)
    assert(ad.action == "relayout", ad.toString)
    // the fallback fold ran anyway: fragmentation stayed bounded while
    // the relayout waits for the offline scheduler
    val (_, man, _) = ZStore.loadCurrent(spark, root)
    val maxFiles = man.groupBy(_.bucket).map(_._2.length).max
    assert(maxFiles <= 2,
      s"fragmentation grew unbounded under pending relayout: $maxFiles")
    assert(ZStore.read(spark, root).count() == 1800)
  }

  test("ZIngest.upsertingSink: streamed upserts replace by id, replays skip, housekeeping and retention run") {
    val root = QueriesShared.tempDir("graft_zupsink").toString + "/t"
    ZStore.init(grid(0, 2400), Seq("x", "y"), root, bits = 4, bucketBits = 3)
    val sink = graft.streaming.ZIngest.upsertingSink(root, "rid",
      maxFilesPerBucket = 2, keepVersions = 2) _
    // batch 0 REVISES rids 0..199 (new curve position and values) and
    // INSERTS 100 fresh rows — the mixed shape a revision stream has
    val b0 = spark.range(0, 300).select(
      when(col("id") < 200, lit(9.0)).otherwise((col("id") % 60).cast("double")).as("x"),
      lit(9.0).as("y"),
      when(col("id") < 200, col("id")).otherwise(col("id") + 10000).as("rid"))
    sink(b0, 0L)
    val after0 = ZStore.read(spark, root)
    assert(after0.count() == 2500, "200 replaced + 100 inserted on 2400")
    assert(after0.filter(col("rid") < 200 && col("x") === 9.0).count() == 200)
    assert(ZStore.lastAbsorbedBatchId(spark, root) == 0L)
    // the at-least-once redelivery: content AND stats unchanged
    val statsBefore = ZStore.stats(spark, root)
    val vBefore = ZStore.loadCurrent(spark, root)._3
    sink(b0, 0L)
    assert(ZStore.loadCurrent(spark, root)._3 == vBefore,
      "a replayed upsert batch published a version")
    assert(ZStore.stats(spark, root) == statsBefore)
    assert(ZStore.read(spark, root).count() == 2500)
    // further batches keep the file cap through the advice-driven fold
    (1 to 4).foreach { i =>
      sink(spark.range(i * 1000, i * 1000 + 200).select(
        (col("id") % 60).cast("double").as("x"),
        ((col("id") / 60) % 60).cast("double").as("y"),
        (col("id") + 20000).as("rid")), i.toLong)
    }
    val (_, man, _) = ZStore.loadCurrent(spark, root)
    assert(man.groupBy(_.bucket).forall(_._2.length <= 2),
      man.groupBy(_.bucket).map(_._2.length).toSeq.sorted.toString)
    assert(IndexStore.committedVersions(spark, root).length <= 2)
    assert(ZStore.read(spark, root).count() == 2500 + 4 * 200)
    // an empty batch publishes nothing
    val vEnd = ZStore.loadCurrent(spark, root)._3
    sink(grid(0, 10).filter(lit(false)), 99L)
    assert(ZStore.loadCurrent(spark, root)._3 == vEnd)
  }

  test("writeFanOut: contiguous sub-range files per bucket — parallel writes, envelopes tighter not looser") {
    val root = QueriesShared.tempDir("graft_zfan").toString + "/t"
    ZStore.init(grid(0, 7200), Seq("x", "y"), root, bits = 4, bucketBits = 3,
      writeFanOut = 4)
    val (_, man, _) = ZStore.loadCurrent(spark, root)
    val perBucket = man.groupBy(_.bucket).map(_._2.length)
    assert(perBucket.max <= 4 && perBucket.max > 1,
      s"fanOut 4 should yield up to 4 files per bucket: ${perBucket.toSeq.sorted}")
    // row identity + per-file spans still INSIDE the bucket envelope:
    // mean span must not exceed the one-file-per-bucket layout's
    // (sub-ranges are strict subsets, so it should be smaller)
    val fanned = ZStore.read(spark, root)
    assert(fanned.count() == 7200)
    assert(fanned.select("rid").as[Long].collect().toSet ==
      (0L until 7200L).toSet)
    val rootRef = QueriesShared.tempDir("graft_zfanref").toString + "/t"
    ZStore.init(grid(0, 7200), Seq("x", "y"), rootRef, bits = 4, bucketBits = 3)
    assert(meanSpan(fanned, "x") <= meanSpan(ZStore.read(spark, rootRef), "x")
      + 1e-9,
      "sub-range files must not widen per-file envelopes")
    // maintain folds a fragmented store back to writeFanOut files per
    // bucket, and refuses a fanOut that would re-trip itself
    ZStore.absorb(spark, root, grid(7200, 10800))
    ZStore.absorb(spark, root, grid(10800, 14400))
    val m = ZStore.maintain(spark, root, maxFilesPerBucket = 4,
      writeFanOut = 2)
    assert(m.version.isDefined, m.toString)
    val (_, manM, _) = ZStore.loadCurrent(spark, root)
    assert(manM.groupBy(_.bucket).forall(_._2.length <= 4))
    assert(ZStore.read(spark, root).count() == 14400)
    intercept[IllegalArgumentException] {
      ZStore.maintain(spark, root, maxFilesPerBucket = 2, writeFanOut = 4)
    }
    // loud guards: non-power-of-two, and more split bits than the key
    // has below the bucket bits
    intercept[IllegalArgumentException] {
      ZStore.init(grid(0, 100), Seq("x", "y"),
        root + "_g1", bits = 4, bucketBits = 3, writeFanOut = 3)
    }
    intercept[IllegalArgumentException] {
      ZStore.init(grid(0, 100), Seq("x", "y"),
        root + "_g2", bits = 2, bucketBits = 3, writeFanOut = 4)
    }
  }

  test("readRange: manifest-level bucket pruning is conservative-correct, skips real files, and honors dictionary clamp mass") {
    val root = QueriesShared.tempDir("graft_zrange").toString + "/t"
    ZStore.init(grid(0, 7200), Seq("x", "y"), root, bits = 4, bucketBits = 4)
    val (meta, man, _) = ZStore.loadCurrent(spark, root)
    // identity: readRange == read().filter(...) for a grid of boxes,
    // including boxes beyond the envelopes (clamp monotonicity) and a
    // degenerate point box
    val boxes = Seq((5.0, 20.0, 30.0, 45.0), (0.0, 59.0, 0.0, 59.0),
      (58.0, 300.0, -10.0, 2.0), (7.0, 7.0, 33.0, 33.0))
    boxes.foreach { case (xl, xh, yl, yh) =>
      val got = ZStore.readRange(spark, root,
        Map("x" -> (xl, xh), "y" -> (yl, yh)))
        .select("rid").as[Long].collect().toSet
      val want = ZStore.read(spark, root)
        .filter(col("x").between(xl, xh) && col("y").between(yl, yh))
        .select("rid").as[Long].collect().toSet
      assert(got == want, s"box ($xl,$xh)x($yl,$yh)")
    }
    // the pruning is REAL: a selective box keeps a strict minority of
    // buckets (and therefore of files)
    val kept = ZStore.rangeKeptBuckets(meta, oobSeen = false,
      Map("x" -> (5.0, 20.0), "y" -> (30.0, 45.0)))
    assert(kept.size < meta.nBuckets / 2,
      s"selective box kept ${kept.size} of ${meta.nBuckets} buckets")
    assert(man.count(f => kept.toSet(f.bucket)) < man.length / 2)
    // provably-empty dict slice returns an EMPTY frame without
    // scanning data — and clamped (out-of-dictionary) strings are
    // still found once the store has absorbed any
    val tenants = Seq("acme", "bravo", "corex", "delta")
    val docs = spark.range(800).select(
      element_at(typedlit(tenants), (col("id") % 4 + 1).cast("int"))
        .as("tenant"),
      (col("id") % 100).cast("double").as("ts"), col("id").as("rid"))
    val rootD = QueriesShared.tempDir("graft_zrangedict").toString + "/t"
    ZStore.init(docs, Seq("tenant", "ts"), rootD, bits = 4, bucketBits = 3)
    assert(ZStore.readRange(spark, rootD,
      Map("tenant" -> ("x", "z"))).count() == 0)
    val zulu = spark.range(20).select(lit("zulu").as("tenant"),
      (col("id") % 100).cast("double").as("ts"), (col("id") + 5000).as("rid"))
    ZStore.absorb(spark, rootD, zulu)
    assert(ZStore.readRange(spark, rootD,
      Map("tenant" -> ("x", "zz"))).count() == 20,
      "clamped out-of-dictionary rows must be found via the rank-0 fallback")
    assert(ZStore.readRange(spark, rootD,
      Map("tenant" -> ("bravo", "bravo"))).count() == 200)
    // non-layout column refuses by name
    val e = intercept[IllegalArgumentException] {
      ZStore.readRange(spark, root, Map("rid" -> (0, 10)))
    }
    assert(e.getMessage.contains("rid"), e.getMessage)
  }

  test("autoMaintain: the offline scheduler acts on the advice, rank-family recommendation included") {
    // healthy store: no-op. (grid's y covers [0, 59] only over a full
    // 3600-row period — a shorter slice would stamp a narrow y
    // envelope and turn the next absorb into clamp-driven relayout
    // advice instead of the fragmentation case this stage pins.)
    val rootH = QueriesShared.tempDir("graft_zauto1").toString + "/t"
    ZStore.init(grid(0, 3600), Seq("x", "y"), rootH, bits = 4, bucketBits = 3)
    val rH = ZStore.autoMaintain(spark, rootH, minAbsorbed = 100)
    assert(rH.acted == "none" && rH.version.isEmpty, rH.toString)
    // fragmented store: folds (and prunes to the retention window)
    ZStore.absorb(spark, rootH, grid(3600, 7200))
    val rF = ZStore.autoMaintain(spark, rootH, minAbsorbed = 100,
      keepVersions = 1)
    assert(rF.acted == "maintain" && rF.version.isDefined, rF.toString)
    assert(IndexStore.committedVersions(spark, rootH).length == 1)
    // drifted + piled store: relayout with the advised equal-depth
    val skewed = spark.range(4000).select(
      when(col("id") % 20 === 0, ((col("id") / 20) % 15 + 1) * lit(100000.0))
        .otherwise((col("id") % 50).cast("double")).as("x"),
      col("id").as("rid"))
    val rootD = QueriesShared.tempDir("graft_zauto2").toString + "/t"
    // the pile comes from the BODY (95% of rows in width bucket 0);
    // the relayout signal from a far-out-of-envelope absorbed batch
    ZStore.init(skewed, Seq("x"), rootD, bits = 4, bucketBits = 4)
    ZStore.absorb(spark, rootD, spark.range(200).select(
      (col("id") + 10000000).cast("double").as("x"),
      (col("id") + 50000).as("rid")))
    val adD = ZStore.advice(spark, rootD, clampFloor = 0.01, minAbsorbed = 10)
    assert(adD.action == "relayout" && adD.equalDepth, adD.toString)
    val rD = ZStore.autoMaintain(spark, rootD, clampFloor = 0.01,
      minAbsorbed = 10)
    assert(rD.acted == "relayout-equal-depth" && rD.version.isDefined,
      rD.toString)
    val (metaD, _, _) = ZStore.loadCurrent(spark, rootD)
    assert(metaD.ranks.head
      .isInstanceOf[graft.sources.ZOrderLayout.ZRank.Depth])
    assert(ZStore.read(spark, rootD).count() == 4200)
    // relayout withheld: folds fragmentation meanwhile (the streaming
    // sinks' pending-relayout fallback, batch form)
    val rootW = QueriesShared.tempDir("graft_zauto3").toString + "/t"
    ZStore.init(grid(0, 1200), Seq("x", "y"), rootW, bits = 4, bucketBits = 3)
    val far = spark.range(300).select(
      (col("id") + 5000).cast("double").as("x"), lit(5.0).as("y"),
      (col("id") + 90000).as("rid"))
    ZStore.absorb(spark, rootW, far)
    val rW = ZStore.autoMaintain(spark, rootW, clampFloor = 0.01,
      minAbsorbed = 10, allowRelayout = false)
    assert(rW.advice.action == "relayout", rW.toString)
    assert(rW.acted == "maintain" && rW.reason.contains("withheld"),
      rW.toString)
    val (_, manW, _) = ZStore.loadCurrent(spark, rootW)
    assert(manW.groupBy(_.bucket).forall(_._2.length <= 1))
  }

  test("id statistics: the locate scan prunes by manifest arithmetic; scattered stores degrade conservatively; null ids refuse") {
    val root = QueriesShared.tempDir("graft_zidstat").toString + "/t"
    // layout on the id itself: curve buckets are contiguous id
    // ranges — the monotone-id regime the pruning exists for
    val rows = spark.range(0, 8000).select(
      col("id").cast("double").as("x"), col("id").as("rid"))
    ZStore.init(rows, Seq("x"), root, bits = 6, bucketBits = 4,
      idCol = Some("rid"))
    val (meta, man, _) = ZStore.loadCurrent(spark, root)
    assert(meta.idCol.contains("rid"))
    assert(man.forall(f => f.idMin.isDefined && f.idMax.isDefined),
      s"every init file must stamp id extremes: $man")
    // a localized band admits a strict minority of files
    val band = spark.range(100, 140).select(col("id").as("rid"))
    val cand = ZStore.locateCandidateFiles(meta, man, band, "rid")
    assert(cand.length < man.length / 2,
      s"localized band kept ${cand.length} of ${man.length} files")
    // the per-id test beats one spanning interval: two extreme ids
    // admit only the files that could hold THEM, not everything
    // between (the compliance-delete shape)
    val scattered = Seq(3L, 7777L).toDF("rid")
    val cand2 = ZStore.locateCandidateFiles(meta, man, scattered, "rid")
    assert(cand2.length < man.length / 2,
      s"two scattered ids kept ${cand2.length} of ${man.length} files " +
        "— the per-id admit test must not degrade to their interval")
    // an id column the meta never declared: full manifest, never fewer
    assert(ZStore.locateCandidateFiles(meta, man, band, "x") == man)
    // end-to-end through the pruned path: delete exact, upsert exact
    val del = ZStore.delete(spark, root, band, "rid")
    assert(del.rowsDeleted == 40, del.toString)
    assert(ZStore.read(spark, root)
      .filter(col("rid").between(100, 139)).count() == 0)
    val up = spark.range(200, 220).select(lit(42.0).as("x"),
      col("id").as("rid"))
    val ur = ZStore.upsert(spark, root, up, "rid")
    assert(ur.rowsUpserted == 20 && ur.oldCopiesRemoved == 20, ur.toString)
    assert(ZStore.read(spark, root).count() == 7960)
    // stats survive the whole lifecycle — every rewrite restamps
    ZStore.maintain(spark, root, maxFilesPerBucket = 1)
    ZStore.relayout(spark, root)
    ZStore.prune(spark, root, keep = 1)
    val (meta2, man2, _) = ZStore.loadCurrent(spark, root)
    assert(meta2.idCol.contains("rid"))
    assert(man2.forall(f => f.idMin.isDefined && f.idMax.isDefined),
      "id stats must survive maintain/relayout/prune")
    assert(ZStore.read(spark, root).count() == 7960)
    // null identities refuse loudly on both mutation paths
    val withNull = Seq[Option[Long]](Some(5L), None).toDF("rid")
    val eD = intercept[IllegalArgumentException] {
      ZStore.delete(spark, root, withNull, "rid")
    }
    assert(eD.getMessage.contains("null"), eD.getMessage)
    val eU = intercept[IllegalArgumentException] {
      ZStore.upsert(spark, root,
        withNull.select(lit(1.0).as("x"), col("rid")), "rid")
    }
    assert(eU.getMessage.contains("null"), eU.getMessage)
    // a fractional id is not an identity — init refuses by name
    val eI = intercept[IllegalArgumentException] {
      ZStore.init(rows, Seq("x"),
        QueriesShared.tempDir("graft_zidbad").toString + "/t",
        bits = 6, bucketBits = 4, idCol = Some("x"))
    }
    assert(eI.getMessage.contains("x"), eI.getMessage)
    // string identities stamp (parquet Binary footer stats) and prune
    // in UTF-8 byte order end to end
    val rootS = QueriesShared.tempDir("graft_zidstr").toString + "/t"
    val srows = spark.range(0, 2000).select(
      col("id").cast("double").as("x"),
      format_string("doc%06d", col("id")).as("sid"))
    ZStore.init(srows, Seq("x"), rootS, bits = 6, bucketBits = 4,
      idCol = Some("sid"))
    val (metaS, manS, _) = ZStore.loadCurrent(spark, rootS)
    assert(manS.forall(f => f.idMin.isDefined && f.idMax.isDefined),
      s"string id stats must stamp from the footers: $manS")
    val sband = spark.range(100, 120)
      .select(format_string("doc%06d", col("id")).as("sid"))
    val candStr = ZStore.locateCandidateFiles(metaS, manS, sband, "sid")
    assert(candStr.length < manS.length / 2,
      s"string band kept ${candStr.length} of ${manS.length} files")
    val dS = ZStore.delete(spark, rootS, sband, "sid")
    assert(dS.rowsDeleted == 20, dS.toString)
    assert(ZStore.read(spark, rootS).count() == 1980)
  }

  test("readRange: temporal bounds rank through the epoch mirror, the residual predicate stays typed, numbers refuse") {
    import java.sql.Timestamp
    val root = QueriesShared.tempDir("graft_ztemp").toString + "/t"
    val t0 = java.time.Instant.parse("2024-01-01T00:00:00Z").getEpochSecond
    val rows = spark.range(0, 5000).select(
      (lit(t0) + col("id") * 3600).cast("timestamp").as("ts"),
      (col("id") % 100).cast("double").as("v"),
      col("id").as("rid"))
    ZStore.init(rows, Seq("ts", "v"), root, bits = 5, bucketBits = 6)
    def tsOf(s: String) = Timestamp.from(java.time.Instant.parse(s))
    val (lo, hi) = (tsOf("2024-02-01T00:00:00Z"), tsOf("2024-02-10T00:00:00Z"))
    val got = ZStore.readRange(spark, root, Map("ts" -> (lo, hi)))
      .select("rid").as[Long].collect().toSet
    val want = ZStore.read(spark, root)
      .filter(col("ts") >= lit(lo) && col("ts") <= lit(hi))
      .select("rid").as[Long].collect().toSet
    assert(got == want && got.nonEmpty, s"got ${got.size}, want ${want.size}")
    // the temporal dimension PRUNES (it is no longer a filter-on-top)
    val (meta, man, _) = ZStore.loadCurrent(spark, root)
    val kept = ZStore.rangeKeptBuckets(meta, oobSeen = false,
      ZStore.rankBoundsOf(spark, meta, Map("ts" -> (lo, hi))))
    assert(kept.size < meta.nBuckets / 2,
      s"selective time slice kept ${kept.size} of ${meta.nBuckets} buckets")
    assert(man.count(f => kept.toSet(f.bucket)) < man.length / 2)
    // out-of-envelope temporal bounds clamp to the edge ranks
    // (monotone — the same algebra as numeric width bounds): a range
    // wholly beyond the data is empty, a straddling one finds the edge
    assert(ZStore.readRange(spark, root,
      Map("ts" -> (tsOf("2030-01-01T00:00:00Z"),
        tsOf("2031-01-01T00:00:00Z")))).count() == 0)
    val lastTs = Timestamp.from(
      java.time.Instant.ofEpochSecond(t0 + 4999L * 3600))
    assert(ZStore.readRange(spark, root,
      Map("ts" -> (lastTs, tsOf("2031-01-01T00:00:00Z")))).count() == 1,
      "the envelope-edge row must survive an out-of-envelope hi bound")
    // java.time bounds work too, and agree with the java.sql twins
    val viaInstant = ZStore.readRange(spark, root,
      Map("ts" -> (java.time.Instant.parse("2024-02-01T00:00:00Z"),
        java.time.Instant.parse("2024-02-10T00:00:00Z"))))
      .select("rid").as[Long].collect().toSet
    assert(viaInstant == got)
    // a DATE layout dimension takes LocalDate/Date bounds (ranked at
    // session-zone midnight, exactly as the layout ranked the data)
    val rootD = QueriesShared.tempDir("graft_zdate").toString + "/t"
    val drows = spark.range(0, 2000).select(
      date_add(lit("2024-01-01").cast("date"),
        (col("id") % 500).cast("int")).as("d"),
      col("id").as("rid"))
    ZStore.init(drows, Seq("d"), rootD, bits = 6, bucketBits = 4)
    val (dlo, dhi) = (java.time.LocalDate.parse("2024-03-01"),
      java.time.LocalDate.parse("2024-03-20"))
    val gotD = ZStore.readRange(spark, rootD, Map("d" -> (dlo, dhi)))
      .select("rid").as[Long].collect().toSet
    val wantD = ZStore.read(spark, rootD)
      .filter(col("d") >= lit(dlo) && col("d") <= lit(dhi))
      .select("rid").as[Long].collect().toSet
    assert(gotD == wantD && gotD.nonEmpty)
    // a bare epoch number on a temporal dim refuses loudly — there is
    // no pushdown-able residual predicate to build from it
    val e = intercept[IllegalArgumentException] {
      ZStore.readRange(spark, root, Map("ts" -> (1.0, 2.0)))
    }
    assert(e.getMessage.contains("typed temporal bound"), e.getMessage)
  }

  test("autoMaintain and the streaming fold thread writeFanOut: folded buckets land as fanOut sub-range files") {
    val root = QueriesShared.tempDir("graft_zautofan").toString + "/t"
    ZStore.init(grid(0, 3600), Seq("x", "y"), root, bits = 4, bucketBits = 3)
    ZStore.absorb(spark, root, grid(3600, 7200))
    ZStore.absorb(spark, root, grid(7200, 10800))
    val (_, manBefore, _) = ZStore.loadCurrent(spark, root)
    assert(manBefore.groupBy(_.bucket).exists(_._2.length > 2),
      "fixture must be fragmented past the cap")
    val r = ZStore.autoMaintain(spark, root, maxFilesPerBucket = 2,
      minAbsorbed = 1000000, writeFanOut = 2)
    assert(r.acted == "maintain" && r.version.isDefined, r.toString)
    val (_, man, _) = ZStore.loadCurrent(spark, root)
    val perBucket = man.groupBy(_.bucket).map(_._2.length)
    assert(perBucket.forall(_ <= 2), s"fold must respect the cap: $man")
    assert(perBucket.exists(_ == 2),
      "fanOut 2 must actually split some folded bucket into two files")
    assert(ZStore.read(spark, root).count() == 10800)
    // the guard: a fan-out above the cap would re-trip the fold
    intercept[IllegalArgumentException] {
      ZStore.autoMaintain(spark, root, maxFilesPerBucket = 1,
        writeFanOut = 4)
    }
    intercept[IllegalArgumentException] {
      graft.streaming.ZIngest.absorbingSink(root, maxFilesPerBucket = 1,
        writeFanOut = 4)(grid(0, 10), 99L)
    }
  }
}
