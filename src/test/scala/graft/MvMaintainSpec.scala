package graft

import graft.operators.IncrementalAgg
import graft.sources.IndexStore
import graft.streaming.MvMaintain
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** Streaming MV maintenance: stream == batch recompute, exactly-once
  * absorb under batch replay, checkpoint-identity guard (both the
  * behind-stamp and the equal-id fresh-checkpoint collision), torn
  * mid-write crash recovery, empty-batch no-op. */
class MvMaintainSpec extends SparkSpec {
  import spark.implicits._

  private val keys = Seq("k")
  private val vals = Seq("x")
  private val ck = "ckpt-a"

  private def freshRoot(): String =
    QueriesShared.tempDir("graft_mv_").toString + "/state"

  private def rows: Seq[(String, Long)] = Seq(
    ("a", 1L), ("a", 4L), ("b", 10L), ("b", 2L), ("c", 7L),
    ("a", 9L), ("c", 3L))

  test("streamed absorb over 3 micro-batches equals the batch recompute") {
    implicit val sqlCtx = spark.sqlContext
    val root = freshRoot()
    val stream = MemoryStream[(String, Long)]
    val q = stream.toDF().toDF("k", "x")
      .writeStream.foreachBatch(MvMaintain.absorbSink(root, keys, vals, ck) _)
      .start()
    try {
      rows.grouped(3).foreach { chunk =>
        stream.addData(chunk)
        q.processAllAvailable()
      }
    } finally q.stop()
    val got = MvMaintain.currentReport(spark, root, keys, vals)
      .orderBy("k").collect().toSeq
    val expected = IncrementalAgg.render(keys, vals,
        IncrementalAgg.partials(rows.toDF("k", "x"), keys, vals))
      .orderBy("k").collect().toSeq
    assert(got == expected)
    // one committed version per non-empty micro-batch
    assert(IndexStore.committedVersions(spark, root).size == 3)
  }

  test("a replayed batch id is absorbed exactly once") {
    val root = freshRoot()
    val b0 = rows.take(3).toDF("k", "x")
    MvMaintain.absorbSink(root, keys, vals, ck)(b0, 0L)
    val after1 = MvMaintain.currentReport(spark, root, keys, vals)
      .orderBy("k").collect().toSeq
    val v1 = IndexStore.committedVersions(spark, root)
    // at-least-once delivery: same batch id arrives again (post-crash
    // replay) — a naive absorb would double every sum
    MvMaintain.absorbSink(root, keys, vals, ck)(b0, 0L)
    assert(MvMaintain.currentReport(spark, root, keys, vals)
      .orderBy("k").collect().toSeq == after1)
    assert(IndexStore.committedVersions(spark, root) == v1)
    // the NEXT batch id still absorbs
    MvMaintain.absorbSink(root, keys, vals, ck)(rows.drop(3).toDF("k", "x"), 1L)
    val whole = IncrementalAgg.render(keys, vals,
        IncrementalAgg.partials(rows.toDF("k", "x"), keys, vals))
      .orderBy("k").collect().toSeq
    assert(MvMaintain.currentReport(spark, root, keys, vals)
      .orderBy("k").collect().toSeq == whole)
  }

  test("a batch id BEHIND the stamp from the SAME checkpoint fails loudly") {
    // within one checkpoint only the last batch ever replays, so
    // batchId < stamp is a monotonicity violation — ≤-skipping would
    // silently declare an unabsorbed batch "already absorbed"
    val root = freshRoot()
    MvMaintain.absorbSink(root, keys, vals, ck)(rows.take(3).toDF("k", "x"), 5L)
    val before = MvMaintain.currentReport(spark, root, keys, vals)
      .orderBy("k").collect().toSeq
    val e = intercept[IllegalArgumentException] {
      MvMaintain.absorbSink(root, keys, vals, ck)(rows.drop(3).toDF("k", "x"), 0L)
    }
    assert(e.getMessage.contains("behind the committed stamp"))
    // state untouched by the refused absorb
    assert(MvMaintain.currentReport(spark, root, keys, vals)
      .orderBy("k").collect().toSeq == before)
  }

  test("a DIFFERENT checkpoint fails loudly even when batch ids collide") {
    // the collision a batch-id-only stamp cannot see: a query with a
    // FRESH checkpoint (ids restarted at 0) pointed at state whose
    // stamp is ALSO 0 — an ==-skip would silently drop the new
    // query's first batch as a "replay". The identity stamp makes any
    // cross-checkpoint absorb loud, equal ids or not.
    val root = freshRoot()
    MvMaintain.absorbSink(root, keys, vals, ck)(rows.take(3).toDF("k", "x"), 0L)
    val before = MvMaintain.currentReport(spark, root, keys, vals)
      .orderBy("k").collect().toSeq
    val e = intercept[IllegalArgumentException] {
      MvMaintain.absorbSink(root, keys, vals, "ckpt-b")(
        rows.drop(3).toDF("k", "x"), 0L)
    }
    assert(e.getMessage.contains("built by checkpoint"))
    // a LATER id from the wrong checkpoint is just as refused — the
    // id sequences are incomparable, not merely behind
    val e2 = intercept[IllegalArgumentException] {
      MvMaintain.absorbSink(root, keys, vals, "ckpt-b")(
        rows.drop(3).toDF("k", "x"), 7L)
    }
    assert(e2.getMessage.contains("built by checkpoint"))
    assert(MvMaintain.currentReport(spark, root, keys, vals)
      .orderBy("k").collect().toSeq == before)
  }

  test("a crash mid-writeVersioned is invisible: readers keep the last commit, the retry absorbs past the debris") {
    val root = freshRoot()
    MvMaintain.absorbSink(root, keys, vals, ck)(rows.take(3).toDF("k", "x"), 0L)
    val committed = MvMaintain.currentReport(spark, root, keys, vals)
      .orderBy("k").collect().toSeq
    // simulate the crash window: batch 1's writeVersioned died after
    // landing data files but BEFORE the _SUCCESS marker — exactly what
    // Spark's commit protocol (marker written last) leaves behind
    val torn = IndexStore.committedVersions(spark, root).last + 1
    rows.drop(3).toDF("k", "x")
      .write.parquet(s"$root/v$torn")
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.delete(
      new org.apache.hadoop.fs.Path(s"$root/v$torn/_SUCCESS"), false))
    // readers never see the torn version: current == last commit, and
    // the recovery stamp still says batch 0 (batch 1 never committed)
    assert(MvMaintain.currentReport(spark, root, keys, vals)
      .orderBy("k").collect().toSeq == committed)
    assert(MvMaintain.lastAbsorbedBatch(spark, root) == 0L)
    // foreachBatch re-delivers batch 1 after recovery; the absorb
    // version-advances PAST the debris (never overwrites a directory a
    // concurrent reader might be probing) and lands the full result
    MvMaintain.absorbSink(root, keys, vals, ck)(rows.drop(3).toDF("k", "x"), 1L)
    val whole = IncrementalAgg.render(keys, vals,
        IncrementalAgg.partials(rows.toDF("k", "x"), keys, vals))
      .orderBy("k").collect().toSeq
    assert(MvMaintain.currentReport(spark, root, keys, vals)
      .orderBy("k").collect().toSeq == whole)
    assert(IndexStore.committedVersions(spark, root).last > torn)
    // retention pass sweeps the uncommitted debris
    assert(IndexStore.pruneVersions(spark, root, keep = 1).contains(torn))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$root/v$torn")))
  }

  test("an empty batch commits no version; report before any state fails loudly") {
    val root = freshRoot()
    val e = intercept[IllegalArgumentException] {
      MvMaintain.currentReport(spark, root, keys, vals)
    }
    assert(e.getMessage.contains("no committed index version"))
    MvMaintain.absorbSink(root, keys, vals, ck)(rows.toDF("k", "x").limit(0), 0L)
    assert(IndexStore.committedVersions(spark, root).isEmpty)
    assert(MvMaintain.lastAbsorbedBatch(spark, root) == -1L)
  }
}
