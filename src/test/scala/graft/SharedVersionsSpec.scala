package graft

import graft.sources.{IndexStore, ZStore}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Pair versions over shared files: a refresh over the pair cache's own
  * frame commits one delta file; every other input, and the refresh
  * past [[IndexStore.MaxDeltaFiles]], takes the full write. */
class SharedVersionsSpec extends SparkSpec with JobCount {
  import spark.implicits._

  private val cents = Seq((0L, Seq(0.0, 0.0)), (1L, Seq(4.0, 0.0)),
    (2L, Seq(0.0, 4.0)), (3L, Seq(4.0, 4.0))).toDF("cid", "cvec")

  /** A fresh pair root holding `n` rows over 4 cells (`cluster_id` as
    * long, as `Ann.ivfAssignBig` emits it). */
  private def pairRoot(n: Int = 40): String = {
    val root = QueriesShared.tempDir("graft_shared").toString + "/idx"
    IndexStore.writeVersionedWithCentroids(rows(0, n), cents, root)
    root
  }

  private def rows(from: Int, until: Int): DataFrame =
    (from until until).map(i => (i.toLong, s"doc $i", Seq(i % 4 * 4.0, i.toDouble), (i % 4).toLong))
      .toDF("doc_id", "text", "embedding", "cluster_id")

  /** Every file under the root's data pool, with (length, mtime). */
  private def pool(root: String): Map[String, (Long, Long)] = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles.toSeq.flatMap(walk) else Seq(f)
    walk(new java.io.File(s"$root/data")).map(f =>
      f.getPath -> (f.length, f.lastModified)).toMap
  }

  private def dataFiles(paths: Iterable[String]): Set[String] =
    paths.filter(_.endsWith(".parquet")).toSet

  private def entries(root: String, v: Long): Seq[ZStore.ZFile] =
    ZStore.manifestAt(spark, s"$root/v$v").get.files

  private def deltas(root: String, v: Long): Int =
    entries(root, v).count(_.bucket == IndexStore.DeltaEntry)

  private def baseOf(root: String, v: Long): String =
    entries(root, v).find(_.bucket == IndexStore.BaseEntry).get.path

  private def content(df: DataFrame): Seq[(Long, String, Seq[Double], Long)] =
    df.select(col("doc_id"), col("text"), col("embedding"), col("cluster_id").cast("long"))
      .as[(Long, String, Seq[Double], Long)].collect().toSeq.sortBy(_._1)

  test("a refresh over the cached frame writes one delta file in one job and reads the full write's rows") {
    val root = pairRoot()
    val before = pool(root)
    val (index, cent, v) = IndexStore.loadCurrentWithCentroidsCached(spark, root)
    val (v2, jobs) = jobsOf(IndexStore.writeVersionedWithCentroids(
      index.unionByName(rows(40, 50)), cent, root))
    assert(v2 == v + 1)
    assert(jobs <= 1, s"the refresh commit ran $jobs jobs")
    val after = pool(root)
    val added = dataFiles(after.keySet -- before.keySet)
    assert(added.size == 1 && !added.exists(_.contains("_centroids")), added.toString)
    before.foreach { case (f, st) => assert(after.get(f).contains(st), s"$f changed") }
    assert(deltas(root, v2) == 1 && baseOf(root, v2) == baseOf(root, v))
    // the same input as plain frames takes the full write: same rows, same schema
    val full = QueriesShared.tempDir("graft_shared_full").toString + "/idx"
    IndexStore.writeVersionedWithCentroids(rows(0, 50), cents, full)
    val refreshed = IndexStore.loadCurrentWithCentroids(spark, root)._1
    val written = IndexStore.loadCurrentWithCentroids(spark, full)._1
    assert(refreshed.schema == written.schema)
    assert(content(refreshed) == content(written))
    assert(content(IndexStore.load(spark, s"$root/v$v2")) == content(written))
    assert(IndexStore.pairMeta(spark, root, v2).contains(IndexStore.PairMeta(4L)))
    // the refreshed version's cold load reuses the base and centroid frames
    val ((i2, _, served), loadJobs) = jobsOf(IndexStore.loadCurrentWithCentroidsCached(spark, root))
    assert(served == v2 && loadJobs == 0, s"cold load ran $loadJobs jobs")
    assert(i2.filter(col("cluster_id") === 1).count() == 13)
  }

  test("a full commit stamps nClusters from the written centroid files, with no count job") {
    val root = QueriesShared.tempDir("graft_shared_stamp").toString + "/idx"
    val index = rows(0, 40).localCheckpoint(true)
    val (v, jobs) = jobsOf(IndexStore.writeVersionedWithCentroids(index, cents, root, Some(9)))
    // the shuffle's map stage, the cell-aligned write and the centroid write
    assert(jobs <= 3, s"a full commit ran $jobs jobs")
    assert(IndexStore.pairMeta(spark, root, v).contains(IndexStore.PairMeta(4L, Some(4))))
    assert(entries(root, v).find(_.bucket == IndexStore.CentroidEntry).get.rows == 4L)
  }

  test("every other input takes the full write and commits the right rows") {
    val root = pairRoot()
    val more = rows(40, 45)
    def fullWrite(expected: Seq[Int])(input: (DataFrame, DataFrame) => (DataFrame, DataFrame)): Unit = {
      val (index, cent, v) = IndexStore.loadCurrentWithCentroidsCached(spark, root)
      val (i, c) = input(index, cent)
      val nv = IndexStore.writeVersionedWithCentroids(i, c, root)
      assert(deltas(root, nv) == 0 && baseOf(root, nv) != baseOf(root, v))
      assert(content(IndexStore.loadCurrentWithCentroids(spark, root)._1).map(_._1) ==
        expected.sorted.map(_.toLong))
    }
    fullWrite(0 until 45 filter (_ % 4 != 1)) { (i, c) =>
      (i.filter(col("cluster_id") =!= 1).unionByName(more.filter(col("cluster_id") =!= 1)), c) }
    val now = (0 until 45).filter(_ % 4 != 1)
    fullWrite(now ++ (40 until 45)) { (i, c) =>
      (i.withColumn("text", upper(col("text"))).unionByName(more), c) }
    val twice = (now ++ (40 until 45)) ++ (now ++ (40 until 45))
    fullWrite(twice) { (i, c) => (i.unionByName(i), c) }
    // the same centroid values, but not the version's own centroid frame
    fullWrite(twice ++ (40 until 45)) { (i, _) => (i.unionByName(more), cents) }
    fullWrite((0 until 45).filter(_ % 4 == 1)) { (_, c) =>
      (rows(0, 45).filter(col("cluster_id") === 1), c) }
    // an older version: the cached frame of the version before the newest
    val (stale, cent, _) = IndexStore.loadCurrentWithCentroidsCached(spark, root)
    IndexStore.writeVersionedWithCentroids(rows(100, 101), cents, root)
    val nv = IndexStore.writeVersionedWithCentroids(stale.unionByName(rows(200, 201)), cent, root)
    assert(deltas(root, nv) == 0)
    assert(content(IndexStore.loadCurrentWithCentroids(spark, root)._1).map(_._1) ==
      ((0 until 45).filter(_ % 4 == 1) :+ 200).map(_.toLong))
  }

  test("the refresh past MaxDeltaFiles folds base and deltas into a fresh base") {
    val root = pairRoot(8)
    val v0 = IndexStore.committedVersions(spark, root).last
    (1 to IndexStore.MaxDeltaFiles).foreach { r =>
      val (index, cent, _) = IndexStore.loadCurrentWithCentroidsCached(spark, root)
      val v = IndexStore.writeVersionedWithCentroids(
        index.unionByName(rows(100 * r, 100 * r + 2)), cent, root)
      assert(deltas(root, v) == r && baseOf(root, v) == baseOf(root, v0))
    }
    val (index, cent, _) = IndexStore.loadCurrentWithCentroidsCached(spark, root)
    val folded = IndexStore.writeVersionedWithCentroids(index.unionByName(rows(50, 51)), cent, root)
    assert(deltas(root, folded) == 0 && baseOf(root, folded) != baseOf(root, v0))
    val expected = (0 until 8) ++ (1 to IndexStore.MaxDeltaFiles).flatMap(r =>
      Seq(100 * r, 100 * r + 1)) :+ 50
    assert(content(IndexStore.loadCurrentWithCentroids(spark, root)._1).map(_._1) ==
      expected.sorted.map(_.toLong))
  }

  test("a crash before the publish leaves readers on the old version; prune deletes the orphan file") {
    val root = pairRoot()
    val (index, cent, v) = IndexStore.loadCurrentWithCentroidsCached(spark, root)
    val before = pool(root)
    val v2 = IndexStore.writeVersionedWithCentroids(index.unionByName(rows(40, 50)), cent, root)
    val orphan = dataFiles(pool(root).keySet -- before.keySet)
    assert(orphan.size == 1)
    // un-publish: the delta file is written, the metadata staged, the rename never ran
    assert(new java.io.File(s"$root/v$v2").renameTo(new java.io.File(s"$root/.build_v$v2")))
    val (i, _, served) = IndexStore.loadCurrentWithCentroidsCached(spark, root)
    assert(served == v && i.count() == 40)
    IndexStore.pruneVersions(spark, root, keep = 2)
    assert(orphan.forall(f => !new java.io.File(f).exists()), "orphan delta file survived prune")
    assert(dataFiles(pool(root).keySet) == dataFiles(before.keySet))
    assert(IndexStore.loadCurrentWithCentroids(spark, root)._1.count() == 40)
  }

  test("after commit N+1 and a prune keeping 2, version N still reads all its rows") {
    val root = pairRoot()
    val commit = (r: Int) => {
      val (index, cent, _) = IndexStore.loadCurrentWithCentroidsCached(spark, root)
      IndexStore.writeVersionedWithCentroids(index.unionByName(rows(100 * r, 100 * r + 5)), cent, root)
    }
    commit(1)
    val n = commit(2)
    // N+1 is a full write over new centroids: N's base, centroids and deltas are shared by nothing newer
    val (index, _, _) = IndexStore.loadCurrentWithCentroidsCached(spark, root)
    val n1 = IndexStore.writeVersionedWithCentroids(index.unionByName(rows(300, 305)),
      cents.withColumn("cvec", transform(col("cvec"), x => x + 0.5)), root)
    assert(IndexStore.pruneVersions(spark, root, keep = 2) == Seq(n - 2, n - 1))
    assert(IndexStore.committedVersions(spark, root) == Seq(n, n1))
    assert(content(IndexStore.load(spark, s"$root/v$n")).map(_._1) ==
      ((0 until 40) ++ (100 until 105) ++ (200 until 205)).map(_.toLong))
    assert(IndexStore.load(spark, s"$root/v$n1").count() == 55)
    assert(IndexStore.pruneVersions(spark, root, keep = 1) == Seq(n))
    assert(entries(root, n1).forall(f => new java.io.File(s"$root/${f.path}").exists()))
    assert(new java.io.File(s"$root/data").listFiles.length == 1, s"only v$n1's pool dir is left")
  }
}
