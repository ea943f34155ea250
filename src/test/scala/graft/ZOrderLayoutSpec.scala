package graft

import graft.sources.ZOrderLayout
import org.apache.spark.sql.functions._

/** Z-order layout: the Morton key's bit algebra, row identity across
  * the rewrite, and the property the layout exists for — per-file
  * min/max spans shrink on EVERY interleaved dimension, which is what
  * parquet row-group statistics prune by. */
class ZOrderLayoutSpec extends SparkSpec {
  import spark.implicits._

  test("zorderKey interleaves column ranks bit by bit") {
    // 2 cols, bits=2, values spanning [0, 3] with 4 buckets → the
    // rank IS the value; key = y1 x1 y0 x0 (col 0 owns even bits)
    val df = Seq((0.0, 0.0), (3.0, 0.0), (0.0, 3.0), (3.0, 3.0),
      (1.0, 2.0)).toDF("x", "y")
    val stats = ZOrderLayout.columnStats(df, Seq("x", "y"))
    assert(stats == Seq((0.0, 3.0), (0.0, 3.0)))
    val got = df.select(
        col("x"), col("y"),
        ZOrderLayout.zorderKey(Seq("x", "y"), stats, bits = 2).as("z"))
      .as[(Double, Double, Long)].collect().map(r => (r._1, r._2) -> r._3)
      .toMap
    // hand-interleaved: x=1,y=2 → x bits 01, y bits 10 → z = 1001b = 9
    assert(got((0.0, 0.0)) == 0L)
    assert(got((3.0, 0.0)) == 5L)   // x=11 on even bits: 0101b
    assert(got((0.0, 3.0)) == 10L)  // y=11 on odd bits: 1010b
    assert(got((3.0, 3.0)) == 15L)
    assert(got((1.0, 2.0)) == 9L)
    // nulls and degenerate columns rank 0, never throw
    val withNull = Seq((Some(1.0), 5.0), (None, 5.0)).toDF("x", "y")
    val s2 = ZOrderLayout.columnStats(withNull, Seq("x", "y"))
    assert(s2(1) == (5.0, 5.0)) // degenerate y
    val z2 = withNull.select(
        ZOrderLayout.zorderKey(Seq("x", "y"), s2, bits = 2).as("z"))
      .as[Long].collect()
    assert(z2.forall(_ >= 0))
    intercept[IllegalArgumentException] {
      ZOrderLayout.zorderKey(Seq("x", "y"), s2, bits = 40) // 80 bits > 62
    }
    intercept[IllegalArgumentException] {
      ZOrderLayout.zorderKey(Seq.empty, Seq.empty, bits = 2)
    }
  }

  test("writeZOrdered preserves rows exactly and shrinks per-file spans on BOTH dimensions") {
    // a 60x60 grid, arriving in hash-scattered order (the realistic
    // ingest shape: no natural clustering at all)
    val grid = spark.range(3600).select(
      (col("id") % 60).cast("double").as("x"),
      (col("id") / 60).cast("double").as("y"),
      col("id").as("rid")).repartition(16)
    val dZ = QueriesShared.tempDir("graft_zorder").toString + "/t"
    ZOrderLayout.writeZOrdered(grid, Seq("x", "y"), dZ, nFiles = 16)
    val back = spark.read.parquet(dZ)
    // row identity: the layout is invisible in the data
    assert(back.count() == 3600)
    assert(back.select("rid").as[Long].collect().toSet ==
      (0L until 3600L).toSet)
    assert(back.columns.sorted.toSeq == Seq("rid", "x", "y"))
    // span audit: mean per-file (max-min) on each dimension. The
    // scattered layout makes every file span ~the full range; the
    // Z-order layout assigns each file a contiguous curve segment, so
    // both dimensions' spans shrink together — the min/max statistics
    // parquet row-group pruning feeds on. (A single-column sort would
    // shrink one dimension and leave the other at full span.)
    val dP = QueriesShared.tempDir("graft_plain").toString + "/t"
    grid.write.parquet(dP)
    def meanSpan(path: String, c: String): Double = {
      val spans = spark.read.parquet(path)
        .groupBy(input_file_name()).agg((max(col(c)) - min(col(c))).as("s"))
        .select("s").as[Double].collect()
      spans.sum / spans.length
    }
    val (zx, zy) = (meanSpan(dZ, "x"), meanSpan(dZ, "y"))
    val (px, py) = (meanSpan(dP, "x"), meanSpan(dP, "y"))
    assert(zx < px / 2, s"x span $zx vs scattered $px")
    assert(zy < py / 2, s"y span $zy vs scattered $py")
    // loud guards
    intercept[IllegalArgumentException] {
      ZOrderLayout.writeZOrdered(grid, Seq("nope"), dZ, 4)
    }
    intercept[IllegalArgumentException] {
      ZOrderLayout.writeZOrdered(grid, Seq("x"), dZ, 0)
    }
  }

  test("Morton key is monotone under component-wise rank dominance (exhaustive 8x8)") {
    // the property file-range pruning rests on: if A's rank <= B's rank
    // on EVERY dimension, A's key <= B's key — so a contiguous key
    // range covers a contiguous hyper-rectangle frontier, never an
    // arbitrary scatter. Exhaustive over the full 3-bit 2-dim grid.
    val pts = for { x <- 0 until 8; y <- 0 until 8 } yield (x.toDouble, y.toDouble)
    val df = pts.toDF("x", "y")
    val stats = Seq((0.0, 7.0), (0.0, 7.0))
    val keys = df.select(col("x"), col("y"),
        ZOrderLayout.zorderKey(Seq("x", "y"), stats, bits = 3).as("z"))
      .as[(Double, Double, Long)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    assert(keys.values.toSet.size == 64, "keys must be distinct on the grid")
    assert(keys.values.forall(z => z >= 0 && z < 64))
    for {
      a @ (ax, ay) <- pts
      b @ (bx, by) <- pts
      if ax <= bx && ay <= by
    } assert(keys(a) <= keys(b),
      s"dominance violated: $a -> ${keys(a)} vs $b -> ${keys(b)}")
  }

  test("type dispatch: strings rank via dictionary, dates via epoch, unsupported types refuse by name") {
    import ZOrderLayout.ZRank
    // string dimension: 6 tenants over a numeric time axis — the
    // scaladoc's own "tenant x time" pitch
    val tenants = Seq("acme", "bravo", "corex", "delta", "echo", "fox")
    val df = spark.range(1200).select(
      element_at(typedlit(tenants), (col("id") % 6 + 1).cast("int"))
        .as("tenant"),
      (col("id") % 200).cast("double").as("ts"),
      col("id").as("rid"))
    val ranks = ZOrderLayout.columnRanks(df, Seq("tenant", "ts"), bits = 4)
    assert(ranks.head.isInstanceOf[ZRank.Dict])
    assert(ranks.head.asInstanceOf[ZRank.Dict].values == tenants.sorted)
    // dictionary rank preserves lexicographic ORDER (min/max pruning
    // on the string column itself depends on it) and spreads values
    val rankOf = df.select(col("tenant"),
        ranks.head.rank(col("tenant"), 4).as("r"))
      .distinct().as[(String, Long)].collect().toMap
    val sortedRanks = tenants.sorted.map(rankOf)
    assert(sortedRanks == sortedRanks.sorted, sortedRanks.toString)
    assert(sortedRanks.distinct.length == tenants.length,
      s"6 values must spread over 16 buckets, got $sortedRanks")
    // laid out, the string dimension's per-file distinct-tenant count
    // shrinks vs scattered — the dimension genuinely clusters now
    // (the round-17 cast-to-double form ranked it constant 0)
    val dZ = QueriesShared.tempDir("graft_zdict").toString + "/t"
    ZOrderLayout.writeZOrdered(df, Seq("tenant", "ts"), dZ, nFiles = 12,
      bits = 4)
    val back = spark.read.parquet(dZ)
    assert(back.count() == 1200 &&
      back.select("rid").as[Long].collect().toSet == (0L until 1200L).toSet)
    val perFileTenants = back.groupBy(input_file_name())
      .agg(countDistinct(col("tenant")).as("n"))
      .select("n").as[Long].collect()
    val meanTenants = perFileTenants.sum.toDouble / perFileTenants.length
    assert(meanTenants <= 3.0,
      s"mean per-file distinct tenants $meanTenants — string dim not clustering")
    // date/timestamp rank over the epoch cast — no raw AnalysisException
    val dated = spark.range(100).select(
      date_add(lit(java.sql.Date.valueOf("2025-01-01")),
        (col("id") % 50).cast("int")).as("d"),
      (col("id") % 10).cast("double").as("v"), col("id").as("rid"))
    val dRanks = ZOrderLayout.columnRanks(dated, Seq("d", "v"), bits = 3)
    val dRank = dated.select(dRanks.head.rank(
        ZOrderLayout.rankInput(org.apache.spark.sql.types.DateType, "d"), 3)
      .as("r")).select("r").as[Long].collect()
    assert(dRank.min == 0 && dRank.max == 7, s"date rank range ${dRank.min}..${dRank.max}")
    // refusals name the offending column
    val eArr = intercept[IllegalArgumentException] {
      ZOrderLayout.columnRanks(
        spark.range(3).select(array(col("id")).as("a"), col("id")), Seq("a"), 4)
    }
    assert(eArr.getMessage.contains("`a`") && eArr.getMessage.contains("array"),
      eArr.getMessage)
    val eCard = intercept[IllegalArgumentException] {
      ZOrderLayout.columnRanks(
        spark.range(ZOrderLayout.MaxDictValues + 10L)
          .select(concat(lit("v"), col("id")).as("s")), Seq("s"), 4)
    }
    assert(eCard.getMessage.contains("`s`") &&
      eCard.getMessage.contains("distinct"), eCard.getMessage)
    intercept[IllegalArgumentException] {
      ZOrderLayout.columnStats(df, Seq("tenant")) // numeric pass refuses strings
    }
    // unseen dictionary values clamp to 0 and are flagged out-of-envelope
    val dict = ranks.head
    val probe = Seq(("acme", 0), ("zulu", 1), (null, 2))
      .toDF("tenant", "i")
    val flags = probe.select(col("i"),
        dict.rank(col("tenant"), 4).as("r"),
        dict.outOfEnvelope(col("tenant")).as("oob"))
      .as[(Int, Long, Boolean)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    assert(flags(1) == (0L, true), flags.toString)   // unseen clamps + flags
    assert(!flags(0)._2 && !flags(2)._2, flags.toString) // seen + null are in-envelope
  }

  test("property: the dictionary rank preserves lexicographic order on random string sets") {
    import org.scalacheck.Gen
    import ZOrderLayout.ZRank
    // the min/max pruning claim for string dimensions rests on exactly
    // this: sorted(values) maps to a non-decreasing rank sequence, and
    // distinct values never collapse when buckets suffice
    val genVals = Gen.chooseNum(2, 30).flatMap(n =>
      Gen.listOfN(n, Gen.choose(1, 12).flatMap(len =>
        Gen.listOfN(len, Gen.alphaNumChar).map(_.mkString))))
    PropHelper.forAll(genVals, n = 60) { raw =>
      val values = raw.distinct.sorted
      if (values.length >= 2) {
        val dict = ZRank.Dict(values)
        val bits = 5 // 32 buckets
        val got = values.toDF("v")
          .select(col("v"), dict.rank(col("v"), bits).as("r"))
          .orderBy("v").as[(String, Long)].collect().map(_._2)
        assert(got.toSeq == got.sorted.toSeq,
          s"order violated for $values -> ${got.mkString(",")}")
        assert(got.forall(r => r >= 0 && r < 32))
        if (values.length <= 32)
          assert(got.distinct.length == values.length,
            s"distinct values collapsed: $values -> ${got.mkString(",")}")
      }
    }
  }

  test("equal-depth rank spreads a heavy-tailed column that collapses under equal width") {
    import ZOrderLayout.ZRank
    // exponential-ish tail: 95% of rows in [0, 100), a 5% tail out to 1e6
    val skewed = spark.range(4000).select(
      when(col("id") % 20 === 0, (col("id") % 100) * lit(10000.0))
        .otherwise((col("id") % 100).cast("double")).as("rev"),
      (col("id") % 40).cast("double").as("u"), col("id").as("rid"))
    def occupancy(r: ZRank): Long = skewed
      .select(r.rank(col("rev").cast("double"), 4).as("b"))
      .distinct().count()
    val width = ZOrderLayout.columnRanks(skewed, Seq("rev"), 4).head
    val depth = ZOrderLayout.columnRanks(skewed, Seq("rev"), 4,
      equalDepth = true).head
    assert(depth.isInstanceOf[ZRank.Depth])
    val (wOcc, dOcc) = (occupancy(width), occupancy(depth))
    // width: 95% of mass lands in bucket 0 (max is 990k, body is < 100)
    // depth: percentile bounds spread the body across most buckets
    assert(dOcc > wOcc,
      s"equal-depth occupied $dOcc buckets vs width's $wOcc — no spread")
    assert(dOcc >= 8, s"equal-depth occupied only $dOcc of 16 buckets")
    // layout with equal depth: per-file spans on the UNIFORM dimension
    // still shrink (the skewed dim no longer eats the whole key space)
    val dD = QueriesShared.tempDir("graft_zdepth").toString + "/t"
    ZOrderLayout.writeZOrdered(skewed, Seq("rev", "u"), dD, nFiles = 16,
      bits = 4, equalDepth = true)
    val back = spark.read.parquet(dD)
    assert(back.count() == 4000 &&
      back.select("rid").as[Long].collect().toSet == (0L until 4000L).toSet)
  }
}
