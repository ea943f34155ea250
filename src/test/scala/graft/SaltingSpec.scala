package graft

import graft.operators.Salting
import org.apache.spark.sql.functions._

/** Salted (skew-spread) aggregation/join equals the direct forms. */
class SaltingSpec extends SparkSpec {
  import spark.implicits._

  // one hot key (90% of rows) + a long tail; `id` is the row identity
  // the salt hashes (retry-deterministic)
  private def skewed = (0 until 2000).map { i =>
    (i.toLong, if (i % 10 == 0) s"key${i % 50}" else "HOT", i.toDouble)
  }.toDF("id", "k", "v").repartition(8)

  test("saltedCount equals plain groupBy count") {
    val direct = skewed.groupBy("k").agg(count(lit(1)).as("n"))
      .orderBy("k").as[(String, Long)].collect().toSeq
    val salted = Salting.saltedCount(skewed, Seq("k"), Seq("id"), buckets = 16)
      .orderBy("k").as[(String, Long)].collect().toSeq
    assert(salted == direct)
  }

  test("saltedSum equals plain groupBy sum") {
    val direct = skewed.groupBy("k").agg(sum("v").as("sum"))
      .orderBy("k").as[(String, Double)].collect().toMap
    val salted = Salting.saltedSum(skewed, Seq("k"), Seq("id"), "v", buckets = 16)
      .orderBy("k").as[(String, Double)].collect().toMap
    assert(salted.keySet == direct.keySet)
    salted.foreach { case (k, s) =>
      assert(math.abs(s - direct(k)) < 1e-6, k) // double sum reassociation
    }
  }

  test("identical payloads spread across salts via their identity columns") {
    // the pathological skew case is millions of byte-identical
    // payloads; a payload hash maps them all to ONE salt — hashing the
    // row IDENTITY spreads them AND stays deterministic under retry
    // (a positional salt would re-deal rows on partial stage rerun).
    val dup = (0 until 512).map(i => (i.toLong, "HOT", 1.0))
      .toDF("id", "k", "v").repartition(4)
    val spread = dup.withColumn("__salt", Salting.salt(Seq("id"), 16))
      .select("__salt").distinct().count()
    assert(spread > 8, s"identical payloads landed on only $spread salts")
    val n = Salting.saltedCount(dup, Seq("k"), Seq("id"), buckets = 16)
      .as[(String, Long)].head()
    assert(n == ("HOT", 512L))
  }

  test("salted join equals plain join on a skewed key") {
    val dim = Seq(("HOT", 1), ("key0", 2), ("key10", 3)).toDF("k", "attr")
    val direct = skewed.join(dim, Seq("k")).agg(sum("attr")).as[Long].head()
    val (bigS, smallS, keys) = Salting.saltedJoinSides(skewed, dim, Seq("k"), Seq("id"), 8)
    val salted = bigS.join(smallS, keys).agg(sum("attr")).as[Long].head()
    assert(salted == direct)
  }

  test("skewSplitJoin equals the plain inner join, incl. null-key drop") {
    val big = ((0 until 300).map(i => (i.toLong, Option("HOT"))) ++
      (0 until 30).map(i => (1000L + i, Option(s"key${i % 5}"))) :+
      (9999L, Option.empty[String])).toDF("id", "k")
    val dim = Seq(("HOT", 1), ("key0", 2), ("key3", 3), ("cold", 4))
      .toDF("dk", "attr")
    val split = Salting.skewSplitJoin(big, dim, "k", "dk", Seq("HOT"))
      .select("id", "k", "attr")
      .orderBy("id", "attr").as[(Long, String, Int)].collect().toSeq
    val plain = big.join(dim, col("k") === col("dk"))
      .select("id", "k", "attr")
      .orderBy("id", "attr").as[(Long, String, Int)].collect().toSeq
    assert(split == plain)
    assert(!split.exists(_._1 == 9999L), "null-keyed row must drop (inner)")
  }

  test("property: skewSplitJoin equals plain join for any hot-key subset") {
    import org.scalacheck.Gen
    val keys = Seq("a", "b", "c", "d", "e")
    val big = (0 until 60).map(i => (i.toLong, keys(i % keys.length)))
      .toDF("id", "k")
    val dim = keys.zipWithIndex.map { case (k, i) => (k, i) }
      .toDF("dk", "attr")
    val plain = big.join(dim, col("k") === col("dk"))
      .select("id", "attr").orderBy("id", "attr")
      .as[(Long, Int)].collect().toSeq
    PropHelper.forAll(Gen.someOf(keys).suchThat(_.nonEmpty), n = 10) { hot =>
      val split = Salting.skewSplitJoin(big, dim, "k", "dk", hot.toSeq)
        .select("id", "attr").orderBy("id", "attr")
        .as[(Long, Int)].collect().toSeq
      assert(split == plain, s"hot=$hot")
    }
  }

  test("skewSplitJoin: a null hot key (skewAudit can emit one) never empties the cold branch") {
    val big = Seq((1L, Option("HOT")), (2L, Option("cold")),
      (3L, Option.empty[String])).toDF("id", "k")
    val dim = Seq(("HOT", 1), ("cold", 2)).toDF("dk", "attr")
    // null inside NOT IN would make the cold predicate NULL for every
    // row — the operator must drop the null hot key instead
    val split = Salting.skewSplitJoin(big, dim, "k", "dk", Seq(null, "HOT"))
      .select("id", "attr").orderBy("id").as[(Long, Int)].collect().toSeq
    assert(split == Seq((1L, 1), (2L, 2)))
    intercept[IllegalArgumentException] {
      Salting.skewSplitJoin(big, dim, "k", "dk", Seq(null))
    }
  }

  test("skewSplitJoin: identical key names on both sides resolve (reserved rename)") {
    // col(bigSideKey) === col(smallSideKey) with the SAME name used to throw
    // AnalysisException (ambiguous reference); the operator now renames
    // the small side's key to a reserved name and drops it post-join.
    val big = Seq((1L, "HOT"), (2L, "cold"), (3L, "miss")).toDF("id", "k")
    val dim = Seq(("HOT", 1), ("cold", 2)).toDF("k", "attr")
    val split = Salting.skewSplitJoin(big, dim, "k", "k", Seq("HOT"))
    assert(split.columns.toSeq == Seq("id", "k", "attr"),
      "collided key column appears once, reserved name never leaks")
    assert(split.orderBy("id").as[(Long, String, Int)].collect().toSeq ==
      Seq((1L, "HOT", 1), (2L, "cold", 2)))
  }

  test("skewSplitJoin plan: hot half broadcasts, cold half shuffles") {
    val big = (0 until 100).map(i => (i.toLong, if (i < 90) "HOT" else s"c$i"))
      .toDF("id", "k")
    val dim = (0 until 100).map(i => (s"c$i", i)).toDF("dk", "attr")
      .union(Seq(("HOT", -1)).toDF("dk", "attr"))
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val plan = Salting.skewSplitJoin(big, dim, "k", "dk", Seq("HOT"))
        .queryExecution.executedPlan.toString
      assert(plan.contains("BroadcastHashJoin"),
        s"hot branch must broadcast even at threshold -1:\n${plan.take(2000)}")
      assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin"),
        s"cold branch must keep the keyed shuffle:\n${plan.take(2000)}")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }
}
