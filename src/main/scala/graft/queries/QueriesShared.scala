package graft

import graft.functions.{TextAnalysis, TextFunctions, VectorFunctions}
import graft.multimodal.{DecodeStub, Multimodal}
import graft.operators.{Ann, Bm25, Chunker, Curation, Dedup, HeavyHitters, Knn, LshAnn, Mmr, MultiStageSearch, Packing, QualityModel, Rerank, RetrievalEval}
import graft.sources.JobCorpus
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Helpers shared by every query family: table readers, the canonical
  * events-timestamp dispatch, DuckDB vector-math fragment builders and
  * the quality-score mirror. Mixed into [[Queries]] together with the
  * per-family traits (round-12 split of the former 5.4k-line
  * Queries.scala — zero behavior change).
  */
private[graft] trait QueriesShared {


  /** Run the identity gates inside the cascade and ANN entries: c1 and
    * c5 check the one-pass `search` against the batch core over a
    * one-row log (`searchGated`), exact and served; c2 checks
    * `searchRemind` against `searchRemindFixed`; v14 checks its
    * store-served top-10 against the inline IVF serve and measures its
    * recall against the exact kNN. Default ON — the CORRECTNESS
    * artifact must carry the identity stamp. [[Bench]] turns it OFF
    * for the timed loop (and ONLY there): each gate runs a second form
    * of the query, so with them inside the clock c1's number measured
    * the verification harness, not the cascade a user runs. The
    * emitted `identity_match` column reports this flag honestly: true
    * = the gate ran and held this execution (it raises on violation),
    * false = the gate was skipped for timing. */
  @volatile var identityGates: Boolean = true


  def t(s: SparkSession, dir: String, name: String): DataFrame =
    s.read.parquet(s"$dir/$name.parquet")

  def tempDir(prefix: String): java.nio.file.Path = QueriesShared.tempDir(prefix)


  /** events.parquet's ts has shipped in two physical forms across
    * testdata generations: INT64 TIMESTAMP(NANOS) — which Spark 4
    * rejects at read (PARQUET_TYPE_ILLEGAL), so it is read as raw LONG
    * nanos under the legacy flag and converted to micros — and native
    * TIMESTAMP(MICROS), which reads directly (as NTZ when the file is
    * timezone-naive; the cast to TimestampType is numerically identity
    * under the UTC session both engines run with). Dispatch on the
    * OBSERVED schema so either generation works; every downstream
    * query sees one canonical micros TimestampType `ts`, and DuckDB
    * reads the same column natively with agreeing `epoch_ns`/
    * `date_trunc` semantics. */
  def events(s: SparkSession, d: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val ev = t(s, d, "events")
    ev.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        ev.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case org.apache.spark.sql.types.TimestampType => ev
      case _ => // TIMESTAMP_NTZ (naive micros): identity cast under UTC
        ev.withColumn("ts",
          col("ts").cast(org.apache.spark.sql.types.TimestampType))
    }
  }


  // ---- DuckDB fragment builders (double-precision left folds that ----
  // ---- mirror VectorFunctions exactly)                            ----
  def l2Sql(a: String, b: String): String =
    s"sqrt(list_sum(list_transform(range(1, len($a)+1), i -> (CAST($a[i] AS DOUBLE) - $b[i])**2)))"

  def dotSql(a: String, b: String): String =
    s"list_sum(list_transform(range(1, len($a)+1), i -> CAST($a[i] AS DOUBLE) * $b[i]))"

  def cosineSql(a: String, b: String): String = {
    val nn = s"(sqrt(${dotSql(a, a)}) * sqrt(${dotSql(b, b)}))"
    s"(CASE WHEN $nn = 0 THEN 0.0 ELSE ${dotSql(a, b)} / $nn END)"
  }

  val WsSplit = "[ \\t\\n]+"


  /** DuckDB mirror of TextAnalysis.qualityScore — ONE copy shared by
    * t2/t7/t16 so the three oracles can never drift apart on near-tie
    * documents. Expects `text`, `nws`, `nstop` in scope (from
    * [[qualityInnerSql]]). */
  def qualityExprSql: String =
    s"""round(
      0.4 * least(len(text) / 500.0, 1.0)
      + 0.3 * (1.0 - (CASE WHEN len(text) = 0 THEN 0.0
          ELSE CAST(len(regexp_extract_all(text, '[^A-Za-z0-9 \\t\\n]')) AS DOUBLE) / len(text) END))
      + 0.3 * (CASE WHEN nws = 0 THEN 0.0 ELSE least(CAST(nstop AS DOUBLE) / nws, 1.0) END), 6)"""


  /** The documents projection feeding [[qualityExprSql]] (whitespace
    * token count + stopword hits); `extraCols` threads extra columns
    * through (e.g. " source," for t16). */
  def qualityInnerSql(extraCols: String = ""): String =
    s"""SELECT doc_id,$extraCols text,
      CASE WHEN len(trim(text)) = 0 THEN 0
           ELSE len(string_split_regex(trim(text), '$WsSplit')) END AS nws,
      len(regexp_extract_all(lower(text), '\\b(the|a|an|and|or|of|to|in|is|it)\\b')) AS nstop
      FROM documents"""

  // ======================================================================
  // Relational baseline (bench headliners; SURVEY §2.6 aggregation/sort)
  // ======================================================================


  /** DuckDB mirror of Curation.hashBucket: numeric value of the first
    * 8 hex chars of md5(key), big-endian, mod `buckets`. */
  def hashBucketSql(key: String, buckets: Int): String = {
    val hv = (0 until 8).map { k =>
      s"(strpos('0123456789abcdef', substr(md5(CAST($key AS VARCHAR)), ${k + 1}, 1)) - 1) * ${1L << (4 * (7 - k))}"
    }.mkString(" + ")
    s"(($hv) % $buckets)"
  }


  def queryVec(s: SparkSession, d: String, id: Long): DataFrame =
    t(s, d, "embeddings").filter(col("vec_id") === id).select(col("embedding").as("qv"))
}

private[graft] object QueriesShared {

  /** A fresh directory named `prefix`… for a harness or spec artifact (a
    * stored index, a code table, a model), under the JVM's one root: a
    * run leaves no directory of its own behind. */
  def tempDir(prefix: String): java.nio.file.Path =
    java.nio.file.Files.createTempDirectory(tempRoot, prefix)

  /** The root of every [[QueriesShared.tempDir]] of this JVM, created on
    * first use; a shutdown hook deletes it with everything under it. */
  private lazy val tempRoot: java.nio.file.Path = {
    import java.nio.file.{Files, Path}
    val root = Files.createTempDirectory("graft_run_")
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      val paths = Files.walk(root)
      try paths.sorted(java.util.Comparator.reverseOrder[Path]())
        .forEach(p => scala.util.Try(Files.deleteIfExists(p)))
      finally paths.close()
    }))
    root
  }
}
