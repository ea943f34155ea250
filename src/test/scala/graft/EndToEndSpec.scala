package graft

import java.nio.file.Files

import graft.api.Response
import graft.operators.{CascadeConfig, Chunker, MultiStageSearch}
import graft.sources.JobCorpus
import org.apache.spark.sql.functions._

/** The whole reference lifecycle in one flow (SURVEY.md §3.3 + §3.1):
  * nested-JSON corpus → build pipeline → (deterministic stand-in
  * embeddings) → multi-stage cascade search → typed JobPosting
  * response. The embedding model is an external boundary (S5); the
  * stand-in derives a vector from the chunk id hash — deterministic
  * and shaped like the real column. */
class EndToEndSpec extends SparkSpec {
  import spark.implicits._

  private def writeCorpus(): String = {
    def posting(no: Int, title: String, region: String, duty: String) =
      s"""{
         |  "공고번호": $no,
         |  "채용제목": "$title",
         |  "회사명": "회사$no",
         |  "근무지역": "$region",
         |  "급여조건": "시급 10,000원",
         |  "채용공고ID": "K$no",
         |  "채용공고URL": "http://x/$no",
         |  "상세정보": {"직무내용": "$duty",
         |    "세부요건": [{"경력조건": ["무관"]}]}
         |}""".stripMargin
    val json =
      s"""{"검색조건": "고령자", "총_채용공고수": 3, "수집일시": "2026-01-21 00:00:00",
         |"채용공고목록": [
         |${posting(1, "join 엔지니어", "row districts", "join work on the row tables all day long with joins")},
         |${posting(2, "merge 보조", "row region", "merge and hash work in the row area")},
         |${posting(3, "경비원", "line zone", "totally unrelated guard duty")}
         |]}""".stripMargin
    val f = QueriesShared.tempDir("graft_e2e").resolve("jobs.json")
    Files.writeString(f, json)
    f.toString
  }

  test("ingest → build → search → typed response, end to end") {
    val chunks = JobCorpus.buildChunks(
      JobCorpus.readPostings(spark, writeCorpus()),
      Chunker(chunkSize = 200, overlap = 20))
    // S5 stand-in embedding: 4 stable pseudo-dims from the chunk id
    val embedded = chunks.withColumn("embedding",
      array((0 until 4).map(i =>
        (pmod(xxhash64(col("chunk_id"), lit(i)), lit(1000)) / 1000.0)): _*))
      .withColumn("qv", array((0 until 4).map(_ => lit(0.5)): _*))
    val search = new MultiStageSearch(embedded, "posting_no", "chunk", "embedding",
      CascadeConfig(topK = 5, finalN = 3))
    val ranked = search.search("looking for a join job in the row area", col("qv"))

    // the cascade carries only narrow columns; posting metadata joins
    // back over the ≤finalN result rows (broadcast the tiny result)
    val meta = chunks
      .select("posting_no", "posting_id", "region", "company", "title", "salary")
      .dropDuplicates("posting_no")
    val response = Response.project(
      ranked.join(meta, Seq("posting_no"))
        .withColumn("working_hours", lit(null).cast("string"))
        .withColumn("description", lit(null).cast("string")))
      .collect().sortBy(_.rank)

    assert(response.nonEmpty && response.length <= 3)
    // the strict AND stage matched posting 1 (both "join" and "row")
    assert(response.head.id == "K1" || response.head.title.contains("join"))
    // sentinel defaults materialized only at the response boundary
    assert(response.forall(_.workingHours == "정보없음"))
    assert(response.forall(_.description.nonEmpty))
    assert(response.map(_.rank).toSeq == (1 to response.length))
  }

  test("build → IVF assign → partitioned store → pruned search equals exact kNN") {
    val chunks = JobCorpus.buildChunks(
      JobCorpus.readPostings(spark, writeCorpus()),
      Chunker(chunkSize = 200, overlap = 20))
    val corpus = chunks
      .withColumn("vec_id", xxhash64(col("chunk_id")))
      .withColumn("embedding",
        array((0 until 4).map(i =>
          (pmod(xxhash64(col("chunk_id"), lit(i)), lit(1000)) / 1000.0)): _*))
      .select("vec_id", "embedding")
    val cents = corpus.orderBy("vec_id").limit(2)
      .select(col("vec_id").as("cid"), col("embedding").as("cvec"))
    val assigned = graft.operators.Ann.ivfAssignBig(
      corpus, "embedding", "vec_id", cents, "cid", "cvec")
    val dir = QueriesShared.tempDir("graft_e2e_ivf").toString
    graft.sources.IndexStore.write(assigned, dir)

    val qv = typedlit(Seq(0.5, 0.5, 0.5, 0.5))
    // nprobe = all clusters ⇒ the pruned store read must reproduce
    // exact kNN over the full corpus, through write+load round trip
    val viaStore = graft.operators.Ann.ivfSearchStore(spark, dir,
        "embedding", "vec_id", cents, "cid", "cvec", qv, k = 3, nprobe = 2)
      .select("vec_id").as[Long].collect().toSeq
    val exact = graft.operators.Knn.exact(corpus, "embedding", "vec_id", qv, 3)
      .select("vec_id").as[Long].collect().toSeq
    assert(viaStore == exact)
  }
}
