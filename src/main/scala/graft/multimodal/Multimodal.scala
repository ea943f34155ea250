package graft.multimodal

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Multimodal columns (north star beyond the reference): image/audio/
  * video payloads as opaque `binary` columns with typed metadata.
  *
  * The engine-side plumbing — schema, frame sampling, batch shape,
  * partitioning — is real and oracle-tested; the actual media DECODE is
  * an external boundary exactly like the LLM calls (the codec libraries
  * are not part of the engine), stubbed behind [[DecodeStub]] with a
  * deterministic fake so pipelines through it stay reproducible.
  */
object Multimodal {

  /** Sample up to `maxFrames` fixed-size frames from a payload column —
    * the columnar skeleton of video frame-sampling / audio windowing.
    * Pure built-ins (sequence + transform), fully codegen'd; 1 row →
    * ≤maxFrames rows via posexplode. */
  def sampleFrames(df: DataFrame, idCol: String, payloadCol: String,
                   frameSize: Int, maxFrames: Int): DataFrame = {
    // coalesce: least() SKIPS nulls, so a NULL payload would otherwise
    // yield nFrames = maxFrames (maxFrames rows of null frames) instead
    // of the empty output degenerate payloads are documented to produce.
    val nFrames = least(
      ceil(coalesce(length(col(payloadCol)), lit(0)).cast("double") / frameSize).cast("int"),
      lit(maxFrames))
    // guard: sequence(0, -1) would DESCEND, not produce an empty array.
    // The empty branch is slice(array(<one frame>), 1, 0) rather than a
    // hard-cast array<string>: it inherits the payload's element type
    // (string OR binary), so binary payloads aren't coerced to string.
    val oneFrame = substring_index_safe(col(payloadCol), lit(0), frameSize)
    val frames = when(nFrames > 0,
      transform(
        sequence(lit(0), nFrames - 1),
        i => substring_index_safe(col(payloadCol), i, frameSize)))
      .otherwise(slice(array(oneFrame), 1, 0))
    df.select(col(idCol), posexplode(frames).as(Seq("frame_index", "frame")))
  }

  private def substring_index_safe(payload: Column, i: Column, frameSize: Int): Column =
    payload.substr(i * frameSize + 1, lit(frameSize))

  /** Typed metadata + content key per frame (the join key for decoded
    * features): `frame_chars` (character count for string payloads; for
    * binary payloads Spark's `length` returns the BYTE count, so
    * frame_chars == frame_bytes there — the distinction only matters
    * for multi-byte string frames), `frame_bytes` (byte size — the
    * right measure for binary media), and a 16-hex content hash. */
  def frameMeta(frames: DataFrame): DataFrame =
    frames.select(
      col("*"),
      length(col("frame")).as("frame_chars"),
      length(col("frame").cast("binary")).as("frame_bytes"),
      substring(md5(col("frame").cast("binary")), 1, 16).as("frame_key"))

  /** Near-duplicate payloads by frame-signature overlap — the
    * multimodal dedup ACTION (video/image dedup by perceptual-hash
    * overlap; the content hash stands in for the perceptual hash the
    * decode boundary would supply). Two payloads pair when the Jaccard
    * of their distinct frame-key sets reaches `threshold`.
    *
    * Scale shape is the gram-join contract of the text dedups: the
    * join key is the FRAME KEY (hash-sized, high-cardinality), so
    * candidates shuffle by key and aggregate by pair — never
    * all-pairs. `maxFrameDf` drops keys appearing in more than that
    * many payloads BEFORE the join (a solid-black frame is the
    * boilerplate gram of video corpora: a key shared by m payloads
    * creates O(m²) candidate rows) — the same guard, and the same
    * documented trade, as duplicateSpans.maxGramDf: Jaccard is then
    * over the INFORMATIVE frames only, set sizes measured on the same
    * capped key sets the shared counts use, so the ratio stays
    * internally consistent (a payload of only ubiquitous frames has no
    * keys and simply cannot pair). */
  def frameDedupPairs(df: DataFrame, idCol: String, payloadCol: String,
                      frameSize: Int, maxFrames: Int,
                      threshold: Double, maxFrameDf: Int = 1000): DataFrame = {
    require(threshold > 0 && threshold <= 1, s"threshold $threshold must be in (0,1]")
    require(maxFrameDf >= 1, s"maxFrameDf $maxFrameDf must be >= 1")
    val keys = frameMeta(sampleFrames(df, idCol, payloadCol, frameSize, maxFrames))
      .select(col(idCol).as("doc"), col("frame_key")).distinct()
    val rare = keys.groupBy("frame_key")
      .agg(count(lit(1)).as("__df"))
      .filter(col("__df") <= maxFrameDf)
      .select("frame_key")
    // lazy localCheckpoint: the capped key pipeline feeds the sizes agg
    // AND both sides of the self-join (no cross-subtree CSE in one plan)
    val kept = keys.join(rare, Seq("frame_key")).localCheckpoint(false)
    val sizes = kept.groupBy("doc").agg(count(lit(1)).as("n"))
    val a = kept.select(col("doc").as("doc_a"), col("frame_key"))
    val b = kept.select(col("doc").as("doc_b"), col("frame_key"))
    a.join(b, Seq("frame_key"))
      .filter(col("doc_a") < col("doc_b"))
      .groupBy("doc_a", "doc_b")
      .agg(count(lit(1)).as("n_shared"))
      .join(sizes.select(col("doc").as("doc_a"), col("n").as("__na")), Seq("doc_a"))
      .join(sizes.select(col("doc").as("doc_b"), col("n").as("__nb")), Seq("doc_b"))
      .withColumn("jaccard", round(col("n_shared").cast("double") /
        (col("__na") + col("__nb") - col("n_shared")), 6))
      .filter(col("jaccard") >= threshold)
      .select("doc_a", "doc_b", "n_shared", "jaccard")
  }
}

/** External decode boundary. A production impl would run a codec per
  * partition (batched, arrow-shaped); the engine ships a DETERMINISTIC
  * stub so downstream operators (dedup on frame features, similarity
  * on frame embeddings) are testable without codec libraries. */
object DecodeStub {
  /** Fake "feature vector" for a frame: 4 stable pseudo-features
    * derived from the content hash — stands in for decode+embed. */
  def features(frameKey: Column): Column =
    array((0 until 4).map { i =>
      (conv(substring(frameKey, i * 4 + 1, 4), 16, 10).cast("double") / 65535.0)
    }: _*)
}
