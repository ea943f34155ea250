package perfbench

import graft.semantic.SemanticSuite
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** Seeded input generators. Every input a workload feeds the engine is
  * made here from the run's seed (plus a stream label, so the corpus, the
  * requests and each delta draw independent streams), written as parquet
  * under the run's work directory or handed over as rows; the workloads
  * see nothing else.
  *
  * The corpus mirrors the shape of the engine's synthetic `documents` and
  * `embeddings` tables (random words, 64-d clustered float vectors), with
  * one deliberate difference: words follow a fixed Zipf ranking, so some
  * cascade terms are common and some rare. Rare terms leave the strict
  * stage short of `relaxThreshold`, which is what makes the relaxation
  * stages run: the query's NER structure and its terms together set 2–7
  * cascade stages per request. */
object Gen {
  val Dim = 64
  val Clusters = 16

  /** Filler words chosen to contain no cascade term as a substring (the
    * cascade's predicates are `contains`, not token matches). */
  private val Fillers = Seq("a", "the", "data", "small", "big", "fast",
    "slow", "agg", "node", "cell", "page", "file", "task", "plan", "tree",
    "heap", "disk", "core", "lock", "log", "map", "set", "bit", "byte",
    "text", "doc", "item", "unit", "lane", "peer")
  val Jobs: Seq[String] = SemanticSuite.CorpusVocab.toSeq.sorted
  val Regions: Seq[String] = SemanticSuite.RegionVocab.toSeq.sorted
  val SynonymJobs: Seq[String] = SemanticSuite.Synonyms.keys.toSeq.sorted

  /** Fixed (seed-independent) frequency ranking: fillers and terms
    * interleaved so terms land at every rank from common to rare. */
  private val Ranked: Array[String] = {
    val terms = (Jobs ++ Regions).sortBy(t => (t.hashCode & 0x7fffffff) % 97)
    val out = Array.newBuilder[String]
    val f = Fillers.iterator
    terms.zipWithIndex.foreach { case (t, i) =>
      if (i % 2 == 0 && f.hasNext) out += f.next()
      out += t
    }
    f.foreach(out += _)
    out.result()
  }
  private val ZipfCdf: Array[Double] = {
    val w = Ranked.indices.map(r => 1.0 / math.pow(r + 1, 1.1))
    w.scanLeft(0.0)(_ + _).tail.map(_ / w.sum).toArray
  }

  def rng(seed: Long, stream: String): java.util.SplittableRandom =
    new java.util.SplittableRandom(seed * 1000003L ^ stream.hashCode.toLong)

  def word(r: java.util.SplittableRandom): String = {
    val i = java.util.Arrays.binarySearch(ZipfCdf, r.nextDouble())
    Ranked(math.min(Ranked.length - 1, if (i >= 0) i else -i - 1))
  }

  def text(r: java.util.SplittableRandom, minWords: Int, maxWords: Int): String =
    Seq.fill(minWords + r.nextInt(maxWords - minWords + 1))(word(r)).mkString(" ")

  private def gaussian(r: java.util.SplittableRandom): Double = {
    // Box–Muller; SplittableRandom has no nextGaussian on JDK 17
    val u = math.max(r.nextDouble(), 1e-12)
    math.sqrt(-2 * math.log(u)) * math.cos(2 * math.Pi * r.nextDouble())
  }

  /** Cluster centres shared by every stream of one seed. */
  def centres(seed: Long): Array[Array[Double]] = {
    val r = rng(seed, "centres")
    Array.fill(Clusters, Dim)(gaussian(r) * 0.25)
  }

  def vectorNear(r: java.util.SplittableRandom, c: Array[Double],
                 noise: Double): Array[Double] =
    c.map(_ + gaussian(r) * noise)

  /** The corpus: `nDocs` documents, the first `nVecs` of which carry an
    * embedding (the engine's documents ⋈ embeddings shape). */
  final case class Corpus(docsPath: String, embPath: String,
                          vectors: Array[Array[Double]],
                          labels: Array[Int])

  def corpus(spark: SparkSession, seed: Long, dir: String,
             nDocs: Int, nVecs: Int): Corpus = {
    val r = rng(seed, "corpus")
    val cs = centres(seed)
    val docs = (0 until nDocs).map { i =>
      val t = text(r, 8, 48)
      Row(i.toLong, t, if (r.nextInt(4) == 0) "zh" else "en",
        s"src${r.nextInt(8)}", t.length.toLong)
    }
    val labels = Array.fill(nVecs)(r.nextInt(Clusters))
    val vecs = labels.map(l => vectorNear(r, cs(l), 0.1))
    val docSchema = StructType(Seq(StructField("doc_id", LongType),
      StructField("text", StringType), StructField("lang", StringType),
      StructField("source", StringType), StructField("n_chars", LongType)))
    val docsPath = s"$dir/documents.parquet"
    val embPath = s"$dir/embeddings.parquet"
    write(spark, docs, docSchema, docsPath, 4)
    write(spark, vecs.indices.map(i =>
        Row(i.toLong, vecs(i).map(_.toFloat).toSeq, labels(i))),
      embSchema("vec_id"), embPath, 4)
    Corpus(docsPath, embPath, vecs, labels)
  }

  def embSchema(idCol: String): StructType = StructType(Seq(
    StructField(idCol, LongType),
    StructField("embedding", ArrayType(FloatType, containsNull = false)),
    StructField("label", IntegerType)))

  def write(spark: SparkSession, rows: Seq[Row], schema: StructType,
            path: String, files: Int): Unit =
    spark.createDataFrame(spark.sparkContext.parallelize(rows, files), schema)
      .write.mode("overwrite").parquet(path)

  /** Query NER structures (each sets a different stage ladder) and
    * their shares of a query mix. */
  val Structures: Seq[String] =
    Seq("region_job", "region", "job", "job_synonyms", "no_terms", "blank")
  private val StructureWeights = Seq(4, 2, 2, 2, 1, 1)

  def isBlank(t: String): Boolean = t == null || t.trim.isEmpty

  private def shuffled[T](xs: Seq[T], r: java.util.SplittableRandom): Seq[T] =
    xs.map(x => (r.nextLong(), x)).sortBy(_._1).map(_._2)

  /** `n` queries in a seeded order. The mix is fixed: structures follow
    * their weights exactly and terms are used in turn, so two seeds send
    * the same requests in a different order and with different vectors
    * over a different corpus, not requests that run more or fewer stages. */
  def queryMix(r: java.util.SplittableRandom, n: Int): Seq[String] = {
    val pattern = Structures.zip(StructureWeights).flatMap { case (s, w) => Seq.fill(w)(s) }
    val qs = (0 until n).map { i =>
      val j = Jobs(i % Jobs.size)
      val g = Regions(i % Regions.size)
      val y = SynonymJobs(i % SynonymJobs.size)
      val variant = (i / pattern.size) % 2 == 0
      pattern(i % pattern.size) match {
        case "region_job"   => s"looking for a $j job in the $g area"
        case "region"       => s"any work near the $g area please"
        case "job"          => s"$j engineer wanted"
        case "job_synonyms" =>
          if (variant) s"senior $y role" else s"senior $y role by the $g"
        case "no_terms"     => "hello i need some work soon"
        case _              => if (variant) "" else "   "
      }
    }
    shuffled(qs, r)
  }

  /** A query vector: a corpus vector plus noise. `clusters` limits the
    * corpus rows it is drawn from to a few clusters (queries then share
    * probed cells); None draws from the whole corpus. */
  def queryVector(r: java.util.SplittableRandom, corpus: Corpus,
                  clusters: Option[Set[Int]]): Array[Double] = {
    val pool = clusters.fold(corpus.vectors.indices.toArray)(cs =>
      corpus.labels.indices.filter(i => cs.contains(corpus.labels(i))).toArray)
    corpus.vectors(pool(r.nextInt(pool.length))).map(_ + gaussian(r) * 0.05)
  }

  /** A refresh delta: `n` new documents with embeddings and ids from
    * `firstId`, written as one parquet input (the arriving batch). */
  def delta(spark: SparkSession, seed: Long, cycle: Int, firstId: Long,
            n: Int, path: String): Array[(Long, Array[Double])] = {
    val r = rng(seed, s"delta-$cycle")
    val cs = centres(seed)
    val rows = (0 until n).map { i =>
      val l = r.nextInt(Clusters)
      (firstId + i, text(r, 8, 48), vectorNear(r, cs(l), 0.1), l)
    }
    val schema = StructType(Seq(StructField("doc_id", LongType),
      StructField("text", StringType),
      StructField("embedding", ArrayType(FloatType, containsNull = false)),
      StructField("label", IntegerType)))
    write(spark, rows.map { case (id, t, v, l) =>
      Row(id, t, v.map(_.toFloat).toSeq, l) }, schema, path, 1)
    rows.map { case (id, _, v, _) => (id, v.map(_.toFloat.toDouble)) }.toArray
  }

  /** The N×-replicated near-duplicate corpus. Each base document gets
    * 0..maxCopies extra copies (seeded, mean set by `density`); replica
    * ids are disjoint (`base * 8 + copy`). A copy replaces each token
    * with a random word at a seeded rate from 0 (an exact copy) to 0.3,
    * so pair Jaccard spreads over a range instead of only exact copies. */
  def nearDupCorpus(spark: SparkSession, seed: Long, path: String,
                    nBase: Int, density: Double, maxCopies: Int): Long = {
    require(maxCopies < 8, "replica ids use 3 bits")
    val r = rng(seed, "neardup")
    val rates = Array(0.0, 0.02, 0.05, 0.1, 0.2, 0.3)
    val rows = (0 until nBase).flatMap { b =>
      val toks = text(r, 16, 64).split(" ")
      val copies = (1 to maxCopies).count(_ => r.nextDouble() < density)
      (0 to copies).map { c =>
        val p = if (c == 0) 0.0 else rates(r.nextInt(rates.length))
        val t = toks.map(w => if (p > 0 && r.nextDouble() < p) word(r) else w)
        Row(b.toLong * 8 + c, t.mkString(" "))
      }
    }
    val schema = StructType(Seq(StructField("doc_id", LongType),
      StructField("text", StringType)))
    write(spark, rows, schema, path, 4)
    rows.size.toLong
  }
}
