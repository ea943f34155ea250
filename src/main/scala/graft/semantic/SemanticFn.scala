package graft.semantic

/** External-function boundary for LLM-backed semantic operators
  * (SURVEY.md §2.7 L1-L4).
  *
  * Engine-visible contract, preserved from the reference: a semantic
  * function NEVER fails the query — every failure collapses to a
  * neutral value and the pipeline continues
  * (/root/reference/main.py:218-220,294-296,436-439).
  *
  * Implementations are pluggable; the engine ships DETERMINISTIC
  * doubles so that every pipeline that embeds a semantic call is
  * reproducible and oracle-checkable (SURVEY.md §5). A production
  * impl batches per partition (`mapPartitions`) against a model
  * endpoint — the SURVEY §2.7 batch shape, which
  * [[graft.operators.MultiStageSearch]]'s batch prelude uses for
  * large query logs — so implementations must be Serializable (the
  * trait extends it; keep per-instance state to broadcastable
  * dictionaries/weights, acquire clients lazily inside the task). */
trait SemanticFn[I, O] extends Serializable {
  def name: String
  /** Value substituted on any failure. */
  def neutral: O
  protected def run(in: I): O
  final def apply(in: I): O =
    try { val r = run(in); if (r == null) neutral else r }
    catch { case scala.util.control.NonFatal(_) => neutral }
}

/** Canonical query-side NER struct (L2): the reference's three fields
  * 직무/지역/연령대 → job/region/ageGroup, normalized to ONE schema
  * (the reference bridges three key spellings — SURVEY.md §1.2). */
final case class QueryNer(job: Option[String], region: Option[String],
                          ageGroup: Option[String]) {
  /** L2 profile-fallback coalesce (/root/reference/main.py:444-449):
    * any NER field the query itself didn't yield is filled from the
    * caller's [[UserProfile]]. Field-wise — a query that names a job
    * but no region keeps its job and takes the profile's region. The
    * reference's check is Python truthiness (`not user_ner.get(...)`),
    * so blank strings count as absent on BOTH sides. */
  def withDefaults(profile: UserProfile): QueryNer = {
    def norm(o: Option[String]): Option[String] = o.filter(_.trim.nonEmpty)
    QueryNer(
      job = norm(job).orElse(norm(profile.jobType)),
      region = norm(region).orElse(norm(profile.location)),
      ageGroup = norm(ageGroup).orElse(norm(profile.age)))
  }
}

/** The reference's request-side `UserProfile{age, location, jobType}`
  * (/root/reference/main.py:66-69): per-user defaults that backfill
  * missing query-NER fields before the cascade runs
  * ([[QueryNer.withDefaults]]). All-`None` (the [[UserProfile.empty]]
  * default) is a no-op coalesce. */
final case class UserProfile(age: Option[String] = None,
                             location: Option[String] = None,
                             jobType: Option[String] = None)

object UserProfile {
  val empty: UserProfile = UserProfile()
}

/** L2 double: dictionary-driven query NER. Deterministic: first query
  * token found in each vocabulary wins. */
final class RuleQueryNer(jobVocab: Set[String], regionVocab: Set[String])
    extends SemanticFn[String, QueryNer] {
  val name = "rule_query_ner"
  val neutral: QueryNer = QueryNer(None, None, None)
  protected def run(q: String): QueryNer = {
    val toks = q.toLowerCase.trim.split("\\s+").toSeq
    QueryNer(
      job = toks.find(jobVocab.contains),
      region = toks.find(regionVocab.contains),
      ageGroup = toks.find(_.matches("\\d+대|\\d+s")))
  }
}

/** L3 double: static synonym dictionary. */
final class DictSynonyms(dict: Map[String, Seq[String]])
    extends SemanticFn[String, Seq[String]] {
  val name = "dict_synonyms"
  val neutral: Seq[String] = Seq.empty
  protected def run(job: String): Seq[String] =
    dict.getOrElse(job.toLowerCase.trim, Seq.empty)
  /** The most synonyms any job term has: a bound on every answer. */
  private[graft] val width: Int = dict.values.map(_.length).maxOption.getOrElse(0)
}

/** L4 double: deterministic judge — scores each snippet 0..5 by the
  * fraction of condition tokens it contains (the reference's LLM judge
  * is temp-0.3 stochastic; SURVEY.md §7 hard-part #4 fences it here). */
final class HeuristicJudge extends SemanticFn[(String, Seq[String]), Seq[Int]] {
  val name = "heuristic_judge"
  val neutral: Seq[Int] = Seq.empty
  protected def run(in: (String, Seq[String])): Seq[Int] = {
    val (condition, snippets) = in
    val condToks = condition.toLowerCase.split("[^a-z0-9가-힣]+").filter(_.nonEmpty).distinct
    snippets.map { s =>
      if (condToks.isEmpty) 0
      else {
        val t = s.toLowerCase
        val hits = condToks.count(t.contains)
        math.round(5.0 * hits / condToks.length).toInt
      }
    }
  }
}

/** Default doubles wired for the synthetic corpus vocabulary. */
object SemanticSuite {
  val CorpusVocab: Set[String] = Set(
    "spark", "query", "table", "join", "filter", "group", "sort",
    "window", "stream", "batch", "vector", "hash", "scan", "merge")
  val RegionVocab: Set[String] = Set(
    "line", "row", "column", "part", "order", "customer", "key", "value")
  val Synonyms: Map[String, Seq[String]] = Map(
    "join" -> Seq("merge", "hash"),
    "sort" -> Seq("order"),
    "query" -> Seq("scan", "filter"),
    "stream" -> Seq("batch"))

  def default: (RuleQueryNer, DictSynonyms, HeuristicJudge) =
    (new RuleQueryNer(CorpusVocab, RegionVocab),
     new DictSynonyms(Synonyms),
     new HeuristicJudge)
}
