package graft

import graft.operators.{CascadeConfig, MultiStageSearch}
import org.scalatest.funsuite.AnyFunSuite

/** The cascade's gate ladder on hand-written stage lists: every case
  * states the (id, stage) rows the walk must keep, so the ladder is
  * pinned by data, not by agreement between the two forms that call it
  * (`search` and the batch core). Slots: 0 S1, 1 S2, 2 region, 3 job,
  * 4 fallback, 5 + i synonym i. topK = 3, fallbackK = 4. */
class CascadeLadderSpec extends AnyFunSuite {

  private val open = Int.MaxValue

  // (case, job?, region?, synonyms, relaxThreshold, fallbackThreshold,
  //  slot → ranked ids, expected (id, stage) in walk order)
  private val cases: Seq[(String, Boolean, Boolean, Int, Int, Int,
      Map[Int, Seq[Long]], Seq[(Long, Int)])] = Seq(
    ("t - 1 distinct ids before a gate: the group runs; an absent S2 " +
      "takes no stage number; a repeated id stays at its first stage; " +
      "the fallback cuts at fallbackK",
      true, false, 0, 3, 5,
      Map(0 -> Seq(10L, 11L), 3 -> Seq(12L, 10L, 13L),
        4 -> Seq(14L, 15L, 16L, 17L, 18L)),
      Seq(10L -> 1, 11L -> 1, 12L -> 2, 13L -> 2,
        14L -> 3, 15L -> 3, 16L -> 3, 17L -> 3)),
    ("t distinct ids before a gate: S2 and S3 do not run; synonyms " +
      "always run and take the next number",
      true, true, 1, 3, 5,
      Map(0 -> Seq(1L, 2L, 3L), 1 -> Seq(4L), 2 -> Seq(5L), 3 -> Seq(6L),
        5 -> Seq(8L, 1L), 4 -> Seq(7L)),
      Seq(1L -> 1, 2L -> 1, 3L -> 1, 8L -> 2, 7L -> 3)),
    ("t distinct ids before the fallback gate: the fallback does not run",
      true, true, 1, 3, 4,
      Map(0 -> Seq(1L, 2L, 3L), 5 -> Seq(8L, 1L), 4 -> Seq(7L)),
      Seq(1L -> 1, 2L -> 1, 3L -> 1, 8L -> 2)),
    ("region only: no S2, no job stage, no synonyms",
      false, true, 0, 3, 5,
      Map(0 -> Seq(1L), 2 -> Seq(2L), 4 -> Seq(3L)),
      Seq(1L -> 1, 2L -> 2, 3L -> 3)),
    ("no NER field: S1 is unfiltered, then the fallback",
      false, false, 0, 3, 5,
      Map(0 -> Seq(1L, 2L), 4 -> Seq(2L, 3L)),
      Seq(1L -> 1, 2L -> 1, 3L -> 2)),
    ("searchFixed's open gates: every stage runs and is numbered, an " +
      "empty one too; S1 cuts at topK",
      true, true, 2, open, open,
      Map(0 -> Seq(1L, 2L, 3L, 99L), 1 -> Seq(2L, 4L), 2 -> Seq(5L),
        3 -> Seq(), 5 -> Seq(6L), 6 -> Seq(1L, 7L), 4 -> Seq(8L, 9L)),
      Seq(1L -> 1, 2L -> 1, 3L -> 1, 4L -> 2, 5L -> 3, 6L -> 5, 7L -> 6,
        8L -> 7, 9L -> 7)))

  cases.foreach { case (name, job, region, nSyn, relax, fallback, lists, expected) =>
    test(s"ladder walk: $name") {
      val cfg = CascadeConfig(topK = 3, fallbackK = 4,
        relaxThreshold = relax, fallbackThreshold = fallback)
      val ladder = MultiStageSearch.ladder(job, region, nSyn, cfg)
      assert(MultiStageSearch.walk(ladder, lists.getOrElse(_, Nil))(identity)
        == expected)
    }
  }
}
