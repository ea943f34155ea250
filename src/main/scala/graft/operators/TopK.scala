package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Encoder, Encoders, Row}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.{Ascending, BoundReference, Descending, InterpretedOrdering, SortOrder}
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions.{col, udaf}
import org.apache.spark.sql.types.StructType

/** Bounded top-k aggregation (SURVEY.md §2.5 V2 batch kNN, 100 TB
  * shape).
  *
  * `Knn.batch`'s window form ranks with `row_number` over
  * (qid, dist) — the exchange carries EVERY (query × corpus) pair to
  * the rank sort. This Aggregator keeps a bounded buffer per query
  * instead: partial aggregation runs map-side, so the shuffle carries
  * at most k rows per (partition × query) — the same partial-combine
  * win partial sums get, applied to top-k. The result is
  * deterministic: ordered by (dist asc, id asc), ties never flip.
  *
  * Chosen over a custom SparkPlan/Strategy deliberately (SURVEY.md
  * §4): `Aggregator` is the public, Catalyst-planned surface for
  * exactly this — ObjectHashAggregate keeps the buffer as a live
  * object within a partition and serializes only at the exchange.
  *
  * For a result the DRIVER consumes (the per-request cascade), there
  * is no exchange to feed: [[slotTopK]] ranks several filtered top-k
  * lists in one scan and merges their partition heaps on the driver,
  * and [[sparkOrdering]] orders driver-side rows exactly as Spark would.
  */
object TopK {

  final case class Entry(dist: Double, id: Long)

  /** Unordered bounded buffer; pruned to k only when it exceeds 4k,
    * so per-row cost stays O(1) amortized. */
  final case class Buf(var entries: List[Entry])

  private def prune(entries: List[Entry], k: Int): List[Entry] =
    entries.sortBy(e => (e.dist, e.id)).take(k)

  final class TopKAggregator(k: Int) extends Aggregator[Entry, Buf, Seq[Entry]] {
    require(k > 0)
    override def zero: Buf = Buf(Nil)
    override def reduce(b: Buf, e: Entry): Buf = {
      b.entries = e :: b.entries
      if (b.entries.length > 4 * k) b.entries = prune(b.entries, k)
      b
    }
    override def merge(a: Buf, b: Buf): Buf = {
      a.entries = prune(a.entries ::: b.entries, k)
      a
    }
    override def finish(b: Buf): Seq[Entry] = prune(b.entries, k)
    override def bufferEncoder: Encoder[Buf] = Encoders.product[Buf]
    override def outputEncoder: Encoder[Seq[Entry]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[Entry]]()
  }

  /** Column form: `topK(k)(distCol, idCol)` → array<struct<dist,id>>
    * sorted ascending. Use inside `groupBy(qid).agg(...)` — the
    * product input encoder flattens [[Entry]] into two arguments. */
  def topK(k: Int): (Column, Column) => Column = {
    val fn = udaf(new TopKAggregator(k), Encoders.product[Entry])
    (dist: Column, id: Column) => fn(dist, id)
  }

  /** Spark's own sort order on named columns of `schema`, `true` =
    * ascending (nulls first), `false` = descending (nulls last): the
    * order `orderBy(asc(a), desc(b))` gives, with its per-type
    * comparisons (strings by UTF-8 bytes, NaN above every double, -0.0
    * equal to 0.0) — which an `Ordering` on the boxed Scala values does
    * not reproduce (`String.compareTo` orders UTF-16 code units). */
  private[operators] def sparkOrdering(schema: StructType,
      keys: Seq[(String, Boolean)]): Ordering[InternalRow] =
    new InterpretedOrdering(keys.map { case (name, ascending) =>
      val i = schema.fieldIndex(name)
      SortOrder(BoundReference(i, schema(i).dataType, schema(i).nullable),
        if (ascending) Ascending else Descending)
    })

  /** Every slot's top-k of `rows` in ONE pass over them: slot s keeps
    * the k_s first rows, in Spark's ascending order on `by`, among the
    * rows its predicate holds for (None: every row; a null predicate
    * is false, as in `filter`). A row whose `by.head` is null is no
    * candidate of any slot — the [[Knn.exactDefined]] contract, since
    * ascending NULLS FIRST would rank it first and eat the slot's k.
    *
    * Each partition keeps one bounded heap per slot and the driver
    * merges them: `TakeOrderedAndProjectExec.executeCollect`
    * generalized to slots, so the driver receives at most
    * partitions × Σk rows, and a row in several heaps is serialized
    * once. It runs as ONE job with one stage, inside a SQL execution, so
    * listeners see its plan and planning phases like any Dataset
    * action. Returns each slot's rows in order, with `rows`'s columns. */
  private[operators] def slotTopK(rows: DataFrame, by: Seq[String],
      slots: Seq[(Option[Column], Int)]): IndexedSeq[Seq[Row]] = {
    val width = rows.schema.length
    val preds = slots.flatMap(_._1)
    val df = rows.select(col("*") +:
      preds.zipWithIndex.map { case (p, i) => p.as(s"__slot$i") }: _*)
    val defined = slots.map(_._1.isDefined)
    val maskAt = defined.indices.map(s =>
      if (defined(s)) width + defined.take(s).count(identity) else -1).toArray
    val ks = slots.map(_._2).toArray
    val ord = sparkOrdering(df.schema, by.map(_ -> true))
    val lead = df.schema.fieldIndex(by.head)
    val qe = df.queryExecution
    val parts = SQLExecution.withNewExecutionId(qe, Some("slotTopK")) {
      qe.toRdd.mapPartitions { it =>
        val heaps = ks.map(_ => new java.util.PriorityQueue[InternalRow](ord.reverse))
        it.foreach { r =>
          if (!r.isNullAt(lead)) {
            var kept: InternalRow = null
            var s = 0
            while (s < ks.length) {
              val m = maskAt(s)
              val h = heaps(s)
              if (ks(s) > 0 && (m < 0 || (!r.isNullAt(m) && r.getBoolean(m))) &&
                  (h.size < ks(s) || ord.compare(r, h.peek) < 0)) {
                if (kept == null) kept = r.copy()
                h.add(kept)
                if (h.size > ks(s)) h.poll()
              }
              s += 1
            }
          }
        }
        Iterator.single(heaps.map(_.toArray(Array.empty[InternalRow])))
      }.collect()
    }
    val external = CatalystTypeConverters.createToScalaConverter(df.schema)
    ks.indices.map { s =>
      parts.flatMap(_(s)).sorted(ord).take(ks(s)).toSeq.map(r =>
        Row.fromSeq(external(r).asInstanceOf[Row].toSeq.take(width)))
    }
  }
}
