package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Encoder, Encoders, Row}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.{Ascending, BoundReference, Descending, InterpretedOrdering, SortOrder, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions.{col, udaf}
import org.apache.spark.sql.types.StructType
import org.apache.spark.FutureAction
import scala.concurrent.Await
import scala.concurrent.duration.Duration
import scala.jdk.CollectionConverters._

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
  * For a result the DRIVER consumes (the per-request cascade, and a
  * request-sized batch of them), there is no exchange to feed:
  * [[slotTopK]] ranks several filtered top-k lists — per query, given
  * a group column — in one scan and merges their partition heaps on
  * the driver,
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
    * With a `group` column the slots are ranked per value of it: one
    * heap per (group, slot), so a batch of queries paired with their
    * pool rows ranks every (query, slot) top-k in the same pass.
    *
    * Each partition keeps one bounded heap per (group, slot) and the
    * driver merges them: `TakeOrderedAndProjectExec.executeCollect`
    * generalized to slots, so the driver receives at most partitions ×
    * groups × Σk rows, and a row in several heaps is serialized once.
    * It runs as ONE job with one stage, inside a SQL execution, so
    * listeners see its plan and planning phases like any Dataset
    * action. Returns each group's slot lists (rows in order, with
    * `rows`'s columns), keyed by the group value — `()` without a group
    * column; a group with no candidate reads empty lists.
    *
    * `maxBytes` bounds what the driver receives: each partition may
    * hold its share of it (`maxBytes` / partitions), counted as the
    * UnsafeRow bytes of the distinct rows its heaps hold — the
    * partitions × groups × Σk × row-width bound, measured on the rows
    * actually kept. A partition over its share stops scanning and sends
    * no rows, the job is cancelled, and the call returns None: the
    * caller takes a path that does not gather the candidates on the
    * driver. */
  private[operators] def slotTopK(rows: DataFrame, by: Seq[String],
      slots: Seq[(Option[Column], Int)], group: Option[String] = None,
      maxBytes: Long = Long.MaxValue): Option[Map[Any, IndexedSeq[Seq[Row]]]] = {
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
    val key = group.map { g => val i = df.schema.fieldIndex(g); (i, df.schema(i).dataType) }
    val qe = df.queryExecution
    val parts = SQLExecution.withNewExecutionId(qe, Some("slotTopK")) {
      val rdd = qe.toRdd
      val share = maxBytes / math.max(1, rdd.getNumPartitions)
      val heapsRdd = rdd.mapPartitions { it =>
        def newHeaps = ks.map(_ => new java.util.PriorityQueue[InternalRow](ord.reverse))
        val heaps = new java.util.HashMap[UnsafeRow, Array[java.util.PriorityQueue[InternalRow]]]()
        val heapsOf: InternalRow => Array[java.util.PriorityQueue[InternalRow]] =
          key match {
            case None =>
              val one = newHeaps
              heaps.put(UnsafeRow.createFromByteArray(0, 0), one)
              _ => one
            case Some((i, dt)) =>
              val proj = UnsafeProjection.create(Seq(BoundReference(i, dt, nullable = true)))
              r => {
                val k = proj(r)
                var hs = heaps.get(k)
                if (hs == null) { hs = newHeaps; heaps.put(k.copy(), hs) }
                hs
              }
          }
        lazy val toUnsafe = UnsafeProjection.create(df.schema)
        // the bytes of the distinct rows held: a row counts once, however
        // many heaps hold it, as it is serialized once
        val refs = new java.util.IdentityHashMap[InternalRow, Array[Int]]()
        var held = 0L
        def hold(r: InternalRow): Unit = refs.get(r) match {
          case null => refs.put(r, Array(1)); held += r.asInstanceOf[UnsafeRow].getSizeInBytes
          case n => n(0) += 1
        }
        def release(r: InternalRow): Unit = {
          val n = refs.get(r)
          n(0) -= 1
          if (n(0) == 0) { refs.remove(r); held -= r.asInstanceOf[UnsafeRow].getSizeInBytes }
        }
        while (held <= share && it.hasNext) {
          val r = it.next()
          if (!r.isNullAt(lead)) {
            val hs = heapsOf(r)
            var kept: InternalRow = null
            var s = 0
            while (s < ks.length) {
              val m = maskAt(s)
              val h = hs(s)
              if (ks(s) > 0 && (m < 0 || (!r.isNullAt(m) && r.getBoolean(m))) &&
                  (h.size < ks(s) || ord.compare(r, h.peek) < 0)) {
                if (kept == null) kept = r match {
                  case u: UnsafeRow => u.copy()
                  case o => toUnsafe(o).copy()
                }
                h.add(kept)
                hold(kept)
                if (h.size > ks(s)) release(h.poll())
              }
              s += 1
            }
          }
        }
        Iterator.single(Option.when(held <= share)(heaps.asScala.toArray.map { case (k, hs) =>
          k -> hs.map(_.toArray(Array.empty[InternalRow]))
        }))
      }
      // collect, except that the first partition over its share cancels
      // the job: the answer is None whatever the others hold
      val out = new Array[Option[Array[(UnsafeRow, Array[Array[InternalRow]])]]](
        heapsRdd.getNumPartitions)
      val job = new java.util.concurrent.atomic.AtomicReference[FutureAction[Unit]]()
      job.set(heapsRdd.sparkContext.submitJob(heapsRdd,
        (it: Iterator[Option[Array[(UnsafeRow, Array[Array[InternalRow]])]]]) => it.next(),
        out.indices, (i: Int, r: Option[Array[(UnsafeRow, Array[Array[InternalRow]])]]) => {
          out(i) = r
          if (r.isEmpty) Option(job.get).foreach(_.cancel())
        }, ()))
      Await.ready(job.get, Duration.Inf)
      if (!out.contains(None)) job.get.value.get.get // a failed job throws here
      out
    }
    if (parts.contains(None)) return None
    val external = CatalystTypeConverters.createToScalaConverter(df.schema)
    val keyValue = key.map { case (_, dt) =>
      val c = CatalystTypeConverters.createToScalaConverter(dt)
      (k: UnsafeRow) => c(k.get(0, dt))
    }
    val merged = parts.flatten.flatten.groupBy(_._1).map { case (k, hs) =>
      keyValue.fold[Any](())(_(k)) -> ks.indices.map { s =>
        hs.flatMap(_._2(s)).sorted(ord).take(ks(s)).toSeq.map(r =>
          Row.fromSeq(external(r).asInstanceOf[Row].toSeq.take(width)))
      }
    }
    Some(merged.withDefaultValue(ks.indices.map(_ => Nil)))
  }
}
