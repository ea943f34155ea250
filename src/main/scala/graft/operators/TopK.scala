package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Encoder, Encoders, Row}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.{Ascending, BoundReference, Descending, InterpretedOrdering, SortOrder, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions.{col, udaf}
import org.apache.spark.sql.types.StructType
import org.apache.spark.FutureAction
import org.apache.spark.rdd.RDD
import scala.concurrent.Await
import scala.concurrent.duration.Duration
import scala.jdk.CollectionConverters._

/** Bounded top-k (SURVEY.md §2.5 V2 batch kNN, 100 TB shape). Every
  * form keeps at most k rows per partition and group before anything
  * moves, ranks by (dist, id) so ties never flip, and treats a null
  * distance as no candidate (the [[Knn.exactDefined]] contract).
  *
  * [[slotTopK]] ranks several filtered top-k lists — per group, given a
  * group column — in one scan, with one bounded heap per (group, slot)
  * per partition, and merges the heaps at one of two sites: on the
  * driver, for a result the driver consumes (the per-request cascade,
  * a request-sized batch of them), or across a shuffle on the group
  * key ([[slotTopKShuffled]]), where each reducer merges its groups'
  * heaps and answers them (a batch too large for the driver). Rows
  * rank in Spark's own ordering ([[sparkOrdering]]), as `orderBy` would
  * rank them.
  *
  * [[topK]] is the same bound as an `Aggregator`, for a plan that must
  * stay one Catalyst aggregation (`Knn.batch`, IVF batch search, and a
  * streaming aggregation, where an RDD shuffle cannot run):
  * ObjectHashAggregate keeps the buffer as a live object within a
  * partition and serializes only at the exchange, so the exchange
  * carries at most k rows per (partition × group).
  */
object TopK {

  final case class Entry(dist: Double, id: Long)

  /** Unordered bounded buffer; pruned to k only when it exceeds 4k,
    * so per-row cost stays O(1) amortized. */
  final case class Buf(var entries: List[Entry])

  private def prune(entries: List[Entry], k: Int): List[Entry] =
    entries.sortBy(e => (e.dist, e.id)).take(k)

  /** Input (dist, id), the distance boxed so that a null one is seen
    * and dropped rather than decoded as 0.0, an exact match. */
  final class TopKAggregator(k: Int)
      extends Aggregator[(java.lang.Double, Long), Buf, Seq[Entry]] {
    require(k > 0)
    override def zero: Buf = Buf(Nil)
    override def reduce(b: Buf, in: (java.lang.Double, Long)): Buf = {
      if (in._1 != null) {
        b.entries = Entry(in._1, in._2) :: b.entries
        if (b.entries.length > 4 * k) b.entries = prune(b.entries, k)
      }
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
    * sorted ascending, rows with a null distance left out. Use inside
    * `groupBy(qid).agg(...)`. */
  def topK(k: Int): (Column, Column) => Column = {
    val fn = udaf(new TopKAggregator(k), Encoders.tuple(Encoders.DOUBLE, Encoders.scalaLong))
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
    * Each partition keeps one bounded heap per (group, slot); this form
    * merges them on the driver (the other merge site is
    * [[slotTopKShuffled]]): `TakeOrderedAndProjectExec.executeCollect`
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
    val (df, pass) = slotPass(rows, by, slots, group)
    val qe = df.queryExecution
    type Heaps = Option[Array[(UnsafeRow, Array[Array[InternalRow]])]]
    val parts = SQLExecution.withNewExecutionId(qe, Some("slotTopK")) {
      val rdd = qe.toRdd
      val share = maxBytes / math.max(1, rdd.getNumPartitions)
      val heapsRdd = rdd.mapPartitions(it => Iterator.single(pass.heaps(it, share)))
      // collect, except that the first partition over its share cancels
      // the job: the answer is None whatever the others hold
      val out = new Array[Heaps](heapsRdd.getNumPartitions)
      val job = new java.util.concurrent.atomic.AtomicReference[FutureAction[Unit]]()
      job.set(heapsRdd.sparkContext.submitJob(heapsRdd, (it: Iterator[Heaps]) => it.next(),
        out.indices, (i: Int, r: Heaps) => {
          out(i) = r
          if (r.isEmpty) Option(job.get).foreach(_.cancel())
        }, ()))
      Await.ready(job.get, Duration.Inf)
      if (!out.contains(None)) job.get.value.get.get // a failed job throws here
      out
    }
    if (parts.contains(None)) return None
    Some(parts.flatten.flatten.groupBy(_._1)
      .map { case (k, hs) => pass.lists(k, pass.top(hs.map(_._2))) }
      .withDefaultValue(IndexedSeq.fill(slots.length)(Seq.empty[Row])))
  }

  /** [[slotTopK]]'s pass with its heaps merged across a shuffle on the
    * `group` column instead of on the driver: each partition's heaps
    * are shuffled on the group value, each reducer merges a group's
    * heaps in the same order into the group's slot lists (as
    * [[slotTopK]] returns them) and emits `answer`'s rows for them. So
    * only the answers leave the executors, and a group's candidates
    * never meet those of another group. Lazy: nothing runs until the
    * returned RDD does (a plan `rows` must materialize first, such as a
    * broadcast, runs here). `answer` runs in the tasks, so it must
    * capture nothing that cannot be serialized. */
  private[operators] def slotTopKShuffled(rows: DataFrame, by: Seq[String],
      slots: Seq[(Option[Column], Int)], group: String)
      (answer: (Any, IndexedSeq[Seq[Row]]) => Seq[Row]): RDD[Row] = {
    val (df, pass) = slotPass(rows, by, slots, Some(group))
    df.queryExecution.toRdd
      .mapPartitions(it => pass.heaps(it, Long.MaxValue).get.iterator)
      .reduceByKey((a, b) => pass.top(Seq(a, b)))
      .flatMap { case (k, hs) => answer.tupled(pass.lists(k, pass.top(Seq(hs)))) }
  }

  /** `rows` with each slot's predicate appended as a column, and the
    * ranking state of a pass over it. */
  private def slotPass(rows: DataFrame, by: Seq[String],
      slots: Seq[(Option[Column], Int)], group: Option[String]): (DataFrame, SlotPass) = {
    val df = rows.select(col("*") +:
      slots.flatMap(_._1).zipWithIndex.map { case (p, i) => p.as(s"__slot$i") }: _*)
    (df, new SlotPass(df.schema, rows.schema.length, by, slots.map(_._1.isDefined),
      slots.map(_._2).toArray, group))
  }

  /** A slot pass's ranking state over rows of `schema` (the first
    * `width` columns are the caller's, then one mask column per defined
    * slot predicate): built on the driver, shipped to the tasks. */
  private final class SlotPass(schema: StructType, width: Int, by: Seq[String],
      defined: Seq[Boolean], ks: Array[Int], group: Option[String]) extends Serializable {
    private val ord = sparkOrdering(schema, by.map(_ -> true))
    private val lead = schema.fieldIndex(by.head)
    private val maskAt = defined.indices.map(s =>
      if (defined(s)) width + defined.take(s).count(identity) else -1).toArray
    private val key = group.map { g => val i = schema.fieldIndex(g); (i, schema(i).dataType) }
    @transient private lazy val external = CatalystTypeConverters.createToScalaConverter(schema)
    @transient private lazy val keyValue: UnsafeRow => Any = key.fold[UnsafeRow => Any](_ => ()) {
      case (_, dt) => val c = CatalystTypeConverters.createToScalaConverter(dt); k => c(k.get(0, dt))
    }

    /** One partition's heaps, one array of slot heaps per group value
      * (`()`'s empty key without a group column); None once the bytes of
      * the distinct rows held pass `share`, which stops the scan. */
    def heaps(it: Iterator[InternalRow],
              share: Long): Option[Array[(UnsafeRow, Array[Array[InternalRow]])]] = {
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
      lazy val toUnsafe = UnsafeProjection.create(schema)
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
      Option.when(held <= share)(heaps.asScala.toArray.map { case (k, hs) =>
        k -> hs.map(_.toArray(Array.empty[InternalRow]))
      })
    }

    /** Heaps of one group merged: per slot, its k first rows in order. */
    def top(hs: Seq[Array[Array[InternalRow]]]): Array[Array[InternalRow]] =
      ks.indices.map(s => hs.flatMap(_(s)).sorted(ord).take(ks(s)).toArray).toArray

    /** A group's value and its merged slot lists as rows of the caller's
      * columns. */
    def lists(k: UnsafeRow, top: Array[Array[InternalRow]]): (Any, IndexedSeq[Seq[Row]]) =
      keyValue(k) -> top.toIndexedSeq.map(_.toSeq.map(r =>
        Row.fromSeq(external(r).asInstanceOf[Row].toSeq.take(width))))
  }
}
