package graft

import org.apache.spark.{NarrowDependency, Partition, TaskContext}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{
  GenericInternalRow, JoinedRow, RowOrdering, UnsafeProjection}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.functions.{struct, to_json}
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** The one global position over a sorted relation. [[GlobalOrder.apply]]
  * range-sorts it once (none where the planner elides the sort); ONE job
  * then returns each sorted partition's row count and weight sum, which
  * the driver turns into offsets (Spark's `zipWithIndex` counting job,
  * generalised to a weight). Two narrow passes read them, neither moving a
  * row again:
  *  - [[indexed]]: each row's global index and the weight prefix before
  *    it — the two-pass distributed prefix sum, in place of an
  *    unpartitioned `row_number()` / running-`sum` window;
  *  - [[chunks]]: `n` exact chunks of `c = ceil(total / n)` rows (row `i`
  *    in chunk `min(n - 1, i / c)`); chunk `j` reads only the slices of
  *    the sorted partitions that rows `[j·c, (j+1)·c)` span.
  * The count job and the pass read one shuffle output. [[indexed]] reads
  * each sorted partition once, so tied rows get some order among
  * themselves (a reproducible index needs a unique tiebreak key). A
  * partition is read once per chunk it meets, so [[chunks]] needs every
  * read to yield the same rows in the same order: build it through
  * [[GlobalOrder.forChunks]], or over an order that is already total. */
final class GlobalOrder private (private[graft] val sorted: DataFrame,
    rows: RDD[InternalRow], counts: Array[Long], sums: Array[Long],
    weight: Int) {

  val total: Long = counts.sum
  /** Sum of the non-null weights (0 without a weight column). */
  val weightTotal: Long = sums.sum

  /** The sorted relation plus `index` and, when weighted, `before` (the
    * non-null weights of all earlier rows), both non-null BIGINT. */
  def indexed(index: String, before: String = "_before"): DataFrame = {
    val extra = if (weight >= 0) Seq(index, before) else Seq(index)
    val out = StructType(sorted.schema.fields ++
      extra.map(StructField(_, LongType, nullable = false)))
    val types = out.fields.map(_.dataType)
    val (offsets, prefixes, w) = (exclusive(counts), exclusive(sums), weight)
    val withIndex = rows.mapPartitionsWithIndex[InternalRow] { (p, it) =>
      val proj = UnsafeProjection.create(types)
      val (tail, joined) = (new GenericInternalRow(extra.length), new JoinedRow)
      var (i, s) = (offsets(p), prefixes(p))
      it.map { r =>
        tail.setLong(0, i)
        i += 1
        if (w >= 0) {
          tail.setLong(1, s)
          if (!r.isNullAt(w)) s += r.getLong(w)
        }
        proj(joined(r, tail))
      }
    }
    ColumnBridge.frame(sorted.sparkSession, withIndex, out)
  }

  /** The sorted rows cut into `n` exact chunks; a chunk past the last row
    * is an empty partition. */
  def chunks(n: Int): RDD[InternalRow] = {
    require(n >= 1, s"chunk count must be >= 1, got $n")
    val c = math.max(1L, (total + n - 1) / n)
    val (offsets, parts) = (exclusive(counts), rows.partitions)
    new SliceRDD(rows, Array.tabulate(n) { j =>
      val (lo, hi) = (j * c, math.min((j + 1) * c, total))
      Slices(j, counts.indices.collect {
        case p if offsets(p) < hi && offsets(p) + counts(p) > lo =>
          (parts(p), math.max(lo - offsets(p), 0L),
            math.min(hi - offsets(p), counts(p)))
      }.toArray)
    })
  }

  private def exclusive(xs: Array[Long]): Array[Long] = xs.scanLeft(0L)(_ + _)
}

object GlobalOrder extends AdaptiveSparkPlanHelper {

  /** Range-sort `df` by `order`; count each sorted partition and sum its
    * `weight` (a BIGINT column of `df`) in one job. */
  def apply(df: DataFrame, order: Seq[Column],
      weight: Option[String] = None): GlobalOrder =
    counted(df.orderBy(order: _*), weight)

  /** The `output` columns of `df` sorted by `order`, for [[chunks]] of up
    * to `n` chunks. Where the planner elides the sort (a lake scan that
    * already arrives in `order`), the scan's own row order is fixed.
    * Otherwise ties are broken by every `output` column, so rows tied
    * under the whole order hold the same values (up to the sign of a
    * floating zero, which SQL comparison ignores too) and every read of a
    * sorted partition yields one sequence, whatever order the shuffle
    * delivers its blocks in. Columns with no SQL order (maps, variants)
    * are compared as JSON. That sort cuts `4n` range partitions: each
    * chunk boundary re-reads at most one partition, about a quarter of a
    * chunk, where a few large partitions would each be re-read by every
    * chunk they meet. */
  def forChunks(df: DataFrame, order: Seq[Column], output: Seq[String],
      n: Int): GlobalOrder = {
    val cols = output.map(df.col)
    val plain = df.orderBy(order: _*).select(cols: _*)
    if (find(plain.queryExecution.executedPlan)(_.isInstanceOf[Exchange])
        .isEmpty) counted(plain, None)
    else {
      val total = order ++ output.map { c =>
        if (RowOrdering.isOrderable(df.schema(c).dataType)) df.col(c)
        else to_json(struct(df.col(c)))
      }
      counted(df.repartitionByRange(4 * n, total: _*)
        .sortWithinPartitions(total: _*).select(cols: _*), None)
    }
  }

  private def counted(sorted: DataFrame, weight: Option[String])
      : GlobalOrder = {
    val w = weight.fold(-1) { c =>
      val i = sorted.schema.fieldIndex(c)
      require(sorted.schema(i).dataType == LongType, s"weight $c not BIGINT")
      i
    }
    val rows = sorted.queryExecution.toRdd
    val stats = rows.mapPartitions { it =>
      var (n, s) = (0L, 0L)
      it.foreach { r =>
        n += 1
        if (w >= 0 && !r.isNullAt(w)) s += r.getLong(w)
      }
      Iterator((n, s))
    }.collect()
    new GlobalOrder(sorted, rows, stats.map(_._1), stats.map(_._2), w)
  }
}

/** Chunk `index` of [[GlobalOrder.chunks]]: `(parent, from, until)`. */
private final case class Slices(index: Int,
    slices: Array[(Partition, Long, Long)]) extends Partition

/** Reads each chunk's slices of the sorted partitions (a narrow,
  * `CoalescedRDD`-like dependency). A partition that runs out before its
  * slice ends fails the task: the counts and the read disagree. */
private final class SliceRDD(prev: RDD[InternalRow], parts: Array[Slices])
    extends RDD[InternalRow](prev.context, Seq(new NarrowDependency(prev) {
      override def getParents(j: Int): Seq[Int] =
        parts(j).slices.map(_._1.index).toSeq
    })) {
  override protected def getPartitions: Array[Partition] =
    parts.toArray[Partition]
  override def compute(s: Partition, ctx: TaskContext): Iterator[InternalRow] =
    s.asInstanceOf[Slices].slices.iterator.flatMap { case (p, from, until) =>
      val it = prev.iterator(p, ctx)
      var (skip, left) = (from, until - from)
      while (skip > 0 && it.hasNext) { it.next(); skip -= 1 }
      new Iterator[InternalRow] {
        override def hasNext: Boolean = left > 0 && (it.hasNext ||
          (throw new IllegalStateException(s"sorted partition ${p.index} " +
            s"ended $left rows short of its counted slice [$from, $until)")))
        override def next(): InternalRow = { left -= 1; it.next() }
      }
    }
}
