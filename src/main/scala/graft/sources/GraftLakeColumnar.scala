package graft.sources

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.hadoop.mapred.FileSplit
import org.apache.hadoop.mapreduce.TaskAttemptID
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.UnsafeProjection
import org.apache.spark.sql.connector.read.PartitionReader
import org.apache.spark.sql.execution.datasources.parquet.{ParquetReadSupport, VectorizedParquetRecordReader}
import org.apache.spark.sql.execution.vectorized.{ConstantColumnVector, OnHeapColumnVector}
import org.apache.spark.sql.types._
import org.apache.spark.sql.vectorized.{ColumnarArray, ColumnarBatch, ColumnarMap, ColumnVector}
import org.apache.spark.unsafe.types.UTF8String

/** The one decoder of lake files: every task-side read of a data file
  * or an equality-delete keys file (scans, the change feed, compaction
  * rewrites, live counts, probe loads) drives Spark's own
  * `VectorizedParquetRecordReader` (the engine under the built-in
  * parquet source). Column chunks decode straight into
  * `OnHeapColumnVector`s in 4k-row batches; scans hand the
  * `ColumnarBatch` to Spark, and `ColumnarToRow` consumes it inside
  * whole-stage codegen — the exact physical shape `spark.read.parquet`
  * produces. No task decodes a whole file into memory.
  *
  * Lake semantics are preserved by COMPOSING the batch, not rewriting
  * the decode:
  *  - field-id resolution: the file's parquet column LABELS are its
  *    write-time names ([[GraftLakeFile.pnames]], positionally aligned
  *    with the id manifest), so a projection maps current name → field
  *    id → file position → write-time label, and a RENAMEd column keeps
  *    decoding from the right chunk. A label missing from the footer
  *    fails the open loudly instead of null-filling;
  *  - schema evolution: a column ADDed after the file was written has
  *    no chunk to decode — it rides as a [[ConstantColumnVector]]
  *    serving the EXISTS-default (or null), per batch, zero copies;
  *  - type widening: a file written before a widening ALTER COLUMN
  *    TYPE decodes at its PHYSICAL type and is served through a
  *    zero-copy [[WidenedVector]] view presenting the logical type
  *    (INT→BIGINT, FLOAT→DOUBLE — the engine's full widening surface);
  *  - row selection: which rows of a file are live is decided here
  *    once — a position is not in the DV (or is in the change feed's
  *    `keepOnly` list) and its key hits no equality-delete probe (and
  *    hits the `eqKeep` probe when one is set). Surviving row ordinals
  *    land in a shared selection array and every data vector is served
  *    through a zero-copy [[SelectedVector]] view;
  *  - `_file` (and the change feed's `_change_type` /
  *    `_commit_version`) are constant vectors, `_pos` an
  *    `OnHeapColumnVector` refilled with the batch's run of SURVIVING
  *    ordinal positions (files are written by a single sequential
  *    writer, so parquet read order IS `_pos` order).
  *
  * A read that needs no column values (`SELECT _file, _pos`, a
  * projection of only post-write columns, a live count) still decodes
  * one chunk — the file's narrowest column — to count rows. */
object GraftLakeColumnar {

  /** Decode batch size — Spark's own default parquet batch capacity. */
  val BatchSize = 4096

  /** A per-batch constant column: the EXISTS-default (or null) an old
    * file serves for a post-write ADD COLUMN, or a change-feed tag. */
  private def constant(dt: DataType, v: Any): ConstantColumnVector = {
    val c = new ConstantColumnVector(BatchSize, dt)
    // null serves ANY type (including nested — isNullAt answers before
    // any child vector is consulted); non-null constants are primitive:
    // the lake log persists no nested default, so ALTER refuses one
    if (v == null) c.setNull()
    else dt match {
      case LongType | TimestampType | TimestampNTZType =>
        c.setLong(v.asInstanceOf[Long])
      case IntegerType | DateType => c.setInt(v.asInstanceOf[Int])
      case DoubleType => c.setDouble(v.asInstanceOf[Double])
      case FloatType => c.setFloat(v.asInstanceOf[Float])
      case BooleanType => c.setBoolean(v.asInstanceOf[Boolean])
      case StringType => c.setUtf8String(v.asInstanceOf[UTF8String])
      case d: DecimalType =>
        c.setDecimal(v.asInstanceOf[Decimal], d.precision)
      case other => throw new UnsupportedOperationException(
        s"columnar constant for ${other.sql}")
    }
    c
  }

  /** Zero-copy WIDENING view: presents the post-ALTER logical type over
    * a chunk decoded at its write-time physical type. Only the widening
    * pairs exist (INT→BIGINT, FLOAT→DOUBLE), so only the widened getter
    * is reachable; everything else delegates raw (nulls) or refuses. */
  private final class WidenedVector(base: ColumnVector, to: DataType)
      extends ColumnVector(to) {
    override def close(): Unit = () // base is owned by the parquet reader
    override def hasNull: Boolean = base.hasNull
    override def numNulls(): Int = base.numNulls()
    override def isNullAt(rowId: Int): Boolean = base.isNullAt(rowId)
    override def getLong(rowId: Int): Long = base.getInt(rowId).toLong
    override def getDouble(rowId: Int): Double =
      base.getFloat(rowId).toDouble
    private def refuse: Nothing = throw new UnsupportedOperationException(
      s"widened view to ${to.sql} serves only the widened getter")
    override def getBoolean(rowId: Int): Boolean = refuse
    override def getByte(rowId: Int): Byte = refuse
    override def getShort(rowId: Int): Short = refuse
    override def getInt(rowId: Int): Int = refuse
    override def getFloat(rowId: Int): Float = refuse
    override def getArray(rowId: Int): ColumnarArray = refuse
    override def getMap(rowId: Int): ColumnarMap = refuse
    override def getDecimal(rowId: Int, p: Int, s: Int): Decimal = refuse
    override def getUTF8String(rowId: Int): UTF8String = refuse
    override def getBinary(rowId: Int): Array[Byte] = refuse
    override def getChild(ordinal: Int): ColumnVector = refuse
  }

  /** Zero-copy SELECTION view for deletion-vector filtering: row id i
    * of this vector is row `sel(i)` of the base batch. The selection
    * array is SHARED by every wrapped column of the file and refilled
    * per batch with the surviving ordinals; struct children remap
    * through the same array (Spark's final `getStruct` builds a
    * ColumnarRow over THIS vector, whose field reads come back through
    * [[getChild]]). Array/map reads remap only the top-level row id —
    * their element data lives in child vectors addressed by offsets the
    * base vector resolves itself. */
  private final class SelectedVector(base: ColumnVector, sel: Array[Int])
      extends ColumnVector(base.dataType()) {
    private[this] var kids: Map[Int, ColumnVector] = Map.empty
    override def close(): Unit = () // base is owned by the parquet reader
    override def hasNull: Boolean = base.hasNull
    override def numNulls(): Int = base.numNulls()
    override def isNullAt(rowId: Int): Boolean = base.isNullAt(sel(rowId))
    override def getBoolean(rowId: Int): Boolean = base.getBoolean(sel(rowId))
    override def getByte(rowId: Int): Byte = base.getByte(sel(rowId))
    override def getShort(rowId: Int): Short = base.getShort(sel(rowId))
    override def getInt(rowId: Int): Int = base.getInt(sel(rowId))
    override def getLong(rowId: Int): Long = base.getLong(sel(rowId))
    override def getFloat(rowId: Int): Float = base.getFloat(sel(rowId))
    override def getDouble(rowId: Int): Double = base.getDouble(sel(rowId))
    override def getArray(rowId: Int): ColumnarArray =
      base.getArray(sel(rowId))
    override def getMap(rowId: Int): ColumnarMap = base.getMap(sel(rowId))
    override def getDecimal(rowId: Int, p: Int, s: Int): Decimal =
      base.getDecimal(sel(rowId), p, s)
    override def getUTF8String(rowId: Int): UTF8String =
      base.getUTF8String(sel(rowId))
    override def getBinary(rowId: Int): Array[Byte] =
      base.getBinary(sel(rowId))
    override def getChild(ordinal: Int): ColumnVector =
      kids.getOrElse(ordinal, {
        val k = new SelectedVector(base.getChild(ordinal), sel)
        kids = kids.updated(ordinal, k)
        k
      })
  }

  /** The one open of a lake parquet file: the `InputSplit` overload
    * over a copy of [[GraftParquetIO.conf]] carrying the requested
    * Spark schema (write-time labels at the file's physical types).
    * The path-and-columns overload builds a default-loading Hadoop
    * `Configuration` per open (~10 ms); this one reads only the copy.
    * Spark's read support null-fills a requested label the footer
    * lacks, so [[open]] checks every label against the footer itself. */
  private final class LakeFileReader extends VectorizedParquetRecordReader(
      // rebase CORRECTED: these files are written by this engine with
      // proleptic-Gregorian day/micro values — no legacy calendar exists
      null, "CORRECTED", "UTC", "CORRECTED", "UTC", false, BatchSize) {
    def open(path: String, labels: Seq[String], types: Seq[DataType]): Unit = {
      val conf = GraftParquetIO.conf()
      conf.set(ParquetReadSupport.SPARK_ROW_REQUESTED_SCHEMA,
        StructType(labels.zip(types).map { case (l, t) =>
          StructField(l, t) }).json)
      // the base class casts the split to the `mapred` FileSplit; the
      // range covers every row group
      initialize(new FileSplit(new Path(path), 0L, Long.MaxValue,
        Array.empty[String]), new TaskAttemptContextImpl(conf,
        new TaskAttemptID()))
      labels.find(l => !fileSchema.containsField(l)).foreach { l =>
        throw new java.io.IOException(
          s"lake file $path has no column labelled $l")
      }
    }
  }

  /** Canonical probe key of row `i` of `v` (read at the FILE's
    * physical type): Int-family values widen to Long so a pre-widening
    * file matches post-widening keys; null never matches. */
  private def keyAt(v: ColumnVector, dt: DataType, i: Int): Any =
    if (v.isNullAt(i)) null
    else dt match {
      case LongType | TimestampType | TimestampNTZType =>
        java.lang.Long.valueOf(v.getLong(i))
      case IntegerType | DateType => java.lang.Long.valueOf(v.getInt(i).toLong)
      case StringType => v.getUTF8String(i)
      case other => throw new IllegalStateException(
        s"unprobeable equality-delete key type ${other.sql}")
    }

  /** Executor-side columnar reader for one lake file: `required`
    * columns in order, the file's data columns resolved by name against
    * `fp.cols`, `_file`/`_pos` synthesized, and every other name served
    * as a constant from `consts` (EXISTS-defaults, change-feed tags;
    * null when absent). Only the file's LIVE rows are served (see the
    * class doc). */
  def reader(fp: GraftLakeFilePartition, required: StructType,
      consts: Map[String, Any]): PartitionReader[ColumnarBatch] = {
    // file position → batch column, in request order: the required data
    // columns the file holds (in output order), then probe keys the
    // projection lacks (probed only, never exposed), then — when nothing
    // else decodes — the narrowest column, only to count rows. Each
    // label is requested once: a duplicate would build a
    // duplicate-field parquet schema
    val slot = scala.collection.mutable.LinkedHashMap.empty[Int, Int]
    def decode(fi: Int): Int = slot.getOrElseUpdate(fi, slot.size)
    val dataSlot: Array[Int] = required.fields.map { fld =>
      val fi =
        if (fld.name == GraftLakeTable.FileCol ||
            fld.name == GraftLakeTable.PosCol) -1
        else fp.cols.indexOf(fld.name)
      if (fi < 0) -1
      else (fp.types(fi), fld.dataType) match {
        case (p, l) if p == l => decode(fi)
        case (IntegerType, LongType) | (FloatType, DoubleType) => decode(fi)
        case (p, l) => throw new IllegalStateException(
          s"lake file ${fp.fileId} stores ${fld.name} as ${p.sql}, " +
            s"which does not widen to ${l.sql}")
      }
    }
    // equality-delete probes, resolved to (batch column, physical type,
    // probe set): the keys parquet is read once per executor (cached)
    def probe(p: (Int, GraftEqDelete)): (Int, DataType, Set[Any]) =
      (decode(p._1), fp.types(p._1), GraftEqDelete.loadProbe(p._2))
    val drops: Array[(Int, DataType, Set[Any])] = fp.eqProbes.map(probe).toArray
    val keep: (Int, DataType, Set[Any]) = fp.eqKeep.map(probe).orNull
    if (slot.isEmpty) decode(fp.types.indices.minBy(fp.types(_).defaultSize))
    val fis = slot.keys.toSeq
    GraftParquetIO.reads.incrementAndGet()
    val vec = new LakeFileReader
    try vec.open(fp.path, fis.map(fp.pnames), fis.map(fp.types))
    catch { case e: Throwable => vec.close(); throw e }
    val decoded = vec.resultBatch()
    val posVec =
      if (required.fieldNames.contains(GraftLakeTable.PosCol))
        new OnHeapColumnVector(BatchSize, LongType)
      else null
    val mine = Vector.newBuilder[ColumnVector] // vectors this reader owns
    if (posVec != null) mine += posVec
    def own(c: ConstantColumnVector): ColumnVector = { mine += c; c }
    val out: Array[ColumnVector] =
      required.fields.zipWithIndex.map { case (fld, oi) =>
        if (fld.name == GraftLakeTable.FileCol) {
          val c = new ConstantColumnVector(BatchSize, StringType)
          c.setUtf8String(UTF8String.fromString(fp.fileId))
          own(c)
        } else if (fld.name == GraftLakeTable.PosCol) posVec
        else if (dataSlot(oi) < 0)
          own(constant(fld.dataType, consts.getOrElse(fld.name, null)))
        else {
          val raw = decoded.column(dataSlot(oi))
          // physical ≠ logical on a pre-widening file: serve the
          // logical type through the zero-copy widening view
          if (fp.types(fp.cols.indexOf(fld.name)) == fld.dataType) raw
          else new WidenedVector(raw, fld.dataType)
        }
      }
    val owned = mine.result()
    // position selection: `marked` is the DV (rows dropped) or the
    // change feed's keepOnly list (rows kept), sorted ascending and
    // walked with a monotone cursor in read order
    val marked: Array[Long] = fp.keepOnly.getOrElse(fp.deleted)
    val keepMarked = fp.keepOnly.isDefined
    val sel: Array[Int] =
      if (marked.isEmpty && !keepMarked && drops.isEmpty && keep == null) null
      else new Array[Int](BatchSize)
    // selected files serve the FILTERED view: data vectors remap
    // through the shared selection array; constants are
    // selection-invariant and `_pos` is filled directly with surviving
    // ordinals
    val batch = new ColumnarBatch(
      if (sel == null) out
      else out.map {
        case c: ConstantColumnVector => c
        case v if v eq posVec => v
        case v => new SelectedVector(v, sel)
      })
    def hits(p: (Int, DataType, Set[Any]), i: Int): Boolean = {
      val k = keyAt(decoded.column(p._1), p._2, i)
      k != null && p._3.contains(k)
    }
    // does batch row i pass the key probes?
    def keyLive(i: Int): Boolean = {
      var j = 0
      while (j < drops.length) {
        if (hits(drops(j), i)) return false
        j += 1
      }
      keep == null || hits(keep, i)
    }
    new PartitionReader[ColumnarBatch] {
      private var base = 0L
      private var di = 0 // monotone cursor into marked (read = pos order)
      override def next(): Boolean = {
        while (vec.nextBatch()) {
          val n = decoded.numRows()
          val lo = base
          base += n
          if (sel == null) {
            if (posVec != null) {
              posVec.reset()
              var i = 0
              while (i < n) { posVec.putLong(i, lo + i); i += 1 }
            }
            batch.setNumRows(n)
            return true
          }
          // marked positions inside this batch's [lo, lo + n) range
          val d0 = di
          while (di < marked.length && marked(di) < lo + n) di += 1
          if (posVec != null) posVec.reset()
          var i = 0
          var d = d0
          var o = 0
          while (i < n) {
            val isMarked = d < di && marked(d) == lo + i
            if (isMarked) d += 1
            if (isMarked == keepMarked && keyLive(i)) {
              sel(o) = i
              if (posVec != null) posVec.putLong(o, lo + i)
              o += 1
            }
            i += 1
          }
          if (o > 0) {
            batch.setNumRows(o)
            return true
          }
          // whole batch dead — decode the next one
        }
        false
      }
      override def get(): ColumnarBatch = batch
      override def close(): Unit = {
        vec.close() // closes the decoded batch's vectors
        owned.foreach(_.close())
      }
    }
  }

  /** The LIVE rows of one file in read order, every column at its
    * physical type in the file's own layout — streamed batch by batch,
    * so `body` sees an iterator over the open file. Each row is the one
    * reused projection buffer: `body` copies what it keeps. The file
    * closes when `body` returns. */
  def liveRows[T](fp: GraftLakeFilePartition)(
      body: Iterator[InternalRow] => T): T = {
    val schema = StructType(fp.cols.zip(fp.types).map { case (n, t) =>
      StructField(n, t) })
    val r = reader(fp, schema, Map.empty)
    try {
      val toUnsafe = UnsafeProjection.create(schema)
      body(Iterator.continually(r.next()).takeWhile(identity)
        .flatMap(_ => r.get().rowIterator().asScala)
        .map(toUnsafe))
    } finally r.close()
  }

  /** LIVE-row count of one file under its DV + equality-delete probes
    * (the scan-less COUNT's one-time probe pass): only the probe key
    * chunks decode. */
  def countLive(fp: GraftLakeFilePartition): Long = {
    val r = reader(fp, new StructType(), Map.empty)
    var n = 0L
    try { while (r.next()) n += r.get().numRows() } finally r.close()
    n
  }

  /** The canonical non-null keys of an equality-delete keys file (one
    * column, written under `label` — the key's write-time name, which
    * the eq-delete log entry records). */
  def keys(path: String, label: String, dt: DataType): Set[Any] = {
    val fp = GraftLakeFilePartition(path, Array.empty, Seq(label), path,
      Seq(dt), Seq(label))
    val r = reader(fp, StructType(Seq(StructField(label, dt))), Map.empty)
    val out = Set.newBuilder[Any]
    try while (r.next()) {
      val b = r.get()
      var i = 0
      while (i < b.numRows()) {
        keyAt(b.column(0), dt, i) match {
          case null => ()
          case s: UTF8String => out += s.copy() // the vector is reused
          case k => out += k
        }
        i += 1
      }
    } finally r.close()
    out.result()
  }
}
