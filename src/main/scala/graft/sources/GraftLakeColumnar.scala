package graft.sources

import java.util.{ArrayList => JArrayList}

import org.apache.spark.sql.connector.read.PartitionReader
import org.apache.spark.sql.execution.datasources.parquet.VectorizedParquetRecordReader
import org.apache.spark.sql.execution.vectorized.{ConstantColumnVector, OnHeapColumnVector}
import org.apache.spark.sql.types._
import org.apache.spark.sql.vectorized.{ColumnarArray, ColumnarBatch, ColumnarMap, ColumnVector}
import org.apache.spark.unsafe.types.UTF8String

/** VECTORIZED decode for parquet-backed lake scans.
  *
  * The row path ([[GraftParquetIO.read]]) decodes through parquet-mr's
  * example `Group` API — one materialized object tree per record — which
  * is correct but row-at-a-time; at 100 TB the decode CPU on the scan
  * path dominates. This module instead drives Spark's own
  * `VectorizedParquetRecordReader` (the engine under the built-in
  * parquet source): column chunks decode straight into
  * `OnHeapColumnVector`s in 4k-row batches, the DSv2 factory hands the
  * `ColumnarBatch` to Spark, and `ColumnarToRow` consumes it inside
  * whole-stage codegen — the exact physical shape `spark.read.parquet`
  * produces.
  *
  * Lake semantics are preserved by COMPOSING the batch, not rewriting
  * the decode:
  *  - field-id resolution: the file's parquet column LABELS are its
  *    write-time names ([[GraftLakeFile.pnames]], positionally aligned
  *    with the id manifest), so a projection maps current name → field
  *    id → file position → write-time label, and a RENAMEd column keeps
  *    decoding from the right chunk;
  *  - schema evolution: a column ADDed after the file was written has
  *    no chunk to decode — it rides as a [[ConstantColumnVector]]
  *    serving the EXISTS-default (or null), per batch, zero copies;
  *  - type widening: a file written before a
  *    widening ALTER COLUMN TYPE decodes at its PHYSICAL type and is
  *    served through a zero-copy [[WidenedVector]] view presenting the
  *    logical type (INT→BIGINT, FLOAT→DOUBLE — the engine's full
  *    widening surface), so ONE pre-ALTER file no longer demotes the
  *    whole scan off the columnar path;
  *  - deletion vectors: a position-deleted file
  *    decodes batches normally, then each batch is SELECTION-FILTERED —
  *    surviving row ordinals land in a shared selection array and every
  *    data vector is served through a zero-copy [[SelectedVector]] view
  *    that remaps row ids through it. A hot merge-on-read table is
  *    mostly DV'd between compactions; the decode win must survive
  *    row-level ops, not just freshly-compacted tables;
  *  - `_file` is a constant vector, `_pos` an `OnHeapColumnVector`
  *    refilled with the batch's run of SURVIVING ordinal positions
  *    (files are written by a single sequential writer, so parquet read
  *    order IS `_pos` order, and positions skip DV'd rows exactly like
  *    the row path).
  *
  * Scans that need per-row work the batch cannot express stay on the
  * row path (the factory falls back whenever [[eligible]] says no):
  * NESTED type evolution (widening is top-level-only by the ALTER
  * surface), physical/logical mismatches outside the widening pairs,
  * and files without write-time labels. Eligibility is decided ONCE per
  * scan over the whole active file set, because Spark requires every
  * partition of a scan to agree on columnar vs row output. */
object GraftLakeColumnar {

  /** Decode batch size — Spark's own default parquet batch capacity. */
  val BatchSize = 4096

  private def primVectorizable(dt: DataType): Boolean = dt match {
    case LongType | IntegerType | DoubleType | FloatType | BooleanType |
         StringType | DateType | TimestampType | TimestampNTZType => true
    case d: DecimalType => d.precision <= 18
    case _ => false
  }

  /** Types the vectorized path serves: the full lake storage
    * surface — primitives AND nested containers (Spark's
    * vectorized reader decodes standard 3-level LIST / plain-group
    * STRUCT / 3-level MAP into nested column vectors; these files are
    * written in exactly those encodings). */
  def vectorizable(dt: DataType): Boolean = dt match {
    case ArrayType(et, _) => vectorizable(et)
    case StructType(fields) =>
      fields.nonEmpty && fields.forall(f => vectorizable(f.dataType))
    case MapType(kt, vt, _) =>
      primVectorizable(kt) && vectorizable(vt)
    case other => primVectorizable(other)
  }

  /** The widening pairs ALTER COLUMN TYPE allows (top-level only): a
    * pre-ALTER file's physical chunk decodes at `phys` and a zero-copy
    * view presents `logical`. */
  private def widenable(phys: DataType, logical: DataType): Boolean =
    (phys, logical) match {
      case (IntegerType, LongType) => true
      case (FloatType, DoubleType) => true
      case _ => false
    }

  /** Scan-level eligibility: EVERY active file must be parquet-backed
    * and serve every required data column from a physically-identical
    * chunk, a WIDENABLE chunk (Int→Long / Float→Double view), or a
    * constant (absent → default) — and at least one required column
    * must actually decode from each file (a zero-column projection has
    * no batch to drive). Deletion vectors do NOT disqualify: batches
    * are selection-filtered per file (see [[SelectedVector]]). */
  def eligible(files: Seq[GraftLakeFile],
      required: StructType, namesOf: GraftLakeFile => Seq[String],
      defaults: Map[String, Any]): Boolean = {
    val dataFields = required.fields.filterNot(f =>
      f.name == GraftLakeTable.FileCol || f.name == GraftLakeTable.PosCol)
    dataFields.nonEmpty &&
    dataFields.forall(f => vectorizable(f.dataType)) &&
    files.forall { f =>
      f.pnames.length == f.cols.length && {
        val names = namesOf(f)
        dataFields.exists(fld => names.contains(fld.name)) &&
        dataFields.forall { fld =>
          val i = names.indexOf(fld.name)
          if (i >= 0) f.types(i) == fld.dataType ||
            widenable(f.types(i), fld.dataType)
          // absent column: a constant vector serves it — null for any
          // type, a non-null EXISTS-default only if primitive
          else defaults.getOrElse(fld.name, null) == null ||
            primVectorizable(fld.dataType)
        }
      }
    }
  }

  /** A per-batch constant column: the EXISTS-default (or null) an old
    * file serves for a post-write ADD COLUMN, vectorized. */
  private def constant(dt: DataType, v: Any): ConstantColumnVector = {
    val c = new ConstantColumnVector(BatchSize, dt)
    // null serves ANY type (including nested — isNullAt answers before
    // any child vector is consulted); non-null constants are primitive
    // by eligibility
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

  /** Executor-side columnar reader for one parquet-backed file group.
    * Only called when [[eligible]] approved the scan. */
  def reader(fp: GraftLakeFilePartition, required: StructType,
      defaults: Map[String, Any]): PartitionReader[ColumnarBatch] = {
    // required data columns present in the file: output slot → file
    // position; requested from parquet under the file's WRITE-TIME
    // labels, in output order (the reader's batch preserves request
    // order, so batch column j serves the j-th present field)
    val present: Array[(Int, Int)] =
      required.fields.zipWithIndex.flatMap { case (fld, oi) =>
        if (fld.name == GraftLakeTable.FileCol ||
            fld.name == GraftLakeTable.PosCol) None
        else {
          val fi = fp.cols.indexOf(fld.name)
          if (fi >= 0) Some((oi, fi)) else None
        }
      }
    val requestCols = new JArrayList[String](present.length)
    present.foreach { case (_, fi) => requestCols.add(fp.pnames(fi)) }
    // EQUALITY-DELETE probes (columnar leg): each
    // probe needs the key column's VALUES — reuse its decoded chunk if
    // the projection already carries it, else request it as an EXTRA
    // trailing column (probed only, never exposed in the output batch).
    // Requesting the same label twice would build a duplicate-field
    // parquet schema, hence the reuse.
    val eqDecodedIdx: Array[Int] = fp.eqProbes.map { case (fi, _, _) =>
      present.indexWhere(_._2 == fi) match {
        case j if j >= 0 => j
        case _ =>
          requestCols.add(fp.pnames(fi))
          requestCols.size - 1
      }
    }.toArray
    // rebase CORRECTED: these files are written by this engine with
    // proleptic-Gregorian day/micro values — no legacy calendar exists
    GraftParquetIO.reads.incrementAndGet() // same no-probe-counter as row IO
    val vec = new VectorizedParquetRecordReader(
      null, "CORRECTED", "UTC", "CORRECTED", "UTC", false, BatchSize)
    var initialized = false
    try {
      vec.initialize(fp.path, requestCols)
      initialized = true
    } finally if (!initialized) vec.close()
    val decoded = vec.resultBatch()
    val needPos =
      required.fieldNames.contains(GraftLakeTable.PosCol)
    val posVec = if (needPos) new OnHeapColumnVector(BatchSize, LongType)
      else null
    val outIdxToBatch = present.zipWithIndex
      .map { case ((oi, _), j) => oi -> j }.toMap
    val oiToFile = present.toMap
    val mine = Vector.newBuilder[ColumnVector] // vectors this reader owns
    if (posVec != null) mine += posVec
    // the file's DELETION VECTOR, already sorted ascending (see
    // GraftLakeFilePartition.deleted): batches are selection-filtered
    // against it below, walking `di` monotonically with read order
    val dv: Array[Long] = fp.deleted
    // equality-delete probes, resolved to (decoded column, physical
    // type, probe set): the keys parquet is read ONCE per file here in
    // the task, and each batch row's key is checked against the set —
    // so a hot CDC table keeps vectorized decode between compactions,
    // the same reason DVs ride the selection view instead of demoting
    // the scan. Widened keys canonicalize (Int value vs Long key).
    val probes: Array[(Int, DataType, Set[Any])] =
      fp.eqProbes.zipWithIndex.map { case ((fi, kpath, vt), j) =>
        (eqDecodedIdx(j), fp.types(fi), GraftEqDelete.loadProbe(kpath, vt))
      }.toArray
    val sel: Array[Int] =
      if (dv.isEmpty && probes.isEmpty) null else new Array[Int](BatchSize)
    val out: Array[ColumnVector] =
      required.fields.zipWithIndex.map { case (fld, oi) =>
        if (fld.name == GraftLakeTable.FileCol) {
          val c = new ConstantColumnVector(BatchSize, StringType)
          c.setUtf8String(UTF8String.fromString(fp.fileId))
          mine += c
          c
        } else if (fld.name == GraftLakeTable.PosCol) posVec
        else outIdxToBatch.get(oi) match {
          case Some(j) =>
            val raw = decoded.column(j)
            // physical ≠ logical on a pre-widening file: serve the
            // logical type through the zero-copy widening view
            if (fp.types(oiToFile(oi)) == fld.dataType) raw
            else new WidenedVector(raw, fld.dataType)
          case None =>
            val c = constant(fld.dataType,
              defaults.getOrElse(fld.name, null))
            mine += c
            c
        }
      }
    val owned = mine.result()
    // DV'd files serve the FILTERED view: data vectors remap through
    // the shared selection array; constants are selection-invariant and
    // `_pos` is filled directly with surviving ordinals
    val served: Array[ColumnVector] =
      if (sel == null) out
      else out.map {
        case c: ConstantColumnVector => c
        case v if v eq posVec => v
        case v => new SelectedVector(v, sel)
      }
    val batch = new ColumnarBatch(served)
    // is batch row i hit by any equality-delete probe? Key values are
    // read at the FILE's physical type and canonicalized (Int → Long)
    // to match the probe set's representation; null keys never match.
    def eqHit(i: Int): Boolean = {
      var j = 0
      while (j < probes.length) {
        val (ci, dt, set) = probes(j)
        val v = decoded.column(ci)
        if (!v.isNullAt(i)) {
          val k: Any = dt match {
            case LongType | TimestampType | TimestampNTZType =>
              java.lang.Long.valueOf(v.getLong(i))
            case IntegerType | DateType =>
              java.lang.Long.valueOf(v.getInt(i).toLong) // == canon
            case StringType => v.getUTF8String(i)
            case other => throw new IllegalStateException(
              s"unprobeable equality-delete key type ${other.sql}")
          }
          if (set.contains(k)) return true
        }
        j += 1
      }
      false
    }
    new PartitionReader[ColumnarBatch] {
      private var base = 0L
      private var di = 0 // monotone cursor into dv (read order = pos order)
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
          // deleted positions inside this batch's [lo, lo + n) range
          val d0 = di
          while (di < dv.length && dv(di) < lo + n) di += 1
          if (posVec != null) posVec.reset()
          var i = 0
          var d = d0
          var o = 0
          while (i < n) {
            if (d < di && dv(d) == lo + i) d += 1 // position-deleted
            else if (probes.length != 0 && eqHit(i)) () // key-deleted
            else {
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

  /** LIVE-row count of one parquet file under its DV + equality-delete
    * probes (the scan-less COUNT's one-time probe pass): drives
    * [[reader]] — the exact batch/selection semantics
    * every scan uses — projected to a single key column at the FILE's
    * own physical type, so only key chunks decode (further probes ride
    * as trailing requests the reader adds itself). The caller memoizes
    * per (file, DV, epoch-set); this stays a per-task, data-plane-free
    * helper. */
  def countLive(fp: GraftLakeFilePartition, keyName: String): Long = {
    val i = fp.cols.indexOf(keyName)
    require(i >= 0, s"count key $keyName absent from file ${fp.fileId}")
    val required = StructType(Seq(StructField(keyName, fp.types(i))))
    val r = reader(fp, required, Map.empty)
    var n = 0L
    try { while (r.next()) n += r.get().numRows() } finally r.close()
    n
  }
}
