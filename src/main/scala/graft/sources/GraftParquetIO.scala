package graft.sources

import org.apache.hadoop.conf.Configuration
import org.apache.parquet.example.data.Group
import org.apache.parquet.hadoop.ParquetReader
import org.apache.parquet.hadoop.example.GroupReadSupport
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.{ArrayBasedMapData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Real columnar IO for lake tables: each committed file group lands
  * as an actual parquet file (written by Spark's own parquet write
  * support, read back row-at-a-time through parquet-mr's `Group` API),
  * so write-amplification claims are measured in BYTES on disk, and the
  * reader factories exercise genuine columnar decode in tasks.
  *
  * Supports primitive/string/temporal/decimal(<=18) leaves composed to
  * ANY nesting depth of ARRAY / STRUCT / MAP — the shapes training-data
  * tables actually carry (token lists, span structs, per-field score
  * maps). The encodings are the standard parquet nested shapes any
  * engine writes: 3-level LIST (`optional group (LIST) { repeated group
  * list { optional element } }`), plain nested groups for STRUCT, and
  * 3-level MAP (`optional group (MAP) { repeated group key_value {
  * required key; optional value } }`). Leaf types outside the supported
  * set reject loudly at table creation ([[supported]]). Row order is
  * write order (single sequential writer per file), which is what keeps
  * `_pos`-keyed deletion vectors stable.
  *
  * Lake roots are local directories, so files are written and read
  * through parquet's own `java.nio` `LocalOutputFile`/`LocalInputFile`:
  * no Hadoop FileSystem, so no `.crc` checksum sidecar and no `chmod`
  * fork per file (Hadoop's LocalFileSystem forks one when its native
  * library is absent). Every write and read copies one [[confTemplate]]
  * instead of building a `new Configuration()`, which re-parses
  * Hadoop's XML defaults (10–13 ms per file on 4 cores). */
object GraftParquetIO {

  private def primSupported(dt: DataType): Boolean = dt match {
    case LongType | IntegerType | DoubleType | FloatType | BooleanType |
         StringType | DateType | TimestampType | TimestampNTZType => true
    // money columns: unscaled-integer decimal (the parquet DECIMAL
    // annotation for precision <= 18 — the common lakehouse encoding)
    case d: DecimalType => d.precision <= 18
    case _ => false
  }

  def supported(dt: DataType): Boolean = dt match {
    case ArrayType(et, _) => supported(et)
    case StructType(fields) =>
      fields.nonEmpty && fields.forall(f => supported(f.dataType))
    // parquet MAP keys are physically `required`: a null key has no
    // encoding, so only non-null primitive keys are accepted
    case MapType(kt, vt, _) => primSupported(kt) && supported(vt)
    case _ => primSupported(dt)
  }

  /** The one immutable conf every write and read copies: no Hadoop
    * defaults (nothing here goes through a Hadoop FileSystem's
    * config-driven behaviour), plus every setting Spark's write support
    * reads at init. Executor-side there is no session, so the values
    * are pinned here explicitly — they ARE this engine's write
    * contract. Never mutated after construction. */
  private val confTemplate: Configuration = {
    import org.apache.spark.sql.internal.SQLConf
    val conf = new Configuration(false)
    conf.set(SQLConf.PARQUET_WRITE_LEGACY_FORMAT.key, "false")
    conf.set(SQLConf.PARQUET_OUTPUT_TIMESTAMP_TYPE.key,
      "TIMESTAMP_MICROS")
    // proleptic-Gregorian values only — this engine never writes
    // legacy-calendar ordinals (same CORRECTED the readers assume)
    conf.set(SQLConf.PARQUET_REBASE_MODE_IN_WRITE.key, "CORRECTED")
    conf.set(SQLConf.PARQUET_INT96_REBASE_MODE_IN_WRITE.key, "CORRECTED")
    conf.set(SQLConf.PARQUET_FIELD_ID_WRITE_ENABLED.key, "true")
    // read by the schema converter even though no VARIANT column exists
    conf.set(SQLConf.PARQUET_ANNOTATE_VARIANT_LOGICAL_TYPE.key, "false")
    conf
  }

  /** Write one file group to a NEW local file; returns its size in
    * bytes (the currency of the write-amplification assertions).
    * Spark's own [[org.apache.spark.sql.execution.datasources.parquet
    * .ParquetWriteSupport]] streams InternalRows straight into parquet
    * column writers through a RecordConsumer, with no per-row object
    * tree. Encodings are the standard modern shapes (3-level LIST/MAP,
    * INT64-micros timestamps, DECIMAL(<=9) as INT32 and DECIMAL(10-18) as
    * INT64), which both the Group reader below and the vectorized batch
    * reader serve. */
  def write(path: String, names: Seq[String],
      types: Seq[DataType], rows: Vector[InternalRow]): Long = {
    import org.apache.spark.sql.execution.datasources.parquet.ParquetWriteSupport
    val conf = new Configuration(confTemplate)
    ParquetWriteSupport.setSchema(StructType(names.zip(types).map {
      case (n, t) => StructField(n, t) }), conf)
    val file = java.nio.file.Paths.get(path)
    val writer = new RowWriterBuilder(
      new org.apache.parquet.io.LocalOutputFile(file)).withConf(conf).build()
    try rows.foreach(writer.write) finally writer.close()
    java.nio.file.Files.size(file)
  }

  /** Reads through parquet's `java.nio` LocalInputFile with a template
    * copy: `ParquetReader.builder(_, Path)` would build (and parse) a
    * default Hadoop conf of its own before any `withConf` replaced it. */
  private class GroupReaderBuilder(path: String)
      extends ParquetReader.Builder[Group](
        new org.apache.parquet.io.LocalInputFile(
          java.nio.file.Paths.get(path)),
        new org.apache.parquet.conf.HadoopParquetConfiguration(
          new Configuration(confTemplate))) {
    override def getReadSupport()
        : org.apache.parquet.hadoop.api.ReadSupport[Group] =
      new GroupReadSupport()
  }

  private class RowWriterBuilder(file: org.apache.parquet.io.OutputFile)
      extends org.apache.parquet.hadoop.ParquetWriter.Builder[
        InternalRow, RowWriterBuilder](file) {
    override def self(): RowWriterBuilder = this
    override def getWriteSupport(conf: Configuration)
        : org.apache.parquet.hadoop.api.WriteSupport[InternalRow] =
      new org.apache.spark.sql.execution.datasources.parquet
        .ParquetWriteSupport()
  }

  /** The catalyst value of the PRESENT field `i` of `g` typed `dt`,
    * recursing into nested groups. */
  private def readValue(g: Group, i: Int, dt: DataType): Any = dt match {
    case LongType | TimestampType | TimestampNTZType => g.getLong(i, 0)
    case IntegerType | DateType => g.getInteger(i, 0)
    case DoubleType => g.getDouble(i, 0)
    case FloatType => g.getFloat(i, 0)
    case BooleanType => g.getBoolean(i, 0)
    case StringType => UTF8String.fromBytes(g.getBinary(i, 0).getBytes)
    case d: DecimalType =>
      // dispatch on the FILE's primitive: the writer stores
      // precision ≤9 as INT32 and 10-18 as INT64
      g.getType.getType(i).asPrimitiveType().getPrimitiveTypeName match {
        case INT32 =>
          Decimal(g.getInteger(i, 0).toLong, d.precision, d.scale)
        case INT64 => Decimal(g.getLong(i, 0), d.precision, d.scale)
        case _ => // FIXED_LEN_BYTE_ARRAY / BINARY (defensive)
          Decimal(new java.math.BigDecimal(new java.math.BigInteger(
            g.getBinary(i, 0).getBytes), d.scale), d.precision, d.scale)
      }
    case ArrayType(et, _) =>
      val lg = g.getGroup(i, 0)
      val n = lg.getFieldRepetitionCount(0)
      val vals = new Array[Any](n)
      var j = 0
      while (j < n) {
        val entry = lg.getGroup(0, j)
        vals(j) =
          if (entry.getFieldRepetitionCount(0) == 0) null
          else readValue(entry, 0, et)
        j += 1
      }
      new GenericArrayData(vals)
    case StructType(fields) =>
      val sg = g.getGroup(i, 0)
      val vals = new Array[Any](fields.length)
      var j = 0
      while (j < fields.length) {
        vals(j) =
          if (sg.getFieldRepetitionCount(j) == 0) null
          else readValue(sg, j, fields(j).dataType)
        j += 1
      }
      new GenericInternalRow(vals)
    case MapType(kt, vt, _) =>
      val mg = g.getGroup(i, 0)
      val n = mg.getFieldRepetitionCount(0)
      val keys = new Array[Any](n)
      val vals = new Array[Any](n)
      var j = 0
      while (j < n) {
        val kv = mg.getGroup(0, j)
        keys(j) = readValue(kv, 0, kt)
        vals(j) =
          if (kv.getFieldRepetitionCount(1) == 0) null
          else readValue(kv, 1, vt)
        j += 1
      }
      new ArrayBasedMapData(new GenericArrayData(keys),
        new GenericArrayData(vals))
    case other => throw new UnsupportedOperationException(
      s"lake files cannot hold ${other.sql}")
  }

  /** TEST HOOK: files opened by this reader since JVM start — the
    * zero-read-probe-at-write spec's counter (a streaming upsert must
    * open NO existing data file). */
  val reads = new java.util.concurrent.atomic.AtomicLong

  /** Read a file group back, in write order, as InternalRows typed by
    * the file's write-time column types. */
  def read(path: String, types: Seq[DataType]): Vector[InternalRow] = {
    reads.incrementAndGet()
    val reader = new GroupReaderBuilder(path).build()
    val out = Vector.newBuilder[InternalRow]
    try {
      var g = reader.read()
      while (g != null) {
        val arr = new Array[Any](types.length)
        var i = 0
        while (i < types.length) {
          arr(i) =
            if (g.getFieldRepetitionCount(i) == 0) null
            else readValue(g, i, types(i))
          i += 1
        }
        out += new GenericInternalRow(arr)
        g = reader.read()
      }
    } finally reader.close()
    out.result()
  }

  def deleteRecursively(f: java.io.File): Unit = {
    Option(f.listFiles()).getOrElse(Array.empty)
      .foreach(deleteRecursively)
    f.delete()
  }
}
