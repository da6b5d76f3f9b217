package graft.sources

import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.UnsafeProjection
import org.apache.spark.sql.connector.expressions.Expressions
import org.apache.spark.sql.connector.expressions.filter.Predicate
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite

/** The task-side lake file writer on its real input: Spark hands a
  * `DataWriter` one reused row buffer whose values change on every
  * `write`, so whatever the writer keeps past a row (partition keys,
  * min/max extremes) must be its own copy. */
class LakeFileWriterSpec extends AnyFunSuite {

  private val leafT = StructType(Seq(StructField("name", StringType),
    StructField("n", LongType)))
  private val schema = StructType(Seq(StructField("p", StringType),
    StructField("s", StringType), StructField("d", DecimalType(12, 2)),
    StructField("st", leafT)))
  private val ids = Seq(1, 2, 3, 4)
  private val keys = Seq("alpha", "be", "gamma-ray")

  /** Row `i`: keys cycle so every file's values interleave with the
    * others', strings vary in length, and some structs and leaves are
    * null. */
  private def row(i: Int): Row = Row(keys(i % keys.length),
    "s" * (1 + i % 4) + i,
    java.math.BigDecimal.valueOf(i * 125L - 9000L, 2),
    if (i % 11 == 0) null
    else Row(if (i % 7 == 0) null else s"leaf${(300 - i) * 3}", i.toLong))

  private def eq(col: String, v: Any): Predicate =
    new Predicate("=", Array(Expressions.column(col),
      Expressions.literal(v)))

  /** Write rows `0 until n` through one task's writer, each as the same
    * reused buffer; `rowLevel` wraps them as row-level writes
    * [op, data..., _file] with every fifth a DELETE. Returns the files
    * and the rows the writer was meant to keep. */
  private def writeTask(dir: java.io.File, n: Int, rowLevel: Boolean)
      : (Vector[GraftLakeFile], Seq[Row]) = {
    val fw = GraftLakeFileWriteInfo(dir.getAbsolutePath, schema.fieldNames.toSeq,
      schema.fields.map(_.dataType).toSeq, ids, Seq(IdentityPart("p")))
    val inSchema =
      if (!rowLevel) schema
      else StructType(StructField("op", IntegerType) +: schema.fields :+
        StructField("_file", StringType))
    val toCatalyst = CatalystTypeConverters.createToCatalystConverter(inSchema)
    val unsafe = UnsafeProjection.create(inSchema)
    val w = new GraftLakeFileWriterFactory(fw,
      if (rowLevel) Some(schema.fields.map(_.dataType)) else None)
      .createWriter(0, 0L)
    val kept = Seq.newBuilder[Row]
    (0 until n).foreach { i =>
      val r = row(i)
      val dropped = rowLevel && i % 5 == 0
      if (!dropped) kept += r
      val in =
        if (!rowLevel) r
        else Row.fromSeq((if (dropped) 1 else 3) +: r.toSeq :+ s"f$i")
      w.write(unsafe(toCatalyst(in).asInstanceOf[InternalRow]))
    }
    (w.commit().asInstanceOf[GraftLakeFilesCommit].files, kept.result())
  }

  for (rowLevel <- Seq(false, true))
    test(s"a reused row buffer writes every row and true manifest stats (row-level: $rowLevel)") {
      val dir = java.nio.file.Files.createTempDirectory("graft_writer").toFile
      try {
        val (files, kept) = writeTask(dir, 240, rowLevel)
        val seen = kept.map(_.getString(0)).distinct
        assert(files.map(_.pkey) ==
          seen.map(k => Some(Vector(UTF8String.fromString(k)))),
          "one file per key, in first-seen order, each with its own key")
        val toScala = CatalystTypeConverters.createToScalaConverter(schema)
        files.zip(seen).foreach { case (f, k) =>
          val want = kept.filter(_.getString(0) == k)
          val got = GraftLakeColumnar.liveRows(GraftLakeFilePartition.of(f,
            Set.empty, schema.fieldNames.toSeq, Nil))(
            _.map(r => toScala(r).asInstanceOf[Row]).toVector)
          assert(got == want, s"$k: rows read back")
          assert(f.id.isEmpty && f.numRows == want.length)
          val ss = want.map(_.getString(1))
          assert(f.stats(2) == ((UTF8String.fromString(ss.min),
            UTF8String.fromString(ss.max))), s"$k: s min/max")
          val ds = want.map(r => BigDecimal(r.getDecimal(2)))
          assert(f.stats(3) == ((Decimal(ds.min), Decimal(ds.max))),
            s"$k: d min/max")
          val leaves = want.map(r => Option(r.getStruct(3))
            .flatMap(st => Option(st.getString(0))))
          assert(f.nstats((4, "name")) ==
            ((UTF8String.fromString(leaves.flatten.min),
              UTF8String.fromString(leaves.flatten.max))), s"$k: leaf min/max")
          assert(f.nnulls((4, "name")) == leaves.count(_.isEmpty))
          assert(f.nulls == Map(1 -> 0L, 2 -> 0L, 3 -> 0L,
            4 -> want.count(_.isNullAt(3)).toLong))
          // every written value probes in; the other files' values
          // inside this file's min/max range are mostly bloom misses
          val n2i = Map("s" -> 2)
          assert(ss.forall(v => GraftLakeStats.mayMatch(f,
            Seq(eq("s", UTF8String.fromString(v))), n2i)))
          val others = kept.map(_.getString(1))
            .filter(v => !ss.contains(v) && v > ss.min && v < ss.max)
          assert(others.length > 50)
          val pruned = others.count(v => !GraftLakeStats.mayMatch(f,
            Seq(eq("s", UTF8String.fromString(v))), n2i))
          assert(pruned >= others.length * 9 / 10,
            s"$k: $pruned of ${others.length} absent values pruned")
        }
      } finally graft.sources.GraftParquetIO.deleteRecursively(dir)
    }
}
