package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The vectorized lake-read contract: every lake file decodes through
  * the one reader (`GraftLakeColumnar.reader`, over Spark's
  * VectorizedParquetRecordReader) into ColumnarBatches, and the physical
  * plan shows it — `ColumnarToRow` above the BatchScan is the pin for
  * every scan shape: deletion vectors, equality deletes, widened types,
  * nested columns, post-write ADD COLUMN, metadata-only projections and
  * the change feed. Semantics stay the custom scan's: field-id resolution
  * across RENAME, EXISTS-defaults for post-write ADD COLUMN, and
  * `_file`/`_pos` metadata. */
class ColumnarScanSpec extends SparkTestBase {

  private def plan(df: DataFrame): String =
    df.queryExecution.executedPlan.toString

  private def useCatalog(): Unit =
    spark.conf.set("spark.sql.catalog.graftlake",
      classOf[graft.sources.GraftLakeCatalog].getName)

  test("parquet-storage scan is columnar (ColumnarToRow) and type-exact") {
    useCatalog()
    val t = "graftlake.spec_colscan"
    spark.sql(s"DROP TABLE IF EXISTS $t")
    spark.sql(s"CREATE TABLE $t (k BIGINT, s STRING, d DOUBLE, " +
      "dt DATE, ts TIMESTAMP, dec DECIMAL(12,2), b BOOLEAN)")
    val input = spark.range(0, 1000)
      .selectExpr("id AS k", "concat('v', id) AS s",
        "id * 0.5 AS d", "date_add(DATE'2024-01-01', CAST(id % 365 AS INT)) AS dt",
        "timestamp_millis(1700000000000 + id * 1000) AS ts",
        "CAST(id AS DECIMAL(12,2)) / 4 AS dec", "id % 2 = 0 AS b")
    input.coalesce(2).writeTo(t).append()
    val df = spark.table(t)
    assert(plan(df).contains("ColumnarToRow"),
      s"parquet-backed lake scan must decode columnar:\n${plan(df)}")
    val got = df.orderBy("k").collect()
    assert(got.length == 1000)
    val r = got(7)
    assert(r.getLong(0) == 7L && r.getString(1) == "v7" &&
      r.getDouble(2) == 3.5 &&
      r.getDate(3).toString == "2024-01-08" &&
      r.getDecimal(5) == new java.math.BigDecimal("1.75") &&
      !r.getBoolean(6), s"row 7 decoded wrong: $r")
    // projection stays columnar and prunes: only requested chunks decode
    val proj = df.select("k", "dec")
    assert(plan(proj).contains("ColumnarToRow"), plan(proj))
    assert(proj.agg(sum("dec")).collect().head.getDecimal(0) ==
      new java.math.BigDecimal("124875.00"))
    // the relation plain Spark computes from the same input (cast to the
    // table's DECIMAL(12,2), as the write stores it), row for row
    assert(input.withColumn("dec", col("dec").cast("DECIMAL(12,2)"))
      .orderBy("k").collect().map(_.toString).toSeq ==
      got.map(_.toString).toSeq,
      "the lake scan must return exactly the written relation")
    spark.sql(s"DROP TABLE IF EXISTS $t")
  }

  test("columnar decode resolves RENAME by write-time label and serves ADD-DEFAULT as a constant vector") {
    useCatalog()
    val t = "graftlake.spec_colscan_evolve"
    spark.sql(s"DROP TABLE IF EXISTS $t")
    spark.sql(s"CREATE TABLE $t (k BIGINT, s STRING)")
    spark.range(0, 10).selectExpr("id AS k", "concat('old', id) AS s")
      .coalesce(1).writeTo(t).append()
    // the first file's parquet labels are (k, s); after the RENAME the
    // scan must still decode its chunk positionally via the label map
    spark.sql(s"ALTER TABLE $t RENAME COLUMN s TO label")
    spark.sql(s"ALTER TABLE $t ADD COLUMNS (w DOUBLE DEFAULT 1.5)")
    spark.range(10, 20).selectExpr("id AS k", "concat('new', id) AS label",
      "CAST(id AS DOUBLE) AS w").coalesce(1).writeTo(t).append()
    val df = spark.table(t)
    assert(plan(df).contains("ColumnarToRow"),
      s"mixed-schema parquet files must still decode columnar " +
        s"(old file null-fills w via constant vector):\n${plan(df)}")
    val got = df.orderBy("k").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
    assert(got(3) == ((3L, "old3", 1.5)),
      s"pre-ADD file must serve the EXISTS-default columnar: ${got(3)}")
    assert(got(13) == ((13L, "new13", 13.0)), got(13).toString)
    spark.sql(s"DROP TABLE IF EXISTS $t")
  }

  test("deletion vectors stay columnar: batches selection-filter against the DV") {
    // a hot merge-on-read table is mostly DV'd between compactions —
    // the decode win must survive row-level ops
    useCatalog()
    val t = "graftlake.spec_colscan_dv"
    spark.sql(s"DROP TABLE IF EXISTS $t")
    spark.sql(s"CREATE TABLE $t (k BIGINT, s STRING) " +
      "TBLPROPERTIES ('graft.mode' = 'merge-on-read')")
    // > 1 decode batch (4096 rows) so the selection walk crosses batch
    // boundaries; deletes hit every batch AND fully clear the SECOND
    // 4096-row batch (the all-dead batch-skip path)
    spark.range(0, 10000).selectExpr("id AS k", "concat('v', id) AS s")
      .coalesce(1).writeTo(t).append()
    assert(plan(spark.table(t)).contains("ColumnarToRow"))
    spark.sql(s"DELETE FROM $t WHERE k % 10 = 0") // every batch
    spark.sql(s"DELETE FROM $t WHERE k >= 4096 AND k < 8192") // batch 2
    val table = graft.sources.GraftLakeCatalog
      .tableFor("graftlake", "spec_colscan_dv").get
    assert(table.deletionVectors.values.exists(_.nonEmpty),
      "precondition: the deletes must land as a deletion vector")
    val withDv = spark.table(t)
    assert(plan(withDv).contains("ColumnarToRow"),
      s"a DV'd file must STAY columnar (selection-filtered batches):\n" +
        plan(withDv))
    val live = (0L until 10000L)
      .filterNot(k => k % 10 == 0 || (k >= 4096 && k < 8192))
    assert(withDv.count() == live.length &&
      withDv.agg(sum("k")).collect().head.getLong(0) == live.sum)
    assert(withDv.where("k = 4500").count() == 0 &&
      withDv.where("s = 'v9999'").count() == 1)
    // _pos stays the ORIGINAL in-file ordinal across the selection —
    // that stability is what makes position deletes a usable row id
    val pos = withDv.select(col("_pos"), col("k")).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(pos.forall { case (p, k) => p == k },
      "surviving rows must keep their pre-delete ordinals")
    // compaction still clears the DV and the table stays columnar
    spark.sql(s"CALL graftlake.system.compact('spec_colscan_dv')")
    assert(table.deletionVectors.values.forall(_.isEmpty) ||
      table.deletionVectors.isEmpty)
    val compacted = spark.table(t)
    assert(plan(compacted).contains("ColumnarToRow"))
    assert(compacted.count() == live.length)
    spark.sql(s"DROP TABLE IF EXISTS $t")
  }

  test("a post-MERGE merge-on-read table plans columnar and answers exactly") {
    // MERGE leaves DVs + insert files on a MoR table; the scan must keep
    // the vectorized plan and the merged state must be exact
    useCatalog()
    val t = "graftlake.spec_colscan_mor"
    spark.sql(s"DROP TABLE IF EXISTS $t")
    spark.sql(s"CREATE TABLE $t (k BIGINT, v BIGINT) " +
      "TBLPROPERTIES ('graft.mode' = 'merge-on-read')")
    spark.range(0, 1000).selectExpr("id AS k", "CAST(0 AS BIGINT) AS v")
      .coalesce(1).writeTo(t).append()
    spark.range(500, 1500).selectExpr("id AS k", "CAST(1 AS BIGINT) AS v")
      .createOrReplaceTempView("mor_src")
    spark.sql(s"""MERGE INTO $t USING mor_src ON $t.k = mor_src.k
      WHEN MATCHED THEN UPDATE SET v = mor_src.v
      WHEN NOT MATCHED THEN INSERT (k, v) VALUES (mor_src.k, mor_src.v)""")
    val table = graft.sources.GraftLakeCatalog
      .tableFor("graftlake", "spec_colscan_mor").get
    assert(table.deletionVectors.values.exists(_.nonEmpty),
      "precondition: MoR MERGE must leave deletion vectors")
    val df = spark.table(t)
    assert(plan(df).contains("ColumnarToRow"),
      s"post-MERGE MoR table must plan columnar:\n${plan(df)}")
    assert(df.count() == 1500)
    assert(df.where("v = 1").count() == 1000 &&
      df.where("v = 0").count() == 500)
    assert(df.groupBy().agg(sum("k")).collect().head.getLong(0) ==
      (0L until 1500L).sum)
    spark.sql(s"DROP TABLE IF EXISTS $t")
  }

  test("widened columns decode columnar through the physical-type view") {
    // a pre-ALTER file (INT/FLOAT physical) decodes at its physical type
    // and the widening view presents the logical type
    useCatalog()
    val t = "graftlake.spec_colscan_widen"
    spark.sql(s"DROP TABLE IF EXISTS $t")
    spark.sql(s"CREATE TABLE $t (k BIGINT, n INT, f FLOAT) " +
      "TBLPROPERTIES ('graft.mode' = 'merge-on-read')") // MoR: the DELETE below lands as a DV
    spark.range(0, 100).selectExpr("id AS k", "CAST(id AS INT) AS n",
      "CAST(id AS FLOAT) / 2 AS f").coalesce(1).writeTo(t).append()
    spark.sql(s"ALTER TABLE $t ALTER COLUMN n TYPE BIGINT")
    spark.sql(s"ALTER TABLE $t ALTER COLUMN f TYPE DOUBLE")
    spark.range(100, 200).selectExpr("id AS k", "id AS n",
      "CAST(id AS DOUBLE) / 2 AS f").coalesce(1).writeTo(t).append()
    val df = spark.table(t)
    assert(plan(df).contains("ColumnarToRow"),
      s"a pre-ALTER physical-INT file must not demote the scan:\n" +
        plan(df))
    assert(df.schema("n").dataType.typeName == "long" &&
      df.schema("f").dataType.typeName == "double")
    assert(df.agg(sum("n")).collect().head.getLong(0) ==
      (0L until 200L).sum)
    assert(df.agg(sum("f")).collect().head.getDouble(0) ==
      (0L until 200L).map(_ / 2.0).sum)
    val r = df.where("k = 42").collect().head
    assert(r.getLong(1) == 42L && r.getDouble(2) == 21.0, r.toString)
    // widened + DV'd in the SAME file: both views compose
    spark.sql(s"DELETE FROM $t WHERE k IN (7, 142)")
    val dvDf = spark.table(t)
    assert(plan(dvDf).contains("ColumnarToRow"),
      s"widened + DV'd must still plan columnar:\n${plan(dvDf)}")
    assert(dvDf.count() == 198 &&
      dvDf.agg(sum("n")).collect().head.getLong(0) ==
        (0L until 200L).sum - 7L - 142L)
    spark.sql(s"DROP TABLE IF EXISTS $t")
  }

  test("_file and _pos project columnar as constant / position vectors") {
    useCatalog()
    val t = "graftlake.spec_colscan_meta"
    spark.sql(s"DROP TABLE IF EXISTS $t")
    spark.sql(s"CREATE TABLE $t (k BIGINT)")
    spark.range(0, 50).selectExpr("id AS k").coalesce(1).writeTo(t).append()
    spark.range(50, 80).selectExpr("id AS k").coalesce(1).writeTo(t).append()
    val df = spark.table(t).select(col("_file"), col("_pos"), col("k"))
    assert(plan(df).contains("ColumnarToRow"),
      s"metadata projection must stay columnar:\n${plan(df)}")
    val rows = df.collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(rows.length == 80)
    val byFile = rows.groupBy(_._1)
    assert(byFile.size == 2)
    byFile.values.foreach { rs =>
      // positions are the in-file write ordinals, dense from 0
      assert(rs.map(_._2).sorted.toSeq == (0L until rs.length).toSeq,
        s"_pos must be the dense in-file ordinal run: ${rs.take(5).toSeq}")
    }
    // position aligns with the written row order (k ascending per file)
    byFile.values.foreach { rs =>
      val sorted = rs.sortBy(_._2)
      assert(sorted.map(_._3).toSeq == sorted.map(_._3).sorted.toSeq)
    }
    spark.sql(s"DROP TABLE IF EXISTS $t")
  }

  test("nested columns decode columnar (struct/array/map vectors)") {
    useCatalog()
    val t = "graftlake.spec_colscan_nested"
    spark.sql(s"DROP TABLE IF EXISTS $t")
    spark.sql(s"CREATE TABLE $t (k BIGINT, m STRUCT<a: BIGINT, b: STRING>, " +
      "xs ARRAY<DOUBLE>, tags MAP<STRING, BIGINT>)")
    spark.range(0, 100).selectExpr("id AS k",
      "named_struct('a', id * 2, 'b', concat('s', id)) AS m",
      "array(CAST(id AS DOUBLE), id * 0.5) AS xs",
      "map('h', id % 7, 'q', id % 3) AS tags")
      .coalesce(1).writeTo(t).append()
    val df = spark.table(t)
    assert(plan(df).contains("ColumnarToRow"),
      s"nested columns must ride Spark's nested column vectors:\n${plan(df)}")
    assert(df.select(sum(col("m.a"))).collect().head.getLong(0) == 9900L)
    assert(df.select(sum(element_at(col("xs"), 2)))
      .collect().head.getDouble(0) == 2475.0)
    assert(df.select(sum(element_at(col("tags"), lit("h"))))
      .collect().head.getLong(0) == (0 until 100).map(_ % 7).sum)
    val r = df.where("k = 7").collect().head
    assert(r.getStruct(1).getString(1) == "s7" &&
      r.getSeq[Double](2) == Seq(7.0, 3.5) &&
      r.getMap[String, Long](3)("q") == 1L)
    spark.sql(s"DROP TABLE IF EXISTS $t")
  }

  test("nested columns survive the DV selection view (struct children remap)") {
    // the selection wrapper's getChild path: a struct field read on a
    // DV'd batch goes ColumnarRow -> wrapper.getChild -> remapped child
    useCatalog()
    val t = "graftlake.spec_colscan_nested_dv"
    spark.sql(s"DROP TABLE IF EXISTS $t")
    spark.sql(s"CREATE TABLE $t (k BIGINT, m STRUCT<a: BIGINT, b: STRING>, " +
      "xs ARRAY<DOUBLE>, tags MAP<STRING, BIGINT>) " +
      "TBLPROPERTIES ('graft.mode' = 'merge-on-read')")
    spark.range(0, 100).selectExpr("id AS k",
      "named_struct('a', id * 2, 'b', concat('s', id)) AS m",
      "array(CAST(id AS DOUBLE), id * 0.5) AS xs",
      "map('h', id % 7) AS tags")
      .coalesce(1).writeTo(t).append()
    spark.sql(s"DELETE FROM $t WHERE k % 3 = 0")
    val df = spark.table(t)
    assert(plan(df).contains("ColumnarToRow"),
      s"nested + DV must stay columnar:\n${plan(df)}")
    val live = (0L until 100L).filter(_ % 3 != 0)
    assert(df.count() == live.length)
    assert(df.select(sum(col("m.a"))).collect().head.getLong(0) ==
      live.map(_ * 2).sum)
    assert(df.select(sum(element_at(col("xs"), 2))).collect()
      .head.getDouble(0) == live.map(_ * 0.5).sum)
    assert(df.select(sum(element_at(col("tags"), lit("h")))).collect()
      .head.getLong(0) == live.map(_ % 7).sum)
    val r7 = df.where("k = 7").collect().head
    assert(r7.getStruct(1).getLong(0) == 14L &&
      r7.getStruct(1).getString(1) == "s7")
    spark.sql(s"DROP TABLE IF EXISTS $t")
  }

  test("nested and DECIMAL(7,2) files: scan and lake reader exact") {
    // the writer stores DECIMAL(<=9) as INT32 and DECIMAL(10-18) as
    // INT64; the scan and the reader's row stream (what compaction
    // rewrites consume) must both serve either, nested columns included
    useCatalog()
    val t = "graftlake.spec_writer_readers"
    spark.sql(s"DROP TABLE IF EXISTS $t")
    spark.sql(s"CREATE TABLE $t (k BIGINT, s STRING, small DECIMAL(7,2), " +
      "big DECIMAL(16,3), ts TIMESTAMP, xs ARRAY<BIGINT>, " +
      "m STRUCT<a: BIGINT, b: STRING>, tags MAP<STRING, BIGINT>)")
    def wave(lo: Long, hi: Long): Unit =
      spark.range(lo, hi).selectExpr("id AS k", "concat('v', id) AS s",
        "CAST(id AS DECIMAL(7,2)) / 4 AS small",
        "CAST(id AS DECIMAL(16,3)) * 3 AS big",
        "timestamp_millis(1700000000000 + id) AS ts",
        "array(id, id * 2) AS xs",
        "named_struct('a', id, 'b', concat('s', id)) AS m",
        "map('h', id % 7) AS tags")
        .coalesce(1).writeTo(t).append()
    Seq((0L, 100L), (100L, 200L), (200L, 300L)).foreach((wave _).tupled)
    def answers(): (Long, java.math.BigDecimal, java.math.BigDecimal,
        Long, Long) = {
      val r = spark.table(t).agg(sum("k"), sum("small"), sum("big"),
        sum(element_at(col("xs"), 2)), sum(col("m.a"))).collect().head
      (r.getLong(0), r.getDecimal(1), r.getDecimal(2), r.getLong(3),
        r.getLong(4))
    }
    val expected = ((0L until 300L).sum,
      new java.math.BigDecimal((0L until 300L).map(i =>
        BigDecimal(i).setScale(2) / 4).sum.setScale(2).bigDecimal
        .toPlainString),
      new java.math.BigDecimal((0L until 300L).map(i =>
        BigDecimal(i).setScale(3) * 3).sum.setScale(3).bigDecimal
        .toPlainString),
      (0L until 300L).map(_ * 2).sum, (0L until 300L).sum)
    assert(plan(spark.table(t)).contains("ColumnarToRow"),
      s"parquet files must scan columnar:\n${plan(spark.table(t))}")
    assert(answers() == expected, s"columnar read: ${answers()}")
    // the reader's row stream: write -> read one file over the same
    // columns
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
    import org.apache.spark.sql.types._
    import graft.sources.{GraftLakeColumnar, GraftLakeFilePartition,
      GraftParquetIO}
    val schema = StructType(Seq(
      StructField("k", LongType), StructField("small", DecimalType(7, 2)),
      StructField("big", DecimalType(16, 3)),
      StructField("xs", ArrayType(LongType)),
      StructField("m", StructType(Seq(StructField("a", LongType),
        StructField("b", StringType)))),
      StructField("tags", MapType(StringType, LongType))))
    val want = (0L until 300L).map(i => Row(i,
      (BigDecimal(i).setScale(2) / 4).setScale(2).bigDecimal,
      (BigDecimal(i).setScale(3) * 3).setScale(3).bigDecimal,
      Seq(i, i * 2), Row(i, s"s$i"), Map("h" -> i % 7)))
    val toCatalyst = CatalystTypeConverters.createToCatalystConverter(schema)
    val toScala = CatalystTypeConverters.createToScalaConverter(schema)
    val file = java.io.File.createTempFile("graft_rowreader", ".parquet")
    file.delete()
    try {
      val w = GraftParquetIO.writer(file.getPath, schema.fieldNames.toSeq,
        schema.fields.map(_.dataType).toSeq)
      try want.foreach(r => w.write(toCatalyst(r).asInstanceOf[InternalRow]))
      finally w.close()
      val footer = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(file.getPath),
          new org.apache.hadoop.conf.Configuration()))
      val pschema = try footer.getFileMetaData.getSchema
        finally footer.close()
      assert(Seq("small", "big").map(c =>
        pschema.getType(pschema.getFieldIndex(c)).asPrimitiveType
          .getPrimitiveTypeName.name) == Seq("INT32", "INT64"),
        s"both decimal encodings must be exercised: $pschema")
      val names = schema.fieldNames.toSeq
      val got = GraftLakeColumnar.liveRows(GraftLakeFilePartition("f",
        Array.empty, names, file.getPath, schema.fields.map(_.dataType).toSeq,
        names))(_.map(toScala).toVector)
      assert(got == want, s"row read: ${got.take(3)}")
    } finally file.delete()
    // row-level op over the files (CoW rewrite reads via the scan)
    spark.sql(s"UPDATE $t SET s = 'hit' WHERE k IN (50, 150, 250)")
    assert(spark.table(t).where("s = 'hit'").count() == 3)
    assert(spark.table(t).count() == 300)
    spark.sql(s"DROP TABLE IF EXISTS $t")
  }

  test("keyed (SPJ) scans of partition-pure parquet files decode columnar") {
    useCatalog()
    val t = "graftlake.spec_colscan_keyed"
    spark.sql(s"DROP TABLE IF EXISTS $t")
    spark.sql(s"CREATE TABLE $t (k BIGINT, p BIGINT, s STRING) " +
      "PARTITIONED BY (p)")
    for (b <- 0 until 2)
      spark.range(b * 40L, (b + 1) * 40L)
        .selectExpr("id AS k", "id % 4 AS p", "concat('v', id) AS s")
        .coalesce(1).writeTo(t).append()
    val df = spark.table(t)
    assert(df.rdd.getNumPartitions == 4,
      "precondition: per-key file-list planning")
    assert(plan(df).contains("ColumnarToRow"),
      s"keyed file-list partitions must chain columnar readers:\n${plan(df)}")
    val agg = df.groupBy("p").agg(count(lit(1)).as("n"), sum("k").as("sk"))
      .orderBy("p").collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(agg.toSeq == (0L until 4L).map(p =>
      (p, 20L, (0L until 80L).filter(_ % 4 == p).sum)).toSeq, agg.toSeq)
    spark.sql(s"DROP TABLE IF EXISTS $t")
  }

  test("a projection of only a post-write ADD COLUMN stays columnar and serves the default") {
    useCatalog()
    val t = "graftlake.spec_colscan_added_only"
    spark.sql(s"DROP TABLE IF EXISTS $t")
    spark.sql(s"CREATE TABLE $t (k BIGINT, s STRING)")
    spark.range(0, 10).selectExpr("id AS k", "concat('old', id) AS s")
      .coalesce(1).writeTo(t).append()
    spark.sql(s"ALTER TABLE $t ADD COLUMNS (w BIGINT DEFAULT 7)")
    spark.range(10, 15).selectExpr("id AS k", "concat('new', id) AS s",
      "id * 100 AS w").coalesce(1).writeTo(t).append()
    // the old file holds none of the projected columns: it decodes its
    // narrowest chunk only to count rows and serves w as a constant
    val df = spark.table(t).select("w")
    assert(plan(df).contains("ColumnarToRow"),
      s"a projection the old file cannot decode must stay columnar:\n" +
        plan(df))
    assert(df.collect().map(_.getLong(0)).sorted.toSeq ==
      (Seq.fill(10)(7L) ++ (10L until 15L).map(_ * 100)).sorted)
    spark.sql(s"DROP TABLE IF EXISTS $t")
  }

  test("a scan with no data columns (_file, _pos on a DV'd table) is columnar and counts exactly") {
    useCatalog()
    val t = "graftlake.spec_colscan_meta_only"
    spark.sql(s"DROP TABLE IF EXISTS $t")
    spark.sql(s"CREATE TABLE $t (k BIGINT, s STRING) " +
      "TBLPROPERTIES ('graft.mode' = 'merge-on-read')")
    spark.range(0, 5000).selectExpr("id AS k", "concat('v', id) AS s")
      .coalesce(1).writeTo(t).append()
    spark.range(5000, 5100).selectExpr("id AS k", "concat('v', id) AS s")
      .coalesce(1).writeTo(t).append()
    spark.sql(s"DELETE FROM $t WHERE k % 7 = 0")
    val df = spark.table(t).select(col("_file"), col("_pos"))
    assert(plan(df).contains("ColumnarToRow"),
      s"a metadata-only projection must stay columnar:\n${plan(df)}")
    val rows = df.collect().map(r => (r.getString(0), r.getLong(1)))
    val live = (0L until 5100L).filterNot(_ % 7 == 0)
    assert(rows.length == live.length)
    // one file per append, written in k order: `_pos` is k in the
    // first and k - 5000 in the second, DV'd positions skipped
    assert(rows.map(_._2).sorted.toSeq ==
      live.map(k => if (k < 5000) k else k - 5000).sorted)
    spark.sql(s"DROP TABLE IF EXISTS $t")
  }

  test("the change feed of a merge-on-read MERGE is columnar and exact") {
    useCatalog()
    val t = "graftlake.spec_colscan_cdf"
    spark.sql(s"DROP TABLE IF EXISTS $t")
    spark.sql(s"CREATE TABLE $t (k BIGINT, s STRING, v DOUBLE) " +
      "TBLPROPERTIES ('graft.mode' = 'merge-on-read')")
    spark.range(0, 30).where("id % 3 != 0")
      .selectExpr("id AS k", "'o' AS s", "CAST(id AS DOUBLE) AS v")
      .coalesce(1).writeTo(t).append()
    val table = graft.sources.GraftLakeCatalog
      .tableFor("graftlake", "spec_colscan_cdf").get
    val loadedV = table.currentVersion
    spark.range(0, 30).where("id % 2 = 0")
      .selectExpr("id AS k", "'U' AS s", "CAST(id * 10 AS DOUBLE) AS v")
      .createOrReplaceTempView("colscan_cdf_src")
    spark.sql(s"""MERGE INTO $t t USING colscan_cdf_src b ON t.k = b.k
      WHEN MATCHED THEN UPDATE SET s = b.s, v = b.v
      WHEN NOT MATCHED THEN INSERT (k, s, v) VALUES (b.k, b.s, b.v)""")
    val feed = spark.read
      .option("graft.changes.from", loadedV.toString)
      .option("graft.changes.to", table.currentVersion.toString)
      .table(t)
      .select(col("_change_type"), col("_commit_version") - loadedV,
        col("k"), col("s"), col("v"))
    assert(plan(feed).contains("ColumnarToRow"),
      s"the change feed must decode columnar:\n${plan(feed)}")
    val got = feed.collect().map(r => (r.getString(0), r.getLong(1),
      r.getLong(2), r.getString(3), r.getDouble(4))).sorted.toSeq
    val matched = (0L until 30L).filter(k => k % 2 == 0 && k % 3 != 0)
    val want = (matched.map(k => ("delete", 1L, k, "o", k.toDouble)) ++
      (0L until 30L).filter(_ % 2 == 0)
        .map(k => ("insert", 1L, k, "U", k * 10.0))).sorted
    assert(got == want, s"feed: $got")
    spark.sql(s"DROP TABLE IF EXISTS $t")
  }

  test("the change feed across an unresolved equality delete is columnar and exact") {
    useCatalog()
    val t = "graftlake.spec_colscan_eqcdf"
    spark.sql(s"DROP TABLE IF EXISTS $t")
    spark.sql(s"CREATE TABLE $t (k BIGINT, s STRING, v DOUBLE)")
    spark.range(0, 30).where("id % 3 != 0")
      .selectExpr("id AS k", "'o' AS s", "CAST(id AS DOUBLE) AS v")
      .coalesce(1).writeTo(t).append()
    val table = graft.sources.GraftLakeCatalog
      .tableFor("graftlake", "spec_colscan_eqcdf").get
    val loadedV = table.currentVersion
    val land = java.nio.file.Files.createTempDirectory("eqcdf_land_").toFile
    val chk = java.nio.file.Files.createTempDirectory("eqcdf_chk_").toFile
    spark.range(0, 30).where("id % 2 = 0")
      .selectExpr("id AS k", "'U' AS s", "CAST(id * 10 AS DOUBLE) AS v")
      .coalesce(1).write.mode("append").parquet(land.getAbsolutePath)
    try {
      val q = spark.readStream.schema(spark.table(t).schema)
        .parquet(land.getAbsolutePath)
        .writeStream
        .option("checkpointLocation", chk.getAbsolutePath)
        .option("graft.upsert.key", "k")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .toTable(t)
      graft.streaming.StreamingOps.awaitDrained(q)
    } finally Seq(land, chk).foreach(graft.sources.GraftParquetIO
      .deleteRecursively)
    assert(table.eqDeletes.nonEmpty,
      "precondition: the feed is read under the unresolved equality delete")
    val feed = spark.read
      .option("graft.changes.from", loadedV.toString)
      .option("graft.changes.to", table.currentVersion.toString)
      .table(t)
      .select(col("_change_type"), col("k"), col("s"), col("v"))
    assert(plan(feed).contains("ColumnarToRow"),
      s"the probed delete leg must decode columnar:\n${plan(feed)}")
    val got = feed.collect().map(r => (r.getString(0), r.getLong(1),
      r.getString(2), r.getDouble(3))).sorted.toSeq
    val hit = (0L until 30L).filter(k => k % 2 == 0 && k % 3 != 0)
    val want = (hit.map(k => ("delete", k, "o", k.toDouble)) ++
      (0L until 30L).filter(_ % 2 == 0)
        .map(k => ("insert", k, "U", k * 10.0))).sorted
    assert(got == want, s"feed: $got")
    spark.sql(s"DROP TABLE IF EXISTS $t")
  }

  test("a label absent from the file's footer fails the read instead of null-filling") {
    import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
    import org.apache.spark.sql.types._
    import graft.sources.{GraftLakeColumnar, GraftLakeFilePartition,
      GraftParquetIO}
    val file = java.io.File.createTempFile("graft_labels", ".parquet")
    file.delete()
    try {
      val w = GraftParquetIO.writer(file.getPath, Seq("k", "v"),
        Seq(LongType, LongType))
      try (0 until 5).foreach(i =>
        w.write(new GenericInternalRow(Array[Any](i.toLong, i * 2L))))
      finally w.close()
      val required = StructType(Seq(StructField("k", LongType),
        StructField("v", LongType)))
      def read(labels: Seq[String]): Long = {
        val r = GraftLakeColumnar.reader(GraftLakeFilePartition("f",
          Array.empty, Seq("k", "v"), file.getPath,
          Seq(LongType, LongType), labels), required, Map.empty)
        var sum = 0L
        try while (r.next()) {
          val b = r.get()
          (0 until b.numRows()).foreach(i => sum += b.column(1).getLong(i))
        } finally r.close()
        sum
      }
      assert(read(Seq("k", "v")) == 20L, "control: the true labels read")
      // the manifest claims `v` is labelled `w`: the footer has no `w`
      val e = intercept[Exception](read(Seq("k", "w")))
      assert(causeMessages(e).contains("no column labelled w"),
        s"the open must name the missing label: $e")
    } finally file.delete()
  }

  test("ADD COLUMN with a nested DEFAULT is refused: no nested constant reaches a read") {
    useCatalog()
    val t = "graftlake.spec_colscan_nested_default"
    spark.sql(s"DROP TABLE IF EXISTS $t")
    spark.sql(s"CREATE TABLE $t (k BIGINT)")
    spark.range(0, 5).selectExpr("id AS k").coalesce(1).writeTo(t).append()
    val e = intercept[Exception](spark.sql(
      s"ALTER TABLE $t ADD COLUMNS (xs ARRAY<BIGINT> DEFAULT array(1, 2))"))
    assert(causeMessages(e).contains("added column xs") &&
      causeMessages(e).contains("nested defaults are unsupported"),
      s"got: $e")
    assert(spark.table(t).schema.fieldNames.toSeq == Seq("k") &&
      spark.table(t).count() == 5)
    spark.sql(s"DROP TABLE IF EXISTS $t")
  }
}
