package graft.operators

import java.io.{File, PrintWriter}
import java.sql.Date

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.{Query, Session}
import graft.Query.SnapshotDate
import graft.sources.Tables

/** Reference-parity operators (SURVEY.md §2), re-expressed Spark-first over
  * the harness star schema.
  *
  * The reference (/root/reference/app.py) is scan → clean → enrich with two
  * tiny dims → project → append. Each §2 row maps to a declarative Spark
  * primitive here; none needs custom Catalyst code. Coverage map:
  *
  *  - S1 partition pruning (app.py:26)      → `ref_csv_ingest` path construction
  *  - S2 file-name pruning (app.py:27)      → `ref_csv_ingest` pathGlobFilter
  *  - S3 CSV scan w/ header (app.py:28-29)  → `ref_csv_ingest` explicit-schema csv read
  *  - S4 multi-file UNION ALL (app.py:29)   → `ref_csv_ingest` multi-file read,
  *                                            `ref_union_by_name` unionByName
  *  - S5/S6 dim scan w/ pushdown (140,143)  → `ref_star_enrich` pruned dim reads
  *  - K1 bulk append (195-197)              → Verify's parquet write of every query
  *  - P1 contains-filter (43)               → `ref_star_enrich`
  *  - P2/P3 rename + column pin (44-52,…)   → `ref_star_enrich` UPPER_CASE contract
  *  - P4 constant snapshot date (57,84,101) → `ref_star_enrich` (literal, §7.4)
  *  - F1 concat literal (54,83,102)         → `ref_clean_strict_cast` money string
  *  - F2 thousands-separator strip (71)     → `ref_clean_strict_cast` translate
  *  - F3 strict cast str→int (53,82)        → `ref_clean_strict_cast` (ANSI on)
  *  - F4 strict cast str→double (71)        → `ref_clean_strict_cast`
  *  - F5 current date (57,…)                → fixed literal (determinism, §7.4)
  *  - J1 inner equi-join, shared key (151-153)    → `ref_star_enrich` orders join
  *  - J2 inner equi-join, differing keys (156-164)→ `ref_star_enrich` customer join
  *
  * Scale notes (100 TB): both dim joins are explicit `broadcast()` — the
  * reference's dims are 3 rows and 1 row; at scale any dim under the
  * broadcast threshold avoids a shuffle entirely, and AQE converts the rest
  * to shuffled hash / sort-merge with skew splitting. The fact scan carries
  * its filter into the parquet reader (PushedFilters) and reads only the
  * projected columns (ReadSchema) — verified in RefParitySpec.
  */
object RefParity {

  /** Flagship: the reference's star-join enrichment shape (app.py:106-199)
    * on the harness tables. lineitem = fact CSVs, orders/customer = the two
    * dimensions, SNAPSHOT_DATE = the run-date constant, UPPER_CASE = the
    * warehouse contract (SURVEY.md §1.3).
    */
  def starEnrich(spark: SparkSession, sfDir: String): DataFrame = {
    // P1: substring predicate (app.py:43). Pushed to the parquet scan.
    val fact = Tables(spark, sfDir, "lineitem")
      .filter(col("l_returnflag").contains("N"))
    // S5-analog: dim scan with projection pushed down (app.py:140).
    // J1: shared-key inner equi-join against a broadcast dim (app.py:151-153).
    val dimOrders = Tables(spark, sfDir, "orders")
      .select(col("o_orderkey").as("l_orderkey"), col("o_custkey"))
    // J2: differing-key-name inner equi-join (app.py:156-164); the right key
    // is dropped after the join exactly like the reference drops DATE.
    val dimCust = Tables(spark, sfDir, "customer")
      .select(col("c_custkey"), col("c_mktsegment"))
    fact
      .join(broadcast(dimOrders), Seq("l_orderkey"), "inner")
      .join(broadcast(dimCust), col("o_custkey") === col("c_custkey"), "inner")
      .drop("c_custkey")
      // P4: constant snapshot date — fixed literal, not current_date() (§7.4)
      .withColumn("SNAPSHOT_DATE", lit(Date.valueOf(SnapshotDate)))
      // P2+P3: rename to the UPPER_CASE warehouse contract and pin columns
      .select(
        col("l_orderkey").as("ORDER_KEY"),
        col("l_linenumber").as("LINE_NUMBER"),
        col("l_quantity").as("QUANTITY"),
        col("l_extendedprice").as("EXTENDED_PRICE"),
        col("o_custkey").as("CUSTOMER_ID"),
        col("c_mktsegment").as("MKT_SEGMENT"),
        col("SNAPSHOT_DATE"))
      // (l_orderkey, l_linenumber) is NOT unique in the harness data —
      // extend the sort to a total order for byte-stable output (§7.4)
      .orderBy("ORDER_KEY", "LINE_NUMBER", "QUANTITY", "EXTENDED_PRICE")
  }

  private val starEnrichOracle =
    s"""SELECT l.l_orderkey AS "ORDER_KEY", l.l_linenumber AS "LINE_NUMBER",
       | l.l_quantity AS "QUANTITY", l.l_extendedprice AS "EXTENDED_PRICE",
       | o.o_custkey AS "CUSTOMER_ID", c.c_mktsegment AS "MKT_SEGMENT",
       | DATE '$SnapshotDate' AS "SNAPSHOT_DATE"
       |FROM lineitem l
       |JOIN orders o ON l.l_orderkey = o.o_orderkey
       |JOIN customer c ON o.o_custkey = c.c_custkey
       |WHERE contains(l.l_returnflag, 'N')
       |ORDER BY 1, 2, 3, 4""".stripMargin

  /** S1-S4: the reference's S3 CSV lake read — list a date-partitioned
    * prefix, keep only files of one dataset category, parse CSVs with a
    * header, union them (app.py:13-30). Here: a staged local CSV lake, path
    * construction = partition pruning, `pathGlobFilter` = file-name pruning,
    * one multi-path csv read = the implicit UNION ALL.
    *
    * The staged lake contains a decoy category file and a stale date
    * partition; both hold poison rows, so a pruning bug fails the oracle.
    */
  def csvIngest(spark: SparkSession, sfDir: String): DataFrame = {
    val root = stageCsvLake(spark, sfDir)
    val schema = StructType(Seq(
      StructField("n_nationkey", IntegerType),
      StructField("n_name", StringType),
      StructField("n_regionkey", IntegerType)))
    spark.read
      .schema(schema)                          // explicit contract (§1.4)
      .option("header", "true")
      .option("pathGlobFilter", "*nation*")    // S2: category pruning
      .csv(s"$root/cost_of_living/$SnapshotDate") // S1: partition pruning
      .orderBy("n_nationkey")
  }

  /** Stages a tiny deterministic CSV "lake" (fixture prep, not a distributed
    * op — 25 rows). Layout mirrors the reference's S3 keyspace
    * (`real_estate/cost_of_living/{extract_date}/{dataset}.csv`, app.py:26).
    */
  private def stageCsvLake(spark: SparkSession, sfDir: String): String =
    Staging.stagedDir("graft_csv_lake", sfDir) { root =>
      val part = new File(root, s"cost_of_living/$SnapshotDate")
      part.mkdirs()
      val rows = Tables(spark, sfDir, "nation")
        .select("n_nationkey", "n_name", "n_regionkey")
        .collect()
        .map(r => (r.getInt(0), r.getString(1), r.getInt(2)))
        .sortBy(_._1)
      def write(f: File, rs: Seq[(Int, String, Int)]): Unit = {
        val w = new PrintWriter(f)
        try {
          w.println("n_nationkey,n_name,n_regionkey")
          rs.foreach { case (k, n, rk) => w.println(s"$k,$n,$rk") }
        } finally w.close()
      }
      write(new File(part, "nation_part0.csv"), rows.filter(_._1 < 13).toSeq)
      write(new File(part, "nation_part1.csv"), rows.filter(_._1 >= 13).toSeq)
      // decoy dataset in the same partition — S2 must exclude it
      write(new File(part, "salaries_decoy.csv"), Seq((999, "DECOY_CATEGORY", 99)))
      // stale extract-date partition — S1 must exclude it
      val stale = new File(root, "cost_of_living/2020-01-01")
      stale.mkdirs()
      write(new File(stale, "nation_stale.csv"), Seq((998, "DECOY_STALE", 98)))
    }.getAbsolutePath

  /** S4 standalone: UNION ALL by column name across branches whose column
    * order differs and one of which is missing a column (pandas concat outer
    * alignment, app.py:29 — missing columns become NULL).
    */
  def unionByName(spark: SparkSession, sfDir: String): DataFrame = {
    val li = Tables(spark, sfDir, "lineitem")
    val a = li.filter(col("l_returnflag") === "A")
      .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"))
    // reordered columns + missing l_quantity: unionByName must align & pad
    val r = li.filter(col("l_returnflag") === "R")
      .select(col("l_linenumber"), col("l_orderkey"))
    a.unionByName(r, allowMissingColumns = true)
      .orderBy(col("l_orderkey"), col("l_linenumber"),
        col("l_quantity").asc_nulls_first)
  }

  private val unionByNameOracle =
    """SELECT l_orderkey, l_linenumber, l_quantity
      |FROM lineitem WHERE l_returnflag = 'A'
      |UNION ALL
      |SELECT l_orderkey, l_linenumber, NULL AS l_quantity
      |FROM lineitem WHERE l_returnflag = 'R'
      |ORDER BY 1, 2, 3 NULLS FIRST""".stripMargin

  /** F1-F4: the reference's string-cleaning surface. Builds the reference's
    * `"1,234.56"`-style money strings deterministically from c_acctbal
    * (concat, F1), strips the thousands separator (translate, F2 —
    * app.py:71's `x.replace(",","")`), strict-casts back to double (F4, ANSI
    * mode = pandas astype raise semantics), and strict-casts the digits of
    * c_name to the customer key (F3). No UDFs — every step is a codegen'd
    * built-in (SURVEY.md §2.3).
    */
  /** The reference's `"1,234.56"`-style money string, built from a cents
    * amount (thousands separator + 2-digit fraction). Shared by the strict
    * (`ref_clean_strict_cast`) and lenient (`ref_try_cast_quarantine`)
    * parsing queries.
    */
  private def moneyString(cents: Column): Column = {
    val absC = abs(cents)
    val whole = (absC / 100).cast(LongType)
    val frac = lpad((absC % 100).cast(StringType), 2, "0")
    val sign = when(cents < 0, "-").otherwise("")
    val grouped = when(whole >= 1000,
        concat((whole / 1000).cast(LongType).cast(StringType), lit(","),
          lpad((whole % 1000).cast(StringType), 3, "0")))
      .otherwise(whole.cast(StringType))
    concat(sign, grouped, lit("."), frac)
  }

  def cleanStrictCast(spark: SparkSession, sfDir: String): DataFrame = {
    val cents = round(col("c_acctbal") * 100).cast(LongType)
    val moneyStr = moneyString(cents)                                // F1
    Tables(spark, sfDir, "customer")
      .select(
        col("c_custkey"),
        moneyStr.as("money_str"),
        translate(moneyStr, ",", "").cast(DoubleType).as("amount"),  // F2+F4
        regexp_replace(col("c_name"), "[^0-9]", "")
          .cast(LongType).as("parsed_key"))                          // F3
      .orderBy("c_custkey")
  }

  private val cleanStrictCastOracle =
    """SELECT c_custkey,
      |  CASE WHEN cents < 0 THEN '-' ELSE '' END ||
      |  CASE WHEN whole >= 1000
      |       THEN CAST(whole // 1000 AS VARCHAR) || ',' || lpad(CAST(whole % 1000 AS VARCHAR), 3, '0')
      |       ELSE CAST(whole AS VARCHAR) END ||
      |  '.' || lpad(CAST(absc % 100 AS VARCHAR), 2, '0') AS money_str,
      |  CAST(replace(
      |    CASE WHEN cents < 0 THEN '-' ELSE '' END ||
      |    CASE WHEN whole >= 1000
      |         THEN CAST(whole // 1000 AS VARCHAR) || ',' || lpad(CAST(whole % 1000 AS VARCHAR), 3, '0')
      |         ELSE CAST(whole AS VARCHAR) END ||
      |    '.' || lpad(CAST(absc % 100 AS VARCHAR), 2, '0'), ',', '') AS DOUBLE) AS amount,
      |  CAST(regexp_replace(c_name, '[^0-9]', '', 'g') AS BIGINT) AS parsed_key
      |FROM (SELECT c_custkey, c_name, cents, abs(cents) AS absc, abs(cents) // 100 AS whole
      |      FROM (SELECT c_custkey, c_name,
      |                   CAST(round(c_acctbal * 100) AS BIGINT) AS cents
      |            FROM customer))
      |ORDER BY c_custkey""".stripMargin

  /** Idempotent upsert-merge — the K1 evolution the reference's blind
    * `write_pandas` append can't give: a re-delivered batch must not
    * duplicate facts. Previous state and the incoming batch (simulated as
    * deterministic key slices of `orders`) full-outer-join on the business
    * key; batch rows win, unmatched previous rows survive. On a lakehouse
    * table format this is MERGE INTO; over raw parquet it is exactly this
    * join + coalesce followed by a partition overwrite — one shuffle on the
    * merge key (or zero, if both sides are bucketed by it as in
    * `join_bucketed`).
    */
  def upsertMerge(spark: SparkSession, sfDir: String): DataFrame = {
    val (previous, batch) = upsertFixture(spark, sfDir)
    mergeBatch(previous, batch).orderBy("o_orderkey")
  }

  private def upsertFixture(
      spark: SparkSession, sfDir: String): (DataFrame, DataFrame) = {
    val orders = Tables(spark, sfDir, "orders")
      .select("o_orderkey", "o_orderstatus", "o_totalprice")
    val previous = orders.filter(col("o_orderkey") % 3 =!= 0)
    val batch = orders.filter(col("o_orderkey") % 2 === 0)
      // re-delivered rows arrive revised — make the winner observable
      .withColumn("o_orderstatus", lit("U"))
    (previous, batch)
  }

  /** One merge application — the MERGE INTO body: full-outer on the
    * business key, batch rows win, unmatched previous rows survive.
    * Factored so [[upsertReplay]] can apply the SAME batch twice. */
  private def mergeBatch(previous: DataFrame, batch: DataFrame): DataFrame =
    previous.as("p")
      .join(batch.as("b"),
        col("p.o_orderkey") === col("b.o_orderkey"), "full_outer")
      .select(
        coalesce(col("b.o_orderkey"), col("p.o_orderkey")).as("o_orderkey"),
        coalesce(col("b.o_orderstatus"), col("p.o_orderstatus"))
          .as("o_orderstatus"),
        coalesce(col("b.o_totalprice"), col("p.o_totalprice"))
          .as("o_totalprice"))

  /** Replay proof for the flat upsert — the EXACTLY-ONCE contract every
    * production K1 sink needs (the reference's blind append,
    * /root/reference/app.py:195-197, duplicates facts on re-delivery):
    * `merge(merge(prev, batch), batch)` must equal `merge(prev, batch)`
    * row for row. The Spark side really applies the batch twice; the
    * oracle derives the ONCE-applied state, so the gate fails on any
    * duplicate, dropped, or re-revised row. Idempotence here falls out of
    * merge semantics (same key ⇒ batch wins with identical values);
    * contrast [[scd2Replay]], where it has to be engineered via change
    * detection.
    */
  def upsertReplay(spark: SparkSession, sfDir: String): DataFrame = {
    val (previous, batch) = upsertFixture(spark, sfDir)
    mergeBatch(mergeBatch(previous, batch), batch).orderBy("o_orderkey")
  }

  private val upsertMergeOracle =
    """WITH prev AS (
      |  SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
      |  WHERE o_orderkey % 3 <> 0),
      |batch AS (
      |  SELECT o_orderkey, 'U' AS o_orderstatus, o_totalprice FROM orders
      |  WHERE o_orderkey % 2 = 0)
      |SELECT coalesce(b.o_orderkey, p.o_orderkey) AS o_orderkey,
      |       coalesce(b.o_orderstatus, p.o_orderstatus) AS o_orderstatus,
      |       coalesce(b.o_totalprice, p.o_totalprice) AS o_totalprice
      |FROM prev p FULL OUTER JOIN batch b ON p.o_orderkey = b.o_orderkey
      |ORDER BY o_orderkey""".stripMargin

  /** Columnar-format roundtrip through ORC (the second columnar format
    * Spark ships a vectorized reader for): stage a projection of orders as
    * ORC, read it back, aggregate. Exercises the write→read sink/source
    * path on a non-parquet format; the oracle aggregates the original
    * table, so the roundtrip must be lossless.
    */
  def orcRoundtrip(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = graft.sources.GraftParquetIO.scratchDir("graft_orc", sfDir)
      .getAbsolutePath
    Tables(spark, sfDir, "orders")
      .select("o_orderkey", "o_orderstatus", "o_totalprice")
      .write.mode("overwrite").orc(dir)
    spark.read.orc(dir)
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n"),
        sum(col("o_totalprice").cast(DecimalType(18, 2))).cast(DoubleType)
          .as("sum_price"))
      .orderBy("o_orderstatus")
  }

  private val orcRoundtripOracle =
    """SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n,
      | CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
      |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin

  /** Snapshot diff (CDC derivation) — given two snapshots of a table,
    * emit the row-level change feed: INSERT (key only in the new
    * snapshot), DELETE (key only in the old), UPDATE (key in both, any
    * tracked column changed); unchanged rows are suppressed. This is how
    * change-data-capture is DERIVED when the source can't emit a log —
    * the diff every lakehouse table format computes between versions.
    * Snapshots are deterministic key slices of orders with a planted
    * revision rule. Shape: one full-outer join on the key (shuffle both
    * sides, or zero-shuffle when both snapshots are bucketed by key as in
    * `join_bucketed`) + a codegen'd comparison projection; the change feed
    * out is a tiny fraction of the snapshots.
    */
  def snapshotDiff(spark: SparkSession, sfDir: String): DataFrame = {
    val orders = Tables(spark, sfDir, "orders")
      .select("o_orderkey", "o_orderstatus", "o_totalprice")
    val snapA = orders.filter(col("o_orderkey") % 7 =!= 1)
    val snapB = orders.filter(col("o_orderkey") % 5 =!= 2)
      .withColumn("o_orderstatus",
        when(col("o_orderkey") % 11 === 3, lit("R"))
          .otherwise(col("o_orderstatus")))
    snapA.as("a")
      .join(snapB.as("b"), col("a.o_orderkey") === col("b.o_orderkey"),
        "full_outer")
      .select(
        coalesce(col("b.o_orderkey"), col("a.o_orderkey")).as("o_orderkey"),
        when(col("a.o_orderkey").isNull, "INSERT")
          .when(col("b.o_orderkey").isNull, "DELETE")
          // null-safe: a tracked column transitioning to/from NULL is an
          // UPDATE, which plain =!= (null-propagating) would suppress
          .when(!(col("a.o_orderstatus") <=> col("b.o_orderstatus"))
            || !(col("a.o_totalprice") <=> col("b.o_totalprice")), "UPDATE")
          .otherwise("UNCHANGED").as("change_type"),
        col("a.o_orderstatus").as("old_status"),
        col("b.o_orderstatus").as("new_status"))
      .filter(col("change_type") =!= "UNCHANGED")
      .orderBy("o_orderkey")
  }

  private val snapshotDiffOracle =
    """WITH a AS (
      |  SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
      |  WHERE o_orderkey % 7 <> 1),
      |b AS (
      |  SELECT o_orderkey,
      |    CASE WHEN o_orderkey % 11 = 3 THEN 'R' ELSE o_orderstatus END
      |      AS o_orderstatus,
      |    o_totalprice FROM orders WHERE o_orderkey % 5 <> 2)
      |SELECT * FROM (
      |  SELECT coalesce(b.o_orderkey, a.o_orderkey) AS o_orderkey,
      |    CASE WHEN a.o_orderkey IS NULL THEN 'INSERT'
      |         WHEN b.o_orderkey IS NULL THEN 'DELETE'
      |         WHEN a.o_orderstatus IS DISTINCT FROM b.o_orderstatus
      |           OR a.o_totalprice IS DISTINCT FROM b.o_totalprice
      |           THEN 'UPDATE'
      |         ELSE 'UNCHANGED' END AS change_type,
      |    a.o_orderstatus AS old_status, b.o_orderstatus AS new_status
      |  FROM a FULL OUTER JOIN b ON a.o_orderkey = b.o_orderkey)
      |WHERE change_type <> 'UNCHANGED'
      |ORDER BY o_orderkey""".stripMargin

  /** Harness-scale stand-in for the ~128 MB production target file size. */
  private val CompactTargetBytes = 256L * 1024

  /** Compact the fragmented fixture and return (output dir, file count
    * target) — shared by the query and the spec so the assertion can't
    * drift from the implementation.
    */
  private[graft] def compactedOrdersDir(
      spark: SparkSession, sfDir: String): (String, Int) = {
    val frag = Staging.stagedDir("graft_small_files", sfDir) { d =>
      Tables(spark, sfDir, "orders")
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
        .repartition(64)
        .write.mode("overwrite").parquet(d.getAbsolutePath)
    }
    val in = spark.read.parquet(frag.getAbsolutePath)
    // size the output from ACTUAL input bytes / target file size — the
    // listing every compactor does; metadata-only driver work, no data
    // ever reaches the driver
    val bytes = in.inputFiles
      .map(f => new java.io.File(java.net.URI.create(f)).length()).sum
    val nOut = math.max(1, math.ceil(bytes.toDouble / CompactTargetBytes).toInt)
    // per-process output path: the rewrite IS the measured workload so it
    // runs every call, but a concurrent sbt-test + Verify pair at the same
    // sfDir must not overwrite each other's in-flight output
    val out = graft.sources.GraftParquetIO
      .scratchDir("graft_compacted", sfDir).getAbsolutePath
    in.repartition(nOut).write.mode("overwrite").parquet(out)
    (out, nOut)
  }

  /** Small-file compaction — the lake-maintenance op no 100 TB deployment
    * skips: micro-batch sinks strand thousands of tiny files per partition,
    * and every later scan pays per-file open + listing cost for them. The
    * fixture stages orders as 64 tiny parquet files; compaction sizes the
    * rewrite from actual input bytes over a target file size and
    * repartitions to that count. The query aggregates the COMPACTED copy
    * while the oracle aggregates the original table — compaction must be
    * row-lossless; RefParitySpec asserts the file count really dropped to
    * the computed target.
    */
  def compactSmallFiles(spark: SparkSession, sfDir: String): DataFrame = {
    val (out, _) = compactedOrdersDir(spark, sfDir)
    spark.read.parquet(out)
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n"),
        countDistinct(col("o_orderkey")).as("n_keys"),
        sum(col("o_totalprice").cast(DecimalType(18, 2))).cast(DoubleType)
          .as("sum_price"))
      .orderBy("o_orderstatus")
  }

  private val compactSmallFilesOracle =
    """SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n,
      | CAST(count(DISTINCT o_orderkey) AS BIGINT) AS n_keys,
      | CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
      |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin

  /** S3 variant with header schema inference (app.py:29 — pandas sniffs
    * dtypes from the CSV content). The engine's default is the explicit
    * contract (§1.4: inference means one extra full pass over 100 TB and a
    * schema that can drift per batch), but the inference path itself is
    * part of the reference surface; Spark's sampler lands on the same
    * int/string/int shape the explicit schema pins.
    */
  def csvInfer(spark: SparkSession, sfDir: String): DataFrame = {
    val root = stageCsvLake(spark, sfDir)
    spark.read
      .option("header", "true")
      .option("inferSchema", "true")
      .option("pathGlobFilter", "*nation*")
      .csv(s"$root/cost_of_living/$SnapshotDate")
      .orderBy("n_nationkey")
  }

  /** Lenient-cast quarantine — the production twin of F3/F4's ANSI
    * strictness (SURVEY §7.4): a 100 TB load must not die on one malformed
    * row, so `try_cast` routes failures to a quarantine status instead of
    * raising. Malformed money strings are planted deterministically
    * (`N/A` for every 7th customer, a trailing currency token for every
    * 11th); good rows still strip the thousands separator first.
    */
  def tryCastQuarantine(spark: SparkSession, sfDir: String): DataFrame = {
    val cents = round(col("c_acctbal") * 100).cast(LongType)
    val money = moneyString(cents)
    val raw = when(col("c_custkey") % 7 === 0, lit("N/A"))
      .when(col("c_custkey") % 11 === 0, concat(money, lit(" USD")))
      .otherwise(money)
    val amount = translate(col("raw_amount"), ",", "").try_cast(DoubleType)
    Tables(spark, sfDir, "customer")
      .select(col("c_custkey"), raw.as("raw_amount"))
      .select(col("c_custkey"), col("raw_amount"), amount.as("amount"))
      .withColumn("status",
        when(col("amount").isNull, "quarantined").otherwise("clean"))
      .orderBy("c_custkey")
  }

  /** The money-string expression in DuckDB dialect, parameterized by the
    * base relation alias (shared by the strict and quarantine oracles'
    * CTE shape).
    */
  private val moneySqlCte =
    """m AS (
      |  SELECT c_custkey,
      |    CASE WHEN cents < 0 THEN '-' ELSE '' END ||
      |    CASE WHEN whole >= 1000
      |         THEN CAST(whole // 1000 AS VARCHAR) || ',' || lpad(CAST(whole % 1000 AS VARCHAR), 3, '0')
      |         ELSE CAST(whole AS VARCHAR) END ||
      |    '.' || lpad(CAST(absc % 100 AS VARCHAR), 2, '0') AS money
      |  FROM (SELECT c_custkey, abs(cents) AS absc, abs(cents) // 100 AS whole, cents
      |        FROM (SELECT c_custkey, CAST(round(c_acctbal * 100) AS BIGINT) AS cents
      |              FROM customer)))""".stripMargin

  private val tryCastQuarantineOracle =
    s"""WITH $moneySqlCte,
       |raw AS (
       |  SELECT c_custkey,
       |    CASE WHEN c_custkey % 7 = 0 THEN 'N/A'
       |         WHEN c_custkey % 11 = 0 THEN money || ' USD'
       |         ELSE money END AS raw_amount
       |  FROM m)
       |SELECT c_custkey, raw_amount,
       |  TRY_CAST(replace(raw_amount, ',', '') AS DOUBLE) AS amount,
       |  CASE WHEN TRY_CAST(replace(raw_amount, ',', '') AS DOUBLE) IS NULL
       |       THEN 'quarantined' ELSE 'clean' END AS status
       |FROM raw ORDER BY c_custkey""".stripMargin

  /** K1/S5 warehouse-connector analog: the reference extracts dims from and
    * loads facts to a SQL warehouse over a connector (app.py:124-131,
    * 140-143, 195-197 — Snowflake). The engine's equivalent surface is
    * `spark.read/write.format("jdbc")`, exercised here end-to-end against
    * embedded Derby (in Spark's own classpath): write the nation dim to a
    * warehouse table, read it back as a PARTITIONED jdbc scan (4 range
    * predicates on the integer key — the parallel-extract shape; against a
    * real warehouse the same options fan the read across executors), then
    * broadcast-join the region parquet dim.
    */
  def jdbcDim(spark: SparkSession, sfDir: String): DataFrame = {
    // keep Derby's derby.log out of the process working dir
    sys.props.getOrElseUpdate("derby.system.home", sys.props("java.io.tmpdir"))
    val tag = sfDir.replaceAll("[^A-Za-z0-9.]", "_")
    val url = s"jdbc:derby:memory:graft_dim_$tag;create=true"
    val props = new java.util.Properties()
    props.setProperty("driver", "org.apache.derby.jdbc.EmbeddedDriver")
    Tables(spark, sfDir, "nation")
      .select("n_nationkey", "n_name", "n_regionkey")
      .write.mode("overwrite")
      // Derby's dialect maps StringType to CLOB; pin a comparable VARCHAR
      .option("createTableColumnTypes", "n_name VARCHAR(64)")
      .jdbc(url, "NATION_DIM", props)
    val dim = spark.read.jdbc(url, "NATION_DIM",
      columnName = "n_nationkey", lowerBound = 0L, upperBound = 25L,
      numPartitions = 4, connectionProperties = props)
    val region = Tables(spark, sfDir, "region")
      .select(col("r_regionkey"), col("r_name"))
    dim.join(broadcast(region), col("n_regionkey") === col("r_regionkey"))
      .select(col("n_nationkey"), col("n_name"), col("r_name"))
      .orderBy("n_nationkey")
  }

  private val jdbcDimOracle =
    """SELECT n_nationkey, n_name, r_name
      |FROM nation JOIN region ON n_regionkey = r_regionkey
      |ORDER BY n_nationkey""".stripMargin

  /** Hive-style partitioned parquet sink + partition-pruned read-back — the
    * parquet analog of S1's date-keyed prefixes, and the K1 sink layout a
    * warehouse-less lake would use. At 100 TB the partition column is the
    * first-line data-skipping mechanism: a filter on it prunes DIRECTORIES
    * before any file IO (PartitionFilters in the scan — asserted in
    * PlanSpec), so this read touches one status partition of the lake.
    * Staging is idempotent per sfDir (pay-once-at-write, like the bucketed
    * warehouse and the CSV lake fixtures).
    */
  def partitionedSink(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = Staging.stagedDir("graft_part_lake", sfDir) { d =>
      Tables(spark, sfDir, "orders")
        .select("o_orderkey", "o_orderpriority", "o_totalprice",
          "o_orderstatus")
        .write.mode("overwrite")
        .partitionBy("o_orderstatus")
        .parquet(d.getAbsolutePath)
    }
    spark.read.parquet(dir.getAbsolutePath)
      .filter(col("o_orderstatus") === "F")
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n"),
        sum(col("o_totalprice").cast(DecimalType(18, 2))).cast(DoubleType)
          .as("sum_price"))
      .orderBy("o_orderpriority")
  }

  private val partitionedSinkOracle =
    """SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n,
      | CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
      |FROM orders WHERE o_orderstatus = 'F'
      |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin

  /** Dynamic partition overwrite — the IDEMPOTENT daily-reload contract
    * the reference's blind append lacks (app.py:195-197: re-running a day
    * doubles it): `partitionOverwriteMode=dynamic` replaces ONLY the
    * partitions present in the incoming batch and leaves every other
    * partition's files untouched, so a corrective re-run of one day is a
    * one-partition swap, not a full-table rewrite — at 100 TB the
    * difference between rewriting 300 GB and 100 TB nightly.
    *
    * The fixture proves BOTH failure directions: the first load poisons
    * the 'F' partition (doubled prices), the reload rewrites just 'F'
    * with corrected rows. Static overwrite mode would have DELETED the
    * O/P partitions (their totals would vanish); a skipped reload would
    * leave F doubled. The oracle — plain per-status totals over orders —
    * catches either.
    */
  def dynamicPartitionOverwrite(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = Staging.stagedDir("graft_dyn_overwrite", sfDir) { d =>
      val base = Tables(spark, sfDir, "orders")
        .select("o_orderkey", "o_orderpriority", "o_totalprice",
          "o_orderstatus")
      base.withColumn("o_totalprice",
          when(col("o_orderstatus") === "F", col("o_totalprice") * 2)
            .otherwise(col("o_totalprice")))
        .write.mode("overwrite").partitionBy("o_orderstatus")
        .parquet(d.getAbsolutePath)
      Session.withConfs(spark,
          "spark.sql.sources.partitionOverwriteMode" -> "dynamic") {
        base.filter(col("o_orderstatus") === "F")
          .write.mode("overwrite").partitionBy("o_orderstatus")
          .parquet(d.getAbsolutePath)
      }
    }
    spark.read.parquet(dir.getAbsolutePath)
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n"),
        sum(col("o_totalprice").cast(DecimalType(18, 2))).cast(DoubleType)
          .as("sum_price"))
      .orderBy("o_orderstatus")
  }

  private val dynamicPartitionOverwriteOracle =
    """SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n,
      | CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
      |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin

  /** Quoted/multiline CSV fidelity — the parsing edge every real CSV lake
    * hits: fields containing the delimiter, the quote character, and
    * embedded NEWLINES (multiLine=true, which makes files unsplittable —
    * at 100 TB multiline CSV must be many-files-small, same constraint
    * as XML). The tricky field is built deterministically from orders, so
    * the oracle re-derives it from the base table and the aggregate
    * proves the write→read roundtrip lost nothing: row count, newline
    * count, and total field length all survive.
    */
  def csvQuotedMultiline(spark: SparkSession, sfDir: String): DataFrame = {
    val tricky = concat(lit("v,\""), col("o_orderstatus"), lit("\"\n"),
      col("o_orderpriority"))
    val dir = Staging.stagedDir("graft_csv_quoted", sfDir) { d =>
      Tables(spark, sfDir, "orders")
        .select(col("o_orderkey"), tricky.as("tricky"), col("o_totalprice"))
        .write.mode("overwrite")
        .option("header", "true")
        .csv(d.getAbsolutePath)
    }
    spark.read
      .schema(StructType(Seq(
        StructField("o_orderkey", LongType),
        StructField("tricky", StringType),
        StructField("o_totalprice", DoubleType))))
      .option("header", "true")
      .option("multiLine", "true")
      .csv(dir.getAbsolutePath)
      .select(col("o_orderkey"), col("tricky"), col("o_totalprice"))
      .groupBy(substring(col("tricky"), 4, 1).as("status"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("tricky").contains("\n"), 1L).otherwise(0L))
          .as("n_newline"),
        sum(length(col("tricky"))).as("sum_len"),
        sum(col("o_totalprice").cast(DecimalType(18, 2))).cast(DoubleType)
          .as("sum_price"))
      .orderBy("status")
  }

  private val csvQuotedMultilineOracle =
    """SELECT substr(tricky, 4, 1) AS status,
      | CAST(count(*) AS BIGINT) AS n,
      | CAST(count(*) AS BIGINT) AS n_newline,
      | CAST(sum(length(tricky)) AS BIGINT) AS sum_len,
      | CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
      |FROM (SELECT 'v,"' || o_orderstatus || '"' || chr(10)
      |        || o_orderpriority AS tricky, o_totalprice
      |      FROM orders)
      |GROUP BY 1 ORDER BY status""".stripMargin

  /** Dynamic partition pruning — the optimizer feature that makes
    * partitioned star joins viable at 100 TB: the fact side is partitioned
    * by year, the filter sits on a DIM attribute (`era`), so static
    * pruning can't apply — the years to keep are only known once the dim
    * is read. Spark broadcasts the filtered dim, reuses that broadcast as
    * a subquery, and injects `dynamicpruningexpression` into the fact
    * scan's PartitionFilters, skipping entire partition DIRECTORIES at
    * runtime (asserted in PlanSpec — without DPP this reads every year
    * and filters after the join). Both sides are staged parquet: a local
    * dim relation would constant-fold and dodge the mechanism.
    */
  def dppJoin(spark: SparkSession, sfDir: String): DataFrame = {
    val factDir = Staging.stagedDir("graft_dpp_fact", sfDir) { d =>
      Tables(spark, sfDir, "orders")
        .withColumn("o_year", year(col("o_orderdate")))
        .write.mode("overwrite").partitionBy("o_year")
        .parquet(d.getAbsolutePath)
    }
    val dimDir = Staging.stagedDir("graft_dpp_dim", sfDir) { d =>
      Tables(spark, sfDir, "orders")
        .select(year(col("o_orderdate")).as("d_year")).distinct()
        .withColumn("era",
          when(col("d_year") >= 1995, "modern").otherwise("classic"))
        .coalesce(1)
        .write.mode("overwrite").parquet(d.getAbsolutePath)
    }
    val fact = spark.read.parquet(factDir.getAbsolutePath)
    val dim = spark.read.parquet(dimDir.getAbsolutePath)
    fact.join(dim, col("o_year") === col("d_year"))
      .filter(col("era") === "modern")
      .groupBy(col("o_year"))
      .agg(count(lit(1)).as("n"),
        sum(col("o_totalprice").cast(DecimalType(18, 2))).cast(DoubleType)
          .as("sum_price"))
      .orderBy("o_year")
  }

  private val dppJoinOracle =
    """SELECT CAST(year(o_orderdate) AS INTEGER) AS o_year,
      | CAST(count(*) AS BIGINT) AS n,
      | CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
      |FROM orders WHERE year(o_orderdate) >= 1995
      |GROUP BY 1 ORDER BY o_year""".stripMargin

  /** JSON-lines ingest — the third row-source format (CSV, ORC, parquet
    * already covered). Explicit schema, as everywhere (§1.4): a schema-less
    * json read costs an extra full sampling pass over the lake at 100 TB.
    * The staged lines derive from orders, so the oracle aggregates the
    * original table and the roundtrip must be lossless (Jackson writes
    * shortest-roundtrip doubles).
    */
  def jsonlIngest(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = Staging.stagedDir("graft_jsonl", sfDir) { d =>
      Tables(spark, sfDir, "orders")
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
        .write.mode("overwrite").json(d.getAbsolutePath)
    }
    spark.read
      .schema(StructType(Seq(
        StructField("o_orderkey", LongType),
        StructField("o_orderstatus", StringType),
        StructField("o_totalprice", DoubleType))))
      .json(dir.getAbsolutePath)
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n"),
        sum(col("o_totalprice").cast(DecimalType(18, 2))).cast(DoubleType)
          .as("sum_price"))
      .orderBy("o_orderstatus")
  }

  private val jsonlIngestOracle =
    """SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n,
      | CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
      |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin

  /** XML source — Spark 4's built-in XML data source (the spark-xml
    * connector folded into sql/core), the fourth row format after
    * CSV/ORC/JSON-lines. The lake side is staged BY SPARK as
    * rowTag-delimited documents; the read back is explicit-schema (no
    * inference scan) and aggregates to the same decimal-exact summary the
    * other format roundtrips use, so one oracle shape pins them all.
    * Scale note: XML files split per-file (a multi-row document can't be
    * byte-range split), so at 100 TB the lake layout must keep documents
    * many-files-small — same constraint as multiline JSON.
    */
  def xmlIngest(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = Staging.stagedDir("graft_xml", sfDir) { d =>
      Tables(spark, sfDir, "orders")
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
        .write.mode("overwrite").option("rowTag", "order")
        .xml(d.getAbsolutePath)
    }
    spark.read
      .schema(StructType(Seq(
        StructField("o_orderkey", LongType),
        StructField("o_orderstatus", StringType),
        StructField("o_totalprice", DoubleType))))
      .option("rowTag", "order")
      .xml(dir.getAbsolutePath)
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n"),
        sum(col("o_totalprice").cast(DecimalType(18, 2))).cast(DoubleType)
          .as("sum_price"))
      .orderBy("o_orderstatus")
  }

  private val xmlIngestOracle =
    """SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n,
      | CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
      |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin

  /** Schema-evolution read: two parquet generations under one lake path —
    * gen1 written before a column existed, gen2 carrying the new
    * `o_margin` column — unioned by a single `mergeSchema` scan that
    * null-fills the old files (the lake-side twin of
    * [[upsertMerge]]'s contract evolution, and what a 100 TB lake does
    * EVERY time a producer adds a field: no rewrite of petabytes of old
    * files, the reader reconciles). Footer-only schema merge, so the cost
    * is per-file metadata, not data; the aggregate proves both
    * generations' rows and the null-fill survive.
    */
  def schemaEvolutionRead(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = Staging.stagedDir("graft_evolve", sfDir) { d =>
      val orders = Tables(spark, sfDir, "orders")
      orders.filter(col("o_orderkey") % 2 === 0)
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
        .write.mode("overwrite")
        .parquet(new File(d, "gen=1").getAbsolutePath)
      orders.filter(col("o_orderkey") % 2 === 1)
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"),
          (col("o_totalprice") * 0.25).as("o_margin"))
        .write.mode("overwrite")
        .parquet(new File(d, "gen=2").getAbsolutePath)
    }
    spark.read.option("mergeSchema", "true").parquet(dir.getAbsolutePath)
      .groupBy(col("o_orderstatus"))
      .agg(
        count(lit(1)).as("n"),
        count(col("o_margin")).as("n_with_margin"),
        sum(col("o_margin").cast(DecimalType(18, 4))).cast(DoubleType)
          .as("sum_margin"))
      .orderBy("o_orderstatus")
  }

  private val schemaEvolutionOracle =
    """SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n,
      | CAST(count(CASE WHEN o_orderkey % 2 = 1 THEN 1 END) AS BIGINT)
      |   AS n_with_margin,
      | CAST(sum(CASE WHEN o_orderkey % 2 = 1
      |   THEN CAST(o_totalprice * 0.25 AS DECIMAL(18,4)) END) AS DOUBLE)
      |   AS sum_margin
      |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin

  /** Unstructured-text source + regex field extraction — the log-parsing
    * shape (`spark.read.text` → `regexp_extract` per field → typed cast).
    * Lines are staged from orders BY SPARK (distributed write, no driver
    * collect — the line relation is data-sized, unlike the CSV fixtures);
    * the double survives the string roundtrip because Spark prints shortest
    * round-trip representations. min/max aggregates keep the result exact
    * regardless of input order.
    */
  def textLogParse(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = Staging.stagedDir("graft_logs", sfDir) { d =>
      Tables(spark, sfDir, "orders")
        .select(concat(
          lit("order key="), col("o_orderkey"),
          lit(" status="), col("o_orderstatus"),
          lit(" price="), col("o_totalprice").cast(StringType)).as("value"))
        .write.mode("overwrite").text(d.getAbsolutePath)
    }
    val line = spark.read.text(dir.getAbsolutePath)
    val re = "^order key=(\\d+) status=(\\S+) price=(\\S+)$"
    line
      .select(
        regexp_extract(col("value"), re, 1).cast(LongType).as("o_orderkey"),
        regexp_extract(col("value"), re, 2).as("status"),
        regexp_extract(col("value"), re, 3).cast(DoubleType).as("price"))
      .groupBy(col("status"))
      .agg(count(lit(1)).as("n"),
        min(col("price")).as("min_price"),
        max(col("price")).as("max_price"),
        min(col("o_orderkey")).as("min_key"))
      .orderBy("status")
  }

  private val textLogParseOracle =
    """SELECT o_orderstatus AS status, CAST(count(*) AS BIGINT) AS n,
      | min(o_totalprice) AS min_price, max(o_totalprice) AS max_price,
      | min(o_orderkey) AS min_key
      |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin

  /** SCD-2 (slowly-changing-dimension) history derivation — each
    * customer's orders become attribute versions with [valid_from,
    * valid_to) ranges and a current flag, the standard warehouse pattern
    * for tracking dimension changes over time. One window per entity key
    * (lead over the version order) — a single shuffle on the key, exactly
    * the win_* plan shape; at 100 TB this runs incrementally per load
    * batch against the open (is_current) slice only.
    */
  def scd2History(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
    Tables(spark, sfDir, "orders")
      .select(
        col("o_custkey"), col("o_orderkey"), col("o_orderstatus"),
        col("o_orderdate").as("valid_from"),
        lead(col("o_orderdate"), 1).over(w).as("valid_to"),
        lead(col("o_orderkey"), 1).over(w).isNull.as("is_current"))
      .orderBy("o_custkey", "valid_from", "o_orderkey")
  }

  private val scd2HistoryOracle =
    """SELECT o_custkey, o_orderkey, o_orderstatus,
      | o_orderdate AS valid_from,
      | lead(o_orderdate, 1) OVER w AS valid_to,
      | lead(o_orderkey, 1) OVER w IS NULL AS is_current
      |FROM orders
      |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
      |ORDER BY o_custkey, valid_from, o_orderkey""".stripMargin

  /** Incremental SCD-2 APPLY — the production half the history derivation
    * (`ref_scd2_history`) and the flat upsert (`ref_upsert_merge`) each
    * cover a piece of: a change batch arrives against existing versioned
    * state, every affected entity's OPEN row is closed (valid_to := the
    * change timestamp, is_current := false) and a new open version is
    * inserted; unaffected entities pass through untouched. This is what
    * replaces the reference's blind warehouse append (app.py:195-197) when
    * the target is a versioned dimension. Batch = every 4th customer key
    * getting status 'Z' at a fixed post-history timestamp; keys without
    * existing history become first-version inserts through the same code
    * path. Shape: one broadcast left join of state × batch (change batches
    * are ≪ state; a huge batch would shuffle on the key) + a union of the
    * tiny insert set. At 100 TB the state table is written partitioned by
    * `is_current`, so the close step rewrites only the open partition —
    * history partitions are never touched.
    */
  def scd2Apply(spark: SparkSession, sfDir: String): DataFrame = {
    val hist = scd2History(spark, sfDir)
    scd2ApplyBatch(hist, scd2Batch(spark, sfDir), scd2ChangeTs(hist))
      .orderBy("o_custkey", "valid_from", "o_orderkey")
  }

  /** The change batch: every 4th customer key moving to status 'Z'. */
  private def scd2Batch(spark: SparkSession, sfDir: String): DataFrame =
    Tables(spark, sfDir, "customer")
      .filter(col("c_custkey") % 4 === 0)
      .select(col("c_custkey").as("o_custkey"), lit("Z").as("new_status"))

  /** Fixed literal after every harness order date (orders span 1992-1998). */
  private def scd2ChangeTs(state: DataFrame): Column =
    lit("1999-06-01 00:00:00").cast(state.schema("valid_from").dataType)

  /** One SCD-2 batch application WITH CHANGE DETECTION — the property
    * that makes re-delivery a no-op: an entity versions only if its
    * current open row's status DIFFERS from the batch's (or it has no
    * current row: first-version insert). Without the guard, a replayed
    * batch would close the version it just opened and insert a duplicate
    * — the exactly-once failure mode [[scd2Replay]] pins shut.
    *
    * Shape (all broadcast, no shuffle): the change batch is tiny, so
    * `current ⋈ broadcast(batch)` (inner) yields the ≤|batch| affected
    * current rows in one scan of the open partition; the differing subset
    * plus the batch keys with no current row (tiny anti-join of two
    * batch-sized sets) form `changed`, which broadcasts into the close
    * projection and the insert set. At 100 TB with state partitioned by
    * `is_current`, only the open partition is scanned twice and rewritten
    * once; history partitions are untouched.
    */
  private def scd2ApplyBatch(
      state: DataFrame, batch: DataFrame, changeTs: Column): DataFrame = {
    val tsType = state.schema("valid_from").dataType
    val current = state.filter(col("is_current"))
      .select(col("o_custkey"), col("o_orderstatus").as("cur_status"))
    val curMatch = current.join(broadcast(batch), Seq("o_custkey"))
    val changed = curMatch
      .filter(col("cur_status") =!= col("new_status"))
      .select(col("o_custkey"), col("new_status"))
      .unionByName( // first-version entities: no current row anywhere
        batch.join(broadcast(curMatch.select("o_custkey")), Seq("o_custkey"),
          "left_anti"))
    val matched = col("b_key").isNotNull
    val updated = state.join(
        broadcast(changed.select(col("o_custkey").as("b_key"))),
        col("o_custkey") === col("b_key"), "left_outer")
      .select(
        col("o_custkey"), col("o_orderkey"), col("o_orderstatus"),
        col("valid_from"),
        when(matched && col("is_current"), changeTs)
          .otherwise(col("valid_to")).as("valid_to"),
        when(matched, lit(false)).otherwise(col("is_current"))
          .as("is_current"))
    val inserts = changed.select(
      col("o_custkey"),
      (-col("o_custkey")).as("o_orderkey"), // surrogate key for the new row
      col("new_status").as("o_orderstatus"),
      changeTs.as("valid_from"),
      lit(null).cast(tsType).as("valid_to"),
      lit(true).as("is_current"))
    updated.unionByName(inserts)
  }

  /** SCD-2 replay idempotence — applying the SAME change batch twice must
    * leave the dimension byte-identical to applying it once: the second
    * pass finds every batch entity's current row already carrying the
    * batch status, change detection empties the change set, and the state
    * flows through untouched (no closes, no inserts, no surrogate-key
    * collisions). The Spark side really runs the apply twice; the oracle
    * is the ONCE-applied derivation, so any second-pass mutation fails
    * the hash gate. This is the multi-batch exactly-once contract of
    * MERGE INTO on a versioned dimension, proven over raw parquet.
    */
  def scd2Replay(spark: SparkSession, sfDir: String): DataFrame = {
    val hist = scd2History(spark, sfDir)
    val batch = scd2Batch(spark, sfDir)
    val ts = scd2ChangeTs(hist)
    // the first application is MATERIALIZED before the replay arrives —
    // faithful to the failure being proven (a batch re-delivered after
    // the first commit was written), and it keeps the second apply's
    // plan anchored on a concrete relation rather than a double-nested
    // composition (which also trips a planner edge: an SMJ zipping a
    // shuffle against a 3-way union inside the broadcast future)
    val once = scd2ApplyBatch(hist, batch, ts).localCheckpoint()
    scd2ApplyBatch(once, batch, ts)
      .orderBy("o_custkey", "valid_from", "o_orderkey")
  }

  private val scd2ApplyOracle =
    """WITH hist AS (
      |  SELECT o_custkey, o_orderkey, o_orderstatus,
      |    o_orderdate AS valid_from,
      |    lead(o_orderdate, 1) OVER w AS valid_to,
      |    lead(o_orderkey, 1) OVER w IS NULL AS is_current
      |  FROM orders
      |  WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)),
      |batch AS (
      |  SELECT c_custkey AS o_custkey FROM customer WHERE c_custkey % 4 = 0),
      |updated AS (
      |  SELECT h.o_custkey, h.o_orderkey, h.o_orderstatus, h.valid_from,
      |    CASE WHEN b.o_custkey IS NOT NULL AND h.is_current
      |         THEN TIMESTAMP '1999-06-01 00:00:00' ELSE h.valid_to END
      |      AS valid_to,
      |    CASE WHEN b.o_custkey IS NOT NULL THEN FALSE
      |         ELSE h.is_current END AS is_current
      |  FROM hist h LEFT JOIN batch b USING (o_custkey)),
      |ins AS (
      |  SELECT o_custkey, -o_custkey AS o_orderkey, 'Z' AS o_orderstatus,
      |    TIMESTAMP '1999-06-01 00:00:00' AS valid_from,
      |    CAST(NULL AS TIMESTAMP) AS valid_to, TRUE AS is_current
      |  FROM batch)
      |SELECT * FROM updated UNION ALL SELECT * FROM ins
      |ORDER BY o_custkey, valid_from, o_orderkey""".stripMargin

  /** PERMISSIVE corrupt-record routing — the JSON twin of
    * `ref_try_cast_quarantine`: a 100 TB ingest must survive malformed
    * lines, not die on them. Corruption is planted deterministically
    * (every 13th order's line is truncated mid-object); PERMISSIVE mode
    * nulls the data columns and captures the raw line in
    * `_corrupt_record`, and the aggregate routes those rows to a
    * `_CORRUPT` bucket. No filter ever references the corrupt column
    * (Spark disallows corrupt-column-only queries over unparsed JSON).
    */
  def jsonCorruptPermissive(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = Staging.stagedDir("graft_jsonl_corrupt", sfDir) { d =>
      val js = to_json(struct(
        col("o_orderkey"), col("o_orderstatus"), col("o_totalprice")))
      Tables(spark, sfDir, "orders")
        .select(
          when(col("o_orderkey") % 13 === 0,
            concat(lit("{\"o_orderkey\": BROKEN "), col("o_orderkey")))
            .otherwise(js).as("value"))
        .write.mode("overwrite").text(d.getAbsolutePath)
    }
    spark.read
      .schema(StructType(Seq(
        StructField("o_orderkey", LongType),
        StructField("o_orderstatus", StringType),
        StructField("o_totalprice", DoubleType),
        StructField("_corrupt_record", StringType))))
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .json(dir.getAbsolutePath)
      .groupBy(coalesce(col("o_orderstatus"), lit("_CORRUPT")).as("status"))
      .agg(count(lit(1)).as("n"),
        count(col("_corrupt_record")).as("n_corrupt"),
        sum(col("o_totalprice").cast(DecimalType(18, 2))).cast(DoubleType)
          .as("sum_price"))
      .orderBy("status")
  }

  private val jsonCorruptOracle =
    """SELECT
      |  CASE WHEN o_orderkey % 13 = 0 THEN '_CORRUPT'
      |       ELSE o_orderstatus END AS status,
      |  CAST(count(*) AS BIGINT) AS n,
      |  CAST(count(CASE WHEN o_orderkey % 13 = 0 THEN 1 END) AS BIGINT)
      |    AS n_corrupt,
      |  CAST(sum(CASE WHEN o_orderkey % 13 <> 0
      |           THEN CAST(o_totalprice AS DECIMAL(18,2)) END) AS DOUBLE)
      |    AS sum_price
      |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin

  /** PERMISSIVE CSV with corrupt-record routing — the CSV twin of
    * [[jsonCorruptPermissive]] (S3's format is the one the reference
    * actually ingests, app.py:28-29, so its malformed-row story matters
    * most): rows with a non-numeric price field null-fill, the raw line
    * lands in `_corrupt_record`, and the aggregate routes them to a
    * `_CORRUPT` bucket. One subtlety the JSON twin doesn't have: CSV
    * PERMISSIVE also null-fills SHORT rows (missing trailing columns)
    * without marking them corrupt — the planted rows here are
    * type-malformed, which does mark.
    */
  def csvCorruptPermissive(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = Staging.stagedDir("graft_csv_corrupt", sfDir) { d =>
      val good = concat_ws(",", col("o_orderkey"), col("o_orderstatus"),
        col("o_totalprice").cast(DecimalType(18, 2)))
      val bad = concat_ws(",", col("o_orderkey"), col("o_orderstatus"),
        lit("NOT_A_PRICE"))
      Tables(spark, sfDir, "orders")
        .select(when(col("o_orderkey") % 13 === 0, bad)
          .otherwise(good).as("value"))
        .write.mode("overwrite").text(d.getAbsolutePath)
    }
    spark.read
      .schema(StructType(Seq(
        StructField("o_orderkey", LongType),
        StructField("o_orderstatus", StringType),
        StructField("o_totalprice", DoubleType),
        StructField("_corrupt_record", StringType))))
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .csv(dir.getAbsolutePath)
      .groupBy(when(col("_corrupt_record").isNotNull, lit("_CORRUPT"))
        .otherwise(col("o_orderstatus")).as("status"))
      .agg(count(lit(1)).as("n"),
        count(col("_corrupt_record")).as("n_corrupt"),
        sum(col("o_totalprice").cast(DecimalType(18, 2))).cast(DoubleType)
          .as("sum_price"))
      .orderBy("status")
  }

  private val csvCorruptOracle =
    """SELECT
      |  CASE WHEN o_orderkey % 13 = 0 THEN '_CORRUPT'
      |       ELSE o_orderstatus END AS status,
      |  CAST(count(*) AS BIGINT) AS n,
      |  CAST(count(CASE WHEN o_orderkey % 13 = 0 THEN 1 END) AS BIGINT)
      |    AS n_corrupt,
      |  CAST(sum(CASE WHEN o_orderkey % 13 <> 0
      |           THEN CAST(o_totalprice AS DECIMAL(18,2)) END) AS DOUBLE)
      |    AS sum_price
      |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin

  /** External-table partition DISCOVERY — `MSCK REPAIR TABLE` (a.k.a.
    * `ALTER TABLE ... RECOVER PARTITIONS`), the lake op that makes
    * directly-written partition directories queryable: ingest jobs drop
    * files into `status=X/` paths; the metastore doesn't know until
    * repair scans the layout and registers what it finds. The test
    * registers an external partitioned table over the staged lake of
    * [[partitionedSink]] (shared generation), repairs, and proves the
    * catalog now routes a query through the discovered partitions — with
    * partition PRUNING intact (the repaired metadata carries the
    * partition values).
    */
  def partitionDiscovery(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = Staging.stagedDir("graft_part_lake", sfDir) { d =>
      Tables(spark, sfDir, "orders")
        .select("o_orderkey", "o_orderpriority", "o_totalprice",
          "o_orderstatus")
        .write.mode("overwrite")
        .partitionBy("o_orderstatus")
        .parquet(d.getAbsolutePath)
    }
    Staging.tmpDatabase(spark, sfDir)
    spark.sql("DROP TABLE IF EXISTS graft_tmp.orders_lake")
    spark.sql(
      s"""CREATE TABLE graft_tmp.orders_lake
         | (o_orderkey BIGINT, o_orderpriority STRING, o_totalprice DOUBLE)
         | USING PARQUET
         | PARTITIONED BY (o_orderstatus STRING)
         | LOCATION '${dir.getAbsolutePath}'""".stripMargin
        .replace("\n", " "))
    // a freshly registered external table knows NO partitions — the
    // repair is what discovers the directories
    spark.sql("MSCK REPAIR TABLE graft_tmp.orders_lake")
    spark.table("graft_tmp.orders_lake")
      .filter(col("o_orderstatus") =!= "P")
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n"),
        sum(col("o_totalprice").cast(DecimalType(18, 2))).cast(DoubleType)
          .as("sum_price"))
      .orderBy("o_orderstatus")
  }

  private val partitionDiscoveryOracle =
    """SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n,
      | CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
      |FROM orders WHERE o_orderstatus <> 'P'
      |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin

  /** Merkle-style replica divergence detection — per-bucket checksums
    * localize a diff WITHOUT a row-by-row comparison: two 100 TB replicas
    * compare N checksum rows first, and only buckets whose checksums
    * disagree pay the row-level diff ([[snapshotDiff]] — which this is
    * the scalable pre-filter for). The anti-entropy pattern of every
    * replicated store, expressed relationally.
    *
    * Checksum = SUM of per-row md5-derived BIGINTs: commutative and
    * associative, so it's partition-order-independent (exactly why
    * checksums, not concatenations); md5 is standardized, so the oracle
    * reproduces it. The sum accumulates as DECIMAL(38,0): each row
    * contributes up to 2^48-1, so a BIGINT accumulator would hit ANSI
    * overflow once a bucket holds ~2^15 rows — decimal headroom keeps
    * the fixed 64-bucket layout safe to ~10^26 rows per bucket. Replica
    * B plants one divergent row (the price of order 42 shifted a cent)
    * — the output must localize the divergence to EXACTLY the planted
    * row's bucket with both checksums emitted.
    */
  def replicaChecksums(spark: SparkSession, sfDir: String): DataFrame = {
    def rowHash(price: org.apache.spark.sql.Column) =
      conv(substring(md5(concat_ws("|",
        col("o_orderkey"), col("o_orderstatus"),
        price.cast(DecimalType(18, 2)))), 1, 12), 16, 10).cast(LongType)
    def checksums(price: org.apache.spark.sql.Column, side: String) =
      Tables(spark, sfDir, "orders")
        .select((col("o_orderkey") % 64).as("bucket"),
          rowHash(price).as("h"))
        .groupBy(col("bucket"))
        .agg(sum(col("h").cast(DecimalType(38, 0))).as(s"checksum_$side"),
          count(lit(1)).as(s"n_$side"))
    val a = checksums(col("o_totalprice"), "a")
    // the planted cent-shift must happen in DECIMAL space: `double + 0.01`
    // then double→decimal rounds HALF_UP in Spark but half-even in DuckDB
    // (the same cross-engine trap ref_try_arithmetic documents) — cast the
    // price to DECIMAL(18,2) first (both engines agree on the raw cast),
    // then add an EXACT decimal 0.01, mirrored in the oracle SQL.
    val priceDec = col("o_totalprice").cast(DecimalType(18, 2))
    val divergent = when(col("o_orderkey") === 42,
      priceDec + lit(new java.math.BigDecimal("0.01"))).otherwise(priceDec)
    val b = checksums(divergent, "b")
    // The checksums are exact DECIMAL(38,0) sums whose values (~3.2e16)
    // exceed float64's exact-integer range (2^53) — the ONLY query in the
    // registry emitting such values. Any comparison layer that
    // canonicalizes wide decimals through float64 silently corrupts them,
    // so the OUTPUT carries them as strings (divergence localization only
    // needs equality, which strings preserve exactly). Mirrored with
    // CAST(... AS VARCHAR) in the oracle.
    a.join(b, "bucket")
      .filter(col("checksum_a") =!= col("checksum_b")
        || col("n_a") =!= col("n_b"))
      .select(col("bucket"),
        col("checksum_a").cast(StringType).as("checksum_a"), col("n_a"),
        col("checksum_b").cast(StringType).as("checksum_b"), col("n_b"))
      .orderBy("bucket")
  }

  private val replicaChecksumsOracle =
    """WITH a AS (
      |  SELECT o_orderkey % 64 AS bucket,
      |    CAST(sum(CAST(concat('0x', substr(md5(concat_ws('|',
      |      o_orderkey, o_orderstatus,
      |      CAST(o_totalprice AS DECIMAL(18,2)))), 1, 12)) AS BIGINT))
      |      AS DECIMAL(38,0)) AS checksum_a,
      |    CAST(count(*) AS BIGINT) AS n_a
      |  FROM orders GROUP BY 1),
      |b AS (
      |  SELECT o_orderkey % 64 AS bucket,
      |    CAST(sum(CAST(concat('0x', substr(md5(concat_ws('|',
      |      o_orderkey, o_orderstatus,
      |      CAST(CASE WHEN o_orderkey = 42
      |                THEN CAST(o_totalprice AS DECIMAL(18,2)) + 0.01
      |                ELSE CAST(o_totalprice AS DECIMAL(18,2))
      |           END AS DECIMAL(18,2)))), 1, 12))
      |      AS BIGINT)) AS DECIMAL(38,0)) AS checksum_b,
      |    CAST(count(*) AS BIGINT) AS n_b
      |  FROM orders GROUP BY 1)
      |SELECT a.bucket,
      |  CAST(a.checksum_a AS VARCHAR) AS checksum_a, a.n_a,
      |  CAST(b.checksum_b AS VARCHAR) AS checksum_b, b.n_b
      |FROM a JOIN b USING (bucket)
      |WHERE a.checksum_a <> b.checksum_b OR a.n_a <> b.n_b
      |ORDER BY a.bucket""".stripMargin

  /** Hidden `_metadata` file-source columns: per-file lineage surfaced as
    * ordinary columns — the audit/debug primitive ("which file did this
    * row come from", "which partition is corrupt") every lake operator
    * reaches for first. Reads the SAME staged hive-partitioned lake as
    * [[partitionedSink]] (staging shared, so the lake is built once per
    * generation) and re-derives the partition value from
    * `_metadata.file_path` — proving path-level lineage agrees with the
    * partition column the directory name encodes. Only path-derived
    * fields are used (file sizes/mtimes are nondeterministic); the oracle
    * groups by the column itself, which is exactly the equivalence under
    * test. `_metadata` is generated at scan time from the file split —
    * no extra IO, no shuffle beyond the aggregate.
    */
  def fileMetadataAudit(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = Staging.stagedDir("graft_part_lake", sfDir) { d =>
      Tables(spark, sfDir, "orders")
        .select("o_orderkey", "o_orderpriority", "o_totalprice",
          "o_orderstatus")
        .write.mode("overwrite")
        .partitionBy("o_orderstatus")
        .parquet(d.getAbsolutePath)
    }
    spark.read.parquet(dir.getAbsolutePath)
      .select(
        regexp_extract(col("_metadata.file_path"),
          "o_orderstatus=([A-Z])/", 1).as("path_status"),
        col("o_orderstatus"))
      .groupBy(col("path_status"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("path_status") === col("o_orderstatus"), 0L)
          .otherwise(1L)).as("n_mismatched"))
      .orderBy("path_status")
  }

  private val fileMetadataAuditOracle =
    """SELECT o_orderstatus AS path_status, CAST(count(*) AS BIGINT) AS n,
      | CAST(0 AS BIGINT) AS n_mismatched
      |FROM orders GROUP BY o_orderstatus ORDER BY path_status""".stripMargin

  val queries: Seq[Query] = Seq(
    Query("ref_star_enrich",
      "reference flagship: filter→broadcast star join×2→const date→contract projection",
      starEnrich, Some(starEnrichOracle)),
    Query("ref_csv_ingest",
      "S1-S4: partition-pruned, glob-filtered, multi-file CSV ingest with explicit schema",
      csvIngest,
      Some("SELECT n_nationkey, n_name, n_regionkey FROM nation ORDER BY 1")),
    Query("ref_union_by_name",
      "S4: union-by-name with reordered and missing columns (pandas concat semantics)",
      unionByName, Some(unionByNameOracle)),
    Query("ref_clean_strict_cast",
      "F1-F4: concat / thousands-strip / ANSI strict casts, all codegen'd built-ins",
      cleanStrictCast, Some(cleanStrictCastOracle)),
    Query("ref_upsert_merge",
      "idempotent upsert-merge (K1 evolution): batch wins, previous survives",
      upsertMerge, Some(upsertMergeOracle)),
    Query("ref_upsert_replay",
      "exactly-once replay: merge applied twice equals merge applied once",
      upsertReplay, Some(upsertMergeOracle)),
    Query("ref_orc_roundtrip",
      "lossless write→read roundtrip through ORC (second columnar format)",
      orcRoundtrip, Some(orcRoundtripOracle)),
    Query("ref_csv_infer",
      "S3 with header schema inference (app.py:29 dtype sniffing parity)",
      csvInfer,
      Some("SELECT n_nationkey, n_name, n_regionkey FROM nation ORDER BY 1")),
    Query("ref_try_cast_quarantine",
      "lenient try_cast with bad-row quarantine routing (F3/F4 production twin)",
      tryCastQuarantine, Some(tryCastQuarantineOracle)),
    Query("ref_jdbc_dim",
      "JDBC warehouse round-trip: write dim, partitioned read-back, broadcast join",
      jdbcDim, Some(jdbcDimOracle)),
    Query("ref_partitioned_sink",
      "hive-partitioned parquet sink + partition-pruned read-back",
      partitionedSink, Some(partitionedSinkOracle)),
    Query("ref_overwrite_dynamic",
      "dynamic partition overwrite: corrective reload swaps ONE partition",
      dynamicPartitionOverwrite, Some(dynamicPartitionOverwriteOracle)),
    Query("ref_jsonl_ingest",
      "JSON-lines source with explicit schema, lossless roundtrip",
      jsonlIngest, Some(jsonlIngestOracle)),
    Query("ref_text_log_parse",
      "text source + regexp field extraction (log-parsing shape)",
      textLogParse, Some(textLogParseOracle)),
    Query("ref_csv_quoted_multiline",
      "quoted/multiline CSV fidelity: delimiters, quotes, newlines survive",
      csvQuotedMultiline, Some(csvQuotedMultilineOracle)),
    Query("ref_dpp_join",
      "dynamic partition pruning: dim filter prunes fact dirs at runtime",
      dppJoin, Some(dppJoinOracle)),
    Query("ref_xml_ingest",
      "built-in XML source roundtrip (rowTag documents, explicit schema)",
      xmlIngest, Some(xmlIngestOracle)),
    Query("ref_schema_evolution",
      "mergeSchema read across parquet generations, old files null-filled",
      schemaEvolutionRead, Some(schemaEvolutionOracle)),
    Query("ref_snapshot_diff",
      "CDC derivation: row-level diff of two table snapshots",
      snapshotDiff, Some(snapshotDiffOracle)),
    Query("ref_compact_small_files",
      "small-file compaction: byte-sized rewrite of a fragmented dir",
      compactSmallFiles, Some(compactSmallFilesOracle)),
    Query("ref_scd2_apply",
      "incremental SCD-2 apply: close open rows, insert new versions",
      scd2Apply, Some(scd2ApplyOracle)),
    Query("ref_scd2_replay",
      "SCD-2 replay: change detection makes batch re-delivery a no-op",
      scd2Replay, Some(scd2ApplyOracle)),
    Query("ref_scd2_history",
      "SCD-2 dimension history: valid_from/valid_to ranges + current flag",
      scd2History, Some(scd2HistoryOracle)),
    Query("ref_json_corrupt_permissive",
      "PERMISSIVE JSON ingest with corrupt-record routing",
      jsonCorruptPermissive, Some(jsonCorruptOracle)),
    Query("ref_file_metadata_audit",
      "_metadata hidden columns: path-derived lineage vs partition column",
      fileMetadataAudit, Some(fileMetadataAuditOracle)),
    Query("ref_csv_corrupt_permissive",
      "PERMISSIVE CSV ingest with corrupt-record routing (the S3 format)",
      csvCorruptPermissive, Some(csvCorruptOracle)),
    Query("ref_partition_discovery",
      "MSCK REPAIR: directly-written partition dirs discovered + pruned",
      partitionDiscovery, Some(partitionDiscoveryOracle)),
    Query("ref_replica_checksums",
      "merkle-style divergence localization via per-bucket md5 checksums",
      replicaChecksums, Some(replicaChecksumsOracle)),
  )
}
