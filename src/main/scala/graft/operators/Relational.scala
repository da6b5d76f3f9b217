package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.{Query, Session}
import graft.functions.Exact._
import graft.sources.Tables

/** Relational capabilities the reference lacks entirely (SURVEY.md §2.5 —
  * "explicit absences") and the engine gains from Catalyst: hash
  * aggregation with map-side partials, rollup, distinct/approx-distinct,
  * window functions, top-k, set ops, semi/anti/outer joins, JSON/date
  * scalars, explode. One named query + DuckDB oracle per capability
  * (SURVEY.md §7.3).
  *
  * Scale notes (100 TB):
  *  - every groupBy here is a partial (map-side) + final hash aggregate —
  *    the shuffle carries pre-combined partials, not raw rows;
  *  - group-by keys are low-cardinality (flags, segments, months), so the
  *    shuffle after partial aggregation is tiny regardless of input size;
  *  - window functions shuffle once on the partition key and sort within —
  *    keys are `user_id`/`custkey` (high cardinality ⇒ even spread; a skewed
  *    key would need salting, not needed for these);
  *  - top-k uses Spark's TakeOrderedAndProject (per-partition heaps, no
  *    global sort of the full input);
  *  - semi/anti joins broadcast the key side when small, else shuffle on
  *    the join key — never a cartesian.
  */
object Relational {

  // ---- aggregation ----------------------------------------------------

  /** TPC-H Q1-shaped pricing summary: multi-aggregate hash aggregation with
    * exact decimal-routed sums (see [[graft.functions.Exact]]).
    */
  def pricingSummary(spark: SparkSession, sfDir: String): DataFrame = {
    val one = lit(1).cast(DecimalType(18, 2))
    Tables(spark, sfDir, "lineitem")
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        dsum(col("l_quantity")).as("sum_qty"),
        dsum(col("l_extendedprice")).as("sum_base_price"),
        sum(dec(col("l_extendedprice")) * (one - dec(col("l_discount"))))
          .cast(DoubleType).as("sum_disc_price"),
        davg(col("l_quantity")).as("avg_qty"),
        davg(col("l_discount")).as("avg_disc"),
        count(lit(1)).as("count_order"))
      .orderBy("l_returnflag", "l_linestatus")
  }

  private val pricingSummaryOracle =
    s"""SELECT l_returnflag, l_linestatus,
       | ${sqlDsum("l_quantity")} AS sum_qty,
       | ${sqlDsum("l_extendedprice")} AS sum_base_price,
       | CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) *
       |          (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE)
       |   AS sum_disc_price,
       | ${sqlDavg("l_quantity")} AS avg_qty,
       | ${sqlDavg("l_discount")} AS avg_disc,
       | CAST(count(*) AS BIGINT) AS count_order
       |FROM lineitem
       |GROUP BY l_returnflag, l_linestatus
       |ORDER BY l_returnflag, l_linestatus""".stripMargin

  /** Exact distinct count per group (shuffles distinct pairs, then counts). */
  def distinctUsers(spark: SparkSession, sfDir: String): DataFrame =
    Tables(spark, sfDir, "events")
      .groupBy(col("event_type"))
      .agg(
        countDistinct(col("user_id")).as("n_users"),
        count(lit(1)).as("n_events"))
      .orderBy("event_type")

  private val distinctUsersOracle =
    """SELECT event_type,
      | CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
      | CAST(count(*) AS BIGINT) AS n_events
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  /** HLL-sketch distinct (approx_count_distinct). The PRODUCTION shape —
    * the sketch alone — is the 100 TB path: one pass, constant memory, no
    * distinct shuffle. ORACLE-GATED VIA ERROR BAND:
    * sketch values are engine-specific, so the row carries the EXACT
    * count (DuckDB re-derives it) plus a boolean — |approx − exact|
    * within the configured band — that the oracle pins TRUE. NOTE the
    * exact countDistinct leg (a distinct shuffle) rides this query ONLY
    * for oracle gating, so the bench timing here measures sketch + gate,
    * not the sketch path's standalone cost profile.
    */
  def approxDistinctUsers(spark: SparkSession, sfDir: String): DataFrame =
    Tables(spark, sfDir, "events")
      .groupBy(col("event_type"))
      .agg(
        approx_count_distinct(col("user_id"), 0.02).as("approx_users"),
        countDistinct(col("user_id")).as("n_exact"))
      // 2% rsd ⇒ 10% is a generous >3-sigma band (same bound the spec
      // has always gated); the sketch is deterministic per input
      .select(col("event_type"), col("n_exact"),
        (abs(col("approx_users") - col("n_exact")) <=
          col("n_exact") * 0.10).as("within_band"))
      .orderBy("event_type")

  private val approxDistinctOracle =
    """SELECT event_type,
      | CAST(count(DISTINCT user_id) AS BIGINT) AS n_exact,
      | TRUE AS within_band
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  /** MERGEABLE distinct-count state — the sketch twin of
    * `agg_incremental_merge`: per-day DataSketches HLL sketches of user_id
    * are built once (`hll_sketch_agg`), persisted as the state table, and
    * any coarser rollup (here monthly) comes from UNIONING the sketches
    * (`hll_union_agg`) — never from rescanning the facts. This is the only
    * way distinct counts stay incremental at 100 TB: exact distinct state
    * is as large as the data, while a sketch is ~KB per group and unions
    * associatively like a sum. ORACLE-GATED VIA ERROR BAND (the
    * pattern of `agg_approx_distinct`): sketch bytes are
    * library-specific, so the row carries the EXACT per-month distinct
    * (DuckDB re-derives it) plus a within-band boolean the oracle pins
    * TRUE. NOTE the exact leg (a distinct shuffle) rides ONLY for oracle
    * gating — the production shape is the sketch path alone, and its
    * bench cost profile here includes the gating leg. RelationalSpec
    * additionally bounds the estimate against the exact count per group.
    */
  def sketchDistinctMerge(spark: SparkSession, sfDir: String): DataFrame = {
    val daily = Tables(spark, sfDir, "events")
      .groupBy(date_trunc("DAY", col("ts")).as("d"), col("event_type"))
      .agg(hll_sketch_agg(col("user_id")).as("sk"))
    val monthly = daily
      .groupBy(date_trunc("MONTH", col("d")).as("month"), col("event_type"))
      .agg(hll_sketch_estimate(hll_union_agg(col("sk"))).as("approx_users"))
    // oracle-gating leg only: exact per-month distinct, joined back so
    // |approx − exact| ≤ 10% (default lgK=12 ⇒ ~1.6% rsd; >3σ band)
    val exact = Tables(spark, sfDir, "events")
      .groupBy(date_trunc("MONTH", col("ts")).as("month"), col("event_type"))
      .agg(countDistinct(col("user_id")).as("n_exact"))
    monthly.join(exact, Seq("month", "event_type"))
      .select(col("month"), col("event_type"), col("n_exact"),
        (abs(col("approx_users") - col("n_exact")) <=
          col("n_exact") * 0.10).as("within_band"))
      .orderBy("month", "event_type")
  }

  private val sketchDistinctMergeOracle =
    """SELECT date_trunc('month', ts) AS month, event_type,
      | CAST(count(DISTINCT user_id) AS BIGINT) AS n_exact,
      | TRUE AS within_band
      |FROM events GROUP BY 1, 2 ORDER BY month, event_type""".stripMargin

  /** Rollup over (nation, mktsegment) after a broadcast dim join — subtotal
    * grades via coalesce sentinels (portable across engines, no grouping_id).
    */
  def rollupNationSegment(spark: SparkSession, sfDir: String): DataFrame = {
    val cust = Tables(spark, sfDir, "customer")
    val nation = Tables(spark, sfDir, "nation")
      .select(col("n_nationkey"), col("n_name"))
    cust
      .join(broadcast(nation), cust("c_nationkey") === nation("n_nationkey"))
      .rollup(col("n_name"), col("c_mktsegment"))
      .agg(count(lit(1)).as("n_cust"), dsum(col("c_acctbal")).as("sum_bal"))
      .select(
        coalesce(col("n_name"), lit("(all)")).as("nation"),
        coalesce(col("c_mktsegment"), lit("(all)")).as("segment"),
        col("n_cust"), col("sum_bal"))
      .orderBy("nation", "segment")
  }

  private val rollupOracle =
    s"""SELECT coalesce(n_name, '(all)') AS nation,
       | coalesce(c_mktsegment, '(all)') AS segment,
       | CAST(count(*) AS BIGINT) AS n_cust,
       | ${sqlDsum("c_acctbal")} AS sum_bal
       |FROM customer JOIN nation ON c_nationkey = n_nationkey
       |GROUP BY ROLLUP(n_name, c_mktsegment)
       |ORDER BY nation, segment""".stripMargin

  /** CUBE over (orderstatus, orderpriority): all four grouping grades. */
  def cubeOrderStats(spark: SparkSession, sfDir: String): DataFrame =
    Tables(spark, sfDir, "orders")
      .cube(col("o_orderstatus"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n_orders"), dsum(col("o_totalprice")).as("sum_price"))
      .select(
        coalesce(col("o_orderstatus"), lit("(all)")).as("status"),
        coalesce(col("o_orderpriority"), lit("(all)")).as("priority"),
        col("n_orders"), col("sum_price"))
      .orderBy("status", "priority")

  private val cubeOracle =
    s"""SELECT coalesce(o_orderstatus, '(all)') AS status,
       | coalesce(o_orderpriority, '(all)') AS priority,
       | CAST(count(*) AS BIGINT) AS n_orders,
       | ${sqlDsum("o_totalprice")} AS sum_price
       |FROM orders
       |GROUP BY CUBE(o_orderstatus, o_orderpriority)
       |ORDER BY status, priority""".stripMargin

  /** Multiset set ops (INTERSECT ALL / EXCEPT ALL) over order keys of two
    * line-status slices — duplicates preserved per multiset semantics.
    */
  def setOpsAll(spark: SparkSession, sfDir: String): DataFrame = {
    val li = Tables(spark, sfDir, "lineitem")
    val o = li.filter(col("l_linestatus") === "O").select(col("l_orderkey"))
    val f = li.filter(col("l_linestatus") === "F").select(col("l_orderkey"))
    o.intersectAll(f).withColumn("tag", lit("both"))
      .unionByName(o.exceptAll(f).withColumn("tag", lit("open_only")))
      .orderBy("tag", "l_orderkey")
  }

  private val setOpsAllOracle =
    """SELECT l_orderkey, 'both' AS tag FROM (
      |  SELECT l_orderkey FROM lineitem WHERE l_linestatus = 'O'
      |  INTERSECT ALL
      |  SELECT l_orderkey FROM lineitem WHERE l_linestatus = 'F')
      |UNION ALL
      |SELECT l_orderkey, 'open_only' AS tag FROM (
      |  SELECT l_orderkey FROM lineitem WHERE l_linestatus = 'O'
      |  EXCEPT ALL
      |  SELECT l_orderkey FROM lineitem WHERE l_linestatus = 'F')
      |ORDER BY tag, l_orderkey""".stripMargin

  // ---- window functions -----------------------------------------------

  /** rank/dense_rank/row_number per customer over order value; keeps top 3
    * per customer. One shuffle on o_custkey, sort within partitions.
    */
  def rankOrders(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    Tables(spark, sfDir, "orders")
      .select(
        col("o_custkey"), col("o_orderkey"), col("o_totalprice"),
        rank().over(w).cast(LongType).as("rnk"),
        dense_rank().over(w).cast(LongType).as("drnk"),
        row_number().over(w).cast(LongType).as("rn"))
      .filter(col("rnk") <= 3)
      .orderBy("o_custkey", "rnk", "o_orderkey")
  }

  private val rankOrdersOracle =
    """SELECT * FROM (
      | SELECT o_custkey, o_orderkey, o_totalprice,
      |  CAST(rank()       OVER w AS BIGINT) AS rnk,
      |  CAST(dense_rank() OVER w AS BIGINT) AS drnk,
      |  CAST(row_number() OVER w AS BIGINT) AS rn
      | FROM orders
      | WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey)
      |) WHERE rnk <= 3
      |ORDER BY o_custkey, rnk, o_orderkey""".stripMargin

  /** Distribution window functions — ntile/percent_rank/cume_dist complete
    * the ranking family (rank/dense_rank/row_number live in
    * `win_rank_orders`). Same single shuffle + in-partition sort shape.
    */
  def distributionWindows(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window.partitionBy(col("c_mktsegment"))
      .orderBy(col("c_acctbal").desc, col("c_custkey"))
    Tables(spark, sfDir, "customer")
      .select(
        col("c_mktsegment"), col("c_custkey"), col("c_acctbal"),
        ntile(4).over(w).cast(LongType).as("quartile"),
        round(percent_rank().over(w), 6).as("pct_rank"),
        round(cume_dist().over(w), 6).as("cume"))
      .orderBy("c_mktsegment", "pct_rank", "c_custkey")
  }

  private val distributionWindowsOracle =
    """SELECT c_mktsegment, c_custkey, c_acctbal,
      | CAST(ntile(4) OVER w AS BIGINT) AS quartile,
      | round(percent_rank() OVER w, 6) AS pct_rank,
      | round(cume_dist() OVER w, 6) AS cume
      |FROM customer
      |WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal DESC, c_custkey)
      |ORDER BY c_mktsegment, pct_rank, c_custkey""".stripMargin

  /** first/last/nth_value per customer over the FULL partition frame —
    * explicit ROWS UNBOUNDED PRECEDING..UNBOUNDED FOLLOWING on both
    * engines, because under the default frame (stop at CURRENT ROW)
    * last_value degenerates to the current row. Pure value copies, no
    * arithmetic — deterministic under any frame evaluation strategy.
    */
  def firstLastValue(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    Tables(spark, sfDir, "orders")
      .select(
        col("o_custkey"), col("o_orderkey"), col("o_orderdate"),
        first(col("o_totalprice")).over(w).as("first_price"),
        last(col("o_totalprice")).over(w).as("last_price"),
        nth_value(col("o_totalprice"), 2).over(w).as("second_price"))
      .orderBy("o_custkey", "o_orderkey")
  }

  private val firstLastValueOracle =
    """SELECT o_custkey, o_orderkey, o_orderdate,
      | first_value(o_totalprice) OVER w AS first_price,
      | last_value(o_totalprice) OVER w AS last_price,
      | nth_value(o_totalprice, 2) OVER w AS second_price
      |FROM orders
      |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
      |             ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
      |ORDER BY o_custkey, o_orderkey""".stripMargin

  /** lag() per user ordered by event time: per-event delta vs previous
    * value (double subtraction — bitwise deterministic, no reduction).
    */
  def lagDelta(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    Tables(spark, sfDir, "events")
      .select(
        col("user_id"), col("event_id"), col("value"),
        lag(col("value"), 1).over(w).as("prev_value"))
      .withColumn("delta", col("value") - col("prev_value"))
      .orderBy("user_id", "event_id")
  }

  private val lagDeltaOracle =
    """SELECT user_id, event_id, value, prev_value, value - prev_value AS delta
      |FROM (
      | SELECT user_id, event_id, value,
      |  lag(value, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_value
      | FROM events)
      |ORDER BY user_id, event_id""".stripMargin

  /** Running total per user (unbounded-preceding frame). The accumulated
    * column rides DECIMAL so the frame evaluation strategy (sequential vs
    * segment-tree) can't change the result.
    */
  def runningTotal(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables(spark, sfDir, "events")
      .select(
        col("user_id"), col("event_id"), col("value"),
        sum(dec(col("value"))).over(w).cast(DoubleType).as("running_value"))
      .orderBy("user_id", "event_id")
  }

  private val runningTotalOracle =
    """SELECT user_id, event_id, value,
      | CAST(sum(CAST(value AS DECIMAL(18,2))) OVER (
      |   PARTITION BY user_id ORDER BY ts, event_id
      |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
      |  AS running_value
      |FROM events
      |ORDER BY user_id, event_id""".stripMargin

  // ---- sort / top-k ----------------------------------------------------

  /** Global top-k with unique tiebreak: planned as TakeOrderedAndProject
    * (per-partition heaps + driver merge of k rows — no full sort at scale).
    */
  def topkCustomers(spark: SparkSession, sfDir: String): DataFrame =
    Tables(spark, sfDir, "customer")
      .select(col("c_custkey"), col("c_name"), col("c_acctbal"))
      .orderBy(col("c_acctbal").desc, col("c_custkey"))
      .limit(20)

  private val topkOracle =
    """SELECT c_custkey, c_name, c_acctbal FROM customer
      |ORDER BY c_acctbal DESC, c_custkey LIMIT 20""".stripMargin

  // ---- keep-latest-per-key dedup ------------------------------------------

  /** Keep-latest-per-key — the log-compaction READ: an append-only event
    * log (CDC stream, upsert feed) collapses to current state by keeping
    * each key's most recent row. One window per key ordered by (ts desc,
    * id desc — the unique tiebreak an at-least-once log needs), keep
    * row_number 1. One shuffle on the key; at 100 TB this is the
    * view a lakehouse MERGE materializes incrementally, and the
    * deterministic tiebreak is what makes replays idempotent.
    */
  def keepLatestPerKey(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts").desc, col("event_id").desc)
    Tables(spark, sfDir, "events")
      .select(col("user_id"), col("event_id"), col("event_type"), col("ts"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("user_id"), col("event_id"), col("event_type"), col("ts"))
      .orderBy("user_id")
  }

  private val keepLatestOracle =
    """SELECT user_id, event_id, event_type, ts FROM (
      | SELECT user_id, event_id, event_type, ts,
      |  row_number() OVER (PARTITION BY user_id
      |                     ORDER BY ts DESC, event_id DESC) AS rn
      | FROM events) WHERE rn = 1
      |ORDER BY user_id""".stripMargin

  // ---- manually salted skew join ------------------------------------------

  private val JoinSalts = 4

  /** Manually salted skew JOIN — the technique for when AQE's runtime
    * split (asserted in PlanSpec) isn't available or the skew is known
    * up front: the big side gets a deterministic per-row salt, the small
    * side is replicated once per salt value (explode of a literal array),
    * and the join key becomes (key, salt) — the hot key's rows spread
    * over `JoinSalts` shuffle partitions instead of one. Salting must be
    * result-transparent: the oracle is the plain unsalted join.
    *
    * Salt count is a genuine TRADE: more salts spread the hot key wider
    * but replicate the small side proportionally (the explode below), and
    * at harness scale the replication dominates — an interleaved ABAB A/B
    * (single-query runs, sf0.1) read 3.44/3.45/3.38 s at 8 salts vs
    * 2.76/2.78/2.99 s at 4, so 4 it is. One bench's 2.72 s reading (vs
    * an earlier 1.70) reproduced at ~2.2-2.8 s across 6 same-window runs
    * of unchanged code, i.e. the "regression" was the earlier run reading
    * low; the replication cost is the real, steady term.
    * At 100 TB pick salts ≈ ceil(hot-key rows / healthy-partition rows),
    * never more — and prefer AQE's runtime skew split (PlanSpec) when the
    * skew isn't known up front.
    */
  def saltedSkewJoin(spark: SparkSession, sfDir: String): DataFrame = {
    val li = Tables(spark, sfDir, "lineitem")
      .select("l_orderkey", "l_linenumber", "l_quantity")
      .withColumn("salt",
        pmod(xxhash64(col("l_orderkey"), col("l_linenumber")),
          lit(JoinSalts.toLong)))
    val ord = Tables(spark, sfDir, "orders")
      .select("o_orderkey", "o_orderstatus")
      .withColumn("salt",
        explode(array((0 until JoinSalts).map(s => lit(s.toLong)): _*)))
    li.join(ord,
        col("l_orderkey") === col("o_orderkey")
          && li("salt") === ord("salt"))
      .groupBy(col("o_orderstatus"))
      .agg(dsum(col("l_quantity")).as("sum_qty"), count(lit(1)).as("n"))
      .orderBy("o_orderstatus")
  }

  private val saltedSkewJoinOracle =
    s"""SELECT o_orderstatus, ${sqlDsum("l_quantity")} AS sum_qty,
       | CAST(count(*) AS BIGINT) AS n
       |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
       |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin

  // ---- runtime Bloom-filter join pruning ----------------------------------

  /** Runtime Bloom-filter semi-join reduction — the shuffle-join counterpart
    * of broadcast-side pruning: when BOTH join sides are too big to
    * broadcast, Catalyst's InjectRuntimeFilter builds a Bloom filter over
    * the join keys of the SELECTIVE side (urgent orders, ~20% of the dim)
    * as a scalar subquery and applies `might_contain` to the fact side
    * BEFORE its shuffle, so fact rows that cannot match never pay exchange
    * I/O. A false positive only costs one wasted shuffled row (the join
    * still decides membership exactly), so the rewrite is
    * result-transparent — the oracle is the plain join, and PlanSpec pins
    * the `might_contain` filter on the lineitem side so a conf drift can't
    * silently lose the pruning.
    *
    * At 100 TB this is the big-big join saver: a k%-selective dim predicate
    * cuts the fact side's shuffle write+read by ~(100−k)%, which dwarfs the
    * cost of building the one-pass Bloom (itself a partial-aggregated
    * scalar subquery). Spark only injects it when the creation side carries
    * a selective filter over a scan — exactly when it pays.
    *
    * Harness wiring: the injection thresholds assume cluster scale
    * (`applicationSideScanSizeThreshold` defaults to 10 GB), so the fn pins
    * injection-friendly confs for the duration of PLANNING only — the
    * QueryExecution memoizes its optimized plan on first access — then
    * restores them. Broadcast is disabled under the same pin so the join
    * actually shuffles (the 100 TB shape this operator exists for).
    */
  def bloomPruneJoin(spark: SparkSession, sfDir: String): DataFrame = {
    val pinned = Seq(
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold" -> "512MB",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1")
    Session.withConfs(spark, pinned: _*) {
      val urgent = Tables(spark, sfDir, "orders")
        .filter(col("o_orderpriority") === "1-URGENT")
        .select("o_orderkey", "o_orderstatus")
      val li = Tables(spark, sfDir, "lineitem")
        .select("l_orderkey", "l_quantity", "l_extendedprice")
      val out = li.join(urgent, col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n"),
          dsum(col("l_extendedprice")).as("revenue"))
        .orderBy("o_orderstatus")
      out.queryExecution.executedPlan // memoize the plan under the pin
      out
    }
  }

  private val bloomPruneJoinOracle =
    s"""SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n,
       | ${sqlDsum("l_extendedprice")} AS revenue
       |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
       |WHERE o_orderpriority = '1-URGENT'
       |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin

  // ---- typed cogroup reconciliation ---------------------------------------

  /** Order/lineitem reconciliation via the typed `cogroup` — the Dataset
    * escape hatch for per-key logic over TWO relations at once: both sides
    * hash-partition on the key into ONE co-located shuffle, and the lambda
    * sees each key's complete order rows and line rows together (a
    * full-outer join would multiply rows; two groupBys plus a join would
    * shuffle three times). Emits one audit row per key: row counts, the
    * exact line total, and a match status covering both orphan directions.
    *
    * Determinism: within-key iteration order after a shuffle is not
    * guaranteed, so the money sum goes through BigDecimal (associative,
    * commutative) — the same DECIMAL discipline as [[graft.functions.Exact]],
    * applied JVM-side. DeterminismSpec pins the byte-stability.
    *
    * At 100 TB: one co-partitioned exchange of exactly the projected
    * columns (the `select` before `.as` prunes manually — typed lambdas are
    * opaque to Catalyst, so pruning cannot be inferred), then a streaming
    * sorted merge per partition; per-key state is one key's rows, never a
    * partition's. The SQL-expressible status logic rides in the oracle as a
    * full-outer aggregate join — cogroup earns its keep when the per-key
    * emit GROWS past SQL (multi-row repair records, imperative matching),
    * and this query pins the plumbing for that shape.
    */
  def cogroupReconcile(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val ord = Tables(spark, sfDir, "orders")
      .select(col("o_orderkey"), col("o_totalprice")).as[(Long, Double)]
    val li = Tables(spark, sfDir, "lineitem")
      .select(col("l_orderkey"), col("l_extendedprice")).as[(Long, Double)]
    ord.groupByKey(_._1).cogroup(li.groupByKey(_._1)) { (key, os, ls) =>
      var oCount = 0L
      os.foreach(_ => oCount += 1)
      var lCount = 0L
      var lTotal = BigDecimal(0)
      ls.foreach { l =>
        lCount += 1
        // valueOf goes through Double.toString (shortest decimal repr) —
        // the same value Spark's and DuckDB's double→DECIMAL(18,2) casts
        // round, so the three engines agree digit-for-digit
        lTotal += BigDecimal.valueOf(l._2)
          .setScale(2, BigDecimal.RoundingMode.HALF_UP)
      }
      val status =
        if (oCount == 0) "orphan_lines"
        else if (lCount == 0) "no_lines"
        else "matched"
      Iterator((key, oCount, lCount, lTotal.toDouble, status))
    }.toDF("order_key", "o_count", "l_count", "l_total", "status")
      .orderBy("order_key")
  }

  private val cogroupReconcileOracle =
    s"""SELECT coalesce(o.k, l.k) AS order_key,
       | CAST(coalesce(o.n, 0) AS BIGINT) AS o_count,
       | CAST(coalesce(l.n, 0) AS BIGINT) AS l_count,
       | CAST(coalesce(l.total, 0) AS DOUBLE) AS l_total,
       | CASE WHEN o.k IS NULL THEN 'orphan_lines'
       |      WHEN l.k IS NULL THEN 'no_lines'
       |      ELSE 'matched' END AS status
       |FROM (SELECT o_orderkey AS k, count(*) AS n FROM orders GROUP BY 1) o
       |FULL OUTER JOIN (
       |  SELECT l_orderkey AS k, count(*) AS n,
       |    sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS total
       |  FROM lineitem GROUP BY 1) l ON o.k = l.k
       |ORDER BY order_key""".stripMargin

  // ---- star-schema revenue ranking (TPC-H Q3 shape) -----------------------

  /** TPC-H Q3-shaped star join: revenue of not-yet-shipped lineitems for
    * BUILDING-segment customers' pre-cutoff orders, top-10 by revenue. The
    * classic OLAP composition — two selective dim/fact filters, a
    * broadcast-able customer side, the orderkey fact join, decimal-exact
    * revenue, and a TakeOrderedAndProject top-k (never a global sort).
    * At 100 TB: the filtered BUILDING customer keys broadcast; orders ⋈
    * lineitem shuffles on orderkey (or goes exchange-free when both sit
    * bucketed by orderkey as in `join_bucketed`); date filters push into
    * both parquet scans.
    */
  def starJoinTopRevenue(spark: SparkSession, sfDir: String): DataFrame = {
    val cutoff = lit("1995-03-15 00:00:00").cast(TimestampNTZType)
    val cust = Tables(spark, sfDir, "customer")
      .filter(col("c_mktsegment") === "BUILDING").select("c_custkey")
    val ord = Tables(spark, sfDir, "orders")
      .filter(col("o_orderdate") < cutoff)
      .select("o_orderkey", "o_custkey", "o_orderdate")
    val li = Tables(spark, sfDir, "lineitem")
      .filter(col("l_shipdate") > cutoff)
      .select("l_orderkey", "l_extendedprice", "l_discount")
    val one = lit(1).cast(DecimalType(18, 2))
    cust.join(ord, col("c_custkey") === col("o_custkey"))
      .join(li, col("o_orderkey") === col("l_orderkey"))
      .groupBy(col("l_orderkey"), col("o_orderdate"))
      .agg(sum(dec(col("l_extendedprice")) * (one - dec(col("l_discount"))))
        .cast(DoubleType).as("revenue"))
      .orderBy(col("revenue").desc, col("l_orderkey"))
      .limit(10)
  }

  private val starJoinTopRevenueOracle =
    """SELECT l_orderkey, o_orderdate,
      | CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) *
      |          (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE)
      |   AS revenue
      |FROM customer
      |JOIN orders ON c_custkey = o_custkey
      |JOIN lineitem ON l_orderkey = o_orderkey
      |WHERE c_mktsegment = 'BUILDING'
      |  AND o_orderdate < TIMESTAMP '1995-03-15 00:00:00'
      |  AND l_shipdate > TIMESTAMP '1995-03-15 00:00:00'
      |GROUP BY l_orderkey, o_orderdate
      |ORDER BY revenue DESC, l_orderkey LIMIT 10""".stripMargin

  // ---- one-pass column profiling ------------------------------------------

  /** Data-quality column profiling — the pre-ingest gate every pipeline
    * runs: per-column non-null count, exact distinct count, and min/max
    * (numeric and string kept in separate typed columns — no double→string
    * casts whose formatting could differ between engines), emitted in long
    * format via ONE aggregate + `stack`. The scan is single-pass; the
    * multiple exact countDistincts expand the input internally (Spark's
    * Expand), which is the documented cost of exactness — a 100 TB profile
    * job swaps them for approx_count_distinct and keeps this exact shape
    * for audits.
    */
  def profileColumns(spark: SparkSession, sfDir: String): DataFrame = {
    // the profile's cost is the Expand (rows × 5 copies for the 4 exact
    // distinct-agg branches) + partial aggregation, which runs INSIDE the
    // scan stage — and orders ships as ONE parquet split at harness sf,
    // so the whole expand-aggregate ran on one core (3.1 s executor time
    // in 1 task at sf0.1). When the scan has fewer splits than the
    // cluster has slots, rebalance the narrow input rows first: one tiny
    // round-robin exchange buys full-width parallelism for the expand.
    // Scale-adaptive, not a local[32] constant: a 100 TB profile arrives
    // in thousands of splits, leaves the condition false, and keeps its
    // single-pass no-shuffle shape.
    val o = Tables(spark, sfDir, "orders")
    val par = spark.sparkContext.defaultParallelism
    val balanced =
      if (o.rdd.getNumPartitions < par) o.repartition(par) else o
    balanced
      .agg(
        count(col("o_orderkey")).as("nn_k"),
        countDistinct(col("o_orderkey")).as("nd_k"),
        min(col("o_orderkey")).cast(DoubleType).as("min_k"),
        max(col("o_orderkey")).cast(DoubleType).as("max_k"),
        count(col("o_orderstatus")).as("nn_s"),
        countDistinct(col("o_orderstatus")).as("nd_s"),
        min(col("o_orderstatus")).as("min_s"),
        max(col("o_orderstatus")).as("max_s"),
        count(col("o_totalprice")).as("nn_p"),
        countDistinct(col("o_totalprice")).as("nd_p"),
        min(col("o_totalprice")).as("min_p"),
        max(col("o_totalprice")).as("max_p"),
        count(col("o_orderpriority")).as("nn_pr"),
        countDistinct(col("o_orderpriority")).as("nd_pr"),
        min(col("o_orderpriority")).as("min_pr"),
        max(col("o_orderpriority")).as("max_pr"))
      .selectExpr(
        """stack(4,
          | 'o_orderkey', nn_k, nd_k, min_k, max_k,
          |   cast(null as string), cast(null as string),
          | 'o_orderstatus', nn_s, nd_s, cast(null as double),
          |   cast(null as double), min_s, max_s,
          | 'o_totalprice', nn_p, nd_p, min_p, max_p,
          |   cast(null as string), cast(null as string),
          | 'o_orderpriority', nn_pr, nd_pr, cast(null as double),
          |   cast(null as double), min_pr, max_pr)
          | as (col_name, n_nonnull, n_distinct, min_num, max_num,
          |     min_str, max_str)""".stripMargin.replace("\n", " "))
      .orderBy("col_name")
  }

  private val profileColumnsOracle =
    """SELECT * FROM (
      |  SELECT 'o_orderkey' AS col_name,
      |    CAST(count(o_orderkey) AS BIGINT) AS n_nonnull,
      |    CAST(count(DISTINCT o_orderkey) AS BIGINT) AS n_distinct,
      |    CAST(min(o_orderkey) AS DOUBLE) AS min_num,
      |    CAST(max(o_orderkey) AS DOUBLE) AS max_num,
      |    CAST(NULL AS VARCHAR) AS min_str, CAST(NULL AS VARCHAR) AS max_str
      |  FROM orders
      |  UNION ALL
      |  SELECT 'o_orderstatus', CAST(count(o_orderstatus) AS BIGINT),
      |    CAST(count(DISTINCT o_orderstatus) AS BIGINT),
      |    NULL, NULL, min(o_orderstatus), max(o_orderstatus)
      |  FROM orders
      |  UNION ALL
      |  SELECT 'o_totalprice', CAST(count(o_totalprice) AS BIGINT),
      |    CAST(count(DISTINCT o_totalprice) AS BIGINT),
      |    min(o_totalprice), max(o_totalprice), NULL, NULL
      |  FROM orders
      |  UNION ALL
      |  SELECT 'o_orderpriority', CAST(count(o_orderpriority) AS BIGINT),
      |    CAST(count(DISTINCT o_orderpriority) AS BIGINT),
      |    NULL, NULL, min(o_orderpriority), max(o_orderpriority)
      |  FROM orders)
      |ORDER BY col_name""".stripMargin

  // ---- zero-extra-pass pipeline audit (Observation API) -------------------

  /** In-flight pipeline audit via `Dataset.observe` — row-count and
    * violation metrics collected DURING the one production pass, not by a
    * second audit scan. `CollectMetrics` rides the cleaned relation as
    * accumulator-backed expressions evaluated per-row as data streams
    * through, so the audit is free at 100 TB (a separate `SELECT count(*)`
    * audit would re-read the lake); the returned result is the business
    * aggregate, byte-identical with or without the observation — which is
    * why the oracle is simply the plain SQL.
    *
    * Production shape: the driver reads `Observation.get` after the action
    * and compares rows_out / violation counts against the ingest manifest
    * (the reference's row-count print, app.py:150, is the manual cousin).
    * RelationalAuditSpec asserts the metrics land and match the data;
    * PlanSpec asserts the observe node does not block scan pushdown of the
    * upstream filter (observe sits ABOVE the clean filter by design — a
    * metrics node below it would pin the filter out of the scan).
    */
  private[graft] def auditedRevenue(spark: SparkSession, sfDir: String)
      : (DataFrame, org.apache.spark.sql.Observation) = {
    val obs = org.apache.spark.sql.Observation()
    val cleaned = Tables(spark, sfDir, "lineitem")
      .filter(col("l_quantity") > 0)
      .select(col("l_returnflag"), col("l_extendedprice"), col("l_discount"))
      .observe(obs,
        count(lit(1)).as("rows_out"),
        sum(when(col("l_discount") > 0.05, 1L).otherwise(0L))
          .as("high_discount_rows"),
        dsum(col("l_extendedprice")).as("gross_revenue"))
    val out = cleaned
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n"), dsum(col("l_extendedprice")).as("revenue"))
      .orderBy("l_returnflag")
    (out, obs)
  }

  def observedAudit(spark: SparkSession, sfDir: String): DataFrame =
    auditedRevenue(spark, sfDir)._1

  private val observedAuditOracle =
    s"""SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n,
       | ${sqlDsum("l_extendedprice")} AS revenue
       |FROM lineitem WHERE l_quantity > 0
       |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  // ---- Z-order clustering (multi-column data skipping) --------------------

  /** Morton bit-spread: the low 16 bits of `c` moved to the even bit
    * positions of a 32-bit value, via the standard magic-mask doubling
    * steps — pure built-in bitwise ops, fully codegen'd (no UDF, no custom
    * expression needed).
    */
  private def spread16(c: Column): Column = {
    val m = Seq(0x00FF00FFL, 0x0F0F0F0FL, 0x33333333L, 0x55555555L)
    val shifts = Seq(8, 4, 2, 1)
    var x = c.cast(LongType).bitwiseAND(lit(0xFFFFL))
    shifts.zip(m).foreach { case (s, mask) =>
      x = x.bitwiseOR(shiftleft(x, s)).bitwiseAND(lit(mask))
    }
    x
  }

  /** The identical spread as portable SQL (nested expansion of the same
    * masks), so the oracle computes byte-identical z-keys in DuckDB.
    */
  private def spread16Sql(e: String): String = {
    val masks = Seq(8 -> 16711935L, 4 -> 252645135L, 2 -> 858993459L,
      1 -> 1431655765L)
    masks.foldLeft(s"($e & 65535)") { case (acc, (s, m)) =>
      s"(($acc | ($acc << $s)) & $m)"
    }
  }

  /** Z-order (Morton) clustering key — the layout op behind multi-column
    * data skipping: interleaving the bits of two range-queried columns
    * gives ONE sort key under which points close in (x, y) stay close in
    * file order, so per-file min/max stats prune 2-D box queries that a
    * single-column sort can only prune on its leading column. The query
    * emits the key + a coarse z-bucket per order (x = customer key, y =
    * wrapped total price); the LAYOUT property — writing
    * `repartitionByRange(zkey).sortWithinPartitions(zkey)` shrinks
    * per-file bounding boxes vs a key-sorted layout — is asserted in
    * PlanSpec, where both layouts are written and their file-level stats
    * compared. At 100 TB this is the OPTIMIZE ZORDER BY of lakehouse
    * formats, expressed with nothing but codegen'd bitwise built-ins.
    */
  def zorderCluster(spark: SparkSession, sfDir: String): DataFrame = {
    val x = col("o_custkey").bitwiseAND(lit(65535L))
    val y = floor(col("o_totalprice")).cast(LongType).bitwiseAND(lit(65535L))
    Tables(spark, sfDir, "orders")
      .select(col("o_orderkey"), x.as("x"), y.as("y"))
      .withColumn("zkey",
        spread16(col("x")).bitwiseOR(shiftleft(spread16(col("y")), 1)))
      .withColumn("zbucket", shiftright(col("zkey"), 28))
      .orderBy("o_orderkey")
  }

  private val zorderClusterOracle = {
    val sx = spread16Sql("x")
    val sy = spread16Sql("y")
    s"""WITH base AS (
       |  SELECT o_orderkey, o_custkey & 65535 AS x,
       |    CAST(floor(o_totalprice) AS BIGINT) & 65535 AS y
       |  FROM orders),
       |z AS (
       |  SELECT o_orderkey, x, y, ($sx | ($sy << 1)) AS zkey FROM base)
       |SELECT o_orderkey, x, y, zkey, zkey >> 28 AS zbucket
       |FROM z ORDER BY o_orderkey""".stripMargin
  }

  // ---- set ops ---------------------------------------------------------

  /** INTERSECT / EXCEPT over key sets, tagged and unioned into one result. */
  def setOpsSegments(spark: SparkSession, sfDir: String): DataFrame = {
    val building = Tables(spark, sfDir, "customer")
      .filter(col("c_mktsegment") === "BUILDING").select(col("c_custkey"))
    val withOrders = Tables(spark, sfDir, "orders")
      .select(col("o_custkey").as("c_custkey"))
    building.intersect(withOrders).withColumn("tag", lit("both"))
      .unionByName(
        building.except(withOrders).withColumn("tag", lit("building_only")))
      .orderBy("tag", "c_custkey")
  }

  private val setOpsOracle =
    """SELECT c_custkey, 'both' AS tag FROM (
      |  SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
      |  INTERSECT
      |  SELECT o_custkey FROM orders)
      |UNION ALL
      |SELECT c_custkey, 'building_only' AS tag FROM (
      |  SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
      |  EXCEPT
      |  SELECT o_custkey FROM orders)
      |ORDER BY tag, c_custkey""".stripMargin

  // ---- join shapes beyond the reference's inner equi-join ---------------

  /** left-semi (EXISTS) and left-anti (NOT EXISTS), tagged + unioned. */
  def semiAntiJoins(spark: SparkSession, sfDir: String): DataFrame = {
    val cust = Tables(spark, sfDir, "customer")
      .select(col("c_custkey"), col("c_name"))
    val orderKeys = Tables(spark, sfDir, "orders").select(col("o_custkey"))
    cust.join(orderKeys, cust("c_custkey") === orderKeys("o_custkey"), "left_semi")
      .withColumn("tag", lit("has_orders"))
      .unionByName(
        cust.join(orderKeys, cust("c_custkey") === orderKeys("o_custkey"), "left_anti")
          .withColumn("tag", lit("no_orders")))
      .orderBy("c_custkey")
  }

  private val semiAntiOracle =
    """SELECT c_custkey, c_name, 'has_orders' AS tag FROM customer c
      |WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
      |UNION ALL
      |SELECT c_custkey, c_name, 'no_orders' AS tag FROM customer c
      |WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
      |ORDER BY c_custkey""".stripMargin

  /** Left-outer join + grouped count(col) — NULL-preserving join semantics. */
  def outerJoinCounts(spark: SparkSession, sfDir: String): DataFrame = {
    val nation = Tables(spark, sfDir, "nation")
      .select(col("n_nationkey"), col("n_name"))
    val supp = Tables(spark, sfDir, "supplier")
      .select(col("s_nationkey"), col("s_suppkey"), col("s_acctbal"))
    nation
      .join(supp, nation("n_nationkey") === supp("s_nationkey"), "left_outer")
      .groupBy(col("n_name"))
      .agg(
        count(col("s_suppkey")).as("n_suppliers"),
        dsum(col("s_acctbal")).as("sum_bal"))
      .orderBy("n_name")
  }

  private val outerJoinOracle =
    s"""SELECT n_name,
       | CAST(count(s_suppkey) AS BIGINT) AS n_suppliers,
       | ${sqlDsum("s_acctbal")} AS sum_bal
       |FROM nation LEFT JOIN supplier ON n_nationkey = s_nationkey
       |GROUP BY n_name ORDER BY n_name""".stripMargin

  // ---- scalar functions -------------------------------------------------

  /** Date/time scalars: truncation to month + per-month aggregates. */
  def monthlyOrders(spark: SparkSession, sfDir: String): DataFrame =
    Tables(spark, sfDir, "orders")
      .groupBy(date_trunc("month", col("o_orderdate")).as("month"))
      .agg(
        count(lit(1)).as("n_orders"),
        dsum(col("o_totalprice")).as("sum_price"))
      .orderBy("month")

  private val monthlyOrdersOracle =
    s"""SELECT date_trunc('month', o_orderdate) AS month,
       | CAST(count(*) AS BIGINT) AS n_orders,
       | ${sqlDsum("o_totalprice")} AS sum_price
       |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin

  /** JSON extraction (get_json_object) + strict string→int cast, aggregated.
    * The reference's F3 strict-cast semantics apply to the extracted field.
    */
  def jsonExtract(spark: SparkSession, sfDir: String): DataFrame =
    Tables(spark, sfDir, "events")
      .withColumn("k",
        get_json_object(col("props"), "$.k").cast(IntegerType))
      .groupBy(col("event_type"))
      .agg(
        count(col("k")).as("n"),
        sum(col("k")).cast(LongType).as("sum_k"),
        min(col("k")).as("min_k"),
        max(col("k")).as("max_k"))
      .orderBy("event_type")

  private val jsonExtractOracle =
    """SELECT event_type,
      | CAST(count(k) AS BIGINT) AS n,
      | CAST(sum(k) AS BIGINT) AS sum_k,
      | min(k) AS min_k, max(k) AS max_k
      |FROM (SELECT event_type,
      |        CAST(json_extract_string(props, '$.k') AS INTEGER) AS k
      |      FROM events)
      |GROUP BY event_type ORDER BY event_type""".stripMargin

  /** Map/struct scalar surface: build per-row MAP and STRUCT values,
    * operate on them (lookup, key sort, value transform, field access) and
    * emit SCALARS only — collection outputs don't survive scalar-only
    * comparators and sinks (the agg_collect_sorted lesson). The oracle
    * computes the same results directly from the base columns: the gate
    * pins semantics, not mechanism.
    *
    * Deliberate exception to the HOF-avoidance discipline (TextAnalysis
    * header): `transform_values` IS the operator under test here, so the
    * projection accepts interpreted evaluation — a hot 100 TB path would
    * restructure to keep map manipulation out of the per-row projection.
    */
  def mapStructOps(spark: SparkSession, sfDir: String): DataFrame = {
    val m = map(
      lit("status"), col("o_orderstatus"),
      lit("priority"), col("o_orderpriority"))
    val st = struct(col("o_orderkey").as("k"), col("o_totalprice").as("p"))
    Tables(spark, sfDir, "orders")
      .select(
        col("o_orderkey"),
        element_at(m, "status").as("m_status"),
        size(m).cast(LongType).as("n_keys"),
        array_join(sort_array(map_keys(m)), ",").as("keys_sorted"),
        element_at(transform_values(m, (_, v) => lower(v)), "priority")
          .as("priority_lower"),
        (st.getField("p") * 2).as("double_price")) // ×2 is exact in IEEE
      .orderBy("o_orderkey")
  }

  private val mapStructOracle =
    """SELECT o_orderkey, o_orderstatus AS m_status,
      | CAST(2 AS BIGINT) AS n_keys,
      | 'priority,status' AS keys_sorted,
      | lower(o_orderpriority) AS priority_lower,
      | o_totalprice * 2 AS double_price
      |FROM orders ORDER BY o_orderkey""".stripMargin

  /** VARIANT semi-structured type (Spark 4): `parse_json` once into the
    * binary variant encoding, then typed `variant_get` extraction — the
    * open-schema ingestion path that replaces string-typed JSON columns.
    * Against per-access `get_json_object` (the [[jsonExtract]] shape),
    * variant parses each document ONCE and every extraction is a cheap
    * binary traversal — at 100 TB with multi-field access the repeated
    * string re-parse is the difference between one scan and k scans of
    * CPU. `try_variant_get` probes a missing path (typed null, no error)
    * and the count proves none materialize. The oracle re-derives the
    * same numbers with DuckDB's JSON accessors: the gate pins semantics,
    * not encoding.
    */
  def variantScalars(spark: SparkSession, sfDir: String): DataFrame =
    Tables(spark, sfDir, "events")
      .select(col("event_type"), parse_json(col("props")).as("v"))
      .select(col("event_type"),
        expr("variant_get(v, '$.k', 'bigint')").as("k"),
        expr("try_variant_get(v, '$.absent', 'bigint')").as("m"),
        expr("variant_get(v, '$.k', 'string')").as("ks"))
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n"),
        sum(col("k")).as("sum_k"),
        count(col("m")).as("n_absent_hits"),
        max(col("ks")).as("max_k_str"))
      .orderBy("event_type")

  private val variantScalarsOracle =
    """SELECT event_type, CAST(count(*) AS BIGINT) AS n,
      | CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT)
      |   AS sum_k,
      | CAST(0 AS BIGINT) AS n_absent_hits,
      | max(json_extract_string(props, '$.k')) AS max_k_str
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  /** Generator/UDTF axis: split + explode into a token relation, then the
    * top-50 token frequencies under a total order.
    */
  def explodeTokens(spark: SparkSession, sfDir: String): DataFrame =
    Tables(spark, sfDir, "documents")
      .select(explode(split(col("text"), " ")).as("token"))
      .groupBy(col("token"))
      .agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("token"))
      .limit(50)

  private val explodeTokensOracle =
    """SELECT token, CAST(count(*) AS BIGINT) AS cnt
      |FROM (SELECT unnest(string_split(text, ' ')) AS token FROM documents)
      |GROUP BY token ORDER BY cnt DESC, token LIMIT 50""".stripMargin

  /** Range (non-equi, keyless) join — every event within ±5 minutes of any
    * signup. Spark has no range-join primitive and the naive theta join
    * plans as BroadcastNestedLoop: O(|signups| × |events|) comparisons, a
    * scale-killer. The scale shape is BINNING: quantize time into 10-minute
    * bins; a ±5-minute window overlaps at most 2 bins, so exploding each
    * window into its bins and equi-joining on the bin turns the cartesian
    * into a hash join + residual range filter. Each matching pair is
    * produced exactly once (an event lives in exactly one bin) — no
    * dedup pass. Cost O(events + 2·windows + matches); the same plan
    * Flink interval joins and warehouse range-join hints lower to.
    * PlanSpec asserts no nested-loop/cartesian operator survives.
    */
  def rangeJoinBinned(spark: SparkSession, sfDir: String): DataFrame = {
    val binMicros = 600000000L // 10 minutes
    // typed API, not string-spliced SQL: Column.toString only reparses for
    // bare attribute references, so the expr() version broke on any
    // computed/qualified column. floor() is exact here — epoch micros stay
    // far below 2^53, so the double division loses nothing.
    def bin(c: Column): Column =
      floor(unix_micros(c.cast("timestamp")) / lit(binMicros)).cast(LongType)
    val ev = Tables(spark, sfDir, "events")
      .select(col("event_id"), col("ts"))
      .withColumn("bin", bin(col("ts")))
    val windows = Tables(spark, sfDir, "events")
      .filter(col("event_type") === "signup")
      .select(col("event_id").as("signup_id"),
        (col("ts") - expr("INTERVAL '5' MINUTE")).as("lo"),
        (col("ts") + expr("INTERVAL '5' MINUTE")).as("hi"))
      .withColumn("bin", explode(sequence(bin(col("lo")), bin(col("hi")))))
    windows.join(ev,
        windows("bin") === ev("bin")
          && col("ts") >= col("lo") && col("ts") <= col("hi"))
      .select(col("signup_id"), col("event_id"))
      .orderBy("signup_id", "event_id")
  }

  private val rangeJoinOracle =
    """SELECT s.event_id AS signup_id, e.event_id
      |FROM (SELECT * FROM events WHERE event_type = 'signup') s
      |JOIN events e
      |  ON e.ts >= s.ts - INTERVAL 5 MINUTE
      | AND e.ts <= s.ts + INTERVAL 5 MINUTE
      |ORDER BY signup_id, e.event_id""".stripMargin

  /** Recursive-CTE date spine + gap fill — the calendar-dim pattern: a
    * 31-day spine generated by SQL recursion (Spark 4's WITH RECURSIVE →
    * UnionLoop), left-joined to daily order counts so missing days appear
    * as explicit zeros (time series must not silently skip empty days).
    * The spine is parameter-anchored (a calendar is configuration, not
    * data), so no driver-side scalar fetch is needed; recursion depth 31
    * sits far under the engine's recursion limit. DuckDB runs the same
    * recursive SQL — a true both-engines SQL-surface check.
    */
  def recursiveDateSpine(spark: SparkSession, sfDir: String): DataFrame = {
    Tables(spark, sfDir, "orders").createOrReplaceTempView("graft_orders_v")
    spark.sql(
      """WITH RECURSIVE spine(d) AS (
        |  SELECT DATE '1992-01-01'
        |  UNION ALL
        |  SELECT date_add(d, 1) FROM spine WHERE d < DATE '1992-01-31'
        |),
        |daily AS (
        |  SELECT o_orderdate AS d, count(*) AS n
        |  FROM graft_orders_v GROUP BY o_orderdate
        |)
        |SELECT spine.d, CAST(coalesce(daily.n, 0) AS BIGINT) AS n_orders
        |FROM spine LEFT JOIN daily ON spine.d = daily.d
        |ORDER BY spine.d""".stripMargin)
  }

  private val recursiveDateSpineOracle =
    """WITH RECURSIVE spine(d) AS (
      |  SELECT DATE '1992-01-01'
      |  UNION ALL
      |  SELECT d + 1 FROM spine WHERE d < DATE '1992-01-31'
      |),
      |daily AS (
      |  SELECT o_orderdate AS d, count(*) AS n
      |  FROM orders GROUP BY o_orderdate
      |)
      |SELECT spine.d, CAST(coalesce(daily.n, 0) AS BIGINT) AS n_orders
      |FROM spine LEFT JOIN daily ON spine.d = daily.d
      |ORDER BY spine.d""".stripMargin

  // ---- correlated subqueries (decorrelation surface) ---------------------

  /** TPC-H Q17-shaped correlated scalar subquery via the SQL surface:
    * lineitems below 20% of their own part's average quantity, rolled up
    * per brand. The naive semantics re-run the subquery per outer row — a
    * scale-killer; Catalyst decorrelates it
    * (RewriteCorrelatedScalarSubquery) into ONE per-partkey aggregate
    * joined back to the outer scan, which is the plan a warehouse engine
    * produces. PlanSpec pins the decorrelation so it can't regress to a
    * per-row probe. Determinism: l_quantity is integral, so the double avg
    * is bitwise order-independent in both engines; the output sum routes
    * through DECIMAL per the repo-wide rule (SURVEY.md §7.4).
    */
  def correlatedScalarSubquery(spark: SparkSession, sfDir: String): DataFrame = {
    Tables(spark, sfDir, "lineitem").createOrReplaceTempView("graft_lineitem_v")
    Tables(spark, sfDir, "part").createOrReplaceTempView("graft_part_v")
    spark.sql(
      """SELECT p_brand,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / 7.0
        |    AS avg_yearly,
        |  CAST(count(*) AS BIGINT) AS n_lines
        |FROM graft_lineitem_v l JOIN graft_part_v p ON p_partkey = l_partkey
        |WHERE l_quantity < (SELECT 0.2 * avg(l_quantity)
        |                    FROM graft_lineitem_v l2
        |                    WHERE l2.l_partkey = l.l_partkey)
        |GROUP BY p_brand
        |ORDER BY p_brand""".stripMargin)
  }

  private val correlatedScalarSubqueryOracle =
    """SELECT p_brand,
      |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / 7.0
      |    AS avg_yearly,
      |  CAST(count(*) AS BIGINT) AS n_lines
      |FROM lineitem l JOIN part p ON p_partkey = l_partkey
      |WHERE l_quantity < (SELECT 0.2 * avg(l_quantity)
      |                    FROM lineitem l2
      |                    WHERE l2.l_partkey = l.l_partkey)
      |GROUP BY p_brand
      |ORDER BY p_brand""".stripMargin

  /** TPC-H Q22-shaped anti-join subquery: "rich but inactive" customers —
    * balance above the (uncorrelated scalar-subquery) positive-balance
    * average, and NOT EXISTS any urgent order — per market segment (every
    * harness customer has SOME order, so the unrestricted Q22 predicate
    * would be vacuously empty and test nothing). The scalar
    * avg must execute ONCE (a one-row subquery stage feeding the filter),
    * and NOT EXISTS must plan as a left-anti hash join on o_custkey, never
    * a per-row existence probe; PlanSpec pins both. Threshold determinism:
    * the closest c_acctbal sits 6.7 units from the average, so last-bit
    * double-summation differences between engines cannot flip a row.
    */
  def correlatedNotExists(spark: SparkSession, sfDir: String): DataFrame = {
    Tables(spark, sfDir, "customer").createOrReplaceTempView("graft_customer_v")
    Tables(spark, sfDir, "orders").createOrReplaceTempView("graft_orders_v")
    spark.sql(
      """SELECT c_mktsegment,
        |  CAST(count(*) AS BIGINT) AS numcust,
        |  CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS totacctbal
        |FROM graft_customer_v c
        |WHERE c_acctbal > (SELECT avg(c_acctbal) FROM graft_customer_v
        |                   WHERE c_acctbal > 0.0)
        |  AND NOT EXISTS (SELECT 1 FROM graft_orders_v o
        |                  WHERE o.o_custkey = c.c_custkey
        |                    AND o.o_orderpriority = '1-URGENT')
        |GROUP BY c_mktsegment
        |ORDER BY c_mktsegment""".stripMargin)
  }

  private val correlatedNotExistsOracle =
    """SELECT c_mktsegment,
      |  CAST(count(*) AS BIGINT) AS numcust,
      |  CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS totacctbal
      |FROM customer c
      |WHERE c_acctbal > (SELECT avg(c_acctbal) FROM customer
      |                   WHERE c_acctbal > 0.0)
      |  AND NOT EXISTS (SELECT 1 FROM orders o
      |                  WHERE o.o_custkey = c.c_custkey
      |                    AND o.o_orderpriority = '1-URGENT')
      |GROUP BY c_mktsegment
      |ORDER BY c_mktsegment""".stripMargin

  /** Higher-order array functions as the operator under test —
    * `filter` / `transform` / `aggregate` / `array_min` / `array_max`
    * over the embedding vectors, the per-row array algebra an
    * embedding-heavy pipeline leans on. Determinism: every lambda works
    * in integers — floats promote to double exactly, ×1000 is exactly
    * rounded identically in both engines, and floor() has one answer
    * (round() would sit on half-up vs half-even knife edges); the
    * aggregate() fold then sums exact BIGINTs. Deliberate exception to
    * the HOF-avoidance discipline (TextAnalysis header): HOFs are the
    * surface being pinned, and the oracle re-derives every column with
    * DuckDB's list_* family.
    */
  def hofSuite(spark: SparkSession, sfDir: String): DataFrame = {
    val q = (x: Column) => floor(x.cast(DoubleType) * 1000).cast(LongType)
    Tables(spark, sfDir, "embeddings")
      .select(col("vec_id"),
        size(filter(col("embedding"), x => x > 0f)).cast(LongType)
          .as("n_pos"),
        aggregate(transform(col("embedding"), q), lit(0L), _ + _)
          .as("qsum"),
        array_min(transform(col("embedding"), q)).as("qmin"),
        array_max(transform(col("embedding"), q)).as("qmax"))
      .orderBy("vec_id")
  }

  private val hofSuiteOracle =
    """SELECT vec_id,
      | CAST(len(list_filter(embedding, x -> x > 0)) AS BIGINT) AS n_pos,
      | CAST(list_sum(list_transform(embedding,
      |   x -> CAST(floor(CAST(x AS DOUBLE) * 1000) AS BIGINT))) AS BIGINT)
      |   AS qsum,
      | list_min(list_transform(embedding,
      |   x -> CAST(floor(CAST(x AS DOUBLE) * 1000) AS BIGINT))) AS qmin,
      | list_max(list_transform(embedding,
      |   x -> CAST(floor(CAST(x AS DOUBLE) * 1000) AS BIGINT))) AS qmax
      |FROM embeddings ORDER BY vec_id""".stripMargin

  /** Collated string semantics (Spark 4): the SAME column grouped under
    * binary vs `UTF8_LCASE` collation — case variants collapse under the
    * case-insensitive collation without rewriting data through lower()
    * (collation is type-level, so every comparison, join, and aggregate
    * downstream inherits it; the lower() rewrite must be repeated at
    * every use site and breaks pushdown on the original column). Case
    * noise is injected deterministically (every even key upper-cased) so
    * both engines see identical variants; the oracle emulates the
    * collation with lower() — equality semantics match on this ASCII
    * domain.
    */
  def collationDistinct(spark: SparkSession, sfDir: String): DataFrame =
    Tables(spark, sfDir, "customer")
      .select(col("c_mktsegment"),
        when(col("c_custkey") % 2 === 0, upper(col("c_name")))
          .otherwise(col("c_name")).as("name"))
      .groupBy(col("c_mktsegment"))
      .agg(
        countDistinct(col("name")).as("n_binary"),
        countDistinct(expr("collate(name, 'UTF8_LCASE')")).as("n_ci"))
      .orderBy("c_mktsegment")

  private val collationDistinctOracle =
    """SELECT c_mktsegment,
      | CAST(count(DISTINCT name) AS BIGINT) AS n_binary,
      | CAST(count(DISTINCT lower(name)) AS BIGINT) AS n_ci
      |FROM (SELECT c_mktsegment,
      |        CASE WHEN c_custkey % 2 = 0 THEN upper(c_name)
      |             ELSE c_name END AS name
      |      FROM customer)
      |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin

  /** Uncorrelated IN / NOT IN subqueries — the remaining membership-test
    * SQL surface next to NOT EXISTS (correlated) and the DataFrame
    * semi/anti joins: IN plans as a left-semi hash join against the
    * subquery relation, never a per-row probe. NOT IN is deliberately
    * absent: its NULL semantics (one NULL in the subquery empties the
    * result) make it a null-aware anti join — the harness keys are
    * non-null so the gate couldn't distinguish correct from lucky, and
    * production SQL should write NOT EXISTS anyway.
    */
  def inSubquery(spark: SparkSession, sfDir: String): DataFrame = {
    Tables(spark, sfDir, "customer").createOrReplaceTempView("graft_cust_in_v")
    Tables(spark, sfDir, "orders").createOrReplaceTempView("graft_ord_in_v")
    spark.sql(
      """SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n_urgent_customers
        |FROM graft_cust_in_v
        |WHERE c_custkey IN (SELECT o_custkey FROM graft_ord_in_v
        |                    WHERE o_orderpriority = '1-URGENT')
        |GROUP BY c_mktsegment
        |ORDER BY c_mktsegment""".stripMargin)
  }

  private val inSubqueryOracle =
    """SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n_urgent_customers
      |FROM customer
      |WHERE c_custkey IN (SELECT o_custkey FROM orders
      |                    WHERE o_orderpriority = '1-URGENT')
      |GROUP BY c_mktsegment
      |ORDER BY c_mktsegment""".stripMargin

  /** Boolean aggregate family — `count_if` / `bool_and` / `bool_or` /
    * `every`, the data-quality assertion surface ("does every order in
    * this group satisfy X, does any violate Y") as first-class
    * aggregates rather than sum(CASE...) circumlocutions. All exact.
    */
  def booleanAggregates(spark: SparkSession, sfDir: String): DataFrame =
    Tables(spark, sfDir, "orders")
      .groupBy(col("o_orderpriority"))
      .agg(
        count(lit(1)).as("n"),
        expr("count_if(o_totalprice > 200000)").as("n_big"),
        expr("bool_and(o_totalprice > 0)").as("all_positive"),
        expr("bool_or(o_orderstatus = 'F')").as("any_finished"),
        expr("every(o_custkey >= 0)").as("keys_sane"))
      .orderBy("o_orderpriority")

  private val booleanAggregatesOracle =
    """SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n,
      | CAST(count(CASE WHEN o_totalprice > 200000 THEN 1 END) AS BIGINT)
      |   AS n_big,
      | bool_and(o_totalprice > 0) AS all_positive,
      | bool_or(o_orderstatus = 'F') AS any_finished,
      | bool_and(o_custkey >= 0) AS keys_sane
      |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin

  /** LATERAL correlated table subquery — the third decorrelation axis next
    * to scalar subqueries and NOT EXISTS: each nation's top-3 customers by
    * balance through `, LATERAL (... ORDER BY ... LIMIT 3)`. The naive
    * semantics re-execute the subquery once per outer row; Catalyst's
    * DecorrelateInnerQuery rewrites the correlated LIMIT into a per-key
    * rank filter joined back to the outer side — one pass, no per-row
    * probes. The same SQL text is valid DuckDB, which plans its own lateral
    * decorrelation. Tie-safety: ORDER BY extends to c_custkey so the top-3
    * cut is total in both engines.
    */
  def lateralTopPerKey(spark: SparkSession, sfDir: String): DataFrame = {
    Tables(spark, sfDir, "nation").createOrReplaceTempView("graft_nation_v")
    Tables(spark, sfDir, "customer").createOrReplaceTempView("graft_customer_v")
    spark.sql(
      """SELECT n_name, c_custkey, c_acctbal
        |FROM graft_nation_v n,
        |LATERAL (SELECT c_custkey, c_acctbal
        |         FROM graft_customer_v c
        |         WHERE c.c_nationkey = n.n_nationkey
        |         ORDER BY c_acctbal DESC, c_custkey
        |         LIMIT 3) top
        |ORDER BY n_name, c_acctbal DESC, c_custkey""".stripMargin)
  }

  private val lateralTopPerKeyOracle =
    """SELECT n_name, c_custkey, c_acctbal
      |FROM nation n,
      |LATERAL (SELECT c_custkey, c_acctbal
      |         FROM customer c
      |         WHERE c.c_nationkey = n.n_nationkey
      |         ORDER BY c_acctbal DESC, c_custkey
      |         LIMIT 3) top
      |ORDER BY n_name, c_acctbal DESC, c_custkey""".stripMargin

  /** Equi-width histogram — the profiling primitive behind every column
    * statistics page and range-partitioner choice. Two passes: a scalar
    * min/max aggregate broadcast to the scan, then one hash aggregate on
    * the bucket id. Bucketing runs entirely in INTEGER cents —
    * `(c-min)·20 div (max-min+1)` — because a double-width division puts
    * boundary values on either side of the cut depending on the engine's
    * rounding; integer div has one answer. Bucket bounds re-derive from
    * the same integers, exact in both engines.
    */
  def histogram(spark: SparkSession, sfDir: String): DataFrame = {
    val cents = round(col("o_totalprice") * 100).cast(LongType)
    val prices = Tables(spark, sfDir, "orders").select(cents.as("c"))
    val bounds = prices.agg(min(col("c")).as("lo"), max(col("c")).as("hi"))
    prices.crossJoin(broadcast(bounds))
      .select(((col("c") - col("lo")) * 20)
        .divide(col("hi") - col("lo") + 1).cast(LongType).as("bucket"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n"))
      .orderBy("bucket")
  }

  private val histogramOracle =
    """WITH p AS (SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS c
      |           FROM orders),
      |b AS (SELECT min(c) AS lo, max(c) AS hi FROM p)
      |SELECT ((c - lo) * 20) // (hi - lo + 1) AS bucket,
      |  CAST(count(*) AS BIGINT) AS n
      |FROM p, b
      |GROUP BY 1 ORDER BY bucket""".stripMargin

  /** Equi-DEPTH histogram — [[histogram]]'s sibling and the shape range
    * partitioners and optimizer column stats actually need: 10 buckets
    * holding equal ROW counts, each reporting its value span. One ntile
    * window (a single global sort at profile time — acceptable for a
    * stats job, never for a data path) then a tiny aggregate. Bounds are
    * min/max of exact doubles, counts exact — nothing to round.
    */
  def equiDepthHistogram(spark: SparkSession, sfDir: String): DataFrame = {
    val byPrice = Window.orderBy(col("o_totalprice"), col("o_orderkey"))
    Tables(spark, sfDir, "orders")
      .select(col("o_orderkey"), col("o_totalprice"))
      .withColumn("bucket", ntile(10).over(byPrice).cast(LongType))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n"),
        min(col("o_totalprice")).as("lo"),
        max(col("o_totalprice")).as("hi"))
      .orderBy("bucket")
  }

  private val equiDepthHistogramOracle =
    """SELECT bucket, CAST(count(*) AS BIGINT) AS n,
      | min(o_totalprice) AS lo, max(o_totalprice) AS hi
      |FROM (SELECT o_totalprice,
      |        CAST(ntile(10) OVER (ORDER BY o_totalprice, o_orderkey)
      |          AS BIGINT) AS bucket
      |      FROM orders)
      |GROUP BY bucket ORDER BY bucket""".stripMargin

  /** Event-transition matrix — first-order Markov counts of what users do
    * next (the product-analytics "path analysis" primitive): one lead()
    * window on the sessionization family's user_id shuffle, then a tiny
    * hash aggregate on the (from, to) pair. The transition probability is
    * an exact BIGINT/BIGINT IEEE division against the from-state total.
    */
  def transitionMatrix(spark: SparkSession, sfDir: String): DataFrame = {
    val byTime = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val pairs = Tables(spark, sfDir, "events")
      .select(col("user_id"), col("ts"), col("event_id"),
        col("event_type").as("from_type"))
      .withColumn("to_type", lead(col("from_type"), 1).over(byTime))
      .filter(col("to_type").isNotNull)
      .groupBy(col("from_type"), col("to_type"))
      .agg(count(lit(1)).as("n"))
    val totals = pairs.groupBy(col("from_type"))
      .agg(sum(col("n")).as("n_from"))
    pairs.join(broadcast(totals), "from_type")
      .select(col("from_type"), col("to_type"), col("n"),
        (col("n").cast(DoubleType) / col("n_from").cast(DoubleType))
          .as("p"))
      .orderBy("from_type", "to_type")
  }

  private val transitionMatrixOracle =
    """WITH pairs AS (
      |  SELECT event_type AS from_type,
      |    lead(event_type) OVER (PARTITION BY user_id
      |      ORDER BY ts, event_id) AS to_type
      |  FROM events),
      |counts AS (
      |  SELECT from_type, to_type, CAST(count(*) AS BIGINT) AS n
      |  FROM pairs WHERE to_type IS NOT NULL GROUP BY 1, 2),
      |totals AS (SELECT from_type, CAST(sum(n) AS BIGINT) AS n_from
      |           FROM counts GROUP BY 1)
      |SELECT counts.from_type, to_type, n,
      |  CAST(n AS DOUBLE) / CAST(n_from AS DOUBLE) AS p
      |FROM counts JOIN totals ON counts.from_type = totals.from_type
      |ORDER BY 1, 2""".stripMargin

  /** Retention cohort analysis — users grouped by first-seen week, then
    * counted per weeks-since-cohort: the table behind every retention
    * curve. Two shuffles (first-seen per user, then the cohort×offset
    * count); the week arithmetic stays in exact day integers
    * (datediff // 7), and the retention rate divides two exact BIGINTs.
    * Both engines truncate weeks to Monday, so cohort labels agree.
    */
  def retentionCohorts(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables(spark, sfDir, "events")
      .select(col("user_id"),
        date_trunc("week", col("ts")).cast(DateType).as("week"))
    val cohorts = ev.groupBy(col("user_id"))
      .agg(min(col("week")).as("cohort_week"))
    val sizes = cohorts.groupBy(col("cohort_week"))
      .agg(countDistinct(col("user_id")).as("cohort_size"))
    ev.join(cohorts, "user_id")
      .groupBy(col("cohort_week"),
        (datediff(col("week"), col("cohort_week")) / 7)
          .cast(LongType).as("week_offset"))
      .agg(countDistinct(col("user_id")).as("n_active"))
      .join(broadcast(sizes), "cohort_week")
      .select(col("cohort_week"), col("week_offset"), col("n_active"),
        (col("n_active").cast(DoubleType)
          / col("cohort_size").cast(DoubleType)).as("retention"))
      .orderBy("cohort_week", "week_offset")
  }

  private val retentionCohortsOracle =
    """WITH ev AS (
      |  SELECT user_id, CAST(date_trunc('week', ts) AS DATE) AS week
      |  FROM events),
      |cohorts AS (SELECT user_id, min(week) AS cohort_week
      |            FROM ev GROUP BY user_id),
      |sizes AS (SELECT cohort_week,
      |            CAST(count(DISTINCT user_id) AS BIGINT) AS cohort_size
      |          FROM cohorts GROUP BY 1),
      |act AS (
      |  SELECT c.cohort_week,
      |    CAST((ev.week - c.cohort_week) // 7 AS BIGINT) AS week_offset,
      |    CAST(count(DISTINCT ev.user_id) AS BIGINT) AS n_active
      |  FROM ev JOIN cohorts c ON ev.user_id = c.user_id
      |  GROUP BY 1, 2)
      |SELECT act.cohort_week, week_offset, n_active,
      |  CAST(n_active AS DOUBLE) / CAST(cohort_size AS DOUBLE) AS retention
      |FROM act JOIN sizes ON act.cohort_week = sizes.cohort_week
      |ORDER BY 1, 2""".stripMargin

  /** Group-wise argmax/argmin via `max_by`/`min_by` — "the customer
    * holding each nation's best balance" WITHOUT ranking anything: one
    * hash aggregate whose partial state is a single (ordering, value)
    * pair per group per task, against the window alternative that
    * shuffles and sorts every row. Tie-safety: the ordering key is
    * `struct(c_acctbal, c_custkey)` — lexicographic struct comparison
    * makes the winner total even under balance ties, which is what lets
    * an aggregate replace the deterministic rank filter. The oracle
    * derives the same winners with row_number (DuckDB's arg_max can't
    * take a composite ordering): the gate pins semantics, not mechanism.
    * Tie-break DIRECTION matters on both sides: max_by's composite key
    * resolves a balance tie toward the LARGEST custkey, so the oracle's
    * rank must say `c_acctbal DESC, c_custkey DESC` — the sf1 scale
    * sweep caught the oracle ranking ASC on the tie column, invisible at
    * smaller sfs where no group's max balance was duplicated.
    */
  def argmaxPerGroup(spark: SparkSession, sfDir: String): DataFrame =
    Tables(spark, sfDir, "customer")
      .groupBy(col("c_nationkey"))
      .agg(
        max(col("c_acctbal")).as("max_bal"),
        expr("max_by(c_custkey, struct(c_acctbal, c_custkey))").as("richest"),
        min(col("c_acctbal")).as("min_bal"),
        expr("min_by(c_custkey, struct(c_acctbal, c_custkey))").as("poorest"))
      .orderBy("c_nationkey")

  private val argmaxPerGroupOracle =
    """WITH ranked AS (
      |  SELECT c_nationkey, c_custkey, c_acctbal,
      |    row_number() OVER (PARTITION BY c_nationkey
      |      ORDER BY c_acctbal DESC, c_custkey DESC) AS rd,
      |    row_number() OVER (PARTITION BY c_nationkey
      |      ORDER BY c_acctbal ASC, c_custkey) AS ra
      |  FROM customer)
      |SELECT c_nationkey,
      |  max(c_acctbal) AS max_bal,
      |  max(CASE WHEN rd = 1 THEN c_custkey END) AS richest,
      |  min(c_acctbal) AS min_bal,
      |  max(CASE WHEN ra = 1 THEN c_custkey END) AS poorest
      |FROM ranked GROUP BY c_nationkey ORDER BY c_nationkey""".stripMargin

  /** Bitmap-index distinct counting — the warehouse trick behind
    * incremental COUNT(DISTINCT) materialized views: ids collapse into
    * fixed-size bitmaps (one per 32768-wide bucket via
    * `bitmap_bucket_number`), bitmaps OR together mergeably, and the
    * distinct count is the sum of popcounts. Unlike HLL state
    * (`agg_sketch_merge`) this is EXACT while staying mergeable — new
    * facts OR into existing bitmaps, no rescan, and the state size is
    * bounded by the id domain, not the row count. Two-level aggregation:
    * per (segment, bucket) bitmap build, then per-segment popcount sum.
    * Bucket k covers ids (k-1)·32768+1 … k·32768 — id 0 lands in bucket
    * 0, which the harness data exercises (c_custkey starts at 0); the
    * oracle mirrors that boundary with `(id + 32767) // 32768`.
    */
  def bitmapDistinct(spark: SparkSession, sfDir: String): DataFrame =
    Tables(spark, sfDir, "customer")
      .groupBy(col("c_mktsegment"),
        expr("bitmap_bucket_number(c_custkey)").as("bucket"))
      .agg(expr("bitmap_construct_agg(bitmap_bit_position(c_custkey))")
        .as("bm"))
      .groupBy(col("c_mktsegment"))
      .agg(sum(expr("bitmap_count(bm)")).as("n_distinct"),
        count(lit(1)).as("n_buckets"))
      .orderBy("c_mktsegment")

  private val bitmapDistinctOracle =
    """SELECT c_mktsegment,
      |  CAST(count(DISTINCT c_custkey) AS BIGINT) AS n_distinct,
      |  CAST(count(DISTINCT (c_custkey + 32767) // 32768) AS BIGINT)
      |    AS n_buckets
      |FROM customer
      |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin

  /** Null-safe equi-join (`<=>` / IS NOT DISTINCT FROM): NULL keys match
    * each other — the semantics plain `=` silently drops (its NULL rows
    * join nothing and vanish from inner joins). Every 10th user is given
    * a NULL cohort key; both sides aggregate per cohort and the null-safe
    * join must align the NULL cohorts too. Scale note: EqualNullSafe
    * keys still hash-partition (NULL hashes like any value), so the join
    * stays a hash join — no degradation to a theta join.
    */
  def nullSafeJoin(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables(spark, sfDir, "events")
    def side(t: String, out: String) = ev
      .filter(col("event_type") === t)
      .select(when(col("user_id") % 10 =!= 0, col("user_id") % 50).as(out))
      .groupBy(col(out)).agg(count(lit(1)).as(s"n_$t"))
    side("view", "k")
      .join(side("click", "k2"), col("k") <=> col("k2"))
      .select(col("k"), col("n_view"), col("n_click"))
      .orderBy(col("k"))
  }

  private val nullSafeJoinOracle =
    """WITH v AS (
      |  SELECT CASE WHEN user_id % 10 != 0 THEN user_id % 50 END AS k,
      |    CAST(count(*) AS BIGINT) AS n_view
      |  FROM events WHERE event_type = 'view' GROUP BY 1),
      |c AS (
      |  SELECT CASE WHEN user_id % 10 != 0 THEN user_id % 50 END AS k2,
      |    CAST(count(*) AS BIGINT) AS n_click
      |  FROM events WHERE event_type = 'click' GROUP BY 1)
      |SELECT v.k, n_view, n_click
      |FROM v JOIN c ON v.k IS NOT DISTINCT FROM c.k2
      |ORDER BY v.k NULLS FIRST""".stripMargin

  /** Point-in-time (temporal) join — each purchase matched to the user
    * VERSION in force when it happened, the query every warehouse runs
    * against an SCD-2 dimension ("which plan/address/segment did the
    * customer have at order time"). Versions are derived from signup
    * events (valid_from = signup, valid_to = next signup, half-open), so
    * intervals per user are disjoint and at most one version matches —
    * deterministic without tiebreaks.
    *
    * Scale shape: dimension histories are dim-sized, facts are not — so
    * the history side broadcasts and the interval predicate rides as a
    * residual on the per-user hash match (versions per user are few). A
    * fact-sized interval table would use the [[asofJoin]] union+window
    * trick instead; this query pins the OTHER standard shape.
    */
  def temporalPitJoin(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables(spark, sfDir, "events")
    val hist = ev.filter(col("event_type") === "signup")
      .select(col("user_id").as("h_user"), col("event_id").as("version_id"),
        col("ts").as("valid_from"))
      .withColumn("valid_to",
        lead(col("valid_from"), 1).over(
          Window.partitionBy(col("h_user"))
            .orderBy(col("valid_from"), col("version_id"))))
    val facts = ev.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts").as("purchase_ts"))
    facts.join(broadcast(hist),
        col("user_id") === col("h_user")
          && col("purchase_ts") >= col("valid_from")
          && (col("valid_to").isNull || col("purchase_ts") < col("valid_to")),
        "left_outer")
      .select(col("event_id"), col("user_id"), col("purchase_ts"),
        col("version_id"), col("valid_from"))
      .orderBy("event_id")
  }

  private val temporalPitJoinOracle =
    """WITH hist AS (
      |  SELECT user_id AS h_user, event_id AS version_id, ts AS valid_from,
      |    lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
      |      AS valid_to
      |  FROM events WHERE event_type = 'signup'),
      |facts AS (SELECT event_id, user_id, ts FROM events
      |          WHERE event_type = 'purchase')
      |SELECT f.event_id, f.user_id, f.ts AS purchase_ts,
      |  h.version_id, h.valid_from
      |FROM facts f LEFT JOIN hist h
      |  ON f.user_id = h.h_user AND f.ts >= h.valid_from
      | AND (h.valid_to IS NULL OR f.ts < h.valid_to)
      |ORDER BY event_id""".stripMargin

  // ---- as-of join -------------------------------------------------------

  /** As-of join, an operator Spark has no primitive for: attach to every
    * event the user's most recent click at-or-before it.
    *
    * Implemented the scale-first way — tag reference and probe rows, UNION,
    * one window per key ordered by (time, tag) carrying `last(ref,
    * ignoreNulls)` forward — instead of a per-row range join: one shuffle on
    * the key, linear scan within partitions, no candidate blow-up. (A
    * backward range join explodes to |events|×|clicks-per-user| candidates
    * before picking max ts; the union trick is O(n log n) per key.) The
    * reference stream is deduped to one row per (user, ts) (max event_id)
    * so the as-of pick is deterministic in both engines; DuckDB expresses
    * the same operator natively as ASOF LEFT JOIN.
    */
  def asofJoin(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables(spark, sfDir, "events")
    val refStructType = "struct<ts:timestamp_ntz,id:bigint>"
    val refs = ev.filter(col("event_type") === "click")
      .groupBy(col("user_id"), col("ts"))
      .agg(max(col("event_id")).as("ref_event_id"))
      .select(col("user_id"), col("ts"), lit(0).as("tag"),
        lit(null).cast(LongType).as("event_id"),
        lit(null).cast(StringType).as("event_type"),
        struct(col("ts").as("ts"), col("ref_event_id").as("id")).as("ref"))
    val probes = ev.select(col("user_id"), col("ts"), lit(1).as("tag"),
      col("event_id"), col("event_type"),
      lit(null).cast(refStructType).as("ref"))
    // refs sort before probes at equal ts (tag 0 < 1) ⇒ "at or before"
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("tag"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    refs.unionByName(probes)
      .withColumn("asof", last(col("ref"), ignoreNulls = true).over(w))
      .filter(col("tag") === 1)
      .select(col("event_id"), col("user_id"), col("ts"), col("event_type"),
        col("asof.ts").as("last_click_ts"),
        col("asof.id").as("last_click_event_id"))
      .orderBy("event_id")
  }

  private val asofJoinOracle =
    """WITH refs AS (
      |  SELECT user_id, ts, max(event_id) AS ref_id FROM events
      |  WHERE event_type = 'click' GROUP BY 1, 2)
      |SELECT e.event_id, e.user_id, e.ts, e.event_type,
      |       r.ts AS last_click_ts, r.ref_id AS last_click_event_id
      |FROM events e ASOF LEFT JOIN refs r
      |  ON e.user_id = r.user_id AND e.ts >= r.ts
      |ORDER BY e.event_id""".stripMargin

  /** As-of join, FORWARD direction with a tolerance — the other half of
    * the pandas `merge_asof` surface ([[asofJoin]] is backward/unbounded):
    * each event matched to the NEXT signup at-or-after it, but only
    * within 10 minutes (beyond tolerance ⇒ null, not a stale match).
    * Same tagged-union + one-window shape — `first(ignoreNulls)` over
    * [current, unbounded following) with probes sorting before refs at
    * equal ts so "at-or-after" is inclusive — so the scale story is
    * unchanged: ONE shuffle on the key, no range-join explosion, and the
    * tolerance is a post-window null-out, not a join predicate.
    */
  def asofJoinForward(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables(spark, sfDir, "events")
    val refStructType = "struct<ts:timestamp_ntz,id:bigint>"
    val refs = ev.filter(col("event_type") === "signup")
      .groupBy(col("user_id"), col("ts"))
      .agg(min(col("event_id")).as("ref_event_id"))
      .select(col("user_id"), col("ts"), lit(1).as("tag"),
        lit(null).cast(LongType).as("event_id"),
        struct(col("ts").as("ts"), col("ref_event_id").as("id")).as("ref"))
    val probes = ev.select(col("user_id"), col("ts"), lit(0).as("tag"),
      col("event_id"), lit(null).cast(refStructType).as("ref"))
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("tag"))
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    val withinTol = col("nxt.ts") <= col("ts") + expr("INTERVAL 10 MINUTES")
    refs.unionByName(probes)
      .withColumn("nxt", first(col("ref"), ignoreNulls = true).over(w))
      .filter(col("tag") === 0)
      .select(col("event_id"), col("user_id"), col("ts"),
        when(withinTol, col("nxt.ts")).as("next_signup_ts"),
        when(withinTol, col("nxt.id")).as("next_signup_event_id"))
      .orderBy("event_id")
  }

  private val asofJoinForwardOracle =
    """WITH refs AS (
      |  SELECT user_id, ts, min(event_id) AS ref_id FROM events
      |  WHERE event_type = 'signup' GROUP BY 1, 2)
      |SELECT e.event_id, e.user_id, e.ts,
      |  CASE WHEN r.ts <= e.ts + INTERVAL '10 minutes' THEN r.ts END
      |    AS next_signup_ts,
      |  CASE WHEN r.ts <= e.ts + INTERVAL '10 minutes' THEN r.ref_id END
      |    AS next_signup_event_id
      |FROM events e ASOF LEFT JOIN refs r
      |  ON e.user_id = r.user_id AND e.ts <= r.ts
      |ORDER BY e.event_id""".stripMargin

  /** ANSI-lenient arithmetic — `try_divide` / `try_mod` / `try_multiply` /
    * `try_add`, the row-level escape hatches that make an ANSI-mode
    * migration survivable (the engine runs ANSI like the reference's
    * raise-on-error pandas casts; `ref_try_cast_quarantine` covers casts,
    * this covers arithmetic): division/modulo by zero and BIGINT overflow
    * become per-row NULLs that aggregate away instead of killing the job.
    * Zero divisors and overflow operands are derived deterministically
    * from key columns so every scale factor exercises both the null and
    * non-null paths; the double `try_divide` results route through a
    * DECIMAL cast before summing (per-row IEEE division is deterministic,
    * summation order is not).
    */
  def tryArithmetic(spark: SparkSession, sfDir: String): DataFrame = {
    val d = col("o_custkey") % 7 // 0 for ~1/7 of rows
    Tables(spark, sfDir, "orders")
      .select(col("o_orderpriority"), col("o_orderkey"), col("o_custkey"),
        col("o_totalprice"), d.as("d"), (col("o_custkey") % 3).as("m3"))
      .groupBy(col("o_orderpriority"))
      .agg(
        count(lit(1)).as("n"),
        sum(when(col("d") === 0, 1L).otherwise(0L)).as("n_zero_div"),
        // round to 6dp BEFORE the decimal cast: double->decimal rounding
        // of arbitrary quotients is HALF_UP in Spark but half-even in
        // DuckDB; a 6dp-rounded double converts to DECIMAL(24,6) exactly
        // in both
        sum(round(expr("try_divide(o_totalprice, d)"), 6)
          .cast(DecimalType(24, 6)))
          .cast(DoubleType).as("sum_try_div"),
        sum(expr("try_mod(o_orderkey, d)")).as("sum_try_mod"),
        sum(when(expr(s"try_multiply(${Long.MaxValue >> 1} + o_orderkey, m3)")
          .isNull, 1L).otherwise(0L)).as("n_mul_overflow"),
        sum(when(expr(s"try_add(${Long.MaxValue} - o_orderkey, o_custkey)")
          .isNull, 1L).otherwise(0L)).as("n_add_overflow"))
      .orderBy("o_orderpriority")
  }

  private val tryArithmeticOracle =
    s"""SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n,
       |  CAST(count(*) FILTER (WHERE o_custkey % 7 = 0) AS BIGINT)
       |    AS n_zero_div,
       |  CAST(sum(CAST(round(o_totalprice / nullif(o_custkey % 7, 0), 6)
       |    AS DECIMAL(24,6))) AS DOUBLE) AS sum_try_div,
       |  CAST(sum(o_orderkey % nullif(o_custkey % 7, 0)) AS BIGINT)
       |    AS sum_try_mod,
       |  -- (2^62-1 + k) * m3 overflows BIGINT exactly when m3 = 2 AND
       |  -- k >= 1 (m3=0 gives 0, m3=1 stays below 2^63-1, and at k=0 the
       |  -- doubled value is 2^63-2 — one harness row has o_orderkey = 0)
       |  CAST(count(*) FILTER (WHERE o_custkey % 3 = 2 AND o_orderkey >= 1)
       |    AS BIGINT) AS n_mul_overflow,
       |  CAST(count(*) FILTER (WHERE o_custkey > o_orderkey) AS BIGINT)
       |    AS n_add_overflow
       |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin

  /** HiveQL `LATERAL VIEW explode` — the generator spelling every
    * Hive/legacy-warehouse migration carries (the DataFrame `explode` and
    * pipe-era `posexplode` queries cover the modern spellings; this pins
    * the FROM-clause one). Catalyst plans all three identically
    * (Generate), so the migration is rename-only.
    */
  def lateralViewExplode(spark: SparkSession, sfDir: String): DataFrame = {
    Tables(spark, sfDir, "documents").createOrReplaceTempView("graft_docs_v")
    spark.sql(
      """SELECT tok, CAST(count(*) AS BIGINT) AS n,
        |  CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
        |FROM graft_docs_v
        |LATERAL VIEW explode(split(text, ' ')) t AS tok
        |WHERE length(tok) >= 5
        |GROUP BY tok
        |ORDER BY n DESC, tok
        |LIMIT 20""".stripMargin)
  }

  private val lateralViewExplodeOracle =
    """SELECT tok, CAST(count(*) AS BIGINT) AS n,
      |  CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
      |FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
      |      FROM documents)
      |WHERE length(tok) >= 5
      |GROUP BY tok
      |ORDER BY n DESC, tok
      |LIMIT 20""".stripMargin

  /** `explode` vs `explode_outer` — the null-preserving generator
    * semantics: a document whose long-token array is EMPTY vanishes under
    * plain explode (an inner-join against the generated rows) but
    * survives explode_outer with a NULL token (the left-outer form).
    * Losing empty rows silently is the classic generator bug in
    * per-document metric pipelines — the query counts both ways so the
    * difference (= docs with no long tokens) is data, not a trap.
    */
  def explodeOuterSemantics(spark: SparkSession, sfDir: String): DataFrame = {
    val longToks = filter(split(col("text"), " "), t => length(t) >= 10)
    val docs = Tables(spark, sfDir, "documents")
      .select(col("doc_id"), longToks.as("toks"))
    val inner = docs.select(col("doc_id"), explode(col("toks")).as("tok"))
      .agg(count(lit(1)).as("n_rows"),
        countDistinct(col("doc_id")).as("n_docs"))
      .select(lit("explode").as("variant"), col("n_rows"), col("n_docs"))
    val outer = docs.select(col("doc_id"), explode_outer(col("toks")).as("tok"))
      .agg(count(lit(1)).as("n_rows"),
        countDistinct(col("doc_id")).as("n_docs"))
      .select(lit("explode_outer").as("variant"), col("n_rows"), col("n_docs"))
    inner.unionAll(outer).orderBy("variant")
  }

  private val explodeOuterOracle =
    """WITH toks AS (
      |  SELECT doc_id,
      |    list_filter(string_split(text, ' '), t -> length(t) >= 10) AS ts
      |  FROM documents),
      |inner_rows AS (
      |  SELECT doc_id, unnest(ts) AS tok FROM toks),
      |outer_rows AS (
      |  SELECT t.doc_id, u.tok
      |  FROM toks t LEFT JOIN
      |    (SELECT doc_id, unnest(ts) AS tok FROM toks) u
      |    ON t.doc_id = u.doc_id)
      |SELECT 'explode' AS variant, CAST(count(*) AS BIGINT) AS n_rows,
      |  CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs FROM inner_rows
      |UNION ALL
      |SELECT 'explode_outer', CAST(count(*) AS BIGINT),
      |  CAST(count(DISTINCT doc_id) AS BIGINT) FROM outer_rows
      |ORDER BY variant""".stripMargin

  /** Group-wise winsorization — outlier capping at exact per-group
    * percentiles (the standard pre-training numeric cleanup: clamp, don't
    * drop). Two passes: exact p05/p95 per group (ONE tiny relation —
    * group-cardinality-sized, broadcast back), then a codegen'd
    * clamp + decimal-exact aggregate on the second scan. Caps come from
    * `percentile()` over CENT integers, so the interpolated cut is exact
    * rational arithmetic on both engines (double percentiles of arbitrary
    * doubles would interpolate in floating point — same trap as the
    * rolling median, solved the same way).
    */
  def winsorize(spark: SparkSession, sfDir: String): DataFrame = {
    val cents = col("value").cast(DecimalType(18, 2))
      .multiply(lit(100)).cast(LongType)
    val ev = Tables(spark, sfDir, "events")
      .select(col("event_type").as("g"), col("event_id"), cents.as("v"))
    // caps round to 6dp: the two engines' percentile interpolation can
    // differ in the last ulp for arbitrary quantiles (q=0.5 is exact —
    // the rolling-median case — 0.05/0.95 are not). One array call: both
    // cuts from one count map per group.
    val cut = percentile(col("v"), array(lit(0.05), lit(0.95)))
    val caps = ev.groupBy(col("g"))
      .agg(round(cut.getItem(0), 6).as("lo"),
        round(cut.getItem(1), 6).as("hi"))
    val vd = col("v").cast(DoubleType)
    ev.join(broadcast(caps), "g")
      .groupBy(col("g"))
      .agg(
        count(lit(1)).as("n"),
        sum(when(vd < col("lo") || vd > col("hi"), 1L).otherwise(0L))
          .as("n_capped"),
        sum(greatest(col("lo"), least(col("hi"), vd))
          .cast(DecimalType(24, 6))).cast(DoubleType)
          .as("sum_winsorized"))
      .orderBy("g")
  }

  private val winsorizeOracle =
    """WITH ev AS (
      |  SELECT event_type AS g, event_id,
      |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS v
      |  FROM events),
      |caps AS (
      |  SELECT g, round(quantile_cont(v, 0.05), 6) AS lo,
      |    round(quantile_cont(v, 0.95), 6) AS hi
      |  FROM ev GROUP BY g)
      |SELECT ev.g, CAST(count(*) AS BIGINT) AS n,
      |  CAST(count(*) FILTER (WHERE CAST(ev.v AS DOUBLE) < caps.lo
      |    OR CAST(ev.v AS DOUBLE) > caps.hi) AS BIGINT) AS n_capped,
      |  CAST(sum(CAST(greatest(caps.lo, least(caps.hi, CAST(ev.v AS DOUBLE)))
      |    AS DECIMAL(24,6))) AS DOUBLE) AS sum_winsorized
      |FROM ev JOIN caps ON ev.g = caps.g
      |GROUP BY ev.g ORDER BY ev.g""".stripMargin

  /** Per-group simple linear regression (OLS y = a + b·x) from ONE pass of
    * exact sufficient statistics — trend analytics (value drift over time
    * per event class) in the same moments discipline as
    * `agg_corr_moments`: Σx, Σy, Σxy, Σx² accumulate as DECIMAL (exact,
    * order-independent); slope and intercept are then TWO IEEE divisions
    * of exact operands, rounded to 6dp — deterministic cross-engine,
    * where naive float accumulation would differ per partitioning. x is
    * epoch seconds rebased to the corpus start so the products stay well
    * inside DECIMAL(38) at any scale factor.
    */
  def groupRegression(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables(spark, sfDir, "events")
      .select(col("event_type").as("g"),
        (unix_timestamp(col("ts")) - lit(1704067200L))
          .cast(DecimalType(38, 0)).as("x"),
        col("value").cast(DecimalType(18, 2)).multiply(lit(100))
          .cast(DecimalType(38, 0)).as("y"))
    val m = ev.groupBy(col("g"))
      .agg(count(lit(1)).cast(DecimalType(38, 0)).as("n"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"))
    val num = (col("n") * col("sxy") - col("sx") * col("sy")).cast(DoubleType)
    val den = (col("n") * col("sxx") - col("sx") * col("sx")).cast(DoubleType)
    // den = 0 (single point, or all x equal) has no defined line: emit NULL
    // on BOTH sides — Spark's IEEE x/0 (NaN/Inf) and DuckDB's x/0 (NULL)
    // diverge, so neither raw behavior can cross the oracle gate. The
    // double-cast test is exact: den is an integer-valued DECIMAL, and no
    // nonzero integer casts to 0.0.
    m.select(col("g"), col("n").cast(LongType).as("n"),
        when(den === 0d, lit(null).cast(DoubleType))
          .otherwise(round(num / den, 6)).as("slope_cents_per_sec"),
        when(den === 0d, lit(null).cast(DoubleType))
          .otherwise(round((col("sy").cast(DoubleType)
            - (num / den) * col("sx").cast(DoubleType))
            / col("n").cast(DoubleType), 6)).as("intercept_cents"))
      .orderBy("g")
  }

  private val groupRegressionOracle =
    """WITH ev AS (
      |  SELECT event_type AS g,
      |    CAST(epoch_us(ts) // 1000000 - 1704067200 AS DECIMAL(38,0)) AS x,
      |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS DECIMAL(38,0)) AS y
      |  FROM events),
      |m AS (
      |  SELECT g, CAST(count(*) AS DECIMAL(38,0)) AS n,
      |    sum(x) AS sx, sum(y) AS sy, sum(x*y) AS sxy, sum(x*x) AS sxx
      |  FROM ev GROUP BY g)
      |SELECT g, CAST(n AS BIGINT) AS n,
      |  CASE WHEN CAST(n*sxx - sx*sx AS DOUBLE) = 0 THEN NULL
      |    ELSE round(CAST(n*sxy - sx*sy AS DOUBLE)
      |      / CAST(n*sxx - sx*sx AS DOUBLE), 6) END AS slope_cents_per_sec,
      |  CASE WHEN CAST(n*sxx - sx*sx AS DOUBLE) = 0 THEN NULL
      |    ELSE round((CAST(sy AS DOUBLE)
      |      - (CAST(n*sxy - sx*sy AS DOUBLE) / CAST(n*sxx - sx*sx AS DOUBLE))
      |        * CAST(sx AS DOUBLE)) / CAST(n AS DOUBLE), 6)
      |    END AS intercept_cents
      |FROM m ORDER BY g""".stripMargin

  /** Fit DIAGNOSTICS for the per-group OLS ([[groupRegression]] emits the
    * line; this emits how well it fits): R² and the residual standard
    * deviation, from the SAME one-pass exact sufficient statistics plus
    * Σy². The centered second moments are formed in DECIMAL (exact:
    * nSxy−SxSy, nSxx−Sx², nSyy−Sy²), cast ONCE to double, and then
    * combined in a fixed IEEE expression tree — R² = num²/(denx·deny),
    * SSE·n = deny − num²/denx — mirrored token-for-token in the oracle,
    * so both engines execute identical correctly-rounded operations on
    * identical operands (the same cross-engine discipline as
    * `agg_corr_moments`; naive per-row float residual accumulation would
    * differ per partitioning). Rounded to 6dp at emission.
    *
    * 100 TB shape: one hash aggregation, map-side combined, six decimal
    * accumulators per group — no second pass over the data for residuals,
    * which is the entire point of moment-based fit diagnostics.
    */
  def groupRegressionFit(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables(spark, sfDir, "events")
      .select(col("event_type").as("g"),
        (unix_timestamp(col("ts")) - lit(1704067200L))
          .cast(DecimalType(38, 0)).as("x"),
        col("value").cast(DecimalType(18, 2)).multiply(lit(100))
          .cast(DecimalType(38, 0)).as("y"))
    val m = ev.groupBy(col("g"))
      .agg(count(lit(1)).cast(DecimalType(38, 0)).as("n"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"),
        sum(col("y") * col("y")).as("syy"))
    val num = (col("n") * col("sxy") - col("sx") * col("sy")).cast(DoubleType)
    val denx = (col("n") * col("sxx") - col("sx") * col("sx")).cast(DoubleType)
    val deny = (col("n") * col("syy") - col("sy") * col("sy")).cast(DoubleType)
    val nd = col("n").cast(DoubleType)
    // Degenerate groups emit NULL on BOTH sides (no defined fit): r2 needs
    // both variances nonzero, resid needs x-variance — Spark's IEEE x/0
    // (NaN/Inf) and DuckDB's x/0 (NULL) diverge, so neither raw behavior
    // can cross the oracle gate. The sqrt argument is clamped at 0 on both
    // sides: a mathematically-perfect fit makes deny − num²/denx a tiny
    // NEGATIVE under IEEE rounding, which Spark maps to NaN but DuckDB
    // raises on. The double-cast zero tests are exact (integer decimals).
    m.select(col("g"), col("n").cast(LongType).as("n"),
        when(denx * deny === 0d, lit(null).cast(DoubleType))
          .otherwise(round(num * num / (denx * deny), 6)).as("r2"),
        when(denx === 0d, lit(null).cast(DoubleType))
          .otherwise(round(sqrt(
            greatest(lit(0d), deny - num * num / denx) / nd / nd), 6))
          .as("resid_stddev_cents"))
      .orderBy("g")
  }

  private val groupRegressionFitOracle =
    """WITH ev AS (
      |  SELECT event_type AS g,
      |    CAST(epoch_us(ts) // 1000000 - 1704067200 AS DECIMAL(38,0)) AS x,
      |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS DECIMAL(38,0)) AS y
      |  FROM events),
      |m AS (
      |  SELECT g, CAST(count(*) AS DECIMAL(38,0)) AS n,
      |    sum(x) AS sx, sum(y) AS sy, sum(x*y) AS sxy, sum(x*x) AS sxx,
      |    sum(y*y) AS syy
      |  FROM ev GROUP BY g),
      |d AS (
      |  SELECT g, n,
      |    CAST(n*sxy - sx*sy AS DOUBLE) AS num,
      |    CAST(n*sxx - sx*sx AS DOUBLE) AS denx,
      |    CAST(n*syy - sy*sy AS DOUBLE) AS deny,
      |    CAST(n AS DOUBLE) AS nd
      |  FROM m)
      |SELECT g, CAST(n AS BIGINT) AS n,
      |  CASE WHEN denx * deny = 0 THEN NULL
      |    ELSE round(num * num / (denx * deny), 6) END AS r2,
      |  CASE WHEN denx = 0 THEN NULL
      |    ELSE round(sqrt(
      |      greatest(0.0, deny - num * num / denx) / nd / nd), 6)
      |    END AS resid_stddev_cents
      |FROM d ORDER BY g""".stripMargin

  /** Robust outlier detection — median/MAD, the resistant sibling of
    * `agg_zscore_outliers` (mean/σ are themselves dragged by the outliers
    * they're hunting; median and MAD have 50% breakdown). Test:
    * |x − med| > 3 · 1.4826 · MAD (1.4826 ≈ 1/Φ⁻¹(3/4), the consistency
    * constant for normal data).
    *
    * Exactness: medians of INTEGERS interpolate only at the midpoint —
    * exactly representable — so DOUBLING both the median and the MAD
    * keeps every quantity a BIGINT, and the test cross-multiplies to
    * `20000·dev2 > 44478·mad2` — all-integer, bit-exact cross-engine
    * (arbitrary quantiles aren't exact — see `agg_winsorize` — but
    * q=0.5 is). Shape: two percentile passes with the group-sized result
    * broadcast back each time; three scans total, no sort beyond the
    * percentile internals.
    */
  def robustOutliers(spark: SparkSession, sfDir: String): DataFrame = {
    val cents = col("value").cast(DecimalType(18, 2))
      .multiply(lit(100)).cast(LongType)
    val ev = Tables(spark, sfDir, "events")
      .select(col("event_type").as("g"), col("event_id"), cents.as("v"))
    val med = ev.groupBy(col("g"))
      .agg((percentile(col("v"), lit(0.5)) * 2).cast(LongType).as("m2"))
    val dev = ev.join(broadcast(med), "g")
      .select(col("g"), col("event_id"), col("m2"),
        abs(col("v") * 2 - col("m2")).as("dev2"))
    val mad = dev.groupBy(col("g"))
      .agg((percentile(col("dev2"), lit(0.5)) * 2).cast(LongType).as("mad4"))
    // dev2 = 2·|x−med| and mad4 = 4·MAD, so |x−med| > 3·1.4826·MAD
    // ⇔ dev2/2 > 4.4478·mad4/4 ⇔ dev2 > 2.2239·mad4
    // ⇔ 10000·dev2 > 22239·mad4 — all-integer
    val isOut = col("dev2") * 10000L > col("mad4") * 22239L
    dev.join(broadcast(mad), "g")
      .groupBy(col("g"))
      .agg(
        count(lit(1)).as("n"),
        (max(col("m2")).cast(DoubleType) / 2).as("median_cents"),
        (max(col("mad4")).cast(DoubleType) / 4).as("mad_cents"),
        sum(when(isOut, 1L).otherwise(0L)).as("n_outliers"),
        min(when(isOut, col("event_id"))).as("first_outlier"))
      .orderBy("g")
  }

  private val robustOutliersOracle =
    """WITH ev AS (
      |  SELECT event_type AS g, event_id,
      |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS v
      |  FROM events),
      |med AS (
      |  SELECT g, CAST(quantile_cont(v, 0.5) * 2 AS BIGINT) AS m2
      |  FROM ev GROUP BY g),
      |dev AS (
      |  SELECT ev.g, ev.event_id, med.m2, abs(ev.v * 2 - med.m2) AS dev2
      |  FROM ev JOIN med ON ev.g = med.g),
      |mad AS (
      |  SELECT g, CAST(quantile_cont(dev2, 0.5) * 2 AS BIGINT) AS mad4
      |  FROM dev GROUP BY g)
      |SELECT dev.g, CAST(count(*) AS BIGINT) AS n,
      |  CAST(max(dev.m2) AS DOUBLE) / 2 AS median_cents,
      |  CAST(max(mad.mad4) AS DOUBLE) / 4 AS mad_cents,
      |  CAST(count(*) FILTER (WHERE dev.dev2 * 10000 > mad.mad4 * 22239)
      |    AS BIGINT) AS n_outliers,
      |  CAST(min(CASE WHEN dev.dev2 * 10000 > mad.mad4 * 22239
      |    THEN dev.event_id END) AS BIGINT) AS first_outlier
      |FROM dev JOIN mad ON dev.g = mad.g
      |GROUP BY dev.g ORDER BY dev.g""".stripMargin

  /** Group-mean imputation — the third gap-repair strategy (forward-fill
    * and linear interpolation are ORDER-based; this is the distribution-
    * based one used when rows have no meaningful order). Nulls are
    * planted deterministically (every 11th event id), the replacement is
    * the non-null group mean as an exact DECIMAL ratio rounded once to
    * 2dp (cent grid), and the output aggregates prove the repair: count
    * imputed, exact sums before/after.
    */
  def meanImpute(spark: SparkSession, sfDir: String): DataFrame = {
    val cents = col("value").cast(DecimalType(18, 2))
      .multiply(lit(100)).cast(LongType)
    val ev = Tables(spark, sfDir, "events")
      .select(col("event_type").as("g"),
        when(col("event_id") % 11 === 0, lit(null).cast(LongType))
          .otherwise(cents).as("v"))
    val means = ev.groupBy(col("g"))
      .agg(round(sum(col("v")).cast(DoubleType) / count(col("v")), 2)
        .as("mean_v"))
    ev.join(broadcast(means), "g")
      .select(col("g"), col("v"),
        coalesce(col("v").cast(DoubleType), col("mean_v")).as("filled"))
      .groupBy(col("g"))
      .agg(
        count(lit(1)).as("n"),
        sum(when(col("v").isNull, 1L).otherwise(0L)).as("n_imputed"),
        sum(col("v")).as("sum_observed"),
        sum(col("filled").cast(DecimalType(24, 2))).cast(DoubleType)
          .as("sum_filled"))
      .orderBy("g")
  }

  private val meanImputeOracle =
    """WITH ev AS (
      |  SELECT event_type AS g,
      |    CASE WHEN event_id % 11 = 0 THEN NULL
      |         ELSE CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)
      |    END AS v
      |  FROM events),
      |means AS (
      |  SELECT g, round(CAST(sum(v) AS DOUBLE) / count(v), 2) AS mean_v
      |  FROM ev GROUP BY g)
      |SELECT ev.g, CAST(count(*) AS BIGINT) AS n,
      |  CAST(count(*) FILTER (WHERE ev.v IS NULL) AS BIGINT) AS n_imputed,
      |  CAST(sum(ev.v) AS BIGINT) AS sum_observed,
      |  CAST(sum(CAST(coalesce(CAST(ev.v AS DOUBLE), means.mean_v)
      |    AS DECIMAL(24,2))) AS DOUBLE) AS sum_filled
      |FROM ev JOIN means ON ev.g = means.g
      |GROUP BY ev.g ORDER BY ev.g""".stripMargin

  // ---- pivot ------------------------------------------------------------

  /** Pivot (long→wide) with an explicit value list — the explicit list keeps
    * the output schema static, which is the only scalable form (a
    * values-discovering pivot needs an extra pass to collect the domain).
    */
  def pivotOrderStatus(spark: SparkSession, sfDir: String): DataFrame =
    Tables(spark, sfDir, "orders")
      .groupBy(col("o_orderpriority"))
      .pivot("o_orderstatus", Seq("F", "O", "P"))
      .agg(dsum(col("o_totalprice")))
      .select(col("o_orderpriority"),
        col("F").as("sum_f"), col("O").as("sum_o"), col("P").as("sum_p"))
      .orderBy("o_orderpriority")

  private val pivotOracle =
    """SELECT o_orderpriority,
      | CAST(sum(CASE WHEN o_orderstatus = 'F'
      |           THEN CAST(o_totalprice AS DECIMAL(18,2)) END) AS DOUBLE) AS sum_f,
      | CAST(sum(CASE WHEN o_orderstatus = 'O'
      |           THEN CAST(o_totalprice AS DECIMAL(18,2)) END) AS DOUBLE) AS sum_o,
      | CAST(sum(CASE WHEN o_orderstatus = 'P'
      |           THEN CAST(o_totalprice AS DECIMAL(18,2)) END) AS DOUBLE) AS sum_p
      |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin

  // ---- percentiles ------------------------------------------------------

  /** Exact interpolated percentiles per group. `percentile` sorts within
    * the aggregate — fine at any scale for bounded groups since the shuffle
    * carries (group, value) pairs; an unbounded-cardinality column would use
    * approx_percentile (t-digest) instead, the same trade as
    * `agg_approx_distinct`. Rounded to 6dp: Spark interpolates
    * (1−g)·a + g·b, DuckDB a + g·(b−a) — algebraically equal, last-bit
    * different. One array-valued call answers all three from one count
    * map per group (three scalar calls would build three).
    */
  def percentilesQuantity(spark: SparkSession, sfDir: String): DataFrame = {
    val ps = percentile(col("l_quantity"),
      array(lit(0.25), lit(0.5), lit(0.75)))
    Tables(spark, sfDir, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(
        round(ps.getItem(0), 6).as("p25"),
        round(ps.getItem(1), 6).as("p50"),
        round(ps.getItem(2), 6).as("p75"))
      .orderBy("l_returnflag")
  }

  private val percentilesOracle =
    """SELECT l_returnflag,
      | round(quantile_cont(l_quantity, 0.25), 6) AS p25,
      | round(quantile_cont(l_quantity, 0.5), 6) AS p50,
      | round(quantile_cont(l_quantity, 0.75), 6) AS p75
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  /** t-digest sketch percentiles (`approx_percentile`). The PRODUCTION
    * shape — the digest alone — is the 100 TB path for
    * unbounded-cardinality columns: one pass, bounded memory, no
    * per-group sort, mirroring the `agg_approx_distinct` ⟷
    * `agg_distinct_users` pairing. ORACLE-GATED VIA RANK BAND: the
    * digest guarantees rank error ≤ 1/accuracy, so each approx value
    * must land between the EXACT interpolated percentiles at q ± 0.005
    * (5× the 1/1000 guarantee) — a boolean the oracle pins TRUE,
    * alongside the exact medians DuckDB re-derives itself. NOTE the
    * exact `percentile` legs ride this query ONLY for oracle gating, so
    * the bench timing here measures digest + gate, not the digest path's
    * standalone cost profile. The legs are two array-valued calls: one
    * digest answers the three approx percentiles and one count map the
    * nine exact ones, so the gate costs one extra buffer per group, not
    * nine (12 scalar calls planned 12 buffers; in spark-shell on
    * `local[4]` at sf0.1 the query took 546 ms that way, 238 ms this
    * way, median of 9 warm runs, same result). The values are the scalar
    * calls' exactly: `percentile` interpolates every percentage from the
    * same count map, and the digest does not depend on the percentages
    * asked of it.
    */
  def approxPercentiles(spark: SparkSession, sfDir: String): DataFrame = {
    val qs = Seq("p25" -> 0.25, "p50" -> 0.5, "p75" -> 0.75)
    val approx = approx_percentile(col("l_quantity"),
      array(qs.map(q => lit(q._2)): _*), lit(1000))
    // per q: the band's low and high edges, then q itself
    val exact = percentile(col("l_quantity"), array(qs.flatMap {
      case (_, q) => Seq(lit(q - 0.005), lit(q + 0.005), lit(q)) }: _*))
    val aggs = qs.zipWithIndex.flatMap { case ((name, _), k) => Seq(
      approx.getItem(k).as(s"a_$name"),
      exact.getItem(3 * k).as(s"lo_$name"),
      exact.getItem(3 * k + 1).as(s"hi_$name"),
      round(exact.getItem(3 * k + 2), 6).as(name)) }
    def within(name: String) =
      (col(s"a_$name") >= col(s"lo_$name") - lit(1e-6) &&
        col(s"a_$name") <= col(s"hi_$name") + lit(1e-6))
        .as(s"within_$name")
    Tables(spark, sfDir, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(aggs.head, aggs.tail: _*)
      .select(col("l_returnflag"), col("p25"), col("p50"), col("p75"),
        within("p25"), within("p50"), within("p75"))
      .orderBy("l_returnflag")
  }

  private val approxPercentilesOracle =
    """SELECT l_returnflag,
      | round(quantile_cont(l_quantity, 0.25), 6) AS p25,
      | round(quantile_cont(l_quantity, 0.5), 6) AS p50,
      | round(quantile_cont(l_quantity, 0.75), 6) AS p75,
      | TRUE AS within_p25, TRUE AS within_p50, TRUE AS within_p75
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  // ---- grouping sets / SQL entry path -----------------------------------

  /** Explicit GROUPING SETS through the `spark.sql` entry point (rollup and
    * cube cover the DataFrame spelling; this pins the SQL surface — temp
    * view + ANSI SQL — that a reference user migrating hand-written SQL
    * would hit first).
    */
  def groupingSets(spark: SparkSession, sfDir: String): DataFrame = {
    Tables(spark, sfDir, "orders").createOrReplaceTempView("orders_v")
    spark.sql(
      s"""SELECT coalesce(o_orderstatus, '(all)') AS status,
         |       coalesce(o_orderpriority, '(all)') AS priority,
         |       count(*) AS n,
         |       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
         |         AS sum_price
         |FROM orders_v
         |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
         |ORDER BY status, priority""".stripMargin)
  }

  private val groupingSetsOracle =
    """SELECT coalesce(o_orderstatus, '(all)') AS status,
      |       coalesce(o_orderpriority, '(all)') AS priority,
      |       CAST(count(*) AS BIGINT) AS n,
      |       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
      |         AS sum_price
      |FROM orders
      |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
      |ORDER BY status, priority""".stripMargin

  // ---- range window frame ------------------------------------------------

  /** Value-based (RANGE) window frame over event time: events in the user's
    * trailing 30 minutes. RANGE frames are peer-inclusive — ties in `ts`
    * share a frame — so the result is deterministic without an id tiebreak,
    * unlike ROWS frames. One shuffle on user_id, sort within partition.
    */
  def rangeFrame(spark: SparkSession, sfDir: String): DataFrame =
    Tables(spark, sfDir, "events")
      .selectExpr("event_id", "user_id", "ts",
        """count(*) OVER (PARTITION BY user_id ORDER BY ts
          | RANGE BETWEEN INTERVAL 30 MINUTES PRECEDING AND CURRENT ROW)
          | AS n_trailing_30m""".stripMargin)
      .orderBy("event_id")

  private val rangeFrameOracle =
    """SELECT event_id, user_id, ts,
      | CAST(count(*) OVER (PARTITION BY user_id ORDER BY ts
      |   RANGE BETWEEN INTERVAL '30 minutes' PRECEDING AND CURRENT ROW)
      |   AS BIGINT) AS n_trailing_30m
      |FROM events ORDER BY event_id""".stripMargin

  // ---- custom typed UDAF -------------------------------------------------

  /** Quantity-weighted average price per (returnflag, linestatus) via the
    * typed [[graft.functions.WeightedAvg]] Aggregator — the custom-UDAF
    * axis, kept bit-deterministic through decimal buffers.
    */
  def customUdaf(spark: SparkSession, sfDir: String): DataFrame = {
    val wavg = udaf(graft.functions.WeightedAvg,
      Encoders.tuple(Encoders.scalaDouble, Encoders.scalaDouble))
    Tables(spark, sfDir, "lineitem")
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(wavg(col("l_extendedprice"), col("l_quantity")).as("wavg_price"))
      .orderBy("l_returnflag", "l_linestatus")
  }

  private val customUdafOracle =
    """SELECT l_returnflag, l_linestatus,
      | CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
      |          * CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
      |   / CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
      |   AS wavg_price
      |FROM lineitem GROUP BY l_returnflag, l_linestatus
      |ORDER BY l_returnflag, l_linestatus""".stripMargin

  // ---- skew: salted two-phase aggregation --------------------------------

  /** Salted aggregation — the skew treatment for a hot group key. Phase 1
    * aggregates on (key, salt) so a hot key's rows spread over `Salts`
    * reducers; phase 2 combines the salt partials per key. The result is
    * identical to the direct aggregate (sums/counts are associative; the
    * decimal routing keeps the double exact under the extra combine), so
    * the oracle is the PLAIN group-by — proving the rewrite is
    * result-transparent is the point. At 100 TB you apply this when one
    * key holds ≫ a partition's worth of rows (AQE's skew-join splitting
    * covers joins, not aggregations).
    */
  def saltedAgg(spark: SparkSession, sfDir: String): DataFrame = {
    val Salts = 16
    val partial = Tables(spark, sfDir, "lineitem")
      .withColumn("salt", pmod(col("l_orderkey"), lit(Salts)))
      .groupBy(col("l_returnflag"), col("salt"))
      .agg(
        sum(dec(col("l_extendedprice"))).as("p_price"),
        count(lit(1)).as("p_n"))
    partial
      .groupBy(col("l_returnflag"))
      .agg(
        sum(col("p_price")).cast(DoubleType).as("sum_price"),
        sum(col("p_n")).as("n"))
      .orderBy("l_returnflag")
  }

  private val saltedAggOracle =
    s"""SELECT l_returnflag, ${sqlDsum("l_extendedprice")} AS sum_price,
       | CAST(count(*) AS BIGINT) AS n
       |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  // ---- incremental aggregate maintenance ---------------------------------

  /** Incremental aggregate maintenance — the running-rollup pattern behind
    * every "update the dashboard table per load" job: a persisted per-key
    * STATE table of partial aggregates (prior loads) is merged with the
    * new batch's partials, and derived measures (avg) are recomputed from
    * the merged state. The load-bearing rule: state stores DECOMPOSED
    * aggregates (sum + count — associative, mergeable), never the derived
    * avg (averages of averages are wrong under unequal group sizes).
    * State = orders with o_orderkey % 5 ≠ 0; batch = the % 5 = 0 slice;
    * the oracle recomputes over the FULL table directly, so the
    * incremental path must be bit-identical to a full recompute.
    *
    * Scale shape: each load shuffles one partial row per key from the new
    * batch (map-side combined) against the key-partitioned state table —
    * the fact history is never rescanned. This is the batch twin of the
    * streaming complete-mode aggregate, expressed as pure relational ops.
    */
  def incrementalAggMerge(spark: SparkSession, sfDir: String): DataFrame = {
    def partials(df: DataFrame): DataFrame = df
      .groupBy(col("o_orderpriority"))
      .agg(sum(dec(col("o_totalprice"))).as("sum_part"),
        count(lit(1)).as("n_part"))
    val orders = Tables(spark, sfDir, "orders")
      .select("o_orderkey", "o_orderpriority", "o_totalprice")
    val state = partials(orders.filter(col("o_orderkey") % 5 =!= 0))
    val batch = partials(orders.filter(col("o_orderkey") % 5 === 0))
    state.unionByName(batch)
      .groupBy(col("o_orderpriority"))
      .agg(sum(col("sum_part")).as("sum_merged"),
        sum(col("n_part")).as("n"))
      .select(col("o_orderpriority"), col("n"),
        col("sum_merged").cast(DoubleType).as("sum_price"),
        (col("sum_merged").cast(DoubleType) / col("n").cast(DoubleType))
          .as("avg_price"))
      .orderBy("o_orderpriority")
  }

  private val incrementalAggMergeOracle =
    """SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n,
      | CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
      | CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
      |   / CAST(count(*) AS DOUBLE) AS avg_price
      |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin

  // ---- recursive CTE -------------------------------------------------------

  /** Recursive CTE (Spark 4's `WITH RECURSIVE`) — hierarchy walking as
    * declarative SQL: every customer key walks its implicit binary-tree
    * ancestor chain (parent = k div 2) to the root, and the result
    * profiles the chain-length distribution. The recursion is pure
    * integer arithmetic, so it replays exactly in DuckDB's recursive CTE
    * — a genuine cross-engine gate on the iteration semantics (anchor,
    * step, termination), not just on one unrolled level. Execution is
    * the same loop-over-plans shape as [[graft.operators.Graph]]'s
    * iterative ops: each level is one join-free projection + filter of
    * the previous level's (shrinking) frontier, ~log₂(max key) rounds;
    * at 100 TB the frontier relation is what shuffles, never the corpus
    * per round.
    */
  def recursiveCte(spark: SparkSession, sfDir: String): DataFrame = {
    // the default recursion ROW guard (1M) is sized for runaway recursions,
    // not data-proportional ones: this walk emits ~|customer|·log₂(maxKey)
    // rows by construction and terminates provably (cur halves per level),
    // so a production deployment sizes the guard to the expected frontier —
    // found by the sf1 scale sweep, where a 1.5M-row anchor tripped the
    // default. The raise is scoped to THIS query only: the limit is read
    // at execution time, so a lazy return would need it raised for the
    // whole session (disabling the runaway guard for every later recursive
    // query) — instead the tiny aggregated result (~log₂(maxKey) rows) is
    // eagerly materialized inside the raised window via localCheckpoint,
    // and the previous guard value is restored on exit. (The level
    // guard, 100, stays — it catches a genuinely broken recursion here.)
    Session.withConfs(spark,
        "spark.sql.cteRecursionRowLimit" -> "2000000000") {
      Tables(spark, sfDir, "customer")
        .select("c_custkey").createOrReplaceTempView("graft_rec_cust")
      spark.sql(
        """WITH RECURSIVE walk(start_key, cur, depth) AS (
          |  SELECT c_custkey, c_custkey, 0 FROM graft_rec_cust
          |  UNION ALL
          |  SELECT start_key, cur DIV 2, depth + 1 FROM walk WHERE cur > 1)
          |SELECT depth, CAST(count(*) AS BIGINT) AS n,
          |  CAST(sum(start_key) AS BIGINT) AS sum_start
          |FROM walk GROUP BY depth ORDER BY depth""".stripMargin)
        .localCheckpoint(eager = true)
    }
  }

  private val recursiveCteOracle =
    """WITH RECURSIVE walk(start_key, cur, depth) AS (
      |  SELECT c_custkey, c_custkey, 0 FROM customer
      |  UNION ALL
      |  SELECT start_key, cur // 2, depth + 1 FROM walk WHERE cur > 1)
      |SELECT depth, CAST(count(*) AS BIGINT) AS n,
      |  CAST(sum(start_key) AS BIGINT) AS sum_start
      |FROM walk GROUP BY depth ORDER BY depth""".stripMargin

  // ---- incremental JOIN view maintenance ----------------------------------

  /** Incremental maintenance of a JOIN view — the other half of the IVM
    * story [[incrementalAggMerge]] covers for plain aggregates: the view
    * V = γ(A ⋈ B) is kept current under deltas on BOTH base tables using
    * the classic delta-join decomposition
    * `ΔV = γ(ΔA ⋈ B_old) ⊎ γ(A_old ⋈ ΔB) ⊎ γ(ΔA ⋈ ΔB)` — history never
    * re-joins history. Here A = orders (Δ = the o_orderkey % 5 = 0
    * slice), B = lineitem (Δ = the l_orderkey % 7 = 0 slice), and the
    * view is revenue partials per priority; the merged state must equal
    * a from-scratch recompute BITWISE (decimal partials — the same
    * mergeable-state rule as the aggregate IVM). The oracle IS that
    * recompute over the full tables.
    *
    * Scale shape: the three delta joins broadcast the delta side (a load
    * batch is ≪ the accumulated history by definition — a delta too big
    * to broadcast shuffles on the join key like any fact join, still
    * never re-joining history×history), each is map-side combined to
    * per-priority partials before the final tiny state merge.
    */
  def ivmJoinView(spark: SparkSession, sfDir: String): DataFrame = {
    val orders = Tables(spark, sfDir, "orders")
      .select("o_orderkey", "o_orderpriority")
    val li = Tables(spark, sfDir, "lineitem")
      .select("l_orderkey", "l_extendedprice")
    val aOld = orders.filter(col("o_orderkey") % 5 =!= 0)
    val dA = orders.filter(col("o_orderkey") % 5 === 0)
    val bOld = li.filter(col("l_orderkey") % 7 =!= 0)
    val dB = li.filter(col("l_orderkey") % 7 === 0)
    def partials(o: DataFrame, l: DataFrame): DataFrame =
      o.join(l, col("o_orderkey") === col("l_orderkey"))
        .groupBy(col("o_orderpriority"))
        .agg(sum(dec(col("l_extendedprice"))).as("sum_part"),
          count(lit(1)).as("n_part"))
    val state = partials(aOld, bOld) // the stored view (prior load's γ)
    val delta = partials(broadcast(dA), bOld)
      .unionByName(partials(aOld, broadcast(dB)))
      .unionByName(partials(broadcast(dA), broadcast(dB)))
    state.unionByName(delta)
      .groupBy(col("o_orderpriority"))
      .agg(sum(col("sum_part")).as("sum_merged"), sum(col("n_part")).as("n"))
      .select(col("o_orderpriority"), col("n"),
        col("sum_merged").cast(DoubleType).as("revenue"))
      .orderBy("o_orderpriority")
  }

  private val ivmJoinViewOracle =
    """SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n,
      | CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
      |   AS revenue
      |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
      |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin

  // ---- bucketing: co-located join ---------------------------------------

  /** Bucketed co-located join: both sides are written bucketed (and
    * sorted) by the join key, so the join consumes bucket files directly —
    * NO exchange before the join (asserted in PlanSpec). This is the
    * at-rest answer to repeated fact×fact joins at 100 TB: pay the
    * partitioning once at write time, never again at read time — so the
    * staging is idempotent per sfDir (like the CSV-lake fixtures): the
    * first run writes the bucketed EXTERNAL tables, later runs re-register
    * the existing bucket files in the session's in-memory catalog (the
    * production equivalent of a persistent metastore remembering the
    * bucket spec). The oracle is the plain join over the original tables —
    * bucketing must be result-transparent.
    */
  def bucketedJoin(spark: SparkSession, sfDir: String): DataFrame = {
    // SINGLE definition of the bucket layout: the write path and the
    // re-register DDL both derive from `specs`, so a projection or bucket
    // count change can never register a spec that mismatches staged files —
    // and the spec is folded into the staged-marker name, so changing it
    // invalidates the old warehouse instead of silently reusing it
    val nBuckets = 8
    case class BucketSpec(table: String, source: String,
        cols: Seq[(String, String)]) { // (name, sqlType); head = bucket key
      def key: String = cols.head._1
      def ddl(loc: String): String =
        s"""CREATE TABLE graft_tmp.$table
           | (${cols.map { case (n, t) => s"$n $t" }.mkString(", ")})
           | USING PARQUET
           | CLUSTERED BY ($key) SORTED BY ($key) INTO $nBuckets BUCKETS
           | LOCATION '$loc/$table'""".stripMargin.replace("\n", " ")
    }
    val specs = Seq(
      BucketSpec("orders_b", "orders",
        Seq("o_orderkey" -> "BIGINT", "o_orderpriority" -> "STRING")),
      BucketSpec("lineitem_b", "lineitem",
        Seq("l_orderkey" -> "BIGINT", "l_extendedprice" -> "DOUBLE")))
    Staging.tmpDatabase(spark, sfDir)
    // table defs may be absent (fresh session) or point at another sfDir's
    // files (same session, different scale) — re-register from scratch;
    // EXTERNAL tables make the drop metadata-only
    specs.foreach(s => spark.sql(s"DROP TABLE IF EXISTS graft_tmp.${s.table}"))
    // stage-once through Staging.stagedDir, which adds what a hand-rolled
    // marker lacks: the SOURCE-DATA fingerprint (regenerated fixtures
    // restage even when the DDL didn't change) and cross-process locking.
    // The spec string folds the DDL in, so a projection/bucket-count change
    // also restages. The table files live INSIDE the returned generation
    // dir — data outside it would sit in Staging's root where the
    // stale-generation reaper owns the namespace (a lesson learned: an
    // earlier layout wrote to the root and the reaper collected the live
    // tables right after staging).
    val specFp = "gen-local;" + specs.map(s => s.ddl("")).mkString(";")
    val gen = Staging.stagedDir("graft_warehouse", sfDir, specFp) { d =>
      specs.foreach { s =>
        Tables(spark, sfDir, s.source)
          .select(s.cols.map(c => col(c._1)): _*)
          .write.mode("overwrite")
          .bucketBy(nBuckets, s.key).sortBy(s.key)
          .option("path", s"${d.getAbsolutePath}/${s.table}")
          .saveAsTable(s"graft_tmp.${s.table}")
      }
    }
    // if the write callback ran above, saveAsTable registered the tables;
    // on marker reuse they're absent (dropped at the top) — declare the
    // matching bucket spec over the existing files, exactly what a
    // metastore-backed warehouse does at read time
    specs.filterNot(s => spark.catalog.tableExists(s"graft_tmp.${s.table}"))
      .foreach(s => spark.sql(s.ddl(gen.getAbsolutePath)))
    spark.table("graft_tmp.lineitem_b")
      .join(spark.table("graft_tmp.orders_b"),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderpriority"))
      .agg(dsum(col("l_extendedprice")).as("sum_price"),
        count(lit(1)).as("n"))
      .orderBy("o_orderpriority")
  }

  private val bucketedJoinOracle =
    s"""SELECT o_orderpriority, ${sqlDsum("l_extendedprice")} AS sum_price,
       | CAST(count(*) AS BIGINT) AS n
       |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
       |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin

  // ---- schema-on-read JSON / unpivot / array aggregation -----------------

  /** Schema-on-read JSON: `from_json` parses props into a typed struct once
    * per row (vs `get_json_object`'s per-path re-parse in
    * `scalar_json_extract`) — the right shape when several fields are
    * extracted from the same document. Malformed JSON yields a null struct
    * (PERMISSIVE), the lenient twin of the ANSI strict-cast discipline.
    */
  def fromJsonStruct(spark: SparkSession, sfDir: String): DataFrame = {
    val schema = StructType(Seq(StructField("k", IntegerType)))
    Tables(spark, sfDir, "events")
      .withColumn("p", from_json(col("props"), schema))
      .select(col("event_id"), col("event_type"), col("p.k").as("k"),
        (col("p.k") % 10).as("k_mod"))
      .orderBy("event_id")
  }

  private val fromJsonOracle =
    """SELECT event_id, event_type,
      | CAST(json_extract_string(props, '$.k') AS INTEGER) AS k,
      | CAST(json_extract_string(props, '$.k') AS INTEGER) % 10 AS k_mod
      |FROM events ORDER BY event_id""".stripMargin

  /** Unpivot (wide→long, the inverse of `agg_pivot`) through the official
    * `unpivot`/melt API. Variable/value column naming is explicit so the
    * output contract is static.
    */
  def unpivotStatus(spark: SparkSession, sfDir: String): DataFrame =
    pivotOrderStatus(spark, sfDir)
      .unpivot(
        Array(col("o_orderpriority")),
        Array(col("sum_f"), col("sum_o"), col("sum_p")),
        "status_col", "sum_price")
      .filter(col("sum_price").isNotNull)
      .orderBy("o_orderpriority", "status_col")

  private val unpivotOracle =
    """WITH p AS (
      |  SELECT o_orderpriority,
      |   CAST(sum(CASE WHEN o_orderstatus = 'F'
      |             THEN CAST(o_totalprice AS DECIMAL(18,2)) END) AS DOUBLE) AS sum_f,
      |   CAST(sum(CASE WHEN o_orderstatus = 'O'
      |             THEN CAST(o_totalprice AS DECIMAL(18,2)) END) AS DOUBLE) AS sum_o,
      |   CAST(sum(CASE WHEN o_orderstatus = 'P'
      |             THEN CAST(o_totalprice AS DECIMAL(18,2)) END) AS DOUBLE) AS sum_p
      |  FROM orders GROUP BY o_orderpriority)
      |SELECT o_orderpriority, status_col, sum_price FROM (
      |  SELECT o_orderpriority, 'sum_f' AS status_col, sum_f AS sum_price FROM p
      |  UNION ALL
      |  SELECT o_orderpriority, 'sum_o', sum_o FROM p
      |  UNION ALL
      |  SELECT o_orderpriority, 'sum_p', sum_p FROM p)
      |WHERE sum_price IS NOT NULL
      |ORDER BY o_orderpriority, status_col""".stripMargin

  /** Collection aggregate through the oracle gate: per market segment, the
    * sorted set of nations its customers span. `collect_set` alone is
    * partition-order-dependent; `sort_array` restores determinism — the
    * only safe way to emit collection aggregates at scale. The set is
    * emitted `|`-joined as a STRING (not ARRAY): scalar columns survive
    * every downstream comparator/sink, where array cells routinely don't
    * (a hash comparator of result rows could not hash an ARRAY column).
    */
  def collectSorted(spark: SparkSession, sfDir: String): DataFrame = {
    val cust = Tables(spark, sfDir, "customer")
    val nation = Tables(spark, sfDir, "nation")
      .select(col("n_nationkey"), col("n_name"))
    cust.join(broadcast(nation), cust("c_nationkey") === nation("n_nationkey"))
      .groupBy(col("c_mktsegment"))
      .agg(
        array_join(sort_array(collect_set(col("n_name"))), "|").as("nations"),
        count(lit(1)).as("n_cust"))
      .orderBy("c_mktsegment")
  }

  private val collectSortedOracle =
    """SELECT c_mktsegment,
      | array_to_string(list_sort(list(DISTINCT n_name)), '|') AS nations,
      | CAST(count(*) AS BIGINT) AS n_cust
      |FROM customer JOIN nation ON c_nationkey = n_nationkey
      |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin

  /** Pearson correlation matrix over lineitem's numeric columns via ONE
    * scan collecting exact sufficient statistics — the distributed-ML
    * pattern (normal equations, feature covariance) reformulated
    * declaratively: no groupBy key, so the "shuffle" is a single combined
    * partial row per partition reduced to one global row.
    *
    * Determinism: the inputs sit on exact centi-grids, so each column is
    * quantized ×100 to BIGINT and every moment (Σx, Σxy, Σx²) is summed in
    * DECIMAL(38,0) — associative integer arithmetic, bit-stable under any
    * partitioning and identical in DuckDB (whose BIGINT sums are exact
    * HUGEINT). The correlations are then assembled in DOUBLE with a fixed
    * operation order, where the ×100 scale factors cancel. Raw double
    * summation would be order-dependent — the same trap the k-means
    * centroid update avoids the same way.
    */
  def corrMoments(spark: SparkSession, sfDir: String): DataFrame = {
    val cols = Seq("q" -> "l_quantity", "p" -> "l_extendedprice",
      "d" -> "l_discount")
    val quantized = Tables(spark, sfDir, "lineitem").select(
      cols.map { case (a, c) =>
        round(col(c) * 100).cast(LongType).as(a)
      }: _*)
    val moments = quantized.agg(
      count(lit(1)).as("n"),
      cols.map { case (a, _) =>
        sum(col(a).cast(DecimalType(38, 0))).as(s"s_$a") } ++
        (for ((a, _) <- cols; (b, _) <- cols if a <= b)
          yield sum((col(a) * col(b)).cast(DecimalType(38, 0)))
            .as(s"s_$a$b")): _*)
    def corr(a: String, b: String): Column = {
      // centered moments formed in DECIMAL (exact integers — same
      // discipline as groupRegression/Fit), then ONE cast to double.
      // Double-combining the cast sums instead (an earlier shape)
      // makes the cancellation n·Σxx − Σx² pure rounding noise once
      // moments pass 2^53 — at sf1 a constant high-cent column gave
      // v = 0.0 on Spark but +2.75e11 on DuckDB, so even the degeneracy
      // BRANCH diverged. Exact centering kills the class: both engines
      // agree on the integer (DuckDB sums in HUGEINT), the variance cast
      // is 0.0 iff the integer is 0, and the sqrt argument can never
      // round negative. Envelope: n·Σxx (≤ n²·max_cents²) must stay
      // BELOW 10³⁸ to fit DECIMAL(38)/HUGEINT — e.g. cents < 1e7 at
      // 1e12 rows, or cents ≤ 1e7 at 1e10 rows.
      val nDec = col("n").cast(DecimalType(38, 0))
      def variance(x: String) =
        (nDec * col(s"s_$x$x") - col(s"s_$x") * col(s"s_$x"))
          .cast(DoubleType)
      val cov = (nDec * col(s"s_$a$b") - col(s"s_$a") * col(s"s_$b"))
        .cast(DoubleType)
      // a constant column has zero variance: corr is undefined, and the
      // raw expressions diverge cross-engine (Spark x/0 → NaN, DuckDB →
      // NULL) — emit NULL from both sides.
      when(variance(a) <= 0d || variance(b) <= 0d,
          lit(null).cast(DoubleType))
        .otherwise(cov / (sqrt(variance(a)) * sqrt(variance(b))))
    }
    // final corr rounded to 12 dp: the moments are exact, but once a
    // moment exceeds 64 bits DuckDB's HUGEINT→DOUBLE cast is 1 ulp off
    // correctly-rounded (its upper·2⁶⁴+lower two-step conversion; Spark's
    // Decimal→Double is exact-rounded) — measured at sf0.1 where
    // Σp² ≈ 2.2e19 flipped the last 2 ulps of corr. 12 dp on a [-1,1]
    // statistic swamps that cast noise at ANY scale without giving up
    // meaningful precision.
    moments.select(col("n"),
      round(corr("p", "q"), 12).as("corr_price_qty"),
      round(corr("d", "q"), 12).as("corr_disc_qty"),
      round(corr("d", "p"), 12).as("corr_disc_price"))
  }

  private val corrMomentsOracle =
    """WITH q AS (
      |  SELECT CAST(round(l_quantity * 100) AS BIGINT) AS q,
      |         CAST(round(l_extendedprice * 100) AS BIGINT) AS p,
      |         CAST(round(l_discount * 100) AS BIGINT) AS d
      |  FROM lineitem),
      |m AS (
      |  SELECT CAST(count(*) AS BIGINT) AS n,
      |    sum(q) AS s_q, sum(p) AS s_p, sum(d) AS s_d,
      |    sum(q*q) AS s_qq, sum(p*p) AS s_pp, sum(d*d) AS s_dd,
      |    sum(p*q) AS s_pq, sum(d*p) AS s_dp, sum(d*q) AS s_dq
      |  FROM q),
      |v AS (
      |  SELECT n,
      |    CAST(n*s_qq - s_q*s_q AS DOUBLE) AS v_q,
      |    CAST(n*s_pp - s_p*s_p AS DOUBLE) AS v_p,
      |    CAST(n*s_dd - s_d*s_d AS DOUBLE) AS v_d,
      |    CAST(n*s_pq - s_p*s_q AS DOUBLE) AS c_pq,
      |    CAST(n*s_dq - s_d*s_q AS DOUBLE) AS c_dq,
      |    CAST(n*s_dp - s_d*s_p AS DOUBLE) AS c_dp
      |  FROM m)
      |SELECT n,
      |  CASE WHEN v_p <= 0 OR v_q <= 0 THEN NULL
      |    ELSE round(c_pq / (sqrt(v_p) * sqrt(v_q)), 12)
      |    END AS corr_price_qty,
      |  CASE WHEN v_d <= 0 OR v_q <= 0 THEN NULL
      |    ELSE round(c_dq / (sqrt(v_d) * sqrt(v_q)), 12)
      |    END AS corr_disc_qty,
      |  CASE WHEN v_d <= 0 OR v_p <= 0 THEN NULL
      |    ELSE round(c_dp / (sqrt(v_d) * sqrt(v_p)), 12)
      |    END AS corr_disc_price
      |FROM v""".stripMargin

  /** Top-3 customers per nation through the bounded-heap aggregate
    * [[graft.functions.BoundedTopK]] — per-group top-k WITHOUT a window:
    * a rank window must shuffle and sort every customer of every nation;
    * the bounded aggregate's partial buffers cap the shuffle at k rows per
    * (nation × map task) and nothing is ever globally sorted but the
    * 75-row result. At 100 TB per-group top-k is THE pattern behind
    * "best documents per domain", "nearest centroids per vector", and
    * every leaderboard — this is its scale-correct form.
    */
  def topkPerGroup(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.functions.BoundedTopK
    Tables(spark, sfDir, "customer")
      .select(col("c_nationkey"), col("c_acctbal"), col("c_custkey"))
      .groupBy(col("c_nationkey"))
      .agg(BoundedTopK(col("c_acctbal"), col("c_custkey"), 3).as("top"))
      .select(col("c_nationkey"), posexplode(col("top")))
      .select(col("c_nationkey"),
        (col("pos") + 1).cast(LongType).as("rank"),
        col("col.score").as("c_acctbal"),
        col("col.id").as("c_custkey"))
      .orderBy("c_nationkey", "rank")
  }

  private val topkPerGroupOracle =
    """SELECT c_nationkey, CAST(rn AS BIGINT) AS rank, c_acctbal, c_custkey
      |FROM (SELECT c_nationkey, c_acctbal, c_custkey,
      |        row_number() OVER (
      |          PARTITION BY c_nationkey
      |          ORDER BY c_acctbal DESC, c_custkey) AS rn
      |      FROM customer)
      |WHERE rn <= 3
      |ORDER BY c_nationkey, rank""".stripMargin

  // ---- SQL function / clause surface ----------------------------------

  /** SQL scalar UDF (Spark 4 `CREATE TEMPORARY FUNCTION ... RETURN expr`):
    * the warehouse-migration surface for shared business expressions —
    * unlike a Scala UDF the body is SQL, so Catalyst INLINES it and the
    * call sites stay inside whole-stage codegen with pushdown intact (a
    * black-box UDF would fence both). The function routes the discounted-
    * price arithmetic through exact decimals; the oracle inlines the same
    * expression, which is precisely the point: the UDF is a name, not an
    * optimization barrier.
    */
  def sqlScalarUdf(spark: SparkSession, sfDir: String): DataFrame = {
    Tables(spark, sfDir, "lineitem").createOrReplaceTempView("graft_lineitem_v")
    spark.sql(
      """CREATE OR REPLACE TEMPORARY FUNCTION graft_disc_price(
        |  p DECIMAL(18,2), d DECIMAL(18,2)) RETURNS DECIMAL(22,4)
        |RETURN p * (CAST(1 AS DECIMAL(18,2)) - d)""".stripMargin)
    spark.sql(
      """SELECT l_returnflag,
        |  CAST(sum(graft_disc_price(CAST(l_extendedprice AS DECIMAL(18,2)),
        |                            CAST(l_discount AS DECIMAL(18,2))))
        |    AS DOUBLE) AS revenue,
        |  CAST(count(*) AS BIGINT) AS n_lines
        |FROM graft_lineitem_v
        |GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin)
  }

  private val sqlScalarUdfOracle =
    """SELECT l_returnflag,
      |  CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) *
      |                (1 - CAST(l_discount AS DECIMAL(18,2)))
      |           AS DECIMAL(22,4))) AS DOUBLE) AS revenue,
      |  CAST(count(*) AS BIGINT) AS n_lines
      |FROM lineitem
      |GROUP BY l_returnflag
      |ORDER BY l_returnflag""".stripMargin

  /** SQL TABLE function (`CREATE ... RETURNS TABLE`, Spark 4): the
    * set-returning sibling of [[sqlScalarUdf]] — a parameterized view
    * callable per-row via LATERAL. The body is SQL, so Catalyst INLINES
    * it and DECORRELATES the lateral call into ONE equi-join against the
    * (filtered, pushed-down) lineitem scan — a black-box table UDF would
    * instead re-execute per outer row. PlanSpec pins the join rewrite
    * (no nested-loop, no per-row subquery); the oracle is the join the
    * function body denotes.
    */
  def sqlTableFunction(spark: SparkSession, sfDir: String): DataFrame = {
    Tables(spark, sfDir, "lineitem")
      .createOrReplaceTempView("graft_lineitem_v")
    Tables(spark, sfDir, "orders").createOrReplaceTempView("graft_orders_v")
    spark.sql(
      """CREATE OR REPLACE TEMPORARY FUNCTION graft_order_lines(k BIGINT)
        |RETURNS TABLE (l_linenumber INT, l_quantity DOUBLE)
        |RETURN SELECT l_linenumber, l_quantity
        |       FROM graft_lineitem_v WHERE l_orderkey = k""".stripMargin)
    spark.sql(
      """SELECT o.o_orderkey, t.l_linenumber, t.l_quantity
        |FROM graft_orders_v o,
        |     LATERAL graft_order_lines(o.o_orderkey) t
        |WHERE o.o_orderkey % 100 = 1
        |ORDER BY o_orderkey, l_linenumber, l_quantity""".stripMargin)
  }

  private val sqlTableFunctionOracle =
    """SELECT o_orderkey, l_linenumber, l_quantity
      |FROM orders JOIN lineitem ON l_orderkey = o_orderkey
      |WHERE o_orderkey % 100 = 1
      |ORDER BY o_orderkey, l_linenumber, l_quantity""".stripMargin

  /** Shared-subplan reuse: the per-status aggregate feeds BOTH the output
    * rows and the grand-total denominator, and the engine must compute the
    * underlying exchange ONCE — Spark's reuse rule (AQE stage reuse here)
    * dedups the identical aggregate subtree, so the revenue-share report
    * reads the shuffle twice instead of scanning orders twice. At 100 TB
    * "aggregate once, consume twice" is the difference between one fact
    * scan and two; PlanSpec pins the ReusedExchange marker after
    * execution. Share division happens on two exact-decimal-derived
    * doubles — IEEE division of identical operands, bit-equal in DuckDB.
    */
  def exchangeReuse(spark: SparkSession, sfDir: String): DataFrame = {
    val agg = Tables(spark, sfDir, "orders")
      .groupBy(col("o_orderstatus"))
      .agg(dsum(col("o_totalprice")).as("total"), count(lit(1)).as("n"))
    // the denominator consumes BOTH aggregate columns: prune either and
    // the two branches' partial-aggregate subtrees stop being identical,
    // which silently disables the exchange reuse this query exists for
    val grand = agg.agg(
      sum(col("total").cast(DecimalType(18, 2))).cast(DoubleType)
        .as("grand"),
      sum(col("n")).as("n_grand"))
    agg.crossJoin(broadcast(grand))
      .select(col("o_orderstatus"), col("n"), col("total"),
        (col("total") / col("grand")).as("share"),
        (col("n").cast(DoubleType) / col("n_grand")).as("n_share"))
      .orderBy("o_orderstatus")
  }

  private val exchangeReuseOracle =
    s"""WITH a AS (
       |  SELECT o_orderstatus, ${sqlDsum("o_totalprice")} AS total,
       |    CAST(count(*) AS BIGINT) AS n
       |  FROM orders GROUP BY o_orderstatus),
       |g AS (SELECT CAST(sum(CAST(total AS DECIMAL(18,2))) AS DOUBLE)
       |        AS grand,
       |      CAST(sum(n) AS BIGINT) AS n_grand FROM a)
       |SELECT o_orderstatus, n, total, total / grand AS share,
       |  CAST(n AS DOUBLE) / n_grand AS n_share
       |FROM a, g ORDER BY o_orderstatus""".stripMargin

  /** Built-in `approx_top_k` (Spark 4) — the engine-native frequent-items
    * sketch next to the custom Misra-Gries TypedImperativeAggregate
    * (`text_heavy_hitters`): one pass, mergeable partials, map-side
    * bounded. With maxItemsTracked (100) above the true cardinality (5
    * event types) the sketch holds every counter exactly, so the estimate
    * IS the exact count and the oracle gates it like any exact aggregate
    * — the documented regime a production top-k report should run in
    * (track ≥ the report's k × safety factor, estimates go exact-on-head).
    */
  def approxTopK(spark: SparkSession, sfDir: String): DataFrame = {
    Tables(spark, sfDir, "events").createOrReplaceTempView("graft_events_v")
    spark.sql(
      """SELECT t.item AS event_type, t.count AS n
        |FROM (SELECT explode(approx_top_k(event_type, 3, 100)) AS t
        |      FROM graft_events_v)
        |ORDER BY n DESC, event_type""".stripMargin)
  }

  private val approxTopKOracle =
    """SELECT event_type, CAST(count(*) AS BIGINT) AS n
      |FROM events GROUP BY event_type
      |ORDER BY n DESC, event_type LIMIT 3""".stripMargin

  /** Aggregate `FILTER (WHERE ...)` clause: per-group conditional
    * aggregates without CASE scaffolding — one scan, one hash aggregate,
    * each aggregate seeing its own row subset (the standard-SQL form of
    * the `sum(when(...))` idiom used elsewhere; this pins the SQL
    * surface). A group with no qualifying rows yields NULL from the
    * filtered sum in both engines.
    */
  def aggFilterClause(spark: SparkSession, sfDir: String): DataFrame = {
    Tables(spark, sfDir, "orders").createOrReplaceTempView("graft_orders_v")
    spark.sql(
      """SELECT o_orderpriority,
        |  CAST(count(*) AS BIGINT) AS n_orders,
        |  CAST(count(*) FILTER (WHERE o_orderstatus = 'F') AS BIGINT)
        |    AS n_finished,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)))
        |       FILTER (WHERE o_orderstatus = 'F') AS DOUBLE)
        |    AS finished_total
        |FROM graft_orders_v
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin)
  }

  private val aggFilterClauseOracle =
    """SELECT o_orderpriority,
      |  CAST(count(*) AS BIGINT) AS n_orders,
      |  CAST(count(*) FILTER (WHERE o_orderstatus = 'F') AS BIGINT)
      |    AS n_finished,
      |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)))
      |       FILTER (WHERE o_orderstatus = 'F') AS DOUBLE)
      |    AS finished_total
      |FROM orders
      |GROUP BY o_orderpriority
      |ORDER BY o_orderpriority""".stripMargin

  /** `listagg(...) WITHIN GROUP (ORDER BY ...)` (Spark 4): the SQL-standard
    * ordered string aggregation — the deterministic, scalar-emitting form
    * of collect_list (agg_collect_sorted covers the DataFrame idiom; this
    * pins the standard surface warehouse SQL actually uses). The explicit
    * WITHIN GROUP order is what makes the result reproducible under
    * repartitioning — an unordered listagg at 100 TB is run-to-run noise.
    */
  def listaggNations(spark: SparkSession, sfDir: String): DataFrame = {
    Tables(spark, sfDir, "nation").createOrReplaceTempView("graft_nation_v")
    spark.sql(
      """SELECT n_regionkey,
        |  listagg(n_name, '|') WITHIN GROUP (ORDER BY n_name) AS nations,
        |  CAST(count(*) AS BIGINT) AS n_nations
        |FROM graft_nation_v
        |GROUP BY n_regionkey
        |ORDER BY n_regionkey""".stripMargin)
  }

  private val listaggNationsOracle =
    """SELECT n_regionkey,
      |  string_agg(n_name, '|' ORDER BY n_name) AS nations,
      |  CAST(count(*) AS BIGINT) AS n_nations
      |FROM nation
      |GROUP BY n_regionkey
      |ORDER BY n_regionkey""".stripMargin

  /** `GROUP BY ALL`: every non-aggregate select item becomes a grouping
    * key — the ergonomic surface that kills the copy-the-select-list bug
    * class in wide rollup queries (keys here: status + a derived year).
    * Both engines implement the same inference rule, so one SQL text
    * gates both.
    */
  def groupByAll(spark: SparkSession, sfDir: String): DataFrame = {
    Tables(spark, sfDir, "orders").createOrReplaceTempView("graft_orders_v")
    spark.sql(
      """SELECT o_orderstatus,
        |  CAST(year(o_orderdate) AS BIGINT) AS yr,
        |  CAST(count(*) AS BIGINT) AS n_orders,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM graft_orders_v
        |GROUP BY ALL
        |ORDER BY o_orderstatus, yr""".stripMargin)
  }

  private val groupByAllOracle =
    """SELECT o_orderstatus,
      |  CAST(year(o_orderdate) AS BIGINT) AS yr,
      |  CAST(count(*) AS BIGINT) AS n_orders,
      |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
      |FROM orders
      |GROUP BY ALL
      |ORDER BY o_orderstatus, yr""".stripMargin

  /** SQL session variables (Spark 4 `DECLARE VARIABLE` / `SET VAR`): the
    * scripting surface for two-step warehouse jobs — compute a scalar once,
    * reference it by name in later statements (vs re-running a scalar
    * subquery per statement, or string-splicing a literal). The
    * above-average filter keeps the comparison in exact cross-multiplied
    * form (`bal · n > Σbal`), so both engines cut bit-identically; the
    * oracle inlines the two scalars as subqueries — same values, which is
    * the point: a variable is a NAME for a value, not new semantics.
    */
  def sessionVariables(spark: SparkSession, sfDir: String): DataFrame = {
    Tables(spark, sfDir, "customer").createOrReplaceTempView("graft_customer_v")
    spark.sql(
      "DECLARE OR REPLACE VARIABLE graft_sum_bal DECIMAL(38,2)")
    spark.sql(
      "DECLARE OR REPLACE VARIABLE graft_n_cust BIGINT")
    spark.sql(
      """SET VAR graft_sum_bal =
        |  (SELECT sum(CAST(c_acctbal AS DECIMAL(18,2)))
        |   FROM graft_customer_v)""".stripMargin)
    spark.sql(
      "SET VAR graft_n_cust = (SELECT count(*) FROM graft_customer_v)")
    spark.sql(
      """SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n_above
        |FROM graft_customer_v
        |WHERE CAST(c_acctbal AS DECIMAL(18,2)) * graft_n_cust > graft_sum_bal
        |GROUP BY c_mktsegment
        |ORDER BY c_mktsegment""".stripMargin)
  }

  private val sessionVariablesOracle =
    """SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n_above
      |FROM customer
      |WHERE CAST(c_acctbal AS DECIMAL(18,2)) * (SELECT count(*) FROM customer)
      |      > (SELECT sum(CAST(c_acctbal AS DECIMAL(18,2))) FROM customer)
      |GROUP BY c_mktsegment
      |ORDER BY c_mktsegment""".stripMargin

  /** Parameterized SQL (`spark.sql(text, args)`): named parameter markers
    * bound server-side — the injection-safe surface for templated queries
    * (vs string interpolation, which both invites injection and defeats
    * plan caching by making every invocation a new SQL text). The oracle
    * inlines the same two literals.
    */
  def parameterizedSql(spark: SparkSession, sfDir: String): DataFrame = {
    Tables(spark, sfDir, "orders").createOrReplaceTempView("graft_orders_v")
    spark.sql(
      """SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_orders
        |FROM graft_orders_v
        |WHERE o_orderstatus = :status AND o_totalprice > :floor
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin,
      Map("status" -> "F", "floor" -> 1000.0))
  }

  private val parameterizedSqlOracle =
    """SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_orders
      |FROM orders
      |WHERE o_orderstatus = 'F' AND o_totalprice > 1000.0
      |GROUP BY o_orderpriority
      |ORDER BY o_orderpriority""".stripMargin

  /** `posexplode`: the ordinal-preserving generator — position is DATA
    * (token order survives the relational explosion), where plain
    * `explode` loses it. Positional token stats per slot; the oracle
    * re-derives ordinals via generate_subscripts (1-based, shifted).
    */
  def posexplodeTokens(spark: SparkSession, sfDir: String): DataFrame =
    Tables(spark, sfDir, "documents")
      .select(posexplode(split(col("text"), " ")).as(Seq("pos", "tok")))
      .filter(col("pos") < 5)
      .groupBy(col("pos").cast(LongType).as("pos"))
      .agg(count(lit(1)).as("n_tokens"),
        countDistinct(col("tok")).as("n_distinct"))
      .orderBy("pos")

  private val posexplodeTokensOracle =
    """SELECT pos, CAST(count(*) AS BIGINT) AS n_tokens,
      |  CAST(count(DISTINCT tok) AS BIGINT) AS n_distinct
      |FROM (
      |  SELECT unnest(string_split(text, ' ')) AS tok,
      |    generate_subscripts(string_split(text, ' '), 1) - 1 AS pos
      |  FROM documents)
      |WHERE pos < 5
      |GROUP BY pos
      |ORDER BY pos""".stripMargin

  /** `grouping()` / `grouping_id()` over GROUPING SETS: the disambiguation
    * bits that let one multi-level result set be consumed safely — a NULL
    * key from the data and a NULL from subtotal roll-up are
    * indistinguishable without them (agg_grouping_sets pins the sets
    * surface; this pins the introspection functions both engines share).
    */
  def groupingIdSets(spark: SparkSession, sfDir: String): DataFrame = {
    Tables(spark, sfDir, "orders").createOrReplaceTempView("graft_orders_v")
    spark.sql(
      """SELECT CAST(grouping(o_orderstatus) AS BIGINT) AS g_status,
        |  CAST(grouping(o_orderpriority) AS BIGINT) AS g_prio,
        |  CAST(grouping_id(o_orderstatus, o_orderpriority) AS BIGINT) AS gid,
        |  o_orderstatus, o_orderpriority, CAST(count(*) AS BIGINT) AS n
        |FROM graft_orders_v
        |GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority),
        |                        (o_orderstatus), ())
        |ORDER BY gid, o_orderstatus NULLS FIRST,
        |  o_orderpriority NULLS FIRST""".stripMargin)
  }

  private val groupingIdSetsOracle =
    """SELECT CAST(grouping(o_orderstatus) AS BIGINT) AS g_status,
      |  CAST(grouping(o_orderpriority) AS BIGINT) AS g_prio,
      |  CAST(grouping_id(o_orderstatus, o_orderpriority) AS BIGINT) AS gid,
      |  o_orderstatus, o_orderpriority, CAST(count(*) AS BIGINT) AS n
      |FROM orders
      |GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority),
      |                        (o_orderstatus), ())
      |ORDER BY gid, o_orderstatus NULLS FIRST,
      |  o_orderpriority NULLS FIRST""".stripMargin

  /** Group-wise z-score outlier detection in EXACT integer arithmetic —
    * the anomaly-screening primitive (sensor spikes, fraud pre-filters,
    * data-quality triage) made cross-engine bit-deterministic.
    *
    * Classic z = (x−μ)/σ needs two float divisions whose results no hash
    * gate survives; cross-multiplying the test |z| > 3 into
    * `(x·n − Σx)² > 9·(n·Σx² − (Σx)²)` keeps every operand a DECIMAL(38,0)
    * on exact cent inputs, so the flag — and therefore the counts — are
    * bit-identical in any engine. One scan builds the per-group moment
    * triples (map-side combined), broadcast back over the same scan for
    * the flag: two passes over the fact, no sort, no window. At 100 TB the
    * moments table is group-cardinality-sized (tiny) — the broadcast join
    * is free and both scans pipeline.
    */
  def zscoreOutliers(spark: SparkSession, sfDir: String): DataFrame = {
    val cents = col("value").cast(DecimalType(18, 2))
      .multiply(lit(100)).cast(DecimalType(38, 0))
    val c = Tables(spark, sfDir, "events")
      .select(col("event_type").as("g"), col("event_id"), cents.as("v"))
    val moments = c.groupBy(col("g"))
      .agg(count(lit(1)).cast(DecimalType(38, 0)).as("n"),
        sum(col("v")).as("s1"),
        sum(col("v") * col("v")).as("s2"))
    val dev = col("v") * col("n") - col("s1")
    val isOut = dev * dev > lit(9) * (col("n") * col("s2") - col("s1") * col("s1"))
    c.join(broadcast(moments), "g")
      .groupBy(col("g"))
      .agg(
        max(col("n")).cast(LongType).as("n"),
        sum(when(isOut, 1L).otherwise(0L)).as("n_outliers"),
        min(when(isOut, col("event_id"))).as("first_outlier"))
      .orderBy("g")
  }

  private val zscoreOutliersOracle =
    """WITH c AS (
      |  SELECT event_type AS g, event_id,
      |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS DECIMAL(38,0)) AS v
      |  FROM events),
      |s AS (
      |  SELECT g, CAST(count(*) AS DECIMAL(38,0)) AS n,
      |    sum(v) AS s1, sum(v*v) AS s2
      |  FROM c GROUP BY g)
      |SELECT s.g, CAST(s.n AS BIGINT) AS n,
      |  CAST(count(*) FILTER (WHERE
      |    (c.v*s.n - s.s1)*(c.v*s.n - s.s1) > 9*(s.n*s.s2 - s.s1*s.s1))
      |    AS BIGINT) AS n_outliers,
      |  CAST(min(CASE WHEN
      |    (c.v*s.n - s.s1)*(c.v*s.n - s.s1) > 9*(s.n*s.s2 - s.s1*s.s1)
      |    THEN c.event_id END) AS BIGINT) AS first_outlier
      |FROM c JOIN s ON c.g = s.g
      |GROUP BY s.g, s.n, s.s1, s.s2
      |ORDER BY s.g""".stripMargin

  /** SQL pipe syntax (Spark 4): the `|>` operator chain — FROM-first
    * composition where each stage consumes the previous result, the SQL
    * spelling of the DataFrame builder style (and the surface new
    * warehouse SQL dialects converge on). Catalyst lowers it to exactly
    * the plan the nested-SELECT spelling produces, so pushdown/pruning
    * are unchanged. The oracle is the same query in classic ANSI form —
    * DuckDB runs its own FROM-first syntax differently, so the classic
    * spelling doubles as the cross-dialect equivalence proof.
    */
  def pipeSyntax(spark: SparkSession, sfDir: String): DataFrame = {
    Tables(spark, sfDir, "orders").createOrReplaceTempView("graft_orders_v")
    spark.sql(
      """FROM graft_orders_v
        ||> WHERE o_orderstatus = 'F'
        ||> EXTEND CAST(year(o_orderdate) AS BIGINT) AS order_year
        ||> AGGREGATE CAST(count(*) AS BIGINT) AS n,
        |     CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
        |       AS sum_price
        |   GROUP BY o_orderpriority, order_year
        ||> ORDER BY o_orderpriority, order_year""".stripMargin)
  }

  private val pipeSyntaxOracle =
    """SELECT o_orderpriority, CAST(year(o_orderdate) AS BIGINT) AS order_year,
      |  CAST(count(*) AS BIGINT) AS n,
      |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
      |FROM orders WHERE o_orderstatus = 'F'
      |GROUP BY o_orderpriority, order_year
      |ORDER BY o_orderpriority, order_year""".stripMargin

  /** `DISTRIBUTE BY` / `SORT BY` — the Hive-inherited physical-layout SQL
    * every warehouse migration carries (ETL scripts end in it to control
    * file clustering). DISTRIBUTE BY hashes rows to partitions by the key;
    * SORT BY orders *within* each partition — no global order, which is
    * exactly the (cheaper) contract a clustered write wants. The result
    * surfaces the layout as DATA so it's oracle-checkable independent of
    * the session's partition count: with the key as the distribution
    * column, every group must land in EXACTLY ONE partition
    * (`n_partitions = 1` via spark_partition_id) — the co-location
    * property bucketed writes and skew-free reducers rely on.
    */
  def distributeBy(spark: SparkSession, sfDir: String): DataFrame = {
    Tables(spark, sfDir, "orders").createOrReplaceTempView("graft_orders_v")
    val laid = spark.sql(
      """SELECT o_orderpriority, o_orderkey
        |FROM graft_orders_v WHERE o_orderstatus = 'F'
        |DISTRIBUTE BY o_orderpriority
        |SORT BY o_orderpriority, o_orderkey""".stripMargin)
    laid
      .select(col("o_orderpriority"), spark_partition_id().as("pid"))
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n"),
        countDistinct(col("pid")).as("n_partitions"))
      .orderBy("o_orderpriority")
  }

  private val distributeByOracle =
    """SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n,
      | CAST(1 AS BIGINT) AS n_partitions
      |FROM orders WHERE o_orderstatus = 'F'
      |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin

  val queries: Seq[Query] = Seq(
    Query("agg_pricing_summary",
      "TPC-H Q1-shaped multi-aggregate hash agg, decimal-exact sums",
      pricingSummary, Some(pricingSummaryOracle)),
    Query("agg_distinct_users",
      "exact countDistinct per group", distinctUsers, Some(distinctUsersOracle)),
    Query("agg_sketch_merge",
      "mergeable HLL distinct state: daily sketches unioned to monthly, " +
        "oracle-gated by exact-count error band",
      sketchDistinctMerge, Some(sketchDistinctMergeOracle)),
    Query("agg_approx_distinct",
      "HLL approx_count_distinct, oracle-gated by exact-count error band",
      approxDistinctUsers, Some(approxDistinctOracle)),
    Query("agg_rollup",
      "ROLLUP(nation, segment) subtotals after broadcast dim join",
      rollupNationSegment, Some(rollupOracle)),
    Query("agg_cube",
      "CUBE(status, priority) over orders",
      cubeOrderStats, Some(cubeOracle)),
    Query("set_ops_all",
      "INTERSECT ALL / EXCEPT ALL multiset ops over order keys",
      setOpsAll, Some(setOpsAllOracle)),
    Query("win_rank_orders",
      "rank/dense_rank/row_number per customer, top-3 filter",
      rankOrders, Some(rankOrdersOracle)),
    Query("win_lag_delta",
      "lag() per user by event time; per-event delta",
      lagDelta, Some(lagDeltaOracle)),
    Query("win_distribution",
      "ntile / percent_rank / cume_dist per segment",
      distributionWindows, Some(distributionWindowsOracle)),
    Query("win_first_last_value",
      "first/last/nth_value over the full partition frame",
      firstLastValue, Some(firstLastValueOracle)),
    Query("win_running_total",
      "running sum per user (unbounded-preceding frame), decimal-exact",
      runningTotal, Some(runningTotalOracle)),
    Query("sort_topk_customers",
      "global top-20 with unique tiebreak (TakeOrderedAndProject)",
      topkCustomers, Some(topkOracle)),
    Query("set_ops_segments",
      "INTERSECT / EXCEPT over key sets, tagged union",
      setOpsSegments, Some(setOpsOracle)),
    Query("join_semi_anti",
      "left-semi (EXISTS) + left-anti (NOT EXISTS) joins",
      semiAntiJoins, Some(semiAntiOracle)),
    Query("join_outer_counts",
      "left-outer join with NULL-preserving grouped counts",
      outerJoinCounts, Some(outerJoinOracle)),
    Query("scalar_datetime",
      "date_trunc month rollup of orders", monthlyOrders, Some(monthlyOrdersOracle)),
    Query("join_range_binned",
      "keyless range join via time binning (no nested-loop/cartesian)",
      rangeJoinBinned, Some(rangeJoinOracle)),
    Query("sql_recursive_spine",
      "recursive-CTE date spine + gap-filled daily counts (WITH RECURSIVE)",
      recursiveDateSpine, Some(recursiveDateSpineOracle)),
    Query("win_dedup_latest",
      "keep-latest-per-key (log-compaction read) via row_number over ts desc",
      keepLatestPerKey, Some(keepLatestOracle)),
    Query("join_salted_skew",
      "manually salted skew join: replicated small side, (key,salt) join",
      saltedSkewJoin, Some(saltedSkewJoinOracle)),
    Query("join_bloom_prune",
      "runtime Bloom-filter semi-join reduction on a shuffled big-big join",
      bloomPruneJoin, Some(bloomPruneJoinOracle)),
    Query("join_cogroup_reconcile",
      "typed cogroup order/line reconciliation: one co-located shuffle",
      cogroupReconcile, Some(cogroupReconcileOracle)),
    Query("ref_audit_observe",
      "zero-extra-pass pipeline audit: observe() metrics ride the one scan",
      observedAudit, Some(observedAuditOracle)),
    Query("join_star_q3",
      "Q3-shaped star join: filtered dims, fact join, decimal top-10 revenue",
      starJoinTopRevenue, Some(starJoinTopRevenueOracle)),
    Query("ref_profile_columns",
      "one-pass column profiling: null/distinct/min/max per column, long form",
      profileColumns, Some(profileColumnsOracle)),
    Query("sort_zorder_cluster",
      "Z-order (Morton) clustering key via codegen'd bitwise built-ins",
      zorderCluster, Some(zorderClusterOracle)),
    Query("agg_incremental_merge",
      "incremental aggregate maintenance: merge batch partials into state",
      incrementalAggMerge, Some(incrementalAggMergeOracle)),
    Query("join_ivm_view",
      "incremental JOIN view maintenance: delta-join decomposition, bitwise = recompute",
      ivmJoinView, Some(ivmJoinViewOracle)),
    Query("sql_corr_scalar_subq",
      "Q17-shaped correlated scalar subquery, decorrelated to agg+join",
      correlatedScalarSubquery, Some(correlatedScalarSubqueryOracle)),
    Query("sql_corr_not_exists",
      "Q22-shaped NOT EXISTS + scalar-avg subquery, planned as anti join",
      correlatedNotExists, Some(correlatedNotExistsOracle)),
    Query("sql_lateral_topk",
      "LATERAL correlated LIMIT subquery, decorrelated to a rank filter",
      lateralTopPerKey, Some(lateralTopPerKeyOracle)),
    Query("scalar_hof_suite",
      "higher-order array functions over embeddings, integer-exact lambdas",
      hofSuite, Some(hofSuiteOracle)),
    Query("scalar_collation",
      "UTF8_LCASE collation: case-insensitive distinct without lower()",
      collationDistinct, Some(collationDistinctOracle)),
    Query("sql_recursive_cte",
      "WITH RECURSIVE ancestor-chain walk, cross-engine iteration gate",
      recursiveCte, Some(recursiveCteOracle)),
    Query("sql_in_subquery",
      "uncorrelated IN subquery planned as a left-semi hash join",
      inSubquery, Some(inSubqueryOracle)),
    Query("agg_boolean",
      "count_if / bool_and / bool_or / every data-quality aggregates",
      booleanAggregates, Some(booleanAggregatesOracle)),
    Query("scalar_variant",
      "VARIANT type: parse_json once, typed variant_get extraction",
      variantScalars, Some(variantScalarsOracle)),
    Query("scalar_map_struct",
      "map/struct scalar ops: lookup, key sort, value transform, field access",
      mapStructOps, Some(mapStructOracle)),
    Query("scalar_json_extract",
      "get_json_object + strict int cast, aggregated per event type",
      jsonExtract, Some(jsonExtractOracle)),
    Query("explode_tokens",
      "split+explode token relation, top-50 frequencies",
      explodeTokens, Some(explodeTokensOracle)),
    Query("agg_histogram",
      "equi-width 20-bucket histogram, integer-cent bucket arithmetic",
      histogram, Some(histogramOracle)),
    Query("agg_histogram_equidepth",
      "equi-depth 10-bucket histogram: ntile spans for range stats",
      equiDepthHistogram, Some(equiDepthHistogramOracle)),
    Query("win_transition_matrix",
      "first-order Markov event-transition counts + exact probabilities",
      transitionMatrix, Some(transitionMatrixOracle)),
    Query("agg_retention_cohorts",
      "weekly retention cohorts: first-seen week x weeks-since, exact rates",
      retentionCohorts, Some(retentionCohortsOracle)),
    Query("agg_argmax",
      "group-wise argmax/argmin via max_by/min_by, struct-ordered ties",
      argmaxPerGroup, Some(argmaxPerGroupOracle)),
    Query("agg_bitmap_distinct",
      "exact mergeable distinct counts via two-level bitmap aggregation",
      bitmapDistinct, Some(bitmapDistinctOracle)),
    Query("join_null_safe",
      "null-safe equi-join: NULL cohorts align instead of vanishing",
      nullSafeJoin, Some(nullSafeJoinOracle)),
    Query("join_temporal_pit",
      "point-in-time join: facts to the SCD-2 version in force at fact time",
      temporalPitJoin, Some(temporalPitJoinOracle)),
    Query("join_asof",
      "as-of join (latest click ≤ event) via tagged union + window",
      asofJoin, Some(asofJoinOracle)),
    Query("agg_pivot",
      "pivot long→wide with explicit value list, decimal-exact sums",
      pivotOrderStatus, Some(pivotOracle)),
    Query("agg_percentiles",
      "exact interpolated percentiles per group",
      percentilesQuantity, Some(percentilesOracle)),
    Query("agg_approx_percentiles",
      "t-digest sketch percentiles, oracle-gated by exact rank band",
      approxPercentiles, Some(approxPercentilesOracle)),
    Query("agg_grouping_sets",
      "explicit GROUPING SETS via the spark.sql entry path",
      groupingSets, Some(groupingSetsOracle)),
    Query("win_range_frame",
      "RANGE interval window frame (trailing 30 min per user)",
      rangeFrame, Some(rangeFrameOracle)),
    Query("agg_custom_udaf",
      "typed Aggregator UDAF: decimal-exact weighted average",
      customUdaf, Some(customUdafOracle)),
    Query("agg_salted_skew",
      "salted two-phase aggregation (hot-key spread), result-transparent",
      saltedAgg, Some(saltedAggOracle)),
    Query("agg_corr_moments",
      "one-pass correlation matrix via exact quantized sufficient statistics",
      corrMoments, Some(corrMomentsOracle)),
    Query("sort_topk_per_group",
      "per-group top-k via native bounded-heap aggregate (no window sort)",
      topkPerGroup, Some(topkPerGroupOracle)),
    Query("join_bucketed",
      "bucketed co-located join — no exchange at join time",
      bucketedJoin, Some(bucketedJoinOracle)),
    Query("scalar_from_json",
      "from_json schema-on-read struct parse (one parse, many fields)",
      fromJsonStruct, Some(fromJsonOracle)),
    Query("agg_unpivot",
      "unpivot/melt wide→long via the official API",
      unpivotStatus, Some(unpivotOracle)),
    Query("agg_collect_sorted",
      "deterministic array aggregation (sort_array ∘ collect_set)",
      collectSorted, Some(collectSortedOracle)),
    Query("sql_create_function",
      "SQL scalar UDF (CREATE TEMPORARY FUNCTION), inlined by Catalyst",
      sqlScalarUdf, Some(sqlScalarUdfOracle)),
    Query("sql_table_function",
      "SQL table function via LATERAL, decorrelated to one equi-join",
      sqlTableFunction, Some(sqlTableFunctionOracle)),
    Query("agg_exchange_reuse",
      "aggregate-once-consume-twice: shared subtree reused, one fact scan",
      exchangeReuse, Some(exchangeReuseOracle)),
    Query("agg_approx_topk",
      "built-in approx_top_k sketch, exact-on-head regime (tracked>cardinality)",
      approxTopK, Some(approxTopKOracle)),
    Query("agg_filter_clause",
      "aggregate FILTER (WHERE ...) clause: conditional aggs, one scan",
      aggFilterClause, Some(aggFilterClauseOracle)),
    Query("agg_listagg",
      "listagg WITHIN GROUP ordered string aggregation",
      listaggNations, Some(listaggNationsOracle)),
    Query("sql_group_by_all",
      "GROUP BY ALL key inference over status + derived year",
      groupByAll, Some(groupByAllOracle)),
    Query("sql_session_variable",
      "DECLARE/SET VAR session variables: compute once, reference by name",
      sessionVariables, Some(sessionVariablesOracle)),
    Query("sql_parameterized",
      "named parameter markers bound via spark.sql(text, args)",
      parameterizedSql, Some(parameterizedSqlOracle)),
    Query("scalar_posexplode",
      "posexplode: ordinal-preserving explode, per-position token stats",
      posexplodeTokens, Some(posexplodeTokensOracle)),
    Query("agg_grouping_id",
      "grouping()/grouping_id() subtotal-disambiguation bits",
      groupingIdSets, Some(groupingIdSetsOracle)),
    Query("agg_zscore_outliers",
      "group-wise |z|>3 outlier counts in exact cross-multiplied integers",
      zscoreOutliers, Some(zscoreOutliersOracle)),
    Query("sql_pipe_syntax",
      "SQL pipe (|>) operator chain lowered to the classic plan",
      pipeSyntax, Some(pipeSyntaxOracle)),
    Query("sql_distribute_by",
      "DISTRIBUTE BY / SORT BY layout SQL; co-location surfaced as data",
      distributeBy, Some(distributeByOracle)),
    Query("join_asof_forward",
      "forward as-of join with 10-min tolerance (pandas merge_asof parity)",
      asofJoinForward, Some(asofJoinForwardOracle)),
    Query("scalar_try_arithmetic",
      "try_divide/try_mod/try_multiply/try_add: ANSI-lenient arithmetic",
      tryArithmetic, Some(tryArithmeticOracle)),
    Query("sql_lateral_view",
      "HiveQL LATERAL VIEW explode generator spelling (migration surface)",
      lateralViewExplode, Some(lateralViewExplodeOracle)),
    Query("scalar_explode_outer",
      "explode vs explode_outer: null-preserving generator semantics",
      explodeOuterSemantics, Some(explodeOuterOracle)),
    Query("agg_winsorize",
      "group-wise p05/p95 winsorization: clamp outliers, decimal-exact sums",
      winsorize, Some(winsorizeOracle)),
    Query("agg_group_regression",
      "per-group OLS slope/intercept from one pass of exact moments",
      groupRegression, Some(groupRegressionOracle)),
    Query("agg_group_regression_fit",
      "OLS fit diagnostics (R², residual stddev) from the same moments",
      groupRegressionFit, Some(groupRegressionFitOracle)),
    Query("agg_robust_outliers",
      "median/MAD outlier screen, all-integer cross-multiplied test",
      robustOutliers, Some(robustOutliersOracle)),
    Query("win_mean_impute",
      "group-mean imputation of planted nulls, exact before/after sums",
      meanImpute, Some(meanImputeOracle)),
  )
}
