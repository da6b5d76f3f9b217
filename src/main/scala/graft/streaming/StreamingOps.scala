package graft.streaming

import java.time.Instant
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.state.RunStateStores
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, GroupState, GroupStateTimeout, OutputMode, StreamingQuery, Trigger}
import org.apache.spark.sql.types.{DecimalType, DoubleType, TimestampNTZType}

import graft.{Query, Session}
import graft.functions.Exact._
import graft.sources.Tables

/** Typed event row for the stateful stream (Instant keeps microseconds —
  * java.sql.Timestamp#getTime would truncate to millis and break tie-sorts).
  */
case class StreamEvent(user_id: Long, event_id: Long, ts: Instant)

/** Carry-over state per user: sessions emitted so far (correct numbering
  * across micro-batches in a long-running deployment).
  */
case class SessionizerState(sessionsEmitted: Long)

/** A session still growing at a micro-batch boundary. */
case class OpenSession(start: Instant, end: Instant, n: Long)

/** Incremental sessionizer state: emitted-session counter for continuous
  * numbering plus the open tail session awaiting either a successor event
  * (gap split) or an event-time timeout (watermark passed end + gap).
  */
case class IncrSessionState(sessionsEmitted: Long, open: Option[OpenSession])

case class SessionRow(
    user_id: Long, session_seq: Long, n_events: Long,
    session_start: Instant, session_end: Instant)

/** The 30-minute gap split all three hand-rolled sessionizers share
  * (`stream_sessionize_stateful`, `_incremental` and `_tws`), the
  * batch `win_sessionize` rule: an event at least 30 minutes after its
  * predecessor opens a new session. Pure, so one micro-batch at a time
  * or the whole history at once split the same way.
  */
object SessionSplit {

  val GapMicros: Long = 30L * 60 * 1000000

  def micros(i: Instant): Long = i.getEpochSecond * 1000000 + i.getNano / 1000

  /** Event time (ms) past which no non-late event can extend `o`: a
    * watermark beyond it proves the session closed. */
  def dueMs(o: OpenSession): Long = micros(o.end) / 1000 + GapMicros / 1000 + 1

  /** Split one user's `events` (any order: they are ordered by ts, ties
    * by event_id) continuing the open `tail`, numbering after `emitted`
    * sessions. Returns the sessions the batch closes and the new tail. */
  def apply(uid: Long, tail: Option[OpenSession], emitted: Long,
      events: Iterator[StreamEvent]): (Seq[SessionRow], Option[OpenSession]) = {
    val out = Seq.newBuilder[SessionRow]
    var seq = emitted
    var cur = tail
    events.toArray.sortBy(e => (micros(e.ts), e.event_id)).foreach { e =>
      cur = cur match {
        case Some(o) if micros(e.ts) - micros(o.end) < GapMicros =>
          Some(OpenSession(o.start, e.ts, o.n + 1))
        case open =>
          open.foreach { o =>
            seq += 1; out += SessionRow(uid, seq, o.n, o.start, o.end)
          }
          Some(OpenSession(e.ts, e.ts, 1L))
      }
    }
    (out.result(), cur)
  }

  /** The row that closes `tail` as session `emitted + 1`. */
  def flush(uid: Long, emitted: Long,
      tail: Option[OpenSession]): Option[SessionRow] =
    tail.map(o => SessionRow(uid, emitted + 1, o.n, o.start, o.end))
}

/** Structured Streaming twins of the batch event-time operators: the same
  * tumbling-window aggregation declared over `readStream`, driven to
  * completion with Trigger.AvailableNow against the static events parquet.
  *
  * Because AvailableNow processes the full input and the sink runs in
  * complete mode, the streaming result equals the batch result — so the
  * SAME DuckDB oracle applies: a genuine batch/streaming consistency check.
  *
  * Scale notes: in production this is `readStream` off a queue/landing
  * zone; the watermark bounds state (windows older than watermark are
  * evicted), and the stateful aggregation shuffles on (window, key) exactly
  * like the batch plan. The memory sink here is the test harness stand-in
  * for a real sink (kafka/delta/parquet appends).
  */
object StreamingOps {

  private val sinkId = new AtomicLong(0)

  /** The one AvailableNow drain: every streaming query in the engine
    * runs through it. It sets `Trigger.AvailableNow`, sets `checkpoint`
    * as the query's checkpoint location when one is given, runs `start`
    * (`start()`, or `toTable(t)` for a lake sink) inside
    * [[Session.withLeanDrain]], and returns the query once
    * [[awaitDrained]] has seen it ingest rows.
    *
    * `partitions` caps `spark.sql.shuffle.partitions` for the query.
    * Stateful streaming partitioning is sticky (pinned by the first
    * checkpoint) and each micro-batch COMMITS every state store
    * partition, so the partition count must track state volume, not CPU
    * count: at harness scale 2 partitions hold the state comfortably and
    * cut per-batch store-commit fan-out. Two interleaved A/Bs at sf0.1
    * over the 5 heaviest streaming queries: 8→4 partitions 41.3/40.8 →
    * 34.7/34.9 s, then 4→2 a further ~6% (41.3/39.8 → 39.1/36.9 s). The
    * 2 is a HARNESS-SCALE constant, not a formula: at larger sf (or in
    * production) the same measurement lands higher, because each store
    * partition's state must fit and compact comfortably. A deployment
    * sizes it once per query at first deploy (it cannot change without a
    * new checkpoint), keyed to peak in-flight state. The stream-stream
    * joins have the smallest in-flight state in the registry, so they
    * take 1 (interleaved A/B, min-of-2 at sf0.1: full_outer 9.17→7.03,
    * join 3.82→2.54, semi 6.72→5.82, left_outer 6.59→6.05; the
    * aggregation-shaped queries measured WORSE at 1 and keep 2). The cap
    * never RAISES the count: a session already below the state-volume
    * target must not be lifted to it (that would ADD fan-out). Batch
    * queries in the same session are unaffected: the conf is restored
    * before the drain returns. Without a cap the session's count stands.
    */
  private[graft] def drain[T](spark: SparkSession,
      writer: => DataStreamWriter[T], checkpoint: String = "",
      partitions: Option[Int] = None)(
      start: DataStreamWriter[T] => StreamingQuery = (w: DataStreamWriter[T]) =>
        w.start()): StreamingQuery = {
    val key = "spark.sql.shuffle.partitions"
    val cap = partitions.map(p => key ->
      math.min(p, scala.util.Try(spark.conf.get(key).toInt).getOrElse(p))
        .toString)
    Session.withLeanDrain(spark, checkpoint) {
      Session.withConfs(spark, cap.toSeq: _*) {
        val w = writer.trigger(Trigger.AvailableNow())
        if (checkpoint.nonEmpty) w.option("checkpointLocation", checkpoint)
        val q = start(w)
        awaitDrained(q)
        q
      }
    }
  }

  /** Drain `df` in output `mode` into a fresh memory sink named
    * `graft_stream_<sink>_<n>`, under the partition cap (see [[drain]]). */
  private def memoryDrain(df: DataFrame, mode: String, sink: String,
      partitions: Int): StreamingQuery =
    drain(df.sparkSession, df.writeStream.outputMode(mode).format("memory")
      .queryName(s"graft_stream_${sink}_${sinkId.incrementAndGet()}"),
      partitions = Some(partitions))()

  /** [[memoryDrain]], read back as a batch relation. */
  private def toMemory(df: DataFrame, mode: String, sink: String,
      partitions: Int = 2): DataFrame =
    df.sparkSession.table(memoryDrain(df, mode, sink, partitions).name)

  /** Await an AvailableNow drain, release its state stores, and prove it
    * ingested at least one row.
    *
    * Release: when the run ends, failed or not, every state-store provider
    * it loaded is unloaded and closed ([[RunStateStores.unload]]), instead
    * of up to a maintenance interval (60 s) later. The HDFS-backed
    * provider (stateful aggregations, dedup, the stream-stream joins)
    * keeps its recent versions on the JVM heap, so without this a
    * finished drain's state stays live: 10.9 MB for the four joins of
    * `lake_stream`. The RocksDB provider (`transformWithState`) frees its
    * native memory the same way. Only this run's providers go; another
    * query live in the JVM keeps its stores.
    *
    * Rows: every drain in the registry reads a non-empty source, so zero
    * input rows has exactly one cause worth failing loudly for: a FIXED
    * checkpoint location silently resuming a prior run's committed
    * offsets, which makes a fake-fast bench number (see the checkpoint
    * note in Bench.scala). Per-query temp checkpoints avoid it by
    * convention; this makes the convention an invariant at every drain
    * site, batch-count independent (`numInputRows` summed over the run's
    * progress events).
    */
  private[graft] def awaitDrained(q: StreamingQuery): Unit = {
    // an interrupted wait leaves the run going: its stores are in use
    try q.awaitTermination()
    finally if (!q.isActive) RunStateStores.unload(q.runId)
    val progress = q.recentProgress
    val rows = progress.map(_.numInputRows).sum
    if (rows == 0) {
      // recentProgress is a RING BUFFER capped at
      // spark.sql.streaming.numRecentProgressUpdates (default 100): a
      // drain that ran >= cap micro-batches may have evicted its
      // data-bearing batches, making "sum == 0" inconclusive rather than
      // proof of a silent resume. Registry drains run 4-6 batches, far
      // under the cap, but the invariant states its own validity domain
      // instead of silently depending on it.
      val cap = q.sparkSession.conf
        .get("spark.sql.streaming.numRecentProgressUpdates", "100").toInt
      require(progress.length < cap,
        s"streaming drain '${Option(q.name).getOrElse(q.id)}' ran " +
          s"${progress.length} >= $cap (numRecentProgressUpdates) micro-" +
          "batches with zero VISIBLE input rows — the progress ring buffer " +
          "may have evicted the data-bearing batches; raise the conf or " +
          "track rows via a StreamingQueryListener before trusting this " +
          "drain")
      require(rows > 0,
        s"streaming drain '${Option(q.name).getOrElse(q.id)}' processed " +
          "ZERO input rows — silent checkpoint resume or empty source " +
          "(the fixed-checkpoint footgun documented in Bench.scala)")
    }
  }

  /** The events table as a normalized `readStream` source — the ONE
    * constructor for every direct-events streaming query (the chunked
    * queries stage their own landing dirs instead).
    *
    * Layout-aware: the harness testdata ships `events.parquet` as a single
    * FILE, so the file-stream source points at sfDir with an S2-style
    * `pathGlobFilter` (same pruning as RefParity); an engine-written lake
    * (ScaleGen output, any production landing zone) has `events.parquet/`
    * as a DIRECTORY of part files, where that leaf-name glob matches
    * NOTHING (it filters part-file names) — found by the sf1 scale sweep
    * as 7 queries silently reading zero files. A directory streams
    * directly, no glob.
    *
    * Type-aware: ts arrives Long nanos or TIMESTAMP_NTZ depending on the
    * installed jar; [[Tables.normalizeEventTsStream]] lands either on
    * TIMESTAMP (LTZ) micros for watermark eligibility (session is UTC so
    * wall-clock math matches the batch NTZ contract; sinks cast back).
    */
  private def eventStream(spark: SparkSession, sfDir: String): DataFrame = {
    val p = new java.io.File(s"$sfDir/events.parquet")
    // schema must be provided to readStream; reuse the batch footer schema
    val batchSchema = spark.read.parquet(p.getAbsolutePath).schema
    val raw =
      if (p.isDirectory)
        spark.readStream.schema(batchSchema).parquet(p.getAbsolutePath)
      else spark.readStream
        .schema(batchSchema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sfDir)
    Tables.normalizeEventTsStream(raw)
  }

  /** Streaming tumbling 10-minute counts per event type (same semantics as
    * batch `win_time_tumbling` — and the same oracle).
    */
  def tumblingStream(spark: SparkSession, sfDir: String): DataFrame = {
    val events = eventStream(spark, sfDir)
    val agg = events
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "10 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value"))
    toMemory(agg, "complete", "tumbling")
      .select(
        col("window.start").cast(TimestampNTZType).as("wstart"),
        col("window.end").cast(TimestampNTZType).as("wend"),
        col("event_type"), col("n"), col("sum_value"))
      .orderBy("wstart", "event_type")
  }

  private val tumblingStreamOracle =
    s"""SELECT wstart, wstart + INTERVAL '10 minutes' AS wend, event_type,
       | CAST(count(*) AS BIGINT) AS n,
       | ${sqlDsum("value")} AS sum_value
       |FROM (SELECT time_bucket(INTERVAL '10 minutes', ts) AS wstart, event_type, value
       |      FROM events)
       |GROUP BY wstart, event_type
       |ORDER BY wstart, event_type""".stripMargin

  /** Stateful sessionization with flatMapGroupsWithState: per-user custom
    * state, 30-minute gap splits — the arbitrary-state API the windowed
    * operators can't express. Under Trigger.AvailableNow every user's
    * events arrive in one group invocation, so emitting all sessions at
    * batch end reproduces the batch `win_sessionize` result exactly and
    * shares its DuckDB oracle (a second batch/streaming consistency gate).
    * In a continuous deployment the open tail session would stay in state
    * and flush on event-time timeout instead; the state type already
    * carries the cross-batch session numbering for that.
    */
  def sessionizeStateful(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val sessions = eventStream(spark, sfDir)
      .select(col("user_id"), col("event_id"), col("ts"))
      .as[StreamEvent]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionizerState, SessionRow](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (uid: Long, evs: Iterator[StreamEvent],
         state: GroupState[SessionizerState]) =>
          val base = state.getOption.map(_.sessionsEmitted).getOrElse(0L)
          val (closed, tail) = SessionSplit(uid, None, base, evs)
          val out = closed ++ SessionSplit.flush(uid, base + closed.size, tail)
          state.update(SessionizerState(base + out.size))
          out.iterator
      }

    toMemory(sessions.toDF(), "append", "sessionize")
      .select(col("user_id"), col("session_seq"), col("n_events"),
        col("session_start").cast(TimestampNTZType).as("session_start"),
        col("session_end").cast(TimestampNTZType).as("session_end"))
      .orderBy("user_id", "session_seq")
  }

  // same result contract as the batch win_sessionize query
  private val sessionizeStatefulOracle =
    """SELECT user_id, session_seq,
      | CAST(count(*) AS BIGINT) AS n_events,
      | min(ts) AS session_start, max(ts) AS session_end
      |FROM (
      | SELECT user_id, ts,
      |  CAST(sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_seq
      | FROM (
      |  SELECT user_id, ts, event_id,
      |   CASE WHEN prev_ts IS NULL OR ts >= prev_ts + INTERVAL '30 minutes'
      |        THEN 1 ELSE 0 END AS new_session
      |  FROM (SELECT user_id, ts, event_id,
      |         lag(ts, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
      |        FROM events)))
      |GROUP BY user_id, session_seq
      |ORDER BY user_id, session_seq""".stripMargin

  /** Streaming exact dedup: the stream is deliberately doubled (two file
    * sources over the same data, unioned — every event arrives twice), then
    * `dropDuplicates(event_id)` keeps state per key and emits each exactly
    * once. The sink holds the deduped stream; a batch aggregation over it
    * (counts + exact sums per type) proves every duplicate was dropped —
    * the oracle is the plain single-copy batch aggregate. In production the
    * dedup state is bounded with `dropDuplicatesWithinWatermark` (at-least-
    * once sources redeliver within a bounded window, so unbounded key state
    * is unnecessary); AvailableNow over a finite corpus has no watermark to
    * advance, so the unbounded form is the deterministic test shape.
    */
  def dedupStream(spark: SparkSession, sfDir: String): DataFrame = {
    def src() = eventStream(spark, sfDir)
    val doubled = src().union(src())
    val deduped = doubled.dropDuplicates("event_id")
    toMemory(deduped, "append", "dedup")
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value"))
      .orderBy("event_type")
  }

  private val dedupStreamOracle =
    s"""SELECT event_type, CAST(count(*) AS BIGINT) AS n,
       | ${sqlDsum("value")} AS sum_value
       |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  /** Update-mode aggregation — the third output mode (complete and append
    * are covered by the other streams): each micro-batch emits only the
    * groups whose aggregate CHANGED, and the sink upserts them — the
    * pattern for maintaining a serving table without rewriting it per
    * batch. The foreachBatch body does the keyed upsert (what a real
    * deployment does against kafka-compact/OLTP/lakehouse sinks); after
    * the final batch the upserted table must equal the batch aggregate,
    * which is the DuckDB oracle.
    *
    * The driver-side ConcurrentHashMap is a HARNESS-ONLY serving-table
    * stand-in, safe because the upsert key is `event_type` (5 groups) —
    * the production sink at any real cardinality is a keyed external
    * store (the foreachBatch body would issue the upserts from the
    * EXECUTORS via `batch.foreachPartition`, never collect). A
    * cardinality guard makes the toy-only assumption fail loudly if
    * this query is ever re-pointed at a high-cardinality key.
    */
  def updateModeCounts(spark: SparkSession, sfDir: String): DataFrame = {
    val agg = eventStream(spark, sfDir)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value"))
    val upserted =
      new java.util.concurrent.ConcurrentHashMap[String, (Long, Double)]
    drain(spark, agg.writeStream
      .outputMode("update")
      .foreachBatch { (batch: DataFrame, _: Long) =>
        // keyed upsert: update-mode delivers only changed groups.
        // collect() is bounded by group cardinality, NOT stream size —
        // enforce that before it can become a driver-memory trap
        val rows = batch.collect()
        require(rows.length <= 1000,
          s"updateModeCounts serving-map stand-in saw ${rows.length} " +
            "changed groups in one batch; this driver-side sink is for " +
            "low-cardinality keys only — use a keyed external store")
        rows.foreach(r =>
          upserted.put(r.getString(0),
            (r.getAs[Long]("n"), r.getAs[Double]("sum_value"))))
      }, partitions = Some(2))()
    import scala.jdk.CollectionConverters._
    import spark.implicits._
    upserted.asScala.toSeq
      .map { case (k, (n, s)) => (k, n, s) }
      .toDF("event_type", "n", "sum_value")
      .orderBy("event_type")
  }

  private val updateModeCountsOracle =
    s"""SELECT event_type, CAST(count(*) AS BIGINT) AS n,
       | ${sqlDsum("value")} AS sum_value
       |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  /** Streaming upsert into a REAL merge-capable table — the production
    * resolution of [[updateModeCounts]]'s driver-map stand-in: each
    * update-mode micro-batch (only the groups whose aggregate CHANGED)
    * runs an actual `MERGE INTO` statement against the row-level DSv2
    * catalog table ([[graft.sources.GraftLakeCatalog]]), exactly the
    * Delta/Iceberg streaming-upsert pattern. After the drain the served
    * table must equal the batch aggregate — the same oracle as the
    * update-mode query, now through the full SQL merge machinery per
    * batch. At 100 TB the per-batch merge cost is the table format's
    * touched-file rewrite (here the file groups the batch's keys
    * touch).
    */
  def mergeSink(spark: SparkSession, sfDir: String): DataFrame = {
    spark.conf.set("spark.sql.catalog.graftlake",
      classOf[graft.sources.GraftLakeCatalog].getName)
    val serving = "graftlake.serving_counts"
    spark.sql(s"DROP TABLE IF EXISTS $serving")
    spark.sql(s"CREATE TABLE $serving " +
      "(event_type STRING, n BIGINT, sum_value DOUBLE)")
    val agg = eventStream(spark, sfDir)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value"))
    drain(spark, agg.writeStream
      .outputMode("update")
      .foreachBatch { (batch: DataFrame, id: Long) =>
        val view = s"graft_merge_sink_batch_$id"
        batch.createOrReplaceTempView(view)
        batch.sparkSession.sql(
          s"""MERGE INTO $serving t USING $view b
             |ON t.event_type = b.event_type
             |WHEN MATCHED THEN UPDATE SET
             |  n = b.n, sum_value = b.sum_value
             |WHEN NOT MATCHED THEN INSERT (event_type, n, sum_value)
             |  VALUES (b.event_type, b.n, b.sum_value)
             |""".stripMargin)
        () // foreachBatch wants Unit; sql() returns the command's frame
      }, partitions = Some(2))()
    graft.operators.Lakehouse.releasing(spark,
      spark.table(serving).orderBy("event_type"), serving)
  }

  /** Stream–static join: the event stream enriched against the static
    * customer dimension (broadcast per micro-batch — the static side is
    * planned like any batch relation, so the broadcast-hash-join shape is
    * identical to the batch plan), aggregated per market segment in
    * complete mode. Oracle: same join+aggregate in batch SQL.
    */
  def enrichStatic(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = eventStream(spark, sfDir)
    val cust = Tables(spark, sfDir, "customer")
      .select(col("c_custkey"), col("c_mktsegment"))
    val agg = ev.join(broadcast(cust), ev("user_id") === cust("c_custkey"))
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value"))
    toMemory(agg, "complete", "enrich").orderBy("c_mktsegment")
  }

  private val enrichStaticOracle =
    s"""SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n,
       | ${sqlDsum("value")} AS sum_value
       |FROM events JOIN customer ON user_id = c_custkey
       |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin

  /** Stream–stream interval join: each signup matched to the same user's
    * purchases in the following 30 minutes. Both sides carry watermarks and
    * the join condition bounds event time on both sides, so state is
    * evictable — the production shape for attribution joins (state ∝
    * in-flight window, not history). AvailableNow over a finite corpus
    * yields exactly the batch interval join, hence the batch oracle.
    */
  def streamStreamJoin(spark: SparkSession, sfDir: String): DataFrame = {
    // ONE source, filtered into both sides (a stream self-join): building
    // two identical sources made every micro-batch list the directory
    // twice — at a 100 TB landing zone the doubled listing is real money
    val src = eventStream(spark, sfDir)
    val joined = signupPurchaseJoin(src, "inner", keepSentinels = false)
    toMemory(joined, "append", "ssjoin", partitions = 1)
      .select(col("signup_id"), col("purchase_id"),
        col("s_user").as("user_id"),
        col("s_ts").cast(TimestampNTZType).as("signup_ts"),
        col("p_ts").cast(TimestampNTZType).as("purchase_ts"))
      .orderBy("signup_id", "purchase_id")
  }

  /** The signup→purchase interval-join pipeline (side filters, renames,
    * watermarks, 30-min bounded condition) built ONCE for every consumer:
    * the inner join query, the LEFT OUTER query, and the StreamingSpec
    * flush-dynamics test — three hand-rolled copies were already drifting
    * (the spec copy had dropped the sentinel-preserving filters).
    * `keepSentinels` keeps `user_id < 0` watermark-driver rows flowing on
    * sentinel-staged sources (see [[streamStreamLeftOuter]] for why the
    * filter must not exclude them at the scan).
    */
  private[graft] def signupPurchaseJoin(
      src: DataFrame, joinType: String, keepSentinels: Boolean): DataFrame = {
    def side(kind: String, user: String, id: String, ts: String) = {
      val f =
        if (keepSentinels) col("event_type") === kind || col("user_id") < 0
        else col("event_type") === kind
      src.filter(f)
        .select(col("user_id").as(user), col("event_id").as(id),
          col("ts").as(ts))
        .withWatermark(ts, "1 hour")
    }
    side("signup", "s_user", "signup_id", "s_ts").join(
      side("purchase", "p_user", "purchase_id", "p_ts"),
      col("s_user") === col("p_user")
        && col("p_ts") >= col("s_ts")
        && col("p_ts") <= col("s_ts") + expr("INTERVAL '30' MINUTE"),
      joinType)
  }

  private val streamStreamJoinOracle =
    """SELECT s.event_id AS signup_id, p.event_id AS purchase_id,
      | s.user_id, s.ts AS signup_ts, p.ts AS purchase_ts
      |FROM (SELECT * FROM events WHERE event_type = 'signup') s
      |JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
      |  ON s.user_id = p.user_id
      | AND p.ts >= s.ts AND p.ts <= s.ts + INTERVAL '30 minutes'
      |ORDER BY signup_id, purchase_id""".stripMargin

  /** The events table staged as 4 ts-range part files — the landing-zone
    * shape for genuinely incremental streaming tests: with
    * `maxFilesPerTrigger=1` an AvailableNow drain becomes 4 micro-batches
    * whose state must carry across batch boundaries (the single-batch
    * drains elsewhere never exercise that). Range partitioning makes file
    * order ≈ event-time order, so watermarks advance monotonically batch
    * over batch. FOUR chunks, not more: cross-batch state carry is proven
    * by ANY multi-batch split, and an sf1 scale sweep measured the
    * chunked queries' cost as almost pure per-micro-batch machinery
    * (wall-time exponents ≤0.11 in data size) — so batch count IS the
    * family's fixed cost, and 4 is the smallest count that still gives
    * state several boundaries to survive (open sessions spanning 3 cuts,
    * watermark advancing 3 times mid-stream).
    */
  private[graft] def chunkedEventsDir(
      spark: SparkSession, sfDir: String): java.io.File =
    graft.operators.Staging.stagedDir("graft_stream_chunks", sfDir,
      spec = "4-range-files;mtime-sequenced-v3") { d =>
      Tables(spark, sfDir, "events")
        .repartitionByRange(4, col("ts"), col("event_id"))
        .write.mode("overwrite").parquet(d.getAbsolutePath)
      // the file stream source ingests in MODIFICATION-TIME order, and the
      // 4 parallel write tasks finish within the same millisecond — left
      // alone, batch order is arbitrary, a late-range file can go first,
      // and its watermark marks every earlier-range file late (stateful
      // joins then drop them ALL; complete-mode aggs hide this because
      // they ignore watermarks). Range partition k holds the k-th ts
      // range, so spacing mtimes in part-file order makes arrival order =
      // event-time order — exactly how a real landing zone behaves.
      Option(d.listFiles()).getOrElse(Array.empty)
        .filter(_.getName.startsWith("part-")).sortBy(_.getName)
        .zipWithIndex.foreach { case (f, i) =>
          f.setLastModified(((System.currentTimeMillis() / 60000) * 60000)
            + i * 1000L)
        }
    }

  /** One-file-per-trigger chunked source over the staged ts-range files,
    * with the two watermark sentinels after them when `sentinels` (see
    * [[chunkedEventsWithSentinelDir]]). ts arrives TIMESTAMP_NTZ from
    * [[Tables]]' normalization; cast to LTZ for watermarking — session is
    * UTC, so wall-clock math is unchanged.
    */
  private[graft] def chunkedSource(spark: SparkSession, sfDir: String,
      sentinels: Boolean = false): DataFrame = {
    val dir =
      if (sentinels) chunkedEventsWithSentinelDir(spark, sfDir)
      else chunkedEventsDir(spark, sfDir)
    val schema = spark.read.parquet(dir.getAbsolutePath).schema
    spark.readStream
      .schema(schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(dir.getAbsolutePath)
      .withColumn("ts", col("ts").cast("timestamp"))
  }

  /** The chunked staging plus TWO watermark-advancing SENTINEL files (2 h
    * and 4 h past the corpus maximum, mtime-sequenced last), so event-time
    * timeouts can flush every open session tail — exactly how a production
    * backfill closes its last sessions (advance the clock, don't poke the
    * state). TWO because the watermark a batch runs under comes from the
    * PREVIOUS batch's data: sentinel-1's batch still runs at
    * (last-file max − delay). Spark 4.1's AvailableNow does run one
    * further no-data batch after the last file (DevDiag shows it, with
    * rows=0), so sentinel-1 alone may now flush every tail; sentinel-2
    * is kept until that is measured on its own, since dropping it
    * changes the fixture. Sentinel-2's batch runs under sentinel-1's
    * watermark (max + 1 h), past every possible (end + gap). The sentinel
    * rows carry user_id = -1 and flow through the whole pipeline — their
    * session rows are dropped from the OUTPUT, because filtering them
    * before the watermark pushes the predicate into the parquet scan and
    * row-group stats skip the sentinel files outright (see
    * [[sessionizeIncremental]]).
    */
  private[graft] def chunkedEventsWithSentinelDir(
      spark: SparkSession, sfDir: String): java.io.File =
    graft.operators.Staging.stagedDir("graft_stream_chunks_sent", sfDir,
      spec = "4-range-files+2-sentinels;mtime-sequenced-v4") { d =>
      val ev = Tables(spark, sfDir, "events")
      ev.repartitionByRange(4, col("ts"), col("event_id"))
        .write.mode("overwrite").parquet(d.getAbsolutePath)
      // one job: a single scan for the corpus maximum places both
      // sentinels, each written to its own tag= directory
      val tmp = new java.io.File(d, "_sentinel_tmp")
      ev.agg(max(col("ts")).as("m"))
        .select(col("m"), explode(array(
          struct(expr("INTERVAL '2' HOUR").as("after"), lit("z1").as("tag")),
          struct(expr("INTERVAL '4' HOUR").as("after"), lit("z2").as("tag"))))
          .as("s"))
        .coalesce(1)
        .select(
          lit(-1L).as("event_id"),
          (col("m") + col("s.after")).as("ts"),
          lit(-1L).as("user_id"),
          lit("sentinel").as("event_type"),
          lit(0.0).as("value"),
          lit("{}").as("props"),
          col("s.tag").as("tag"))
        .write.partitionBy("tag").mode("overwrite")
        .parquet(tmp.getAbsolutePath)
      Seq("z1", "z2").foreach { tag =>
        val part = Option(new java.io.File(tmp, s"tag=$tag").listFiles())
          .getOrElse(Array.empty)
          .find(f => f.getName.startsWith("part-")
            && f.getName.endsWith(".parquet"))
          .getOrElse(sys.error(s"sentinel $tag part file missing"))
        // "part-z..." sorts after part-0000N, so the mtime sequencing
        // below puts the sentinels LAST in arrival order
        java.nio.file.Files.move(part.toPath,
          new java.io.File(d, s"part-$tag-sentinel.parquet").toPath,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      }
      graft.sources.GraftParquetIO.deleteRecursively(tmp)
      Option(d.listFiles()).getOrElse(Array.empty)
        .filter(_.getName.startsWith("part-")).sortBy(_.getName)
        .zipWithIndex.foreach { case (f, i) =>
          f.setLastModified(((System.currentTimeMillis() / 60000) * 60000)
            + i * 1000L)
        }
    }

  /** The incremental sessionizer re-expressed on `transformWithState` —
    * Spark 4's arbitrary-state API that replaces flatMapGroupsWithState:
    * NAMED typed state variables instead of one state blob (the open tail
    * and the emitted counter evolve independently — adding a third
    * variable later won't migrate the other two), explicit TIMERS instead
    * of one timeout slot, and RocksDB-backed stores. Semantics are
    * identical to [[sessionizeIncremental]], so the same batch oracle
    * gates both. One real API difference is load-bearing: timers
    * ACCUMULATE (setTimeoutTimestamp replaced its predecessor), so a
    * timer registered before a session was extended still fires — the
    * expired-timer handler must check the expiry against the CURRENT
    * tail's due time and ignore stale timers, or growing sessions flush
    * early and split.
    */
  class TwsSessionizer
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Long, StreamEvent, SessionRow] {
    import org.apache.spark.sql.Encoders
    import org.apache.spark.sql.streaming.{ExpiredTimerInfo, TimeMode, TimerValues, TTLConfig, ValueState}

    @transient private var open: ValueState[OpenSession] = _
    @transient private var emitted: ValueState[Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      open = getHandle.getValueState[OpenSession](
        "open", Encoders.product[OpenSession], TTLConfig.NONE)
      emitted = getHandle.getValueState[Long](
        "emitted", Encoders.scalaLong, TTLConfig.NONE)
    }

    private def emittedSoFar: Long = if (emitted.exists()) emitted.get() else 0L

    override def handleInputRows(
        uid: Long, rows: Iterator[StreamEvent],
        timerValues: TimerValues): Iterator[SessionRow] = {
      if (!rows.hasNext) return Iterator.empty
      val prior = emittedSoFar
      val (closed, tail) = SessionSplit(uid,
        Option.when(open.exists())(open.get()), prior, rows)
      val cur = tail.get // a non-empty batch always leaves a tail open
      open.update(cur)
      emitted.update(prior + closed.size)
      getHandle.registerTimer(math.max(SessionSplit.dueMs(cur),
        timerValues.getCurrentWatermarkInMs() + 1))
      closed.iterator
    }

    override def handleExpiredTimer(
        uid: Long, timerValues: TimerValues,
        expiredTimerInfo: ExpiredTimerInfo): Iterator[SessionRow] = {
      if (!open.exists()) return Iterator.empty
      val o = open.get()
      // stale timer from before the session grew: the CURRENT due time
      // moved later — ignore, the fresher timer is still registered
      if (expiredTimerInfo.getExpiryTimeInMs < SessionSplit.dueMs(o))
        return Iterator.empty
      val prior = emittedSoFar
      emitted.update(prior + 1)
      open.clear()
      SessionSplit.flush(uid, prior, Some(o)).iterator
    }
  }

  /** [[sessionizeIncremental]] on the transformWithState API (see
    * [[TwsSessionizer]]) — multiple named state variables, explicit
    * event-time timers, RocksDB state store. Same chunked+sentinel
    * source, same output contract, same batch oracle.
    */
  def sessionizeTws(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.TimeMode
    val sessions = chunkedSource(spark, sfDir, sentinels = true)
      .withWatermark("ts", "1 hour")
      .select(col("user_id"), col("event_id"), col("ts")).as[StreamEvent]
      .groupByKey(_.user_id)
      .transformWithState(new TwsSessionizer,
        TimeMode.EventTime(), OutputMode.Append())
    // transformWithState requires the RocksDB state store
    Session.withConfs(spark,
        "spark.sql.streaming.stateStore.providerClass" ->
          ("org.apache.spark.sql.execution.streaming.state." +
            "RocksDBStateStoreProvider")) {
      toMemory(sessions.toDF(), "append", "sess_tws", partitions = 1)
    }
      .filter(col("user_id") >= 0) // drop the sentinel user's sessions
      .select(col("user_id"), col("session_seq"), col("n_events"),
        col("session_start").cast(TimestampNTZType).as("session_start"),
        col("session_end").cast(TimestampNTZType).as("session_end"))
      .orderBy("user_id", "session_seq")
  }

  /** APPEND-mode windowed aggregation — the emit-once semantics the
    * complete-mode twins sidestep: a window's row is emitted exactly once,
    * and only after the watermark passes its end (the result is FINAL —
    * what you want feeding a downstream append-only sink, vs complete
    * mode's full-table rewrite every batch). Over the chunked+sentinel
    * source every real window closes (final watermark = corpus max + 1 h),
    * so the emitted set equals the batch aggregate and the shared oracle
    * applies. The sentinel rows aggregate into their own 'sentinel'-typed
    * windows, dropped at the output — same no-pre-watermark-filter rule
    * as [[sessionizeIncremental]] (pushdown would skip their files and
    * stall every window still open at the last real batch).
    */
  def tumblingAppendStream(spark: SparkSession, sfDir: String): DataFrame = {
    val agg = chunkedSource(spark, sfDir, sentinels = true)
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "10 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value"))
    toMemory(agg, "append", "tumbling_app")
      .filter(col("event_type") =!= "sentinel")
      .select(
        col("window.start").cast(TimestampNTZType).as("wstart"),
        col("window.end").cast(TimestampNTZType).as("wend"),
        col("event_type"), col("n"), col("sum_value"))
      .orderBy("wstart", "event_type")
  }

  /** Streaming SLIDING windows (10-min length, 5-min slide): every event
    * lands in TWO window states — the per-row fan-out happens at window
    * assignment (an expression, before the shuffle), so state volume is
    * overlap-factor × tumbling, which is the capacity planning number
    * sliding windows change. Complete mode + AvailableNow ⇒ equals the
    * batch sliding aggregation. (`count(DISTINCT)` is unsupported in
    * streaming — the batch twin `win_time_sliding` carries the distinct
    * variant; here count + exact decimal sum.)
    */
  def slidingStream(spark: SparkSession, sfDir: String): DataFrame = {
    val agg = eventStream(spark, sfDir)
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "10 minutes", "5 minutes"))
      .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value"))
    toMemory(agg, "complete", "sliding")
      .select(
        col("window.start").cast(TimestampNTZType).as("wstart"),
        col("window.end").cast(TimestampNTZType).as("wend"),
        col("n"), col("sum_value"))
      .orderBy("wstart")
  }

  private val slidingStreamOracle =
    s"""SELECT wstart, wstart + INTERVAL '10 minutes' AS wend,
       | CAST(count(*) AS BIGINT) AS n,
       | ${sqlDsum("value")} AS sum_value
       |FROM (SELECT unnest([time_bucket(INTERVAL '5 minutes', ts),
       |                     time_bucket(INTERVAL '5 minutes', ts)
       |                       - INTERVAL '5 minutes']) AS wstart,
       |       value
       |      FROM events)
       |GROUP BY wstart
       |ORDER BY wstart""".stripMargin

  /** CHAINED stateful operators in one streaming query (Spark 4 multiple
    * time-window aggregations, SPARK-40925): 10-minute per-type partials
    * re-aggregated into hourly bars by a SECOND windowed aggregation over
    * `window_time()` — the streaming rollup every metrics pipeline runs
    * (fine windows for alerting, coarse for dashboards, one query, no
    * re-read). The watermark propagates through the first aggregate:
    * each 10-min window closes when the watermark passes it, feeds the
    * hourly window as a single event at its window-end time, and the
    * hourly row is released in turn — two generations of state, both
    * evictable, both bounded by the same delay.
    *
    * Exactness: the first level keeps its value sum as DECIMAL (casting
    * to double per-partial would re-order additions at the second level);
    * one cast at the very end. Sentinel files close every real window;
    * sentinel rows drop after the sink.
    */
  def windowedRollupStream(spark: SparkSession, sfDir: String): DataFrame = {
    val tenMin = chunkedSource(spark, sfDir, sentinels = true)
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "10 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n10"),
        sum(col("value").cast(DecimalType(18, 2))).as("sv_dec"))
    val hourly = tenMin
      .groupBy(window(window_time(col("window")), "1 hour"),
        col("event_type"))
      .agg(sum(col("n10")).as("n"),
        sum(col("sv_dec")).cast(DoubleType).as("sum_value"),
        count(lit(1)).as("n_subwindows"))
    toMemory(hourly, "append", "rollup")
      .filter(col("event_type") =!= "sentinel")
      .select(
        col("window.start").cast(TimestampNTZType).as("wstart"),
        col("window.end").cast(TimestampNTZType).as("wend"),
        col("event_type"), col("n"), col("sum_value"), col("n_subwindows"))
      .orderBy("wstart", "event_type")
  }

  private val windowedRollupOracle =
    s"""SELECT wstart, wstart + INTERVAL '1 hour' AS wend, event_type,
       | CAST(count(*) AS BIGINT) AS n,
       | ${sqlDsum("value")} AS sum_value,
       | CAST(count(DISTINCT time_bucket(INTERVAL '10 minutes', ts))
       |   AS BIGINT) AS n_subwindows
       |FROM (SELECT time_bucket(INTERVAL '1 hour', ts) AS wstart,
       |             event_type, value, ts
       |      FROM events)
       |GROUP BY wstart, event_type
       |ORDER BY wstart, event_type""".stripMargin

  /** TRUE incremental sessionization — the production semantics the
    * single-batch [[sessionizeStateful]] never has to face: 6 micro-batches
    * (4 event-time-ranged files + 2 sentinels), sessions SPANNING batch
    * boundaries carried as open state, closed sessions emitted the moment a
    * successor event proves the gap, and tail sessions flushed by
    * EVENT-TIME TIMEOUT once the watermark passes (end + gap) — at which
    * point no non-late event can extend them, so closure is sound, not
    * heuristic. Session numbering stays continuous across flush/return
    * cycles via the emitted-session counter. Equals the batch
    * `win_sessionize` result exactly, hence the shared oracle.
    */
  def sessionizeIncremental(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    // NO pre-watermark sentinel filter: `user_id >= 0` doesn't reference
    // the watermark column, so Catalyst pushes it through the
    // EventTimeWatermark node into the parquet scan, where row-group
    // stats (user_id = -1 throughout) skip the sentinel FILES entirely —
    // the watermark then freezes at (last-real-file max − delay) and the
    // final tails never time out (measured: 21 sessions stuck in state).
    // The sentinel user sessionizes like anyone else; its output rows are
    // dropped after the sink.
    val sessions = chunkedSource(spark, sfDir, sentinels = true)
      .withWatermark("ts", "1 hour")
      .select(col("user_id"), col("event_id"), col("ts")).as[StreamEvent]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[IncrSessionState, SessionRow](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (uid: Long, evs: Iterator[StreamEvent],
         state: GroupState[IncrSessionState]) =>
          val prev = state.getOption.getOrElse(IncrSessionState(0L, None))
          if (state.hasTimedOut) {
            // watermark passed end + gap: the tail can no longer grow
            val out = SessionSplit.flush(uid, prev.sessionsEmitted, prev.open)
            state.update(
              IncrSessionState(prev.sessionsEmitted + out.size, None))
            out.iterator
          } else {
            val (closed, tail) =
              SessionSplit(uid, prev.open, prev.sessionsEmitted, evs)
            tail.foreach { o =>
              state.update(
                IncrSessionState(prev.sessionsEmitted + closed.size, tail))
              // flush the tail once the watermark passes its close window;
              // clamp above the current watermark (setting a timeout at or
              // below it is rejected)
              state.setTimeoutTimestamp(math.max(SessionSplit.dueMs(o),
                state.getCurrentWatermarkMs() + 1))
            }
            closed.iterator
          }
      }

    toMemory(sessions.toDF(), "append", "sess_incr")
      .filter(col("user_id") >= 0) // drop the sentinel user's sessions
      .select(col("user_id"), col("session_seq"), col("n_events"),
        col("session_start").cast(TimestampNTZType).as("session_start"),
        col("session_end").cast(TimestampNTZType).as("session_end"))
      .orderBy("user_id", "session_seq")
  }

  /** Tumbling counts again, but TRULY incremental: 4 micro-batches, each
    * merging its partial counts into windows opened by earlier batches —
    * the cross-batch state accumulation a one-batch AvailableNow drain
    * never tests (StreamingSpec asserts the 4-batch split; the shared
    * batch oracle pins the merged result). This is the closest local-mode
    * gets to the production continuous query: state outlives the trigger
    * that created it.
    */
  def incrementalDrain(spark: SparkSession, sfDir: String): DataFrame = {
    val agg = chunkedSource(spark, sfDir)
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "10 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value"))
    toMemory(agg, "complete", "incr")
      .select(
        col("window.start").cast(TimestampNTZType).as("wstart"),
        col("window.end").cast(TimestampNTZType).as("wend"),
        col("event_type"), col("n"), col("sum_value"))
      .orderBy("wstart", "event_type")
  }

  /** Stream–stream LEFT OUTER interval join, fully oracle-gated: every
    * signup emits exactly one row per matching purchase OR one null-padded
    * row once the watermark proves no match can arrive — and over the
    * sentinel-closed chunked source the final watermark (corpus max + 1 h)
    * passes every signup's join window, so the emitted set equals the
    * batch LEFT JOIN row for row (the StreamingSpec variant checks the
    * flush dynamics; this pins the complete result). The side filters
    * keep the sentinel rows (`OR user_id < 0`): a pure event-type filter
    * would push into the scan and skip the sentinel files, stalling both
    * sides' watermarks (see [[sessionizeIncremental]]). Sentinel self-join
    * rows drop at the output.
    */
  def streamStreamLeftOuter(spark: SparkSession, sfDir: String): DataFrame = {
    val src = chunkedSource(spark, sfDir, sentinels = true)
    val joined = signupPurchaseJoin(src, "leftOuter", keepSentinels = true)
    toMemory(joined, "append", "louter", partitions = 1)
      .filter(col("s_user") >= 0)
      .select(col("signup_id"), col("purchase_id"),
        col("s_user").as("user_id"),
        col("s_ts").cast(TimestampNTZType).as("signup_ts"),
        col("p_ts").cast(TimestampNTZType).as("purchase_ts"))
      .orderBy("signup_id", "purchase_id")
  }

  /** Stream-stream LEFT SEMI join — "signups that converted within 30
    * minutes", emitting each signup AT MOST ONCE with no purchase columns:
    * the existence test as a streaming operator, completing the join
    * matrix (inner / left outer / full outer / semi). Same
    * [[signupPurchaseJoin]] pipeline, so the spec-guarded builder can't
    * drift; semi state is the cheapest of the four (left rows drop from
    * state on first match, right rows keep only the time-bounded window),
    * and the sentinel-closed source makes the emitted set equal the batch
    * EXISTS exactly.
    */
  def streamStreamSemi(spark: SparkSession, sfDir: String): DataFrame = {
    val src = chunkedSource(spark, sfDir, sentinels = true)
    val joined = signupPurchaseJoin(src, "left_semi", keepSentinels = true)
    toMemory(joined, "append", "semi", partitions = 1)
      .filter(col("s_user") >= 0)
      .select(col("signup_id"), col("s_user").as("user_id"),
        col("s_ts").cast(TimestampNTZType).as("signup_ts"))
      .orderBy("signup_id")
  }

  private val streamStreamSemiOracle =
    """SELECT s.event_id AS signup_id, s.user_id, s.ts AS signup_ts
      |FROM events s
      |WHERE s.event_type = 'signup' AND EXISTS (
      |  SELECT 1 FROM events p
      |  WHERE p.event_type = 'purchase' AND p.user_id = s.user_id
      |    AND p.ts >= s.ts AND p.ts <= s.ts + INTERVAL '30 minutes')
      |ORDER BY signup_id""".stripMargin

  private val streamStreamLeftOuterOracle =
    """SELECT s.event_id AS signup_id, p.event_id AS purchase_id,
      | s.user_id, s.ts AS signup_ts, p.ts AS purchase_ts
      |FROM (SELECT * FROM events WHERE event_type = 'signup') s
      |LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
      |  ON s.user_id = p.user_id
      | AND p.ts >= s.ts AND p.ts <= s.ts + INTERVAL '30 minutes'
      |ORDER BY signup_id, purchase_id NULLS FIRST""".stripMargin

  /** Stream-stream FULL OUTER interval join — completes the streaming
    * join matrix (inner and LEFT OUTER elsewhere): every match, PLUS one
    * null-padded row per provably-unmatched signup, PLUS one per
    * provably-unmatched purchase — both proofs coming from the watermark
    * passing the respective join windows. State and eviction are exactly
    * the LEFT OUTER machinery applied on both sides; the sentinel-closed
    * source pushes the final watermark past every window so the emitted
    * set equals the batch FULL JOIN row for row. Sentinel rows (either
    * side) drop at the output via the coalesced user key.
    */
  def streamStreamFullOuter(spark: SparkSession, sfDir: String): DataFrame = {
    val src = chunkedSource(spark, sfDir, sentinels = true)
    val joined = signupPurchaseJoin(src, "fullOuter", keepSentinels = true)
    toMemory(joined, "append", "fouter", partitions = 1)
      .filter(coalesce(col("s_user"), col("p_user")) >= 0)
      .select(col("signup_id"), col("purchase_id"),
        coalesce(col("s_user"), col("p_user")).as("user_id"),
        col("s_ts").cast(TimestampNTZType).as("signup_ts"),
        col("p_ts").cast(TimestampNTZType).as("purchase_ts"))
      .orderBy("signup_id", "purchase_id")
  }

  private val streamStreamFullOuterOracle =
    """SELECT s.event_id AS signup_id, p.event_id AS purchase_id,
      | coalesce(s.user_id, p.user_id) AS user_id,
      | s.ts AS signup_ts, p.ts AS purchase_ts
      |FROM (SELECT * FROM events WHERE event_type = 'signup') s
      |FULL JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
      |  ON s.user_id = p.user_id
      | AND p.ts >= s.ts AND p.ts <= s.ts + INTERVAL '30 minutes'
      |ORDER BY signup_id NULLS FIRST, purchase_id NULLS FIRST""".stripMargin

  /** Streaming → file sink through foreachBatch — the production landing
    * pattern the memory sink stands in for everywhere else: each
    * micro-batch body runs as a BATCH write, here parquet append (on a
    * table format this same hook does MERGE INTO for exactly-once; with
    * plain parquet, idempotence comes from overwriting by batch-derived
    * partition — simplified here to a per-run reset + append since
    * AvailableNow drains deterministically). The sink directory is then
    * read back as a normal batch relation and aggregated; the oracle
    * aggregates the original table, so the stream→sink→scan roundtrip
    * must be lossless.
    */
  def foreachBatchSink(spark: SparkSession, sfDir: String): DataFrame = {
    // emptied per run: the query IS the sink write (measured like the
    // ORC roundtrip), and a re-run must not double the data
    val dir = graft.sources.GraftParquetIO.scratchDir(
      "graft_stream_sink", sfDir)
    drain(spark, eventStream(spark, sfDir).writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        batch.write.mode("append").parquet(dir.getAbsolutePath)
      }, partitions = Some(2))()
    spark.read.parquet(dir.getAbsolutePath)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        countDistinct(col("user_id")).as("n_users"),
        dsum(col("value")).as("sum_value"))
      .orderBy("event_type")
  }

  private val foreachBatchSinkOracle =
    s"""SELECT event_type, CAST(count(*) AS BIGINT) AS n,
       | CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
       | ${sqlDsum("value")} AS sum_value
       |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  /** Streaming pipeline audit via `observe()` — the streaming twin of the
    * batch `ref_audit_observe`: per-MICRO-BATCH row/sum counters ride the
    * ingest pass as accumulator metrics, surfaced in each batch's
    * `StreamingQueryProgress.observedMetrics` (read synchronously off the
    * finished query — no listener race). The audit row the query emits is
    * the SUM of the per-batch metrics, and the oracle proves it equals
    * the batch totals: every row was observed exactly once across the 4
    * file-chunk micro-batches — the continuous ingest-reconciliation
    * counter a production stream publishes next to its output.
    *
    * Per-batch decimal sums re-accumulate through BigDecimal (associative;
    * micro-batch boundaries are a partition of the rows), so the audit
    * total is bitwise equal to the one-pass batch DECIMAL sum at any
    * chunking — the same reason [[Exact.dsum]] survives repartitioning.
    */
  def observedStreamAudit(spark: SparkSession, sfDir: String): DataFrame = {
    val src = chunkedSource(spark, sfDir)
      .observe("audit",
        count(lit(1)).as("rows_in"),
        sum(col("value").cast(DecimalType(18, 2))).cast(DoubleType)
          .as("sum_in"))
    val agg = src
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value"))
    val q = memoryDrain(agg, "complete", "observe", partitions = 2)
    val audits = q.recentProgress.toSeq
      .flatMap(p => Option(p.observedMetrics.get("audit")))
      .filter(r => !r.isNullAt(r.fieldIndex("rows_in"))
        && r.getAs[Long]("rows_in") > 0L)
    val rows = audits.map(_.getAs[Long]("rows_in")).sum
    val total = audits.map(r => BigDecimal.valueOf(r.getAs[Double]("sum_in"))
        .setScale(2, BigDecimal.RoundingMode.HALF_UP))
      .foldLeft(BigDecimal(0).setScale(2))(_ + _)
    import spark.implicits._
    val auditRow = Seq(("_AUDIT", rows, total.toDouble))
      .toDF("event_type", "n", "sum_value")
    spark.table(q.name)
      .select(col("event_type"), col("n"), col("sum_value"))
      .unionByName(auditRow)
      .orderBy("event_type")
  }

  /** Spark's NATIVE streaming session windows — the built-in contrast to
    * the three hand-rolled sessionizers ([[sessionizeStateful]] /
    * [[sessionizeIncremental]] / TwsSessionizer): `session_window` as a
    * grouping expression over a watermarked stream, gap-merged state kept
    * by the engine's session-window store, append mode releasing a
    * session only once the watermark proves no event can extend it
    * (start + the classic merge of overlapping [ts, ts+gap) intervals).
    * Sentinel rows (user -1, max+2h/+4h) push the final watermark past
    * every real session's close; their own never-closed session is
    * filtered after the fact. Same output contract as the batch operator,
    * so `win_session_window`'s lag+cumsum oracle gates both — native
    * window-merge state ≡ the windowed-SQL derivation, row for row.
    *
    * At 100 TB: state is per (user, open-session) and evicted at
    * watermark, like every windowed agg; the session MERGE happens in the
    * state store (per-key sorted interval merge), so cost scales with
    * open sessions, not history.
    */
  def sessionWindowStream(spark: SparkSession, sfDir: String): DataFrame = {
    val agg = chunkedSource(spark, sfDir, sentinels = true)
      .withWatermark("ts", "1 hour")
      .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n_events"), dsum(col("value")).as("sum_value"))
    toMemory(agg, "append", "sesswin")
      .filter(col("user_id") >= 0)
      .select(col("user_id"),
        col("session_window.start").cast(TimestampNTZType)
          .as("session_start"),
        col("session_window.end").cast(TimestampNTZType).as("session_end"),
        col("n_events"), col("sum_value"))
      .orderBy("user_id", "session_start")
  }

  private val observedStreamAuditOracle =
    s"""SELECT event_type, CAST(count(*) AS BIGINT) AS n,
       | ${sqlDsum("value")} AS sum_value
       |FROM events GROUP BY event_type
       |UNION ALL
       |SELECT '_AUDIT', CAST(count(*) AS BIGINT), ${sqlDsum("value")}
       |FROM events
       |ORDER BY event_type""".stripMargin

  /** One checkpointed AvailableNow drain of the in-memory log `topic`
    * into a parquet sink dir — the unit [[kafkaShapedRestart]] runs twice
    * (and StreamingSpec drives with its own scenario). Offset state lives
    * in `chk`; a second call with the same checkpoint RESUMES from the
    * committed offset. */
  private[graft] def drainLog(
      spark: SparkSession, topic: String, chk: java.io.File,
      sink: java.io.File, maxRecordsPerTrigger: Long): Unit =
    drain(spark, spark.readStream
      .format(classOf[InMemoryLogProvider].getName)
      .option("topic", topic)
      .option("maxRecordsPerTrigger", maxRecordsPerTrigger.toString)
      .load()
      .writeStream
      .outputMode("append")
      .foreachBatch { (b: DataFrame, _: Long) =>
        b.write.mode("append").parquet(sink.getAbsolutePath)
      }, chk.getAbsolutePath, partitions = Some(2))()

  /** Offset-managed restart over the Kafka-shaped DSv2 source
    * ([[InMemoryLogProvider]]) — the semantics the file source can't
    * exercise: drain the first half of the log under admission control
    * (maxRecordsPerTrigger = 1/4 of the half, so the drain is 4+ real
    * micro-batches), let MORE records arrive after the final commit, then
    * RESTART against the same checkpoint. The restarted query must resume
    * from the committed offset: re-reading duplicates the parquet sink's
    * rows, skipping drops them, and either fails the batch oracle (count
    * and sum are both duplicate- and gap-sensitive). The log is populated
    * from the events table ordered by event_id, so log offset i holds
    * event i — the broker buffer is in-process by construction (the
    * harness stand-in for Kafka; see [[InMemoryLog]]'s scale note), which
    * is why the populate step may collect: it IS the broker, not the
    * query's data path.
    */
  def kafkaShapedRestart(spark: SparkSession, sfDir: String): DataFrame = {
    import InMemoryLog.Record
    val topic = "events_" + sfDir.replaceAll("[^A-Za-z0-9.]", "_") +
      "_pid" + ProcessHandle.current().pid()
    val records = Tables(spark, sfDir, "events")
      .select("event_id", "user_id", "event_type", "value")
      .orderBy("event_id")
      .collect()
      .map(r => Record(r.getLong(0), r.getLong(1), r.getString(2),
        r.getDouble(3)))
      .toSeq
    val half = records.length / 2
    val chk = graft.sources.GraftParquetIO.scratchDir("graft_kafka_chk", sfDir)
    val sink =
      graft.sources.GraftParquetIO.scratchDir("graft_kafka_sink", sfDir)
    InMemoryLog.reset(topic)
    InMemoryLog.append(topic, records.take(half))
    drainLog(spark, topic, chk, sink, math.max(1, half / 4))
    // late arrivals land AFTER the first run fully committed
    InMemoryLog.append(topic, records.drop(half))
    drainLog(spark, topic, chk, sink, math.max(1, half / 4))
    spark.read.parquet(sink.getAbsolutePath)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        countDistinct(col("user_id")).as("n_users"),
        dsum(col("value")).as("sum_value"))
      .orderBy("event_type")
  }

  val queries: Seq[Query] = Seq(
    Query("stream_tumbling_counts",
      "Structured Streaming tumbling windows (AvailableNow; equals batch)",
      tumblingStream, Some(tumblingStreamOracle)),
    Query("stream_sessionize_stateful",
      "flatMapGroupsWithState sessionization (AvailableNow; equals batch)",
      sessionizeStateful, Some(sessionizeStatefulOracle)),
    Query("stream_dedup_exact",
      "streaming dropDuplicates over a doubled stream (equals single-copy)",
      dedupStream, Some(dedupStreamOracle)),
    Query("stream_update_mode",
      "update-mode aggregation upserted via foreachBatch (equals batch)",
      updateModeCounts, Some(updateModeCountsOracle)),
    Query("stream_enrich_static",
      "stream-static broadcast join + complete-mode aggregation",
      enrichStatic, Some(enrichStaticOracle)),
    Query("stream_stream_join",
      "watermarked stream-stream interval join (signup→purchase ≤30 min)",
      streamStreamJoin, Some(streamStreamJoinOracle)),
    Query("stream_foreachbatch_sink",
      "streaming → parquet file sink via foreachBatch, lossless roundtrip",
      foreachBatchSink, Some(foreachBatchSinkOracle)),
    Query("stream_observe_audit",
      "per-micro-batch observe() metrics sum to the exact batch totals",
      observedStreamAudit, Some(observedStreamAuditOracle)),
    Query("stream_session_window",
      "native streaming session_window, gap-merged state (equals batch)",
      sessionWindowStream,
      Some(graft.operators.TimeWindows.sessionWindowOracle)),
    Query("stream_incremental_drain",
      "4-micro-batch chunked drain, state merged across batches (= batch)",
      incrementalDrain, Some(tumblingStreamOracle)),
    Query("stream_sessionize_incremental",
      "multi-batch sessionization: open tails carried, event-time timeouts",
      sessionizeIncremental, Some(sessionizeStatefulOracle)),
    Query("stream_tumbling_append",
      "append-mode windows: emit-once, final, watermark-closed (= batch)",
      tumblingAppendStream, Some(tumblingStreamOracle)),
    Query("stream_windowed_rollup",
      "chained stateful aggs: 10-min windows re-aggregated hourly (Spark 4)",
      windowedRollupStream, Some(windowedRollupOracle)),
    Query("stream_sliding_counts",
      "streaming sliding windows (10 min / 5 min slide), complete mode",
      slidingStream, Some(slidingStreamOracle)),
    Query("stream_stream_full_outer",
      "stream-stream FULL OUTER interval join, watermark-proven nulls",
      streamStreamFullOuter, Some(streamStreamFullOuterOracle)),
    Query("stream_stream_left_outer",
      "stream-stream LEFT OUTER interval join, all nulls flushed (= batch)",
      streamStreamLeftOuter, Some(streamStreamLeftOuterOracle)),
    Query("stream_stream_semi",
      "stream-stream LEFT SEMI join: converted signups once each (= EXISTS)",
      streamStreamSemi, Some(streamStreamSemiOracle)),
    Query("stream_sessionize_tws",
      "transformWithState sessionization: named state vars + timers (= batch)",
      sessionizeTws, Some(sessionizeStatefulOracle)),
    Query("stream_kafka_restart",
      "Kafka-shaped DSv2 source: admission-controlled drain, offset-exact restart",
      kafkaShapedRestart, Some(foreachBatchSinkOracle)),
    Query("stream_merge_sink",
      "update-mode stream upserted via real MERGE INTO per micro-batch",
      mergeSink, Some(updateModeCountsOracle)),
  )
}
