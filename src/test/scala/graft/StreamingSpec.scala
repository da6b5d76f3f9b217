package graft

import org.apache.spark.sql.functions._

import graft.functions.Exact._

/** Batch/streaming consistency: every streaming query drained with
  * Trigger.AvailableNow must equal the batch aggregate over the same data.
  */
class StreamingSpec extends SparkTestBase with StreamingRestartHarness {

  test("streaming dedup of a doubled stream equals the single-copy batch aggregate") {
    val got = run("stream_dedup_exact").collect()
      .map(r => (r.getString(0), r.getAs[Long]("n"), r.getAs[Double]("sum_value")))
    val want = spark.read.parquet(s"$Sf/events.parquet")
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value"))
      .orderBy("event_type").collect()
      .map(r => (r.getString(0), r.getAs[Long]("n"), r.getAs[Double]("sum_value")))
    assert(got.sameElements(want))
  }

  test("stream-static enrichment equals the batch join aggregate") {
    val got = run("stream_enrich_static").collect()
      .map(r => (r.getString(0), r.getAs[Long]("n"), r.getAs[Double]("sum_value")))
    val ev = spark.read.parquet(s"$Sf/events.parquet")
    val cust = spark.read.parquet(s"$Sf/customer.parquet")
      .select(col("c_custkey"), col("c_mktsegment"))
    val want = ev.join(cust, ev("user_id") === cust("c_custkey"))
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value"))
      .orderBy("c_mktsegment").collect()
      .map(r => (r.getString(0), r.getAs[Long]("n"), r.getAs[Double]("sum_value")))
    assert(got.sameElements(want))
  }

  test("stream-stream interval join equals the batch interval join") {
    val got = run("stream_stream_join").collect().map(_.toSeq)
    val ev = graft.sources.Tables(spark, Sf, "events")
    val s = ev.filter(col("event_type") === "signup")
      .select(col("event_id").as("signup_id"), col("user_id"), col("ts").as("signup_ts"))
    val p = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id").as("pu"),
        col("ts").as("purchase_ts"))
    val want = s.join(p, col("user_id") === col("pu")
        && col("purchase_ts") >= col("signup_ts")
        && col("purchase_ts") <= col("signup_ts") + expr("INTERVAL '30' MINUTE"))
      .select("signup_id", "purchase_id", "user_id", "signup_ts", "purchase_ts")
      .orderBy("signup_id", "purchase_id").collect().map(_.toSeq)
    assert(got.sameElements(want))
  }

  test("streaming tumbling windows equal the batch windowed aggregate") {
    val got = run("stream_tumbling_counts").collect().map(_.toSeq)
    val want = run("win_time_tumbling").collect().map(_.toSeq)
    assert(got.sameElements(want))
  }

  test("incremental drain splits into 4 micro-batches and still equals batch") {
    // the oracle-gated result equality, locally
    val got = run("stream_incremental_drain").collect().map(_.toSeq)
    val want = run("win_time_tumbling").collect().map(_.toSeq)
    assert(got.sameElements(want))
    // and the drain really was incremental: one staged ts-range file per
    // micro-batch (otherwise the query is just the single-batch twin again)
    import org.apache.spark.sql.streaming.Trigger
    val batches = new java.util.concurrent.atomic.AtomicInteger(0)
    val fn: (org.apache.spark.sql.DataFrame, Long) => Unit =
      (b, _) => { b.count(); batches.incrementAndGet(); () }
    val q = graft.streaming.StreamingOps.chunkedSource(spark, Sf)
      .writeStream.foreachBatch(fn)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    assert(batches.get() == 4, s"expected 4 file-batches, got ${batches.get()}")
  }

  test("incremental sessionization equals batch despite batch-boundary tails") {
    // sessions spanning micro-batch boundaries are carried as open state
    // and tails flush by event-time timeout — the result must still be
    // row-identical to the single-pass batch window
    val got = run("stream_sessionize_incremental").collect().map(_.toSeq)
    val want = run("win_sessionize").collect().map(_.toSeq)
    assert(got.length == want.length, s"${got.length} vs ${want.length}")
    assert(got.sameElements(want))
  }

  test("transformWithState warm-starts from batch-computed initial state") {
    // the migration path from a batch job to a streaming one: per-user
    // counts computed in BATCH over the history seed the streaming
    // query's state, and the stream only processes the increment
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode, Trigger}
    import spark.implicits._
    val ev = spark.read.parquet(s"$Sf/events.parquet")
      .select(col("user_id"), col("event_id"))
    val history = ev.filter(col("event_id") % 2 === 0)
    val increment = ev.filter(col("event_id") % 2 === 1)
    val feed = new RestartFeed("graft_tws_init")
    feed.addFile("inc", increment)

    val initial = history.groupBy("user_id").agg(count(lit(1)).as("n"))
      .as[(Long, Long)].groupByKey(_._1).mapValues(_._2)

    class CountProc extends org.apache.spark.sql.streaming
        .StatefulProcessorWithInitialState[Long, (Long, Long), (Long, Long), Long] {
      import org.apache.spark.sql.Encoders
      import org.apache.spark.sql.streaming.{TimerValues, TTLConfig, ValueState}
      @transient private var n: ValueState[Long] = _
      override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
        n = getHandle.getValueState[Long]("n", Encoders.scalaLong, TTLConfig.NONE)
      override def handleInitialState(
          key: Long, initialState: Long, timerValues: TimerValues): Unit =
        n.update(initialState)
      override def handleInputRows(
          key: Long, rows: Iterator[(Long, Long)],
          timerValues: TimerValues): Iterator[(Long, Long)] = {
        val total = (if (n.exists()) n.get() else 0L) + rows.size
        n.update(total)
        Iterator.single((key, total))
      }
    }

    Session.withConfs(spark,
        "spark.sql.streaming.stateStore.providerClass" ->
          "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider") {
      val streamed = spark.readStream.schema(ev.schema.toDDL)
        .parquet(feed.feed.getAbsolutePath)
        .as[(Long, Long)]
        .groupByKey(_._1)
        .transformWithState(new CountProc, TimeMode.None(),
          OutputMode.Append(), initial,
          org.apache.spark.sql.Encoders.product[(Long, Long)],
          org.apache.spark.sql.Encoders.scalaLong)
      val q = streamed.toDF("user_id", "total").writeStream
        .outputMode("append").format("memory")
        .queryName("graft_tws_init_sink")
        .option("checkpointLocation", feed.ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    val got = spark.table("graft_tws_init_sink").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val want = ev.groupBy("user_id").agg(count(lit(1)).as("n")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val streamedUsers = increment.select("user_id").distinct().collect()
      .map(_.getLong(0)).toSet
    assert(streamedUsers.nonEmpty)
    // every user the increment touched must land on history + increment
    assert(streamedUsers.forall(u => got(u) == want(u)),
      "warm-started totals must equal the full batch recompute")
  }

  test("state store data source exposes checkpointed state for introspection") {
    // the ops surface: read a live checkpoint's dedup state as a DataFrame
    // — "what keys is this stream holding?" without touching the query
    import org.apache.spark.sql.functions._
    val feed = new RestartFeed("graft_statestore_spec")
    val ev = spark.read.parquet(s"$Sf/events.parquet")
      .select(col("event_id"), col("user_id"))
    feed.addFile("a", ev)
    var emitted = 0L
    feed.drain(ev.schema.toDDL)(_.dropDuplicates("event_id")) { b =>
      emitted += b.count()
    }
    val state = spark.read.format("statestore").load(feed.ckpt)
    val total = ev.count()
    assert(emitted == total)
    assert(state.count() == total, "one state row per distinct key")
    val stateKeys = state.select(col("key.event_id")).collect()
      .map(_.getLong(0)).toSet
    val want = ev.select("event_id").collect().map(_.getLong(0)).toSet
    assert(stateKeys == want, "state keys must be exactly the seen ids")
  }

  test("transformWithState sessionization equals the fMGWS and batch results") {
    val tws = run("stream_sessionize_tws").collect().map(_.toSeq)
    val want = run("win_sessionize").collect().map(_.toSeq)
    assert(tws.length == want.length, s"${tws.length} vs ${want.length}")
    assert(tws.sameElements(want))
  }

  test("stream-stream LEFT OUTER join emits nulls as the watermark passes") {
    import org.apache.spark.sql.streaming.Trigger
    import graft.streaming.StreamingOps
    // the chunked source advances the watermark batch over batch, which is
    // what entitles the join to declare earlier signups unmatchable — a
    // single-batch drain can never emit an outer null for lack of a later
    // batch to advance past it
    val src = StreamingOps.chunkedSource(spark, Sf)
    // the one pipeline definition shared with the stream_stream_join /
    // stream_stream_left_outer queries — this spec checks flush DYNAMICS
    // over the sentinel-less chunked source, so keepSentinels = false
    val joined = StreamingOps.signupPurchaseJoin(
      src, "leftOuter", keepSentinels = false)
    val q = joined.writeStream.outputMode("append").format("memory")
      .queryName("graft_spec_louter").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val out = spark.table("graft_spec_louter").collect()
    assert(out.nonEmpty)
    val nullRows = out.filter(_.isNullAt(out.head.fieldIndex("purchase_id")))
      .map(_.getLong(out.head.fieldIndex("signup_id"))).toSet

    // batch truth: the matched signup set and the overall time horizon
    // LTZ normalization (not batch NTZ): the assertions below collect ts as
    // java.sql.Timestamp, and interval math matches the streaming side
    val ev = graft.sources.Tables.normalizeEventTsStream(
      spark.read.parquet(s"$Sf/events.parquet"))
    val s = ev.filter(col("event_type") === "signup")
      .select(col("event_id").as("signup_id"), col("user_id"), col("ts").as("s_ts"))
    val p = ev.filter(col("event_type") === "purchase")
      .select(col("user_id").as("pu"), col("ts").as("p_ts"))
    val matched = s.join(p, col("user_id") === col("pu")
        && col("p_ts") >= col("s_ts")
        && col("p_ts") <= col("s_ts") + expr("INTERVAL '30' MINUTE"))
      .select("signup_id").distinct().collect().map(_.getLong(0)).toSet
    // (a) every outer null is genuinely unmatched in batch semantics
    assert(nullRows.intersect(matched).isEmpty)
    // (b) matched rows emitted eagerly and exactly (inner part unaffected)
    val matchedEmitted = out.filter(!_.isNullAt(out.head.fieldIndex("purchase_id")))
    assert(matchedEmitted.map(_.getLong(out.head.fieldIndex("signup_id"))).toSet
      == matched)
    // (c) completeness up to the watermark: every unmatched signup that the
    // final watermark provably passed (1 h delay + 30 min join window +
    // one full batch of slack) must have flushed a null row
    val maxTs = ev.agg(max(col("ts"))).collect()(0).getTimestamp(0).toInstant
    val horizon = maxTs.minusSeconds(3600 + 1800 + 4 * 24 * 3600)
    val oldIds = s.collect()
      .filter(r => !matched.contains(r.getLong(0)))
      .filter(r => r.getTimestamp(2).toInstant.isBefore(horizon))
      .map(_.getLong(0)).toSet
    assert(oldIds.nonEmpty, "fixture must leave some old unmatched signups")
    assert(oldIds.subsetOf(nullRows),
      s"${(oldIds -- nullRows).size} overdue signups never flushed a null")
  }

  test("watermark evicts state and drops late data across restarts") {
    // Everywhere else AvailableNow drains one finite batch, so the
    // watermark never advances PAST data and the semantics it exists for —
    // state eviction + late-row drop — go unexercised. Here two
    // AvailableNow runs share a checkpoint (a restart, production-style):
    // run 1 advances the watermark; run 2 delivers a row BEHIND it, which
    // must be dropped, while a fresh row advances the watermark far enough
    // to flush the previously open window from checkpointed state.
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val h = new RestartFeed("graft_late_eviction")

    def addFile(tag: String, times: Seq[String]): Unit =
      h.addFile(tag, times.toDF("raw").select(to_timestamp(col("raw")).as("ts")))

    def drain(): (Map[String, Long], org.apache.spark.sql.streaming.StreamingQuery) = {
      val emitted = new scala.collection.concurrent.TrieMap[String, Long]
      val q = h.drain("ts TIMESTAMP") { src =>
        src.withWatermark("ts", "10 minutes")
          .groupBy(window(col("ts"), "10 minutes"))
          .agg(count(lit(1)).as("n"))
          .select(col("window.start").cast("string").as("wstart"), col("n"))
      } { batch =>
        batch.collect().foreach(r => emitted.put(r.getString(0), r.getLong(1)))
      }
      (emitted.toMap, q)
    }

    // run 1: watermark ends at 13:00 − 10 min = 12:50, so the 12:00 window
    // is finalized and emitted; the 13:00 window stays open in state
    addFile("a", Seq(
      "2026-01-01 12:00:00", "2026-01-01 12:05:00", "2026-01-01 13:00:00"))
    val (sink1, _) = drain()
    assert(sink1 == Map("2026-01-01 12:00:00" -> 2L),
      s"run 1 must emit only the finalized 12:00 window, got $sink1")

    // run 2: 12:01 sits behind the 12:50 checkpointed watermark → dropped;
    // 13:30 advances the watermark to 13:20 → the open 13:00 window flushes
    // from recovered state with n=1 (NOT 2 — the late row must not count)
    addFile("b", Seq("2026-01-01 12:01:00", "2026-01-01 13:30:00"))
    val (sink2, q2) = drain()
    assert(sink2.get("2026-01-01 13:00:00").contains(1L),
      s"run 2 must flush the checkpointed 13:00 window untouched by the " +
        s"late row, got $sink2")
    assert(!sink2.contains("2026-01-01 12:00:00"),
      s"the late 12:01 row must not resurrect the finalized window: $sink2")
    val dropped = q2.recentProgress
      .flatMap(p => Option(p.stateOperators).toSeq.flatten)
      .map(_.numRowsDroppedByWatermark).sum
    assert(dropped == 1L,
      s"exactly the one late row must be dropped by the watermark, " +
        s"got $dropped")
  }

  test("foreachBatch replay is idempotent under dynamic partition overwrite") {
    // the exactly-once recipe stream_foreachbatch_sink documents: the batch
    // body writes partitioned by batch_id with DYNAMIC partition overwrite,
    // so an at-least-once redelivery of the same (batch, id) replaces its
    // own partition instead of appending a duplicate — and never touches
    // other batches' partitions
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files
      .createTempDirectory("graft_idempotent_sink").toString + "/t"
    def writeBatch(df: org.apache.spark.sql.DataFrame, batchId: Long): Unit =
      df.withColumn("batch_id", lit(batchId))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("batch_id").parquet(dir)
    val b7 = spark.range(100).toDF("id")
    val b8 = spark.range(100, 130).toDF("id")
    writeBatch(b7, 7)
    writeBatch(b8, 8)
    writeBatch(b7, 7) // redelivery of batch 7
    val byBatch = spark.read.parquet(dir)
      .groupBy("batch_id").count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(byBatch == Map(7 -> 100L, 8 -> 30L),
      s"replay must replace its own partition and leave others: $byBatch")
  }

  /** A restart feed of (id, ts) rows drained through
    * dropDuplicatesWithinWatermark: `drain()` returns the ids one run
    * emitted. */
  private final class DedupFeed(name: String) {
    val h = new RestartFeed(name)

    def addFile(tag: String, rows: Seq[(Long, String)]): Unit =
      h.addFile(tag, spark.createDataFrame(rows).toDF("id", "raw")
        .select(col("id"), to_timestamp(col("raw")).as("ts")))

    def drain(): Set[Long] = {
      val emitted = java.util.concurrent.ConcurrentHashMap.newKeySet[Long]()
      h.drain("id BIGINT, ts TIMESTAMP") { src =>
        src.withWatermark("ts", "10 minutes")
          .dropDuplicatesWithinWatermark("id")
      } { batch =>
        batch.collect().foreach(r => emitted.add(r.getLong(0)))
      }
      import scala.jdk.CollectionConverters._
      emitted.asScala.toSet
    }
  }

  test("dropDuplicatesWithinWatermark dedups across a checkpoint restart") {
    // the BOUNDED-state dedup the unbounded stream_dedup_exact documents as
    // its production form: key state lives only within the watermark delay.
    // A duplicate redelivered in a LATER run (recovered checkpoint, still
    // within the watermark) must be dropped by the restored key state.
    val f = new DedupFeed("graft_dedup_wm")
    f.addFile("a", Seq(1L -> "2026-01-01 12:55:00", 2L -> "2026-01-01 13:00:00"))
    assert(f.drain() == Set(1L, 2L))
    // id=2 redelivered at 13:02 — within the delay, key state recovered
    // from the checkpoint must swallow it; id=3 is fresh and passes
    f.addFile("b", Seq(2L -> "2026-01-01 13:02:00", 3L -> "2026-01-01 14:00:00"))
    val second = f.drain()
    assert(second == Set(3L),
      s"the redelivered id=2 must be deduped by restored state, got $second")
  }

  test("withLeanDrain pins the FileSystem checkpoint manager for its body only") {
    val key = Session.CheckpointManagerKey
    assert(spark.conf.getOption(key).isEmpty)
    val inside = Session.withLeanDrain(spark)(spark.conf.get(key))
    assert(inside == "graft.streaming.LocalCheckpointFileManager")
    assert(spark.conf.getOption(key).isEmpty,
      "the manager pin must not outlive the drain")
  }

  test("the local checkpoint manager's atomic writes survive a killed writer") {
    import java.nio.file.Files
    import org.apache.hadoop.fs.{FileAlreadyExistsException, Path}
    import org.apache.spark.sql.execution.streaming.checkpointing.{
      CheckpointFileManager, FileSystemBasedCheckpointFileManager}
    import graft.streaming.LocalCheckpointFileManager
    val conf = spark.sparkContext.hadoopConfiguration
    val dir = Files.createTempDirectory("graft_ckpt_fm")
    def root(sub: String) = new Path(dir.resolve(sub).toUri)
    val local = new LocalCheckpointFileManager(root("local"), conf)
    val spark0 = new FileSystemBasedCheckpointFileManager(root("spark"), conf)
    def write(fm: CheckpointFileManager, f: Path, text: String,
        overwrite: Boolean) = {
      val out = fm.createAtomic(f, overwrite)
      out.write(text.getBytes("UTF-8"))
      out
    }
    def read(fm: CheckpointFileManager, f: Path): String = {
      val in = fm.open(f)
      try new String(in.readAllBytes(), "UTF-8") finally in.close()
    }
    def names(sub: String): Set[String] = dir.resolve(sub).toFile.list().toSet
    val file = new Path(root("local"), "offsets/0")
    local.mkdirs(file.getParent)
    write(local, file, "v1", overwrite = false).close()
    // a killed writer: the stream is cancelled before its rename
    val killed = write(local, file, "v2", overwrite = true)
    killed.cancel()
    assert(read(local, file) == "v1", "the previous version stays readable")
    assert(names("local/offsets") == Set("0", ".0.crc"),
      "a cancelled write leaves no temp file; the .crc sidecar is written")
    intercept[FileAlreadyExistsException](
      write(local, file, "v3", overwrite = false).close())
    assert(read(local, file) == "v1")
    assert(names("local/offsets") == Set("0", ".0.crc"),
      "a refused write leaves no temp file and no temp .crc")
    // Spark's default manager reads the file back, its checksum verified
    val default = CheckpointFileManager.create(file.getParent,
      new org.apache.hadoop.conf.Configuration(conf))
    assert(!default.isInstanceOf[LocalCheckpointFileManager])
    assert(read(default, file) == "v1")
    // the modes match the ones Spark's own manager sets through chmod
    val other = new Path(root("spark"), "offsets/0")
    spark0.mkdirs(other.getParent)
    write(spark0, other, "v1", overwrite = false).close()
    for (rel <- Seq("offsets", "offsets/0", "offsets/.0.crc"))
      assert(Files.getPosixFilePermissions(dir.resolve(s"local/$rel")) ==
        Files.getPosixFilePermissions(dir.resolve(s"spark/$rel")), rel)
    graft.sources.GraftParquetIO.deleteRecursively(dir.toFile)
  }

  test("a lean drain starts no process for its checkpoint files") {
    import java.nio.file.Files
    import scala.jdk.CollectionConverters._
    import jdk.jfr.Recording
    import jdk.jfr.consumer.RecordingFile
    val rec = new Recording()
    rec.enable("jdk.ProcessStart").withStackTrace()
    rec.start()
    try {
      run("stream_stream_semi").count()
      // the recording's own control: one process this test starts
      new ProcessBuilder("true").start().waitFor()
    } finally rec.stop()
    val jfr = Files.createTempFile("graft_drain", ".jfr")
    try {
      rec.dump(jfr)
      val starts = RecordingFile.readAllEvents(jfr).asScala.toSeq
      def frames(e: jdk.jfr.consumer.RecordedEvent): Seq[String] =
        Option(e.getStackTrace).toSeq.flatMap(_.getFrames.asScala)
          .map(f => f.getMethod.getType.getName + "." + f.getMethod.getName)
      assert(starts.exists(frames(_).exists(_.contains("StreamingSpec"))),
        "the recording must see the control process start")
      val fromCheckpoints = starts.filter(
        frames(_).exists(_.contains("CheckpointFileManager")))
      assert(fromCheckpoints.size == 0,
        s"${fromCheckpoints.size} process starts from checkpoint files: " +
          fromCheckpoints.headOption.map(e =>
            frames(e).take(12).mkString("\n  ")).getOrElse(""))
    } finally {
      rec.close()
      Files.deleteIfExists(jfr)
    }
  }

  test("a registry drain leaves the Hadoop conf without property sources") {
    import org.apache.hadoop.conf.Configuration
    run("stream_tumbling_counts").count()
    // the copy every stream-stream join broadcasts
    val conf = spark.sessionState.newHadoopConf()
    val key = "io.file.buffer.size"
    assert(conf.get(key) != null)
    val sources = Option(conf.getPropertySources(key)).map(_.toSeq)
    assert(sources.isEmpty, s"$key still carries sources $sources")
    val tracked = new Configuration(false)
    conf.iterator().forEachRemaining(e => tracked.set(e.getKey, e.getValue))
    assert(tracked.getPropertySources(key) != null)
    def written(c: Configuration): Int = {
      val out = new java.io.ByteArrayOutputStream()
      c.write(new java.io.DataOutputStream(out))
      out.size
    }
    assert(written(conf) < written(tracked),
      s"write: ${written(conf)} B untracked vs ${written(tracked)} B tracked")
  }

  test("a checkpoint written under withLeanDrain resumes under either manager") {
    // the same bounded dedup restart, its runs alternating between the
    // pinned FileSystem manager and Spark's default: the offset, commit,
    // source-log and state files each writes must resume in the other
    val f = new DedupFeed("graft_dedup_lean")
    def leanDrain(): Set[Long] = Session.withLeanDrain(spark, f.h.ckpt) {
      assert(spark.conf.get(Session.CheckpointManagerKey) ==
        Session.FsCheckpointManager)
      f.drain()
    }
    f.addFile("a", Seq(1L -> "2026-01-01 12:55:00", 2L -> "2026-01-01 13:00:00"))
    assert(leanDrain() == Set(1L, 2L))
    f.addFile("b", Seq(2L -> "2026-01-01 13:02:00", 3L -> "2026-01-01 14:00:00"))
    assert(f.drain() == Set(3L),
      "the default manager must resume the pinned manager's checkpoint")
    f.addFile("c", Seq(3L -> "2026-01-01 14:03:00", 4L -> "2026-01-01 15:00:00"))
    assert(leanDrain() == Set(4L),
      "the pinned manager must resume the default manager's checkpoint")
  }

  test("chained stateful rollup recovers BOTH state generations across restarts") {
    // stream_windowed_rollup's restart story: the 10-min window partials
    // AND the hourly second-level state must both survive checkpoint
    // recovery. Hour-12 data lands in run 1; a watermark-advancing row in
    // run 2 closes the RECOVERED 10-min windows, feeds the RECOVERED
    // hourly state, and flushes the hour-12 rollup (a restarted
    // AvailableNow runs a finalizing no-data batch under the advanced
    // watermark — unlike mid-run batches, which lag one batch behind);
    // run 3 proves emit-once: only the newly closed hour-15 rollup
    // appears, hour 12 is never re-emitted.
    import org.apache.spark.sql.functions._
    val h = new RestartFeed("graft_rollup_restart")

    def addFile(tag: String, raws: Seq[String]): Unit =
      h.addFile(tag, spark.createDataFrame(raws.map(Tuple1(_))).toDF("raw")
        .select(to_timestamp(col("raw")).as("ts"), lit(1.0).as("value")))

    def drain(): Seq[(String, Long, Long)] = {
      val out = new java.util.concurrent.ConcurrentLinkedQueue[(String, Long, Long)]()
      h.drain("ts TIMESTAMP, value DOUBLE") { src =>
        src.withWatermark("ts", "10 minutes")
          .groupBy(window(col("ts"), "10 minutes"))
          .agg(count(lit(1)).as("n10"))
          .groupBy(window(window_time(col("window")), "1 hour"))
          .agg(sum(col("n10")).as("n"), count(lit(1)).as("n_subwindows"))
          .select(col("window.start").cast("string").as("h"),
            col("n"), col("n_subwindows"))
      } { batch =>
        batch.collect().foreach(r =>
          out.add((r.getString(0), r.getLong(1), r.getLong(2))))
      }
      import scala.jdk.CollectionConverters._
      out.asScala.toSeq
    }

    addFile("a", Seq(
      "2026-01-01 12:00:30", "2026-01-01 12:11:00", "2026-01-01 12:25:00"))
    assert(drain().isEmpty, "run 1: nothing can close yet")
    addFile("b", Seq("2026-01-01 15:00:00"))
    val got2 = drain()
    assert(got2 == Seq(("2026-01-01 12:00:00", 3L, 3L)),
      s"run 2 must flush exactly the recovered hour-12 rollup, got $got2")
    addFile("c", Seq("2026-01-01 18:00:00"))
    val got3 = drain()
    assert(got3 == Seq(("2026-01-01 15:00:00", 1L, 1L)),
      s"run 3 must flush only hour 15 — emit-once for hour 12, got $got3")
  }

  test("kafka-shaped source: restart resumes at the committed offset, " +
      "admission control bounds every batch, no dupes or drops") {
    import graft.streaming.{InMemoryLog, StreamingOps}
    import InMemoryLog.Record
    val topic = "spec_restart_topic"
    val n = 100
    val records = (0 until n).map(i =>
      Record(i.toLong, i.toLong % 7, s"t${i % 3}", i.toDouble))
    val tmp = new java.io.File(
      java.nio.file.Files.createTempDirectory("graft_kafka_spec").toFile,
      "x").getParentFile
    val chk = new java.io.File(tmp, "chk")
    val sink = new java.io.File(tmp, "sink")
    InMemoryLog.reset(topic)
    InMemoryLog.append(topic, records.take(60))
    StreamingOps.drainLog(spark, topic, chk, sink, maxRecordsPerTrigger = 25)

    // planInputPartitions runs several times per batch (logical planning,
    // physical planning, execution) — audit the distinct ranges in order;
    // no-data planning rounds carry s==e and are dropped
    def ranges = InMemoryLog.plannedRanges.get(topic)
      .synchronized(InMemoryLog.plannedRanges.get(topic).toVector)
      .filter { case (s, e) => s < e }.distinct
    val phase1 = ranges
    assert(phase1.head._1 == 0, "first batch starts at offset 0")
    assert(phase1.map(_._2).max == 60,
      "AvailableNow drains exactly what was present at trigger time")
    assert(phase1.forall { case (s, e) => e - s <= 25 },
      s"admission control: every batch within maxRecordsPerTrigger, $phase1")
    // the source-side commit() callback LAGS up to one batch (Spark
    // acknowledges batch N to the source when batch N+1 starts; the
    // checkpoint's commit log, not this callback, is what restart reads)
    // — same contract as Kafka consumer-offset advancement
    val c1 = InMemoryLog.committed.get(topic)
    assert(c1 >= phase1.init.last._2 && c1 <= 60L,
      s"run-1 commit callback within one batch of the drain end, got $c1")

    // late arrivals after the committed drain, then restart same checkpoint
    InMemoryLog.append(topic, records.drop(60))
    StreamingOps.drainLog(spark, topic, chk, sink, maxRecordsPerTrigger = 25)
    val all = ranges
    val phase2 = all.drop(phase1.length)
    assert(phase2.head._1 == 60,
      s"restart must resume at the checkpointed commit, planned $phase2")
    assert(all.sliding(2).forall {
      case Seq((_, e1), (s2, _)) => e1 == s2
      case _ => true
    }, s"planned ranges contiguous — no replays, no gaps: $all")
    val c2 = InMemoryLog.committed.get(topic)
    assert(c2 >= phase2.init.last._2 && c2 <= n.toLong,
      s"run-2 commit callback within one batch of the drain end, got $c2")

    // sink-level exactly-once: every record landed exactly once
    val landed = spark.read.parquet(sink.getAbsolutePath)
    assert(landed.count() == n && landed.select("event_id").distinct()
      .count() == n, "each log record written exactly once across restart")
    graft.sources.GraftParquetIO.deleteRecursively(tmp)
  }

  test("a silent zero-row streaming run fails loudly (checkpoint-resume guard)") {
    // THE benching footgun (Bench.scala checkpoint note): a fixed
    // checkpoint base makes a re-run resume the previous run's committed
    // offsets and "process" zero rows in near-zero time — a fake-fast
    // bench number. awaitDrained turns that silence into a hard failure
    // at every drain site; this reproduces the exact scenario: same
    // checkpoint, no new data since the committed drain.
    import graft.streaming.{InMemoryLog, StreamingOps}
    import InMemoryLog.Record
    val topic = "spec_zero_row_topic"
    val tmp = java.nio.file.Files.createTempDirectory("graft_zero_spec").toFile
    val chk = new java.io.File(tmp, "chk")
    val sink = new java.io.File(tmp, "sink")
    InMemoryLog.reset(topic)
    InMemoryLog.append(topic,
      (0 until 10).map(i => Record(i.toLong, i % 3L, s"t${i % 2}", i.toDouble)))
    StreamingOps.drainLog(spark, topic, chk, sink, maxRecordsPerTrigger = 5)
    val e = intercept[IllegalArgumentException] {
      StreamingOps.drainLog(spark, topic, chk, sink, maxRecordsPerTrigger = 5)
    }
    assert(e.getMessage.contains("ZERO"),
      s"guard must name the zero-row condition, got: ${e.getMessage}")
    graft.sources.GraftParquetIO.deleteRecursively(tmp)
  }

  test("a stream-stream join drain runs on the HDFS store and unloads it") {
    import java.util.UUID
    import java.util.concurrent.ConcurrentLinkedQueue
    import org.apache.spark.sql.execution.streaming.state.RunStateStores
    import org.apache.spark.sql.streaming.{StreamingQueryListener,
      StreamingQueryProgress}
    import StreamingQueryListener._
    import org.scalatest.concurrent.Eventually._
    import org.scalatest.time.SpanSugar._
    val runs = new ConcurrentLinkedQueue[UUID]()
    val progress = new ConcurrentLinkedQueue[StreamingQueryProgress]()
    val listener = new StreamingQueryListener {
      def onQueryStarted(e: QueryStartedEvent): Unit =
        if (e.name.startsWith("graft_stream_ssjoin_")) runs.add(e.runId)
      def onQueryProgress(e: QueryProgressEvent): Unit =
        progress.add(e.progress)
      def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    }
    spark.streams.addListener(listener)
    try {
      assert(run("stream_stream_join").count() > 0)
      assert(runs.size == 1, s"one join run expected, saw $runs")
      val runId = runs.peek()
      eventually(timeout(30.seconds)) {
        assert(progress.stream().anyMatch(_.runId == runId))
      }
      val ops = progress.toArray(Array.empty[StreamingQueryProgress])
        .filter(_.runId == runId).flatMap(_.stateOperators)
      assert(ops.nonEmpty, "the join reports no state operator")
      val metrics = ops.map(_.customMetrics.keySet).toSet
      assert(metrics.forall(_.contains("loadedMapCacheHitCount")),
        s"join state must run on the HDFS-backed provider, saw $metrics")
      val left = RunStateStores.loaded(runId)
      assert(left.isEmpty, s"the finished drain left $left loaded")
    } finally spark.streams.removeListener(listener)
  }

  test("every StreamingOps drain keeps its partition cap and restores the session") {
    import java.util.UUID
    import java.util.concurrent.ConcurrentLinkedQueue
    import scala.jdk.CollectionConverters._
    import org.apache.spark.sql.streaming.{StreamingQueryListener,
      StreamingQueryProgress}
    import StreamingQueryListener._
    import org.scalatest.concurrent.Eventually._
    import org.scalatest.time.SpanSugar._
    val started = new ConcurrentLinkedQueue[UUID]()
    val ended = new ConcurrentLinkedQueue[UUID]()
    val progress = new ConcurrentLinkedQueue[StreamingQueryProgress]()
    val listener = new StreamingQueryListener {
      def onQueryStarted(e: QueryStartedEvent): Unit = started.add(e.runId)
      def onQueryProgress(e: QueryProgressEvent): Unit =
        progress.add(e.progress)
      def onQueryTerminated(e: QueryTerminatedEvent): Unit = ended.add(e.runId)
    }
    // the smallest in-flight state takes 1 store partition, the rest 2
    val capOne = Set("stream_stream_join", "stream_stream_left_outer",
      "stream_stream_semi", "stream_stream_full_outer",
      "stream_sessionize_tws")
    val stateless = Set("stream_foreachbatch_sink", "stream_kafka_restart")
    val keys = Seq("spark.sql.shuffle.partitions", Session.CheckpointManagerKey)
    assert(spark.conf.get(keys.head).toInt > 2,
      "the session's count must sit above both caps for the pin to bite")
    spark.streams.addListener(listener)
    try graft.streaming.StreamingOps.queries.foreach { q =>
      Seq(started, ended, progress).foreach(_.clear())
      val before = keys.map(spark.conf.getOption)
      q.fn(spark, Sf)
      assert(keys.map(spark.conf.getOption) == before,
        s"${q.name} left ${keys.zip(before)} changed")
      eventually(timeout(30.seconds)) {
        assert(!started.isEmpty && ended.containsAll(started))
      }
      val parts = progress.asScala.flatMap(_.stateOperators)
        .map(_.numShufflePartitions).toSet
      val want = if (capOne(q.name)) 1L else 2L
      assert(parts.nonEmpty != stateless(q.name),
        s"${q.name} reports state operators $parts")
      assert(parts.forall(_ == want),
        s"${q.name} ran its state on $parts partitions, want $want")
    } finally spark.streams.removeListener(listener)
  }

  test("a failed stateful drain rethrows and still unloads its stores") {
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.execution.streaming.state.RunStateStores
    import org.apache.spark.sql.streaming.{StreamingQueryException, Trigger}
    import graft.streaming.StreamingOps
    val h = new RestartFeed("graft_failed_drain")
    import spark.implicits._
    h.addFile("a", Seq((1L, "x"), (2L, "y")).toDF("id", "k"))
    h.addFile("b", Seq((3L, "x")).toDF("id", "k"))
    val q = spark.readStream.schema("id BIGINT, k STRING")
      .option("maxFilesPerTrigger", "1")
      .parquet(h.feed.getAbsolutePath)
      .groupBy("k").count()
      .writeStream
      .outputMode("update")
      .foreachBatch { (batch: DataFrame, id: Long) =>
        batch.collect() // runs the aggregation: its stores load and commit
        if (id == 1) throw new IllegalStateException("graft batch 1 fails")
      }
      .option("checkpointLocation", h.ckpt)
      .trigger(Trigger.AvailableNow())
      .start()
    val e = intercept[StreamingQueryException](StreamingOps.awaitDrained(q))
    assert(causeMessages(e).contains("graft batch 1 fails"))
    assert(q.recentProgress.exists(_.stateOperators.exists(_.numRowsTotal > 0)),
      "batch 0 must have committed state before batch 1 failed")
    val left = RunStateStores.loaded(q.runId)
    assert(left.isEmpty, s"the failed drain left $left loaded")
    graft.sources.GraftParquetIO.deleteRecursively(h.root)
  }

  test("a Complete-mode aggregation replaces its lake sink each epoch; a replayed epoch is a no-op") {
    spark.conf.set("spark.sql.catalog.graftlake",
      classOf[graft.sources.GraftLakeCatalog].getName)
    val t = "graftlake.spec_stream_complete"
    spark.sql(s"DROP TABLE IF EXISTS $t")
    spark.sql(s"CREATE TABLE $t (g BIGINT, n BIGINT)")
    val table = graft.sources.GraftLakeCatalog
      .tableFor("graftlake", "spec_stream_complete").get
    val tmp = java.nio.file.Files.createTempDirectory("graft_complete_").toFile
    val land = new java.io.File(tmp, "land")
    val chk = new java.io.File(tmp, "chk")
    // three landing files of 30 rows → three epochs of 10 rows per group
    for (b <- 0 until 3)
      spark.range(b * 30L, (b + 1) * 30L).selectExpr("id % 3 AS g")
        .coalesce(1).write.mode("append").parquet(land.getAbsolutePath)
    val schema = spark.read.parquet(land.getAbsolutePath).schema
    def drain(): Unit = {
      val q = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(land.getAbsolutePath)
        .groupBy("g").agg(count(lit(1)).as("n"))
        .writeStream.outputMode("complete")
        .option("checkpointLocation", chk.getAbsolutePath)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .toTable(t)
      graft.streaming.StreamingOps.awaitDrained(q)
    }
    def rowsAt(v: Int): Seq[(Long, Long)] =
      spark.read.option("graft.snapshot-version", v.toString).table(t)
        .orderBy("g").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    try {
      val v0 = table.currentVersion
      drain()
      assert(table.currentVersion == v0 + 3, "one commit per epoch")
      // each epoch REPLACED the table with the running aggregate
      (1 to 3).foreach(i =>
        assert(rowsAt(v0 + i) == (0L until 3L).map(g => (g, 10L * i)),
          s"version ${v0 + i} holds exactly epoch ${i - 1}'s result"))
      // a crash after the sink commit but before the checkpoint's commit
      // log advanced: the restart re-runs the last epoch
      val commits = new java.io.File(chk, "commits")
      commits.listFiles().filter(f =>
        f.getName == "2" || f.getName == ".2.crc").foreach(_.delete())
      drain()
      assert(table.currentVersion == v0 + 3,
        "the replayed epoch commits nothing")
      assert(rowsAt(v0 + 3) == (0L until 3L).map(g => (g, 30L)))
      assert(!new java.io.File(table.filePaths.values.head).getParentFile
        .listFiles().exists(_.getName.startsWith("tmp_")),
        "the replayed epoch's task temps are unlinked")
    } finally {
      graft.sources.GraftParquetIO.deleteRecursively(tmp)
      spark.sql(s"DROP TABLE IF EXISTS $t")
    }
  }
}
