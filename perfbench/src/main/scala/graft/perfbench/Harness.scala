package graft.perfbench

import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicLong, AtomicReference}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.datasources.v2.V2TableWriteExec
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd,
  SparkListenerSQLExecutionStart}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQueryListener, Trigger}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.QueryExecutionListener

import graft.SparkEntry

/** JVM side of the benchmark (perfbench/run.py drives it).
  *
  * Set-up (session, warm-ups, fixture staging) is timed from JVM start.
  * Then one client thread runs `SparkEntry.queries` one after
  * another (a closed loop) in the pass orders the spec lists. Each query's
  * timed action is an order-independent fingerprint that reads every
  * output column: the row count plus the exact sum of one `xxhash64` per
  * row, so Catalyst cannot prune the work away.
  *
  * Two counts are always on, because they are correctness guards rather
  * than tracing: streaming input rows and lake write actions, both
  * attributed to the running query. With `trace` on, the listeners also
  * record the Catalyst phases, task / stage / shuffle metrics, lake write
  * timings and the micro-batch breakdown, and the spans query → build /
  * action / stage / write / micro-batch are kept in memory and written
  * once at exit.
  *
  * Usage: Harness <spec.json>; writes the result JSON the spec names.
  */
object Harness {

  /** Sums and maxima of one query execution, filled by the listeners. */
  final class Acc {
    private val sums = new ConcurrentHashMap[String, AtomicLong]()
    val stageIntervals = ArrayBuffer.empty[(Long, Long)]
    def add(k: String, v: Long): Unit =
      sums.computeIfAbsent(k, _ => new AtomicLong).addAndGet(v)
    def max(k: String, v: Long): Unit =
      sums.computeIfAbsent(k, _ => new AtomicLong)
        .getAndAccumulate(v, Math.max(_, _))
    def get(k: String): Long = Option(sums.get(k)).map(_.get).getOrElse(0L)
    def snapshot: Map[String, Long] = sums.asScala.map { case (k, v) =>
      k -> v.get }.toMap
  }

  final case class Span(id: Long, parent: Long, kind: String, name: String,
      startMs: Long, endMs: Long)

  private val idle = new Acc
  private val current = new AtomicReference[Acc](idle)
  private val currentSpan = new AtomicLong(0L)
  private val spanIds = new AtomicLong(0L)
  private val spans = ArrayBuffer.empty[Span]
  private def span(parent: Long, kind: String, name: String, s: Long,
      e: Long): Unit = spans.synchronized {
    spans += Span(spanIds.incrementAndGet(), parent, kind, name, s, e)
  }

  /** Physical node names of the DSv2 lake write commands (a streaming
    * sink's write is not one of them). */
  private val lakeWriteNodes = Set("AppendData", "OverwriteByExpression",
    "OverwritePartitionsDynamic", "ReplaceData", "WriteDelta",
    "DeleteFromTable", "AtomicCreateTableAsSelect", "CreateTableAsSelect",
    "AtomicReplaceTableAsSelect", "ReplaceTableAsSelect", "TruncateTable")

  private def planNodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => planNodes(a.executedPlan)
    case other => other +: other.children.flatMap(planNodes)
  }

  /** Rows fed into a write: the first `numOutputRows` down its input chain. */
  private def rowsInto(p: SparkPlan): Long = p match {
    case a: AdaptiveSparkPlanExec => rowsInto(a.executedPlan)
    case n if n.metrics.contains("numOutputRows") =>
      n.metrics("numOutputRows").value
    case n if n.children.size == 1 => rowsInto(n.children.head)
    case _ => 0L
  }

  /** Micro-batches. Always counts input rows, for the guard that a drain
    * read something; traced, also the trigger breakdown and state store. */
  private final class StreamListener(trace: Boolean)
      extends StreamingQueryListener {
    import StreamingQueryListener._
    private val runs = new ConcurrentHashMap[java.util.UUID, (Acc, Long)]()
    override def onQueryStarted(e: QueryStartedEvent): Unit = {
      val acc = current.get
      runs.put(e.runId, (acc, currentSpan.get))
      acc.add("stream_queries", 1)
    }
    override def onQueryIdle(e: QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: QueryProgressEvent): Unit = {
      val p = e.progress
      val (acc, parent) = runs.getOrDefault(p.runId,
        (current.get, currentSpan.get))
      acc.add("stream_rows", p.numInputRows)
      if (trace) {
        def d(k: String): Long =
          Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)
        acc.add("batches", 1)
        acc.add("trigger_ms", d("triggerExecution"))
        acc.add("stream_planning_ms", d("queryPlanning"))
        acc.add("add_batch_ms", d("addBatch"))
        acc.add("wal_commit_ms", d("walCommit"))
        acc.add("commit_offsets_ms", d("commitOffsets"))
        val ops = Option(p.stateOperators).getOrElse(Array.empty)
        acc.add("state_commit_ms", ops.map(_.commitTimeMs).sum)
        acc.max("state_mem_b", ops.map(_.memoryUsedBytes).sum)
        acc.max("state_rows", ops.map(_.numRowsTotal).sum)
        val start = java.time.Instant.parse(p.timestamp).toEpochMilli
        span(parent, "batch", s"${p.name}#${p.batchId}", start,
          start + d("triggerExecution"))
      }
    }
  }

  /** SQL executions, stages and tasks. Always counts lake write actions,
    * for the guard that a lake query wrote; traced, also each write's
    * duration and post-task time (end minus its last stage: the
    * driver-side commit), and the stage and task metrics. */
  private final class EngineListener(trace: Boolean) extends SparkListener {
    private val writes = new ConcurrentHashMap[Long, (Acc, Long, Long)]()
    private val stageOwner = new ConcurrentHashMap[Int, (Acc, Long)]()
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart
          if lakeWriteNodes(s.sparkPlanInfo.nodeName) =>
        val acc = current.get
        acc.add("lake_writes", 1)
        writes.put(s.executionId, (acc, currentSpan.get, s.time))
      case end: SparkListenerSQLExecutionEnd if trace =>
        Option(writes.remove(end.executionId)).foreach {
          case (acc, parent, start) =>
            val lastStage = acc.stageIntervals.synchronized(
              acc.stageIntervals.collect {
                case (a, b) if a >= start && b <= end.time => b })
            acc.add("write_action_ms", end.time - start)
            acc.add("post_task_ms",
              end.time - lastStage.maxOption.getOrElse(start))
            span(parent, "write", s"execution ${end.executionId}", start,
              end.time)
        }
      case _ =>
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      if (trace)
        stageOwner.put(e.stageInfo.stageId, (current.get, currentSpan.get))
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      if (trace) {
        val si = e.stageInfo
        val (acc, parent) = Option(stageOwner.remove(si.stageId))
          .getOrElse((current.get, currentSpan.get))
        val end = si.completionTime.getOrElse(System.currentTimeMillis())
        val start = si.submissionTime.getOrElse(end)
        acc.add("stages", 1)
        acc.stageIntervals.synchronized { acc.stageIntervals += ((start, end)) }
        span(parent, "stage", s"stage ${si.stageId}", start, end)
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (trace && m != null) {
        val acc = current.get
        acc.add("tasks", 1)
        acc.add("exec_run_ms", m.executorRunTime)
        acc.add("exec_cpu_ms", m.executorCpuTime / 1000000L)
        acc.add("task_gc_ms", m.jvmGCTime)
        acc.max("peak_mem_b", m.peakExecutionMemory)
        acc.add("task_deser_ms", m.executorDeserializeTime)
        acc.add("shuffle_write_b", m.shuffleWriteMetrics.bytesWritten)
        acc.add("shuffle_read_b", m.shuffleReadMetrics.totalBytesRead)
        acc.add("fetch_wait_ms", m.shuffleReadMetrics.fetchWaitTime)
        acc.add("spill_disk_b", m.diskBytesSpilled)
        acc.add("spill_mem_b", m.memoryBytesSpilled)
        acc.add("scan_bytes", m.inputMetrics.bytesRead)
        acc.add("scan_rows", m.inputMetrics.recordsRead)
      }
    }
  }

  /** Catalyst phases of every action, and the rows each lake write took in
    * (traced runs only). */
  private object PlanListener extends QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = {
      val acc = current.get
      val ph = qe.tracker.phases
      def ms(k: String): Long = ph.get(k).map(_.durationMs).getOrElse(0L)
      acc.add("analysis_ms", ms("analysis"))
      acc.add("optimization_ms", ms("optimization"))
      acc.add("planning_ms", ms("planning"))
      acc.add("actions", 1)
      acc.add("write_rows", planNodes(qe.executedPlan).collect {
        case w: V2TableWriteExec if lakeWriteNodes(w.nodeName) =>
          rowsInto(w.query)
      }.sum)
    }
    override def onFailure(f: String, qe: QueryExecution,
        e: Exception): Unit = ()
  }

  /** LiveListenerBus.waitUntilEmpty is private[spark] but public in
    * bytecode: draining the bus between queries pins every event to the
    * query that caused it. */
  private def busDrainer(spark: SparkSession): () => Unit = {
    val sc = spark.sparkContext
    val bus = sc.getClass.getMethods.find(_.getName == "listenerBus").get
      .invoke(sc)
    val wait = bus.getClass.getMethods.find(m =>
      m.getName == "waitUntilEmpty" && m.getParameterCount == 1).get
    () => wait.invoke(bus, java.lang.Long.valueOf(10000L))
  }

  /** Order-independent fingerprint reading every output column: row count
    * and the exact (DECIMAL) sum of one xxhash64 per row. Columns are
    * renamed by position (duplicate names are legal in a DataFrame) and
    * maps are hashed as their key-sorted entries. */
  def fingerprint(df: DataFrame): (Long, String) = {
    val named = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    val cols = named.schema.fields.toSeq.map { f =>
      f.dataType match {
        case _: MapType => array_sort(map_entries(col(f.name)))
        case _ => col(f.name)
      }
    }
    val h = if (cols.isEmpty) lit(0L) else xxhash64(cols: _*)
    val r = named.agg(count(lit(1)), sum(h.cast(DecimalType(20, 0)))).head()
    (r.getLong(0), Option(r.getDecimal(1)).map(_.toPlainString).getOrElse("0"))
  }

  /** Bytes written through Hadoop file systems by every thread so far:
    * in local mode that includes the executors, and the lake's data and
    * metadata files go through them. */
  private def fsBytesWritten(): Long =
    org.apache.hadoop.fs.FileSystem.getGlobalStorageStatistics.iterator()
      .asScala.map(s => Option(s.getLong("bytesWritten")).fold(0L)(_.longValue))
      .sum

  private def unionMs(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var (cs, ce) = (Long.MinValue, Long.MinValue)
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (s > ce) { if (ce > cs) total += ce - cs; cs = s; ce = e }
      else ce = math.max(ce, e)
    }
    if (ce > cs) total += ce - cs
    total
  }

  def main(args: Array[String]): Unit = {
    import org.json4s._
    import org.json4s.jackson.JsonMethods.parse
    val spec = parse(new String(Files.readAllBytes(Paths.get(args(0))), "UTF-8"))
    def str(k: String): String = (spec \ k).asInstanceOf[JString].s
    val sfDir = str("sf_dir")
    val cpus = (spec \ "cpus") match { case JInt(n) => n.toInt; case _ => 4 }
    val trace = (spec \ "trace") == JBool(true)
    def names(k: String): Seq[String] = (spec \ k) match {
      case JArray(xs) => xs.collect { case JString(x) => x }; case _ => Nil }
    val warmups = names("warmup")
    val fixtures = names("stage")
    val dumpDir = (spec \ "dump_dir") match { case JString(s) => Some(s); case _ => None }
    val passes: Seq[Seq[String]] = (spec \ "passes") match {
      case JArray(ps) => ps.map { case JArray(qs) => qs.collect {
        case JString(q) => q }; case _ => Nil }
      case _ => Nil
    }
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean
      .getStartTime

    def build(): SparkSession = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .getOrCreate()

    // One-time costs absorbed before the first query, so that in a
    // single-pass workload a query's time does not depend on where in the
    // order it ran: the first stream-stream join paid 3-9 s more than the
    // others.
    def warmup(spark: SparkSession): Unit = warmups.foreach {
      case "stream" => warmupStream(spark)
      case other => throw new IllegalArgumentException(s"unknown warm-up $other")
    }

    // the streaming engine's cold path as the stream-stream joins take it:
    // a parquet file source drained AvailableNow through a watermarked
    // interval self-join on the RocksDB state store into a memory sink
    def warmupStream(spark: SparkSession): Unit = {
      val tmp = sys.props("java.io.tmpdir")
      spark.range(100).selectExpr("id % 10 AS k", "timestamp_seconds(id * 60) AS ts")
        .write.mode("overwrite").parquet(s"$tmp/warmup_stream")
      val src = spark.readStream.schema("k BIGINT, ts TIMESTAMP")
        .parquet(s"$tmp/warmup_stream")
      def side(p: String) = src.select(col("k").as(s"${p}_k"),
        col("ts").as(s"${p}_ts")).withWatermark(s"${p}_ts", "1 hour")
      val confs = Seq(
        "spark.sql.streaming.stateStore.providerClass" ->
          "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
        "spark.sql.streaming.join.stateFormatVersion" -> "3",
        "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled" ->
          "true")
      confs.foreach { case (k, v) => spark.conf.set(k, v) }
      try {
        side("a").join(side("b"), col("a_k") === col("b_k")
            && col("b_ts") >= col("a_ts")
            && col("b_ts") <= col("a_ts") + expr("INTERVAL '30' MINUTE"))
          .writeStream.format("memory").queryName("graft_warmup_stream")
          .option("checkpointLocation", s"$tmp/warmup_stream_chk")
          .trigger(Trigger.AvailableNow()).start().awaitTermination()
      } finally confs.foreach { case (k, _) => spark.conf.unset(k) }
      spark.catalog.dropTempView("graft_warmup_stream")
    }

    // the landing dirs the workload's streaming queries drain
    def stage(spark: SparkSession): Unit = fixtures.foreach {
      case "events_with_sentinels" =>
        graft.streaming.StreamingOps.chunkedEventsWithSentinelDir(spark, sfDir)
      case other => throw new IllegalArgumentException(s"unknown fixture $other")
    }

    // set-up counts from JVM start: a cold start is what every invocation
    // of the job pays
    val spark = build()
    spark.sparkContext.setLogLevel("WARN")
    val t1 = System.currentTimeMillis()
    warmup(spark)
    val t2 = System.currentTimeMillis()
    stage(spark)
    val t3 = System.currentTimeMillis()
    val setup = Map("session_ms" -> (t1 - jvmStart), "warmup_ms" -> (t2 - t1),
      "staging_ms" -> (t3 - t2), "total_ms" -> (t3 - jvmStart))
    spark.streams.addListener(new StreamListener(trace))
    spark.sparkContext.addSparkListener(new EngineListener(trace))
    if (trace) spark.listenerManager.register(PlanListener)
    val drain = busDrainer(spark)
    val gcBeans = java.lang.management.ManagementFactory
      .getGarbageCollectorMXBeans.asScala
    def gcMs(): Long = gcBeans.map(_.getCollectionTime).sum

    val queries = SparkEntry.queries
    val execs = ArrayBuffer.empty[Map[String, Any]]
    val passWalls = ArrayBuffer.empty[Long]
    val firstQueryMs = System.currentTimeMillis()
    for ((order, pass) <- passes.zipWithIndex) {
      val p0 = System.nanoTime()
      for (name <- order) {
        val acc = new Acc
        val qSpan = spanIds.incrementAndGet()
        val fsBytes0 = if (trace) fsBytesWritten() else 0L
        drain()
        current.set(acc)
        currentSpan.set(qSpan)
        val gc0 = gcMs()
        val s0 = System.currentTimeMillis()
        val t0 = System.nanoTime()
        var tBuilt = t0
        var err: String = null
        var fp: (Long, String) = (-1L, "")
        try {
          val df = queries(name)(spark, sfDir)
          tBuilt = System.nanoTime()
          fp = fingerprint(df)
          if (pass == 0) dumpDir.foreach(d =>
            df.coalesce(1).write.mode("overwrite").parquet(s"$d/$name"))
        } catch {
          case e: Throwable =>
            err = s"${e.getClass.getSimpleName}: ${Option(e.getMessage)
              .getOrElse("")}".take(300)
        }
        val t1 = System.nanoTime()
        val s1 = System.currentTimeMillis()
        spark.catalog.clearCache()
        drain()
        current.set(idle)
        currentSpan.set(0L)
        val sBuilt = s0 + (tBuilt - t0) / 1000000L
        if (trace) {
          spans.synchronized { spans += Span(qSpan, 0L, "query", name, s0, s1) }
          span(qSpan, "build", name, s0, sBuilt)
          span(qSpan, "action", name, sBuilt, s1)
          val wallMs = s1 - s0
          acc.add("driver_only_ms", math.max(0L,
            wallMs - unionMs(acc.stageIntervals.synchronized(acc.stageIntervals.toSeq))))
          acc.add("driver_gc_ms", gcMs() - gc0)
          if (acc.get("lake_writes") > 0)
            acc.add("write_b", fsBytesWritten() - fsBytes0)
        }
        execs += (acc.snapshot ++ Map(
          "q" -> name, "pass" -> pass, "ok" -> (err == null),
          "err" -> err, "wall_ms" -> (t1 - t0) / 1e6,
          "build_ms" -> (tBuilt - t0) / 1e6, "rows" -> fp._1, "fp" -> fp._2))
      }
      passWalls += (System.nanoTime() - p0) / 1000000L
    }
    // the heap the run retains (caches, sinks, registries): the least
    // heap in use after each of three full GCs, with time between them for
    // Spark's ContextCleaner to release what the previous one freed
    val heap = java.lang.management.ManagementFactory.getMemoryMXBean
    val liveHeapKb = (1 to 3).map { _ =>
      System.gc()
      Thread.sleep(300)
      heap.getHeapMemoryUsage.getUsed / 1024
    }.min
    spark.stop()
    val rssKb = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.replaceAll("[^0-9]", "").toLong)
      .getOrElse(0L)

    def json(v: Any): String = v match {
      case null => "null"
      case s: String => "\"" + s.flatMap {
        case '"' => "\\\""; case '\\' => "\\\\"
        case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
      } + "\""
      case b: Boolean => b.toString
      case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
      case n: Number => n.toString
      case m: Map[_, _] => m.map { case (k, x) => json(k.toString) + ":" + json(x) }
        .mkString("{", ",", "}")
      case s: Iterable[_] => s.map(json).mkString("[", ",", "]")
      case other => json(other.toString)
    }
    (spec \ "oracle_out") match {
      case JString(path) => Files.writeString(Paths.get(path), json(
        SparkEntry.oracleSql.filter { case (q, _) => passes.flatten.contains(q) }))
      case _ =>
    }
    if (trace) {
      val spanJson = spans.synchronized(spans.toSeq).map(s => Map(
        "id" -> s.id, "parent" -> s.parent, "kind" -> s.kind, "name" -> s.name,
        "start_ms" -> s.startMs, "end_ms" -> s.endMs))
      Files.writeString(Paths.get(str("spans_out")), json(spanJson))
    }
    Files.writeString(Paths.get(str("out")), json(Map(
      "setup" -> setup, "jvm_start_ms" -> jvmStart,
      "first_query_ms" -> firstQueryMs, "peak_rss_kb" -> rssKb,
      "live_heap_kb" -> liveHeapKb,
      "pass_wall_ms" -> passWalls, "execs" -> execs)))
    // engine thread pools are not all daemon threads; do not wait for them
    // to time out
    sys.exit(0)
  }
}
