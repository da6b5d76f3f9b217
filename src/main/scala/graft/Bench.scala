package graft
import scala.jdk.CollectionConverters._
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = Session.cpus(32)
    // dev-only: bench a name-filtered subset (substring match, comma-sep)
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSeq)
    // NOTE: do NOT set a fixed spark.sql.streaming.checkpointLocation here.
    // A/B'd (tmpfs vs /tmp, ABAB over the 5 heaviest streaming queries):
    // 40.7/42.3 s vs 39.6 s — checkpoint I/O is ~3% of the streaming cost,
    // i.e. noise — AND a persistent base is a footgun: query names restart
    // per JVM, so a re-run resumes the PREVIOUS run's committed checkpoint
    // and silently processes zero rows (observed: 5 queries "ran" in
    // 1.16 s total). Per-query temp checkpoints stay.
    val spark = Session.local(cpus)
    // absorb one-time session costs (task dispatch JIT, parquet reader +
    // codegen framework init) so per-query numbers measure the queries,
    // not the first query's luck of position
    Session.consume(spark.range(1000000).selectExpr("sum(id)"))
    spark.read.parquet(s"$sfDir/region.parquet").count()
    // absorb the DSv2 lake-catalog cold path too (class init + codegen
    // of the write / row-level / change-feed machinery): the catalog is
    // large enough that its first use otherwise taxes whichever lake
    // query happens to run first — a position cost, not a query cost
    spark.conf.set("spark.sql.catalog.graftwarm",
      classOf[graft.sources.GraftLakeCatalog].getName)
    spark.sql("DROP TABLE IF EXISTS graftwarm.warmup")
    spark.sql("CREATE TABLE graftwarm.warmup (k BIGINT)")
    spark.range(10).selectExpr("id AS k").writeTo("graftwarm.warmup")
      .append()
    spark.sql("UPDATE graftwarm.warmup SET k = k + 1 WHERE k = 5")
    spark.read.option("graft.changes.from", "0")
      .option("graft.changes.to", "2").table("graftwarm.warmup").count()
    spark.sql("DROP TABLE IF EXISTS graftwarm.warmup")
    // pre-stage the chunked streaming fixtures: staging is one-time test
    // setup (fingerprint-cached on disk), not part of any operator's cost
    graft.streaming.StreamingOps.chunkedEventsDir(spark, sfDir)
    graft.streaming.StreamingOps.chunkedEventsWithSentinelDir(spark, sfDir)
    graft.operators.Dedup.stagedAdmissionChunks(spark, sfDir)
    // fixed name order: run-to-run and round-to-round comparability
    // (Map iteration order is hash-dependent)
    // a failed query must be DISTINCT in the output, not a silently-timed
    // row (a catch-all would record the fake-fast silent-checkpoint-resume
    // number the awaitDrained guard exists to prevent) — its elapsed time still counts toward the total, but the
    // name lands in an "errors" list any consumer can see
    val failed = scala.collection.mutable.LinkedHashMap.empty[String, String]
    // PER-BATCH STREAMING TRACE: one bench run
    // recorded stream_windowed_rollup at 35.8 s against a 4.2 s history
    // with the code unchanged, and nothing in the bench output could say
    // WHICH micro-batch stalled. A listener records every streaming
    // micro-batch's trigger duration keyed by the bench query running at
    // the time; the full trace lands in bench.trace.json and any query
    // whose wall time crosses the anomaly threshold gets a compact
    // stdout marker line — so a recurrence arrives self-diagnosed
    // (stalled batch id + duration) instead of as a bare total.
    val currentQuery = new java.util.concurrent.atomic.AtomicReference("")
    val traces = new java.util.concurrent.ConcurrentHashMap[
      String, scala.collection.mutable.ArrayBuffer[(Long, Long, Long)]]()
    // runId → bench query name, captured at query START:
    // listener-bus events are async, so a query's final micro-batches can
    // arrive after currentQuery moved on — keying progress rows by the
    // runId mapping pins every batch to the query that actually ran it
    val runToBench = new java.util.concurrent.ConcurrentHashMap[
      java.util.UUID, String]()
    spark.streams.addListener(
      new org.apache.spark.sql.streaming.StreamingQueryListener {
        import org.apache.spark.sql.streaming.StreamingQueryListener._
        override def onQueryStarted(e: QueryStartedEvent): Unit =
          runToBench.put(e.runId, currentQuery.get)
        override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
        override def onQueryProgress(e: QueryProgressEvent): Unit = {
          val p = e.progress
          val ms = Option(p.durationMs.get("triggerExecution"))
            .map(_.longValue).getOrElse(-1L)
          val name = runToBench.getOrDefault(p.runId, currentQuery.get)
          val buf = traces.computeIfAbsent(name,
            _ => scala.collection.mutable.ArrayBuffer.empty)
          buf.synchronized {
            if (buf.length < 500) buf += ((p.batchId, ms, p.numInputRows))
          }
        }
      })
    // BATCH SELF-DIAGNOSIS: the streaming trace says nothing about
    // batch queries. A
    // SparkListener aggregates per-query task metrics — executor run
    // time, JVM GC, peak execution memory, shuffle bytes — keyed by the
    // query running when the task ENDED; the bus is drained between
    // queries (below) so attribution is exact, and the whole vector
    // lands in bench.trace.json. A driver anomaly reading (e.g.
    // scalar_datetime at 8 s for a date_trunc rollup) then arrives with
    // the evidence to classify it: GC storm vs executor time vs pure
    // driver-side stall (wall ≫ exec).
    final class QStats {
      val tasks = new java.util.concurrent.atomic.AtomicLong
      val execMs = new java.util.concurrent.atomic.AtomicLong
      val gcMs = new java.util.concurrent.atomic.AtomicLong
      val peakMem = new java.util.concurrent.atomic.AtomicLong
      val shufRead = new java.util.concurrent.atomic.AtomicLong
      val shufWrite = new java.util.concurrent.atomic.AtomicLong
    }
    val qstats = new java.util.concurrent.ConcurrentHashMap[String, QStats]()
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onTaskEnd(
            e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
          val m = e.taskMetrics
          if (m != null) {
            val s = qstats.computeIfAbsent(currentQuery.get, _ => new QStats)
            s.tasks.incrementAndGet()
            s.execMs.addAndGet(m.executorRunTime)
            s.gcMs.addAndGet(m.jvmGCTime)
            s.peakMem.getAndAccumulate(m.peakExecutionMemory, Math.max(_, _))
            s.shufRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
            s.shufWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
          }
        }
      })
    // LiveListenerBus.waitUntilEmpty is private[spark]; bytecode-public,
    // so reflection reaches it — best-effort (a diagnostic must never
    // fail the bench), falling back to a short sleep
    val drainBus: () => Unit = {
      try {
        val sc = spark.sparkContext
        val busM = sc.getClass.getMethods.find(_.getName == "listenerBus").get
        val bus = busM.invoke(sc)
        val wait = bus.getClass.getMethods.find(m =>
          m.getName == "waitUntilEmpty" && m.getParameterCount == 1).get
        () => try wait.invoke(bus, java.lang.Long.valueOf(3000L))
          catch { case _: Throwable => () }
      } catch { case _: Throwable => () => Thread.sleep(50) }
    }
    val gcBeans = java.lang.management.ManagementFactory
      .getGarbageCollectorMXBeans.asScala
    def driverGcMs(): Long = gcBeans.map(_.getCollectionTime).sum
    val driverGc = scala.collection.mutable.LinkedHashMap.empty[String, Long]
    val results = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.forall(_.exists(name.contains)) }
      .map { case (name, fn) =>
      currentQuery.set(name)
      val gc0 = driverGcMs()
      val t0 = System.nanoTime()
      try Session.consume(fn(spark, sfDir)) catch {
        case e: Throwable =>
          // whitelist printable ASCII (\b, \f, \u0000 etc.
          // would still break the JSON line), then drop the two printable
          // chars that are JSON-structural in a quoted string
          failed(name) = Option(e.getMessage).getOrElse(e.getClass.getName)
            .replaceAll("[^\\x20-\\x7e]|[\"\\\\]", " ").take(120)
      }
      // queries may cache small intermediates (signature tables etc.);
      // drop them so later queries aren't measured under memory pressure
      spark.catalog.clearCache()
      // drain the listener bus so in-flight task/progress events land
      // under THIS query's name before currentQuery moves on
      drainBus()
      driverGc(name) = driverGcMs() - gc0
      name -> (System.nanoTime() - t0) / 1e9
    }
    // millisecond precision: the noise floor is ±30% run-to-run
    def sec3(v: Double): String =
      String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    val qs = results.map { case (k, v) => s"\"" + k + "\":" + sec3(v) }
      .mkString("{", ",", "}")
    val total = results.map(_._2).sum
    // a name-filtered dev subset is marked INSIDE the JSON so a file
    // consumer can never mistake a partial total for a full benchmark
    val partial = if (only.isDefined) """"partial":true,""" else ""
    // failures surface in BOTH emitted lines; an empty key is omitted so
    // a clean run's JSON is unchanged round-over-round
    val errs = if (failed.isEmpty) "" else failed
      .map { case (k, v) => s"\"" + k + "\":\"" + v + "\"" }
      .mkString(""""errors":{""", ",", "},")
    // per-query EXECUTOR time next to the wall time: wall ≫ exec at identical task counts is the established
    // host-contention signature, so shipping exec_ms in the bench JSON
    // itself lets a reader adjudicate a noisy wall reading without
    // opening the trace file
    val execMs = results.map { case (k, _) =>
      s"\"" + k + "\":" + Option(qstats.get(k)).map(_.execMs.get).getOrElse(0L)
    }.mkString("{", ",", "}")
    // SELF-ADJUDICATED ANOMALIES: a reader used to re-derive ">2x reading, same task count, same shuffle bytes
    // => host contention" by diffing four trace files. The bench now
    // ships that verdict itself: each query >2x slower than the
    // committed reference trace (dev/traces/bench.reference.json — the
    // latest clean leg; override via SPARK_GRAFT_REF_TRACE) gets a
    // one-line classification in the output JSON. "contention" = the
    // plan and data volume are provably unchanged (identical tasks,
    // ~same shuffle bytes) and only thread time inflated — the known
    // shared-host signature; anything else is flagged "regression" for
    // a human to read, never explained away.
    val refTrace: Map[String, (Double, Long, Long)] = try {
      val p = sys.env.getOrElse("SPARK_GRAFT_REF_TRACE",
        "dev/traces/bench.reference.json")
      // the committed reference was measured at the driver's bench scale
      // (sf0.1) — comparing a dev run at another sf would fabricate
      // verdicts (explicit SPARK_GRAFT_REF_TRACE overrides the gate)
      if (sys.env.get("SPARK_GRAFT_REF_TRACE").isEmpty &&
        !sfDir.endsWith("sf0.1")) Map.empty
      else if (!new java.io.File(p).isFile) Map.empty
      else {
        import org.json4s._
        org.json4s.jackson.JsonMethods.parse(
          java.nio.file.Files.readString(java.nio.file.Paths.get(p))) match {
          case JObject(fs) => fs.map { case (n, v) =>
            def num(k: String): Double = (v \ k) match {
              case JDouble(x) => x
              case JInt(x) => x.toDouble
              case JLong(x) => x.toDouble
              case _ => 0.0
            }
            n -> ((num("wall_sec"), num("n_tasks").toLong,
              (num("shuffle_read_b") + num("shuffle_write_b")).toLong))
          }.toMap
          case _ => Map.empty
        }
      }
    } catch { case _: Throwable => Map.empty } // diagnostics never fail the bench
    val verdicts = results.flatMap { case (name, wall) =>
      refTrace.get(name).collect {
        // floors: sub-second queries 2x apart are timer noise, not signal
        case (refWall, refTasks, refShuf)
            if refWall > 0.05 && wall > 1.0 && wall > 2.0 * refWall =>
          val s = Option(qstats.get(name))
          val tasks = s.map(_.tasks.get).getOrElse(0L)
          val shuf = s.map(x => x.shufRead.get + x.shufWrite.get)
            .getOrElse(0L)
          val sameTasks = tasks == refTasks
          val sameShuffle =
            if (refShuf == 0L) shuf == 0L
            else { val r = shuf.toDouble / refShuf; r > 0.8 && r < 1.25 }
          val verdict =
            if (sameTasks && sameShuffle) "contention" else "regression"
          name -> (s"""{"verdict":"$verdict","wall":${sec3(wall)},""" +
            s""""ref_wall":${sec3(refWall)},"n_tasks":$tasks,""" +
            s""""ref_tasks":$refTasks,"shuffle_b":$shuf,""" +
            s""""ref_shuffle_b":$refShuf}""")
      }
    }
    val verdictsJson = if (verdicts.isEmpty) "" else verdicts
      .map { case (k, v) => "\"" + k + "\":" + v }
      .mkString(""""verdicts":{""", ",", "},")
    val json =
      s"""{"metric":"total","value":${sec3(total)},"unit":"sec",$partial$errs$verdictsJson"queries":$qs,"per_query_exec_ms":$execMs,"sf":"$sfDir"}"""
    // a bare println is losable to sbt log interleaving — emit the line
    // under a unique grep-able marker AND persist it to a file.
    val marker =
      if (only.isDefined) "GRAFT_BENCH_JSON_PARTIAL" else "GRAFT_BENCH_JSON"
    println(s"$marker $json")
    // full per-batch streaming trace to a file; compact stdout marker for
    // queries whose wall time crossed the anomaly threshold (12 s: the
    // heaviest healthy streaming query reads ~7 s at sf0.1) — printed
    // before the final summary line, so stdout still ends with it
    val timeByName = results.toMap
    // one trace row per query: wall time, driver GC, aggregated task
    // metrics (exec/GC/peak-mem/shuffle), plus the per-micro-batch vector
    // for streaming queries — the full self-diagnosis record
    val allNames = (results.map(_._1) ++ traces.asScala.keys).distinct.sorted
    val traceJson = allNames.map { n =>
      val bs = traces.asScala.get(n)
        .map(b => b.synchronized(b.toVector)).getOrElse(Vector.empty)
      val batches = bs.map { case (id, ms, rows) =>
        s"[$id,$ms,$rows]" }.mkString("[", ",", "]")
      val s = Option(qstats.get(n))
      def l(f: QStats => Long): Long = s.map(f).getOrElse(0L)
      "\"" + n + "\":{\"wall_sec\":" +
        sec3(timeByName.getOrElse(n, -1.0)) +
        ",\"driver_gc_ms\":" + driverGc.getOrElse(n, 0L) +
        ",\"n_tasks\":" + l(_.tasks.get) +
        ",\"exec_ms\":" + l(_.execMs.get) +
        ",\"task_gc_ms\":" + l(_.gcMs.get) +
        ",\"peak_task_mem\":" + l(_.peakMem.get) +
        ",\"shuffle_read_b\":" + l(_.shufRead.get) +
        ",\"shuffle_write_b\":" + l(_.shufWrite.get) +
        (if (bs.isEmpty) "" else ",\"batches_id_ms_rows\":" + batches) +
        "}"
    }.mkString("{", ",", "}")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get("bench.trace.json"), traceJson + "\n")
    val anomalies = results.filter(_._2 > 12.0).sortBy(-_._2).take(3)
    anomalies.foreach { case (n, _) =>
      val bs = traces.asScala.get(n)
        .map(b => b.synchronized(b.toVector)).getOrElse(Vector.empty)
      val top = bs.sortBy(-_._2).take(6)
        .map { case (id, ms, rows) => s"\"b$id\":[$ms,$rows]" }
        .mkString("{", ",", "}")
      val s = Option(qstats.get(n))
      def l(f: QStats => Long): Long = s.map(f).getOrElse(0L)
      val batch = if (bs.isEmpty) ""
        else s""","n_batches":${bs.length},"slowest_ms_rows":$top"""
      println(s"""GRAFT_BENCH_TRACE {"query":"$n","wall_sec":${
        sec3(timeByName(n))},"exec_ms":${l(_.execMs.get)},"task_gc_ms":${
        l(_.gcMs.get)},"driver_gc_ms":${driverGc.getOrElse(n, 0L)}$batch}""")
    }
    // a filtered dev run must not clobber the last FULL run's bench.json —
    // without an explicit output override it lands in its own default file
    val out = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT",
      if (only.isDefined) "bench.partial.json" else "bench.json")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(out), json + "\n")
    // stop FIRST, then print as the process's last stdout line, so
    // Spark shutdown logging cannot interleave with it
    spark.stop()
    println(
      s"""{"metric":"total","value":${sec3(total)},"unit":"sec",$partial$errs$verdictsJson"n_queries":${results.size},"queries":$qs,"sf":"$sfDir"}""")
  }
}
