package graft

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicLong, AtomicReference}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageSubmitted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener._

/** The one per-query recorder of the dev mains: a task/stage listener and
  * a streaming listener on the session, recording into the
  * [[Profile.Record]] of the query [[time]] runs. A task or stage belongs
  * to the query running when its event is delivered; [[time]] drains the
  * bus before the next query starts, so the split is exact. A micro-batch
  * belongs to the query running when its stream STARTED (by `runId`):
  * progress events are asynchronous, and a stream's last batches can
  * arrive after its query has returned. */
final class Profile(spark: SparkSession) {
  import Profile._

  private val current = new AtomicReference("")
  private val runToQuery = new ConcurrentHashMap[java.util.UUID, String]()
  private val records = new ConcurrentHashMap[String, Record]()

  /** The record of query `name` (empty if it recorded nothing). */
  def apply(name: String): Record = records.computeIfAbsent(name, _ => new Record)

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: QueryStartedEvent): Unit =
      runToQuery.put(e.runId, current.get)
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: QueryProgressEvent): Unit = {
      val p = e.progress
      apply(runToQuery.getOrDefault(p.runId, current.get)).batches.add(Batch(
        p.batchId, p.numInputRows,
        p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
        Option(p.stateOperators).getOrElse(Array.empty).toSeq
          .map(s => (s.commitTimeMs, s.numRowsTotal))))
    }
  }

  private val taskListener = new SparkListener {
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(e.taskMetrics).foreach { m =>
        val r = apply(current.get)
        r.tasks.incrementAndGet()
        r.execMs.addAndGet(m.executorRunTime)
        r.taskGcMs.addAndGet(m.jvmGCTime)
        r.peakMem.getAndAccumulate(m.peakExecutionMemory, Math.max(_, _))
        r.shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
        r.shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
      val si = e.stageInfo
      apply(current.get).stages.add(
        (si.stageId, si.name, si.details.linesIterator.take(3).mkString(" <- ")))
    }
  }

  spark.streams.addListener(streamListener)
  spark.sparkContext.addSparkListener(taskListener)

  /** Take both listeners off the session. */
  def close(): Unit = {
    spark.streams.removeListener(streamListener)
    spark.sparkContext.removeSparkListener(taskListener)
  }

  /** Run `body` as query `name`, then drain the bus so every event it
    * caused is recorded under `name`. Returns the wall seconds, drain
    * included, and records them with the driver's GC ms over the run. */
  def time(name: String)(body: => Unit): Double = {
    current.set(name)
    val gc0 = driverGcMs()
    val t0 = System.nanoTime()
    body
    drainBus(spark)
    val r = apply(name)
    r.driverGcMs = driverGcMs() - gc0
    r.wallSec = (System.nanoTime() - t0) / 1e9
    r.wallSec
  }

  /** One `bench.trace.json` entry: `"name":{wall, driver GC, task
    * totals[, batches_id_ms_rows]}`. */
  def traceRow(name: String): String = {
    val r = apply(name)
    val bs = r.batches.toVector.map(b => s"[${b.id},${b.triggerMs},${b.rows}]")
    obj(Seq("wall_sec" -> sec3(r.wallSec), "driver_gc_ms" -> r.driverGcMs,
      "n_tasks" -> r.tasks, "exec_ms" -> r.execMs, "task_gc_ms" -> r.taskGcMs,
      "peak_task_mem" -> r.peakMem, "shuffle_read_b" -> r.shuffleRead,
      "shuffle_write_b" -> r.shuffleWrite) ++ (if (bs.isEmpty) Nil
      else Seq("batches_id_ms_rows" -> bs.mkString("[", ",", "]"))),
      s"\"$name\":{")
  }
}

object Profile {

  /** One micro-batch: id, input rows, the full `durationMs` map and each
    * state operator's (commit ms, rows). */
  final case class Batch(id: Long, rows: Long, durationMs: Map[String, Long],
      state: Seq[(Long, Long)]) {
    def triggerMs: Long = durationMs.getOrElse("triggerExecution", -1L)
  }

  /** Append-only and capped at 500 entries, so a runaway stream cannot
    * grow a record without bound. */
  final class Capped[A] {
    private val buf = ArrayBuffer.empty[A]
    def add(a: A): Unit = buf.synchronized { if (buf.length < 500) buf += a }
    def toVector: Vector[A] = buf.synchronized(buf.toVector)
  }

  /** What one query cost: wall and driver GC (set by [[Profile.time]]),
    * task totals, its micro-batches and its stages (id, name, callsite). */
  final class Record {
    @volatile var wallSec: Double = -1.0
    @volatile var driverGcMs: Long = 0L
    val tasks, execMs, taskGcMs, peakMem, shuffleRead, shuffleWrite =
      new AtomicLong
    val batches = new Capped[Batch]
    val stages = new Capped[(Int, String, String)]

    def shape: Shape = Shape(tasks.get, shuffleRead.get + shuffleWrite.get,
      batches.toVector.map(_.rows))
  }

  /** The structure a query ran with: tasks, shuffle bytes read plus
    * written, and each micro-batch's input rows. */
  final case class Shape(tasks: Long, shuffleB: Long, batchRows: Seq[Long])

  /** Classify a run of `wall` s against a reference run of `refWall` s.
    * None unless it is over 2× the reference (and over the floors: 2×
    * apart below a second is timer noise). Then "contention" only if the
    * structure is the reference's: equal tasks, shuffle bytes within
    * ±20 %, and the same batch count with the same rows in every batch —
    * the plan and the data volume are unchanged and only thread time
    * inflated, the shared-host signature. Anything else is "regression",
    * for a reader to explain. */
  def verdict(wall: Double, run: Shape, refWall: Double, ref: Shape)
      : Option[String] =
    if (refWall <= 0.05 || wall <= 1.0 || wall <= 2.0 * refWall) None
    else {
      val sameShuffle =
        if (ref.shuffleB == 0L) run.shuffleB == 0L
        else { val r = run.shuffleB.toDouble / ref.shuffleB; r > 0.8 && r < 1.25 }
      Some(if (run.tasks == ref.tasks && sameShuffle &&
        run.batchRows == ref.batchRows) "contention" else "regression")
    }

  /** A `bench.trace.json` read back: each query's wall seconds and shape. */
  def readTrace(json: String): Map[String, (Double, Shape)] = {
    implicit val formats: org.json4s.Formats = org.json4s.DefaultFormats
    org.json4s.jackson.JsonMethods.parse(json).extract[Map[String, TraceRow]]
      .map { case (n, r) => n -> ((r.wall_sec, Shape(r.n_tasks,
        r.shuffle_read_b + r.shuffle_write_b,
        r.batches_id_ms_rows.getOrElse(Nil).map(_(2))))) }
  }

  /** The fields of a trace row that [[readTrace]] reads. */
  final case class TraceRow(wall_sec: Double, n_tasks: Long,
      shuffle_read_b: Long, shuffle_write_b: Long,
      batches_id_ms_rows: Option[List[List[Long]]])

  /** Wait up to `timeoutMs` until the listener bus has delivered every
    * queued event; false if it did not empty in time or could not be
    * reached. `LiveListenerBus.waitUntilEmpty` is `private[spark]` but
    * public in bytecode, so reflection reaches it. */
  def drainBus(spark: SparkSession, timeoutMs: Long = 3000L): Boolean =
    try {
      val sc = spark.sparkContext
      val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
      bus.getClass.getMethod("waitUntilEmpty", classOf[Long])
        .invoke(bus, Long.box(timeoutMs))
      true
    } catch { case _: Exception => false }

  private def driverGcMs(): Long = java.lang.management.ManagementFactory
    .getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  /** `kvs` as JSON members `"k":v` (each `v` already JSON) in `open`…`close`. */
  def obj(kvs: Iterable[(String, Any)], open: String = "{", close: String = "}")
      : String = kvs.map { case (k, v) => s"\"$k\":$v" }.mkString(open, ",", close)

  /** Seconds to the millisecond: the run-to-run noise floor is ±30 %. */
  def sec3(v: Double): String =
    String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
}
