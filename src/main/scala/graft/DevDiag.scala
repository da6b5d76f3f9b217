package graft

/** Dev-only diagnosis harness (same spirit as [[DevTime]]): runs named
  * queries once and prints (a) the full per-micro-batch durationMs map for
  * any streaming query (queryPlanning vs addBatch vs walCommit vs
  * stateStore commit — the split Bench's trace cannot see), and (b) a
  * driver-side stack sample aggregated over the run, to attribute
  * wall ≫ exec gaps (planning? commit I/O? catalog?) without external
  * profilers. Never run by the driver harness; costs nothing at bench time.
  */
object DevDiag {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Session.local(Session.cpus(32))
    // map oversized-task stages back to the operator that planned them:
    // TaskSetManager's WARN names only the stage id; this prints the
    // stage's name + callsite so the closure bloat is attributable
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onStageSubmitted(
            e: org.apache.spark.scheduler.SparkListenerStageSubmitted)
            : Unit = {
          val si = e.stageInfo
          println(s"  [stage ${si.stageId}] ${si.name} | " +
            si.details.linesIterator.take(3).mkString(" <- "))
        }
      })
    // streaming progress: capture the FULL durationMs map per batch
    val batches = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    spark.streams.addListener(
      new org.apache.spark.sql.streaming.StreamingQueryListener {
        import org.apache.spark.sql.streaming.StreamingQueryListener._
        override def onQueryStarted(e: QueryStartedEvent): Unit = ()
        override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
        override def onQueryProgress(e: QueryProgressEvent): Unit = {
          val p = e.progress
          import scala.jdk.CollectionConverters._
          val dm = p.durationMs.asScala.toSeq.sortBy(-_._2)
            .map { case (k, v) => s"$k=$v" }.mkString(" ")
          val sns = Option(p.stateOperators).getOrElse(Array.empty)
            .map(s => s"commitMs=${s.commitTimeMs} rows=${s.numRowsTotal}")
            .mkString(" | ")
          batches.add(s"  batch ${p.batchId}: rows=${p.numInputRows} $dm" +
            (if (sns.nonEmpty) s"  [state: $sns]" else ""))
        }
      })
    args.foreach { name =>
      val fn = SparkEntry.queries(name)
      // driver stack sampler: every 20 ms, one frame-of-interest per
      // non-idle thread (the stream execution thread in any state: its
      // waits on jobs and forks are cost too), aggregated; prints the
      // top stacks after the run
      val counts = new java.util.concurrent.ConcurrentHashMap[String, Integer]()
      @volatile var sampling = true
      val sampler = new Thread(() => {
        while (sampling) {
          val all = Thread.getAllStackTraces()
          all.forEach { (t, st) =>
            val stream = t.getName.startsWith("stream execution thread")
            if ((stream || t.getState == Thread.State.RUNNABLE)
                && !t.getName.contains("sampler")) {
              frameOf(st).foreach { f =>
                counts.merge(s"[${t.getName.take(24)}] $f", 1, (a, b) =>
                  Integer.valueOf(a.intValue + b.intValue))
              }
            }
          }
          Thread.sleep(20)
        }
      }, "devdiag-sampler")
      sampler.setDaemon(true)
      val t0 = System.nanoTime()
      sampler.start()
      fn(spark, sfDir).count()
      sampling = false
      val wall = (System.nanoTime() - t0) / 1e9
      spark.catalog.clearCache()
      println(f"[devdiag] $name wall=$wall%.2f s")
      batches.forEach(b => println(b))
      batches.clear()
      import scala.jdk.CollectionConverters._
      val top = counts.asScala.toSeq.sortBy(-_._2.intValue).take(40)
      top.foreach { case (f, n) => println(f"  $n%5d $f") }
    }
    spark.stop()
  }

  private val Attributed = Seq("org.apache.spark.sql.catalyst",
    "org.apache.spark.sql.execution", "org.apache.spark.sql.classic",
    "graft.", "org.apache.parquet", "org.apache.hadoop", "java.io",
    "java.nio")

  private val Library = Seq("java.", "sun.", "org.apache.hadoop.io.")

  private def name(f: StackTraceElement): String =
    s"${f.getClassName}.${f.getMethodName}"

  /** The topmost frame of interest, and the first non-library frame from
    * there down when it differs (`WritableUtils` and `java.io` frames say
    * little without their caller). Keyed on the class name: a frame's
    * `toString` carries a class-loader prefix (`app//org.apache...`). */
  private def frameOf(st: Array[StackTraceElement]): Option[String] = {
    val i = st.indexWhere(f => Attributed.exists(f.getClassName.startsWith))
    if (i < 0) None
    else {
      val caller = st.iterator.drop(i)
        .find(f => !Library.exists(f.getClassName.startsWith))
      Some(caller.filter(_ ne st(i))
        .fold(name(st(i)))(c => s"${name(st(i))} <- ${name(c)}"))
    }
  }
}
