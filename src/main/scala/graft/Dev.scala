package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

/** The one dev entry point; none of it is part of the driver contract.
  * `SPARK_GRAFT_SF_DIR` picks the data (sf0.1 by default, sf0.01 for
  * `plan`), `SPARK_GRAFT_CPUS` the cores (32 by default):
  *
  *  - `time q…`: each query twice in one session, cold then warm, so the
  *    fixed costs (codegen, footer reads, JIT) separate from steady state.
  *  - `diag q…`: each query once, with its stages (name and callsite),
  *    every micro-batch's `durationMs` map and state-operator commits,
  *    and a driver stack sample, to attribute a wall ≫ exec gap.
  *  - `plan outDir suffix q…`: `explain("formatted")` of each query to
  *    `outDir/<query><suffix>.txt`. A streaming or multi-statement query
  *    explains the DataFrame it returns (the post-drain relation).
  *  - `maint [sfDir] [copies]`: [[DevMaint]], the scale probe of the
  *    distributed lake maintenance rewrites.
  */
object Dev {
  def main(args: Array[String]): Unit = args.toList match {
    case "maint" :: rest =>
      DevMaint.run(rest.headOption.getOrElse("/root/testdata/sf0.1"),
        rest.drop(1).headOption.map(_.toInt).getOrElse(8))
    case (cmd @ ("time" | "diag" | "plan")) :: rest =>
      val spark = Session.local(Session.cpus(32))
      val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR",
        if (cmd == "plan") "/root/testdata/sf0.01" else "/root/testdata/sf0.1")
      val profile = new Profile(spark)
      def run(name: String): Double = profile.time(name) {
        Session.consume(SparkEntry.queries(name)(spark, sfDir))
        spark.catalog.clearCache()
      }
      try (cmd, rest) match {
        case ("time", names) => for (name <- names; i <- 1 to 2)
          println(f"[devtime] $name run$i ${run(name)}%.2f s")
        case ("diag", names) => names.foreach(name => diag(profile, name, run))
        case (_, outDir :: suffix :: names) =>
          Files.createDirectories(Paths.get(outDir))
          names.foreach { name =>
            Files.writeString(Paths.get(s"$outDir/$name$suffix.txt"),
              SparkEntry.queries(name)(spark, sfDir).queryExecution
                .explainString(org.apache.spark.sql.execution.FormattedMode))
            spark.catalog.clearCache()
            println(s"[plandump] wrote $outDir/$name$suffix.txt")
          }
        case _ => usage()
      } finally spark.stop()
    case _ => usage()
  }

  private def usage(): Unit = {
    System.err.println("usage: graft.Dev time|diag q… | " +
      "plan outDir suffix q… | maint [sfDir] [copies]")
    sys.exit(2)
  }

  /** Run `name` once under a driver stack sampler: every 20 ms, one
    * frame of interest per non-idle thread (the stream execution thread
    * in any state: its waits on jobs and forks are cost too). Prints the
    * wall, the query's stages and batches, then the top 40 frames. */
  private def diag(profile: Profile, name: String, run: String => Double)
      : Unit = {
    val counts = new java.util.concurrent.ConcurrentHashMap[String, Integer]()
    val sampler = java.util.concurrent.Executors.newSingleThreadScheduledExecutor()
    sampler.scheduleWithFixedDelay(() =>
      Thread.getAllStackTraces().forEach { (t, st) =>
        val stream = t.getName.startsWith("stream execution thread")
        if ((stream || t.getState == Thread.State.RUNNABLE)
            && (t ne Thread.currentThread)) frameOf(st).foreach(f =>
          counts.merge(s"[${t.getName.take(24)}] $f", 1, (a, b) =>
            Integer.valueOf(a.intValue + b.intValue)))
      }, 0, 20, java.util.concurrent.TimeUnit.MILLISECONDS)
    val wall = try run(name) finally sampler.shutdownNow()
    println(f"[devdiag] $name wall=$wall%.2f s")
    val r = profile(name)
    r.stages.toVector.foreach { case (id, stage, callsite) =>
      println(s"  [stage $id] $stage | $callsite") }
    r.batches.toVector.foreach { b =>
      val dm = b.durationMs.toSeq.sortBy(-_._2)
        .map { case (k, v) => s"$k=$v" }.mkString(" ")
      val state = b.state.map { case (ms, rows) => s"commitMs=$ms rows=$rows" }
        .mkString(" | ")
      println(s"  batch ${b.id}: rows=${b.rows} $dm" +
        (if (state.nonEmpty) s"  [state: $state]" else ""))
    }
    counts.asScala.toSeq.sortBy(-_._2.intValue).take(40)
      .foreach { case (f, n) => println(f"  $n%5d $f") }
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
