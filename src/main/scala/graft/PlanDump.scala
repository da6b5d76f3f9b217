package graft

import java.nio.file.{Files, Paths}

/** Dev tool: dump `.explain("formatted")` for named queries to files —
  * the before/after plan evidence the optimization rounds commit under
  * plans/rNN/. Usage:
  *   sbt "runMain graft.PlanDump plans/r21 _before q1 q2 ..."
  * Writes plans/r21/<query><suffix>.txt per query. Streaming /
  * multi-statement queries explain their final returned DataFrame (the
  * post-drain relation) — the only plan a caller can hold.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val outDir = args(0)
    val suffix = args(1)
    val names = args.drop(2)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val spark = Session.local(Session.cpus(32))
    Files.createDirectories(Paths.get(outDir))
    names.foreach { name =>
      val df = SparkEntry.queries(name)(spark, sfDir)
      val plan = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      Files.writeString(Paths.get(s"$outDir/$name$suffix.txt"), plan)
      spark.catalog.clearCache()
      println(s"[plandump] wrote $outDir/$name$suffix.txt")
    }
    spark.stop()
  }
}
