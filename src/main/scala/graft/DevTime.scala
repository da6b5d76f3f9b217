package graft

/** Dev-only profiler: runs each named query twice in one session and prints
  * cold vs warm wall times, separating fixed costs (codegen compilation,
  * parquet footer reads, JIT) from steady-state execution.
  */
object DevTime {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Session.local(Session.cpus(32))
    args.foreach { name =>
      val fn = SparkEntry.queries(name)
      (1 to 2).foreach { i =>
        val t0 = System.nanoTime()
        Session.consume(fn(spark, sfDir))
        spark.catalog.clearCache()
        println(f"[devtime] $name run$i ${(System.nanoTime() - t0) / 1e9}%.2f s")
      }
    }
    spark.stop()
  }
}
