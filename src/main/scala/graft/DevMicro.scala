package graft

/** Dev-only micro-measurements of session fixed costs (footer reads,
  * DataFrame construction) that repeat per registry query. */
object DevMicro {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Session.local(32)
    // warm
    graft.sources.Tables(spark, sfDir, "lineitem").schema
    for (t <- Seq("lineitem", "orders", "documents", "events")) {
      val t0 = System.nanoTime()
      var i = 0
      while (i < 20) { graft.sources.Tables(spark, sfDir, t).schema; i += 1 }
      val ms = (System.nanoTime() - t0) / 1e6 / 20
      println(f"[devmicro] Tables($t) construct+schema: $ms%.1f ms/call")
    }
    // how much of it is the footer read vs plan construction?
    val sch = spark.read.parquet(s"$sfDir/lineitem.parquet").schema
    val t1 = System.nanoTime()
    var i = 0
    while (i < 20) {
      spark.read.schema(sch).parquet(s"$sfDir/lineitem.parquet").schema
      i += 1
    }
    println(f"[devmicro] pre-schemed read construct: ${
      (System.nanoTime() - t1) / 1e6 / 20}%.1f ms/call")
    spark.stop()
  }
}
