// Shuffle and job probe for the lake's cluster rewrites.
//
//   cd <scratch dir> && spark-shell --master 'local[4]' \
//     --driver-class-path <checkout>/target/scala-2.13/classes \
//     --conf spark.sql.extensions=graft.GraftExtensions \
//     --conf spark.sql.shuffle.partitions=4 --conf spark.ui.enabled=false \
//     -i <checkout>/dev/ab_global_order/probe.scala
//
// Builds a 1.5M-row lake table (k BIGINT, v STRING, x DOUBLE) in 8
// interleaved files (every file spans the whole k range), then measures
// four steps: a range-sorted noop write of the table, CALL cluster on the
// unsorted table, CALL cluster again on the clustered table, and
// CALL cluster_zorder on (k, x). Each step prints one JSON line: jobs,
// stages, shuffle MB written and read (a stage listener), wall seconds,
// and for the rewrites the file count and per-file row counts.
import org.apache.spark.scheduler._
import org.apache.spark.sql.functions._
import java.util.concurrent.atomic.AtomicLong

spark.sparkContext.setLogLevel("WARN")
spark.conf.set("spark.sql.catalog.graftlake",
  "graft.sources.GraftLakeCatalog")
val jobs, stages, shufW, shufR = new AtomicLong
spark.sparkContext.addSparkListener(new SparkListener {
  override def onJobStart(e: SparkListenerJobStart): Unit =
    jobs.incrementAndGet()
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    stages.incrementAndGet()
    val m = e.stageInfo.taskMetrics
    if (m != null) {
      shufW.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      shufR.addAndGet(m.shuffleReadMetrics.totalBytesRead)
    }
  }
})
val drainBus: () => Unit = {
  val sc = spark.sparkContext
  val bus = sc.getClass.getMethods.find(_.getName == "listenerBus").get
    .invoke(sc)
  val wait = bus.getClass.getMethods.find(m =>
    m.getName == "waitUntilEmpty" && m.getParameterCount == 1).get
  () => { wait.invoke(bus, java.lang.Long.valueOf(10000L)); () }
}
val t = "graftlake.clus"
def fileRows(): Seq[Long] = spark.table(t).groupBy("_file").count()
  .collect().map(_.getLong(1)).toSeq.sorted
def step(name: String, files: Boolean)(body: => Unit): Unit = {
  drainBus()
  Seq(jobs, stages, shufW, shufR).foreach(_.set(0L))
  val t0 = System.nanoTime()
  body
  val wall = (System.nanoTime() - t0) / 1e9
  drainBus()
  val mb = (b: Long) => f"${b / 1e6}%.1f"
  val rows = if (files) {
    val r = fileRows()
    s""","files":${r.length},"file_rows":[${r.mkString(",")}]"""
  } else ""
  println(f"""{"step":"$name","jobs":${jobs.get},"stages":${stages.get},""" +
    s""""shuffle_write_mb":${mb(shufW.get)},"shuffle_read_mb":""" +
    f"""${mb(shufR.get)},"wall_s":$wall%.2f$rows}""")
}

spark.sql(s"DROP TABLE IF EXISTS $t")
spark.sql(s"CREATE TABLE $t (k BIGINT, v STRING, x DOUBLE)")
val n = 1500000L
for (b <- 0 until 8) // k = id * 7919 mod n is a permutation of [0, n)
  spark.range(0, n).filter(s"id % 8 = $b")
    .selectExpr(s"(id * 7919) % $n AS k", "concat('v', id) AS v",
      "CAST(id AS DOUBLE) / 7 AS x")
    .coalesce(1).writeTo(t).append()
spark.range(1000).selectExpr("sum(id)").collect() // warm the executors

step("range_sort_noop", files = false) {
  spark.table(t).repartitionByRange(8, col("k")).sortWithinPartitions("k")
    .write.format("noop").mode("overwrite").save()
}
step("cluster_unsorted", files = true) {
  spark.sql("CALL graftlake.system.cluster('clus', 'k', 8)").collect()
}
step("cluster_clustered", files = true) {
  spark.sql("CALL graftlake.system.cluster('clus', 'k', 8)").collect()
}
step("zorder", files = true) {
  spark.sql("CALL graftlake.system.cluster_zorder('clus', 'k, x', 8)")
    .collect()
}
spark.sql(s"DROP TABLE IF EXISTS $t")
System.exit(0)
