package graft

import org.apache.spark.sql.SparkSession

/** The one local-session set-up every entry point and the test suites
  * share, plus the scoped conf override the operators use. */
object Session {

  /** `local[cpus]` with one shuffle partition per core. */
  def local(cpus: Int): SparkSession = local(cpus, cpus)

  /** `local[cpus]` session: UTC session time, no UI, the engine's
    * Catalyst extensions, and `events.parquet`'s TIMESTAMP(NANOS) read
    * as Long (Spark has no native type for it; `graft.sources.Tables`
    * converts it to micros TIMESTAMP_NTZ). */
  def local(cpus: Int, shufflePartitions: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Core count from `SPARK_GRAFT_CPUS`, else `default`. */
  def cpus(default: Int): Int =
    sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt).getOrElse(default)

  /** Set `confs` while `body` runs, then restore each key's prior value,
    * or unset it if the session had none. */
  def withConfs[A](spark: SparkSession, confs: (String, String)*)(
      body: => A): A = {
    val prev = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }
}
