package graft

import java.util.concurrent.ConcurrentHashMap

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.streaming.LocalCheckpointFileManager

/** The one local-session set-up every entry point and the test suites
  * share, plus the scoped overrides the operators use. */
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

  /** Run `df` to completion through a `noop` write, the one action the
    * dev timers (`Bench`, `Dev time`, `Dev diag`) time. The write reads every
    * output column, so Catalyst prunes no projection or aggregate the
    * query computes; `count()` would let it drop them all. */
  def consume(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

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

  /** Run a streaming drain, its `start()` through `awaitDrained`, without
    * two fixed driver costs that every micro-batch otherwise pays on the
    * stream execution thread. Neither changes a plan, a batch or a result.
    * [[graft.streaming.StreamingOps.drain]] runs every drain inside it.
    *
    *  - Hadoop-conf broadcasts. `Configuration.write` gzips each key's
    *    property-source list with its own `Deflater`; over the session's
    *    ~1,100 keys one write costs about 10 ms and 112 KB. A
    *    stream-stream join broadcasts a `SerializableConfiguration` from
    *    its constructor, and incremental planning copies that node about
    *    30 times per batch. [[dropConfSources]] cuts a write to about
    *    0.8 ms and 68 KB.
    *  - Checkpoint files. Without libhadoop, Hadoop's local file system
    *    forks a `chmod` for every checkpoint file it creates and every
    *    directory it makes, and Spark's default FileContext manager also
    *    forks a `readlink` per file. On a local checkpoint root
    *    (`checkpoint`, else the session's default root, else a local temp
    *    dir) the drain pins [[LocalCheckpointFileManager]]: Spark's
    *    FileSystem manager, its permissions set through `java.nio`. An
    *    atomic 300-byte file costs 0.23 ms against 3.57 ms, and a
    *    `lake_stream` run forks 0 times in its drains against 610. The
    *    files, `.crc` sidecars included, are the ones Spark writes, so
    *    either manager resumes the other's checkpoint.
    */
  def withLeanDrain[A](spark: SparkSession, checkpoint: String = "")(
      body: => A): A = {
    val hadoopConf = spark.sparkContext.hadoopConfiguration
    dropConfSources(hadoopConf)
    val root = if (checkpoint.nonEmpty) checkpoint
      else spark.conf.get("spark.sql.streaming.checkpointLocation", "")
    val local = root.isEmpty ||
      new Path(root).getFileSystem(hadoopConf).getScheme == "file"
    if (local) withConfs(spark, CheckpointManagerKey -> FsCheckpointManager)(body)
    else body
  }

  private[graft] val CheckpointManagerKey =
    "spark.sql.streaming.checkpointFileManagerClass"

  private[graft] val FsCheckpointManager =
    classOf[LocalCheckpointFileManager].getName

  private val updatingResource = {
    val f = classOf[Configuration].getDeclaredField("updatingResource")
    f.setAccessible(true)
    f
  }

  /** Forget which resource set each key of `conf`: swap its private
    * source map for an empty one. The map is diagnostic metadata that
    * nothing reads back, but `write` serializes it. An empty map, not
    * `null`, so a concurrent `write` never reads `null`. Idempotent; it
    * must be re-applied, because Hadoop refills the map whenever a new
    * default resource makes every `Configuration` reload. Copies made
    * after it (`sessionState.newHadoopConf()`) inherit the empty map. */
  private[graft] def dropConfSources(conf: Configuration): Unit =
    updatingResource.set(conf, new ConcurrentHashMap[String, Array[String]]())
}
