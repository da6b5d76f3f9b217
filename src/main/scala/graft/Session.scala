package graft

import java.util.concurrent.ConcurrentHashMap

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

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
    *
    *  - Hadoop-conf broadcasts. `Configuration.write` gzips each key's
    *    property-source list with its own `Deflater`; over the session's
    *    ~1,100 keys one write costs about 10 ms and 112 KB. A
    *    stream-stream join broadcasts a `SerializableConfiguration` from
    *    its constructor, and incremental planning copies that node about
    *    30 times per batch. [[dropConfSources]] cuts a write to about
    *    0.8 ms and 68 KB.
    *  - Checkpoint files. Without libhadoop, Spark's default FileContext
    *    checkpoint manager forks `readlink` through Hadoop `Shell` for
    *    every offset, commit, source-log and state-changelog file: 33 ms
    *    per atomic file against 7.5 ms through `FileSystem`. On a local
    *    checkpoint root (`checkpoint`, else the session's default root,
    *    else a local temp dir) the drain pins Spark's own
    *    `FileSystemBasedCheckpointFileManager`; the files it writes are
    *    the same, so either manager resumes the other's checkpoint.
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

  private[graft] val FsCheckpointManager = "org.apache.spark.sql.execution." +
    "streaming.checkpointing.FileSystemBasedCheckpointFileManager"

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
