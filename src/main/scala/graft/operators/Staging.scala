package graft.operators

import java.io.File
import java.nio.channels.FileChannel
import java.nio.file.{Files, StandardCopyOption, StandardOpenOption}

/** Idempotent once-per-sfDir fixture staging: compute a tmpdir-rooted
  * location from (name, sfDir), run `write` exactly once — guarded by a
  * fingerprinted underscore marker file, which Spark's file sources
  * ignore — and return the directory. One home for the stage-once idiom so
  * a fix to it (e.g. the crash-between-write-and-marker window) lands
  * everywhere at once. A partially-staged dir (no marker) is re-staged from
  * scratch; writers use overwrite semantics so that is safe.
  *
  * The staged directory NAME embeds a fingerprint of the source data dir
  * (file names + sizes + mtimes) plus a caller-supplied spec string, so
  * regenerated fixture data at the same path — or a changed staging
  * spec — stages into a fresh directory instead of silently serving stale
  * files. Because generations never share a path, readers of an
  * already-staged generation need no lock: a process restaging under a
  * changed fingerprint writes elsewhere and can never delete or overwrite
  * files another process is still reading. Cross-process safety for the
  * staging itself (sbt tests alongside Verify share the tmpdir): staging
  * runs under an exclusive file lock, and the marker is created by atomic
  * rename so no observer ever sees a half-made marker.
  */
private[graft] object Staging {

  /** Fingerprint of the source dir's top-level entries + a spec string.
    * Cheap (one listing, no reads) but catches the real invalidation
    * events: driver-regenerated fixtures and code-changed staging specs.
    */
  private def fingerprint(sfDir: String, spec: String): String = {
    val entries = Option(new File(sfDir).listFiles()).getOrElse(Array.empty)
      .sortBy(_.getName)
      .map(f => s"${f.getName}:${f.length}:${f.lastModified}")
    val h = scala.util.hashing.MurmurHash3
      .stringHash(entries.mkString("|") + "#" + spec)
    java.lang.Integer.toHexString(h)
  }

  def stagedDir(name: String, sfDir: String, spec: String = "")(
      write: File => Unit): File = synchronized {
    val tag = sfDir.replaceAll("[^A-Za-z0-9.]", "_")
    // generation root is fingerprint-named: a restage under a changed
    // fingerprint targets a different path, so readers of the old
    // generation are never raced
    val root = new File(sys.props("java.io.tmpdir"), s"${name}_$tag")
    val dir = new File(root, fingerprint(sfDir, spec))
    val done = new File(dir, "_staged")
    if (!done.exists()) {
      dir.mkdirs()
      // the lock must live OUTSIDE dir: writer callbacks use Spark
      // mode("overwrite") on dir itself, which would delete an in-dir lock
      // file mid-stage and hand a fresh lock to a concurrent process
      val lockCh = FileChannel.open(
        new File(root, dir.getName + ".lock").toPath,
        StandardOpenOption.CREATE, StandardOpenOption.WRITE)
      val lock = lockCh.lock()
      try {
        if (!done.exists()) { // re-check: another process may have staged
          write(dir)
          val tmp = new File(dir, done.getName + ".tmp")
          Files.writeString(tmp.toPath, "")
          Files.move(tmp.toPath, done.toPath, StandardCopyOption.ATOMIC_MOVE)
          reapStaleGenerations(root, dir.getName)
        }
      } finally { lock.release(); lockCh.close() }
    }
    dir
  }

  /** Create the `graft_tmp` database at `<tmpdir>/graft_tmp_db_<sfDir tag>`
    * unless the session has it; external fixture tables register there. */
  def tmpDatabase(spark: org.apache.spark.sql.SparkSession, sfDir: String)
      : Unit = {
    val tag = sfDir.replaceAll("[^A-Za-z0-9.]", "_")
    spark.sql("CREATE DATABASE IF NOT EXISTS graft_tmp LOCATION " +
      s"'${sys.props("java.io.tmpdir")}/graft_tmp_db_$tag'")
  }

  /** Best-effort removal of SIBLING generations once a new one is staged:
    * every fixture regeneration / spec bump would otherwise leave the full
    * prior generation (plus its .lock file) accumulating in the tmpdir for
    * the life of the box. Safe because a generation's readers hold the
    * current fingerprint path — a stale sibling is only ever read by a
    * process whose fingerprint still resolves to it, and that fingerprint
    * can no longer be computed once the source data or spec changed.
    * Failures (e.g. a file pinned open on some platform) are swallowed:
    * reaping is hygiene, not correctness.
    *
    * Only FINGERPRINT-SHAPED names are eligible: the reaper owns exactly
    * the namespace [[stagedDir]] creates (lowercase-hex murmur strings).
    * Anything else under the root is someone else's data — a caller that
    * once wrote table files beside its generation dir lost them to an
    * unguarded version of this reaper, and the guard makes that class of
    * collision structurally impossible.
    */
  private val FingerprintName = "^[0-9a-f]{1,8}$".r

  private def reapStaleGenerations(root: File, keep: String): Unit =
    try {
      Option(root.listFiles()).getOrElse(Array.empty)
        .filter(f => f.isDirectory && f.getName != keep
          && FingerprintName.matches(f.getName))
        .foreach { sib =>
          // a sibling still being staged by a concurrent process (possible
          // when two build versions disagree on the spec string) holds its
          // generation lock — tryLock refuses, and we leave it alone
          val lockFile = new File(root, sib.getName + ".lock")
          val ch = FileChannel.open(lockFile.toPath,
            StandardOpenOption.CREATE, StandardOpenOption.WRITE)
          try {
            Option(ch.tryLock()).foreach { l =>
              try {
                graft.sources.GraftParquetIO.deleteRecursively(sib)
                lockFile.delete()
              } finally l.release()
            }
          } finally ch.close()
        }
    } catch { case _: Exception => () }
}
