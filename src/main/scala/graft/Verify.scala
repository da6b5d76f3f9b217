package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args.take(2)
    // dev-only: optional extra args = substring filters on query names
    val only = if (args.length > 2) Some(args.drop(2).toSeq) else None
    val spark = Session.local(Session.cpus(4))
    new java.io.File(outDir).mkdirs()
    // a crashed query must be a VISIBLE red row, not a silently missing
    // one (an error in stderr only leaves the correctness file one entry
    // short). Collect every
    // failure and write an errors.json sidecar — empty {} on a clean run.
    val errors = scala.collection.mutable.LinkedHashMap.empty[String, String]
    SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.forall(_.exists(name.contains)) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        errors(name) = s"${e.getClass.getSimpleName}: ${
          Option(e.getMessage).getOrElse("").take(500)}"
      }
      spark.catalog.clearCache()
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    // a name-filtered dev run must not emit oracles for queries it didn't
    // dump — the compare would score them against missing or stale parquet
    val json = SparkEntry.oracleSql
      .filter { case (k, _) => only.forall(_.exists(k.contains)) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    val errJson = errors
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/errors.json"), errJson)
    if (errors.nonEmpty)
      System.err.println(s"[verify] ${errors.size} quer${
        if (errors.size == 1) "y" else "ies"} FAILED — see $outDir/errors.json")
    spark.stop()
    // fail LOUDLY on any crashed query: all artifacts (parquet dumps,
    // oracle_sql.json, errors.json) are already written above, so the
    // nonzero exit loses nothing — it just makes a crashed query impossible
    // to miss in any wrapper that checks exit codes. Clean run exits 0.
    if (errors.nonEmpty) sys.exit(1)
  }
}
