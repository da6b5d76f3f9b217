package graft

import java.nio.file.{Files, Paths}

import Profile.{obj, sec3}

object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // dev-only: bench a name-filtered subset (substring match, comma-sep)
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSeq)
    // no fixed spark.sql.streaming.checkpointLocation: query names restart
    // per JVM, so a re-run would resume the previous run's checkpoint and
    // silently process zero rows (5 queries "ran" in 1.16 s total), and
    // checkpoint I/O is ~3 % of the streaming cost (tmpfs vs /tmp A/B)
    val spark = Session.local(Session.cpus(32))
    // absorb one-time session costs (task dispatch JIT, parquet reader +
    // codegen framework init) so per-query numbers measure the queries,
    // not the first query's luck of position
    Session.consume(spark.range(1000000).selectExpr("sum(id)"))
    spark.read.parquet(s"$sfDir/region.parquet").count()
    // absorb the DSv2 lake-catalog cold path too (class init + codegen
    // of the write / row-level / change-feed machinery): the catalog is
    // large enough that its first use otherwise taxes whichever lake
    // query happens to run first — a position cost, not a query cost
    spark.conf.set("spark.sql.catalog.graftwarm",
      classOf[graft.sources.GraftLakeCatalog].getName)
    spark.sql("DROP TABLE IF EXISTS graftwarm.warmup")
    spark.sql("CREATE TABLE graftwarm.warmup (k BIGINT)")
    spark.range(10).selectExpr("id AS k").writeTo("graftwarm.warmup")
      .append()
    spark.sql("UPDATE graftwarm.warmup SET k = k + 1 WHERE k = 5")
    spark.read.option("graft.changes.from", "0")
      .option("graft.changes.to", "2").table("graftwarm.warmup").count()
    spark.sql("DROP TABLE IF EXISTS graftwarm.warmup")
    // pre-stage the chunked streaming fixtures: staging is one-time test
    // setup (fingerprint-cached on disk), not part of any operator's cost
    graft.streaming.StreamingOps.chunkedEventsDir(spark, sfDir)
    graft.streaming.StreamingOps.chunkedEventsWithSentinelDir(spark, sfDir)
    graft.operators.Dedup.stagedAdmissionChunks(spark, sfDir)
    // a failed query must be DISTINCT in the output, not a silently-timed
    // row (a catch-all would record the fake-fast silent-checkpoint-resume
    // number the awaitDrained guard exists to prevent): its time still
    // counts toward the total, but its name lands in an "errors" list
    val failed = scala.collection.mutable.LinkedHashMap.empty[String, String]
    // one recorder for the run, made after the warm-ups so none of their
    // events count: the full record per query lands in bench.trace.json
    val profile = new Profile(spark)
    // fixed name order: run-to-run comparability
    val results = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.forall(_.exists(name.contains)) }
      .map { case (name, fn) =>
        name -> profile.time(name) {
          try Session.consume(fn(spark, sfDir)) catch {
            case e: Throwable =>
              // whitelist printable ASCII (\b, \f, \u0000 etc. would still
              // break the JSON line), then drop the two printable chars
              // that are JSON-structural in a quoted string
              failed(name) = Option(e.getMessage).getOrElse(e.getClass.getName)
                .replaceAll("[^\\x20-\\x7e]|[\"\\\\]", " ").take(120)
          }
          // queries may cache small intermediates (signature tables etc.);
          // drop them so later queries aren't measured under memory pressure
          spark.catalog.clearCache()
        }
      }
    val qs = obj(results.map { case (k, v) => k -> sec3(v) })
    val total = sec3(results.map(_._2).sum)
    // a name-filtered dev subset is marked INSIDE the JSON so a file
    // consumer can never mistake a partial total for a full benchmark
    val partial = if (only.isDefined) """"partial":true,""" else ""
    // failures surface in BOTH emitted lines; an empty key is omitted so
    // a clean run's JSON is unchanged run-over-run
    val errs = if (failed.isEmpty) ""
      else obj(failed.map { case (k, v) => k -> s"\"$v\"" }, "\"errors\":{", "},")
    // per-query EXECUTOR time next to the wall time: wall ≫ exec at
    // identical task counts is the host-contention signature, so a reader
    // can adjudicate a noisy wall reading without opening the trace file
    val execMs = obj(results.map { case (k, _) => k -> profile(k).execMs.get })
    // SELF-ADJUDICATED ANOMALIES: each query >2x slower than the
    // reference trace gets a Profile.verdict in the output JSON. The
    // committed reference (the latest clean leg) was measured at sf0.1,
    // so a dev run at another sf is not compared, unless the reference is
    // given explicitly (SPARK_GRAFT_REF_TRACE)
    val refPath = sys.env.getOrElse("SPARK_GRAFT_REF_TRACE",
      "dev/traces/bench.reference.json")
    val refTrace: Map[String, (Double, Profile.Shape)] = try {
      if (sys.env.get("SPARK_GRAFT_REF_TRACE").isEmpty &&
        !sfDir.endsWith("sf0.1") || !new java.io.File(refPath).isFile) Map.empty
      else Profile.readTrace(Files.readString(Paths.get(refPath)))
    } catch { case _: Throwable => Map.empty } // diagnostics never fail the bench
    val verdicts = results.flatMap { case (name, wall) =>
      val run = profile(name).shape
      refTrace.get(name).flatMap { case (refWall, ref) =>
        Profile.verdict(wall, run, refWall, ref).map(v => name -> obj(Seq(
          "verdict" -> s"\"$v\"", "wall" -> sec3(wall), "ref_wall" -> sec3(refWall),
          "n_tasks" -> run.tasks, "ref_tasks" -> ref.tasks,
          "shuffle_b" -> run.shuffleB, "ref_shuffle_b" -> ref.shuffleB)))
      }
    }
    val verdictsJson =
      if (verdicts.isEmpty) "" else obj(verdicts, "\"verdicts\":{", "},")
    val json =
      s"""{"metric":"total","value":$total,"unit":"sec",$partial$errs$verdictsJson"queries":$qs,"per_query_exec_ms":$execMs,"sf":"$sfDir"}"""
    // a bare println is losable to sbt log interleaving — emit the line
    // under a unique grep-able marker AND persist it to a file.
    val marker =
      if (only.isDefined) "GRAFT_BENCH_JSON_PARTIAL" else "GRAFT_BENCH_JSON"
    println(s"$marker $json")
    Files.writeString(Paths.get("bench.trace.json"),
      results.map(_._1).map(profile.traceRow).mkString("{", ",", "}\n"))
    // a compact stdout marker for queries whose wall time crossed the
    // anomaly threshold (12 s: the heaviest healthy streaming query reads
    // ~7 s at sf0.1), before the final summary line, which stays last
    results.filter(_._2 > 12.0).sortBy(-_._2).take(3).foreach { case (n, wall) =>
      val r = profile(n)
      val bs = r.batches.toVector
      val top = obj(bs.sortBy(-_.triggerMs).take(6)
        .map(b => s"b${b.id}" -> s"[${b.triggerMs},${b.rows}]"))
      val batch = if (bs.isEmpty) ""
        else s""","n_batches":${bs.length},"slowest_ms_rows":$top"""
      println(s"""GRAFT_BENCH_TRACE {"query":"$n","wall_sec":${sec3(wall)},""" +
        s""""exec_ms":${r.execMs.get},"task_gc_ms":${r.taskGcMs.get},""" +
        s""""driver_gc_ms":${r.driverGcMs}$batch}""")
    }
    // a filtered dev run must not clobber the last FULL run's bench.json —
    // without an explicit output override it lands in its own default file
    val out = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT",
      if (only.isDefined) "bench.partial.json" else "bench.json")
    Files.writeString(Paths.get(out), json + "\n")
    // stop FIRST, then print as the process's last stdout line, so
    // Spark shutdown logging cannot interleave with it
    spark.stop()
    println(
      s"""{"metric":"total","value":$total,"unit":"sec",$partial$errs$verdictsJson"n_queries":${results.size},"queries":$qs,"sf":"$sfDir"}""")
  }
}
