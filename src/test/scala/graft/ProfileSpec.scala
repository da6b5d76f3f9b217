package graft

import java.io.File
import java.nio.file.Files

import graft.Profile.Shape

/** The per-query recorder: the bench verdict over a recorded structure,
  * and the two streaming fixtures whose staging must drain the same
  * batches every time it is made afresh. */
class ProfileSpec extends SparkTestBase {

  private val ref = Shape(tasks = 12, shuffleB = 1000, batchRows = Seq(40, 40, 20))

  test("verdict: contention only when every structural field matches") {
    def verdict(run: Shape, wall: Double = 3.0) =
      Profile.verdict(wall, run, refWall = 1.0, ref)
    assert(verdict(ref) == Some("contention"))
    assert(verdict(ref.copy(shuffleB = 1100)) == Some("contention"))
    assert(verdict(ref.copy(batchRows = Seq(40, 40, 20, 0))) ==
      Some("regression"), "one extra batch")
    assert(verdict(ref.copy(batchRows = Seq(40, 41, 20))) ==
      Some("regression"), "one batch's rows changed")
    assert(verdict(ref.copy(tasks = 13)) == Some("regression"))
    assert(verdict(ref.copy(shuffleB = 1300)) == Some("regression"))
    // under 2× the reference, or under the one-second floor: no verdict
    assert(verdict(ref.copy(tasks = 13), wall = 1.9).isEmpty)
    assert(Profile.verdict(0.9, ref, 0.3, ref).isEmpty)
  }

  test("a trace row reads back as the shape it recorded") {
    val profile = new Profile(spark)
    try {
      profile.time("profile_trace_roundtrip")(Session.consume(
        run("stream_tumbling_counts").groupBy("event_type").count()))
      val r = profile("profile_trace_roundtrip")
      assert(r.tasks.get > 0 && r.batches.toVector.nonEmpty)
      assert(Profile.readTrace("{" + profile.traceRow("profile_trace_roundtrip") +
        "}") == Map("profile_trace_roundtrip" ->
        ((Profile.sec3(r.wallSec).toDouble, r.shape))))
    } finally profile.close()
    assert(Profile.readTrace(
      java.nio.file.Files.readString(java.nio.file.Paths.get(
        "dev/traces/bench.reference.json")))("stream_lake_sink")._2.batchRows ==
      Seq(33334, 33333, 33333, 19863))
  }

  test("two fresh stagings drain equal rows per file and per batch") {
    val tmp = sys.props("java.io.tmpdir")
    // the rows of each file under `dir`, in modification-time order (the
    // order the file source drains them), and the rows of each batch;
    // a fresh copy of the data is a fresh sfDir, so it stages afresh
    def drained(name: String, dir: String => File): (Seq[Long], Seq[Long]) = {
      val sf = Files.createTempDirectory("graft_profile_sf").toFile
      new File(Sf).listFiles.foreach(f =>
        Files.copy(f.toPath, new File(sf, f.getName).toPath))
      val fixture = dir(sf.getAbsolutePath.replaceAll("[^A-Za-z0-9.]", "_"))
      val profile = new Profile(spark)
      try {
        profile.time(name)(Session.consume(SparkEntry.queries(name)(
          spark, sf.getAbsolutePath)))
        val files = fixture.listFiles.toSeq.flatMap(f =>
          if (f.isDirectory) f.listFiles.toSeq else Seq(f))
          .filter(_.getName.endsWith(".parquet")).sortBy(_.lastModified)
        (files.map(f => spark.read.parquet(f.getAbsolutePath).count()),
          profile(name).batches.toVector.map(_.rows).filter(_ > 0))
      } finally {
        profile.close()
        Seq(sf, fixture).foreach(graft.sources.GraftParquetIO.deleteRecursively)
      }
    }
    val fixtures = Seq[(String, String => File)](
      // the staged chunks, in the one generation dir under this root
      "sim_index_stream_update" -> (tag => new File(tmp, s"graft_emb_chunks_$tag")),
      // the landing dir: wave 1's three files, then wave 2's one
      "stream_lake_sink" -> (tag =>
        new File(tmp, s"graft_ssink_land_${tag}_pid${ProcessHandle.current.pid}")))
    fixtures.foreach { case (name, dir) =>
      val (files, batches) = drained(name, dir)
      assert(files.size == 4 && batches == files,
        s"$name drained $batches from files of $files rows")
      assert(drained(name, dir) == ((files, batches)),
        s"$name drains differently from a second fresh staging")
    }
  }
}
