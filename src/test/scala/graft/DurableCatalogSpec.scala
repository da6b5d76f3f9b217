package graft

/** Durable catalog metadata: a lake table's COMMIT LOG lives as files
  * under `<root>/_graft_log` (table.json + per-file manifests + one
  * manifest-list JSON per commit + refs.json), so the in-memory registry
  * is a cache. The spec's "JVM
  * restart" is [[graft.sources.GraftLakeCatalog.evict]]: drop the
  * registry entry, then prove the NEXT access rebuilds the table from
  * disk alone — current state, time travel (version, tag, timestamp),
  * change feed, refs with staged branch commits, schema evolution with
  * exists-defaults, deletion vectors — and that post-reopen writes
  * journal on, so a second "restart" sees them too. */
class DurableCatalogSpec extends SparkTestBase {

  private val wh = java.nio.file.Files
    .createTempDirectory("graft_wh_").toFile.getAbsolutePath

  private def useCatalog(): Unit = {
    spark.conf.set("spark.sql.catalog.graftdur",
      classOf[graft.sources.GraftLakeCatalog].getName)
    spark.conf.set("spark.sql.catalog.graftdur.warehouse", wh)
  }

  private def evict(name: String): Unit = {
    graft.sources.GraftLakeCatalog.evict("graftdur", name)
    assert(graft.sources.GraftLakeCatalog.tableFor("graftdur", name).isEmpty,
      "precondition: the registry entry must be gone before reopen")
  }

  test("a parquet table survives the registry: state, time travel, CDF, refs, schema") {
    useCatalog()
    val t = "graftdur.dur_main"
    spark.sql(s"DROP TABLE IF EXISTS $t")
    spark.sql(s"CREATE TABLE $t (k BIGINT, s STRING) " +
      "TBLPROPERTIES ('graft.mode' = 'merge-on-read')")
    // v1, v2: two appends
    spark.range(0, 10).selectExpr("id AS k", "concat('a', id) AS s")
      .coalesce(1).writeTo(t).append()
    spark.range(10, 20).selectExpr("id AS k", "concat('b', id) AS s")
      .coalesce(1).writeTo(t).append()
    // v3 (metadata commit): evolve the schema with an exists-default
    spark.sql(s"ALTER TABLE $t ADD COLUMNS (w DOUBLE DEFAULT 2.5)")
    // v4: post-evolution append
    spark.range(20, 25).selectExpr("id AS k", "concat('c', id) AS s",
      "CAST(id AS DOUBLE) AS w").coalesce(1).writeTo(t).append()
    // v5: a merge-on-read DELETE — a deletion vector must survive too
    spark.sql(s"DELETE FROM $t WHERE k = 5")
    // refs: a tag on v2 and a branch with one staged (unpublished) commit
    spark.sql(s"CALL graftdur.system.create_tag('dur_main', 'gold', 2)")
    spark.sql(s"CALL graftdur.system.create_branch('dur_main', 'audit')")
    spark.range(100, 103).selectExpr("id AS k", "concat('z', id) AS s",
      "0.0 AS w").coalesce(1)
      .writeTo(t).option("graft.branch", "audit").append()

    def state() = spark.table(t).orderBy("k").collect().toSeq
    def asOf2() = spark.sql(s"SELECT * FROM $t VERSION AS OF 2")
      .orderBy("k").collect().toSeq
    def feed() = spark.read.option("graft.changes.from", "0")
      .table(s"$t.changes")
      .orderBy("_commit_version", "_change_type", "k").collect().toSeq
    val (s0, v0, f0) = (state(), asOf2(), feed())
    assert(s0.length == 24 && v0.length == 20)
    val table0 = graft.sources.GraftLakeCatalog
      .tableFor("graftdur", "dur_main").get
    val (curV, earliestV) = (table0.currentVersion, table0.earliestVersion)

    evict("dur_main")

    // every read below is served by a table REBUILT from _graft_log
    assert(state() == s0, "current state must survive the registry")
    val table1 = graft.sources.GraftLakeCatalog
      .tableFor("graftdur", "dur_main").get
    assert(!(table1 eq table0), "reopen must build a fresh instance")
    assert(table1.currentVersion == curV &&
      table1.earliestVersion == earliestV)
    assert(asOf2() == v0, "VERSION AS OF must survive")
    assert(spark.sql(s"SELECT * FROM $t VERSION AS OF 'gold'")
      .orderBy("k").collect().toSeq == v0, "tag reads must survive")
    assert(feed() == f0, "the change feed must survive")
    // deletion vector: k=5 stays dead
    assert(!state().exists(_.getLong(0) == 5L))
    // exists-default: pre-ADD rows serve 2.5 after reopen
    assert(spark.table(t).where("k = 3").collect().head.getDouble(2) == 2.5)
    // refs metadata table: tag + branch with 1 staged commit
    val refs = spark.table(s"$t.refs").orderBy("name").collect()
      .map(r => (r.getString(0), r.getString(1), r.getInt(2), r.getInt(3)))
    assert(refs.toSeq == Seq(("audit", "branch", curV, 1),
      ("gold", "tag", 2, 0)), refs.toSeq.toString)
    // the staged branch commit is readable and publishable post-reopen
    assert(spark.sql(s"SELECT * FROM $t VERSION AS OF 'audit'")
      .count() == 27)
    spark.sql(s"CALL graftdur.system.fast_forward('dur_main', 'audit')")
    assert(spark.table(t).count() == 27)

    // writes journal on after reopen: a second "restart" sees them
    spark.range(200, 202).selectExpr("id AS k", "concat('y', id) AS s",
      "1.0 AS w").coalesce(1).writeTo(t).append()
    val s1 = state()
    evict("dur_main")
    assert(state() == s1, "post-reopen commits must survive a second restart")
    spark.sql(s"DROP TABLE IF EXISTS $t")
  }

  test("expire prunes the on-disk log; the floor survives reopen") {
    useCatalog()
    val t = "graftdur.dur_expire"
    spark.sql(s"DROP TABLE IF EXISTS $t")
    spark.sql(s"CREATE TABLE $t (k BIGINT)")
    for (b <- 0 until 4)
      spark.range(b * 10L, (b + 1) * 10L).selectExpr("id AS k")
        .coalesce(1).writeTo(t).append()
    // CoW UPDATE makes an orphanable file, then expire everything but 2
    spark.sql(s"UPDATE $t SET k = k + 1000 WHERE k = 35")
    spark.sql(s"CALL graftdur.system.expire_versions('dur_expire', 2)")
    val root = new java.io.File(wh, "dur_expire")
    val logDir = new java.io.File(root, "_graft_log")
    val commitFiles = logDir.listFiles().map(_.getName)
      .filter(_.matches("v\\d+\\.json")).sorted
    assert(commitFiles.toSeq == Seq("v4.json", "v5.json"),
      s"expired manifest lists must be deleted: ${commitFiles.toSeq}")
    evict("dur_expire")
    val table = { spark.table(t).count(); graft.sources.GraftLakeCatalog
      .tableFor("graftdur", "dur_expire").get }
    assert(table.earliestVersion == 4 && table.currentVersion == 5)
    assert(spark.table(t).count() == 40 &&
      spark.table(t).where("k = 1035").count() == 1)
    // reads below the floor still fail loudly after reopen
    val e = intercept[Exception](
      spark.sql(s"SELECT * FROM $t VERSION AS OF 1").collect())
    assert(e.getMessage.contains("out of range"), e.getMessage)
    spark.sql(s"DROP TABLE IF EXISTS $t")
  }

  test("CREATE over an existing durable root fails; DROP deletes it for good") {
    useCatalog()
    val t = "graftdur.dur_guard"
    spark.sql(s"DROP TABLE IF EXISTS $t")
    spark.sql(s"CREATE TABLE $t (k BIGINT)")
    spark.range(0, 5).selectExpr("id AS k").writeTo(t).append()
    evict("dur_guard")
    // the root still holds a table — a blind CREATE must not shadow it
    val e = intercept[Exception](spark.sql(s"CREATE TABLE $t (x BIGINT)"))
    assert(e.getMessage.toLowerCase.contains("already exists"), e.getMessage)
    // the durable table is still intact and reopenable
    assert(spark.table(t).count() == 5)
    spark.sql(s"DROP TABLE IF EXISTS $t")
    assert(!new java.io.File(wh, "dur_guard").exists(),
      "DROP must delete the durable root")
    // ... and now the name is genuinely free
    intercept[Exception](spark.table(t).collect())
  }

  test("interleaved appends commute; a racing UPDATE retries; history stays linear") {
    // VERDICT r15 task 5. Two writers latched so both pin their
    // snapshots before either commit applies: appends must BOTH land
    // without any conflict (append-append commutes — no shared file is
    // replaced), a CoW UPDATE racing an append must either commit
    // correctly or abort-and-retry, and afterwards the version history
    // must be LINEAR: contiguous versions, each snapshot's file set an
    // evolution of its parent, no commit lost.
    useCatalog()
    val t = "graftdur.dur_conc"
    spark.sql(s"DROP TABLE IF EXISTS $t")
    spark.sql(s"CREATE TABLE $t (k BIGINT, v BIGINT)")
    spark.range(0, 100).selectExpr("id AS k", "CAST(0 AS BIGINT) AS v")
      .coalesce(1).writeTo(t).append()
    val table = graft.sources.GraftLakeCatalog
      .tableFor("graftdur", "dur_conc").get
    val barrier = new java.util.concurrent.CyclicBarrier(2)
    table.commitHook = () =>
      try barrier.await(10, java.util.concurrent.TimeUnit.SECONDS)
      catch { case _: Throwable => () }
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    def run(body: => Unit): Thread = {
      val th = new Thread(() =>
        try body catch { case e: Throwable => failures.add(e) })
      th.start(); th
    }
    // phase 1: two interleaved appends — zero conflicts allowed
    val a1 = run { spark.range(100, 200)
      .selectExpr("id AS k", "CAST(0 AS BIGINT) AS v")
      .coalesce(1).writeTo(t).append() }
    val a2 = run { spark.range(200, 300)
      .selectExpr("id AS k", "CAST(0 AS BIGINT) AS v")
      .coalesce(1).writeTo(t).append() }
    a1.join(30000); a2.join(30000)
    assert(failures.isEmpty,
      s"interleaved appends must both commit: ${failures.peek()}")
    assert(spark.table(t).count() == 300)
    // phase 2: UPDATE racing an append — conflict means retry, not loss
    val retries = new java.util.concurrent.atomic.AtomicInteger
    def conflictIn(e: Throwable): Boolean = {
      var c: Throwable = e; var seen = List.empty[Throwable]
      while (c != null && !seen.exists(_ eq c)) {
        if (Option(c.getMessage).exists(_.contains("write conflict")))
          return true
        seen ::= c; c = c.getCause
      }
      false
    }
    val u = run {
      var done = false
      while (!done) {
        try { spark.sql(s"UPDATE $t SET v = v + 1 WHERE k < 100"); done = true }
        catch { case e: Throwable if conflictIn(e) =>
          retries.incrementAndGet() }
      }
    }
    val a3 = run { spark.range(300, 350)
      .selectExpr("id AS k", "CAST(0 AS BIGINT) AS v")
      .coalesce(1).writeTo(t).append() }
    u.join(60000); a3.join(60000)
    table.commitHook = () => ()
    assert(failures.isEmpty, s"racing UPDATE+append: ${failures.peek()}")
    assert(spark.table(t).where("v = 1").count() == 100 &&
      spark.table(t).count() == 350, "no lost commit")
    // history is LINEAR: versions contiguous from the floor, row counts
    // monotone across data changes, and the durable log agrees
    val hist = spark.table(s"$t.history")
      .orderBy("version").collect()
    val versions = hist.map(_.getInt(0)).toSeq
    assert(versions == (0 to versions.max).toSeq,
      s"contiguous linear history, got $versions")
    assert(table.currentVersion == versions.max)
    evict("dur_conc")
    assert(spark.table(t).where("v = 1").count() == 100 &&
      spark.table(t).count() == 350,
      "the reopened log must replay the same linear history")
  }

  /** Every file under a table's root, `_graft_log` included. */
  private def tableFiles(name: String): Set[String] = {
    import scala.jdk.CollectionConverters._
    val root = new java.io.File(wh, name).toPath
    val walk = java.nio.file.Files.walk(root)
    try walk.iterator.asScala.filter(java.nio.file.Files.isRegularFile(_))
      .map(root.relativize(_).toString).toSet
    finally walk.close()
  }

  /** The cross-writer commit contract through the POSIX arbiter
    * (O_EXCL claims). Since the auto-rebase landed
    * (Iceberg's commit-retry contract), a stale writer whose change is
    * COMPATIBLE under snapshot isolation — an append, or a row-level
    * delta whose target files the winner left untouched — refreshes
    * from the log and lands WITHOUT manual intervention; only a
    * genuine lost update (the winner touched the same rows) stays a
    * loud conflict, with the loser's in-memory mutation reverted. */
  private def crossWriterCas(tag: String): Unit = {
    // the cross-driver shape the in-JVM registry cannot arbitrate: two
    // catalog instances (separate registries) share one durable root
    useCatalog()
    spark.conf.set("spark.sql.catalog.graftdur2",
      classOf[graft.sources.GraftLakeCatalog].getName)
    spark.conf.set("spark.sql.catalog.graftdur2.warehouse", wh)
    val t1 = s"graftdur.dur_two_$tag"
    val t2 = s"graftdur2.dur_two_$tag"
    spark.sql(s"DROP TABLE IF EXISTS $t1")
    spark.sql(s"CREATE TABLE $t1 (k BIGINT) " +
      "TBLPROPERTIES ('graft.mode' = 'merge-on-read')")
    spark.range(0, 10).selectExpr("id AS k").coalesce(1)
      .writeTo(t1).append() // v1 via driver 1
    // driver 2 reopens from disk (its own registry) and commits v2
    spark.range(10, 20).selectExpr("id AS k").coalesce(1)
      .writeTo(t2).append()
    assert(spark.table(t2).count() == 20)
    def msgs(x: Throwable): Seq[String] = {
      var c: Throwable = x; var out = List.empty[String]
      var seen = List.empty[Throwable]
      while (c != null && !seen.exists(_ eq c)) {
        out ::= Option(c.getMessage).getOrElse(""); seen ::= c
        c = c.getCause
      }
      out
    }
    val table1 = graft.sources.GraftLakeCatalog
      .tableFor("graftdur", s"dur_two_$tag").get
    val rebases0 = table1.rebases
    // driver 1 is now STALE at v1. Its MoR DELETE loses the version
    // CAS, AUTO-REBASES (the winner only appended — both validations
    // hold on the refreshed state), and lands: no evict, no re-run.
    spark.sql(s"DELETE FROM $t1 WHERE k = 3")
    assert(table1.rebases > rebases0,
      "the stale delete must have rebased, not won the race outright")
    assert(spark.table(t1).count() == 19,
      "the rebased delete lands on the WINNER's state: 20 rows - 1")
    // ... and a stale APPEND rebases past the data-file collision the
    // same way (driver 2 is the stale one now)
    spark.range(20, 30).selectExpr("id AS k").coalesce(1)
      .writeTo(t2).append()
    assert(spark.table(t2).count() == 29,
      "the stale cross-driver append must rebase and land")
    // GENUINE lost update stays loud: driver 2 (current) grows f1's
    // deletion vector; driver 1's delta against the same file was
    // derived from rows that may now be dead — the MoR lost update.
    spark.sql(s"DELETE FROM ${t2} WHERE k = 5")
    val e1 = intercept[Exception](spark.sql(s"DELETE FROM $t1 WHERE k = 6"))
    assert(msgs(e1).exists(m => m.contains("write conflict") &&
        m.contains("deletion vector")),
      s"concurrent DVs on one file must stay a loud conflict: $e1")
    assert(spark.table(t1).count() == 28,
      "the losing delta must be reverted (29 - winner's k=5 only)")
    // the loud loss already refreshed driver 1 onto the winner's
    // state — the STATEMENT re-run (what the error asks for) succeeds
    // without an evict
    spark.sql(s"DELETE FROM $t1 WHERE k = 6")
    assert(spark.table(t1).count() == 27)
    // both drivers converge on one linear history
    graft.sources.GraftLakeCatalog.evict("graftdur", s"dur_two_$tag")
    graft.sources.GraftLakeCatalog.evict("graftdur2", s"dur_two_$tag")
    assert(spark.table(t1).count() == 27)
    assert(spark.table(t2).count() == 27, "both drivers converge")
    val versions = spark.table(s"$t1.history")
      .orderBy("version").collect().map(_.getInt(0)).toSeq
    assert(versions == (0 to versions.max).toSeq,
      s"rebases must keep the history linear and contiguous: $versions")
    spark.sql(s"DROP TABLE IF EXISTS $t1")
  }

  test("two catalogs over one warehouse: version-file CAS rejects the stale writer") {
    crossWriterCas("posix")
  }

  test("a stale driver's append refuses to rebase past a cross-driver ADD CONSTRAINT") {
    // ADVICE r19 (medium): appends rebase unconditionally, but CHECK
    // enforcement is injected at analysis time — a stale driver whose
    // INSERT was planned before another driver's ADD CONSTRAINT landed
    // carries rows that were never validated against it. The rebase
    // loop now compares the refreshed constraint set against what the
    // write was planned under and keeps the conflict LOUD; the re-run
    // plans under the new constraint and enforces it.
    useCatalog()
    spark.conf.set("spark.sql.catalog.graftdur2",
      classOf[graft.sources.GraftLakeCatalog].getName)
    spark.conf.set("spark.sql.catalog.graftdur2.warehouse", wh)
    val t1 = "graftdur.dur_ck_race"
    val t2 = "graftdur2.dur_ck_race"
    spark.sql(s"DROP TABLE IF EXISTS $t1")
    spark.sql(s"CREATE TABLE $t1 (k BIGINT)")
    spark.range(1, 6).selectExpr("id AS k").coalesce(1)
      .writeTo(t1).append() // v1 via driver 1
    // driver 2 reopens from disk and commits the constraint (v2);
    // driver 1 is now STALE and its analysis knows nothing of it
    assert(spark.table(t2).count() == 5)
    spark.sql(s"ALTER TABLE $t2 ADD CONSTRAINT k_pos CHECK (k > 0)")
    def msgs(x: Throwable): String = causeMessages(x)
    // the stale append loses the version CAS, refreshes, finds k_pos
    // absent from its plan-time set — and stays loud instead of
    // committing never-validated rows
    val e = intercept[Exception](
      spark.sql(s"INSERT INTO $t1 VALUES (-5)"))
    assert(msgs(e).contains("were added after this write was planned"),
      s"expected the planned-checks conflict, got: $e")
    assert(spark.table(t1).count() == 5,
      "the refused append must leave no rows behind")
    // the loud loss refreshed driver 1 — the re-run now plans WITH the
    // constraint: a violating insert is refused by the injected
    // assertion, a clean one lands
    val e2 = intercept[Exception](
      spark.sql(s"INSERT INTO $t1 VALUES (-5)"))
    assert(msgs(e2).contains("CHECK_CONSTRAINT_VIOLATION") ||
      msgs(e2).contains("k_pos"), s"got: $e2")
    spark.sql(s"INSERT INTO $t1 VALUES (9)")
    assert(spark.table(t1).count() == 6)
    spark.sql(s"DROP TABLE IF EXISTS $t1")
  }

  test("a failed ALTER ADD CONSTRAINT leaves nothing half-applied") {
    // ADVICE r19 (low): constraints.json persisted BEFORE the version
    // commit, and the commit's CAS-loss revert restored files/schema
    // but not `checks` — a failed ALTER stayed enforced on later
    // writes and resurrected on reopen. Since r20b the ordering is
    // CAS-first (the version claim is the staleness detector; see the
    // adjacent erase test), the vector persists only after the claim
    // is won — and since r21 it ALSO rides the commit record itself,
    // atomic with the CAS — while a commit failure restores the
    // in-memory vector, so nothing is half-applied either way.
    useCatalog()
    spark.conf.set("spark.sql.catalog.graftdur2",
      classOf[graft.sources.GraftLakeCatalog].getName)
    spark.conf.set("spark.sql.catalog.graftdur2.warehouse", wh)
    val t1 = "graftdur.dur_ck_revert"
    val t2 = "graftdur2.dur_ck_revert"
    spark.sql(s"DROP TABLE IF EXISTS $t1")
    spark.sql(s"CREATE TABLE $t1 (k BIGINT)")
    spark.range(1, 4).selectExpr("id AS k").coalesce(1)
      .writeTo(t1).append() // v1 via driver 1
    // driver 2 advances the log (v2); driver 1 is stale, so its ALTER's
    // metadata commit loses the version CAS and the STATEMENT fails
    // (applySchemaChanges has no rebase loop — ALTER re-runs are cheap)
    spark.range(10, 13).selectExpr("id AS k").coalesce(1)
      .writeTo(t2).append()
    val table1 = graft.sources.GraftLakeCatalog
      .tableFor("graftdur", "dur_ck_revert").get
    intercept[Exception](
      spark.sql(s"ALTER TABLE $t1 ADD CONSTRAINT k_pos CHECK (k > 0)"))
    // nothing half-applied: not enforced in memory, not on disk
    assert(table1.constraints().isEmpty,
      "the failed ALTER must restore the prior (empty) constraint set")
    spark.sql(s"INSERT INTO $t1 VALUES (-1)") // no phantom enforcement
    graft.sources.GraftLakeCatalog.evict("graftdur", "dur_ck_revert")
    spark.sql(s"INSERT INTO $t1 VALUES (-2)") // nor resurrected on reopen
    assert(graft.sources.GraftLakeCatalog
      .tableFor("graftdur", "dur_ck_revert").get.constraints().isEmpty,
      "a reopen must not resurrect the failed ALTER's constraint")
    assert(spark.table(t1).count() == 8)
    // the statement re-run against the refreshed state: k > 0 is now
    // violated by the -1/-2 rows, so Spark's validation scan refuses —
    // still nothing installed; after deleting them it installs cleanly
    intercept[Exception](
      spark.sql(s"ALTER TABLE $t1 ADD CONSTRAINT k_pos CHECK (k > 0)"))
    spark.sql(s"DELETE FROM $t1 WHERE k < 0")
    spark.sql(s"ALTER TABLE $t1 ADD CONSTRAINT k_pos CHECK (k > 0)")
    intercept[Exception](spark.sql(s"INSERT INTO $t1 VALUES (-3)"))
    spark.sql(s"DROP TABLE IF EXISTS $t1")
  }

  test("a stale driver's failed ALTER cannot erase a concurrent driver's constraint") {
    // review r20b: constraints.json used to be overwritten from the
    // stale driver's in-memory vector BEFORE the version CAS ran — a
    // concurrent driver's freshly-added constraint was durably erased
    // by a statement that then FAILED. The file is now written only
    // after the claim is won (the CAS is the staleness detector), and
    // a CAS loss refreshes the loser so its re-run plans current.
    useCatalog()
    spark.conf.set("spark.sql.catalog.graftdur2",
      classOf[graft.sources.GraftLakeCatalog].getName)
    spark.conf.set("spark.sql.catalog.graftdur2.warehouse", wh)
    val t1 = "graftdur.dur_ck_clobber"
    val t2 = "graftdur2.dur_ck_clobber"
    spark.sql(s"DROP TABLE IF EXISTS $t1")
    spark.sql(s"CREATE TABLE $t1 (k BIGINT)")
    spark.range(1, 4).selectExpr("id AS k").coalesce(1)
      .writeTo(t1).append() // v1 via driver 1
    // driver 2 reopens from disk and installs k_pos (v2)
    assert(spark.table(t2).count() == 3)
    spark.sql(s"ALTER TABLE $t2 ADD CONSTRAINT k_pos CHECK (k > 0)")
    // stale driver 1 installs a DIFFERENT constraint: its version CAS
    // loses before anything durable is touched, the statement fails
    intercept[Exception](
      spark.sql(s"ALTER TABLE $t1 ADD CONSTRAINT k_cap CHECK (k < 100)"))
    // the loss refreshed driver 1 — its memory now carries the
    // winner's constraint, and the RE-RUN lands on the current state
    spark.sql(s"ALTER TABLE $t1 ADD CONSTRAINT k_cap CHECK (k < 100)")
    // a FRESH reopen proves the durable story: the winner's constraint
    // was never clobbered, and the re-run's landed alongside it
    graft.sources.GraftLakeCatalog.evict("graftdur", "dur_ck_clobber")
    assert(spark.table(t1).count() == 3) // reopen from disk
    val names = graft.sources.GraftLakeCatalog
      .tableFor("graftdur", "dur_ck_clobber").get
      .constraints().map(_.name).toSeq.sorted
    assert(names == Seq("k_cap", "k_pos"),
      s"both constraints must survive the race on disk: $names")
    intercept[Exception](spark.sql(s"INSERT INTO $t1 VALUES (-1)"))
    intercept[Exception](spark.sql(s"INSERT INTO $t1 VALUES (200)"))
    spark.sql(s"INSERT INTO $t1 VALUES (50)")
    assert(spark.table(t1).count() == 4)
    spark.sql(s"DROP TABLE IF EXISTS $t1")
  }

  test("constraints ride the commit record: a stale constraints.json cannot erase a committed constraint") {
    // ADVICE r20 (medium): persisting constraints.json only after the
    // won version CAS opens a CONCURRENT-REFRESH lost-update window — a
    // loser's refreshFromLog can read the file before the winner's
    // persistConstraints() runs, then re-run, win the next version, and
    // persist a vector missing the winner's constraint. The closure:
    // the canonical vector now rides EVERY commit record (atomic with
    // the CAS) and restore prefers the newest commit's vector over the
    // separately-timed file. This test pins the mechanism: clobber
    // constraints.json to the pre-ALTER (empty) state — exactly what
    // the racing loser would have persisted — and prove a fresh reopen
    // still serves and enforces the committed constraint.
    useCatalog()
    val t1 = "graftdur.dur_ck_record"
    spark.sql(s"DROP TABLE IF EXISTS $t1")
    spark.sql(s"CREATE TABLE $t1 (k BIGINT)")
    spark.range(1, 4).selectExpr("id AS k").coalesce(1)
      .writeTo(t1).append()
    spark.sql(s"ALTER TABLE $t1 ADD CONSTRAINT k_pos CHECK (k > 0)")
    // simulate the stale-file write the racing loser would make
    val consFile = new java.io.File(
      s"$wh/dur_ck_record/_graft_log/constraints.json")
    assert(consFile.isFile, "ALTER must have persisted constraints.json")
    java.nio.file.Files.writeString(consFile.toPath, "[]")
    graft.sources.GraftLakeCatalog.evict("graftdur", "dur_ck_record")
    assert(spark.table(t1).count() == 3) // reopen from disk
    val names = graft.sources.GraftLakeCatalog
      .tableFor("graftdur", "dur_ck_record").get
      .constraints().map(_.name).toSeq
    assert(names == Seq("k_pos"),
      s"the committed constraint must survive a stale constraints.json: $names")
    intercept[Exception](spark.sql(s"INSERT INTO $t1 VALUES (-1)"))
    spark.sql(s"INSERT INTO $t1 VALUES (9)")
    assert(spark.table(t1).count() == 4)
    // and a DROP CONSTRAINT recorded later overrides the older vector:
    // the NEWEST commit's record wins, not the first carrying one
    spark.sql(s"ALTER TABLE $t1 DROP CONSTRAINT k_pos")
    graft.sources.GraftLakeCatalog.evict("graftdur", "dur_ck_record")
    assert(spark.table(t1).count() == 4)
    assert(graft.sources.GraftLakeCatalog
      .tableFor("graftdur", "dur_ck_record").get.constraints().isEmpty,
      "the dropped constraint must stay dropped across reopen")
    spark.sql(s"INSERT INTO $t1 VALUES (-7)") // no longer enforced
    assert(spark.table(t1).count() == 5)
    spark.sql(s"DROP TABLE IF EXISTS $t1")
  }

  test("a file manifest restored without write-time labels fails the open and names it") {
    useCatalog()
    val t = "graftdur.dur_unlabeled"
    spark.sql(s"DROP TABLE IF EXISTS $t")
    spark.sql(s"CREATE TABLE $t (k BIGINT, s STRING)")
    spark.range(0, 10).selectExpr("id AS k", "concat('a', id) AS s")
      .coalesce(1).writeTo(t).append()
    spark.range(10, 20).selectExpr("id AS k", "concat('b', id) AS s")
      .coalesce(1).writeTo(t).append()
    val logDir = new java.io.File(new java.io.File(wh, "dur_unlabeled"),
      "_graft_log")
    val manifests = Option(logDir.listFiles()).getOrElse(Array.empty)
      .filter(_.getName.endsWith(".manifest.json")).sortBy(_.getName)
    assert(manifests.length == 2,
      s"precondition: one loose manifest per data file, got " +
        manifests.map(_.getName).mkString(", "))
    // strip the labels from ONE manifest, as a pre-label writer left it
    val m = manifests.head
    import org.json4s._
    val json = org.json4s.jackson.JsonMethods.parse(
      new String(java.nio.file.Files.readAllBytes(m.toPath), "UTF-8"))
    val stripped = json.removeField(_._1 == "pnames")
    assert(stripped != json, "precondition: the manifest carried pnames")
    java.nio.file.Files.write(m.toPath, org.json4s.jackson.JsonMethods
      .compact(stripped).getBytes("UTF-8"))
    evict("dur_unlabeled")
    val e = intercept[Exception](spark.table(t).collect())
    val msg = causeMessages(e)
    assert(msg.contains("no write-time column labels") &&
      msg.contains("dur_unlabeled#f"),
      s"the open must fail loudly and name the manifest: $msg")
    graft.sources.GraftParquetIO.deleteRecursively(
      new java.io.File(wh, "dur_unlabeled"))
    graft.sources.GraftLakeCatalog.evict("graftdur", "dur_unlabeled")
  }

  test("an equality delete restored without its keys-file label fails the open and names the table") {
    import org.apache.spark.sql.connector.write.LogicalWriteInfo
    import org.apache.spark.sql.util.CaseInsensitiveStringMap
    import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
    useCatalog()
    val t = "graftdur.dur_eq_unlabeled"
    spark.sql(s"DROP TABLE IF EXISTS $t")
    spark.sql(s"CREATE TABLE $t (k BIGINT)")
    val winfo = new LogicalWriteInfo {
      override def options(): CaseInsensitiveStringMap =
        new CaseInsensitiveStringMap(
          java.util.Map.of("graft.upsert.key", "k"))
      override def queryId(): String = "q-eq-label"
      override def schema(): org.apache.spark.sql.types.StructType =
        spark.table(t).schema
    }
    def upsertEpoch(epoch: Long, lo: Long, hi: Long): Unit = {
      val sw = graft.sources.GraftLakeCatalog
        .tableFor("graftdur", "dur_eq_unlabeled").get
        .newWriteBuilder(winfo).build().toStreaming
      val w = sw.createStreamingWriterFactory(null)
        .createWriter(0, 0, epoch)
      (lo until hi).foreach(i =>
        w.write(new GenericInternalRow(Array[Any](i))))
      sw.commit(epoch, Array(w.commit()))
    }
    upsertEpoch(0, 0, 10)
    upsertEpoch(1, 5, 15) // keys 5..9 equality-delete their first rows
    assert(spark.table(t).count() == 15)
    val logDir = new java.io.File(new java.io.File(wh, "dur_eq_unlabeled"),
      "_graft_log")
    val last = Option(logDir.listFiles()).getOrElse(Array.empty)
      .filter(_.getName.matches("v\\d+\\.json"))
      .maxBy(_.getName.stripPrefix("v").stripSuffix(".json").toInt)
    // strip the label from the last commit's eq-delete entry, as a
    // pre-label writer left it
    import org.json4s._
    val json = org.json4s.jackson.JsonMethods.parse(
      new String(java.nio.file.Files.readAllBytes(last.toPath), "UTF-8"))
    val stripped = json.removeField(_._1 == "label")
    assert(stripped != json, "precondition: the eq-delete carried a label")
    java.nio.file.Files.write(last.toPath, org.json4s.jackson.JsonMethods
      .compact(stripped).getBytes("UTF-8"))
    evict("dur_eq_unlabeled")
    val e = intercept[Exception](spark.table(t).collect())
    val msg = causeMessages(e)
    assert(msg.contains("no write-time key label") &&
      msg.contains("dur_eq_unlabeled"),
      s"the open must fail loudly and name the table: $msg")
    graft.sources.GraftParquetIO.deleteRecursively(
      new java.io.File(wh, "dur_eq_unlabeled"))
    graft.sources.GraftLakeCatalog.evict("graftdur", "dur_eq_unlabeled")
  }

  test("a stale driver's INSERT OVERWRITE stays loud and changes nothing; its re-run lands") {
    // a blind replacement is admitted only at the version it started
    // from: a concurrent commit from another driver is a loud conflict
    // (never silently erased), and the loss refreshes this driver, so
    // the statement re-run the error asks for lands without an evict
    useCatalog()
    spark.conf.set("spark.sql.catalog.graftdur2",
      classOf[graft.sources.GraftLakeCatalog].getName)
    spark.conf.set("spark.sql.catalog.graftdur2.warehouse", wh)
    val t1 = "graftdur.dur_stale_ow"
    val t2 = "graftdur2.dur_stale_ow"
    spark.sql(s"DROP TABLE IF EXISTS $t1")
    spark.sql(s"CREATE TABLE $t1 (k BIGINT)")
    spark.range(0, 10).selectExpr("id AS k").coalesce(1)
      .writeTo(t1).append() // v1 via driver 1
    assert(spark.table(t2).count() == 10) // driver 2 reopens at v1
    spark.range(10, 20).selectExpr("id AS k").coalesce(1)
      .writeTo(t2).append() // v2 via driver 2; driver 1 is stale
    val overwrite =
      s"INSERT OVERWRITE $t1 SELECT id AS k FROM range(100, 105)"
    val before = tableFiles("dur_stale_ow")
    val e = intercept[Exception](spark.sql(overwrite))
    assert(causeMessages(e).contains("write conflict"),
      s"a stale overwrite must fail loudly: $e")
    assert(tableFiles("dur_stale_ow") == before,
      "the refused overwrite adopts no file and journals no manifest")
    graft.sources.GraftLakeCatalog.evict("graftdur2", "dur_stale_ow")
    assert(spark.table(t2).count() == 20,
      "the refused overwrite changed nothing on disk")
    spark.sql(overwrite)
    assert(spark.table(t1).orderBy("k").collect().map(_.getLong(0)).toSeq ==
      (100L until 105L), "the re-run replaces the winner's state")
    graft.sources.GraftLakeCatalog.evict("graftdur", "dur_stale_ow")
    graft.sources.GraftLakeCatalog.evict("graftdur2", "dur_stale_ow")
    assert(spark.table(t2).count() == 5, "both drivers converge")
    val versions = spark.table(s"$t1.history")
      .orderBy("version").collect().map(_.getInt(0)).toSeq
    assert(versions == (0 to 3),
      s"create, two appends, one overwrite — linear history: $versions")
    spark.sql(s"DROP TABLE IF EXISTS $t1")
  }

  test("a stale driver's refused rewrite or MoR delta leaves no file behind") {
    // the winner minted a file, so the stale driver learns of it at its
    // first claim; the refreshed state refuses its commit before it
    // adopts any temp
    useCatalog()
    spark.conf.set("spark.sql.catalog.graftdur2",
      classOf[graft.sources.GraftLakeCatalog].getName)
    spark.conf.set("spark.sql.catalog.graftdur2.warehouse", wh)
    val t1 = "graftdur.dur_refused"
    val t2 = "graftdur2.dur_refused"
    spark.sql(s"DROP TABLE IF EXISTS $t1")
    spark.sql(s"CREATE TABLE $t1 (k BIGINT) " +
      "TBLPROPERTIES ('graft.mode' = 'merge-on-read')")
    spark.range(0, 10).selectExpr("id AS k").coalesce(1)
      .writeTo(t1).append() // v1 via driver 1
    spark.range(10, 20).selectExpr("id AS k").coalesce(1)
      .writeTo(t1).append() // v2 via driver 1
    assert(spark.table(t2).count() == 20) // driver 2 reopens at v2
    def refused(stmt: String, what: String): Unit = {
      val before = tableFiles("dur_refused")
      val e = intercept[Exception](spark.sql(stmt))
      assert(causeMessages(e).contains("write conflict"),
        s"the stale $what must fail loudly: $e")
      assert(tableFiles("dur_refused") == before,
        s"the refused $what adopts no file and journals no manifest")
    }
    // driver 2 grows f1's deletion vector and mints the updated row
    spark.sql(s"UPDATE $t2 SET k = k + 100 WHERE k = 3")
    refused("CALL graftdur.system.compact_files('dur_refused', 100)",
      "rewrite")
    spark.sql(s"UPDATE $t2 SET k = k + 100 WHERE k = 4")
    refused(s"UPDATE $t1 SET k = k + 100 WHERE k = 5", "MoR delta")
    // each loss refreshed driver 1: the re-runs land
    spark.sql(s"UPDATE $t1 SET k = k + 100 WHERE k = 5")
    spark.sql("CALL graftdur.system.compact_files('dur_refused', 100)")
    graft.sources.GraftLakeCatalog.evict("graftdur2", "dur_refused")
    assert(spark.table(t2).orderBy("k").collect().map(_.getLong(0)).toSeq ==
      ((0L until 20L).filterNot(Set(3L, 4L, 5L)) ++ Seq(103L, 104L, 105L)))
    graft.sources.GraftLakeCatalog.evict("graftdur", "dur_refused")
    spark.sql(s"DROP TABLE IF EXISTS $t1")
  }

  test("a stale driver refused at the version CAS unlinks the files it minted") {
    // the winner minted no file (a DV-only MoR DELETE), so every claim of
    // the stale driver succeeds: it learns it is stale only when its
    // version CAS loses, after adopting its temp; the refreshed state
    // refuses the commit, which must take the minted file and its
    // manifest with it
    useCatalog()
    spark.conf.set("spark.sql.catalog.graftdur2",
      classOf[graft.sources.GraftLakeCatalog].getName)
    spark.conf.set("spark.sql.catalog.graftdur2.warehouse", wh)
    val t1 = "graftdur.dur_cas_refused"
    val t2 = "graftdur2.dur_cas_refused"
    spark.sql(s"DROP TABLE IF EXISTS $t1")
    spark.sql(s"CREATE TABLE $t1 (k BIGINT) " +
      "TBLPROPERTIES ('graft.mode' = 'merge-on-read')")
    spark.range(0, 10).selectExpr("id AS k").coalesce(1)
      .writeTo(t1).append() // v1 via driver 1
    assert(spark.table(t2).count() == 10) // driver 2 opens at v1
    spark.sql(s"DELETE FROM $t2 WHERE k = 3") // a DV, no file
    val before = tableFiles("dur_cas_refused")
    val e = intercept[Exception](
      spark.sql(s"UPDATE $t1 SET k = k + 100 WHERE k = 5"))
    assert(causeMessages(e).contains("write conflict"),
      s"the stale MoR delta must fail loudly: $e")
    assert(tableFiles("dur_cas_refused") == before,
      "the refused delta leaves no data file and no manifest behind")
    // the loss refreshed driver 1: the re-run lands
    spark.sql(s"UPDATE $t1 SET k = k + 100 WHERE k = 5")
    graft.sources.GraftLakeCatalog.evict("graftdur2", "dur_cas_refused")
    assert(spark.table(t2).orderBy("k").collect().map(_.getLong(0)).toSeq ==
      ((0L until 10L).filterNot(Set(3L, 5L)) :+ 105L))
    graft.sources.GraftLakeCatalog.evict("graftdur", "dur_cas_refused")
    spark.sql(s"DROP TABLE IF EXISTS $t1")
  }

  test("atomic CTAS/RTAS: staged publish, failures leave nothing, REPLACE flips atomically") {
    // StagingTableCatalog: CTAS stages the WHOLE table (log + data) in
    // a hidden sibling dir and publishes with one atomic rename — a
    // failing query leaves NO table and no residue, never the
    // half-loaded visible table of the non-atomic fallback. REPLACE
    // TABLE AS SELECT publishes by pointer swing: readers serve the old
    // table until one atomic log rename, then the new one.
    useCatalog()
    val t = "graftdur.dur_ctas"
    spark.sql(s"DROP TABLE IF EXISTS $t")
    spark.sql(s"CREATE TABLE $t AS " +
      "SELECT id AS k, concat('v', id) AS s FROM range(100)")
    assert(spark.table(t).count() == 100)
    evict("dur_ctas")
    assert(spark.table(t).count() == 100, "CTAS result survives reopen")
    val whDir = new java.io.File(wh)
    // Residue dirs holding a TABLE LOG — the atomicity contract is
    // VISIBILITY: an aborted/crashed CTAS may leave orphan task temps
    // (Spark's abort races straggler tasks, whose parquet writer
    // recreates parent dirs — every table format shares this; orphan
    // cleanup exists for it), but no residue may ever hold a log, be
    // listed, or reopen as a table.
    def stagedTables(): Seq[String] =
      Option(whDir.listFiles())
        .getOrElse(Array.empty).toSeq
        .filter(d => (d.getName.startsWith(".graft_staged_dur_ctas") ||
          d.getName.startsWith(".graft_staged_dur_corp")) &&
          new java.io.File(d, "_graft_log").isDirectory)
        .map(_.getName)
    assert(stagedTables().isEmpty, "published CTAS leaves no staged table")
    // a FAILING CTAS must leave nothing: no table, no staged residue
    val tf = "graftdur.dur_ctas_fail"
    intercept[Exception] {
      spark.sql(s"CREATE TABLE $tf AS " +
        "SELECT IF(id < 50, id, raise_error('boom')) AS k FROM range(100)")
    }
    intercept[Exception](spark.table(tf).count())
    assert(stagedTables().isEmpty,
      "an aborted CTAS must leave NO log-bearing (visible) residue")
    assert(!spark.sql("SHOW TABLES IN graftdur").collect()
      .map(_.getString(1)).contains("dur_ctas_fail"))
    // RTAS: new schema, new contents; the old table serves until the
    // atomic flip, and the replacement survives a reopen (pointer route)
    spark.sql(s"REPLACE TABLE $t AS " +
      "SELECT id AS k2 FROM range(7)")
    assert(spark.table(t).columns.toSeq == Seq("k2") &&
      spark.table(t).count() == 7)
    evict("dur_ctas")
    assert(spark.table(t).count() == 7,
      "the replaced table reopens through its location pointer")
    // replace AGAIN (pointer → pointer): the old staged target retires
    spark.sql(s"REPLACE TABLE $t AS " +
      "SELECT id AS k3 FROM range(3)")
    evict("dur_ctas")
    assert(spark.table(t).columns.toSeq == Seq("k3") &&
      spark.table(t).count() == 3)
    assert(stagedTables().size == 1,
      "exactly the LIVE pointer target remains; prior targets retired")
    // CREATE OR REPLACE on a missing table creates
    val tc = "graftdur.dur_corp"
    spark.sql(s"DROP TABLE IF EXISTS $tc")
    spark.sql(s"CREATE OR REPLACE TABLE $tc AS SELECT 1 AS x")
    assert(spark.table(tc).count() == 1)
    // DROP cleans the pointer and its target storage
    spark.sql(s"DROP TABLE $t")
    assert(stagedTables().isEmpty, "DROP retires the pointer target")
    assert(!spark.sql("SHOW TABLES IN graftdur").collect()
      .map(_.getString(1)).contains("dur_ctas"))
    spark.sql(s"DROP TABLE IF EXISTS $tc")
  }

  test("a crashed writer's orphan data-file object is skipped, never tripped over") {
    // a writer that died after claiming (or even filling) f<N>.parquet
    // but before committing leaves an object no version references. A
    // later writer restoring from the log starts below that number —
    // without the rebase it would collide with the orphan FOREVER. The
    // mint loop must skip past it: fileSeq only moves forward across
    // refreshes, so each retry tries the next name.
    useCatalog()
    val t = "graftdur.dur_orphan"
    spark.sql(s"DROP TABLE IF EXISTS $t")
    spark.sql(s"CREATE TABLE $t (k BIGINT)")
    spark.range(0, 10).selectExpr("id AS k").coalesce(1)
      .writeTo(t).append()
    val table = graft.sources.GraftLakeCatalog
      .tableFor("graftdur", "dur_orphan").get
    val dir = new java.io.File(table.filePaths.values.head).getParentFile
    val maxSeq = dir.listFiles().map(_.getName)
      .collect { case n if n.matches("f\\d+\\.parquet") =>
        n.stripPrefix("f").stripSuffix(".parquet").toInt }.max
    // the orphan: a FILLED (non-empty) object at the next file number —
    // a filled name conflicts forever, exactly like a committed file
    val orphan = new java.io.File(dir, s"f${maxSeq + 1}.parquet")
    java.nio.file.Files.write(orphan.toPath,
      "crashed writer's bytes".getBytes("UTF-8"))
    val rebases0 = table.rebases
    spark.range(10, 20).selectExpr("id AS k").coalesce(1)
      .writeTo(t).append()
    assert(table.rebases > rebases0,
      "the mint must have rebased past the orphan, not won outright")
    assert(spark.table(t).count() == 20)
    assert(new java.io.File(dir, s"f${maxSeq + 2}.parquet").isFile,
      "the appended file lands at the NEXT number past the orphan")
    assert(orphan.length() > 0L, "the orphan object is never clobbered")
    // the log replays cleanly around the orphan
    evict("dur_orphan")
    assert(spark.table(t).count() == 20)
    spark.sql(s"DROP TABLE IF EXISTS $t")
  }

  test("remove_orphan_files reclaims crashed-writer debris, touches nothing referenced") {
    // VERDICT r19: a crashed writer's minted-but-uncommitted object is
    // SKIPPED forever (fileSeq only moves forward) but was never
    // deleted, and expire_versions only vacuums alongside a floor move
    // — on a hot table with retries that is an unbounded storage leak.
    // The Iceberg companion procedure: reclaim unreferenced debris
    // older than a grace window without expiring any history.
    useCatalog()
    val t = "graftdur.dur_orphan_gc"
    spark.sql(s"DROP TABLE IF EXISTS $t")
    spark.sql(s"CREATE TABLE $t (k BIGINT) " +
      "TBLPROPERTIES ('graft.mode' = 'merge-on-read')")
    spark.range(0, 10).selectExpr("id AS k").coalesce(1)
      .writeTo(t).append() // v1
    spark.range(10, 20).selectExpr("id AS k").coalesce(1)
      .writeTo(t).append() // v2
    spark.sql(s"CALL graftdur.system.compact_files('dur_orphan_gc', 100)")
    // v3: the pre-compaction originals are now referenced ONLY by
    // retained HISTORY — orphan GC must not touch them (time travel)
    val table = graft.sources.GraftLakeCatalog
      .tableFor("graftdur", "dur_orphan_gc").get
    val dir = new java.io.File(table.filePaths.values.head).getParentFile
    val maxSeq = dir.listFiles().map(_.getName)
      .collect { case n if n.matches("f\\d+\\.parquet") =>
        n.stripPrefix("f").stripSuffix(".parquet").toInt }.max
    // plant the debris: a FILLED crashed-writer object, an abandoned
    // temp, and a crashed CTAS writer's fully-staged sibling directory
    val orphan = new java.io.File(dir, s"f${maxSeq + 1}.parquet")
    java.nio.file.Files.write(orphan.toPath,
      "crashed writer's bytes".getBytes("UTF-8"))
    val temp = new java.io.File(dir, "tmp_crashed_task")
    java.nio.file.Files.write(temp.toPath, "temp".getBytes("UTF-8"))
    val staged = new java.io.File(dir.getParentFile,
      s".graft_staged_${dir.getName}_deadbeef")
    staged.mkdirs()
    java.nio.file.Files.write(
      new java.io.File(staged, "f1.parquet").toPath,
      "staged".getBytes("UTF-8"))
    val filesBefore = dir.listFiles().map(_.getName).toSet
    // (1) within the grace window NOTHING goes: a young unreferenced
    // file is presumed to belong to a live concurrent writer
    val r0 = spark.sql("CALL graftdur.system.remove_orphan_files(" +
      s"'dur_orphan_gc', ${System.currentTimeMillis() - 3600 * 1000L})")
      .head()
    assert((r0.getInt(0), r0.getInt(1)) == (0, 0),
      s"grace window must shield young debris: $r0")
    assert(orphan.isFile && temp.isFile && staged.isDirectory)
    // (2) past the grace window the debris goes — and ONLY the debris
    // (the planted orphan + temp, plus any dangling checksum sidecars
    // Hadoop's local FS left behind for already-renamed task temps)
    val crcs = filesBefore.filter(_.endsWith(".crc"))
    val r1 = spark.sql("CALL graftdur.system.remove_orphan_files(" +
      s"'dur_orphan_gc', ${System.currentTimeMillis() + 60 * 1000L})")
      .head()
    assert((r1.getInt(0), r1.getInt(1)) == (2 + crcs.size, 1),
      s"expected ${2 + crcs.size} orphan files + 1 staged dir: $r1")
    assert(!orphan.isFile && !temp.isFile && !staged.isDirectory)
    assert(dir.listFiles().map(_.getName).toSet ==
      filesBefore - orphan.getName - temp.getName -- crcs,
      "every referenced object survives")
    // current reads, TIME TRAVEL below the compaction, and the history
    // floor are all unaffected (no version expired)
    assert(spark.table(t).count() == 20)
    assert(spark.read.option("graft.snapshot-version", "2").table(t)
      .count() == 20, "pre-compaction version still readable")
    val versions = spark.table(s"$t.history")
      .orderBy("version").collect().map(_.getInt(0)).toSeq
    assert(versions.head == 0, "the floor must not move")
    // (3) writes keep flowing after the reclaim: nothing references
    // the deleted name, so the number is safely mintable again
    spark.range(20, 25).selectExpr("id AS k").coalesce(1)
      .writeTo(t).append()
    assert(spark.table(t).count() == 25)
    // and the whole state survives a reopen (manifest pruning was
    // consistent: kept files kept their manifests)
    evict("dur_orphan_gc")
    assert(spark.table(t).count() == 25)
    assert(spark.read.option("graft.snapshot-version", "2").table(t)
      .count() == 20)
    spark.sql(s"DROP TABLE IF EXISTS $t")
  }

  test("zombie streaming driver: a cross-writer replayed epoch is dropped, not double-applied") {
    // driver failover re-runs an epoch from the checkpoint on a NEW
    // driver while the old one may still be committing — the classic
    // zombie. The stamp check at commit entry sees only the zombie's
    // STALE watermark; the rebase loop re-checks it AFTER the refresh
    // that follows the lost CAS, so the duplicate epoch is dropped
    // exactly-once-style instead of landing twice.
    import org.apache.spark.sql.connector.write.LogicalWriteInfo
    import org.apache.spark.sql.util.CaseInsensitiveStringMap
    import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
    useCatalog()
    spark.conf.set("spark.sql.catalog.graftdur2",
      classOf[graft.sources.GraftLakeCatalog].getName)
    spark.conf.set("spark.sql.catalog.graftdur2.warehouse", wh)
    val t1 = "graftdur.dur_zombie"
    val t2 = "graftdur2.dur_zombie"
    spark.sql(s"DROP TABLE IF EXISTS $t1")
    spark.sql(s"CREATE TABLE $t1 (k BIGINT)")
    spark.range(0, 10).selectExpr("id AS k").coalesce(1)
      .writeTo(t1).append() // v1
    assert(spark.table(t2).count() == 10) // driver 2 reopens at v1
    def epochTo(cat: String, epoch: Long, lo: Long, hi: Long): Unit = {
      val tbl = graft.sources.GraftLakeCatalog
        .tableFor(cat, "dur_zombie").get
      val winfo = new LogicalWriteInfo {
        override def options(): CaseInsensitiveStringMap =
          CaseInsensitiveStringMap.empty()
        override def queryId(): String = "q-zombie"
        override def schema(): org.apache.spark.sql.types.StructType =
          spark.table(t1).schema
      }
      val sw = tbl.newWriteBuilder(winfo).build().toStreaming
      val w = sw.createStreamingWriterFactory(null)
        .createWriter(0, 0, epoch)
      (lo until hi).foreach(i =>
        w.write(new GenericInternalRow(Array[Any](i))))
      sw.commit(epoch, Array(w.commit()))
    }
    // the new driver (1) commits epoch 0; the zombie (2) replays it
    epochTo("graftdur", 0, 100, 110) // v2
    val vAfter = graft.sources.GraftLakeCatalog
      .tableFor("graftdur", "dur_zombie").get.currentVersion
    epochTo("graftdur2", 0, 100, 110) // zombie: stale watermark, loses CAS
    val tableB = graft.sources.GraftLakeCatalog
      .tableFor("graftdur2", "dur_zombie").get
    assert(tableB.currentVersion == vAfter,
      "the zombie's duplicate epoch must not mint a version")
    assert(spark.table(t2).count() == 20,
      "epoch 0 lands exactly once across both drivers")
    // a genuinely NEW epoch from the survivor still lands (rebased)
    epochTo("graftdur2", 1, 200, 205)
    assert(spark.table(t2).count() == 25)
    graft.sources.GraftLakeCatalog.evict("graftdur", "dur_zombie")
    assert(spark.table(t1).count() == 25, "one linear history, no dupes")
    spark.sql(s"DROP TABLE IF EXISTS $t1")
  }

  test("streaming epoch rebases across a concurrent batch append") {
    // compaction/ingest racing a streaming sink is the normal
    // production state: the sink's epoch must land WITHOUT manual
    // intervention when the concurrent commit is compatible (an
    // append), preserving both writers' rows.
    import org.apache.spark.sql.connector.write.LogicalWriteInfo
    import org.apache.spark.sql.util.CaseInsensitiveStringMap
    import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
    useCatalog()
    spark.conf.set("spark.sql.catalog.graftdur2",
      classOf[graft.sources.GraftLakeCatalog].getName)
    spark.conf.set("spark.sql.catalog.graftdur2.warehouse", wh)
    val t1 = "graftdur.dur_sink_race"
    val t2 = "graftdur2.dur_sink_race"
    spark.sql(s"DROP TABLE IF EXISTS $t1")
    spark.sql(s"CREATE TABLE $t1 (k BIGINT)")
    spark.range(0, 10).selectExpr("id AS k").coalesce(1)
      .writeTo(t1).append() // v1 via driver 1
    // driver 2 (the batch ingest) commits v2; driver 1's sink is stale
    spark.range(10, 20).selectExpr("id AS k").coalesce(1)
      .writeTo(t2).append()
    val tableA = graft.sources.GraftLakeCatalog
      .tableFor("graftdur", "dur_sink_race").get
    val rebases0 = tableA.rebases
    val winfo = new LogicalWriteInfo {
      override def options(): CaseInsensitiveStringMap =
        CaseInsensitiveStringMap.empty()
      override def queryId(): String = "q-race"
      override def schema(): org.apache.spark.sql.types.StructType =
        spark.table(t1).schema
    }
    val sw = tableA.newWriteBuilder(winfo).build().toStreaming
    val w = sw.createStreamingWriterFactory(null).createWriter(0, 0, 0)
    (100L until 105L).foreach(i =>
      w.write(new GenericInternalRow(Array[Any](i))))
    sw.commit(0, Array(w.commit()))
    assert(tableA.rebases > rebases0, "the stale epoch must rebase")
    assert(spark.table(t1).count() == 25,
      "both the batch append and the epoch survive: 10 + 10 + 5")
    spark.sql(s"DROP TABLE IF EXISTS $t1")
  }

  test("columnar decode works on a reopened table (manifest labels round-trip)") {
    useCatalog()
    val t = "graftdur.dur_col"
    spark.sql(s"DROP TABLE IF EXISTS $t")
    spark.sql(s"CREATE TABLE $t (k BIGINT, s STRING)")
    spark.range(0, 100).selectExpr("id AS k", "concat('v', id) AS s")
      .coalesce(1).writeTo(t).append()
    spark.sql(s"ALTER TABLE $t RENAME COLUMN s TO label")
    evict("dur_col")
    val df = spark.table(t)
    assert(df.queryExecution.executedPlan.toString.contains("ColumnarToRow"),
      "reopened parquet files must still decode columnar")
    assert(df.where("label = 'v42'").collect().head.getLong(0) == 42L)
    spark.sql(s"DROP TABLE IF EXISTS $t")
  }

  test("streaming epoch stamps: replay is a no-op, survives reopen and expire") {
    // the exactly-once contract of writeStream.toTable: each epoch's
    // (queryId, epochId) stamp is ATOMIC with its commit record, so a
    // replayed epoch — same process, after a reopen, or after an expire
    // consolidated the stamps into txns.json — never lands twice.
    import org.apache.spark.sql.connector.write.LogicalWriteInfo
    import org.apache.spark.sql.util.CaseInsensitiveStringMap
    import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
    import org.apache.spark.unsafe.types.UTF8String
    useCatalog()
    val t = "graftdur.dur_sink"
    spark.sql(s"DROP TABLE IF EXISTS $t")
    spark.sql(s"CREATE TABLE $t (k BIGINT, s STRING)")
    val winfo = new LogicalWriteInfo {
      override def options(): CaseInsensitiveStringMap =
        CaseInsensitiveStringMap.empty()
      override def queryId(): String = "q-dur-sink"
      override def schema(): org.apache.spark.sql.types.StructType =
        spark.table(t).schema
    }
    def tbl() = graft.sources.GraftLakeCatalog
      .tableFor("graftdur", "dur_sink").get
    def commitEpoch(epoch: Long, lo: Long, hi: Long): Unit = {
      val sw = tbl().newWriteBuilder(winfo).build().toStreaming
      val w = sw.createStreamingWriterFactory(null)
        .createWriter(0, 0, epoch)
      (lo until hi).foreach(i => w.write(new GenericInternalRow(
        Array[Any](i, UTF8String.fromString(s"v$i")))))
      sw.commit(epoch, Array(w.commit()))
    }
    def count() = spark.table(t).count()
    commitEpoch(0, 0, 10)
    commitEpoch(1, 10, 20)
    assert(count() == 20)
    val dir = new java.io.File(tbl().filePaths.values.head).getParentFile
    val v = tbl().currentVersion
    // in-process replay (crash between data-commit and checkpoint): the
    // duplicate epoch commits NOTHING and its task temps are unlinked
    commitEpoch(1, 10, 20)
    assert(count() == 20 && tbl().currentVersion == v,
      "a replayed epoch must be a no-op commit")
    assert(!dir.listFiles().exists(_.getName.startsWith("tmp_")),
      "the replayed epoch's task temps are unlinked")
    // replay across a REOPEN: the stamp is read back from the commit log
    evict("dur_sink")
    assert(count() == 20) // forces the reopen from _graft_log
    commitEpoch(1, 10, 20)
    assert(count() == 20, "replay after reopen must still be a no-op")
    commitEpoch(2, 20, 25)
    assert(count() == 25, "a genuinely new epoch still lands")
    // bury the stamp: a batch append then expire drops every
    // txn-carrying commit — the consolidation file must preserve it
    spark.range(100, 105).selectExpr("id AS k", "concat('b', id) AS s")
      .coalesce(1).writeTo(t).append()
    spark.sql(s"CALL graftdur.system.expire_versions('dur_sink', 1)")
    evict("dur_sink")
    assert(count() == 30) // forces the reopen
    commitEpoch(2, 20, 25)
    assert(count() == 30,
      "replay after expire+reopen must be a no-op (txns.json carries " +
        "the watermark)")
    commitEpoch(3, 25, 30)
    assert(count() == 35)
    spark.sql(s"DROP TABLE IF EXISTS $t")
  }

  test("two streaming queries into one table keep independent epoch watermarks") {
    // the exactly-once stamp is PER QUERY ID (Delta's txn appId): two
    // writers' epoch counters must not suppress each other, and each
    // writer's own replay must still be a no-op.
    import org.apache.spark.sql.connector.write.LogicalWriteInfo
    import org.apache.spark.sql.util.CaseInsensitiveStringMap
    import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
    import org.apache.spark.unsafe.types.UTF8String
    useCatalog()
    val t = "graftdur.dur_2sink"
    spark.sql(s"DROP TABLE IF EXISTS $t")
    spark.sql(s"CREATE TABLE $t (k BIGINT, s STRING)")
    def winfo(qid: String) = new LogicalWriteInfo {
      override def options(): CaseInsensitiveStringMap =
        CaseInsensitiveStringMap.empty()
      override def queryId(): String = qid
      override def schema(): org.apache.spark.sql.types.StructType =
        spark.table(t).schema
    }
    def tbl() = graft.sources.GraftLakeCatalog
      .tableFor("graftdur", "dur_2sink").get
    def commitEpoch(qid: String, epoch: Long, lo: Long, hi: Long): Unit = {
      val sw = tbl().newWriteBuilder(winfo(qid)).build().toStreaming
      val w = sw.createStreamingWriterFactory(null)
        .createWriter(0, 0, epoch)
      (lo until hi).foreach(i => w.write(new GenericInternalRow(
        Array[Any](i, UTF8String.fromString(qid)))))
      sw.commit(epoch, Array(w.commit()))
    }
    commitEpoch("qA", 0, 0, 10)
    commitEpoch("qB", 0, 100, 105) // same epoch NUMBER, different query
    assert(spark.table(t).count() == 15,
      "qB's epoch 0 must not be suppressed by qA's")
    commitEpoch("qA", 1, 10, 20)
    commitEpoch("qB", 0, 100, 105) // qB replays ITS epoch 0: no-op
    assert(spark.table(t).count() == 25)
    commitEpoch("qB", 1, 105, 110)
    assert(spark.table(t).count() == 30)
    assert(spark.table(t).where("s = 'qA'").count() == 20 &&
      spark.table(t).where("s = 'qB'").count() == 10)
    spark.sql(s"DROP TABLE IF EXISTS $t")
  }

  test("crash recovery: an unfilled commit claim neither bricks reopen nor blocks writes") {
    // a writer dying between the O_EXCL claim of v<N>.json and its
    // atomic fill leaves a zero-byte file: the commit never logically
    // happened. Reopen must serve the previous version (not throw on
    // JSON parse), and — once the claim is stale — the next writer must
    // be able to commit that version number again.
    useCatalog()
    val t = "graftdur.dur_claim"
    spark.sql(s"DROP TABLE IF EXISTS $t")
    spark.sql(s"CREATE TABLE $t (k BIGINT)")
    spark.range(0, 10).selectExpr("id AS k").coalesce(1)
      .writeTo(t).append()
    val table = graft.sources.GraftLakeCatalog
      .tableFor("graftdur", "dur_claim").get
    val v = table.currentVersion
    val logDir = new java.io.File(
      new java.io.File(table.filePaths.values.head).getParentFile,
      "_graft_log")
    val claim = new java.io.File(logDir, s"v${v + 1}.json")
    java.nio.file.Files.createFile(claim.toPath)
    claim.setLastModified(
      System.currentTimeMillis() - 2L * 60 * 60 * 1000) // stale (>1h)
    evict("dur_claim")
    assert(spark.table(t).count() == 10,
      "reopen must drop the unfilled tail claim, not brick")
    assert(!claim.exists(),
      "a STALE abandoned claim is reclaimed at reopen")
    spark.range(10, 20).selectExpr("id AS k").coalesce(1)
      .writeTo(t).append() // re-commits version v+1
    assert(spark.table(t).count() == 20)
    // a stale abandoned DATA-FILE claim (zero-byte f<N>.parquet from a
    // writer that died between claim and fill) is reclaimed at the next
    // claim instead of conflicting forever
    val dataDir = new java.io.File(
      graft.sources.GraftLakeCatalog.tableFor("graftdur", "dur_claim")
        .get.filePaths.values.head).getParentFile
    val nextN = dataDir.listFiles().map(_.getName)
      .collect { case n if n.matches("f\\d+\\.parquet") =>
        n.stripPrefix("f").stripSuffix(".parquet").toInt }.max + 1
    val fclaim = new java.io.File(dataDir, s"f$nextN.parquet")
    java.nio.file.Files.createFile(fclaim.toPath)
    fclaim.setLastModified(
      System.currentTimeMillis() - 2L * 60 * 60 * 1000)
    spark.range(20, 25).selectExpr("id AS k").coalesce(1)
      .writeTo(t).append()
    assert(spark.table(t).count() == 25,
      "a stale data-file claim must be reclaimed, not conflict forever")
    // a TORN CREATE (table.json without any filled commit) neither
    // reopens, nor lists, nor blocks a fresh CREATE
    val t2 = "graftdur.dur_torn"
    spark.sql(s"DROP TABLE IF EXISTS $t2")
    val tornRoot = new java.io.File(dataDir.getParentFile, "dur_torn")
    val tornLog = new java.io.File(tornRoot, "_graft_log")
    tornLog.mkdirs()
    java.nio.file.Files.writeString(
      new java.io.File(tornLog, "table.json").toPath,
      """{"name":"graftdur.dur_torn","partSpec":[],"mergeOnRead":false}""")
    val tornClaim = new java.io.File(tornLog, "v0.json")
    java.nio.file.Files.createFile(tornClaim.toPath) // unfilled claim
    tornClaim.setLastModified(
      System.currentTimeMillis() - 2L * 60 * 60 * 1000) // abandoned
    val listed = spark.sql("SHOW TABLES IN graftdur").collect()
      .map(_.getString(1))
    assert(!listed.contains("dur_torn"),
      "a torn CREATE must not list as a table")
    // a fresh CREATE reclaims the abandoned v0 claim and succeeds
    spark.sql(s"CREATE TABLE $t2 (k BIGINT) " +
      s"TBLPROPERTIES (\'graft.location' = '${tornRoot.getAbsolutePath}')")
    spark.range(0, 3).selectExpr("id AS k").coalesce(1)
      .writeTo(t2).append()
    assert(spark.table(t2).count() == 3)
    spark.sql(s"DROP TABLE IF EXISTS $t2")
    spark.sql(s"DROP TABLE IF EXISTS $t")
  }

  test("registry-as-cache invariants: a fresh-registry CREATE cannot shadow, listTables sees disk") {
    useCatalog()
    val t = "graftdur.dur_shadow"
    spark.sql(s"DROP TABLE IF EXISTS $t")
    spark.sql(s"CREATE TABLE $t (k BIGINT)")
    spark.range(0, 5).selectExpr("id AS k").coalesce(1)
      .writeTo(t).append()
    // a CREATE on a fresh registry (the table not yet reopened in this
    // JVM) must refuse to shadow the durable table at the same
    // warehouse root — with or without the explicit storage property
    for (props <- Seq("", " TBLPROPERTIES ('graft.storage' = 'parquet')")) {
      evict("dur_shadow")
      val e = intercept[Exception] {
        spark.sql(s"CREATE TABLE $t (k BIGINT)$props")
      }
      assert(Option(e.getMessage).exists(m =>
        m.contains("already exists") || m.contains("TABLE_OR_VIEW")),
        s"$e")
    }
    assert(spark.table(t).count() == 5, "the durable table is intact")
    // listTables serves from disk too: evict and list
    evict("dur_shadow")
    val listed = spark.sql("SHOW TABLES IN graftdur").collect()
      .map(_.getString(1))
    assert(listed.contains("dur_shadow"),
      s"durable tables must list without a prior read, got " +
        listed.mkString(", "))
    spark.sql(s"DROP TABLE IF EXISTS $t")
  }

  test("an external graft.location table survives restart via its pointer") {
    // ADVICE r16: a table created OUTSIDE the warehouse used to be
    // durable on disk but unreachable after a JVM restart (reopen and
    // listTables only probed warehouse-derived roots) while re-CREATE
    // at the identifier stayed refused — effectively bricked. The
    // identifier→location pointer persisted under the warehouse closes
    // all three: reopen follows it, listTables sees it, DROP clears it.
    useCatalog()
    val t = "graftdur.dur_ext"
    spark.sql(s"DROP TABLE IF EXISTS $t")
    val ext = java.nio.file.Files
      .createTempDirectory("graft_ext_").toFile
    val extRoot = new java.io.File(ext, "dur_ext_data")
    spark.sql(s"CREATE TABLE $t (k BIGINT, s STRING) " +
      s"TBLPROPERTIES (\'graft.location' = '${extRoot.getAbsolutePath}')")
    spark.range(0, 10).selectExpr("id AS k", "concat('x', id) AS s")
      .coalesce(1).writeTo(t).append()
    spark.sql(s"DELETE FROM $t WHERE k = 7")
    assert(extRoot.isDirectory, "data lives at the external location")
    evict("dur_ext")
    // reopen must find the table THROUGH the pointer
    assert(spark.table(t).count() == 9,
      "an external-location table must reopen after a restart")
    assert(spark.table(t).where("s = 'x3'").count() == 1)
    evict("dur_ext")
    val listed = spark.sql("SHOW TABLES IN graftdur").collect()
      .map(_.getString(1))
    assert(listed.contains("dur_ext"),
      s"external-location tables must list from the pointer, got " +
        listed.mkString(", "))
    // the identifier is still GUARDED: a blind re-CREATE must refuse
    val e = intercept[Exception](spark.sql(s"CREATE TABLE $t (x BIGINT)"))
    assert(e.getMessage.toLowerCase.contains("already exists"), s"$e")
    // DROP deletes the external root AND frees the identifier for good
    spark.sql(s"DROP TABLE IF EXISTS $t")
    assert(!extRoot.exists(), "DROP must delete the external root")
    assert(!new java.io.File(new java.io.File(wh, "dur_ext"),
      "_graft_pointer.json").exists(), "DROP must clear the pointer")
    spark.sql(s"CREATE TABLE $t (k BIGINT)") // name genuinely free again
    spark.sql(s"DROP TABLE IF EXISTS $t")
  }

  test("a failed durable commit reverts memory and frees the version claim") {
    // ADVICE r16: recordCommit used to roll back in-memory state only
    // on the CAS conflict; an I/O failure from the durable write left
    // memory mutated (a phantom change riding the next commit) and the
    // claimed-but-unfilled v<N>.json blocking commits for the stale
    // window. Fault injection: a DIRECTORY squatting on the commit
    // record's tmp path makes the fill fail with a real IOException
    // after the claim succeeded.
    useCatalog()
    val t = "graftdur.dur_iofail"
    spark.sql(s"DROP TABLE IF EXISTS $t")
    spark.sql(s"CREATE TABLE $t (k BIGINT) " +
      "TBLPROPERTIES ('graft.mode' = 'merge-on-read')")
    spark.range(0, 10).selectExpr("id AS k").coalesce(1)
      .writeTo(t).append() // v1
    val table = graft.sources.GraftLakeCatalog
      .tableFor("graftdur", "dur_iofail").get
    val v = table.currentVersion
    val logDir = new java.io.File(
      new java.io.File(table.filePaths.values.head).getParentFile,
      "_graft_log")
    val squatter = new java.io.File(logDir, s"v${v + 1}.json.tmp")
    assert(squatter.mkdir())
    // a MoR DELETE mints no data file — it reaches the commit write
    // directly, which must now fail on the squatted tmp path
    intercept[Exception](spark.sql(s"DELETE FROM $t WHERE k = 3"))
    assert(spark.table(t).count() == 10,
      "the failed commit's DV must be reverted from memory")
    assert(table.currentVersion == v, "no phantom version in memory")
    assert(!new java.io.File(logDir, s"v${v + 1}.json").exists(),
      "the failed writer's own unfilled claim must be deleted")
    // clear the fault: the SAME writer retries the SAME version — no
    // stale-claim window, no phantom rows from the failed attempt
    assert(squatter.delete())
    spark.sql(s"DELETE FROM $t WHERE k = 3")
    assert(spark.table(t).count() == 9 && table.currentVersion == v + 1)
    evict("dur_iofail")
    assert(spark.table(t).count() == 9,
      "the durable log agrees with memory after the recovered failure")
    spark.sql(s"DROP TABLE IF EXISTS $t")
  }

  test("bloom bits from a foreign hash generation are dropped, not trusted") {
    // ADVICE r16: persisted bloom bits are proof-of-absence on '='
    // pruning, so bits hashed under another generation (e.g. a Spark
    // upgrade changing UTF8String.hashCode in the pre-pin era) must be
    // IGNORED at restore — conservative full scan, never a silent
    // false negative.
    useCatalog()
    val t = "graftdur.dur_bloomv"
    spark.sql(s"DROP TABLE IF EXISTS $t")
    spark.sql(s"CREATE TABLE $t (k BIGINT, s STRING)")
    spark.range(0, 50).selectExpr("id AS k", "concat('w', id) AS s")
      .coalesce(1).writeTo(t).append()
    val logDir = new java.io.File(new java.io.File(
      graft.sources.GraftLakeCatalog.tableFor("graftdur", "dur_bloomv")
        .get.filePaths.values.head).getParentFile, "_graft_log")
    // forge a manifest from a FOREIGN generation: same bits, bloomv=1
    logDir.listFiles().filter(_.getName.endsWith(".manifest.json"))
      .foreach { m =>
        val doctored = java.nio.file.Files.readString(m.toPath)
          .replace("\"bloomv\":2", "\"bloomv\":1")
        assert(doctored.contains("\"bloomv\":1"),
          "the manifest must carry the generation stamp")
        java.nio.file.Files.writeString(m.toPath, doctored)
      }
    evict("dur_bloomv")
    // point probes stay CORRECT (blooms dropped -> no pruning, not
    // wrong pruning) for both present and absent keys
    assert(spark.table(t).where("s = 'w17'").count() == 1,
      "a foreign-generation bloom must not fabricate a false negative")
    assert(spark.table(t).where("s = 'nope'").count() == 0)
    val reopened = graft.sources.GraftLakeCatalog
      .tableFor("graftdur", "dur_bloomv").get
    assert(reopened.fileBloomColumnCount == 0,
      "restore must DROP foreign-generation bloom bits")
    spark.sql(s"DROP TABLE IF EXISTS $t")
  }

  test("reopen parses manifest GROUPS, not one JSON per data file") {
    // VERDICT r16 task 3: restore was O(files) serial driver JSON — the
    // planning bottleneck at millions of files. Commits now bundle
    // loose manifests into 64-member group files; reopen reads
    // O(groups + ungrouped tail + commits).
    useCatalog()
    val t = "graftdur.dur_groups"
    spark.sql(s"DROP TABLE IF EXISTS $t")
    spark.sql(s"CREATE TABLE $t (k BIGINT, s STRING)")
    // 130 data files in ONE commit (one file per write task)
    spark.range(0, 13000).selectExpr("id AS k", "concat('v', id) AS s")
      .repartition(130).writeTo(t).append()
    val table = graft.sources.GraftLakeCatalog
      .tableFor("graftdur", "dur_groups").get
    assert(table.filePaths.size == 130, "precondition: 130 data files")
    val logDir = new java.io.File(
      new java.io.File(table.filePaths.values.head).getParentFile,
      "_graft_log")
    def names(p: String) = logDir.listFiles().map(_.getName)
      .filter(_.matches(p)).sorted.toSeq
    assert(names("g\\d+-\\d+\\.json").size == 2,
      s"130 manifests bundle into two 64-member groups, got " +
        names("g\\d+-\\d+\\.json").mkString(", "))
    assert(names("f\\d+\\.manifest\\.json").size == 2,
      "the ungrouped tail stays loose")
    evict("dur_groups")
    graft.sources.GraftLakeCatalog.resetLogReads()
    assert(spark.table(t).count() == 13000) // forces the reopen
    val reads = graft.sources.GraftLakeCatalog.logReadCount
    assert(reads > 0 && reads <= 12,
      s"reopen must read O(groups), not O(files): $reads JSON parses " +
        "for 130 files")
    // grouped manifests serve pruning and stats exactly like loose ones
    val reopened = graft.sources.GraftLakeCatalog
      .tableFor("graftdur", "dur_groups").get
    assert(reopened.fileBloomColumnCount > 0,
      "bloom bits round-trip through groups")
    assert(spark.table(t).where("k = 7777").count() == 1 &&
      spark.table(t).where("s = 'v13001'").count() == 0)
    assert(spark.table(t).agg(org.apache.spark.sql.functions.sum("k"))
      .collect().head.getLong(0) == (0L until 13000L).sum)
    // post-reopen writes keep journaling + grouping on
    spark.range(13000, 13100).selectExpr("id AS k", "concat('v', id) AS s")
      .coalesce(1).writeTo(t).append()
    assert(spark.table(t).count() == 13100)
    // a CoW UPDATE rewrites one file whose manifest lives in a group —
    // the replaced file's manifest goes dead inside the group, the new
    // file's manifest is loose, and the relation stays exact
    spark.sql(s"UPDATE $t SET s = 'hit' WHERE k = 64")
    evict("dur_groups")
    assert(spark.table(t).where("s = 'hit'").count() == 1 &&
      spark.table(t).count() == 13100)
    spark.sql(s"DROP TABLE IF EXISTS $t")
  }

  test("an evolved partition spec survives reopen; new writes stamp it") {
    useCatalog()
    val t = "graftdur.dur_pspec"
    spark.sql(s"DROP TABLE IF EXISTS $t")
    spark.sql(s"CREATE TABLE $t (k BIGINT, cat STRING) " +
      "PARTITIONED BY (cat)")
    spark.range(0, 20).selectExpr("id AS k",
      "CASE WHEN id % 2 = 0 THEN 'a' ELSE 'b' END AS cat")
      .writeTo(t).append()
    spark.sql(s"CALL graftdur.system.set_partition_spec(" +
      "'dur_pspec', 'bucket:2:k')")
    evict("dur_pspec")
    assert(spark.table(t).count() == 20) // reopen from _graft_log
    val table = graft.sources.GraftLakeCatalog
      .tableFor("graftdur", "dur_pspec").get
    assert(table.partitioning().head.name() == "bucket",
      "the evolved spec must survive the reopen")
    spark.range(20, 40).selectExpr("id AS k", "'c' AS cat")
      .writeTo(t).append()
    assert(table.fileStamps.exists { case (pure, sid) =>
      pure && sid == 1 },
      "post-reopen writes stamp the evolved spec id")
    assert(table.fileStamps.exists(_._2 == 0),
      "pre-evolution files keep their original stamp")
    assert(spark.table(t).count() == 40)
    spark.sql(s"DROP TABLE IF EXISTS $t")
  }
}
