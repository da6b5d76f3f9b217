package graft

/** Dev-only scale probe for the DISTRIBUTED maintenance rewrites
  * (task-side writes, distributed cluster/compaction):
  * loads orders×8 into a lake table (the
  * 12M-row ingest itself exercises the task-side write plane that the
  * old driver-resident shape could not survive), then times
  * `CALL system.cluster` (one range sort, exact chunks read in place),
  * `CALL system.cluster_zorder`, a fragmenting DELETE, and
  * `CALL system.compact` (distributed DV-clearing rewrite). Prints one
  * JSON line per step. Not part of the driver contract —
  * `sbt "runMain graft.MaintBench [sfDir] [copies]"`. */
object MaintBench {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val copies = args.drop(1).headOption.map(_.toInt).getOrElse(8)
    val spark = Session.local(16)
    spark.conf.set("spark.sql.catalog.graftlake",
      classOf[graft.sources.GraftLakeCatalog].getName)
    val t = "graftlake.maint_bench"
    spark.sql(s"DROP TABLE IF EXISTS $t")
    spark.sql(s"CREATE TABLE $t (o_orderkey BIGINT, o_custkey BIGINT, " +
      "o_orderstatus STRING, o_totalprice DOUBLE) " +
      "TBLPROPERTIES ('graft.mode' = 'merge-on-read')")
    val base = spark.read.parquet(s"$sfDir/orders.parquet")
      .selectExpr("o_orderkey", "o_custkey", "o_orderstatus",
        "o_totalprice")
    def timed(label: String)(body: => Unit): Unit = {
      val t0 = System.nanoTime()
      body
      println(f"""{"step":"$label","sec":${(System.nanoTime() - t0) /
        1e9}%.2f}""")
    }
    timed(s"ingest_x$copies") {
      (1 to copies).map(_ => base).reduce(_ union _)
        .repartition(16).writeTo(t).append()
    }
    val n = spark.table(t).count()
    println(s"""{"rows":$n}""")
    timed("cluster_sort_32") {
      spark.sql(s"CALL graftlake.system.cluster('maint_bench', " +
        "'o_orderkey', 32)")
    }
    timed("cluster_zorder_32") {
      spark.sql(s"CALL graftlake.system.cluster_zorder('maint_bench', " +
        "'o_orderkey, o_custkey', 32)")
    }
    timed("delete_1pct") {
      spark.sql(s"DELETE FROM $t WHERE o_orderkey % 97 = 0")
    }
    timed("compact_dv") {
      spark.sql(s"CALL graftlake.system.compact('maint_bench')")
    }
    val after = spark.table(t).count()
    println(s"""{"rows_after":$after}""")
    spark.sql(s"DROP TABLE IF EXISTS $t")

    // ---- equality-delete maintenance at scale ----
    // The probed eq-debt paths (change feed delete legs, scan-less
    // COUNT, eq-aware bin-pack) gate on small spec fixtures; this leg
    // proves their cost SHAPE at 12M rows: the key-column probe pass is
    // one task per file, the live-count memo amortizes the second COUNT
    // to metadata, and compaction resolves the debt distributed.
    val te = "graftlake.maint_eqd"
    spark.sql(s"DROP TABLE IF EXISTS $te")
    spark.sql(s"CREATE TABLE $te (o_orderkey BIGINT, o_custkey BIGINT, " +
      "o_orderstatus STRING, o_totalprice DOUBLE) " +
      "TBLPROPERTIES ('graft.mode' = 'merge-on-read')")
    timed(s"eqd_ingest_x$copies") {
      (1 to copies).map(_ => base).reduce(_ union _)
        .repartition(16).writeTo(te).append()
    }
    def table() = graft.sources.GraftLakeCatalog
      .tableFor("graftlake", "maint_eqd").get
    val preUpsert = table().currentVersion
    val land = java.nio.file.Files.createTempDirectory("maint_eqd_l_")
      .toFile
    val chk = java.nio.file.Files.createTempDirectory("maint_eqd_c_")
      .toFile
    // three CDC waves, disjoint key sets (~0.1% churn each): every wave
    // lands as ONE upsert epoch whose keys file applies to all 16
    // ingest files plus the earlier epochs' data files
    val waveKeys = (0 until 3).map(w =>
      base.filter(s"o_orderkey % 1024 = $w").count())
    timed("eqd_upsert_3epochs") {
      for (w <- 0 until 3) {
        base.filter(s"o_orderkey % 1024 = $w")
          .selectExpr("o_orderkey", "o_custkey", "o_orderstatus",
            "CAST(-1.0 AS DOUBLE) AS o_totalprice")
          .coalesce(1).write.mode("append").parquet(land.getAbsolutePath)
        graft.streaming.StreamingOps.drain(spark, spark.readStream
          .schema(spark.table(te).schema)
          .option("maxFilesPerTrigger", "1")
          .parquet(land.getAbsolutePath)
          .writeStream
          .option("graft.upsert.key", "o_orderkey"), chk.getAbsolutePath)(
          _.toTable(te))
      }
    }
    require(table().eqDeletes.size == 3, "three unresolved epochs")
    // the feed crosses all three unresolved epochs: inserts ride the
    // epoch data files; deletes are TASK-PROBED per (epoch × prior file)
    timed("eqd_change_feed") {
      val feed = spark.read
        .option("graft.changes.from", preUpsert.toString)
        .table(s"$te.changes")
      println(s"""{"eqd_feed_rows":${feed.count()}}""")
    }
    // first COUNT pays the one-task-per-file key-column probe pass and
    // memoizes per (file, DV, epoch-set); the second answers from
    // metadata — the gap IS the memo's amortization
    var counted = 0L
    timed("eqd_count_first_probe") {
      counted = spark.sql(s"SELECT count(*) FROM $te")
        .collect().head.getLong(0)
    }
    timed("eqd_count_memoized") {
      require(spark.sql(s"SELECT count(*) FROM $te")
        .collect().head.getLong(0) == counted)
    }
    // bin-pack compaction prices bins from the memoized live counts,
    // applies the probes task-side, and RESOLVES the debt
    timed("eqd_binpack_resolve") {
      spark.sql(s"CALL graftlake.system.compact('maint_eqd')")
    }
    require(table().eqDeletes.isEmpty, "compaction must resolve the debt")
    val eqdAfter = spark.table(te).count()
    // each epoch replaced `copies` stored rows per key with one row
    val eqdExpected = n - (copies - 1).toLong * waveKeys.sum
    println(s"""{"eqd_rows_after":$eqdAfter,"eqd_expected":$eqdExpected,""" +
      s""""eqd_count_probe":$counted}""")
    require(eqdAfter == eqdExpected && counted == eqdExpected,
      s"eq-debt leg state drifted: $eqdAfter vs $eqdExpected")
    spark.sql(s"DROP TABLE IF EXISTS $te")

    // ---- cross-writer auto-rebase at scale ----
    // Two catalog instances (separate registries — the cross-driver
    // shape) share one durable warehouse at 12M rows. The claims this
    // leg prices: (a) a second driver's REOPEN restores from the log in
    // O(manifests), not O(data); (b) a STALE writer's commit lands via
    // refresh-and-rebase at a cost ≈ one reopen over the current
    // append, because the data plane never re-runs — only the metadata
    // commit loops; (c) distributed maintenance racing a cross-writer
    // append rebases rather than aborting, carrying the appended file
    // through.
    val wh = java.nio.file.Files.createTempDirectory("maint_cw_wh_")
      .toFile
    Seq("gmw", "gmw2").foreach { c =>
      spark.conf.set(s"spark.sql.catalog.$c",
        classOf[graft.sources.GraftLakeCatalog].getName)
      spark.conf.set(s"spark.sql.catalog.$c.warehouse",
        wh.getAbsolutePath)
    }
    val tc1 = "gmw.maint_race"
    val tc2 = "gmw2.maint_race"
    spark.sql(s"CREATE TABLE $tc1 (o_orderkey BIGINT, o_custkey BIGINT, " +
      "o_orderstatus STRING, o_totalprice DOUBLE) " +
      "TBLPROPERTIES ('graft.mode' = 'merge-on-read')")
    timed(s"cw_ingest_x$copies") {
      (1 to copies).map(_ => base).reduce(_ union _)
        .repartition(16).writeTo(tc1).append()
    }
    timed("cw_reopen_second_driver") {
      require(spark.table(tc2).count() == n, "driver 2 reopens at v1")
    }
    val slice = base.filter("o_orderkey % 4099 = 1")
      .selectExpr("o_orderkey", "o_custkey", "o_orderstatus",
        "o_totalprice").coalesce(1)
    // driver 2 commits while current — the baseline append cost
    timed("cw_append_current") { slice.writeTo(tc2).append() }
    // driver 1 is now stale: same append must lose the CAS, refresh
    // from the log, and land rebased — the delta vs the baseline is
    // the refresh cost (log-sized, data-free)
    val t1 = graft.sources.GraftLakeCatalog
      .tableFor("gmw", "maint_race").get
    val reb0 = t1.rebases
    timed("cw_append_stale_rebased") { slice.writeTo(tc1).append() }
    require(t1.rebases > reb0, "the stale append must have rebased")
    // driver 2 is stale now: a MoR DELETE whose targets the winner's
    // append never touched re-validates and rebases the same way
    val t2 = graft.sources.GraftLakeCatalog
      .tableFor("gmw2", "maint_race").get
    val reb2 = t2.rebases
    val total = spark.table(tc1).count()
    // snapshot isolation: the stale delete removes only the rows ITS
    // snapshot (driver 2's, pre-rebase) can see — count matches there
    val matches = spark.table(tc2)
      .where("o_orderkey % 97 = 0").count()
    timed("cw_delete_stale_rebased") {
      spark.sql(s"DELETE FROM $tc2 WHERE o_orderkey % 97 = 0")
    }
    require(t2.rebases > reb2, "the stale delete must have rebased")
    // distributed compaction racing a cross-writer append: the rewrite
    // re-validates only its sliced files and carries the append through
    @volatile var injected = false
    t2.commitHook = () => if (!injected) {
      injected = true
      slice.writeTo(tc1).append()
    }
    timed("cw_compact_races_append") {
      spark.sql(s"CALL gmw2.system.compact('maint_race')")
    }
    t2.commitHook = () => ()
    val cwAfter = spark.table(tc2).count()
    val cwExpected = total - matches + slice.count()
    println(s"""{"cw_rows_after":$cwAfter,"cw_expected":$cwExpected,""" +
      s""""cw_rebases_w1":${t1.rebases},"cw_rebases_w2":${t2.rebases}}""")
    require(cwAfter == cwExpected,
      s"cross-writer leg state drifted: $cwAfter vs $cwExpected")
    spark.sql(s"DROP TABLE IF EXISTS $tc1")

    // ---- N-writer sustained contention ----
    // FOUR concurrent drivers — two appenders, one CDC MERGE loop, one
    // compactor — race one 12M-row table. This is the regime the
    // 2-writer leg above never reaches: sustained mixed contention
    // where appends rebase silently past CAS losses while the MERGE ×
    // compaction races abort LOUDLY (replaced groups / DV skew) and
    // are retried as statement re-runs — exactly what the conflict
    // message prescribes. Claims: convergence to the exact row count,
    // a linear contiguous history, and loud aborts that always retry
    // clean (no wedged writer, no lost update).
    val whn = java.nio.file.Files.createTempDirectory("maint_nw_wh_")
      .toFile
    (1 to 4).foreach { i =>
      spark.conf.set(s"spark.sql.catalog.gnw$i",
        classOf[graft.sources.GraftLakeCatalog].getName)
      spark.conf.set(s"spark.sql.catalog.gnw$i.warehouse",
        whn.getAbsolutePath)
    }
    spark.sql("CREATE TABLE gnw1.maint_nw (o_orderkey BIGINT, " +
      "o_custkey BIGINT, o_orderstatus STRING, o_totalprice DOUBLE) " +
      "TBLPROPERTIES ('graft.mode' = 'merge-on-read')")
    timed(s"nw_ingest_x$copies") {
      (1 to copies).map(_ => base).reduce(_ union _)
        .repartition(16).writeTo("gnw1.maint_nw").append()
    }
    // prime the other drivers' reopen outside the contention timer
    (2 to 4).foreach(i => spark.table(s"gnw$i.maint_nw").count())
    val loudRetries = new java.util.concurrent.atomic.AtomicInteger
    def retrying(body: => Unit): Unit = {
      var done = false
      var tries = 0
      def conflict(c: Throwable): Boolean = {
        var cur = c
        var seen = List.empty[Throwable]
        while (cur != null && !seen.exists(_ eq cur)) {
          if (Option(cur.getMessage).exists(_.contains("write conflict")))
            return true
          seen ::= cur
          cur = cur.getCause
        }
        false
      }
      while (!done) {
        try { body; done = true }
        catch {
          case e: Exception if tries < 8 && conflict(e) =>
            tries += 1
            loudRetries.incrementAndGet()
        }
      }
    }
    val appendRows = 3000L
    def appender(w: Int): Runnable = () =>
      for (it <- 0 until 3) {
        val df = spark.range(0L, appendRows).selectExpr(
          s"-(1000000 * $w + 10000 * $it + id + 1) AS o_orderkey",
          "id AS o_custkey", "'A' AS o_orderstatus",
          "CAST(1.0 AS DOUBLE) AS o_totalprice").coalesce(1)
        retrying(df.writeTo(s"gnw$w.maint_nw").append())
      }
    val mergeSrc = base.filter("o_orderkey % 1024 = 7")
      .selectExpr("o_orderkey")
    mergeSrc.createOrReplaceTempView("nw_cdc_src")
    val mergeKeys = mergeSrc.count()
    val merger: Runnable = () =>
      for (it <- 0 until 4)
        retrying(spark.sql(
          "MERGE INTO gnw3.maint_nw t USING nw_cdc_src s " +
            "ON t.o_orderkey = s.o_orderkey " +
            s"WHEN MATCHED THEN UPDATE SET t.o_totalprice = ${-1.0 - it}"))
    val compactor: Runnable = () =>
      for (_ <- 0 until 3)
        retrying(spark.sql("CALL gnw4.system.compact('maint_nw')"))
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    val futs = Seq(appender(1), appender(2), merger, compactor)
      .map(pool.submit(_))
    timed("nw_contention_2app_1cdc_1compact") { futs.foreach(_.get()) }
    pool.shutdown()
    val nwRebases = (1 to 4).map(i => graft.sources.GraftLakeCatalog
      .tableFor(s"gnw$i", "maint_nw").get.rebases).sum
    // evict FIRST: a registry entry is a cache over the shared log, and
    // each writer's entry is only as fresh as its own last refresh — the
    // convergence read must come from the durable state all four raced to
    (1 to 4).foreach(i =>
      graft.sources.GraftLakeCatalog.evict(s"gnw$i", "maint_nw"))
    val nwAfter = spark.table("gnw1.maint_nw").count()
    val nwExpected = n + 2L * 3L * appendRows
    // the LAST merge's value must have stuck on every matched key —
    // a rebased/retried compaction that resurrected pre-merge rows
    // would break this (the lost update the loud aborts exist to stop)
    val nwMerged = spark.table("gnw1.maint_nw")
      .where("o_totalprice = -4.0").count()
    println(s"""{"nw_rows_after":$nwAfter,"nw_expected":$nwExpected,""" +
      s""""nw_merged":$nwMerged,"nw_merge_keys":${mergeKeys * copies},""" +
      s""""nw_rebases":$nwRebases,"nw_loud_retries":${loudRetries.get()}}""")
    require(nwAfter == nwExpected,
      s"N-writer contention drifted: $nwAfter vs $nwExpected")
    require(nwMerged == mergeKeys * copies,
      s"merge updates lost under contention: $nwMerged vs ${mergeKeys * copies}")
    val vers = spark.table("gnw1.maint_nw.history")
      .orderBy("version").collect().map(_.getInt(0)).toSeq
    require(vers == (vers.head to vers.max).toSeq,
      s"history must stay linear and contiguous: $vers")
    println(s"""{"nw_versions":${vers.length}}""")
    spark.sql("DROP TABLE IF EXISTS gnw1.maint_nw")
    spark.stop()
  }
}
