package graft.sources

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, StandardCopyOption}

import org.json4s._
import org.json4s.jackson.JsonMethods

import org.apache.spark.sql.types.{DataType, Decimal, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** A lost commit CAS: another writer owns (or reclaimed) the target.
  * Callers wrap it with table context — the reason string stays
  * store-level. */
private[graft] final class GraftClaimConflict(msg: String)
    extends Exception(msg)

/** Cross-writer commit arbitration — THE seam between the lake's
  * optimistic-commit protocol and the store's atomicity primitive.
  * Every immutable object the log commits (a
  * v<N>.json version record, an f<N>.parquet data-file number, an
  * e<N>.parquet keys file, a g*.json manifest group) is arbitrated
  * through exactly three operations:
  *
  *  - `claim(target)`  — exclusively reserve the name; the SECOND
  *    writer of the same name must lose here, loudly. A stale
  *    abandoned claim ([[GraftLakeLog.staleClaim]]) is reclaimed at
  *    most once. Returns an opaque ownership token.
  *  - `fill(target, token, src)` — publish the content atomically,
  *    CONDITIONAL on the claim still being the one `token` represents
  *    (a writer stalled past the stale window can have its claim
  *    reclaimed; blind publish would clobber the reclaimer's commit).
  *  - `release(target, token)` — best-effort removal of our own
  *    UNFILLED claim after a failed fill; must never touch a
  *    reclaimer's claim or a filled object.
  *
  * POSIX contract (the default, [[PosixCommitArbiter]]): claim =
  * O_CREAT|O_EXCL zero-byte file, token = the claim's inode (fileKey),
  * fill = re-verify inode + atomic rename(2) over the claim.
  *
  * Object-store contract (S3-class, documented for the cluster port —
  * no implementation ships yet): claim = conditional PUT
  * (`If-None-Match: *`) of a zero-length marker, token = the returned
  * ETag / version-id; fill = conditional PUT (`If-Match: <token>`) of
  * the content — one round trip, no rename needed because the
  * conditional PUT IS the single-winner CAS; release = conditional
  * DELETE (`If-Match: <token>`). Everything above this seam —
  * stale-claim reclamation policy, conflict semantics,
  * revert-on-failure — is store-agnostic. */
private[graft] trait GraftCommitArbiter {
  def claim(target: File): AnyRef
  def fill(target: File, token: AnyRef, src: File): Unit
  def release(target: File, token: AnyRef): Unit
}

private[graft] object GraftCommitArbiter {
  /** The process-wide arbiter. A cluster deployment swaps this for the
    * store's implementation at startup; specs inject deterministic
    * race-losers and restore the default. */
  @volatile var active: GraftCommitArbiter = PosixCommitArbiter
}

/** O_CREAT|O_EXCL + verify-inode + rename(2): the POSIX instance of
  * the [[GraftCommitArbiter]] contract (the pre-seam protocol,
  * verbatim — existing cross-writer specs pass through unchanged). */
private[graft] object PosixCommitArbiter extends GraftCommitArbiter {
  override def claim(target: File): AnyRef = {
    def once(retriable: Boolean): Unit =
      try Files.createFile(target.toPath)
      catch {
        case _: java.nio.file.FileAlreadyExistsException
            if retriable && GraftLakeLog.staleClaim(target) =>
          // an ABANDONED claim (zero bytes, older than any plausible
          // claim→fill latency): its writer died mid-commit — reclaim
          // the name instead of conflicting forever
          target.delete()
          once(retriable = false)
        case _: java.nio.file.FileAlreadyExistsException =>
          throw new GraftClaimConflict(
            s"${target.getName} is already claimed or committed")
      }
    once(retriable = true)
    // the claim's inode IS the writer token: a reclaimer
    // deletes this file and creates its own, so a changed/absent key
    // proves the claim is no longer ours. fileKey can be null on
    // exotic filesystems — verification is then skipped (the O_EXCL
    // claim alone still covers the sub-hour envelope, as before).
    try Files.readAttributes(target.toPath,
        classOf[java.nio.file.attribute.BasicFileAttributes]).fileKey()
    catch { case _: java.io.IOException => null }
  }

  override def fill(target: File, token: AnyRef, src: File): Unit = {
    if (token != null) {
      // VERIFY-BEFORE-FILL: ATOMIC_MOVE is a plain
      // rename(2) — it replaces silently. A writer stalled PAST the
      // 1-hour stale window between claim and fill can have its name
      // reclaimed by another writer; blindly filling would clobber the
      // reclaimer's committed record. Re-read the target's inode: ours
      // → fill proceeds (the move is atomic, and any reclaim in the
      // microsecond gap after this check requires the reclaimer to
      // have observed a >1h-old claim that this running writer
      // refreshes implicitly by existing — the residual window is the
      // check-to-move instant, down from the full stall duration);
      // changed or gone → the claim was reclaimed, fail as the
      // conflict it is.
      val nowKey = try Files.readAttributes(target.toPath,
          classOf[java.nio.file.attribute.BasicFileAttributes]).fileKey()
        catch { case _: java.io.IOException => null }
      if (nowKey != token) throw new GraftClaimConflict(
        s"claim of ${target.getName} was reclaimed as stale")
    }
    Files.move(src.toPath, target.toPath,
      StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
  }

  override def release(target: File, token: AnyRef): Unit =
    // deleted only when still provably OURS — unfilled (length 0) and,
    // when the filesystem supports file keys, the same inode we
    // claimed (a reclaimer's fresh claim or filled commit survives)
    if (target.length() == 0L) {
      val stillOurs = token == null || {
        try token == Files.readAttributes(target.toPath,
          classOf[java.nio.file.attribute.BasicFileAttributes]).fileKey()
        catch { case _: java.io.IOException => false }
      }
      if (stillOurs)
        try Files.deleteIfExists(target.toPath)
        catch { case _: java.io.IOException => () }
    }
}

/** DURABLE lake table metadata: commit history + file manifests
  * persisted as FILES under the table root, so the table's whole state
  * — data, schema history, time travel, change feed, refs — survives a
  * JVM restart and the in-memory registry becomes a cache.
  *
  * Layout (the Iceberg metadata-as-files shape, minimally expressed
  * over this engine's linear history):
  * {{{
  *   <root>/f<N>.parquet            the data files (unchanged)
  *   <root>/_graft_log/
  *     table.json                   static identity: name, partition
  *                                  spec, write mode (written once)
  *     f<N>.manifest.json           ONE PER DATA FILE, written at file
  *                                  creation and never rewritten: field
  *                                  ids, physical types, parquet labels,
  *                                  row/byte counts and the full column
  *                                  stats block (min/max, nulls, sums,
  *                                  nested-leaf stats) that drives
  *                                  pruning and scan-less aggregates
  *     v<N>.json                    ONE PER COMMIT (the manifest list):
  *                                  the snapshot as an ORDERED file-id
  *                                  list + deletion vectors, the
  *                                  dataChange flag, commit time, and
  *                                  the schema record (schema JSON,
  *                                  field ids, exists-defaults) the
  *                                  commit was made under
  *     refs.json                    tags + branches (incl. staged
  *                                  branch commits), rewritten on ref
  *                                  change — small by construction
  * }}}
  *
  * Write amplification per commit is ONE small JSON (the manifest
  * list); file manifests are immutable once written — the same
  * append-only discipline as Iceberg's manifest reuse. Every write
  * lands via temp-file + atomic rename, so a crash can tear nothing.
  *
  * Restore inverts the layout: manifests → file objects (shared across
  * snapshots, preserving the commit-order id lists), v*.json → history
  * / commitTimes / commitSchemas (baseVersion = the lowest retained
  * commit number — expire deletes the files below it), refs.json →
  * tags/branches. Scale note: this is CONTROL-PLANE data — one small
  * JSON per file/commit, read once at open; the 100 TB data path never
  * touches it. */
private[sources] class GraftLakeLog(root: File) {
  private val dir = new File(root, GraftLakeLog.LogDir)
  dir.mkdirs()

  private def writeAtomic(name: String, content: String,
      overwrite: Boolean = true): Unit = {
    val target = new File(dir, name)
    val arbiter = GraftCommitArbiter.active
    if (overwrite) {
      // mutable objects (table.json, refs.json, group rewrites): plain
      // temp + atomic replace, no arbitration — last writer wins by
      // design and a crash can tear nothing
      val tmp = new File(dir, name + ".tmp")
      Files.write(tmp.toPath, content.getBytes(StandardCharsets.UTF_8))
      Files.move(tmp.toPath, target.toPath,
        StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
      return
    }
    // OPTIMISTIC COMMIT CLAIM: version files are immutable, and the
    // arbiter's claim is the cross-process CAS — the second writer of
    // the same version number loses HERE, loudly, instead of silently
    // clobbering the first one's commit (the file-layer analog of
    // Iceberg's metadata-swap CAS). The claimed object is filled just
    // below; the claim→fill window is commit-latency-sized and a
    // reopen validates contiguity.
    val token = try arbiter.claim(target)
      catch {
        case e: GraftClaimConflict => throw new IllegalStateException(
          s"write conflict on ${root.getName}: $name was already " +
            "committed by another writer — this writer's snapshot " +
            "is stale; reopen the table and retry the statement", e)
      }
    var claimed = true
    try {
      val tmp = new File(dir, name + ".tmp")
      Files.write(tmp.toPath, content.getBytes(StandardCharsets.UTF_8))
      try arbiter.fill(target, token, tmp)
      catch {
        case e: GraftClaimConflict =>
          Files.deleteIfExists(tmp.toPath)
          // the claim at `target` is the RECLAIMER's now — the cleanup
          // below must not touch it
          claimed = false
          throw new IllegalStateException(
            s"write conflict on ${root.getName}: this writer's claim of " +
              s"$name was reclaimed as stale by another writer — the " +
              "commit was not made; reopen the table and retry", e)
      }
    } catch {
      case e: Throwable =>
        // a FAILED fill (disk full, permissions, the reclaim conflict
        // above) must not leave OUR unfilled claim behind: it would
        // block every writer's commit of this version for the full
        // stale window. The arbiter releases only what is
        // provably still OURS.
        if (claimed) arbiter.release(target, token)
        throw e
    }
  }

  def writeTable(tableName: String, partSpec: Seq[GraftPartTransform],
      mergeOnRead: Boolean): Unit =
    writeAtomic("table.json", JsonMethods.compact(JObject(
      "name" -> JString(tableName),
      "partSpec" -> JArray(partSpec.map(t =>
        JString(GraftLakeLog.encodePart(t))).toList),
      "mergeOnRead" -> JBool(mergeOnRead))))

  def writeFileManifest(f: GraftLakeFile): Unit = {
    import GraftLakeLog._
    val name = new File(f.path).getName.stripSuffix(".parquet")
    writeAtomic(s"$name.manifest.json", JsonMethods.compact(JObject(
      "id" -> JString(f.id),
      "file" -> JString(new File(f.path).getName),
      "cols" -> JArray(f.cols.map(i => JInt(BigInt(i))).toList),
      "types" -> JArray(f.types.map(t => JString(t.json)).toList),
      "pnames" -> JArray(f.pnames.map(JString(_)).toList),
      "bytes" -> JLong(f.bytes),
      "rows" -> JLong(f.numRows),
      "sortedBy" -> JArray(f.sortedBy.map(i => JInt(BigInt(i))).toList),
      "stats" -> JObject(f.stats.toList.map { case (k, (lo, hi)) =>
        k.toString -> JArray(List(enc(lo), enc(hi))) }),
      "nulls" -> JObject(f.nulls.toList.map { case (k, v) =>
        k.toString -> JLong(v) }),
      "sums" -> JObject(f.sums.toList.map { case (k, v) =>
        k.toString -> JLong(v) }),
      "dsums" -> JObject(f.dsums.toList.map { case (k, v) =>
        k.toString -> JString(v.toPlainString) }),
      "nstats" -> JObject(f.nstats.toList.map { case ((id, leaf), (lo, hi)) =>
        s"$id:$leaf" -> JArray(List(enc(lo), enc(hi))) }),
      "nnulls" -> JObject(f.nnulls.toList.map { case ((id, leaf), v) =>
        s"$id:$leaf" -> JLong(v) }),
      // partition-pure key tuple (fanout write), absent when None,
      // plus the partition-spec id the tuple was evaluated under
      "pkey" -> f.pkey.map(k => JArray(k.map(enc).toList): JValue)
        .getOrElse(JNothing),
      "pspecId" -> JInt(BigInt(f.pspecId)),
      // bloom bit-words as base64 of big-endian longs — compact and
      // byte-exact (a corrupted bloom would be a correctness bug: a
      // bloom MISS is treated as proof of absence). bloomv pins the
      // HASH FUNCTION generation: restore drops blooms
      // written under any other generation — conservative no-pruning
      // instead of silent false negatives.
      "bloomv" -> JInt(BigInt(GraftLakeLog.BloomHashVersion)),
      // per-column HLL registers (CBO distinctCount input): estimates
      // only, so no generation pin — a drifted sketch costs plan
      // quality, never answers
      "ndv" -> JObject(f.ndv.toList.map { case (id, regs) =>
        id.toString ->
          JString(java.util.Base64.getEncoder.encodeToString(regs))
      }),
      "blooms" -> JObject(f.blooms.toList.map { case (id, words) =>
        val bb = java.nio.ByteBuffer.allocate(words.length * 8)
        words.foreach(bb.putLong)
        id.toString ->
          JString(java.util.Base64.getEncoder.encodeToString(bb.array()))
      }))))
  }

  /** Unlink the loose manifest of a minted file no commit adopted. */
  def dropFileManifest(f: GraftLakeFile): Unit =
    new File(dir,
      s"${new File(f.path).getName.stripSuffix(".parquet")}.manifest.json")
      .delete()

  def writeCommit(version: Int, snap: GraftLakeSnapshot,
      dataChange: Boolean, timeMillis: Long, schema: StructType,
      colIds: Seq[Int], defaults: Map[Int, Any], fileSeq: Int,
      nextColId: Int, txn: Option[(String, Long)] = None,
      pspec: Option[(Int, Seq[GraftPartTransform])] = None,
      constraints: Option[Seq[(String, String, Boolean, Boolean, String)]]
        = None): Unit = {
    import GraftLakeLog._
    val fields: List[JField] = List(
      "files" -> JArray(snap.files.map(f => JString(f.id)).toList),
      "dvs" -> dvsJson(snap.dvs),
      // unresolved equality deletes (streaming upsert): the FULL
      // current vector rides every commit, like dvs — the last
      // retained commit alone fully describes them
      "eqs" -> JArray(snap.eqs.map(e => JObject(
        "col" -> JInt(BigInt(e.colId)),
        "file" -> JString(new File(e.path).getName),
        "label" -> JString(e.label),
        "below" -> JInt(BigInt(e.belowSeq)),
        "type" -> JString(e.valueType.json))).toList),
      "dataChange" -> JBool(dataChange),
      "time" -> JLong(timeMillis),
      "schema" -> JString(schema.json),
      "colIds" -> JArray(colIds.map(i => JInt(BigInt(i))).toList),
      "defaults" -> JObject(defaults.toList.map { case (k, v) =>
        k.toString -> enc(v) }),
      "fileSeq" -> JInt(BigInt(fileSeq)),
      "nextColId" -> JInt(BigInt(nextColId))) ++
      // current partition spec (id + transforms): present on every
      // commit once evolution happened, so restore reads the LAST
      // commit's spec and expire can never lose it
      pspec.map { case (sid, ts) => List[JField](
        "pspecId" -> JInt(BigInt(sid)),
        "pspec" -> JArray(ts.map(t => JString(GraftLakeLog.encodePart(t)))
          .toList))
      }.getOrElse(Nil) ++
      // streaming-epoch stamp (Delta's txn action): ATOMIC with the
      // commit, so a replayed epoch after a restart is provably a
      // duplicate even across a crash mid-commit
      txn.map { case (app, epoch) => "txn" -> (JObject(
        "app" -> JString(app), "epoch" -> JLong(epoch)): JValue) }.toList ++
      // CHECK-constraint vector, ATOMIC with the version CAS: a rebase
      // refresh derives constraints from the WON commit
      // record, so the concurrent-refresh lost-update window on the
      // separately-timed constraints.json cannot erase a winner's
      // constraint. Carried on every commit once the table ever had
      // one (empty array = "all dropped", distinct from absent =
      // "never tracked / pre-carriage legacy record").
      constraints.map(cs => "constraints" -> (JArray(
        cs.toList.map { case (name, sql, enforced, rely, status) => JObject(
          "name" -> JString(name),
          "sql" -> JString(sql),
          "enforced" -> JBool(enforced),
          "rely" -> JBool(rely),
          "status" -> JString(status)) }): JValue)).toList
    writeAtomic(s"v$version.json",
      JsonMethods.compact(JObject(fields: _*)), overwrite = false)
  }

  /** Consolidated streaming-epoch watermarks, written at EXPIRE time:
    * dropping v*.json files below the floor must not forget their txn
    * stamps, or a long-stopped query restarting after an expire could
    * replay its last epoch as new rows. */
  def writeTxns(txns: Map[String, Long]): Unit =
    writeAtomic("txns.json", JsonMethods.compact(JObject(
      txns.toList.map { case (q, e) => q -> JLong(e) })))

  def writeRefs(tags: Map[String, Int],
      branches: Map[String, (Int, Vector[(GraftLakeSnapshot, Boolean)])])
      : Unit = {
    import GraftLakeLog._
    writeAtomic("refs.json", JsonMethods.compact(JObject(
      "tags" -> JObject(tags.toList.map { case (n, v) =>
        n -> JInt(BigInt(v)) }),
      "branches" -> JObject(branches.toList.map { case (n, (base, staged)) =>
        n -> JObject(
          "base" -> JInt(BigInt(base)),
          "staged" -> JArray(staged.map { case (s, dc) => JObject(
            "files" -> JArray(s.files.map(f => JString(f.id)).toList),
            "dvs" -> dvsJson(s.dvs),
            "dataChange" -> JBool(dc))
          }.toList)) }))))
  }

  /** Table-level CHECK constraints — mutable metadata like refs.json
    * (last writer wins, atomic replace): (name, predicate SQL,
    * enforced, rely, validation status) per constraint. */
  def writeConstraints(
      cs: Seq[(String, String, Boolean, Boolean, String)]): Unit = {
    writeAtomic("constraints.json", JsonMethods.compact(JArray(
      cs.toList.map { case (name, sql, enforced, rely, status) => JObject(
        "name" -> JString(name),
        "sql" -> JString(sql),
        "enforced" -> JBool(enforced),
        "rely" -> JBool(rely),
        "status" -> JString(status)) })))
  }

  /** Expire: drop the manifest-list files of versions below `floor`. */
  def dropCommitsBelow(floor: Int): Unit =
    Option(dir.listFiles()).getOrElse(Array.empty).foreach { f =>
      f.getName match {
        case GraftLakeLog.CommitName(v) if v.toInt < floor => f.delete()
        case _ => ()
      }
    }

  /** Vacuum companion: a data file deleted by expire loses its
    * manifest — both loose manifests and members bundled inside
    * manifest GROUPS (the group is rewritten without them; a group
    * emptied entirely is deleted). */
  def dropManifestsExcept(liveParquetNames: Set[String]): Unit =
    Option(dir.listFiles()).getOrElse(Array.empty).foreach { f =>
      f.getName match {
        case GraftLakeLog.ManifestName(base)
            if !liveParquetNames.contains(s"$base.parquet") => f.delete()
        case GraftLakeLog.GroupName(_, _) if f.length() > 0L =>
          JsonMethods.parse(Files.readString(f.toPath)) match {
            case JArray(ms) =>
              val live = ms.filter(m => (m \ "file") match {
                case JString(p) => liveParquetNames.contains(p)
                case _ => true
              })
              if (live.isEmpty) f.delete()
              else if (live.length < ms.length)
                writeAtomic(f.getName,
                  JsonMethods.compact(JArray(live)))
            case _ => ()
          }
        case _ => ()
      }
    }

  /** MANIFEST GROUPING: restore used to parse one
    * JSON per data file — O(files) serial driver work at open; at
    * millions of files that is the planning bottleneck Iceberg bounds
    * with manifest grouping. Called after every successful commit:
    * bundles each full run of [[GraftLakeLog.GroupSize]] loose
    * manifests (oldest first, by file number) into one
    * `g<first>-<last>.json` holding the members' manifest objects as a
    * JSON array, then deletes the loose files — restore reads
    * O(groups + ungrouped tail) JSONs instead of O(files).
    *
    * Crash/concurrency envelope: the group name is DETERMINISTIC for a
    * given member run, and the O_EXCL claim arbitrates concurrent
    * groupers (the loser skips — grouping is idempotent maintenance).
    * A crash between fill and member deletion leaves both; restore
    * dedups by file id. A crash between claim and fill leaves a
    * zero-byte group; restore skips it, members still serve, and the
    * stale-claim reclaim frees the name later. A reader that listed a
    * loose manifest just before the grouper deleted it retries its
    * whole restore (see [[GraftLakeLog.restore]]). Grouping failures
    * never fail the commit that triggered them. */
  def groupManifests(): Unit =
    try {
      val loose = Option(dir.listFiles()).getOrElse(Array.empty)
        .flatMap(f => f.getName match {
          case GraftLakeLog.ManifestName(base) =>
            Some(base.stripPrefix("f").toInt -> f)
          case _ => None
        }).sortBy(_._1)
      loose.grouped(GraftLakeLog.GroupSize)
        .filter(_.length == GraftLakeLog.GroupSize).foreach { g =>
          val target = new File(dir, s"g${g.head._1}-${g.last._1}.json")
          val claimed =
            try { Files.createFile(target.toPath); true }
            catch {
              case _: java.nio.file.FileAlreadyExistsException
                  if GraftLakeLog.staleClaim(target) =>
                target.delete()
                try { Files.createFile(target.toPath); true }
                catch { case _: java.io.IOException => false }
              case _: java.io.IOException => false
            }
          if (claimed) {
            // raw concatenation: members are immutable compact JSON
            // objects — no re-encode, byte-exact bundling
            val content = g.map(m => Files.readString(m._2.toPath))
              .mkString("[", ",", "]")
            val tmp = new File(dir, target.getName + ".tmp")
            Files.write(tmp.toPath,
              content.getBytes(StandardCharsets.UTF_8))
            Files.move(tmp.toPath, target.toPath,
              StandardCopyOption.ATOMIC_MOVE,
              StandardCopyOption.REPLACE_EXISTING)
            g.foreach(_._2.delete())
          }
        }
    } catch { case scala.util.control.NonFatal(_) => () }
}

private[sources] object GraftLakeLog {
  val LogDir = "_graft_log"
  /** Manifests per group file (see [[GraftLakeLog.groupManifests]]). */
  val GroupSize: Int = 64
  /** TEST HOOK: log JSON files parsed by restore since the last reset —
    * the bounded-open spec's probe (reads must scale with manifest
    * GROUPS, not with data files). */
  val logReads = new java.util.concurrent.atomic.AtomicLong
  private[sources] val GroupName = "^g(\\d+)-(\\d+)\\.json$".r
  /** Generation of the in-repo bloom hash (GraftLakeStats.bloomHash):
    * bump ONLY when that function changes; restore ignores persisted
    * bloom bits stamped with any other generation. Generation 2 =
    * FNV-1a over raw UTF-8 bytes (generation 1, unstamped, derived
    * string hashes from UTF8String.hashCode — an external detail). */
  val BloomHashVersion = 2
  private val CommitName = "^v(\\d+)\\.json$".r
  private val ManifestName = "^(f\\d+)\\.manifest\\.json$".r

  /** String codec for partition transforms — the one spelling shared
    * by table.json, commit records, and CALL set_partition_spec. */
  def encodePart(t: GraftPartTransform): String = t match {
    case IdentityPart(c) => s"identity:$c"
    case DaysPart(c) => s"days:$c"
    case BucketPart(n, c) => s"bucket:$n:$c"
  }
  def parsePart(s: String): GraftPartTransform = s.split(":", 3) match {
    case Array("identity", c) => IdentityPart(c)
    case Array("days", c) => DaysPart(c)
    case Array("bucket", n, c) => BucketPart(n.toInt, c)
    case _ => throw new IllegalArgumentException(
      s"bad partition transform '$s' (identity:<col>, days:<col>, " +
        "bucket:<n>:<col>)")
  }

  /** An ABANDONED commit/data-file claim: zero bytes and older than
    * any plausible claim→fill latency (the same 1-hour judgment the
    * pin-stale vacuum uses). Claims younger than this are treated as
    * IN-FLIGHT: never deleted, never reclaimed — which is what bounds
    * the reclaim-vs-slow-fill race to a writer stalled a full hour
    * mid-commit, outside the design envelope. */
  private[sources] def staleClaim(f: File): Boolean =
    f.isFile && f.length() == 0L &&
      f.lastModified() < System.currentTimeMillis() - StaleClaimMillis
  private[sources] val StaleClaimMillis: Long = 60L * 60 * 1000

  /** Does `root` hold a reopenable table? Requires at least one FILLED
    * commit record: a torn CREATE (table.json written, v0.json claim
    * never filled) never became a table — it must neither reopen nor
    * block a fresh CREATE of the same identifier. */
  def exists(root: File): Boolean = {
    val d = new File(root, LogDir)
    new File(d, "table.json").isFile &&
      Option(d.listFiles()).getOrElse(Array.empty).exists(f =>
        CommitName.pattern.matcher(f.getName).matches() &&
          f.length() > 0L)
  }

  // ---- tagged catalyst-value codec -----------------------------------------
  // Stats / defaults hold INTERNAL values (UTF8String, Decimal, raw
  // date/timestamp ordinals). Encode as [tag, string] — Double.toString
  // / parseDouble round-trips bit-exactly, Decimal carries
  // precision/scale explicitly, and the tag alone recovers the runtime
  // class (the consuming comparisons are physical-value-driven).
  def enc(v: Any): JValue = v match {
    case null => JNull
    case l: java.lang.Long => JArray(List(JString("l"), JString(l.toString)))
    case i: java.lang.Integer =>
      JArray(List(JString("i"), JString(i.toString)))
    case d: java.lang.Double =>
      JArray(List(JString("d"), JString(d.toString)))
    case f: java.lang.Float => JArray(List(JString("f"), JString(f.toString)))
    case b: java.lang.Boolean =>
      JArray(List(JString("b"), JString(b.toString)))
    case u: UTF8String => JArray(List(JString("u"), JString(u.toString)))
    case dec: Decimal => JArray(List(JString("dec"),
      JString(dec.toJavaBigDecimal.toPlainString),
      JString(dec.precision.toString), JString(dec.scale.toString)))
    case other => throw new UnsupportedOperationException(
      s"cannot persist lake metadata value of ${other.getClass}")
  }

  def dec(j: JValue): Any = j match {
    case JNull => null
    case JArray(JString(tag) :: JString(s) :: rest) => tag match {
      case "l" => java.lang.Long.valueOf(s)
      case "i" => java.lang.Integer.valueOf(s)
      case "d" => java.lang.Double.valueOf(s)
      case "f" => java.lang.Float.valueOf(s)
      case "b" => java.lang.Boolean.valueOf(s)
      case "u" => UTF8String.fromString(s)
      case "dec" =>
        val List(JString(p), JString(sc)) = rest
        Decimal(new java.math.BigDecimal(s), p.toInt, sc.toInt)
      case other =>
        throw new IllegalStateException(s"unknown value tag '$other'")
    }
    case other => throw new IllegalStateException(s"bad tagged value $other")
  }

  private def dvsJson(dvs: Map[String, Set[Long]]): JObject =
    JObject(dvs.toList.map { case (id, dead) =>
      id -> JArray(dead.toList.sorted.map(JLong(_))) })

  private def dvsOf(j: JValue): Map[String, Set[Long]] = j match {
    case JObject(fields) => fields.map { case (id, JArray(vs)) =>
      id -> vs.map { case v => v.values.toString.toLong }.toSet
    }.toMap
    case _ => Map.empty
  }

  /** Everything a reopen restores — mirrors GraftLakeTable's mutable
    * state, in declaration order. */
  final case class Restored(
      tableName: String,
      partSpec: Seq[GraftPartTransform],
      mergeOnRead: Boolean,
      files: Vector[GraftLakeFile],
      dvs: Map[String, Set[Long]],
      fileSeq: Int,
      schemaNow: StructType,
      colIds: Vector[Int],
      nextColId: Int,
      colDefaults: Map[Int, Any],
      history: Vector[(GraftLakeSnapshot, Boolean)],
      baseVersion: Int,
      commitTimes: Vector[Long],
      commitSchemas: Vector[(StructType, Vector[Int], Map[Int, Any])],
      tagRefs: Map[String, Int],
      branches: Map[String, (Int, Vector[(GraftLakeSnapshot, Boolean)])],
      txns: Map[String, Long],
      pspecId: Int = 0,
      pspecNow: Seq[GraftPartTransform] = Nil,
      constraints: Seq[(String, String, Boolean, Boolean, String)] = Nil)

  private def str(j: JValue, k: String): String =
    (j \ k).asInstanceOf[JString].s
  private def intOf(j: JValue): Int = j.values.toString.toInt
  private def longOf(j: JValue): Long = j.values.toString.toLong
  private def arr(j: JValue, k: String): List[JValue] = (j \ k) match {
    case JArray(vs) => vs
    case _ => Nil
  }
  private def objFields(j: JValue, k: String): List[(String, JValue)] =
    (j \ k) match {
      case JObject(fs) => fs
      case _ => Nil
    }

  /** One manifest OBJECT (loose file or group member) → file object. */
  private def fileOfManifest(root: File, m: JValue): GraftLakeFile = {
    def statPairs(k: String): List[(String, (Any, Any))] =
      objFields(m, k).map { case (kk, JArray(List(lo, hi))) =>
        kk -> ((dec(lo), dec(hi)))
      }
    GraftLakeFile(
      id = str(m, "id"),
      cols = arr(m, "cols").map(intOf),
      path = new File(root, str(m, "file")).getAbsolutePath,
      types = arr(m, "types").map(j =>
        DataType.fromJson(j.asInstanceOf[JString].s)),
      bytes = longOf(m \ "bytes"),
      stats = statPairs("stats").map { case (k, v) => k.toInt -> v }.toMap,
      numRows = longOf(m \ "rows"),
      nulls = objFields(m, "nulls").map { case (k, v) =>
        k.toInt -> longOf(v) }.toMap,
      sums = objFields(m, "sums").map { case (k, v) =>
        k.toInt -> longOf(v) }.toMap,
      dsums = objFields(m, "dsums").map { case (k, JString(s)) =>
        k.toInt -> new java.math.BigDecimal(s) }.toMap,
      sortedBy = arr(m, "sortedBy").map(intOf),
      nstats = statPairs("nstats").map { case (k, v) =>
        val Array(id, leaf) = k.split(":", 2)
        (id.toInt, leaf) -> v }.toMap,
      nnulls = objFields(m, "nnulls").map { case (k, v) =>
        val Array(id, leaf) = k.split(":", 2)
        (id.toInt, leaf) -> longOf(v) }.toMap,
      pkey = (m \ "pkey") match {
        case JArray(vs) => Some(vs.map(dec).toVector)
        case _ => None
      },
      pspecId = (m \ "pspecId") match {
        case JNothing => 0
        case v => intOf(v)
      },
      // blooms from another hash generation are DROPPED (see
      // writeFileManifest): the file scans unpruned, never wrongly
      blooms = (if ((m \ "bloomv") match {
          case JNothing => false
          case v => intOf(v) == BloomHashVersion
        }) objFields(m, "blooms") else Nil)
        .map { case (k, JString(b64)) =>
        val bytes = java.util.Base64.getDecoder.decode(b64)
        val bb = java.nio.ByteBuffer.wrap(bytes)
        val words = new Array[Long](bytes.length / 8)
        var w = 0
        while (w < words.length) { words(w) = bb.getLong; w += 1 }
        k.toInt -> words
      }.toMap,
      // write-time labels are how the reader finds each column's chunk:
      // a manifest without them cannot be read, so it fails the open
      pnames = (m \ "pnames") match {
        case JArray(vs) if vs.length == arr(m, "cols").length =>
          vs.map(_.asInstanceOf[JString].s)
        case _ => throw new IllegalStateException(
          s"file manifest ${str(m, "id")} under $root has no write-time " +
            "column labels (pnames) for its columns")
      },
      ndv = objFields(m, "ndv").map { case (k, JString(b64)) =>
        k.toInt -> java.util.Base64.getDecoder.decode(b64)
      }.toMap)
  }

  def restore(root: File): Restored = {
    // BOUNDED RETRY for the grouping race: a concurrent writer's
    // groupManifests() may delete a loose manifest this restore just
    // listed (its content now lives in a group file). Re-listing picks
    // the group up; the loop converges because grouping strictly
    // shrinks the loose set.
    var attempt = 0
    while (true) {
      try return restoreOnce(root)
      catch {
        case _: java.nio.file.NoSuchFileException if attempt < 3 =>
          attempt += 1
      }
    }
    throw new IllegalStateException("unreachable")
  }

  private def restoreOnce(root: File): Restored = {
    val dir = new File(root, LogDir)
    def parse(f: File): JValue = {
      logReads.incrementAndGet()
      JsonMethods.parse(Files.readString(f.toPath))
    }

    val t = parse(new File(dir, "table.json"))
    val partSpec: Seq[GraftPartTransform] = arr(t, "partSpec").map {
      case JString(s) => parsePart(s)
      case other => throw new IllegalStateException(s"bad partSpec $other")
    }

    // file manifests → shared file objects: manifest GROUPS first (one
    // parse per GroupSize files — the O(files) → O(groups) planning
    // bound), then the loose ungrouped tail. A
    // loose manifest whose id a group already covered is the
    // crash-between-fill-and-delete leftover — same bytes, either wins.
    val listing = Option(dir.listFiles()).getOrElse(Array.empty)
    val grouped = listing.iterator
      .filter(f => GroupName.pattern.matcher(f.getName).matches() &&
        f.length() > 0L) // zero bytes = unfilled group claim: skip
      .flatMap(f => parse(f) match {
        case JArray(ms) => ms.map(fileOfManifest(root, _))
        case other => throw new IllegalStateException(
          s"corrupt manifest group ${f.getAbsolutePath}: $other")
      })
    val loose = listing.iterator
      .filter(f => ManifestName.pattern.matcher(f.getName).matches())
      .map(f => fileOfManifest(root, parse(f)))
    val fileById = (grouped ++ loose).map(gf => gf.id -> gf).toMap

    def snapOf(j: JValue): GraftLakeSnapshot = GraftLakeSnapshot(
      arr(j, "files").map(f => fileById(f.asInstanceOf[JString].s)).toVector,
      dvsOf(j \ "dvs"),
      arr(j, "eqs").map { e =>
        // the keys file's write-time label is how the reader finds its
        // one column: an entry without it cannot be read
        val label = (e \ "label") match {
          case JString(l) => l
          case _ => throw new IllegalStateException(
            s"equality delete ${str(e, "file")} of table " +
              s"${str(t, "name")} under $root has no write-time key " +
              "label")
        }
        GraftEqDelete(intOf(e \ "col"),
          new File(root, str(e, "file")).getAbsolutePath, label,
          intOf(e \ "below"), DataType.fromJson(str(e, "type")))
      }.toVector)

    // commits, in version order; baseVersion = lowest retained
    // A ZERO-BYTE commit file is an unfilled O_EXCL claim: the writer
    // died (or is mid-commit) between claiming v<N>.json and atomically
    // filling it — the commit was never logically made. Such claims can
    // only be the TAIL of the log (a later version requires its writer
    // to have committed the earlier one first), so drop trailing empty
    // files instead of letting JSON parsing brick every future reopen;
    // an empty file below a filled one is real corruption and still
    // fails the contiguity check below.
    val allCommitFiles = listing.flatMap(f => f.getName match {
      case CommitName(v) => Some(v.toInt -> f)
      case _ => None
    }).sortBy(_._1)
    val commitFiles = allCommitFiles.reverse
      .dropWhile(_._2.length() == 0L).reverse
    // RECLAIM abandoned claims: leaving the empty file would make the
    // next writer's O_EXCL claim of that version conflict forever. Only
    // claims past the 1-hour stale window are deleted — a LIVE writer's
    // claim→fill is milliseconds, so a young empty tail is left alone
    // (this reopen still ignores it; the writer's atomic fill lands
    // whether or not the claim file exists).
    allCommitFiles.drop(commitFiles.length).foreach { case (_, f) =>
      if (staleClaim(f)) f.delete()
    }
    val commits = commitFiles.map { case (v, f) =>
      // name the file on a parse failure: a zero-byte commit BELOW a
      // filled one (real corruption) must not die as an anonymous
      // Jackson error
      try v -> parse(f)
      catch { case e: Throwable => throw new IllegalStateException(
        s"corrupt commit record ${f.getAbsolutePath} " +
          s"(${f.length()} bytes): ${e.getMessage}", e) }
    }
    require(commits.nonEmpty, s"no retained commits under $dir")
    require(commits.last._1 - commits.head._1 == commits.length - 1,
      s"commit log under $dir is not contiguous: " +
        commits.map(_._1).mkString(", "))
    val baseVersion = commits.head._1
    val history = commits.map { case (_, c) =>
      (snapOf(c), (c \ "dataChange").asInstanceOf[JBool].value) }.toVector
    val commitTimes = commits.map { case (_, c) => longOf(c \ "time") }
      .toVector
    val commitSchemas = commits.map { case (_, c) =>
      (DataType.fromJson(str(c, "schema")).asInstanceOf[StructType],
        arr(c, "colIds").map(intOf).toVector,
        objFields(c, "defaults").map { case (k, v) =>
          k.toInt -> dec(v) }.toMap)
    }.toVector
    val last = commits.last._2

    // refs (absent refs.json = no refs ever created)
    val refsFile = new File(dir, "refs.json")
    val (tags, branches) =
      if (!refsFile.isFile) (Map.empty[String, Int],
        Map.empty[String, (Int, Vector[(GraftLakeSnapshot, Boolean)])])
      else {
        val r = parse(refsFile)
        (objFields(r, "tags").map { case (n, v) => n -> intOf(v) }.toMap,
          objFields(r, "branches").map { case (n, b) =>
            n -> ((intOf(b \ "base"), arr(b, "staged").map(s =>
              (snapOf(s), (s \ "dataChange").asInstanceOf[JBool].value))
              .toVector))
          }.toMap)
      }

    // current partition spec: the LAST commit carrying a pspec record
    // wins (evolution stamps every subsequent commit); tables that
    // never evolved fall back to table.json's spec at id 0
    val (pspecIdNow, pspecNow) = commits.reverse.collectFirst {
      case (_, c) if (c \ "pspecId") != JNothing =>
        (intOf(c \ "pspecId"), arr(c, "pspec").map {
          case JString(ps) => parsePart(ps)
          case other => throw new IllegalStateException(s"bad pspec $other")
        }: Seq[GraftPartTransform])
    }.getOrElse((0, partSpec))

    // streaming-epoch watermarks: the expire-time consolidation file
    // merged with every retained commit's txn stamp (max per query)
    val txnsFile = new File(dir, "txns.json")
    val consolidated: Map[String, Long] =
      if (!txnsFile.isFile) Map.empty
      else parse(txnsFile) match {
        case JObject(fs) => fs.map { case (q, e) => q -> longOf(e) }.toMap
        case _ => Map.empty
      }
    val txns = commits.foldLeft(consolidated) { case (acc, (_, c)) =>
      (c \ "txn") match {
        case o: JObject =>
          val app = str(o, "app")
          val epoch = longOf(o \ "epoch")
          acc + (app -> math.max(epoch, acc.getOrElse(app, Long.MinValue)))
        case _ => acc
      }
    }

    // table-level CHECK constraints. AUTHORITATIVE source: the newest
    // retained commit record carrying a "constraints" vector — it was
    // written atomically with that version's CAS, so a rebase refresh
    // reads the WINNER's vector, never a constraints.json a concurrent
    // ALTER has not persisted yet (the lost-update race).
    // Fallback for logs with no carrying commit (legacy records, or a
    // table created WITH constraints before its first post-create
    // commit): constraints.json (absent file = none ever added).
    def consOf(j: JValue): Seq[(String, String, Boolean, Boolean, String)] =
      j match {
        case JArray(cs) => cs.map(c => (str(c, "name"), str(c, "sql"),
          (c \ "enforced").asInstanceOf[JBool].value,
          (c \ "rely").asInstanceOf[JBool].value,
          str(c, "status")))
        case _ => Nil
      }
    val consFile = new File(dir, "constraints.json")
    val cons: Seq[(String, String, Boolean, Boolean, String)] =
      commits.reverse.collectFirst {
        case (_, c) if (c \ "constraints") != JNothing =>
          consOf(c \ "constraints")
      }.getOrElse(
        if (!consFile.isFile) Nil else consOf(parse(consFile)))

    Restored(
      tableName = str(t, "name"),
      partSpec = partSpec,
      mergeOnRead = (t \ "mergeOnRead").asInstanceOf[JBool].value,
      files = history.last._1.files,
      dvs = history.last._1.dvs,
      // a BRANCH append mints files (and manifests) without a main
      // commit, so the last commit's fileSeq can lag the real
      // high-water — clamp to the largest manifest number on disk
      fileSeq = math.max(intOf(last \ "fileSeq"),
        fileById.keys.map(_.split("#f").last.toInt)
          .maxOption.getOrElse(0)),
      schemaNow = commitSchemas.last._1,
      colIds = commitSchemas.last._2,
      nextColId = intOf(last \ "nextColId"),
      colDefaults = commitSchemas.last._3,
      history = history,
      baseVersion = baseVersion,
      commitTimes = commitTimes,
      commitSchemas = commitSchemas,
      tagRefs = tags,
      branches = branches,
      txns = txns,
      pspecId = pspecIdNow,
      pspecNow = pspecNow,
      constraints = cons)
  }
}
