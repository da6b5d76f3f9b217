package graft.sources

import java.util
import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.catalyst.{InternalRow, ProjectingInternalRow}
import org.apache.spark.sql.catalyst.analysis.{NoSuchTableException, TableAlreadyExistsException}
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.expressions.{Expressions, NamedReference, Transform}
import org.apache.spark.sql.connector.expressions.filter.Predicate
import org.apache.spark.sql.connector.read.{Batch, HasPartitionKey, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder, SupportsPushDownRequiredColumns, SupportsReportPartitioning, SupportsRuntimeV2Filtering}
import org.apache.spark.sql.connector.read.partitioning.{KeyGroupedPartitioning, Partitioning, UnknownPartitioning}
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, MapType, StringType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** A minimal TableCatalog whose tables support ROW-LEVEL SQL — the
  * surface the reference's blind warehouse append lacks: real
  * `MERGE INTO` / `UPDATE` / `DELETE FROM` statements planned by Spark's
  * row-level-operation rewrite (RewriteMergeIntoTable → ReplaceData) and
  * executed against a [[SupportsRowLevelOperations]] table.
  *
  * The table is GROUP-BASED copy-on-write with FILE-GROUP granularity —
  * the real Iceberg/Delta CoW contract, not a whole-table stand-in:
  *
  *  - committed state is an ordered set of immutable FILES (one per
  *    writer task commit), each with a stable id exposed through the
  *    `_file` metadata column ([[SupportsMetadataColumns]]);
  *  - a row-level statement's scan implements
  *    [[SupportsRuntimeV2Filtering]] on `_file`, so Spark's
  *    `RowLevelOperationRuntimeGroupFiltering` rule plans a runtime
  *    subquery (a REGULAR scan of the table) that computes the distinct
  *    `_file` ids containing matching rows and narrows the operation's
  *    scan to exactly those groups;
  *  - the ReplaceData write then REPLACES only the scanned groups: at
  *    commit, files the filtered scan never read are CARRIED by
  *    reference (same object identity), not rewritten. A single-key
  *    MERGE against a 10k-file table rewrites one file, exactly like a
  *    production lakehouse. Every file is a real parquet file on local
  *    storage; the driver holds only manifests.
  *
  * If the group filter cannot fire (rule disabled, or a statement whose
  * predicate matches every group), the scan keeps its full file set and
  * the commit degrades to whole-snapshot replacement — semantics are
  * identical either way, which is what keeps the oracle green
  * independently of the optimization.
  *
  * Register per session: `spark.sql.catalog.<name>` →
  * [[GraftLakeCatalog]] class name. Table state is JVM-wide per catalog
  * NAME (a miniature external metastore): Spark instantiates a separate
  * catalog object per session — including the cloned session each
  * streaming micro-batch runs under — and all of them must see the same
  * tables, exactly as real sessions sharing a metastore do. Queries keep
  * isolation by DROP/CREATE-ing their own table names.
  */
class GraftLakeCatalog extends TableCatalog with ProcedureCatalog
    with FunctionCatalog
    with org.apache.spark.sql.connector.catalog.StagingTableCatalog {

  private var catalogName: String = _
  // `spark.sql.catalog.<name>.warehouse = /path`: the DURABLE root.
  // Tables created under it land at `<warehouse>/<namespace…>/<table>`
  // and are REOPENABLE from their on-disk `_graft_log` after a JVM
  // restart — the registry below is then a cache, not the source of
  // truth. Without a warehouse (and no `graft.location`) a table lives
  // in a per-table temp dir that only the registry can find.
  private var warehouse: Option[java.io.File] = None
  private def tables = GraftLakeCatalog.registries
    .computeIfAbsent(catalogName,
      _ => new ConcurrentHashMap[Identifier, GraftLakeTable]())

  override def initialize(
      name: String, options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    warehouse = Option(options.get("warehouse")).map(new java.io.File(_))
  }

  private def tableRoot(ident: Identifier): Option[java.io.File] =
    warehouse.map(w => (ident.namespace() :+ ident.name())
      .foldLeft(w)((d, p) => new java.io.File(d, p)))

  // ---- identifier → external-location pointers ---------------
  // A table created with an explicit `graft.location` OUTSIDE the
  // warehouse is durable at that location, but discovery (reopen,
  // listTables) probes only the warehouse-derived root — without a
  // persisted mapping the table is unreachable after a JVM restart yet
  // its identifier still refuses re-CREATE. The mapping is one tiny
  // file at the identifier's warehouse-derived root holding the real
  // location; resolution follows it, and a dangling pointer (target
  // manually deleted) simply resolves to nothing.
  private val PointerName = "_graft_pointer.json"
  private def pointerFile(ident: Identifier): Option[java.io.File] =
    tableRoot(ident).map(new java.io.File(_, PointerName))
  private def writePointer(ident: Identifier, loc: java.io.File): Unit =
    pointerFile(ident).foreach { p =>
      p.getParentFile.mkdirs()
      val tmp = new java.io.File(p.getParentFile, PointerName + ".tmp")
      java.nio.file.Files.write(tmp.toPath,
        org.json4s.jackson.JsonMethods.compact(org.json4s.JObject(
          "location" -> org.json4s.JString(loc.getAbsolutePath)))
          .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      java.nio.file.Files.move(tmp.toPath, p.toPath,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    }
  private def readPointer(f: java.io.File): Option[java.io.File] =
    if (!f.isFile) None
    else org.json4s.jackson.JsonMethods.parse(
        java.nio.file.Files.readString(f.toPath)) \ "location" match {
      case org.json4s.JString(p) => Some(new java.io.File(p))
      case _ => None
    }

  /** The durable root an identifier resolves to: its warehouse-derived
    * directory, or — when that holds only a location pointer — the
    * pointed-to external root. Only roots actually holding a table log
    * resolve. */
  private def durableRoot(ident: Identifier): Option[java.io.File] =
    tableRoot(ident).flatMap { root =>
      if (GraftLakeLog.exists(root)) Some(root)
      else pointerFile(ident).flatMap(readPointer)
        .filter(GraftLakeLog.exists)
    }

  /** Registry miss → disk: restore the table from its durable log (if
    * the catalog has a warehouse and the identifier resolves to one —
    * directly or through a location pointer). putIfAbsent keeps
    * concurrent reopeners convergent — losers adopt the winner. */
  private def reopenFromDisk(ident: Identifier): Option[GraftLakeTable] =
    durableRoot(ident).map { root =>
      val r = GraftLakeLog.restore(root)
      val t = new GraftLakeTable(r.tableName, r.schemaNow, r.partSpec,
        r.mergeOnRead, location = Some(root), reopenFrom = Some(r))
      Option(tables.putIfAbsent(ident, t)).getOrElse(t)
    }

  private def lookup(ident: Identifier): Option[GraftLakeTable] =
    Option(tables.get(ident)).orElse(reopenFromDisk(ident))

  override def name(): String = catalogName

  // opt in to `ADD COLUMN ... DEFAULT <literal>`: the analyzer refuses
  // to route default clauses to a catalog that doesn't declare support
  override def capabilities(): util.Set[TableCatalogCapability] =
    util.EnumSet.of(TableCatalogCapability.SUPPORT_COLUMN_DEFAULT_VALUE,
      // CHECK constraints: declared at CREATE/ALTER, persisted in the
      // log, enforced by the analyzer on every V2 write
      TableCatalogCapability.SUPPORT_TABLE_CONSTRAINT)

  override def listTables(namespace: Array[String]): Array[Identifier] =
    (tables.keySet().asScala.filter(_.namespace().sameElements(namespace))
      ++
      // the registry is a CACHE: durable tables not yet reopened this
      // JVM must still list (disk is the source of truth)
      warehouse.toSeq.flatMap { w =>
        val dir = namespace.foldLeft(w)((d, p) => new java.io.File(d, p))
        Option(dir.listFiles()).getOrElse(Array.empty)
          // an in-flight (or crashed) staged CTAS/RTAS directory holds
          // a real log but is not a table until its publish rename;
          // aborted-and-being-deleted dirs are invisible the same way
          .filterNot(d => d.getName.startsWith(".graft_staged_") ||
            d.getName.startsWith(".graft_aborted_"))
          .filter(d => d.isDirectory && (GraftLakeLog.exists(d) ||
            // a location POINTER whose external target holds a table
            // lists too — same discovery contract as in-warehouse roots
            readPointer(new java.io.File(d, PointerName))
              .exists(GraftLakeLog.exists)))
          .map(d => Identifier.of(namespace, d.getName))
      }).toSet.toArray

  override def loadTable(ident: Identifier): Table =
    lookup(ident).getOrElse {
      // Iceberg-style metadata table: `<catalog>.<table>.changes` is the
      // parent's CHANGE FEED as a first-class read-only table — batch
      // (full or `graft.changes.*`-ranged history replay) and streaming
      // (micro-batch source with commit-version offsets). A real table
      // registered at the exact identifier always wins.
      val ns = ident.namespace()
      def parent: Option[GraftLakeTable] =
        if (ns.isEmpty) None
        else lookup(Identifier.of(ns.init, ns.last))
      if (ident.name() == "changes")
        parent.map(new GraftLakeChangesTable(_))
          .getOrElse(throw new NoSuchTableException(ident))
      // `<table>.files`: the manifest as a queryable relation — per-file
      // row/live/DV counts, byte sizes and column-level stats (what
      // pruning decisions read), Iceberg's files metadata table
      else if (ident.name() == "files")
        parent.map(new GraftLakeFilesTable(_))
          .getOrElse(throw new NoSuchTableException(ident))
      // `<table>.history`: one row per RETAINED commit — the DESCRIBE
      // HISTORY surface (Delta) / snapshots metadata table (Iceberg)
      else if (ident.name() == "history")
        parent.map(new GraftLakeHistoryTable(_))
          .getOrElse(throw new NoSuchTableException(ident))
      // `<table>.refs`: the named tags and branches (Iceberg's refs
      // metadata table) — audit which versions retention must keep and
      // which branches still hold unpublished commits
      else if (ident.name() == "refs")
        parent.map(new GraftLakeRefsTable(_))
          .getOrElse(throw new NoSuchTableException(ident))
      // `<table>.partitions`: per-partition file/row/byte summary of
      // the current snapshot (Iceberg's partitions metadata table)
      else if (ident.name() == "partitions")
        parent.map(new GraftLakePartitionsTable(_))
          .getOrElse(throw new NoSuchTableException(ident))
      else throw new NoSuchTableException(ident)
    }

  /** `SELECT ... FROM t VERSION AS OF v` — the SQL time-travel surface.
    * Spark's RelationTimeTravel resolves through this overload; the
    * returned table is the parent READ-pinned at the version, riding
    * the exact same snapshot-selection path as the
    * `graft.snapshot-version` read option (one spelling of AS-OF). */
  override def loadTable(ident: Identifier, version: String): Table = {
    val t = loadTable(ident)
    t match {
      case g: GraftLakeTable if version.matches("\\d+") =>
        // validate AT RESOLUTION, not at scan build: an invalid version
        // must fail here the way an invalid timestamp does — a lazily
        // resolved DataFrame over a bogus version is a latent error the
        // user only hits at action time
        val v = version.toInt
        require(v >= g.earliestVersion && v <= g.currentVersion,
          s"VERSION AS OF $v out of range " +
            s"[${g.earliestVersion}, ${g.currentVersion}] for $ident" +
            (if (g.earliestVersion > 0) " (older versions were expired)"
             else ""))
        new GraftLakePinnedTable(g, version)
      // non-numeric: a SNAPSHOT REF — `VERSION AS OF 'tag'` pins the
      // tagged version; `VERSION AS OF 'branch'` is the AUDIT read of
      // write-audit-publish (the branch's staged head, which main
      // cannot see)
      case g: GraftLakeTable =>
        g.resolveTag(version) match {
          case Some(v) => new GraftLakePinnedTable(g, v.toString)
          case None =>
            require(g.hasBranch(version),
              s"VERSION AS OF '$version': no such ref on $ident — " +
                "expected a commit version number, a tag, or a branch")
            new GraftLakeBranchTable(g, version)
        }
      case _ => throw new UnsupportedOperationException(
        s"$ident does not support VERSION AS OF")
    }
  }

  /** `SELECT ... FROM t TIMESTAMP AS OF ts` — resolves to the latest
    * commit at or before the timestamp (Spark hands MICROS since
    * epoch), then rides the same pinned-table path as VERSION AS OF. */
  override def loadTable(ident: Identifier, timestamp: Long): Table = {
    loadTable(ident) match {
      case g: GraftLakeTable =>
        new GraftLakePinnedTable(g,
          g.versionAsOfTime(timestamp / 1000L).toString)
      case _ => throw new UnsupportedOperationException(
        s"$ident does not support TIMESTAMP AS OF")
    }
  }

  // identity + HIDDEN transforms (`days(ts)`, `bucket(n, key)`) —
  // the Iceberg partition-transform surface. Anything else is
  // rejected loudly rather than silently ignored.
  private def parsePartSpec(schema: StructType,
      partitions: Array[Transform]): Seq[GraftPartTransform] =
    partitions.toSeq.map { t =>
      def ref: String = {
        val r = t.references()(0).fieldNames()
        require(r.length == 1,
          s"nested partition column unsupported: ${r.mkString(".")}")
        r(0)
      }
      def srcType(col: String): DataType = {
        val i = schema.fieldNames.indexOf(col)
        require(i >= 0, s"unknown partition source column $col")
        schema.fields(i).dataType
      }
      t.name match {
        case "identity" => IdentityPart(ref)
        case "days" =>
          require(GraftLakeFunctions.daysCapable(srcType(ref)),
            s"days($ref) needs a TIMESTAMP/TIMESTAMP_NTZ/DATE column, " +
              s"got ${srcType(ref).sql}")
          DaysPart(ref)
        case "bucket" =>
          val n = t.arguments().collectFirst {
            case l: org.apache.spark.sql.connector.expressions.Literal[_]
                if l.value.isInstanceOf[Number] =>
              l.value.asInstanceOf[Number].intValue()
          }.getOrElse(throw new IllegalArgumentException(
            s"bucket transform needs a bucket count: ${t.describe()}"))
          require(n >= 1, s"bucket count must be >= 1, got $n")
          require(GraftLakeFunctions.bucketCapable(srcType(ref)),
            s"bucket($n, $ref) needs an INT/BIGINT/STRING/DATE column, " +
              s"got ${srcType(ref).sql}")
          BucketPart(n, ref)
        case _ => throw new UnsupportedOperationException(
          s"unsupported partition transform ${t.describe()}")
      }
    }

  /** The write mode a CREATE asks for (true = merge-on-read), with the
    * table properties validated. Every table stores parquet file
    * groups, so `graft.storage` may only restate that: any other value
    * (the retired `memory` tier included) fails the CREATE loudly. */
  private def mergeOnReadOf(properties: util.Map[String, String]): Boolean = {
    val mode = properties.getOrDefault("graft.mode", "copy-on-write")
    require(mode == "copy-on-write" || mode == "merge-on-read",
      s"unknown graft.mode '$mode'")
    Option(properties.get("graft.storage")).foreach(s =>
      require(s == "parquet", s"unsupported graft.storage '$s': every " +
        "lake table stores parquet file groups"))
    mode == "merge-on-read"
  }

  /** Explicit `graft.location` wins; else the catalog's warehouse
    * derives `<warehouse>/<ns…>/<name>`; None = a per-table temp dir. */
  private def durableRootOf(ident: Identifier,
      properties: util.Map[String, String]): Option[java.io.File] =
    Option(properties.get("graft.location"))
      .map(new java.io.File(_)).orElse(tableRoot(ident))

  override def createTable(
      ident: Identifier, schema: StructType, partitions: Array[Transform],
      properties: util.Map[String, String]): Table = {
    val partSpec = parsePartSpec(schema, partitions)
    val mergeOnRead = mergeOnReadOf(properties)
    // a root already holding a table log is an EXISTS error — silently
    // shadowing someone's durable data is the one unforgivable create
    val loc = durableRootOf(ident, properties)
    // a CREATE must never shadow an existing durable table — neither
    // at its own root (explicit graft.location), nor at the
    // identifier's warehouse-derived root, nor at a location POINTER's
    // external target (the registry may simply not have reopened it
    // yet in this JVM): check all three
    if ((loc.toSeq ++ tableRoot(ident).toSeq ++
        pointerFile(ident).flatMap(readPointer).toSeq)
        .exists(GraftLakeLog.exists))
      throw new TableAlreadyExistsException(ident.toString)
    // reaching here proves any existing pointer's target holds no table
    // — it is a DANGLING pointer (target manually removed); clear it so
    // it cannot shadow or mislead discovery for the new table
    pointerFile(ident).filter(_.isFile).foreach(_.delete())
    val t = new GraftLakeTable(ident.toString, schema, partSpec,
      mergeOnRead, location = loc)
    if (tables.putIfAbsent(ident, t) != null)
      throw new TableAlreadyExistsException(ident.toString)
    // a durable root OUTSIDE the warehouse gets its identifier→location
    // pointer persisted so reopen/listTables can find it
    // after a restart; written AFTER the table's own log exists — a
    // crash in between leaves a pointer to a live table, and a crash
    // before leaves a discoverable-by-nothing root exactly as today
    for (l <- loc; r <- tableRoot(ident)
         if l.getCanonicalFile != r.getCanonicalFile)
      writePointer(ident, l)
    t
  }

  // ---- atomic CTAS / RTAS (StagingTableCatalog) ----------------------------
  // Without this surface Spark falls back to non-atomic CTAS: CREATE,
  // write, DROP-on-failure — a crash mid-write leaves a half-loaded
  // visible table. Staged creation writes the whole table (log + data)
  // in a HIDDEN sibling directory first (manifests store root-relative
  // paths, so the directory is relocatable), then publishes with one
  // atomic primitive:
  //  - CTAS: rename(stagedDir → tableRoot) — the table either exists
  //    complete or not at all; a concurrent CREATE wins the rename CAS.
  //  - RTAS (REPLACE TABLE [AS SELECT]): the staged dir is permanent;
  //    publish = write the identifier→location POINTER, then atomically
  //    rename the old root's `_graft_log` away (durableRoot prefers a
  //    root log over the pointer, so THAT rename is the visibility
  //    flip: before it readers serve the old table, after it the
  //    pointer serves the new one; a crash between leaves the old table
  //    intact and the staged dir an invisible orphan).
  // Aborts delete the staged storage; nothing was ever discoverable
  // (listTables skips `.graft_staged_` names).

  private def stagedSibling(root: java.io.File): java.io.File = {
    root.getParentFile.mkdirs()
    new java.io.File(root.getParentFile,
      s".graft_staged_${root.getName}_${java.util.UUID.randomUUID()
        .toString.take(8)}")
  }

  /** Retire the CURRENT durable state of `ident` (RTAS publish):
    * atomically rename the root's log away (the visibility flip when no
    * pointer supersedes it), then best-effort delete the dead log and
    * the root's orphaned data files. */
  private def retireDurable(ident: Identifier): Unit =
    tableRoot(ident).foreach { root =>
      val log = new java.io.File(root, GraftLakeLog.LogDir)
      if (log.isDirectory) {
        val dead = new java.io.File(root, GraftLakeLog.LogDir +
          s".replaced_${java.util.UUID.randomUUID().toString.take(8)}")
        if (log.renameTo(dead)) {
          GraftParquetIO.deleteRecursively(dead)
          Option(root.listFiles()).getOrElse(Array.empty)
            .filter(_.getName.endsWith(".parquet")).foreach(_.delete())
        }
      }
    }

  private def stageInternal(ident: Identifier, schema: StructType,
      partitions: Array[Transform], properties: util.Map[String, String],
      mustExist: Option[Boolean])
      : org.apache.spark.sql.connector.catalog.StagedTable = {
    val partSpec = parsePartSpec(schema, partitions)
    val mergeOnRead = mergeOnReadOf(properties)
    def existsNow: Boolean = tables.containsKey(ident) ||
      (tableRoot(ident).toSeq ++
        pointerFile(ident).flatMap(readPointer).toSeq)
        .exists(GraftLakeLog.exists)
    mustExist match {
      case Some(false) if existsNow =>
        throw new TableAlreadyExistsException(ident.toString)
      case Some(true) if !existsNow => throw new NoSuchTableException(ident)
      case _ => ()
    }
    val replacing = mustExist != Some(false)
    // registry-only staging: no warehouse and no graft.location — the
    // storage is a per-table temp dir nothing can rediscover, so the
    // registry put IS the publish (createTable's contract for them)
    val durableRootOpt = durableRootOf(ident, properties)
    if (durableRootOpt.isEmpty) {
      val t = new GraftLakeTable(ident.toString, schema, partSpec,
        mergeOnRead)
      new GraftStagedTable(t,
        commit = () => {
          if (replacing) tables.put(ident, t)
          else if (tables.putIfAbsent(ident, t) != null)
            throw new TableAlreadyExistsException(ident.toString)
        },
        abort = () => t.deleteStorage())
    } else {
      val finalRoot = durableRootOpt.get
      // REPLACE of an existing durable table publishes by POINTER SWING
      // — the pointer lives at the warehouse-derived root. Without a
      // warehouse there is no pointer home: the commit would fall into
      // the CTAS rename branch, fail on the non-empty target, and
      // delete the freshly computed replacement. Refuse HERE, before
      // any work runs.
      if (replacing && tableRoot(ident).isEmpty &&
          GraftLakeLog.exists(finalRoot))
        throw new UnsupportedOperationException(
          s"REPLACE TABLE $ident at graft.location " +
            s"'${finalRoot.getAbsolutePath}' needs a warehouse-backed " +
            "catalog (the identifier→location pointer is the atomic " +
            "publish primitive) — DROP and re-CREATE instead")
      val staged = stagedSibling(finalRoot)
      val t = new GraftLakeTable(ident.toString, schema, partSpec,
        mergeOnRead, location = Some(staged))
      def reopenAt(root: java.io.File): GraftLakeTable = {
        val r = GraftLakeLog.restore(root)
        new GraftLakeTable(r.tableName, r.schemaNow, r.partSpec,
          r.mergeOnRead, location = Some(root), reopenFrom = Some(r))
      }
      new GraftStagedTable(t,
        commit = () => {
          if (!replacing ||
              !(tableRoot(ident).toSeq ++
                pointerFile(ident).flatMap(readPointer).toSeq)
                .exists(GraftLakeLog.exists)) {
            // CTAS (or replace-of-nothing): one atomic rename publishes
            // the complete table; losing the rename CAS to a concurrent
            // CREATE aborts with the staged storage removed
            try java.nio.file.Files.move(staged.toPath, finalRoot.toPath,
              java.nio.file.StandardCopyOption.ATOMIC_MOVE)
            catch {
              // ONLY the lose-the-CAS outcomes (a concurrent CREATE
              // made the target exist / non-empty) discard the staged
              // result; any other FileSystemException — permissions,
              // disk errors — propagates as itself with the staged
              // directory left intact for inspection, instead of being
              // misreported as a name conflict with the fully-computed
              // result destroyed
              case _: java.nio.file.FileAlreadyExistsException |
                  _: java.nio.file.DirectoryNotEmptyException =>
                GraftParquetIO.deleteRecursively(staged)
                throw new TableAlreadyExistsException(ident.toString)
            }
            val nt = reopenAt(finalRoot)
            tables.put(ident, nt)
            for (r <- tableRoot(ident)
                 if finalRoot.getCanonicalFile != r.getCanonicalFile)
              writePointer(ident, finalRoot)
          } else {
            // RTAS: pointer first (inert while the old root log lives),
            // then retire the old state — the log rename inside is the
            // atomic visibility flip to the pointer route. A previously
            // RTAS'd table has no root log, so there the pointer
            // OVERWRITE is itself the flip; its old target dies after.
            val oldTarget = pointerFile(ident).flatMap(readPointer)
              .filter(GraftLakeLog.exists)
            writePointer(ident, staged)
            retireDurable(ident)
            oldTarget.filter(_.getCanonicalFile !=
                staged.getCanonicalFile)
              .foreach(GraftParquetIO.deleteRecursively)
            tables.put(ident, reopenAt(staged))
          }
        },
        abort = () => {
          // Spark's abort can fire while straggler write tasks are
          // still creating temp files — a bare recursive delete races
          // them and the staged dir survives with a late temp inside.
          // Rename-then-delete closes the race: the atomic rename
          // removes the PATH, so any straggler's create-by-path fails
          // cleanly into its own task abort, and the renamed dir
          // deletes without new arrivals.
          val dead = new java.io.File(staged.getParentFile,
            s".graft_aborted_${java.util.UUID.randomUUID()
              .toString.take(8)}")
          if (staged.isDirectory && staged.renameTo(dead))
            GraftParquetIO.deleteRecursively(dead)
          else t.deleteStorage()
        })
    }
  }

  // TableInfo overloads: the default chain DROPS constraints before
  // reaching the (schema, partitions, properties) variants — these
  // carry them through to the created / staged table
  override def createTable(ident: Identifier,
      info: org.apache.spark.sql.connector.catalog.TableInfo): Table = {
    val t = createTable(ident, info.schema(), info.partitions(),
      info.properties())
    if (info.constraints().nonEmpty)
      try t.asInstanceOf[GraftLakeTable]
        .installConstraints(info.constraints().toSeq)
      catch { case e: Throwable => dropTable(ident); throw e }
    t
  }

  private def stagedWithConstraints(
      staged: org.apache.spark.sql.connector.catalog.StagedTable,
      info: org.apache.spark.sql.connector.catalog.TableInfo)
      : org.apache.spark.sql.connector.catalog.StagedTable = {
    if (info.constraints().nonEmpty)
      try staged.asInstanceOf[GraftStagedTable].underlying
        .installConstraints(info.constraints().toSeq)
      catch { case e: Throwable => staged.abortStagedChanges(); throw e }
    staged
  }

  override def stageCreate(ident: Identifier,
      info: org.apache.spark.sql.connector.catalog.TableInfo)
      : org.apache.spark.sql.connector.catalog.StagedTable =
    stagedWithConstraints(stageInternal(ident, info.schema(),
      info.partitions(), info.properties(), Some(false)), info)

  override def stageReplace(ident: Identifier,
      info: org.apache.spark.sql.connector.catalog.TableInfo)
      : org.apache.spark.sql.connector.catalog.StagedTable =
    stagedWithConstraints(stageInternal(ident, info.schema(),
      info.partitions(), info.properties(), Some(true)), info)

  override def stageCreateOrReplace(ident: Identifier,
      info: org.apache.spark.sql.connector.catalog.TableInfo)
      : org.apache.spark.sql.connector.catalog.StagedTable =
    stagedWithConstraints(stageInternal(ident, info.schema(),
      info.partitions(), info.properties(), None), info)

  override def stageCreate(ident: Identifier, schema: StructType,
      partitions: Array[Transform],
      properties: util.Map[String, String])
      : org.apache.spark.sql.connector.catalog.StagedTable =
    stageInternal(ident, schema, partitions, properties, Some(false))

  override def stageReplace(ident: Identifier, schema: StructType,
      partitions: Array[Transform],
      properties: util.Map[String, String])
      : org.apache.spark.sql.connector.catalog.StagedTable =
    stageInternal(ident, schema, partitions, properties, Some(true))

  override def stageCreateOrReplace(ident: Identifier, schema: StructType,
      partitions: Array[Transform],
      properties: util.Map[String, String])
      : org.apache.spark.sql.connector.catalog.StagedTable =
    stageInternal(ident, schema, partitions, properties, None)

  /** Schema evolution: top-level ADD COLUMN (nullable, optionally with
    * a DEFAULT literal), RENAME COLUMN, DROP COLUMN and widening ALTER
    * COLUMN TYPE (INT→BIGINT, FLOAT→DOUBLE) — the Iceberg field-id
    * contract: every file's manifest records stable COLUMN IDS, never
    * names, so existing files are NEVER rewritten. Old files fill an
    * added id with its EXISTS-DEFAULT (NULL when none was declared),
    * keep serving a renamed id under its new name, simply stop
    * projecting a dropped id, and serve a widened id through a per-file
    * physical→logical conversion resolved at scan planning. The
    * statement is ATOMIC: all changes validate against a local copy of
    * the schema and install in one assignment — a failing change in
    * `ADD COLUMNS (a, b NOT NULL)` leaves the table untouched, so the
    * corrected retry cannot trip over a half-applied `a`. */
  override def alterTable(ident: Identifier, changes: TableChange*): Table = {
    val t = lookup(ident)
      .getOrElse(throw new NoSuchTableException(ident))
    t.applySchemaChanges(changes)
    t
  }

  override def dropTable(ident: Identifier): Boolean =
    lookup(ident) match {
      case Some(t) =>
        tables.remove(ident)
        t.deleteStorage() // durable log dies with the root dir
        // an external-location pointer (and the otherwise-empty derived
        // root holding it) dies with the table
        pointerFile(ident).filter(_.isFile).foreach { p =>
          p.delete()
          p.getParentFile.delete() // only succeeds when empty
        }
        true
      case None => false
    }

  override def renameTable(from: Identifier, to: Identifier): Unit =
    throw new UnsupportedOperationException("RENAME not supported")

  // ---- maintenance procedures (Spark 4 DSv2 CALL statement) ---------------
  // `CALL <catalog>.system.<proc>(...)` — the Iceberg maintenance surface:
  // rollback to a version, expire old versions, compact deletion vectors.

  override def loadProcedure(ident: Identifier)
      : org.apache.spark.sql.connector.catalog.procedures.UnboundProcedure = {
    require(ident.namespace().sameElements(Array("system")),
      s"procedures live in the 'system' namespace, got $ident")
    GraftLakeProcedures.byName(catalogName, ident.name()).getOrElse(
      throw new IllegalArgumentException(
        s"unknown procedure ${ident.name()}; available: " +
          GraftLakeProcedures.names.mkString(", ")))
  }

  override def listProcedures(namespace: Array[String]): Array[Identifier] =
    if (namespace.sameElements(Array("system")))
      GraftLakeProcedures.names
        .map(Identifier.of(Array("system"), _)).toArray
    else Array.empty

  // ---- partition-transform functions (FunctionCatalog) --------------------
  // Spark's V2ExpressionUtils resolves a scan's reported bucket/days
  // transforms through the owning catalog's loadFunction (empty
  // namespace) — the hook storage-partitioned-join planning needs.

  override def loadFunction(ident: Identifier)
      : org.apache.spark.sql.connector.catalog.functions.UnboundFunction =
    (if (ident.namespace().isEmpty) GraftLakeFunctions.byName(ident.name())
     else None).getOrElse(
      throw new org.apache.spark.sql.catalyst.analysis
        .NoSuchFunctionException(ident))

  override def listFunctions(namespace: Array[String]): Array[Identifier] =
    if (namespace.isEmpty)
      GraftLakeFunctions.names.map(Identifier.of(Array.empty[String], _))
        .toArray
    else Array.empty
}

/** A staged (not-yet-published) table: every read/write surface
  * delegates to the underlying [[GraftLakeTable]] — Spark's atomic
  * CTAS/RTAS exec writes the query result through it — and
  * commit/abort run the catalog-supplied publish or discard. */
private class GraftStagedTable(t: GraftLakeTable, commit: () => Unit,
    abort: () => Unit)
    extends org.apache.spark.sql.connector.catalog.StagedTable
    with SupportsRead with SupportsWrite {
  private[sources] def underlying: GraftLakeTable = t
  override def name(): String = t.name()
  // the CTAS exec re-analyzes its AppendData over THIS relation, and
  // ResolveTableConstraints reads constraints() off it — inheriting the
  // empty default would let the FOUNDING load skip every CHECK
  override def constraints(): Array[
      org.apache.spark.sql.connector.catalog.constraints.Constraint] =
    t.constraints()
  override def schema(): StructType = t.schema()
  override def partitioning(): Array[Transform] = t.partitioning()
  override def properties(): util.Map[String, String] = t.properties()
  override def capabilities(): util.Set[TableCapability] =
    t.capabilities()
  override def newScanBuilder(
      options: CaseInsensitiveStringMap): ScanBuilder =
    t.newScanBuilder(options)
  override def newWriteBuilder(
      info: org.apache.spark.sql.connector.write.LogicalWriteInfo)
      : org.apache.spark.sql.connector.write.WriteBuilder =
    t.newWriteBuilder(info)
  override def commitStagedChanges(): Unit = commit()
  override def abortStagedChanges(): Unit = abort()
}

object GraftLakeCatalog {
  /** The "metastore": table registries shared by every catalog instance
    * with the same configured name (sessions, micro-batch clones). */
  private val registries = new ConcurrentHashMap[
    String, ConcurrentHashMap[Identifier, GraftLakeTable]]()

  /** Test hook: log JSONs parsed by durable-log restores since the
    * last [[resetLogReads]] — the bounded-open spec's probe (reopen
    * must parse O(manifest groups), not O(data files)). */
  private[graft] def logReadCount: Long = GraftLakeLog.logReads.get()
  private[graft] def resetLogReads(): Unit = GraftLakeLog.logReads.set(0L)

  /** Test hook: the live table for `catalog.name`, so specs can assert
    * on FILE IDENTITY (which groups a row-level statement carried vs
    * rewrote) — the one property the SQL surface cannot express. */
  private[graft] def tableFor(
      catalog: String, name: String): Option[GraftLakeTable] =
    Option(registries.get(catalog)).flatMap(ts =>
      ts.asScala.collectFirst { case (id, t) if id.name() == name => t })

  /** Test hook: every live table name in `catalog` — the no-leftover-
    * state assertion's probe (registry queries must DROP what they
    * CREATE so a long bench run cannot accumulate commit histories on
    * the driver heap). */
  private[graft] def tableNames(catalog: String): Seq[String] =
    Option(registries.get(catalog))
      .map(_.keySet().asScala.map(_.name()).toSeq.sorted)
      .getOrElse(Nil)

  /** Test hook: evict a table from the in-memory registry WITHOUT
    * touching its storage — the durable-metadata spec's "JVM restart":
    * the next loadTable must rebuild the table from `_graft_log` alone. */
  private[graft] def evict(catalog: String, name: String): Unit =
    Option(registries.get(catalog)).foreach { ts =>
      ts.keySet().asScala.filter(_.name() == name)
        .foreach(ts.remove(_))
    }
}

/** One immutable committed file (group): the unit of copy-on-write.
  * `cols` is the file's COLUMN MANIFEST — the STABLE FIELD IDS of the
  * table's data columns at write time, in stored order (the Iceberg
  * field-id contract). Scans resolve ids to the table's CURRENT names at
  * planning time, so a file written before an ADD COLUMN serves NULL for
  * the new id, a RENAME needs no rewrite (the id keeps resolving, under
  * its new name), and a DROP simply stops projecting the retired id —
  * name-keyed manifests would wrongly null-fill a renamed column.
  * `path` is the file's parquet data on disk; the driver keeps only
  * this manifest — never rows — and `numRows` is recorded at write
  * time. A write task builds the record while it writes the file
  * ([[GraftLakeFileWriter]]) and ships it with an empty `id` and its
  * temp file as `path`; the commit's `mint` assigns both. */
final case class GraftLakeFile(id: String, cols: Seq[Int], path: String,
    types: Seq[DataType] = Nil, bytes: Long = 0L,
    stats: Map[Int, (Any, Any)] = Map.empty,
    numRows: Long = 0L,
    nulls: Map[Int, Long] = Map.empty,
    sums: Map[Int, Long] = Map.empty,
    dsums: Map[Int, java.math.BigDecimal] = Map.empty,
    // field ids this file's rows are SORTED by (ascending, nulls
    // first — Spark's natural ordering), stamped by the cluster
    // maintenance rewrite; Nil for ordinary writes
    sortedBy: Seq[Int] = Nil,
    // NESTED-LEAF stats, keyed (struct column field id, leaf name):
    // min/max over rows where both struct and leaf are non-null, and a
    // null count treating a null STRUCT as a null leaf (what
    // `s.leaf IS NULL` evaluates to). Iceberg collects stats on nested
    // leaves the same way; files from before this capability simply
    // lack entries and stay unprunable (conservative).
    nstats: Map[(Int, String), (Any, Any)] = Map.empty,
    nnulls: Map[(Int, String), Long] = Map.empty,
    // per-column Bloom filters over the file's non-null values (field
    // id → bit words): equality-probe skipping where min/max can't
    // decide — see GraftLakeStats.Collector
    blooms: Map[Int, Array[Long]] = Map.empty,
    // PARTITION PURITY: the single partition-key tuple every row of
    // this file evaluates to (fanout write splits files per key), or
    // None for pre-split files. What lets a keyed (SPJ) scan ship FILE
    // LISTS per key and decode in tasks instead of materializing rows
    // on the driver — the difference between a control-plane plan and
    // a driver OOM at 100 TB
    pkey: Option[Vector[Any]] = None,
    // the parquet file's internal column LABELS (write-time names),
    // positionally aligned with `cols`: the reader projects by label,
    // and a post-write RENAME changes only the id→name mapping — the
    // file keeps its labels
    pnames: Seq[String],
    // which PARTITION SPEC `pkey` was evaluated under (0 = the CREATE
    // spec): partition-spec evolution never rewrites files, so the
    // stamp tells keyed (SPJ) planning whether a file's tuple is
    // meaningful under the CURRENT spec — Iceberg's per-file spec_id
    pspecId: Int = 0,
    // per-column HLL registers (field id → 512 bytes): merged at plan
    // time into the distinctCount CBO reads — see GraftLakeStats.ndv*
    ndv: Map[Int, Array[Byte]] = Map.empty)

/** Per-file column statistics — built by [[GraftLakeStats.Collector]] in
  * the pass that writes the file — and the predicate evaluator that
  * prunes files against them — the Iceberg manifest-stats contract at
  * the DSv2 layer: a range/equality predicate excludes whole file groups
  * DRIVER-SIDE before any partition is planned. Pruning is strictly
  * result-transparent (every predicate is also returned to Spark as a
  * post-scan filter), so a stats bug can cost performance, never
  * correctness — the same safety split parquet row-group skipping has.
  * Stats are keyed by FIELD ID like the column manifests, so they
  * survive RENAME and never confuse a re-added name with a dropped id. */
private[graft] object GraftLakeStats {
  import org.apache.spark.sql.connector.expressions.{Expression => V2Expr, Literal => V2Literal}

  private def statsSupported(dt: DataType): Boolean = dt match {
    case LongType | org.apache.spark.sql.types.IntegerType |
         org.apache.spark.sql.types.DoubleType |
         org.apache.spark.sql.types.FloatType | StringType |
         // temporal stats ride the INTERNAL physical values (Date = days
         // as Int, Timestamp = micros as Long) — comparison on those is
         // already total, and V2 pushed literals arrive in the same
         // representation, so Date is a first-class prune key (the
         // dominant production lake pattern: skip on o_orderdate)
         org.apache.spark.sql.types.DateType |
         org.apache.spark.sql.types.TimestampType |
         org.apache.spark.sql.types.TimestampNTZType => true
    // money columns: Decimal has a total order and exact comparisons,
    // so it prunes and serves MIN/MAX like any other ordered type
    case _: org.apache.spark.sql.types.DecimalType => true
    case _ => false
  }

  /** -0.0 COMPARES as 0.0: java compareTo orders -0.0 < 0.0 but SQL `=`
    * treats them equal, so an un-normalized comparison could prune a
    * file whose every value is -0.0 against `x = 0.0` — and a pruned
    * file is unrecoverable by the residual filter.
    * Normalization happens ONLY inside [[cmp]], never at collection:
    * stored extremes stay the values actually present, so a stats-only
    * MIN over a file of -0.0 renders -0.0 exactly like the scanned
    * answer would. NaN keeps java ordering (greater than everything),
    * which matches Spark's SQL ordering for NaN. */
  private def norm(v: Any): Any = v match {
    case d: java.lang.Double if d.doubleValue() == 0.0d =>
      java.lang.Double.valueOf(0.0d)
    case f: java.lang.Float if f.floatValue() == 0.0f =>
      java.lang.Float.valueOf(0.0f)
    case other => other
  }

  /** A value kept past the row it came from: rows reach the writer as
    * reused buffers, whose strings and decimals are views into them. */
  def keep(v: Any): Any = v match {
    case u: UTF8String => u.clone()
    case d: org.apache.spark.sql.types.Decimal => d.clone()
    case other => other
  }

  /** One file's manifest stats, built row by row in the pass that writes
    * the file (Iceberg writers collect their metrics the same way):
    *  - min/max of every [[statsSupported]] column; an all-null one
    *    records (null, null), provably unmatched by any null-rejecting
    *    comparison, and other types record nothing (never pruned on);
    *  - null counts of EVERY column: the IS [NOT] NULL pruning input and
    *    the COUNT(col) pushdown's subtrahend;
    *  - per-file SUMs of integral columns, overflow-checked: integer sums
    *    are exact and ADDITION-ORDER-FREE (unlike doubles, whose
    *    scan-order-dependent rounding makes a manifest sum unfaithful),
    *    so `SUM(bigint_col)` answers from manifests; a column whose sum
    *    overflows a Long records NO entry (the pushdown then refuses);
    *  - SUMs of DECIMAL columns as UNBOUNDED BigDecimal — exact and
    *    order-free, never overflowing here; the PUSHDOWN checks the
    *    result fits Spark's `decimal(p+10, s)` sum type;
    *  - min/max + null counts of STRUCT LEAF fields of supported type at
    *    ANY struct-in-struct depth, keyed (struct column id, dotted leaf
    *    path); a null struct anywhere on the path counts as a null leaf
    *    (SQL: `a.b.c` of a null link IS NULL);
    *  - bloom bits and HLL registers (see the sections below).
    * Rows may be reused buffers: the only values kept past [[add]] are
    * new extremes, copied by [[keep]]. A bloom is sized by the file's
    * row count, so its columns buffer one 64-bit hash per non-null value
    * and set the bits in [[file]]. */
  final class Collector(colIds: Seq[Int], types: Seq[DataType]) {
    private val n = types.length
    private val ts = types.toArray // a restored manifest's types are a List
    private var rows = 0L
    private val nulls = new Array[Long](n)
    private val lo = new Array[Any](n)
    private val hi = new Array[Any](n)
    private val minMax = types.map(statsSupported).toArray
    private val integral = types.map {
      case LongType | org.apache.spark.sql.types.IntegerType => true
      case _ => false
    }.toArray
    private val isum = new Array[Long](n)
    private val overflowed = new Array[Boolean](n)
    private val dsum = types.map {
      case _: org.apache.spark.sql.types.DecimalType =>
        java.math.BigDecimal.ZERO
      case _ => null
    }.toArray
    private val hashes = types.map(dt =>
      if (bloomSupported(dt)) new scala.collection.mutable.ArrayBuilder.ofLong
      else null).toArray
    private val regs = types.map(dt =>
      if (ndvCapable(dt)) new Array[Byte](NdvM) else null).toArray
    private val leaves = types.map {
      case s: StructType => leavesOf(s)
      case _ => Array.empty[Leaf]
    }.toArray

    def add(r: InternalRow): Unit = {
      rows += 1
      var i = 0
      while (i < n) {
        if (r.isNullAt(i)) {
          nulls(i) += 1
          leaves(i).foreach(_.nulls += 1)
        } else if (leaves(i).nonEmpty) {
          val s = r.getStruct(i, ts(i).asInstanceOf[StructType].length)
          leaves(i).foreach(_.add(s))
        } else if (minMax(i) || hashes(i) != null || regs(i) != null) {
          val v = r.get(i, ts(i))
          if (minMax(i)) {
            if (lo(i) == null || cmp(v, lo(i)) < 0) lo(i) = keep(v)
            if (hi(i) == null || cmp(v, hi(i)) > 0) hi(i) = keep(v)
          }
          if (integral(i) && !overflowed(i)) {
            try isum(i) = Math.addExact(isum(i), v match {
              case l: java.lang.Long => l.longValue()
              case x => x.asInstanceOf[java.lang.Integer].longValue()
            })
            catch { case _: ArithmeticException => overflowed(i) = true }
          }
          if (dsum(i) != null) dsum(i) = dsum(i).add(
            v.asInstanceOf[org.apache.spark.sql.types.Decimal]
              .toJavaBigDecimal)
          if (hashes(i) != null) hashes(i) += bloomHash(v)
          if (regs(i) != null) ndvAdd(regs(i), ndvHash(v))
        }
        i += 1
      }
    }

    /** The file's record: `id` empty until the commit's mint names it. */
    def file(path: String, bytes: Long, pnames: Seq[String],
        pkey: Option[Vector[Any]], pspecId: Int): GraftLakeFile = {
      def byId[T](pick: Int => Option[T]): Map[Int, T] =
        colIds.indices.flatMap(i => pick(i).map(colIds(i) -> _)).toMap
      val nested = colIds.indices.flatMap(i =>
        leaves(i).map(l => (colIds(i), l.path) -> l))
      GraftLakeFile("", colIds, path, types, bytes,
        stats = byId(i => Option.when(minMax(i))((lo(i), hi(i)))),
        numRows = rows,
        nulls = byId(i => Some(nulls(i))),
        sums = byId(i => Option.when(integral(i) && !overflowed(i))(isum(i))),
        dsums = byId(i => Option(dsum(i))),
        nstats = nested.map { case (k, l) => k -> ((l.lo, l.hi)) }.toMap,
        nnulls = nested.map { case (k, l) => k -> l.nulls }.toMap,
        blooms = byId(i => Option(hashes(i)).map(h => bloomWords(h.result()))),
        pkey = pkey, pnames = pnames, pspecId = pspecId,
        ndv = byId(i => Option(regs(i))))
    }

    // bits MUST be the exact word capacity (a probe reconstructs it as
    // words.length * 64 — any slack would shift positions and fabricate
    // false negatives, which here are wrong answers)
    private def bloomWords(hs: Array[Long]): Array[Long] = {
      val raw = math.min(BloomMaxBits, math.max(BloomMinBits,
        rows * BloomBitsPerRow))
      val bits = (((raw + 63) / 64) * 64).toInt
      val words = new Array[Long](bits / 64)
      hs.foreach(h => bloomPositions(h, bits)
        .foreach(p => words(p >> 6) |= 1L << (p & 63)))
      words
    }
  }

  /** One struct leaf's min/max and null count, reached from the struct
    * column by a field-index `chain` (with each struct's width). */
  private final class Leaf(val path: String, dt: DataType,
      chain: Array[Int], widths: Array[Int]) {
    var lo: Any = null
    var hi: Any = null
    var nulls = 0L
    def add(top: InternalRow): Unit = {
      // walk the struct chain; any null link nulls the leaf
      var cur = top
      var d = 0
      while (d < chain.length - 1 && cur != null) {
        cur =
          if (cur.isNullAt(chain(d))) null
          else cur.getStruct(chain(d), widths(d + 1))
        d += 1
      }
      if (cur == null || cur.isNullAt(chain.last)) nulls += 1
      else {
        val v = cur.get(chain.last, dt)
        if (lo == null || cmp(v, lo) < 0) lo = keep(v)
        if (hi == null || cmp(v, hi) > 0) hi = keep(v)
      }
    }
  }

  /** Every supported leaf reachable through structs only, in field
    * order. */
  private def leavesOf(s: StructType): Array[Leaf] = {
    def walk(st: StructType, path: Seq[(String, Int)],
        widths: Seq[Int]): Seq[Leaf] =
      st.fields.toSeq.zipWithIndex.flatMap { case (f, j) =>
        f.dataType match {
          case inner: StructType =>
            walk(inner, path :+ (f.name, j), widths :+ inner.length)
          case dt if statsSupported(dt) =>
            Seq(new Leaf((path.map(_._1) :+ f.name).mkString("."), dt,
              (path.map(_._2) :+ j).toArray, widths.toArray))
          case _ => Nil
        }
      }
    walk(s, Nil, Seq(s.length)).toArray
  }

  /** Effective stats view of column `id` in file `f`: (min/max entry,
    * null count). A file NOT carrying the column serves its
    * EXISTS-DEFAULT for every row (`ADD COLUMN ... DEFAULT`), so it is
    * SINGLE-VALUED at the default — or all-NULL when none was declared.
    * Every pruning/decision path below reads columns through this view;
    * bypassing it reintroduces the absent-means-NULL bug that silently
    * pruned defaulted columns. */
  private def colView(f: GraftLakeFile, id: Int,
      defaults: Map[Int, Any]): (Option[(Any, Any)], Option[Long]) =
    if (f.cols.contains(id)) (f.stats.get(id), f.nulls.get(id))
    else defaults.get(id) match {
      case Some(d) if d != null => (Some((d, d)), Some(0L))
      case _ => (Some((null, null)), Some(f.numRows))
    }

  // ---- per-file BLOOM stats ---------------------------
  // Min/max can't prune a point lookup on a high-cardinality key whose
  // values INTERLEAVE across files (the dedup/similarity id-probe
  // shape: every file's range covers the whole key space). A small
  // per-file Bloom filter in the write-time manifest closes that:
  // `k = v` provably excludes a file when the bloom says v was never
  // written. Soundness is one-directional by construction — a bloom
  // MISS is proof of absence (prune), a HIT proves nothing (keep) — so
  // false positives cost IO, never correctness, and the result stays
  // transparent exactly like min/max skipping. ~10 bits/row (k = 4,
  // ≈1.2% FPP), capped at 16 KiB per column per file.

  /** Equality-probe types the bloom covers: exact-bit hashable with
    * IDENTICAL write-side and probe-side representations (Int widens to
    * Long before hashing, so a pre-widening file still prunes under a
    * post-ALTER BIGINT literal). Floating point is excluded (signed
    * zero / NaN equality subtleties for near-zero benefit — nobody
    * point-probes doubles) and so is Decimal (scale normalization). */
  private def bloomSupported(dt: DataType): Boolean = dt match {
    case LongType | org.apache.spark.sql.types.IntegerType | StringType |
         org.apache.spark.sql.types.DateType |
         org.apache.spark.sql.types.TimestampType |
         org.apache.spark.sql.types.TimestampNTZType => true
    case _ => false
  }

  private val BloomK = 4
  private val BloomBitsPerRow = 10L
  private val BloomMaxBits = 16L * 1024 * 8
  private val BloomMinBits = 256L

  // splitmix64 finalizer: full-avalanche spread of the raw key
  private def mix(x0: Long): Long = {
    var x = x0 + 0x9E3779B97F4A7C15L
    x = (x ^ (x >>> 30)) * 0xBF58476D1CE4E5B9L
    x = (x ^ (x >>> 27)) * 0x94D049BB133111EBL
    x ^ (x >>> 31)
  }

  private def bloomHash(v: Any): Long = v match {
    case l: java.lang.Long => mix(l.longValue())
    case i: java.lang.Integer => mix(i.longValue()) // == the widened Long
    case u: UTF8String =>
      // VERSION-PINNED byte hash: bloom bits live in
      // DURABLE manifests, and a bloom MISS is proof of absence — so
      // the hash must never drift. FNV-1a over the raw UTF-8 bytes is
      // defined entirely in this repo (a Spark upgrade changing
      // UTF8String.hashCode can no longer fabricate false negatives);
      // manifests carry bloomVersion and restore drops mismatched bits.
      mix(fnv1a(u.getBytes))
    case other => throw new IllegalArgumentException(
      s"unbloomable value ${other.getClass}")
  }

  private def fnv1a(b: Array[Byte]): Long = {
    var h = 0xcbf29ce484222325L
    var i = 0
    while (i < b.length) { h ^= (b(i) & 0xffL); h *= 0x100000001b3L; i += 1 }
    h
  }

  private def bloomPositions(h: Long, bits: Int): Iterator[Int] = {
    val h1 = (h & 0xffffffffL).toInt
    val h2 = (h >>> 32).toInt | 1 // odd: never degenerates to one slot
    Iterator.tabulate(BloomK)(i => math.floorMod(h1 + i * h2, bits))
  }

  /** Can `f` contain a row with column `id` = `lit`? False IS proof
    * (prune); files without a bloom for the id (pre-bloom manifests,
    * unsupported types, absent columns) stay conservative. */
  private def bloomMay(f: GraftLakeFile, id: Int, lit: Any): Boolean =
    if (lit == null || !f.cols.contains(id)) true
    else f.blooms.get(id) match {
      case Some(words) if words.nonEmpty =>
        try {
          val bits = words.length * 64
          bloomPositions(bloomHash(lit), bits)
            .forall(p => (words(p >> 6) & (1L << (p & 63))) != 0L)
        } catch { case _: IllegalArgumentException => true }
      case _ => true
    }

  // ---- per-column NDV sketches (HLL) -------------------
  // CostBasedJoinReorder needs per-column distinct counts; Hive tables
  // get them from ANALYZE, lake tables should get them FOR FREE from
  // write-time manifests (Iceberg's theta-sketch puffin files play this
  // role). A 512-register HyperLogLog per supported column per file
  // (~512 bytes, ±~5%) merges associatively at plan time — so the scan
  // can report distinctCount through DSv2 Statistics.columnStats() and
  // Spark's transformV2Stats feeds the optimizer without any ANALYZE.
  // Estimates steer costs only — never correctness — so the hash needs
  // no generation pinning the way bloom bits do.

  private val NdvP = 9
  private val NdvM = 1 << NdvP // 512 registers

  private def ndvCapable(dt: DataType): Boolean = dt match {
    case LongType | org.apache.spark.sql.types.IntegerType |
         org.apache.spark.sql.types.DoubleType |
         org.apache.spark.sql.types.FloatType | StringType |
         org.apache.spark.sql.types.DateType |
         org.apache.spark.sql.types.TimestampType |
         org.apache.spark.sql.types.TimestampNTZType |
         org.apache.spark.sql.types.BooleanType => true
    case _ => false
  }

  private def ndvHash(v: Any): Long = v match {
    case l: java.lang.Long => mix(l.longValue())
    case i: java.lang.Integer => mix(i.longValue()) // == widened Long
    // + 0.0 folds -0.0 into 0.0 (SQL-equal values must hash equal);
    // Float widens to Double first for the same cross-widening reason
    case d: java.lang.Double =>
      mix(java.lang.Double.doubleToLongBits(d.doubleValue() + 0.0))
    case f: java.lang.Float =>
      mix(java.lang.Double.doubleToLongBits(f.doubleValue() + 0.0))
    case b: java.lang.Boolean => mix(if (b.booleanValue()) 1L else 0L)
    case u: UTF8String => mix(fnv1a(u.getBytes))
    case other => throw new IllegalArgumentException(
      s"un-sketchable value ${other.getClass}")
  }

  /** Fold one value's hash into HLL registers. */
  private def ndvAdd(regs: Array[Byte], h: Long): Unit = {
    val idx = (h >>> (64 - NdvP)).toInt
    val w = h << NdvP
    val rank = (if (w == 0L) 64 - NdvP
      else java.lang.Long.numberOfLeadingZeros(w)) + 1
    if (rank > regs(idx)) regs(idx) = rank.toByte
  }

  /** Register-wise max — the associative HLL union. */
  def ndvMerge(a: Array[Byte], b: Array[Byte]): Array[Byte] = {
    val out = new Array[Byte](a.length)
    var i = 0
    while (i < a.length) {
      out(i) = if (a(i) >= b(i)) a(i) else b(i); i += 1
    }
    out
  }

  /** Standard HLL estimate with the small-range correction. */
  def ndvEstimate(regs: Array[Byte]): Long = {
    val m = regs.length.toDouble
    var sum = 0.0
    var zeros = 0
    regs.foreach { r =>
      sum += java.lang.Math.pow(2.0, -r.toDouble)
      if (r == 0) zeros += 1
    }
    val alpha = 0.7213 / (1 + 1.079 / m)
    val e = alpha * m * m / sum
    val est =
      if (e <= 2.5 * m && zeros > 0) m * math.log(m / zeros) else e
    math.max(1L, math.round(est))
  }

  /** a < b for stats values of the same runtime type (aggregate
    * pushdown's reducer). */
  def lt(a: Any, b: Any): Boolean = cmp(a, b) < 0

  /** Signed-zero normalization for values SURFACED as grouping keys:
    * Spark normalizes -0.0 grouping keys to 0.0 (SPARK-26021), and our
    * driver-side groupBy uses java equals where (-0.0).equals(0.0) is
    * FALSE — un-normalized keys would split one SQL group in two. */
  def zeroNorm(v: Any): Any = norm(v)

  /** Widen an internal value to `dt` when it predates a widening ALTER
    * COLUMN TYPE (Int stats/defaults under a now-BIGINT column). */
  def widen(v: Any, dt: DataType): Any = (v, dt) match {
    case (x: java.lang.Integer, LongType) =>
      java.lang.Long.valueOf(x.longValue())
    case (x: java.lang.Float, org.apache.spark.sql.types.DoubleType) =>
      java.lang.Double.valueOf(x.doubleValue())
    case _ => v
  }

  /** Total order across stats values, tolerant of the WIDENING pairs
    * type evolution allows (Int→Long, Float→Double): a pre-widening
    * file's Int stats compare against a post-widening Long literal. */
  private def cmp(a: Any, b: Any): Int = (norm(a), norm(b)) match {
    case (x: java.lang.Long, y: java.lang.Long) => x.compareTo(y)
    case (x: java.lang.Integer, y: java.lang.Integer) => x.compareTo(y)
    case (x: java.lang.Integer, y: java.lang.Long) =>
      java.lang.Long.compare(x.longValue(), y)
    case (x: java.lang.Long, y: java.lang.Integer) =>
      java.lang.Long.compare(x, y.longValue())
    case (x: java.lang.Double, y: java.lang.Double) => x.compareTo(y)
    case (x: java.lang.Float, y: java.lang.Float) => x.compareTo(y)
    case (x: java.lang.Float, y: java.lang.Double) =>
      java.lang.Double.compare(x.doubleValue(), y)
    case (x: java.lang.Double, y: java.lang.Float) =>
      java.lang.Double.compare(x, y.doubleValue())
    case (x: UTF8String, y: UTF8String) => x.compareTo(y)
    case (x: org.apache.spark.sql.types.Decimal,
        y: org.apache.spark.sql.types.Decimal) => x.compare(y)
    case (x, y) => throw new IllegalArgumentException(
      s"incomparable stats values: ${x.getClass} vs ${y.getClass}")
  }

  // ---- the file verdict ----------------------------------------------
  // One walker answers every stats question about a predicate: the SET
  // of SQL outcomes some row of a file may give it. A file is skipped
  // when TRUE is not in the set, and kept whole (the filter needs no
  // re-check) when the set is exactly {TRUE}; a superset is always
  // sound, so whatever the stats cannot read yields all three.

  /** Outcome bits: a set of them is an `Int`. */
  final val True = 1
  final val False = 2
  final val Unknown = 4
  private final val All = True | False | Unknown

  /** Kleene AND over outcome sets: TRUE needs both, FALSE either, and
    * NULL a NULL beside a TRUE or NULL. OR is its De Morgan dual. */
  private def and(a: Int, b: Int): Int =
    (a & b & True) | ((a | b) & False) |
      (if ((a & Unknown) != 0 && (b & (True | Unknown)) != 0 ||
          (b & Unknown) != 0 && (a & (True | Unknown)) != 0) Unknown
       else 0)
  private def not(o: Int): Int =
    (o & Unknown) | ((o & True) << 1) | ((o & False) >> 1)
  private def or(a: Int, b: Int): Int = not(and(not(a), not(b)))

  /** Can any row of `f` satisfy ALL of `predicates`? False is proof
    * (the file is skipped): TRUE is impossible for some predicate. */
  def mayMatch(f: GraftLakeFile, predicates: Seq[Predicate],
      nameToId: Map[String, Int],
      defaults: Map[Int, Any] = Map.empty): Boolean =
    predicates.forall(p => (outcomes(f, p, nameToId, defaults) & True) != 0)

  /** Does every row of `f` give `p` the same kept/dropped answer,
    * provably from stats? Either no row can be TRUE or every row is
    * TRUE. The scan builder claims a predicate FULLY PUSHED (not
    * residual) only when every snapshot file decides it: skipping the
    * all-dropped files and keeping the all-kept ones whole IS the
    * filter, which is what lets aggregate pushdown answer under a WHERE
    * clause. */
  def decides(f: GraftLakeFile, p: Predicate,
      nameToId: Map[String, Int],
      defaults: Map[Int, Any] = Map.empty): Boolean =
    verdict(outcomes(f, p, nameToId, defaults)).isDefined

  /** The verdict on a CONJUNCTION (a metadata-only DELETE's WHERE):
    * Some(true) = every row satisfies all of `ps` (the file may be
    * dropped whole), Some(false) = no row can (the file is untouched),
    * None = mixed or unprovable, so the metadata-only path refuses. */
  def decideConj(f: GraftLakeFile, ps: Array[Predicate],
      nameToId: Map[String, Int],
      defaults: Map[Int, Any] = Map.empty): Option[Boolean] =
    verdict(ps.foldLeft(True)((o, p) =>
      and(o, outcomes(f, p, nameToId, defaults))))

  /** Some(false): no row is TRUE; Some(true): every row is; else None. */
  def verdict(o: Int): Option[Boolean] =
    if ((o & True) == 0) Some(false) else if (o == True) Some(true) else None

  /** The SQL outcomes (bits of [[True]], [[False]], [[Unknown]]) that
    * some row of `f` may give `p`, from its stats alone. Leaves read the
    * EFFECTIVE column through [[colView]] (an absent column serves its
    * exists-default, or NULL); AND, OR and NOT follow Kleene's logic
    * over the sets, and NOT swaps TRUE and FALSE. */
  def outcomes(f: GraftLakeFile, p: Predicate, nameToId: Map[String, Int],
      defaults: Map[Int, Any] = Map.empty): Int = {
    def kid(e: V2Expr): Int = e match {
      case c: Predicate => outcomes(f, c, nameToId, defaults)
      case _ => All
    }
    val kids = p.children()
    p.name() match {
      case "AND" => kids.foldLeft(True)((o, c) => and(o, kid(c)))
      case "OR" => kids.foldLeft(False)((o, c) => or(o, kid(c)))
      case "NOT" if kids.length == 1 => not(kid(kids(0)))
      case "ALWAYS_TRUE" => True
      case "ALWAYS_FALSE" => False
      case op @ ("=" | "<" | "<=" | ">" | ">=" | "<>") if kids.length == 2 =>
        compare(f, op, kids(0), kids(1), nameToId, defaults)
      // col IN (l1, l2, ...) = a disjunction of equalities
      case "IN" if kids.nonEmpty => kids.tail.foldLeft(False)((o, l) =>
        or(o, compare(f, "=", kids.head, l, nameToId, defaults)))
      case "IS_NULL" if kids.length == 1 =>
        column(f, kids(0), nameToId, defaults) { (_, nulls, _) =>
          (if (nulls.contains(0L)) 0 else True) |
            (if (nulls.contains(f.numRows)) 0 else False)
        }
      case "IS_NOT_NULL" if kids.length == 1 =>
        column(f, kids(0), nameToId, defaults) { (_, nulls, _) =>
          (if (nulls.contains(f.numRows)) 0 else True) |
            (if (nulls.contains(0L)) 0 else False)
        }
      case "STARTS_WITH" => kids match {
        case Array(r: NamedReference, l: V2Literal[_])
            if r.fieldNames().length == 1 => l.value match {
          case pre: UTF8String =>
            column(f, r, nameToId, defaults) { (st, nulls, _) =>
              nullable(nulls) | (st match {
                case Some((null, null)) => 0 // all-NULL: no value at all
                // v has prefix p iff its first |p| bytes equal p, and
                // byte-truncation is monotone under the byte order the
                // stats were collected in: trunc(min) > p or trunc(max)
                // < p proves no value matches, trunc(min) = p =
                // trunc(max) that every value does (the Iceberg
                // startsWith bound evaluation)
                case Some((mn: UTF8String, mx: UTF8String)) =>
                  val pb = pre.getBytes
                  ranged(cmpPrefix(mn, pb), cmpPrefix(mx, pb), "=")
                case _ => True | False
              })
            }
          case _ => All
        }
        case _ => All
      }
      case _ => All
    }
  }

  /** NULL is possible unless the column provably holds none. */
  private def nullable(nulls: Option[Long]): Int =
    if (nulls.contains(0L)) 0 else Unknown

  /** The outcomes non-null values in [min, max] may give `v op lit`,
    * from `lo` = cmp(min, lit) and `hi` = cmp(max, lit). */
  private def ranged(lo: Int, hi: Int, op: String): Int = {
    val (t, f) = op match {
      case "=" => (lo <= 0 && hi >= 0, lo != 0 || hi != 0)
      case "<" => (lo < 0, hi >= 0)
      case "<=" => (lo <= 0, hi > 0)
      case ">" => (hi > 0, lo <= 0)
      case ">=" => (hi >= 0, lo < 0)
      case _ => (lo != 0 || hi != 0, lo <= 0 && hi >= 0) // "<>"
    }
    (if (t) True else 0) | (if (f) False else 0)
  }

  private val Mirror = Map("<" -> ">", "<=" -> ">=", ">" -> "<", ">=" -> "<=")

  /** `col op lit`, or the mirrored `lit op col`. `=` additionally
    * consults the per-file bloom for TRUE: an in-range value the file
    * provably never wrote is no match (the point lookup min/max cannot
    * decide). A NULL literal makes every row NULL. */
  private def compare(f: GraftLakeFile, op: String, a: V2Expr, b: V2Expr,
      nameToId: Map[String, Int], defaults: Map[Int, Any]): Int = {
    val (ref, lit, o) = (a, b) match {
      case (r: NamedReference, l: V2Literal[_]) => (r, l.value, op)
      case (l: V2Literal[_], r: NamedReference) =>
        (r, l.value, Mirror.getOrElse(op, op))
      case _ => return All
    }
    column(f, ref, nameToId, defaults) { (st, nulls, id) =>
      val vals = if (lit == null) 0 else st match {
        case None => True | False // no stats: no pruning
        case Some((null, null)) => 0 // every row NULL: no value at all
        case Some((mn, mx)) =>
          try ranged(cmp(mn, lit), cmp(mx, lit), o)
          catch { case _: IllegalArgumentException => True | False }
      }
      val out = vals | (if (lit == null) Unknown else nullable(nulls))
      if ((out & True) != 0 && o == "=" && !id.forall(bloomMay(f, _, lit)))
        out & ~True
      else out
    }
  }

  /** Resolve a reference and apply `leaf` to its (min/max, null count)
    * view and its column id. A top-level column reads [[colView]]; a
    * nested `struct.(...).leaf` reads the nested-leaf stats, which may
    * drop TRUE but always keep FALSE and NULL possible, so a nested
    * predicate is never claimed fully pushed. */
  private def column(f: GraftLakeFile, e: V2Expr, nameToId: Map[String, Int],
      defaults: Map[Int, Any])(
      leaf: (Option[(Any, Any)], Option[Long], Option[Int]) => Int): Int =
    e match {
      case r: NamedReference => nameToId.get(r.fieldNames()(0)) match {
        case Some(id) if r.fieldNames().length == 1 =>
          val (st, nulls) = colView(f, id, defaults)
          leaf(st, nulls, Some(id))
        case Some(id) =>
          val k = (id, r.fieldNames().tail.mkString("."))
          leaf(f.nstats.get(k), f.nnulls.get(k), None) | False | Unknown
        case None => All // metadata or unknown column
      }
      case _ => All
    }

  /** Compare `u`'s first `pb.length` bytes against `pb`, unsigned
    * byte-wise (UTF8String's own order). A shorter `u` compares by its
    * full length (lexicographic tie-break). */
  private def cmpPrefix(u: UTF8String, pb: Array[Byte]): Int = {
    val b = u.getBytes
    val t = if (b.length <= pb.length) b
      else java.util.Arrays.copyOf(b, pb.length)
    java.util.Arrays.compareUnsigned(t, pb)
  }
}

/** HIDDEN (transform) partitioning — the Iceberg partition-transform
  * contract: `PARTITIONED BY (days(ts))` / `bucket(n, key)` declare a
  * DERIVED partition key the table maintains itself, so the reference's
  * date-prefixed layout (/root/reference/app.py:26) needs no
  * user-maintained derived column. Each transform knows how to EVALUATE
  * a source value into its partition key (the scan's key-grouping and
  * the V2 ScalarFunction below must agree — SPJ may re-evaluate the
  * function when aligning partially-clustered sides) and how to render
  * itself as a V2 [[Transform]] for `partitioning()` /
  * [[KeyGroupedPartitioning]] reports. */
private[sources] sealed trait GraftPartTransform {
  def srcCol: String
  /** Partition-key value for a source value of type `srcType` (null
    * source → null key). */
  def eval(v: Any, srcType: DataType): Any
  /** Partition-key type given the source column's type. */
  def keyType(srcType: DataType): DataType
  def toV2: Transform
}
private[sources] final case class IdentityPart(srcCol: String)
    extends GraftPartTransform {
  override def eval(v: Any, srcType: DataType): Any = v
  override def keyType(srcType: DataType): DataType = srcType
  override def toV2: Transform = Expressions.identity(srcCol)
}
private[sources] final case class DaysPart(srcCol: String)
    extends GraftPartTransform {
  override def eval(v: Any, srcType: DataType): Any = v match {
    case null => null
    case micros: java.lang.Long => // Timestamp/TimestampNTZ internal
      Int.box(GraftLakeFunctions.microsToDays(micros.longValue()))
    case days: java.lang.Integer => days // Date internal is already days
  }
  override def keyType(srcType: DataType): DataType =
    org.apache.spark.sql.types.DateType
  override def toV2: Transform = Expressions.days(srcCol)
}
private[sources] final case class BucketPart(n: Int, srcCol: String)
    extends GraftPartTransform {
  override def eval(v: Any, srcType: DataType): Any =
    if (v == null) null
    else Int.box(GraftLakeFunctions.bucketOf(v, srcType, n))
  override def keyType(srcType: DataType): DataType =
    org.apache.spark.sql.types.IntegerType
  override def toV2: Transform = Expressions.bucket(n, srcCol)
}

/** The catalog's V2 FUNCTIONS (`FunctionCatalog`): `bucket` and `days`,
  * resolved by Spark's `V2ExpressionUtils` when it translates a scan's
  * reported transform partitioning into catalyst `TransformExpression`s
  * — the resolution step STORAGE-PARTITIONED JOIN planning needs (two
  * sides are co-partitioned iff their bound functions' canonicalName
  * and bucket counts match). `produceResult` is the same arithmetic the
  * scan's key-grouping uses, so a runtime re-evaluation (partially
  * clustered SPJ) reproduces the reported keys exactly. */
private[sources] object GraftLakeFunctions {
  import org.apache.spark.sql.connector.catalog.functions.{BoundFunction, ScalarFunction, UnboundFunction}
  import org.apache.spark.sql.types.{DateType, IntegerType, TimestampNTZType, TimestampType}

  val names: Seq[String] = Seq("bucket", "days")

  def microsToDays(micros: Long): Int =
    Math.floorDiv(micros, 86400000000L).toInt

  /** Deterministic bucket id: murmur3 of the INTERNAL value (Spark's
    * own shuffle hash — `Murmur3HashFunction` with the standard seed),
    * floor-mod the bucket count. Widening-stable across INT→BIGINT is
    * NOT promised (hashes differ), which is why bucket source columns
    * refuse retyping like identity partition columns do. */
  def bucketOf(v: Any, dt: DataType, n: Int): Int = {
    val h = org.apache.spark.sql.catalyst.expressions
      .Murmur3HashFunction.hash(v, dt, 42L).toInt
    ((h % n) + n) % n
  }

  def byName(name: String): Option[UnboundFunction] = name match {
    case "bucket" => Some(BucketUnbound)
    case "days" => Some(DaysUnbound)
    case _ => None
  }

  private def bucketable(dt: DataType): Boolean = dt match {
    case org.apache.spark.sql.types.IntegerType | LongType | StringType |
         DateType => true
    case _ => false
  }
  private[sources] def daysCapable(dt: DataType): Boolean = dt match {
    case TimestampType | TimestampNTZType | DateType => true
    case _ => false
  }
  private[sources] def bucketCapable(dt: DataType): Boolean = bucketable(dt)

  private object BucketUnbound extends UnboundFunction {
    override def name(): String = "bucket"
    override def description(): String =
      "bucket(n, col): murmur3 hash partition id in [0, n)"
    override def bind(inputType: StructType): BoundFunction = {
      require(inputType.length == 2 &&
        inputType.fields(0).dataType == IntegerType &&
        bucketable(inputType.fields(1).dataType),
        s"bucket expects (INT n, INT|BIGINT|STRING|DATE col), got " +
          inputType.catalogString)
      new BucketBound(inputType.fields(1).dataType)
    }
  }
  private final class BucketBound(keyType: DataType)
      extends ScalarFunction[Integer] {
    override def name(): String = "bucket"
    // type-qualified: bucket-of-int and bucket-of-bigint hash
    // differently, so they must never look SPJ-compatible
    override def canonicalName(): String =
      s"graft.bucket(${keyType.catalogString})"
    override def inputTypes(): Array[DataType] =
      Array(IntegerType, keyType)
    override def resultType(): DataType = IntegerType
    override def isResultNullable: Boolean = true
    override def produceResult(input: InternalRow): Integer =
      if (input.isNullAt(1)) null
      else Int.box(bucketOf(input.get(1, keyType), keyType,
        input.getInt(0)))
  }

  private object DaysUnbound extends UnboundFunction {
    override def name(): String = "days"
    override def description(): String =
      "days(ts): UTC day ordinal of a timestamp/date"
    override def bind(inputType: StructType): BoundFunction = {
      require(inputType.length == 1 &&
        daysCapable(inputType.fields(0).dataType),
        s"days expects (TIMESTAMP|TIMESTAMP_NTZ|DATE), got " +
          inputType.catalogString)
      new DaysBound(inputType.fields(0).dataType)
    }
  }
  private final class DaysBound(srcType: DataType)
      extends ScalarFunction[Integer] {
    override def name(): String = "days"
    override def canonicalName(): String =
      s"graft.days(${srcType.catalogString})"
    override def inputTypes(): Array[DataType] = Array(srcType)
    override def resultType(): DataType = DateType
    override def isResultNullable: Boolean = true
    override def produceResult(input: InternalRow): Integer =
      if (input.isNullAt(0)) null
      else srcType match {
        case DateType => Int.box(input.getInt(0))
        case _ => Int.box(microsToDays(input.getLong(0)))
      }
  }
}

private[sources] object GraftLakeReaders {
  /** COLUMN-granular view of a pruned read schema: each required column
    * widened back to its FULL declared type (names absent from `full` —
    * metadata columns — pass through). Stored rows always carry
    * complete nested values, so honoring Spark's nested-FIELD pruning
    * would make codegen read a 3-field struct through a 1-field layout;
    * the DSv2 pruning contract is explicitly best-effort, and Spark
    * projects the nested subset above the scan. */
  def columnGranular(requiredSchema: StructType,
      full: StructType): StructType = {
    val byName = full.fields.map(f => f.name -> f.dataType).toMap
    StructType(requiredSchema.fields.map(f =>
      byName.get(f.name).map(dt => f.copy(dataType = dt)).getOrElse(f)))
  }
}

private[sources] object GraftLakeFieldIds {
  /** Resolve a file's id manifest to CURRENT column names; retired
    * (dropped) ids map to a sentinel no live field name can equal, so
    * readers never project them. */
  def resolve(cols: Seq[Int], idToName: Map[Int, String]): Seq[String] =
    cols.map(id => idToName.getOrElse(id, "\u0000dropped#" + id))
}

/** A consistent view of committed state: the file list plus the
  * deletion vectors (per-file sets of dead row positions — always empty
  * for a copy-on-write table). */
final case class GraftLakeSnapshot(files: Vector[GraftLakeFile],
    dvs: Map[String, Set[Long]],
    eqs: Vector[GraftEqDelete] = Vector.empty)

/** One EQUALITY DELETE (the Flink→Iceberg
  * streaming-upsert shape): all rows whose `colId` value appears in the
  * keys file at `path` (one column, written under the parquet `label`)
  * are logically deleted from every data file whose
  * file NUMBER is ≤ `belowSeq` (the sequence-number applicability rule:
  * files minted after the delete — including every rewrite, whose rows
  * were read through the delete — are untouched). Written WITHOUT any
  * read-side probe of existing data; `CALL system.compact` resolves it
  * into rewrites. Keys are read EXECUTOR-side by the scan tasks; the
  * driver only ships the path. */
final case class GraftEqDelete(colId: Int, path: String, label: String,
    belowSeq: Int, valueType: DataType) {
  def appliesTo(f: GraftLakeFile): Boolean =
    GraftEqDelete.seqOf(f.id) <= belowSeq
  /** THE applicability rule every consumer shares: the
    * probe spec of this epoch against `f` — (key column position in
    * the FILE layout, this delete) — or None when the epoch
    * cannot touch the file: wrong sequence range, or the file PREDATES
    * the key column (no row can match a key it never stored). Scan
    * planning, compaction candidates, live counts, the change feed,
    * and the retention prune all decide through this one method, so
    * "applicable" can never mean different things to different
    * consumers. */
  def probeFor(f: GraftLakeFile): Option[(Int, GraftEqDelete)] =
    if (!appliesTo(f)) None
    else {
      val i = f.cols.indexOf(colId)
      if (i < 0) None else Some((i, this))
    }
}

object GraftEqDelete {
  /** Executor-local (per-JVM) probe cache. Keys files are write-once —
    * one per epoch task, never mutated, vacuumed only once unreferenced
    * — so a path identifies its content forever; but with F applicable
    * files per epoch the SAME small object would otherwise be fetched F
    * times per stage, once per scan/rewrite/feed task. Soft values: the
    * JVM reclaims sets under memory pressure, and a vacuumed path simply
    * ages out unprobed. */
  private val probeCache = new java.util.concurrent.ConcurrentHashMap[
    (String, DataType), java.lang.ref.SoftReference[Set[Any]]]()
  /** ACTUAL keys-parquet loads (cache misses) in this JVM — the spec's
    * once-per-executor-per-epoch probe (mirrors GraftLakeLog.logReads). */
  val probeReads = new java.util.concurrent.atomic.AtomicLong(0)

  /** THE probe-set loader — the one reading of a keys file every
    * consumer shares (scan-task skip, compaction rewrite, change
    * feed), so canonicalization/null semantics cannot diverge.
    * `compute` holds the bin lock while loading, so concurrent tasks on
    * one executor block for the one load instead of racing N reads. */
  def loadProbe(e: GraftEqDelete): Set[Any] = {
    val key = (e.path, e.valueType)
    var out: Set[Any] = null
    while (out == null) {
      val ref = probeCache.compute(key, (_, old) => {
        if (old != null && old.get() != null) old
        else {
          probeReads.incrementAndGet()
          new java.lang.ref.SoftReference(
            GraftLakeColumnar.keys(e.path, e.label, e.valueType))
        }
      })
      out = ref.get()
      // cleared between compute and get (GC under pressure) → retry
      if (out == null) probeCache.remove(key, ref)
    }
    out
  }

  /** File number inside a lake file id (`<table>#f<N>`). */
  def seqOf(fileId: String): Int = fileId.split("#f").last.toInt
  /** Canonical probe representation across the widening pairs: a
    * pre-widening file's Int values must match post-widening Long keys
    * (same rule the bloom/stat comparators use). */
  def canon(v: Any): Any = v match {
    case i: java.lang.Integer => java.lang.Long.valueOf(i.longValue())
    case f: java.lang.Float => java.lang.Double.valueOf(f.doubleValue())
    case other => other
  }
  /** Key-column types the upsert surface accepts: exact-equality
    * internal representations (Int/Long/String/Date/Timestamp). */
  def keyCapable(dt: DataType): Boolean = dt match {
    case LongType | org.apache.spark.sql.types.IntegerType | StringType |
         org.apache.spark.sql.types.DateType |
         org.apache.spark.sql.types.TimestampType |
         org.apache.spark.sql.types.TimestampNTZType => true
    case _ => false
  }
}

/** Lake table of immutable parquet FILE GROUPS: plain scans, appends,
  * truncation, and the row-level operation hook. Tasks write their own
  * parquet files and ship manifests; the commit adopts them atomically
  * on the driver (the DSv2 commit protocol — each task commit message
  * names the files it wrote). The driver holds manifests, deletion
  * vectors and history, never rows: scan partitions carry paths, and
  * tasks decode. */
class GraftLakeTable(tableName: String, tableSchema: StructType,
    partSpec: Seq[GraftPartTransform] = Nil, mergeOnRead: Boolean = false,
    // an EXPLICIT durable root (warehouse-derived or `graft.location`);
    // None keeps the per-table temp dir
    location: Option[java.io.File] = None,
    // reopen-from-disk: the restored state a fresh JVM's catalog read
    // back out of `<root>/_graft_log` — installed verbatim at the end
    // of construction (the registry is a CACHE over the log)
    reopenFrom: Option[GraftLakeLog.Restored] = None)
    extends Table with SupportsRead with SupportsWrite
    with SupportsRowLevelOperations with SupportsMetadataColumns
    with org.apache.spark.sql.connector.catalog.SupportsDeleteV2 {

  // PARTITION-SPEC EVOLUTION (Iceberg's spec evolution): the spec is
  // metadata that can change without rewriting a single file. Files
  // stamp the spec id their pkey was evaluated under; keyed (SPJ)
  // planning only trusts stamps matching the CURRENT spec, and a
  // rewrite (CALL system.cluster) restamps everything under it.
  private var specNow: Seq[GraftPartTransform] = partSpec
  private var specIdNow: Int = 0
  private[sources] def partSpecNow: Seq[GraftPartTransform] =
    synchronized(specNow)
  private[sources] def partSpecIdNow: Int = synchronized(specIdNow)

  /** EVOLVE the partition spec — a METADATA-ONLY commit, no file is
    * touched (Iceberg's ALTER TABLE ... ADD/REPLACE PARTITION FIELD).
    * New writes fanout + stamp under the new spec; existing files keep
    * their old-spec stamps and serve every read correctly (pruning is
    * stats-based, never layout-based), they just stop qualifying for
    * metadata-keyed (SPJ) planning until a rewrite (CALL
    * system.cluster) restamps them. Returns (old spec id, new id). */
  private[sources] def evolvePartitionSpec(
      spec: Seq[GraftPartTransform]): (Int, Int) = synchronized {
    spec.foreach { t =>
      require(schemaNow.fieldNames.contains(t.srcCol),
        s"partition transform ${GraftLakeLog.encodePart(t)} references " +
          s"unknown column ${t.srcCol}; table has " +
          schemaNow.fieldNames.mkString(", "))
    }
    val before = specIdNow
    val prevSpec = specNow
    specNow = spec
    specIdNow += 1
    // a lost cross-writer CAS reverts files/dvs/schema inside
    // recordCommit — the spec must roll back too, or memory would fan
    // out under a spec id the log never recorded
    try recordCommit(dataChange = false) // metadata commit, feed silent
    catch {
      case e: Throwable =>
        specNow = prevSpec; specIdNow = before; throw e
    }
    (before, specIdNow)
  }

  // partition SOURCE columns (what DROP/retype guards protect; for
  // identity transforms this is the partition column itself). Guards
  // the CURRENT spec only: an old spec's pkey stamps are materialized
  // values in manifests — they survive their source column's drop.
  private def partCols: Seq[String] = partSpecNow.map(_.srcCol)

  // file groups land as REAL parquet files under the table dir; driver
  // state keeps only paths, manifests and DVs — write amplification is
  // measurable bytes and the driver heap holds no row data
  tableSchema.fields.foreach(f =>
    require(GraftParquetIO.supported(f.dataType),
      s"lake tables cannot store column ${f.name}: ${f.dataType.sql}"))
  private val lakeDir: java.io.File = location.map { d =>
    d.mkdirs(); d
  }.getOrElse(GraftLakeTable.tempRoot())
  // the durable metadata log: every table journals commits + file
  // manifests under `<root>/_graft_log`, so its full state (history,
  // schema evolution, DVs, refs) survives the JVM — see [[GraftLakeLog]]
  // for the layout
  private val log = new GraftLakeLog(lakeDir)
  private[sources] def deleteStorage(): Unit =
    GraftParquetIO.deleteRecursively(lakeDir)
  /** Task-side write recipe: the table dir plus the CURRENT schema
    * identity, captured when the write is built — adoption re-validates
    * the ids at commit, so a concurrent ALTER still aborts loudly (see
    * [[mint]]). */
  private def fileWriteInfo: GraftLakeFileWriteInfo = synchronized(
    GraftLakeFileWriteInfo(lakeDir.getAbsolutePath,
      schemaNow.fieldNames.toSeq, schemaNow.fields.map(_.dataType).toSeq,
      colIds, specNow, specIdNow))
  /** Current per-file sizes in bytes — the write-amplification spec's
    * probe. */
  private[graft] def fileBytes: Map[String, Long] =
    synchronized(files.map(f => f.id -> f.bytes).toMap)
  /** Current on-disk paths. */
  private[graft] def filePaths: Map[String, String] =
    synchronized(files.map(f => f.id -> f.path).toMap)
  /** (partition-pure?, spec id) per live file — the spec-evolution
    * spec's probe for stamp state. */
  private[graft] def fileStamps: Seq[(Boolean, Int)] =
    synchronized(files.map(f => (f.pkey.isDefined, f.pspecId)))
  /** Total bloom'd columns across live files — the bloom-generation
    * spec's probe (restore drops foreign-generation bits). */
  private[graft] def fileBloomColumnCount: Int =
    synchronized(files.map(_.blooms.size).sum)
  /** Test hook: invoked at the ENTRY of every data commit, before the
    * table lock — lets a concurrency spec latch two writers so both pin
    * their snapshots before either commit applies. */
  @volatile private[graft] var commitHook: () => Unit = () => ()

  // the committed table state; replaced atomically under this lock
  private var files: Vector[GraftLakeFile] = Vector.empty
  private var dvs: Map[String, Set[Long]] = Map.empty
  // unresolved EQUALITY DELETES (streaming upsert); resolved away by
  // CALL system.compact, pruned when no current file is applicable
  private var eqs: Vector[GraftEqDelete] = Vector.empty
  private var fileSeq = 0
  // current schema; evolves via ALTER TABLE (applySchemaChanges below).
  // `colIds(i)` is the STABLE FIELD ID of schemaNow.fields(i) — the
  // Iceberg field-id contract: files stamp ids, not names, so RENAME is
  // a pure metadata edit (old files keep serving the id under its new
  // name) and DROP retires an id without touching any file.
  private var schemaNow: StructType = tableSchema
  private var colIds: Vector[Int] = tableSchema.indices.toVector
  private var nextColId: Int = tableSchema.length
  // (field id → Catalyst internal value) EXISTS-defaults from
  // `ADD COLUMN ... DEFAULT`: files written before the add serve this
  // value for the id instead of NULL
  private var colDefaults: Map[Int, Any] = Map.empty
  // streaming-epoch watermarks (query id → last committed epoch), the
  // Delta txn contract: a restarted query's replayed epoch is a no-op
  private var streamEpochs: Map[String, Long] = Map.empty

  // table-level CHECK constraints. ENFORCEMENT is Spark's: the
  // analyzer's ResolveTableConstraints reads [[constraints]] on every
  // V2 write and injects the predicate as a row-level assertion that
  // fails the job (and therefore the atomic commit) on violation — the
  // engine only owns declaration, persistence, and schema-evolution
  // guards. Only CHECK is accepted: it is row-local, so a write
  // validates it without any cross-partition coordination; PRIMARY
  // KEY / UNIQUE / FOREIGN KEY would need a global index no lake
  // format maintains, and declaring them unenforced would silently
  // lie to the optimizer.
  private var checks: Vector[
    org.apache.spark.sql.connector.catalog.constraints.Check] =
    Vector.empty
  override def constraints(): Array[
      org.apache.spark.sql.connector.catalog.constraints.Constraint] =
    synchronized(checks.toArray)
  /** True once this table has EVER tracked a constraint (in this JVM or
    * in the restored log): from then on every commit record carries the
    * full vector (empty = "all dropped"), so a rebase refresh reads the
    * winner's constraints atomically with its version CAS.
    * Kept false for never-constrained tables so their commit records —
    * and the v0 record a create-WITH-constraints writes BEFORE
    * installConstraints runs — never carry a spuriously-empty vector
    * that would shadow constraints.json. */
  private var everHadConstraints = false
  private def canonicalChecks
      : Vector[(String, String, Boolean, Boolean, String)] =
    checks.map(c =>
      (c.name, canonicalCheckSql(c.predicateSql), c.enforced, c.rely,
        c.validationStatus.name))
  private def persistConstraints(): Unit =
    log.writeConstraints(canonicalChecks)

  /** CHECK predicates PERSIST with column references as FIELD-ID
    * placeholders (`__gcol_<id>__`) — the same device that makes file
    * manifests rename-proof. The durable form is RENAME-INVARIANT: a
    * rename changes only the in-memory (analyzer-facing) predicate
    * text, never these bytes, so no crash window between the schema
    * commit and a constraint rewrite can leave a predicate naming a
    * dead column. It also gives the rebase admission
    * guard a rename-stable identity to compare (see
    * [[admitsChecks]]). A NESTED reference (`s.leaf`) keys on its
    * ROOT column — only top-level columns carry ids, and a rename can
    * only touch the root — so `s.leaf > 0` persists as
    * `__gcol_<id(s)>__.leaf > 0`. Attributes whose root matches no
    * current column (a pre-id legacy file) pass through verbatim. */
  private def canonicalCheckSql(sql: String): String = {
    val n2i = schemaNow.fieldNames.zip(colIds)
    transformCheckAttrs(sql, name =>
      n2i.collectFirst { case (n, id) if n.equalsIgnoreCase(name) =>
        s"__gcol_${id}__" })
  }
  /** Inverse of [[canonicalCheckSql]] under the CURRENT schema: id
    * placeholders resolve to the id's current name; anything else —
    * including a pre-placeholder legacy predicate — is untouched. */
  private def resolveCheckSql(sql: String): String = {
    val i2n = colIds.zip(schemaNow.fieldNames).toMap
    transformCheckAttrs(sql, name =>
      if (name.startsWith("__gcol_") && name.endsWith("__"))
        name.stripPrefix("__gcol_").stripSuffix("__")
          .toIntOption.flatMap(i2n.get)
      else None)
  }
  /** Does the predicate contain a higher-order-function lambda?
    * `Expression.sql` regenerates `x -> x > 0` as
    * `lambdafunction((x > 0), x)` — a spelling the analyzer does NOT
    * re-bind as a lambda (the parameter resolves as a COLUMN, silently
    * changing the predicate's meaning, or bricking writes when no such
    * column exists). Lambda-bearing predicates therefore
    * NEVER round-trip through regeneration: they persist verbatim, and
    * a rename touching one is refused like DROP COLUMN. */
  private def checkSqlHasLambda(sql: String): Boolean =
    try org.apache.spark.sql.catalyst.parser.CatalystSqlParser
      .parseExpression(sql).exists(_.isInstanceOf[
        org.apache.spark.sql.catalyst.expressions.LambdaFunction])
    catch { case scala.util.control.NonFatal(_) => false }

  /** Rewrite the ROOT part of every attribute `f` maps (tail parts —
    * nested field steps — ride along untouched). CHECK predicates
    * resolve against the row schema alone, so a multi-part name is a
    * struct access rooted at a column, never a table qualification.
    * A lambda-bearing predicate passes through VERBATIM (see
    * [[checkSqlHasLambda]] — regeneration would corrupt it, and its
    * parameters shadow same-named columns anyway). */
  private def transformCheckAttrs(
      sql: String, f: String => Option[String]): String = {
    import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
    import org.apache.spark.sql.catalyst.expressions.{Expression,
      LambdaFunction}
    val parsed = org.apache.spark.sql.catalyst.parser.CatalystSqlParser
      .parseExpression(sql)
    if (parsed.exists(_.isInstanceOf[LambdaFunction])) return sql
    var changed = false
    val out = parsed.transform {
      case a: UnresolvedAttribute =>
        f(a.nameParts.head) match {
          case Some(n) =>
            changed = true
            (UnresolvedAttribute(a.nameParts.updated(0, n)): Expression)
          case None => a
        }
    }
    if (!changed) sql else out.sql
  }
  private[sources] def installConstraints(
      cs: Seq[org.apache.spark.sql.connector.catalog.constraints
        .Constraint]): Unit = synchronized {
    cs.foreach {
      case c: org.apache.spark.sql.connector.catalog.constraints.Check =>
        require(!checks.exists(_.name == c.name),
          s"constraint ${c.name} already exists on $tableName")
        checks :+= c
      case other => throw new UnsupportedOperationException(
        s"only CHECK constraints are supported on $tableName (row-local," +
          " enforceable at write time); PRIMARY KEY / UNIQUE / FOREIGN " +
          s"KEY need a global index the lake does not maintain: " +
          other.toDDL)
    }
    everHadConstraints = true
    persistConstraints()
  }
  private def constraintsFromRestore(
      cs: Seq[(String, String, Boolean, Boolean, String)]): Vector[
        org.apache.spark.sql.connector.catalog.constraints.Check] =
    cs.map { case (name, sql, enforced, rely, status) =>
      import org.apache.spark.sql.connector.catalog.constraints.Constraint
      Constraint.check(name).predicateSql(resolveCheckSql(sql))
        .enforced(enforced).rely(rely)
        .validationStatus(
          Constraint.ValidationStatus.valueOf(status))
        .build()
    }.toVector

  /** Current (field id → name) mapping — what scans resolve per-file id
    * manifests through at planning time. */
  private[sources] def idToName: Map[Int, String] = synchronized(
    colIds.zip(schemaNow.fieldNames).map { case (id, n) => id -> n }.toMap)

  /** Current id-keyed EXISTS-defaults (see [[colDefaults]]). */
  private[sources] def defaults: Map[Int, Any] = synchronized(colDefaults)

  /** Defaults resolved to CURRENT column names (change-feed readers). */
  private[sources] def nameDefaults: Map[String, Any] = synchronized {
    val i2n = colIds.zip(schemaNow.fieldNames).toMap
    colDefaults.flatMap { case (id, v) => i2n.get(id).map(_ -> v) }
  }

  /** Validate EVERY change against a local copy of the schema, then
    * install the result in one assignment — atomic by construction: no
    * table state mutates until the whole statement has passed. */
  private[sources] def applySchemaChanges(changes: Seq[TableChange]): Unit =
    synchronized {
      var fields = schemaNow.fields.toVector
      var ids = colIds
      var next = nextColId
      var defs = colDefaults
      var cks = checks
      def indexOf(fieldNames: Array[String], what: String): Int = {
        require(fieldNames.length == 1,
          s"nested $what unsupported: ${fieldNames.mkString(".")}")
        val i = fields.indexWhere(_.name == fieldNames(0))
        require(i >= 0, s"no column ${fieldNames(0)} on $tableName")
        i
      }
      def checkFresh(name: String): Unit = {
        require(!fields.exists(_.name == name),
          s"column $name already exists on $tableName")
        require(name != GraftLakeTable.FileCol
            && name != GraftLakeTable.PosCol
            && name != GraftLakeTable.ChangeTypeCol
            && name != GraftLakeTable.CommitVersionCol,
          s"column $name collides with a metadata column")
      }
      changes.foreach {
        case add: TableChange.AddColumn =>
          require(add.fieldNames().length == 1,
            s"nested ADD COLUMN unsupported: " +
              add.fieldNames().mkString("."))
          require(add.isNullable,
            s"added column ${add.fieldNames()(0)} must be nullable: " +
              "files written before the evolution null-fill it")
          require(GraftParquetIO.supported(add.dataType()),
            s"lake tables cannot store added column " +
              s"${add.fieldNames()(0)}: ${add.dataType().sql}")
          // the EXISTS-default persists as a scalar in the commit record
          // and serves pre-evolution files as a constant column
          require(add.defaultValue() == null || (add.dataType() match {
              case _: ArrayType | _: MapType | _: StructType => false
              case _ => true
            }),
            s"added column ${add.fieldNames()(0)} " +
              s"(${add.dataType().sql}) cannot take a DEFAULT: nested " +
              "defaults are unsupported on lake tables")
          checkFresh(add.fieldNames()(0))
          // DEFAULT <literal>: the internal value becomes the id's
          // EXISTS-DEFAULT (what pre-evolution files read back — the
          // Delta/Iceberg default-value contract) and the SQL text is
          // stamped into the field metadata so the analyzer fills the
          // CURRENT default on inserts that omit the column
          val defaulted = Option(add.defaultValue()) match {
            case Some(d) =>
              defs += next -> d.getValue.value
              // fallback renders through catalyst Literal.sql — TYPE-AWARE
              // quoting (UTF8String 'legacy' → 'legacy', not bare legacy):
              // the stamped text is re-parsed by the analyzer for INSERT
              // default fill, so an unquoted string would mis-parse
              val sql = Option(d.getSql).getOrElse(
                org.apache.spark.sql.catalyst.expressions.Literal(
                  d.getValue.value, d.getValue.dataType).sql)
              StructField(add.fieldNames()(0), add.dataType(),
                nullable = true)
                .withExistenceDefaultValue(sql)
                .withCurrentDefaultValue(sql)
            case None =>
              StructField(add.fieldNames()(0), add.dataType(),
                nullable = true)
          }
          fields :+= defaulted
          ids :+= next
          next += 1
        case ren: TableChange.RenameColumn =>
          val i = indexOf(ren.fieldNames(), "RENAME COLUMN")
          checkFresh(ren.newName())
          // rewrite CHECK predicates ALONGSIDE the rename (the way
          // stored defaults widen with UpdateColumnType below): parse
          // the persisted SQL, substitute the attribute, regenerate.
          // A textual replace would corrupt string literals that
          // happen to contain the name; a missing rewrite would leave
          // the predicate naming a dead column — the analyzer then
          // injects an unresolvable assertion into every later write
          // and a metadata-only rename bricks the table.
          val oldName = fields(i).name
          cks = cks.map { c =>
            // lambda-bearing predicates persist verbatim (regeneration
            // corrupts the lambda binding — [[checkSqlHasLambda]]): a
            // rename that textually touches one is refused like DROP
            // COLUMN (conservative word boundary; a false positive —
            // e.g. a shadowing lambda parameter — just demands a
            // re-declare, never a silent dangle or rebind)
            if (checkSqlHasLambda(c.predicateSql)) {
              // CASE_INSENSITIVE: analyzer resolution is case-insensitive
              // by default, so a verbatim lambda predicate mentioning `k`
              // must refuse a rename of column K too — the
              // non-lambda path below matches equalsIgnoreCase for the
              // same reason
              val pat = java.util.regex.Pattern.compile(
                "\\b" + java.util.regex.Pattern.quote(oldName) + "\\b",
                java.util.regex.Pattern.CASE_INSENSITIVE)
              if (pat.matcher(c.predicateSql).find())
                throw new IllegalArgumentException(
                  s"cannot rename column $oldName: CHECK constraint " +
                    s"${c.name} (${c.predicateSql}) contains a lambda " +
                    "that mentions it — DROP the constraint first and " +
                    "re-declare it under the new name")
              c
            } else {
              // the shared walker: head-part match (a one-part attr
              // IS the column; a multi-part attr is a nested access
              // ROOTED at it — the tail rides along)
              val renamed = try transformCheckAttrs(c.predicateSql,
                name => if (name.equalsIgnoreCase(oldName))
                  Some(ren.newName()) else None)
              catch {
                case scala.util.control.NonFatal(_) =>
                  throw new IllegalArgumentException(
                    s"cannot rename column $oldName: CHECK constraint " +
                      s"${c.name} (${c.predicateSql}) does not re-parse " +
                      "— DROP the constraint first")
              }
              if (renamed == c.predicateSql) c
              else {
                import org.apache.spark.sql.connector.catalog.constraints
                  .Constraint
                Constraint.check(c.name).predicateSql(renamed)
                  .enforced(c.enforced).rely(c.rely)
                  .validationStatus(c.validationStatus).build()
              }
            }
          }
          fields = fields.updated(i, fields(i).copy(name = ren.newName()))
        case del: TableChange.DeleteColumn =>
          val i = indexOf(del.fieldNames(), "DROP COLUMN")
          require(!partCols.contains(fields(i).name),
            s"cannot drop partition column ${fields(i).name}")
          require(fields.length > 1,
            s"cannot drop the last column of $tableName")
          // a CHECK referencing the column would dangle (conservative
          // word-boundary match, case-insensitive to mirror the
          // analyzer's resolution — a false positive only demands the
          // constraint drop first, never a silent dangle)
          val colPat = java.util.regex.Pattern.compile(
            "\\b" + java.util.regex.Pattern.quote(fields(i).name) + "\\b",
            java.util.regex.Pattern.CASE_INSENSITIVE)
          cks.find(c => colPat.matcher(c.predicateSql).find()).foreach(c =>
            throw new IllegalArgumentException(
              s"cannot drop column ${fields(i).name}: CHECK constraint " +
                s"${c.name} references it (${c.predicateSql}) — DROP " +
                "the constraint first"))
          defs -= ids(i)
          fields = fields.patch(i, Nil, 1)
          ids = ids.patch(i, Nil, 1)
        case upd: TableChange.UpdateColumnType =>
          // WIDENING only — a widened read is lossless, so no file is
          // rewritten: each file keeps its physical type in the manifest
          // and scans widen per-file at planning (Iceberg type promotion)
          val i = indexOf(upd.fieldNames(), "ALTER COLUMN TYPE")
          val old = fields(i).dataType
          val nw = upd.newDataType()
          val widens = (old, nw) match {
            case (org.apache.spark.sql.types.IntegerType, LongType) => true
            case (org.apache.spark.sql.types.FloatType,
                org.apache.spark.sql.types.DoubleType) => true
            case _ => old == nw
          }
          require(widens, s"only widening type changes are supported " +
            s"(INT->BIGINT, FLOAT->DOUBLE), got ${old.sql} -> ${nw.sql}")
          require(!partCols.contains(fields(i).name),
            s"cannot retype partition column ${fields(i).name}")
          fields = fields.updated(i, fields(i).copy(dataType = nw))
          // widen a stored default alongside its column
          defs.get(ids(i)).foreach(v =>
            defs += ids(i) -> GraftLakeStats.widen(v, nw))
        case add: TableChange.AddConstraint =>
          add.constraint() match {
            case c: org.apache.spark.sql.connector.catalog.constraints
                .Check =>
              require(!cks.exists(_.name == c.name),
                s"constraint ${c.name} already exists on $tableName")
              cks :+= c
            case other => throw new UnsupportedOperationException(
              s"only CHECK constraints are supported on $tableName " +
                "(row-local, enforceable at write time); PRIMARY KEY / " +
                "UNIQUE / FOREIGN KEY need a global index the lake " +
                s"does not maintain: ${other.toDDL}")
          }
        case drop: TableChange.DropConstraint =>
          val i = cks.indexWhere(_.name == drop.name())
          if (i >= 0) cks = cks.patch(i, Nil, 1)
          else if (!drop.ifExists()) throw new IllegalArgumentException(
            s"no constraint ${drop.name()} on $tableName")
        case other => throw new UnsupportedOperationException(
          s"unsupported ALTER TABLE change: $other")
      }
      schemaNow = StructType(fields)
      colIds = ids
      nextColId = next
      colDefaults = defs
      val priorChecks = checks
      checks = cks
      // ALTER TABLE is a COMMIT (dataChange = false: the relation's
      // data is untouched, the change feed stays silent) — exactly
      // Delta's metadata commits. Recording it is what gives time
      // travel a version boundary to pin the OLD schema at: VERSION AS
      // OF any pre-ALTER version now resolves that version's schema
      // (see [[schemaInfoAt]]), instead of serving current columns over
      // old data. Ordering: the VERSION CAS FIRST,
      // constraints.json only after the claim is won.
      // The CAS is the only cross-driver staleness detector — a stale
      // driver's ALTER would otherwise overwrite the file from its
      // stale in-memory vector BEFORE losing the claim, durably
      // erasing a concurrent driver's constraint even though its own
      // statement then fails. A won claim proves this driver's state
      // (incl. the vector the change built on — refreshFromLog
      // reloads `checks` from disk) was current. A CAS loss refreshes
      // before propagating so the statement RE-RUN plans and
      // re-validates against the current state; recordCommit's own
      // revert restores the schema triple, this catch the checks.
      // The crash/IO window between the won commit and the file
      // write: a RENAME persists identical bytes (field-id form); a
      // failed ADD/DROP persist leaves the durable set one errored
      // statement behind while this driver's memory stays correct —
      // the next successful constraint ALTER (or the statement
      // re-run) converges the file. Never restore memory after the
      // win: the committed version was validated under the NEW
      // vector, and memory is what this driver enforces with.
      try recordCommit(dataChange = false)
      catch {
        case e: Throwable =>
          checks = priorChecks
          if (isCasLoss(e)) refreshFromLog()
          throw e
      }
      if (cks != priorChecks) persistConstraints()
    }
  // COMMIT HISTORY: snapshot after every commit, version = index. The
  // `dataChange` flag mirrors Delta's: maintenance commits (DV
  // compaction) reorganize bytes without changing the relation, and the
  // change feed must skip them or every OPTIMIZE would replay the whole
  // file as spurious delete+insert churn downstream.
  private var history: Vector[(GraftLakeSnapshot, Boolean)] =
    Vector((GraftLakeSnapshot(Vector.empty, Map.empty), true))
  // versions below this were expired (expire_versions): version v lives
  // at history(v - baseVersion)
  private var baseVersion = 0
  // wall-clock commit times, index-aligned with `history` (the v0
  // creation commit stamps at table construction): TIMESTAMP AS OF
  // resolution and the .history table's timestamp column
  private var commitTimes: Vector[Long] =
    Vector(System.currentTimeMillis())
  // per-commit SCHEMA record (schema, field ids, exists-defaults),
  // index-aligned with `history`: time travel resolves a version's
  // columns through the schema that version was committed under, so a
  // post-DROP pin still serves the dropped column and a post-ADD pin
  // does NOT back-fill the new one (the Delta/Iceberg snapshot-schema
  // contract). Entries share references — O(1) per commit.
  private var commitSchemas
      : Vector[(StructType, Vector[Int], Map[Int, Any])] =
    Vector((tableSchema, tableSchema.indices.toVector, Map.empty))
  private def recordCommit(dataChange: Boolean,
      txn: Option[(String, Long)] = None): Unit = {
    // prune equality deletes no current file is subject to (all their
    // MATCHABLE files were rewritten/compacted away — a file predating
    // the key column never counts) — the keys file then
    // ages out of retention and vacuums normally
    eqs = eqs.filter(e => files.exists(f => e.probeFor(f).isDefined))
    val snap = GraftLakeSnapshot(files, dvs, eqs)
    // clamped monotonic: a wall clock stepping backwards (NTP, VM
    // suspend) must not break TIMESTAMP AS OF's sorted-times invariant
    // (Delta stamps the same way)
    val time = math.max(System.currentTimeMillis(), commitTimes.last)
    // durable manifest list FIRST: the version-file claim is the
    // cross-writer arbiter (O_EXCL — see GraftLakeLog.writeAtomic). ANY
    // failure of the durable write — conflict (IllegalStateException)
    // or I/O (disk-full, permissions) — reverts the
    // in-memory mutation to the last DURABLE state before propagating,
    // so memory never claims a commit disk refused and a phantom change
    // cannot ride the next successful commit. (writeAtomic itself
    // deletes this writer's own unfilled claim on a failed fill, so the
    // version number is immediately reusable.)
    if (checks.nonEmpty) everHadConstraints = true
    try log.writeCommit(baseVersion + history.length, snap,
      dataChange, time, schemaNow, colIds, colDefaults, fileSeq,
      nextColId, txn,
      // stamp the current spec once evolution happened — restore reads
      // the LAST commit's record, so expire can never lose it
      if (specIdNow > 0) Some((specIdNow, specNow)) else None,
      // constraint vector rides the commit record once the table ever
      // tracked one — atomic with the version CAS, so a concurrent
      // driver's rebase refresh can never resurrect a pre-ALTER
      // constraints.json and durably erase the winner's constraint
      if (everHadConstraints) Some(canonicalChecks) else None)
    catch {
      case scala.util.control.NonFatal(e) =>
        files = history.last._1.files
        dvs = history.last._1.dvs
        eqs = history.last._1.eqs
        val (ps, pids, pdefs) = commitSchemas.last
        schemaNow = ps; colIds = pids; colDefaults = pdefs
        throw e
    }
    history = history :+ (snap, dataChange)
    commitTimes = commitTimes :+ time
    commitSchemas = commitSchemas :+ ((schemaNow, colIds, colDefaults))
    // evict live-count memo entries for files that just left the table
    // (compacted away, truncated, vacuumed) — without this the memo
    // grows with every file id ever probed on a long-lived CDC table.
    // A time-travel COUNT at an older version simply
    // re-probes; correctness is signature-checked either way.
    if (!eqLiveMemo.isEmpty) {
      val live = files.iterator.map(_.id).toSet
      eqLiveMemo.keySet.removeIf(id => !live.contains(id))
    }
    // post-commit maintenance: bundle loose file manifests into groups
    // so a reopen parses O(groups), not O(files) — never fails a commit
    log.groupManifests()
  }

  // ---- optimistic-commit auto-rebase (cross-writer commit retry) ----------
  // Iceberg's commit-retry contract, re-expressed over the arbiter CAS:
  // a CROSS-WRITER race surfaces as a claim loss (version record or
  // file-number object), never as wrong data. Instead of demanding a
  // manual evict + statement re-run, a data commit REFRESHES this
  // table's state from the durable log, re-validates, and re-attempts.
  // What re-validation allows is exactly the in-JVM rules the same
  // paths already enforce: appends are always compatible (SNAPSHOT
  // isolation — a concurrent append neither sees nor is seen by this
  // statement); row-level deltas re-run validateDataFilesExist + the
  // DV-skew check against the refreshed state, so a winner that only
  // appended rebases silently while a winner that touched the same
  // rows stays a LOUD conflict; blind replacements (INSERT OVERWRITE,
  // Complete-mode epochs, rollback, publish) land only at the version
  // they started from — their outcome is order-dependent by definition.
  // Every commit runs through [[mint]] and [[commit]].

  /** Count of cross-writer rebases this table performed (test probe). */
  @volatile private[graft] var rebases: Long = 0L

  /** True iff the failure is a CROSS-WRITER CAS loss — an arbiter claim
    * conflict (version record, file number, reclaimed fill). Semantic
    * conflicts (lost update, DV skew, concurrent ALTER) carry no claim
    * cause and must stay loud. */
  private def isCasLoss(e: Throwable): Boolean = {
    var c: Throwable = e
    var seen = List.empty[Throwable]
    while (c != null && !seen.exists(_ eq c)) {
      if (c.isInstanceOf[GraftClaimConflict]) return true
      seen ::= c
      c = c.getCause
    }
    false
  }

  /** Install a restored log state verbatim — what a reopen does at
    * construction and what a CAS loss refreshes to (the registry entry
    * is a cache over `_graft_log`). `fileSeq` only ever moves FORWARD:
    * numbers this writer claimed (or collided on) must never be
    * re-minted, and a crashed writer's orphan object is skipped the
    * same way. */
  private def install(r: GraftLakeLog.Restored): Unit = {
    files = r.files
    dvs = r.dvs
    eqs = r.history.last._1.eqs
    fileSeq = math.max(fileSeq, r.fileSeq)
    schemaNow = r.schemaNow
    colIds = r.colIds
    nextColId = r.nextColId
    colDefaults = r.colDefaults
    history = r.history
    baseVersion = r.baseVersion
    commitTimes = r.commitTimes
    commitSchemas = r.commitSchemas
    tagRefs = r.tagRefs
    branchRefs = r.branches.map { case (n, (base, staged)) =>
      n -> StagedBranch(base, staged) }
    streamEpochs = r.txns
    specIdNow = r.pspecId
    if (r.pspecNow.nonEmpty || r.pspecId > 0) specNow = r.pspecNow
    checks = constraintsFromRestore(r.constraints)
    if (checks.nonEmpty) everHadConstraints = true
  }

  /** The rebase refresh: adopt the durable log's CURRENT state. */
  private def refreshFromLog(): Unit = {
    install(GraftLakeLog.restore(lakeDir))
    rebases += 1
  }

  /** Run `body`; on a CAS loss, refresh from the log and re-run,
    * bounded by [[GraftLakeTable.MaxCommitRebases]]. Any FINAL failure
    * — a non-CAS error, or an exhausted retry budget — runs `cleanup`
    * once before propagating. Only [[mint]] and [[commit]] call it. */
  private def retryCas[T](cleanup: => Unit)(body: => T): T = {
    var tries = 0
    while (true) {
      try return body
      catch {
        case e: Exception if isCasLoss(e) &&
            tries < GraftLakeTable.MaxCommitRebases =>
          tries += 1
          refreshFromLog()
        case e: Throwable =>
          cleanup
          throw e
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** THE commit loop every table commit (data and maintenance) runs:
    * each attempt re-runs `admit` against the current state, then
    * `apply` mutates it and [[recordCommit]] claims the next version.
    * On a CAS loss the state is refreshed from the log and the attempt
    * re-runs; recordCommit reverts the in-memory mutation before
    * propagating, so every attempt starts from a durable state.
    * `admit` throws a loud conflict, or returns false when nothing is
    * left to commit (a delete that drops no file). A `txn` epoch the
    * table already recorded — this driver's replay, or a zombie
    * driver's epoch another driver landed first — commits nothing.
    * Neither `admit` nor `apply` mints: minted artifacts come from
    * [[mint]] once and are re-applied verbatim on every attempt. A
    * commit that finally fails unlinks `minted`, the files minted for
    * it, and their manifests: a stale writer whose claims all
    * succeeded (the winner minted nothing, e.g. a DV-only delete)
    * first learns it is stale at the version CAS, after adopting. */
  private def commit(admit: => Boolean, dataChange: Boolean,
      txn: Option[(String, Long)] = None,
      minted: Seq[GraftLakeFile] = Nil)(apply: => Unit): Unit =
    retryCas(cleanup = minted.foreach { f =>
      new java.io.File(f.path).delete()
      log.dropFileManifest(f)
    }) {
      if (!replayed(txn) && admit) {
        apply
        recordCommit(dataChange, txn)
        txn.foreach(streamEpochs += _)
      }
    }

  /** The table already recorded this streaming epoch. */
  private def replayed(txn: Option[(String, Long)]): Boolean =
    txn.exists { case (q, e) => streamEpochs.get(q).exists(_ >= e) }

  /** Admission of a BLIND replacement (INSERT OVERWRITE, a Complete-mode
    * epoch, rollback, publish): its outcome depends on commit order, so
    * it lands only at the version it started from — a concurrent commit
    * is a loud conflict, never silently erased. A lost CAS has already
    * refreshed the state, so re-running the statement lands. */
  private def admitsAt(v0: Int, what: String): Boolean = {
    if (currentVersion != v0) throw new IllegalStateException(
      s"write conflict on $tableName: a concurrent commit moved it from " +
        s"version $v0 to $currentVersion while $what was replacing its " +
        "contents — re-run the statement against the current state")
    true
  }

  /** Loud-conflict guard every data commit's rebase attempt runs:
    * CHECK enforcement is injected by the ANALYZER, so a write planned
    * before a concurrent ADD CONSTRAINT landed carries rows that were
    * never validated against it — rebasing past the ALTER would commit
    * them anyway and durably violate the constraint.
    * `planned` is the (name, field-id-canonical predicate) set
    * captured when the write was built (see [[plannedCheckSet]]); a
    * refreshed state carrying a constraint IDENTITY outside it fails
    * the commit so the statement re-plans (and re-validates) under the
    * new predicate. Comparing the canonical PREDICATE — not the name
    * alone — means a concurrent DROP + re-ADD under the same name (the
    * natural way to tighten a check) is still a loud conflict, while a
    * concurrent RENAME COLUMN (id-stable, semantics unchanged) rebases
    * fine. Concurrent DROPs are always compatible. */
  private def admitsChecks(planned: Set[(String, String)]): Boolean = {
    val fresh = checks
      .map(c => (c.name, canonicalCheckSql(c.predicateSql)))
      .filterNot(planned)
    if (fresh.nonEmpty) throw new IllegalStateException(
      s"write conflict on $tableName: CHECK constraint(s) " +
        s"${fresh.map(_._1).mkString(", ")} were added after this " +
        "write was planned — its rows were never validated against " +
        "them; re-run the statement so the analyzer injects the new " +
        "check(s)")
    true
  }
  /** The constraint identities a write is planned under — captured at
    * builder/operation construction, compared by every rebase. */
  private def plannedCheckSet: Set[(String, String)] = synchronized(
    checks.map(c => (c.name, canonicalCheckSql(c.predicateSql))).toSet)

  /** Loud-conflict guard for row-level rebases: a concurrent
    * EQUALITY-DELETE epoch (streaming upsert) that arrived after this
    * operation's snapshot logically deletes rows in files below its
    * sequence — but this operation re-inserts rows derived from that
    * snapshot under FRESH file numbers above it, so the winner's
    * deletes can never apply to them and the upserted key would end up
    * with two live rows. The maintenance paths already
    * refuse this ([[commitRewrite]]'s eqs check); this is the same
    * admission rule for UPDATE/MERGE/DELETE commits. */
  private def admitsEqEpochs(eqs0: Vector[GraftEqDelete]): Boolean = {
    val fresh = eqs.filterNot(eqs0.contains)
    if (fresh.nonEmpty) throw new IllegalStateException(
      s"write conflict on $tableName: ${fresh.length} concurrent " +
        "equality-delete epoch(s) arrived after this operation's " +
        "snapshot — their logical deletes cannot apply to this " +
        "statement's rewritten rows (fresh file numbers exceed the " +
        "delete sequence); retry the statement against the current state")
    true
  }

  /** THE adoption: turn each task temp (a record whose `path` is the
    * temp and whose `id` is empty) into a claimed, durable file — claim
    * the next file number through the commit arbiter (O_EXCL on POSIX,
    * conditional PUT on object stores — GraftCommitArbiter), fill the
    * claim from the temp, and for data files journal the manifest. The
    * one place a file record gets its `id` and final `path`.
    * `kind` says what the temps become (see [[GraftLakeTable.Mint]]).
    * Temps mint ONE at a time, once each: a claim lost to another
    * writer leaves the temp in place, refreshes from the log and
    * re-claims the next free number; only a successful fill consumes a
    * temp. `admit`, the admission of the commit the files are minted
    * for, runs before the first claim and again after every refresh,
    * so a commit the refreshed state refuses throws before it adopts
    * another temp. On a final failure the temps not yet adopted are
    * unlinked (files this call already minted stay — unreferenced
    * claimed objects, remove_orphan_files' concern); a commit refused
    * after its mint unlinks them itself (see [[commit]]). */
  private def mint(temps: Vector[GraftLakeFile],
      kind: GraftLakeTable.Mint,
      admit: => Boolean = true): Vector[GraftLakeFile] = {
    var admittedAt = -1L
    temps.indices.toVector.map { i =>
      val m = temps(i)
      retryCas(cleanup = GraftLakeFileWriter.unlink(temps.drop(i))) {
        if (admittedAt != rebases) {
          admit
          admittedAt = rebases
        }
        // the concurrent-ALTER guard: a write pinned its field ids when
        // it was built; rewrites keep their source generation's layout
        if (kind.current && m.cols != colIds)
          throw new IllegalStateException(s"write to $tableName carries " +
            s"field ids ${m.cols.mkString(",")} but the table now has " +
            s"${colIds.mkString(",")}: a concurrent ALTER TABLE landed " +
            "mid-statement — retry against the current schema")
        fileSeq += 1
        val name = s"${kind.prefix}$fileSeq.parquet"
        val target = new java.io.File(lakeDir, name)
        // the claim is the real CAS: ATOMIC_MOVE on Linux is a bare
        // rename(2) that silently REPLACES an existing target, so the
        // fill replaces only a claim verified still ours
        val arbiter = GraftCommitArbiter.active
        val token = try arbiter.claim(target)
          catch {
            case e: GraftClaimConflict =>
              throw new IllegalStateException(
                s"write conflict on $tableName: $name was already " +
                  "written by another writer — this writer's snapshot is " +
                  "stale; reopen the table and retry the statement", e)
          }
        try arbiter.fill(target, token, new java.io.File(m.path))
        catch {
          case e: GraftClaimConflict =>
            throw new IllegalStateException(
              s"write conflict on $tableName: the claim of $name was " +
                "reclaimed as stale by another writer — reopen the table " +
                "and retry the statement", e)
          case e: Throwable =>
            arbiter.release(target, token)
            throw e
        }
        val gf = m.copy(id = s"$tableName#${kind.prefix}$fileSeq",
          path = target.getAbsolutePath)
        if (kind.manifest) log.writeFileManifest(gf)
        gf
      }
    }
  }

  /** The (schema, field ids, exists-defaults) a RETAINED version was
    * committed under — what a pinned read resolves through. */
  private[sources] def schemaInfoAt(
      v: Int): (StructType, Vector[Int], Map[Int, Any]) = synchronized {
    require(v >= baseVersion && v - baseVersion < commitSchemas.length,
      s"version $v out of range [$baseVersion, ${currentVersion}] " +
        s"for $tableName" +
        (if (baseVersion > 0) " (older versions were expired)" else ""))
    commitSchemas(v - baseVersion)
  }
  private[sources] def idToNameAt(v: Int): Map[Int, String] = {
    val (sch, ids, _) = schemaInfoAt(v)
    ids.zip(sch.fieldNames).map { case (id, n) => id -> n }.toMap
  }

  /** Latest committed version (0 = the empty table at creation). */
  private[graft] def currentVersion: Int =
    synchronized(baseVersion + history.length - 1)
  /** (version, snapshot, dataChange, commitMillis) for every RETAINED
    * commit — the `.history` metadata table's input. */
  private[sources] def retainedHistory
      : Vector[(Int, GraftLakeSnapshot, Boolean, Long)] = synchronized(
    history.zipWithIndex.map { case ((s, dc), i) =>
      (baseVersion + i, s, dc, commitTimes(i)) })

  /** Largest retained version committed at or before `tsMillis` — the
    * TIMESTAMP AS OF resolution (Delta's contract on both edges: latest
    * commit not after the asked time; BEFORE the earliest retained
    * commit and AFTER the latest commit both fail loudly — a silently
    * satisfied future timestamp is usually a typo'd year reading
    * present-day data). */
  private[sources] def versionAsOfTime(tsMillis: Long): Int =
    synchronized {
      require(tsMillis <= commitTimes.last,
        s"timestamp $tsMillis is after $tableName's latest commit " +
          s"(${commitTimes.last}) — query the table directly for the " +
          "current state")
      val at = commitTimes.lastIndexWhere(_ <= tsMillis)
      require(at >= 0, s"no retained commit of $tableName at or before " +
        s"timestamp $tsMillis (earliest is ${commitTimes.head})")
      baseVersion + at
    }
  /** Oldest RETAINED version — the change-feed / time-travel floor. */
  private[graft] def earliestVersion: Int = synchronized(baseVersion)
  private[sources] def snapshotAt(v: Int): GraftLakeSnapshot =
    synchronized {
      require(v >= baseVersion && v - baseVersion < history.length,
        s"version $v out of range " +
          s"[$baseVersion, ${currentVersion}] for $tableName" +
          (if (baseVersion > 0) " (older versions were expired)" else ""))
      history(v - baseVersion)._1
    }
  private[sources] def historySlice(
      from: Int, to: Int): Vector[(GraftLakeSnapshot, Boolean)] =
    synchronized {
      require(from >= baseVersion && to - baseVersion < history.length
          && from <= to,
        s"change range [$from, $to] out of bounds " +
          s"[$baseVersion, ${currentVersion}] for $tableName" +
          (if (baseVersion > 0) " (older versions were expired)" else ""))
      history.slice(from - baseVersion, to - baseVersion + 1)
    }

  // ---- maintenance (the CALL <catalog>.system.* procedures) ---------------

  /** Restore the table to the state it had at `v`, as a NEW data-change
    * commit (history keeps the undone versions — the change feed shows
    * the reverse churn, and a second rollback can undo the undo). */
  private[sources] def rollbackTo(v: Int): Unit = synchronized {
    val snap = snapshotAt(v)
    val v0 = currentVersion
    commit(admitsAt(v0, s"rollback to version $v"), dataChange = true) {
      files = snap.files
      dvs = snap.dvs
      eqs = snap.eqs
    }
  }

  /** Drop history so only the last `keepLast` versions stay readable.
    * Bounds the history's memory (snapshots share file objects, but an
    * unbounded commit log is still a leak at streaming commit rates) —
    * exactly Iceberg's expire_snapshots contract: time travel and change
    * feeds below the floor fail loudly afterwards. Returns the floor.
    *
    * RETENTION HAZARD: an in-flight ROW-LEVEL OPERATION
    * pins its snapshot at creation, so its files are excluded from the
    * vacuum below even when every retained version has dropped them. A
    * plain in-flight READ of an expired version has no such pin (DSv2
    * offers no reader-release hook) — exactly Iceberg's documented
    * expire_snapshots hazard, where a too-aggressive retention can fail
    * a concurrent time-travel query mid-scan; size keep_last to cover
    * the longest-running reader. */
  /** Expire every version committed strictly BEFORE `tsMillis`, always
    * keeping at least the latest commit — Iceberg's
    * `expire_snapshots(older_than => ts)`. Returns the new floor. */
  private[sources] def expireBefore(tsMillis: Long): Int = synchronized {
    val firstKept = commitTimes.indexWhere(_ >= tsMillis)
    val keepLast =
      if (firstKept < 0) 1 else history.length - firstKept
    expireVersions(math.max(1, keepLast))
  }

  private[sources] def expireVersions(keepLast: Int): Int = synchronized {
    require(keepLast >= 1, s"keep_last must be >= 1, got $keepLast")
    // REFS PIN RETENTION: a tagged version stays readable through its
    // ref, and an unpublished branch reads (and fast-forwards) on top of
    // its fork-base snapshot — so the floor clamps to the oldest
    // ref-referenced version (history is contiguous, so everything after
    // it is retained too). Iceberg's "snapshots referenced by refs are
    // not expired". Drop the ref to let the floor advance.
    val refKeep = (tagRefs.values ++ branchRefs.values.map(_.base))
      .minOption.map(v => history.length - (v - baseVersion)).getOrElse(1)
    val drop = math.max(0, history.length - math.max(keepLast, refKeep))
    history = history.drop(drop)
    commitTimes = commitTimes.drop(drop)
    commitSchemas = commitSchemas.drop(drop)
    baseVersion += drop
    // VACUUM — a data file referenced ONLY by expired versions (e.g.
    // the pre-compaction original) is dead storage; delete everything no
    // retained snapshot still lists (the current state is the last
    // retained snapshot, so live files are always kept). The
    // reference-counted orphan rule is the whole safety story of
    // expire_snapshots: a file shared with a retained version survives —
    // and so does a file pinned by an active row-level operation.
    val live = liveDataPaths()
    val tmpCutoff =
      System.currentTimeMillis() - GraftLakeTable.PinStaleMillis
    Option(lakeDir.listFiles()).getOrElse(Array.empty)
      .filter(_.isFile) // never the _graft_log dir
      .filterNot(f => live.contains(f.getAbsolutePath))
      // in-flight task-written temp files belong to a CONCURRENT
      // write that hasn't committed yet — only reap abandoned ones
      .filterNot(f => f.getName.startsWith("tmp_") &&
        f.lastModified() >= tmpCutoff)
      // a YOUNG zero-byte f<N>.parquet is a concurrent writer's
      // data-file CLAIM mid-commit — vacuuming it would let a third
      // writer re-claim the number and be clobbered by the first
      // writer's fill; stale ones are abandoned and reaped
      .filterNot(f => f.length() == 0L &&
        !GraftLakeLog.staleClaim(f))
      .foreach(_.delete())
    // durable log follows the vacuum: expired manifest lists go, and
    // a vacuumed data file's manifest goes with it. Streaming-epoch
    // stamps riding the dropped commits are consolidated FIRST so a
    // long-stopped query can't replay its last epoch after an expire.
    if (streamEpochs.nonEmpty) log.writeTxns(streamEpochs)
    log.dropCommitsBelow(baseVersion)
    log.dropManifestsExcept(live.map(p => new java.io.File(p).getName))
    baseVersion
  }

  /** `CALL system.remove_orphan_files` — the expire_snapshots COMPANION:
    * reclaim storage NO retained version references and
    * no expire will ever touch, WITHOUT moving the history floor. The
    * targets are exactly the debris optimistic concurrency mints:
    *  - a crashed/aborted writer's FILLED-but-never-committed
    *    `f<N>.parquet` / `e<N>.parquet` (the mint adopted it, the
    *    commit died; fileSeq only moves forward so it is skipped
    *    forever but never deleted — an unbounded leak on a hot table
    *    with retries);
    *  - abandoned task temps (`tmp_*`) and STALE zero-byte claims;
    *  - a crashed CTAS/RTAS writer's staged `.graft_staged_<name>_*`
    *    sibling directory.
    * Safety mirrors the vacuum inside [[expireVersions]]: everything
    * any retained snapshot, ref, staged branch, pinned operation or
    * retained equality-delete epoch references is untouchable, and a
    * GRACE WINDOW (`olderThanMillis` cutoff on mtime) shields a LIVE
    * concurrent writer's artifacts mid-commit — a young unreferenced
    * file is presumed in-flight, exactly Iceberg's `older_than`
    * contract. Young zero-byte claims additionally keep their
    * stale-claim protocol guard regardless of the cutoff. A reclaimed
    * orphan's manifest dies with it (manifests of KEPT young orphans
    * survive — the keep-set is live ∪ whatever remains on disk). */
  /** THE definition of "reachable storage" both vacuums share — every
    * data/keys object any retained snapshot, active row-level pin, or
    * staged branch commit references. A single formula: a reference
    * class added for one reclaim path can never be forgotten by the
    * other (the two copies had already begun to drift in
    * comment text).
    *  - retained snapshots' data files (history is the retained
    *    window; the current state is its last entry) plus the
    *    in-flight `files` vector;
    *  - files pinned by active row-level operations (their scans
    *    still read them past a concurrent expire);
    *  - branch-staged commits (invisible to main history but
    *    published later);
    *  - equality-delete keys files of any retained snapshot (scan
    *    tasks still probe them). */
  private def liveDataPaths(): Set[String] =
    (history.flatMap(_._1.files) ++ files)
      .map(_.path).toSet ++ livePinnedPaths() ++ branchStagedPaths ++
      (history.flatMap(_._1.eqs) ++ eqs).map(_.path).toSet

  private[sources] def removeOrphanFiles(
      olderThanMillis: Long): (Int, Int) = synchronized {
    var orphans = 0
    var stagedDirs = 0
    val dir = lakeDir
    val live = liveDataPaths()
    Option(dir.listFiles()).getOrElse(Array.empty)
      .filter(_.isFile) // never the _graft_log dir
      .filterNot(f => live.contains(f.getAbsolutePath))
      .filter(_.lastModified() < olderThanMillis)
      .filterNot(f => f.length() == 0L && !GraftLakeLog.staleClaim(f))
      .foreach(f => if (f.delete()) orphans += 1)
    // a crashed CTAS/RTAS writer's fully-staged sibling directory:
    // invisible to every read path (listTables skips the prefix) but
    // holds a complete copy of the table's data
    Option(dir.getParentFile.listFiles()).getOrElse(Array.empty)
      .filter(d => d.isDirectory &&
        d.getName.startsWith(s".graft_staged_${dir.getName}_") &&
        d.lastModified() < olderThanMillis)
      .foreach { d => GraftParquetIO.deleteRecursively(d)
        stagedDirs += 1 }
    val kept = live.map(p => new java.io.File(p).getName) ++
      Option(dir.listFiles()).getOrElse(Array.empty)
        .filter(_.isFile).map(_.getName)
    log.dropManifestsExcept(kept)
    (orphans, stagedDirs)
  }

  // data-file paths pinned by in-flight row-level operations: registered
  // when the operation's write is built, released at commit/abort — the
  // vacuum above must not unlink a file the operation's scan still reads.
  // Each pin carries its REGISTRATION TIME: a query that dies after
  // planning without ever reaching commit/abort would otherwise leak its
  // pin for the table's lifetime, permanently shielding dead files from
  // vacuum — pins older than [[GraftLakeTable.PinStaleMillis]]
  // are treated as abandoned and dropped at the next vacuum.
  private val pinnedPaths =
    new ConcurrentHashMap[AnyRef, (Long, Set[String])]()
  private def livePinnedPaths(): Set[String] = {
    val cutoff = System.currentTimeMillis() - GraftLakeTable.PinStaleMillis
    val it = pinnedPaths.entrySet().iterator()
    val live = Set.newBuilder[String]
    while (it.hasNext) {
      val e = it.next()
      if (e.getValue._1 < cutoff) it.remove() // abandoned: reap the pin
      else live ++= e.getValue._2
    }
    live.result()
  }
  private[graft] def pinPaths(s: GraftLakeSnapshot): () => Unit = {
    val ps = s.files.map(_.path).toSet
    if (ps.isEmpty) () => ()
    else {
      val token = new AnyRef
      pinnedPaths.put(token, (System.currentTimeMillis(), ps))
      () => { pinnedPaths.remove(token); () }
    }
  }
  /** Test hook: how many operations currently pin paths. */
  private[graft] def pinnedOpCount: Int = pinnedPaths.size()
  /** Test hook: age a pin artificially so the staleness reaper is
    * testable without a wall-clock wait. */
  private[graft] def agePins(byMillis: Long): Unit =
    pinnedPaths.replaceAll((_, v) => (v._1 - byMillis, v._2))

  // ---- snapshot refs: tags & branches (write-audit-publish) ----------------
  // Iceberg's ref surface, minimally expressed over
  // the linear commit history:
  //  - a TAG is an immutable named pointer to a RETAINED version.
  //    `VERSION AS OF 'name'` reads it; retention KEEPS tagged versions
  //    (the expire floor clamps to the oldest tag — history is a
  //    contiguous log, so pinning a version retains everything after it,
  //    the conservative reading of Iceberg's "referenced snapshots are
  //    never expired").
  //  - a BRANCH stages commits OUTSIDE the main history: appends routed
  //    via the `graft.branch` write option base on the branch head and
  //    are INVISIBLE to main reads, time travel, `.history` and the
  //    change feed — no main version number even exists for them — until
  //    `CALL system.fast_forward` publishes the staged commits onto main
  //    in order (versions assigned at publish; the change feed then
  //    emits them exactly once). This is the write-audit-publish flow:
  //    write to the branch, audit it by name, publish with one call.
  //    Publish REQUIRES main not to have advanced past the branch base
  //    (the only fast-forwardable shape in a linear history — a diverged
  //    branch fails loudly and can only be dropped).
  private final case class StagedBranch(base: Int,
      staged: Vector[(GraftLakeSnapshot, Boolean)])
  private var branchRefs: Map[String, StagedBranch] = Map.empty
  private var tagRefs: Map[String, Int] = Map.empty
  // durable refs: small, rewritten whole on every ref change
  private def persistRefs(): Unit =
    log.writeRefs(tagRefs,
      branchRefs.map { case (n, b) => n -> ((b.base, b.staged)) })

  private def checkRefName(name: String): Unit = {
    require(name.nonEmpty && !name.matches("\\d+"),
      s"ref name '$name' is invalid: a purely numeric name would be " +
        "ambiguous with VERSION AS OF <version>")
    require(!branchRefs.contains(name) && !tagRefs.contains(name),
      s"ref '$name' already exists on $tableName")
    require(name != "main", "'main' names the table itself")
  }

  /** Create a branch forked at the CURRENT main head. */
  private[sources] def createBranch(name: String): Int = synchronized {
    checkRefName(name)
    branchRefs += name -> StagedBranch(currentVersion, Vector.empty)
    persistRefs()
    currentVersion
  }

  /** Tag a retained version. Tags pin retention: expire keeps the
    * oldest tagged version (and, contiguously, everything after it). */
  private[sources] def createTag(name: String, v: Int): Unit =
    synchronized {
      checkRefName(name)
      require(v >= baseVersion && v <= currentVersion,
        s"cannot tag version $v of $tableName: retained range is " +
          s"[$baseVersion, ${currentVersion}]")
      tagRefs += name -> v
      persistRefs()
    }

  /** Drop a tag or branch (staged-but-unpublished commits are lost —
    * the whole point of an audit gate that can say no). */
  private[sources] def dropRef(name: String): Unit = synchronized {
    require(branchRefs.contains(name) || tagRefs.contains(name),
      s"no ref '$name' on $tableName")
    branchRefs -= name
    tagRefs -= name
    persistRefs()
  }

  private[sources] def resolveTag(name: String): Option[Int] =
    synchronized(tagRefs.get(name))
  private[sources] def hasBranch(name: String): Boolean =
    synchronized(branchRefs.contains(name))
  /** (name, type, version, staged) per ref — version is the tagged
    * version for tags and the fork base for branches; staged counts a
    * branch's unpublished commits. The `.refs` metadata table's input. */
  private[sources] def refEntries: Vector[(String, String, Int, Int)] =
    synchronized(
      (tagRefs.toVector.map { case (n, v) => (n, "tag", v, 0) } ++
        branchRefs.toVector.map { case (n, b) =>
          (n, "branch", b.base, b.staged.length) }).sortBy(_._1))

  /** The branch's head snapshot: its last staged commit, or its fork
    * base when nothing is staged yet. */
  private[sources] def branchSnapshot(name: String): GraftLakeSnapshot =
    synchronized {
      val b = branchRefs.getOrElse(name, throw new IllegalArgumentException(
        s"no branch '$name' on $tableName"))
      b.staged.lastOption.map(_._1).getOrElse(snapshotAt(b.base))
    }

  /** Stage an append on the branch: based on the branch HEAD, invisible
    * to main until fast_forward. Files are minted eagerly but
    * referenced only by the branch. */
  private def appendToBranch(
      name: String, pendings: Vector[GraftLakeFile]): Unit =
    synchronized {
      def branch = branchRefs.getOrElse(name, throw new
        IllegalArgumentException(s"no branch '$name' on $tableName — " +
          "CALL system.create_branch first"))
      branch // refuse before minting
      val minted = mint(pendings, GraftLakeTable.DataFiles)
      // read the ref AFTER minting: a lost claim refreshes the refs
      val b = branch
      val head = b.staged.lastOption.map(_._1).getOrElse(snapshotAt(b.base))
      val snap = GraftLakeSnapshot(head.files ++ minted, head.dvs, head.eqs)
      branchRefs += name -> b.copy(staged = b.staged :+ (snap, true))
      persistRefs()
    }

  /** Publish: replay the branch's staged commits onto main, in order,
    * preserving each commit's dataChange flag — the change feed emits
    * the staged churn exactly once, at publish. Returns
    * (main version before, main version after). The branch survives,
    * re-based at the new head with nothing staged (Iceberg keeps the
    * ref after a fast-forward too). */
  private[sources] def fastForward(name: String): (Int, Int) =
    synchronized {
      val b = branchRefs.getOrElse(name, throw new IllegalArgumentException(
        s"no branch '$name' on $tableName"))
      val from = currentVersion
      require(b.base == from,
        s"cannot fast-forward $tableName to branch '$name': main advanced " +
          s"from the branch's fork base ${b.base} to $from — the branch " +
          "has diverged; drop it and re-stage against the current state")
      b.staged.zipWithIndex.foreach { case ((snap, dataChange), i) =>
        commit(admitsAt(from + i, s"publish of branch '$name'"),
            dataChange) {
          files = snap.files
          dvs = snap.dvs
        }
      }
      branchRefs += name -> StagedBranch(currentVersion, Vector.empty)
      persistRefs()
      (from, currentVersion)
    }

  /** Squash-publish: the branch's staged commits land on main as ONE
    * data-change commit (the change feed shows one version for the
    * whole audited batch — the atomic-visibility variant of
    * [[fastForward]]; same divergence contract). Returns
    * (version before, version after). */
  private[sources] def fastForwardSquashed(name: String): (Int, Int) =
    synchronized {
      val b = branchRefs.getOrElse(name, throw new IllegalArgumentException(
        s"no branch '$name' on $tableName"))
      val from = currentVersion
      require(b.base == from,
        s"cannot publish $tableName from branch '$name': main advanced " +
          s"from the branch's fork base ${b.base} to $from — the branch " +
          "has diverged; drop it and re-stage against the current state")
      b.staged.lastOption.foreach { case (head, _) =>
        commit(admitsAt(from, s"publish of branch '$name'"),
            dataChange = true) {
          files = head.files
          dvs = head.dvs
        }
      }
      branchRefs += name -> StagedBranch(currentVersion, Vector.empty)
      persistRefs()
      (from, currentVersion)
    }

  /** Data-file paths referenced only by unpublished branch commits —
    * the expire vacuum must not unlink what a staged branch still
    * reads. */
  private def branchStagedPaths: Set[String] =
    branchRefs.values.flatMap(_.staged.flatMap(_._1.files))
      .map(_.path).toSet

  private def pinRewrite(): GraftLakeTable.RewritePin =
    GraftLakeTable.RewritePin(currentVersion, dvs, eqs, colIds, specIdNow)

  /** THE maintenance commit the three rewrites (cluster, compact,
    * compact_files) share: mint `temps` and `swap` them in for
    * `sources`, whose deletion vectors go with them, as one
    * dataChange = false commit — the relation is unchanged, the change
    * feed stays silent. Admission is Iceberg's RewriteDataFiles rule: a
    * rewrite derived from the pinned state still lands iff every commit
    * since was COMPATIBLE with it — each source file is still live with
    * the exact DV the rewrite dropped, no NEW equality-delete epoch
    * arrived (its logical deletes would not reach the rewrite's fresh
    * file numbers — landing would resurrect rows), and the field-id and
    * partition-spec identity is unchanged (renames and widening are
    * id-stable). Concurrent pure appends pass: `swap` carries the files
    * it does not replace. A refused rewrite is loud and unlinks its
    * temps; `what` names the touched target in the message. */
  private def commitRewrite(pin: GraftLakeTable.RewritePin,
      sources: Seq[GraftLakeFile], temps: Vector[GraftLakeFile],
      what: String)(
      swap: Vector[GraftLakeFile] => Vector[GraftLakeFile]): Unit = {
    val gone = sources.map(_.id).toSet
    def admits: Boolean = {
      val live = files.iterator.map(_.id).toSet
      val compatible = currentVersion == pin.version ||
        sources.forall(f => live.contains(f.id) &&
          dvs.getOrElse(f.id, Set.empty) ==
            pin.dvs.getOrElse(f.id, Set.empty)) &&
        eqs.forall(pin.eqs.contains) &&
        colIds == pin.ids && specIdNow == pin.spec
      if (!compatible) throw new IllegalStateException(
        s"write conflict on $tableName: a concurrent commit touched " +
          s"$what — retry against the current state")
      true
    }
    val minted = mint(temps, GraftLakeTable.Rewrites, admits)
    commit(admits, dataChange = false, minted = minted) {
      files = swap(minted)
      dvs = dvs.filterNot { case (id, _) => gone.contains(id) }
    }
  }

  /** Rewrite the whole table RANGE-CLUSTERED by `colNames`: all live
    * rows, normalized to the current schema, sorted by the cluster key
    * and re-split into `targetFiles` files whose min/max ranges are
    * tight and near-disjoint — the maintenance that makes stats
    * skipping EFFECTIVE (interleaved writes give every file the full
    * value range, so min/max pruning keeps everything; Iceberg ships
    * this as rewrite_data_files with a sort strategy). `zorder` sorts by
    * a Morton key instead: per-column 16-bit RANK codes interleaved bit
    * by bit, so box predicates on ANY of 2-4 columns prune (OPTIMIZE
    * ZORDER BY). One maintenance commit: the relation is unchanged, the
    * change feed stays silent. Returns (files before, files after).
    *
    * The rewrite is DISTRIBUTED: the table (`qual`, its catalog-
    * qualified name) is re-read through its own DSv2 scan
    * (executor-side columnar decode; current-schema normalization and
    * DV filtering come with the scan), range-sorted by the cluster key
    * and cut into ceil(live/target)-row files by [[graft.GlobalOrder]]:
    * one count job over the sorted partitions, then each write task
    * reads the slices of the sorted partitions its chunk spans (ties on
    * the key are broken by every written column, so each re-read of a
    * partition yields the same rows). Each row is shuffled once by the
    * sort, and not at all when the scan's reported order elides it
    * (re-clustering a clustered table); the driver never holds a row. This is Iceberg's rewrite_data_files
    * shape: an optimistic Spark action whose commit re-validates the
    * pinned version; a concurrent commit aborts it loudly and the temps
    * are unlinked. A z-order rank code is a column value's global index
    * among the column's sorted DISTINCT values (its dense rank, from the
    * same primitive), joined back on the value. */
  private[sources] def clusterBy(colNames: Seq[String], targetFiles: Int,
      strategy: String, qual: String): (Int, Int) = {
    require(targetFiles >= 1, s"target_files must be >= 1, got $targetFiles")
    require(strategy == "sort" || strategy == "zorder",
      s"unknown cluster strategy '$strategy' (sort, zorder)")
    import org.apache.spark.sql.{functions => F}
    val spark = org.apache.spark.sql.SparkSession.active
    val (v0, before, fw, sortIds, baseFiles, pin) =
      synchronized {
        val names = schemaNow.fieldNames.toSeq
        colNames.foreach(n => require(names.contains(n),
          s"unknown cluster column $n; table has ${names.mkString(", ")}"))
        (currentVersion, files.length, fileWriteInfo,
          if (strategy == "sort")
            colNames.map(c => colIds(names.indexOf(c)))
          else Nil,
          files, pinRewrite())
      }
    // PIN the rewrite's read to the captured version: spark.table would
    // plan its scan lazily at action time against the then-current
    // snapshot, so a commit landing between the pin and the action
    // would smuggle its rows INTO the stripes while the rebase
    // admission also carries its file — double-counted rows. The
    // read-option pin serves the CURRENT schema over the old snapshot,
    // which is exactly the normalization the rewrite wants.
    val df0 = spark.read.option("graft.snapshot-version", v0.toString)
      .table(qual)
    val sorted = strategy match {
      case "sort" => graft.GlobalOrder.forChunks(df0,
        colNames.map(F.col), fw.names, targetFiles)
      case "zorder" =>
        require(colNames.length >= 2 && colNames.length <= 4,
          s"zorder interleaves 2-4 columns, got ${colNames.length}")
        val k = colNames.length
        val g = colNames.zipWithIndex.foldLeft(df0) { case (g, (c, ci)) =>
          // NULL is a rankable distinct value (first, as in the sort)
          val ranks = graft.GlobalOrder(
            df0.select(F.col(c).as(s"_zv$ci")).distinct(),
            Seq(F.col(s"_zv$ci")))
          val nd = ranks.total
          // 16-bit RANK code: r * 65535 / (n-1), integer division
          // (floor of positives)
          val coded = ranks.indexed("_zr").withColumn(s"_zc$ci",
            if (nd <= 1L) F.lit(0L)
            else F.floor(F.col("_zr") * F.lit(65535L) /
              F.lit(nd - 1L)).cast("long"))
            .drop("_zr")
          g.join(coded, g(c) <=> coded(s"_zv$ci"), "inner")
            .drop(s"_zv$ci")
        }
        val zkey = (0 until k).flatMap { c =>
          (0 until 16).map { b =>
            F.shiftleft(
              F.shiftright(F.col(s"_zc$c"), b).bitwiseAND(F.lit(1L)),
              b * k + c)
          }
        }.reduce(_.bitwiseOR(_))
        graft.GlobalOrder.forChunks(g.withColumn("_zkey", zkey),
          Seq(F.col("_zkey")), fw.names, targetFiles)
    }
    val nChunks =
      math.min(targetFiles.toLong, math.max(1L, sorted.total)).toInt
    val temps = sorted.chunks(nChunks)
      .mapPartitionsWithIndex { (pid, it) =>
        val w = new GraftLakeFileWriter(fw)
        try {
          it.foreach(w.write)
          Iterator((pid, w.finish()))
        } catch { case e: Throwable => w.abort(); throw e }
      }
      .collect().sortBy(_._1).toVector
      .flatMap(_._2).map(_.copy(sortedBy = sortIds))
    commitHook()
    synchronized {
      // the rewrite read EVERY base file's live rows, so all of them
      // must be untouched since the pin; concurrent pure appends ride
      // through unclustered, after the clustered files
      val baseIds = baseFiles.map(_.id).toSet
      commitRewrite(pin, baseFiles, temps,
          "the rewritten files while the cluster rewrite was running") {
        minted => minted ++ files.filterNot(f => baseIds.contains(f.id))
      }
      (before, files.length)
    }
  }

  /** Compact every file that carries a deletion vector — or is subject
    * to an unresolved EQUALITY DELETE (the streaming-upsert read debt;
    * resolving it here is what restores columnar scans and the change
    * feed). Returns how many files were rewritten (each as its own
    * maintenance commit). The rewrite is DISTRIBUTED — one task per
    * affected file decodes its live rows (DV positions dropped,
    * equality-delete keys probed task-side) and writes the replacement;
    * the driver only adopts metadata (per-file commits). Each
    * replacement keeps its source file's OWN manifest (cols/types): the
    * live rows are still in that write-time layout, and stamping them
    * with the CURRENT schema's ids would break after any ALTER. */
  private[sources] def compactAll(): Int = compactWhere(_ => true)

  /** Test hook: [[compactAll]] restricted to one file. */
  private[graft] def compactFile(fileId: String): Unit =
    compactWhere(_.id == fileId)

  private def compactWhere(pick: GraftLakeFile => Boolean): Int = {
    val (pin, targets, dir, i2n) = synchronized {
      val ts = files
        .filter(f => pick(f) && (dvs.contains(f.id) ||
          eqs.exists(_.probeFor(f).isDefined)))
        .sortBy(_.id)
        .map(f => (f, dvs.getOrElse(f.id, Set.empty[Long]),
          // equality probes this file is subject to, resolved to the
          // file's own column POSITION (tasks read the keys parquet
          // themselves — the driver ships only paths)
          eqs.flatMap(_.probeFor(f))))
      (pinRewrite(), ts, lakeDir.getAbsolutePath, idToName)
    }
    if (targets.isEmpty) return 0
    val specs = targets.zipWithIndex.map { case ((f, dv, eqProbes), i) =>
      rewriteSpecOf(i, f, dv, eqProbes, i2n) }
    val tempByIdx = org.apache.spark.sql.SparkSession.active.sparkContext
      .parallelize(specs, specs.length)
      .flatMap(GraftLakeFileWriter.rewriteTask(dir))
      .collect().toMap
    commitHook()
    synchronized {
      // one commit per file, each admitted on ITS source file alone: a
      // concurrent append (the normal streaming-ingest race) rides
      // through; a concurrent touch of a target aborts the remaining
      // rewrites loudly with their temps unlinked
      targets.indices.foreach { i =>
        val f = targets(i)._1
        try commitRewrite(pin, Seq(f), tempByIdx.get(i).toVector,
            s"${f.id} while CALL system.compact was rewriting") {
          minted => files.filterNot(_.id == f.id) ++ minted
        }
        catch {
          case e: Throwable =>
            GraftLakeFileWriter.unlink(
              (i + 1 until targets.length).flatMap(tempByIdx.get))
            throw e
        }
      }
      targets.size
    }
  }

  /** One file's whole-file rewrite: its live rows (DV positions and
    * `eqProbes` matches dropped) under its OWN write-time manifest — the
    * rows keep the file's generation layout, so the replacement carries
    * the same field ids and physical types. */
  private def rewriteSpecOf(idx: Int, f: GraftLakeFile, dv: Set[Long],
      eqProbes: Seq[(Int, GraftEqDelete)], i2n: Map[Int, String])
      : GraftLakeFileWriter.RewriteSpec = {
    val names = f.cols.map(cid => i2n.getOrElse(cid, s"_dropped_$cid"))
    GraftLakeFileWriter.RewriteSpec(idx, f.cols, f.types, names, f.pkey,
      Vector(GraftLakeFileWriter.RewriteSlice(
        GraftLakeFilePartition.of(f, dv, names, eqProbes),
        0, (f.numRows - dv.size).toInt)),
      pspecId = f.pspecId)
  }

  /** BIN-PACKING small-file compaction (Iceberg `rewrite_data_files`
    * binpack strategy): coalesce fragmented files toward `targetRows`
    * rows per output file in ONE maintenance commit (`dataChange =
    * false` — the relation is unchanged, the change feed stays silent,
    * `.files` shows the shrunken inventory, stats/nulls/sums are freshly
    * collected per output file). Candidates are files below the target
    * or carrying a deletion vector (packing clears the DV — the same
    * read-debt amortization [[compactAll]] does, but batched). Files are
    * packed ONLY within their schema GENERATION and PARTITION key
    * (identical cols+types+pkey manifests: rows keep their write-time
    * layout, and stamping them under another generation's manifest
    * would serve values under wrong field ids; mixing partition keys
    * would break partition-pure files for keyed scans). Returns (files
    * before, files after); a no-op packs nothing and commits nothing
    * (idempotent). The rewrite is DISTRIBUTED: the driver derives each
    * bin's exact (file, live-row range) slices from manifest math alone
    * (prefix sums of live counts — a bin boundary can land mid-file),
    * one task per bin decodes and writes its output file, and the
    * commit adopts metadata after re-validating the pinned version — no
    * global sort, no shuffle, cost ∝ bytes in undersized files. */
  private[sources] def compactFiles(targetRows: Long): (Int, Int) = {
    require(targetRows >= 1, s"target_rows must be >= 1, got $targetRows")
    val spark = org.apache.spark.sql.SparkSession.active
    val (pin, before, snapFiles, dir, i2n) = synchronized {
      (pinRewrite(), files.length, files, lakeDir.getAbsolutePath, idToName)
    }
    val snapDvs = pin.dvs
    val snapEqs = pin.eqs
    def dvOf(f: GraftLakeFile): Set[Long] =
      snapDvs.getOrElse(f.id, Set.empty)
    def probesOf(f: GraftLakeFile): Seq[(Int, GraftEqDelete)] =
      snapEqs.flatMap(_.probeFor(f))
    // bin offsets must index the FULLY-live order (rows − DV − probe
    // matches): files under unresolved equality deletes price their
    // bins from the memoized probe counts — the same one-time key-pass
    // the scan-less COUNT pays; packing them
    // also RESOLVES their read debt, like DVs, so they qualify as
    // candidates even at target size
    val affected = snapFiles.filter(f => probesOf(f).nonEmpty)
    val eqLiveMap: Map[String, Long] =
      if (affected.isEmpty) Map.empty
      else eqLiveCounts(GraftLakeSnapshot(snapFiles, snapDvs, snapEqs),
        affected).getOrElse(throw new IllegalStateException(
          // fail LOUDLY: a silent DV-only fallback would skew bin
          // offsets against the task-side post-probe slicing and
          // lose/duplicate rows in the rewrite
          "cannot price eq-aware compaction bins without an active " +
            "SparkSession to run the live-count probe"))
    def liveCount(f: GraftLakeFile): Long =
      eqLiveMap.getOrElse(f.id, f.numRows - dvOf(f).size)
    val packedIds = Set.newBuilder[String]
    val specsB = Vector.newBuilder[GraftLakeFileWriter.RewriteSpec]
    var idx = 0
    snapFiles.groupBy(f =>
      (f.cols, f.types, f.pkey, f.pspecId)).foreach {
      case ((cols, types, pkey, psid), gen) =>
        val candidates = gen.filter(f =>
          liveCount(f) < targetRows || dvOf(f).nonEmpty ||
            probesOf(f).nonEmpty)
        val worthIt = candidates.length > 1 ||
          candidates.exists(f =>
            dvOf(f).nonEmpty || probesOf(f).nonEmpty)
        if (candidates.nonEmpty && worthIt) {
          packedIds ++= candidates.map(_.id)
          val names =
            cols.map(cid => i2n.getOrElse(cid, s"_dropped_$cid"))
          val offsets = candidates.map(liveCount).scanLeft(0L)(_ + _)
          val total = offsets.last
          var start = 0L
          while (start < total) {
            val end = math.min(start + targetRows, total)
            val slices = candidates.indices.toVector.flatMap { i =>
              val lo = math.max(start, offsets(i))
              val hi = math.min(end, offsets(i + 1))
              if (lo >= hi) None
              else Some(GraftLakeFileWriter.RewriteSlice(
                GraftLakeFilePartition.of(candidates(i),
                  dvOf(candidates(i)), names, probesOf(candidates(i))),
                (lo - offsets(i)).toInt, (hi - offsets(i)).toInt))
            }
            specsB += GraftLakeFileWriter.RewriteSpec(idx, cols, types,
              names, pkey, slices, pspecId = psid)
            idx += 1
            start = end
          }
        }
    }
    val specs = specsB.result()
    val gone = packedIds.result()
    if (gone.isEmpty) return (before, before)
    // a bin set of only fully-deleted files packs into no output file
    val temps =
      if (specs.isEmpty) Vector.empty[GraftLakeFile]
      else spark.sparkContext
        .parallelize(specs, specs.length)
        .flatMap(GraftLakeFileWriter.rewriteTask(dir))
        .collect().sortBy(_._1).toVector.map(_._2)
    commitHook()
    synchronized {
      // the bins sliced only the PACKED candidates' live rows, so only
      // those must be untouched since the pin — a concurrent append, or
      // a row-level delta on a file this pack never read, rides through
      commitRewrite(pin, snapFiles.filter(f => gone.contains(f.id)), temps,
          "a packed file while CALL system.compact_files was rewriting") {
        minted => files.filterNot(f => gone.contains(f.id)) ++ minted
      }
      (before, files.length)
    }
  }

  private[graft] def snapshot: GraftLakeSnapshot =
    synchronized(GraftLakeSnapshot(files, dvs, eqs))
  /** Current unresolved equality deletes — the upsert specs' probe. */
  private[graft] def eqDeletes: Vector[GraftEqDelete] = synchronized(eqs)

  /** Per-file LIVE row counts under unresolved equality deletes —
    * rows − DV − live probe matches. The scan-less
    * COUNT pays ONE distributed key-probe pass per (file, DV,
    * epoch-set) signature — each task drives the one reader over the
    * probe key chunks only ([[GraftLakeColumnar.countLive]])
    * — and memoizes the result, so every later COUNT answers from
    * metadata until the file's read debt changes (a growing DV or a new
    * epoch re-keys the signature; compaction makes the memo moot).
    * Returns None when the probe job cannot run (no active session).
    * Only counts cross the driver — never rows. */
  private val eqLiveMemo =
    new java.util.concurrent.ConcurrentHashMap[String, (String, Long)]()
  private[sources] def eqLiveCounts(snap: GraftLakeSnapshot,
      targets: Vector[GraftLakeFile]): Option[Map[String, Long]] = {
    def probesOf(f: GraftLakeFile): Seq[(Int, GraftEqDelete)] =
      snap.eqs.flatMap(_.probeFor(f))
    // signature of the file's CURRENT read debt: an MD5 over the full
    // sorted DV (content, not Set.hashCode — a collision would serve a
    // wrong count forever) plus the applicable keys paths.
    // The memo keys on FILE ID and stores (signature, count), so a
    // growing DV REPLACES the entry instead of accreting stale ones —
    // one live entry per file, bounded by the table's file count.
    def sig(f: GraftLakeFile): String = {
      val dv = snap.dvs.getOrElse(f.id, Set.empty[Long]).toArray.sorted
      val md = java.security.MessageDigest.getInstance("MD5")
      val buf = java.nio.ByteBuffer.allocate(8)
      dv.foreach { p =>
        buf.clear(); buf.putLong(p); md.update(buf.array()) }
      probesOf(f).map(_._2.path).sorted
        .foreach(p => md.update(p.getBytes("UTF-8")))
      md.digest().map("%02x".format(_)).mkString
    }
    def hit(f: GraftLakeFile): Option[Long] =
      Option(eqLiveMemo.get(f.id)).collect {
        case (s, n) if s == sig(f) => n }
    // The returned map is assembled ONLY from values verified against
    // THIS snapshot's signature (memo hits) or computed here from THIS
    // snapshot — never from an unguarded re-read of the shared memo. A
    // concurrent caller over a NEWER snapshot of the same file (a
    // current COUNT racing a time-travel COUNT, or compaction pricing)
    // may overwrite the memo entry between our put and return; that
    // must not leak its count into our answer.
    val hits: Map[String, Long] =
      targets.flatMap(f => hit(f).map(f.id -> _)).toMap
    val missing = targets.filterNot(f => hits.contains(f.id))
    val (probeable, direct) = missing.partition(f => probesOf(f).nonEmpty)
    val directCounts: Map[String, Long] = direct.map { f =>
      // no applicable probe (file predates every key column) → pure
      // metadata math
      val n = f.numRows - snap.dvs.getOrElse(f.id, Set.empty).size.toLong
      eqLiveMemo.put(f.id, (sig(f), n))
      f.id -> n
    }.toMap
    var probedCounts: Map[String, Long] = Map.empty
    if (probeable.nonEmpty) {
      // same session-resolution order as the maintenance callers
      // (SparkSession.active): active thread session, then the default
      // — a default-but-not-active thread must not silently refuse and
      // leave callers pricing eq files at DV-only counts
      val spark = org.apache.spark.sql.SparkSession.getActiveSession
        .orElse(org.apache.spark.sql.SparkSession.getDefaultSession)
        .getOrElse(return None)
      val i2n = idToName
      val specs = probeable.map(f => GraftLakeFilePartition.of(f,
        snap.dvs.getOrElse(f.id, Set.empty),
        GraftLakeFieldIds.resolve(f.cols, i2n), probesOf(f)))
      val counted = spark.sparkContext
        .parallelize(specs, specs.length)
        // decodes only the probe key chunks
        .map(fp => (fp.fileId, GraftLakeColumnar.countLive(fp)))
        .collect().toMap
      probeable.foreach(f =>
        eqLiveMemo.put(f.id, (sig(f), counted(f.id))))
      probedCounts = counted
    }
    // test seam: simulates a CONCURRENT caller (newer-snapshot COUNT /
    // compaction pricing) landing between our memo puts and our return —
    // whatever it writes into the shared memo must not leak into THIS
    // snapshot's answer, which assembles from the local values above
    eqCountInterleave()
    Some(targets.map(f => f.id ->
      hits.getOrElse(f.id,
        directCounts.getOrElse(f.id, probedCounts(f.id)))).toMap)
  }
  private[graft] var eqCountInterleave: () => Unit = () => ()
  /** Current file ids, in commit order — the spec's carry-vs-rewrite probe. */
  private[graft] def fileIds: Seq[String] = snapshot.files.map(_.id)
  /** Current deletion vectors — the spec's no-rewrite merge-on-read probe. */
  private[graft] def deletionVectors: Map[String, Set[Long]] =
    synchronized(dvs)

  /** Appends rebase across DATA commits unconditionally: under snapshot
    * isolation a concurrent commit can never conflict with pure file
    * additions. A concurrent ADD CONSTRAINT is the one exception — the
    * rows were minted un-validated — and stays loud. */
  private def appendFiles(pendings: Vector[GraftLakeFile],
      plannedChecks: Set[(String, String)]): Unit =
    synchronized {
      def admits = admitsChecks(plannedChecks)
      val minted = mint(pendings, GraftLakeTable.DataFiles, admits)
      commit(admits, dataChange = true, minted = minted) {
        files = files ++ minted
      }
    }

  /** The BLIND replacement (INSERT OVERWRITE, a Complete-mode epoch):
    * the table becomes exactly `pendings`, admitted only at the version
    * this commit started from (see [[admitsAt]]). */
  private def overwrite(pendings: Vector[GraftLakeFile],
      plannedChecks: Set[(String, String)],
      txn: Option[(String, Long)] = None): Unit =
    synchronized {
      val v0 = currentVersion
      // a replayed epoch is no refusal: its commit is a no-op
      def admits = replayed(txn) ||
        admitsAt(v0, "an overwrite") && admitsChecks(plannedChecks)
      val minted = mint(pendings, GraftLakeTable.DataFiles, admits)
      commit(admits, dataChange = true, txn, minted) {
        files = minted
        dvs = Map.empty
      }
    }

  /** One streaming EPOCH lands as one atomic commit stamped with
    * (queryId, epochId) — Delta's txn action, persisted inside the
    * commit record itself so the stamp and the data are indivisible. A
    * replayed epoch (restart from checkpoint re-offers the last batch)
    * is detected by the watermark and dropped: its task-written temps
    * are unlinked and NOTHING commits — exactly-once across restarts,
    * including a crash between data-write and checkpoint-advance.
    * Complete-mode epochs are overwrites; append and upsert epochs
    * REBASE across cross-writer commits (concurrent maintenance racing
    * a streaming sink is the normal production state, and neither
    * conflicts with additions under snapshot isolation). */
  private def commitEpoch(queryId: String, truncate: Boolean,
      upsertKey: Option[String], plannedChecks: Set[(String, String)])(
      epochId: Long, pendings: Vector[GraftLakeFile],
      keyTemps: Vector[GraftLakeFile]): Unit =
    synchronized {
      // the builder refuses the combination at build time
      // (graft.upsert.key is append-mode only); assert it here too so
      // the truncate branch can never silently turn an upsert sink
      // into a blind replace
      require(!(truncate && upsertKey.isDefined),
        s"streaming sink on $tableName cannot combine Complete-mode " +
          "truncate with graft.upsert.key")
      val txn = Some(queryId -> epochId)
      if (streamEpochs.get(queryId).exists(_ >= epochId))
        GraftLakeFileWriter.unlink(pendings ++ keyTemps)
      else if (truncate) overwrite(pendings, plannedChecks, txn)
      else {
        // STREAMING UPSERT via EQUALITY DELETES: the epoch's keys
        // logically delete every matching row in files minted BEFORE
        // this epoch (belowSeq is captured before any mint, so the
        // epoch's own files — data AND keys — are never subject to their
        // own delete). ZERO read-side probe of existing data: the keys
        // files were written task-side. An append epoch is an upsert
        // with no keys.
        val belowSeq = fileSeq
        val key = upsertKey.map { keyName =>
          val ki = schemaNow.fieldNames.indexOf(keyName)
          require(ki >= 0, s"upsert key $keyName not in ${tableName}'s " +
            s"schema (${schemaNow.fieldNames.mkString(", ")})")
          (colIds(ki), schemaNow.fields(ki).dataType)
        }
        // SEQUENCE GUARD: the epoch's keys delete files with seq ≤
        // belowSeq, captured pre-mint. A rebase winner that MINTED files
        // (append, compaction rewrite) put rows ABOVE that threshold
        // which this epoch's delete could never cover — if any carried
        // the upserted key, the one-row-per-key invariant would silently
        // break (Iceberg assigns delete sequence at COMMIT; our
        // file-number sequence is fixed at mint). Refuse loudly: the
        // streaming query fails, the restart replays the epoch from the
        // checkpoint with a fresh belowSeq — self-healing. Winners that
        // only touched DVs or removed files rebase fine. The epoch's own
        // files are never in `files` here: every admission runs on a
        // durable state this epoch has not committed to.
        def admitsSequence: Boolean = upsertKey.isEmpty || {
          val foreign =
            files.filter(f => GraftEqDelete.seqOf(f.id) > belowSeq)
          if (foreign.nonEmpty) throw new IllegalStateException(
            s"write conflict on $tableName: concurrent commit(s) added " +
              s"${foreign.map(_.id).mkString(", ")} above this upsert " +
              "epoch's delete sequence — the epoch must replay against " +
              "the current state (streaming restart re-offers it from " +
              "the checkpoint)")
          true
        }
        def admits = replayed(txn) ||
          admitsSequence && admitsChecks(plannedChecks)
        val newFiles = mint(pendings, GraftLakeTable.DataFiles, admits)
        val newKeys =
          if (key.isEmpty) Vector.empty
          else mint(keyTemps, GraftLakeTable.KeysFiles, admits)
        val newEqs = key.toVector.flatMap { case (keyId, keyType) =>
          newKeys.map(k =>
            GraftEqDelete(keyId, k.path, k.pnames.head, belowSeq, keyType))
        }
        commit(admits, dataChange = true, txn,
            newFiles ++ newKeys) {
          eqs = eqs ++ newEqs
          files = files ++ newFiles
        }
      }
    }

  // ---- metadata-only DELETE (SupportsDeleteV2) ----------------------------
  // The 100 TB partition-drop path: when every file is PROVABLY
  // all-match or all-miss under the DELETE's conjunction (per-file
  // min/max + null-count stats — identity partitions and clustered
  // ranges decide naturally), Spark's OptimizeMetadataOnlyDeleteFromTable
  // replaces the row-level plan with deleteWhere: whole files drop from
  // the manifest list in ONE metadata commit — no scan, no rewrite, no
  // deletion vector, cost ∝ manifests. A file the stats cannot decide
  // makes canDeleteWhere refuse and the DELETE falls back to the
  // row-level plan unchanged. TRUNCATE TABLE rides the same surface
  // (the default truncateTable() sends ALWAYS_TRUE).

  /** True iff every live file is provably all-match or all-miss under
    * the conjunction — the contract Spark checks before routing a
    * DELETE through [[deleteWhere]]. Refuses under an active WAP branch
    * so the row-level plan's branch guard keeps its loud refusal. */
  override def canDeleteWhere(
      predicates: Array[org.apache.spark.sql.connector.expressions
        .filter.Predicate]): Boolean = synchronized {
    GraftLakeTable.wapBranch.isEmpty && {
      val n2i = schemaNow.fieldNames.zip(colIds).toMap
      files.forall(f =>
        GraftLakeStats.decideConj(f, predicates, n2i, colDefaults)
          .isDefined)
    }
  }

  /** Drop every provably-all-match file as one data-change commit.
    * Dropping a file takes its deletion vector with it (those rows were
    * already dead) and any equality-delete epoch left without a
    * matchable file prunes at the commit. Cross-writer safe: the rebase
    * loop re-proves decidability against the refreshed state — a
    * concurrent append of a file the stats cannot decide turns the
    * metadata delete into a loud conflict (re-running the statement
    * re-plans, falling back to the row-level path). */
  override def deleteWhere(
      predicates: Array[org.apache.spark.sql.connector.expressions
        .filter.Predicate]): Unit = synchronized {
    var drop = Set.empty[String]
    def admitsDrop: Boolean = {
      val n2i = schemaNow.fieldNames.zip(colIds).toMap
      val verdicts = files.map(f => f.id ->
        GraftLakeStats.decideConj(f, predicates, n2i, colDefaults))
        .toMap
      if (verdicts.values.exists(_.isEmpty))
        throw new IllegalStateException(
          s"write conflict on $tableName: a concurrent commit added " +
            "file(s) the metadata-only DELETE cannot decide from " +
            "stats — retry the statement against the current state")
      drop = verdicts.collect { case (id, Some(true)) => id }.toSet
      drop.nonEmpty
    }
    commit(admitsDrop, dataChange = true) {
      files = files.filterNot(f => drop.contains(f.id))
      dvs = dvs.filterNot { case (id, _) => drop.contains(id) }
    }
  }
  /** The group-replacing (copy-on-write) commit: drop exactly `removed`
    * (and their deletion vectors), add the new files; everything else is
    * carried by reference. Optimistic-concurrency validation first: if a
    * group this operation scanned no longer exists, a concurrent commit
    * replaced it and blindly proceeding would RESURRECT the stale rows
    * this write re-derives from its snapshot — the classic lost update.
    * Abort loudly instead (Iceberg's validateDataFilesExist contract). */
  private def replaceGroups(removed: Set[String],
      pendings: Vector[GraftLakeFile],
      eqs0: Vector[GraftEqDelete],
      plannedChecks: Set[(String, String)]): Unit = {
    commitHook()
    synchronized {
      // every admission rule re-runs on every rebase: a cross-writer
      // APPEND leaves the scanned groups intact and the rewrite lands
      // on the refreshed state; a cross-writer replace of a scanned
      // group is the lost update and stays loud (no CAS cause — never
      // retried); a concurrent equality-delete epoch or ADD CONSTRAINT
      // invalidates the rewritten rows and stays loud too
      def admitsGroups: Boolean = {
        val gone = removed -- files.map(_.id).toSet
        if (gone.nonEmpty) throw new IllegalStateException(
          s"write conflict on $tableName: scanned group(s) ${gone.mkString(", ")} " +
            "were replaced by a concurrent commit after this operation's " +
            "snapshot — retry the statement against the current state")
        true
      }
      def admits = admitsGroups && admitsEqEpochs(eqs0) &&
        admitsChecks(plannedChecks)
      val minted = mint(pendings, GraftLakeTable.DataFiles, admits)
      commit(admits, dataChange = true, minted = minted) {
        files = files.filterNot(f => removed.contains(f.id)) ++ minted
        dvs = dvs.filterNot { case (id, _) => removed.contains(id) }
      }
    }
  }
  /** The merge-on-read commit: NO file is rewritten — deletes land as
    * deletion-vector positions, inserts as new files. Conflict
    * validation is two-level (Iceberg's serializable-isolation delete
    * checks): a position delete against a file a concurrent commit
    * REPLACED (compaction) targets rows that no longer exist at those
    * positions; and a delete against a file whose DELETION VECTOR
    * changed since `expected` (the operation's pinned snapshot) means a
    * concurrent writer touched the same file's rows — this operation's
    * inserts were derived from values that may now be dead, the MoR
    * shape of the lost update. Both abort loudly for retry. */
  private def applyDelta(expected: Map[String, Set[Long]],
      eqs0: Vector[GraftEqDelete], plannedChecks: Set[(String, String)])(
      deleted: Map[String, Set[Long]],
      pendings: Vector[GraftLakeFile]): Unit = {
    commitHook()
    synchronized {
      // every validation re-runs on every rebase against the refreshed
      // state — a winner that only appended passes them and this delta
      // lands rebased; a winner that compacted a target file or grew
      // its DV is the MoR lost update and stays loud (no CAS cause),
      // as are a concurrent equality-delete epoch (its logical deletes
      // cannot reach this delta's re-inserted rows) and a concurrent
      // ADD CONSTRAINT (the rows were never validated)
      def admitsDeletes: Boolean = {
        val gone = deleted.keySet -- files.map(_.id).toSet
        if (gone.nonEmpty) throw new IllegalStateException(
          s"write conflict on $tableName: delete target file(s) " +
            s"${gone.mkString(", ")} were replaced by a concurrent commit " +
            "after this operation's snapshot — retry the statement")
        val skewed = deleted.keySet.filter(id =>
          dvs.getOrElse(id, Set.empty) != expected.getOrElse(id, Set.empty))
        if (skewed.nonEmpty) throw new IllegalStateException(
          s"write conflict on $tableName: deletion vector(s) of " +
            s"${skewed.mkString(", ")} changed since this operation's " +
            "snapshot — a concurrent row-level commit touched the same " +
            "file(s); retry the statement against the current state")
        true
      }
      def admits = admitsDeletes && admitsEqEpochs(eqs0) &&
        admitsChecks(plannedChecks)
      val minted = mint(pendings, GraftLakeTable.DataFiles, admits)
      commit(admits, dataChange = true, minted = minted) {
        dvs = (dvs.keySet ++ deleted.keySet).map(id =>
          id -> (dvs.getOrElse(id, Set.empty) ++
            deleted.getOrElse(id, Set.empty))).toMap
        files = files ++ minted
      }
    }
  }

  override def name(): String = tableName
  override def schema(): StructType = synchronized(schemaNow)
  override def partitioning(): Array[Transform] =
    partSpecNow.map(_.toV2).toArray
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.BATCH_WRITE,
      TableCapability.STREAMING_WRITE,
      TableCapability.TRUNCATE)

  // `_file`: which group a row lives in — the handle both the runtime
  // group filter and the spec's carry/rewrite assertions key on.
  // `_pos`: the row's position within its file — with `_file` it forms
  // the merge-on-read row id (exactly Iceberg's position-delete key).
  // `_change_type`/`_commit_version`: populated only by a CHANGE FEED
  // scan (the `graft.changes.*` read options); a regular scan asked to
  // project them fails loudly rather than fabricating values.
  override def metadataColumns(): Array[MetadataColumn] =
    Array(GraftLakeTable.FileColumn, GraftLakeTable.PosColumn,
      GraftLakeTable.ChangeTypeColumn, GraftLakeTable.CommitVersionColumn)

  // ---- read path ----------------------------------------------------------

  /** Three read shapes, selected by read OPTIONS (the Delta/Iceberg
    * surface: `spark.read.option(...).table(t)` routes options here):
    *  - none: the current snapshot;
    *  - `graft.snapshot-version = v`: VERSION TIME TRAVEL — the exact
    *    committed state at version v (0 = empty table at creation);
    *  - `graft.changes.from = v1, graft.changes.to = v2`: the CHANGE
    *    FEED — every row change committed in versions (v1, v2], each
    *    tagged `_change_type` insert/delete and `_commit_version`. An
    *    update arrives as delete+insert (Iceberg changelog shape; CoW
    *    group rewrites and MoR deletion-vector deltas both reduce to
    *    it). Maintenance commits (dataChange = false) are skipped. Scan
    *    cost is ∝ CHANGED files across the range, never table size —
    *    the property that makes incremental downstream consumption
    *    viable at 100 TB. */
  override def newScanBuilder(
      options: CaseInsensitiveStringMap): ScanBuilder = {
    val from = Option(options.get("graft.changes.from")).map(_.trim.toInt)
    val to = Option(options.get("graft.changes.to")).map(_.trim.toInt)
    val asOf = Option(options.get("graft.snapshot-version"))
      .map(_.trim.toInt)
    require(from.isDefined == to.isDefined,
      "graft.changes.from and graft.changes.to must be set together")
    require(asOf.isEmpty || from.isEmpty,
      "graft.snapshot-version and graft.changes.* are mutually exclusive")
    (from, to) match {
      case (Some(lo), Some(hi)) =>
        new GraftLakeChangeFeedScanBuilder(
          historySlice(lo, hi), lo, schema(), idToName, defaults)
      case _ =>
        // NOTE the read-OPTION spelling of time travel serves the
        // CURRENT schema over the old snapshot: the analyzer binds the
        // relation's columns from the Table BEFORE options reach this
        // builder, so a per-version schema here would skew scan output
        // against the analyzed plan. The SQL `VERSION/TIMESTAMP AS OF`
        // spelling resolves a [[GraftLakePinnedTable]] instead, whose
        // TABLE schema is the version's own — use that for
        // schema-faithful travel across ALTERs.
        new GraftLakeScanBuilder(
          asOf.map(snapshotAt).getOrElse(snapshot), schema(), partSpecNow,
          None, () => fileIds.toSet, idToName, defaults,
          pspecId = partSpecIdNow, eqLive = eqLiveCounts)
    }
  }

  /** Scan builder pinned at `v` resolving through the VERSION's schema
    * triple — the [[GraftLakePinnedTable]] read path. */
  private[sources] def scanBuilderAt(v: Int): ScanBuilder = {
    val (sch, ids, defs) = schemaInfoAt(v)
    new GraftLakeScanBuilder(snapshotAt(v), sch, partSpecNow, None,
      () => fileIds.toSet,
      ids.zip(sch.fieldNames).map { case (id, n) => id -> n }.toMap, defs,
      pspecId = partSpecIdNow, eqLive = eqLiveCounts)
  }

  /** Scan builder over a BRANCH head — the audit read of
    * write-audit-publish (`VERSION AS OF '<branch>'`). Branch appends
    * stamp the current schema's ids (publish requires main — and hence
    * the schema — not to have moved), so the read resolves through the
    * current schema triple. */
  private[sources] def scanBuilderForBranch(name: String): ScanBuilder =
    new GraftLakeScanBuilder(branchSnapshot(name), schema(), partSpecNow,
      None, () => fileIds.toSet, idToName, defaults,
      pspecId = partSpecIdNow, eqLive = eqLiveCounts)

  // ---- plain write path (append / truncate-overwrite) ---------------------

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder with SupportsTruncate {
      // `graft.branch`: route the append to a STAGED BRANCH instead of
      // main (the write leg of write-audit-publish) — Iceberg's
      // `.option("branch", b)` spelling. The `spark.wap.branch` session
      // conf is the SQL spelling (Iceberg's WAP flow): it routes plain
      // `INSERT INTO` too, captured at plan time on the planning thread.
      private val branch = Option(info.options.get("graft.branch"))
        .orElse(GraftLakeTable.wapBranch)
      private val upsertKeyName =
        Option(info.options.get("graft.upsert.key"))
      // the CHECK constraints this write's analysis injected row
      // assertions for — the commit refuses to land past any name
      // outside this set (see admitsChecks)
      private val plannedChecks = plannedCheckSet
      private var truncateRequested = false
      override def truncate(): WriteBuilder = {
        truncateRequested = true; this
      }
      override def build(): Write = new Write
          with org.apache.spark.sql.connector.write
            .RequiresDistributionAndOrdering {
        // a PARTITIONED table asks the writer's input to be CLUSTERED
        // by its transforms (days/bucket/identity, resolved through
        // this catalog's FunctionCatalog): Spark shuffles rows so each
        // task holds whole partition keys, and the commit lands one
        // file per task instead of (input partitions × keys) fragments
        // — the writer-side half of the small-files story (Iceberg's
        // write.distribution-mode = hash)
        override def requiredDistribution()
            : org.apache.spark.sql.connector.distributions.Distribution = {
          val spec = partSpecNow
          // upsert epochs additionally cluster by the KEY: every copy
          // of a key lands in ONE task, so the writer's duplicate-key
          // detection is complete across the whole micro-batch
          val exprs = upsertKeyName.map(k =>
            org.apache.spark.sql.connector.expressions.Expressions
              .identity(k)).toSeq ++ spec.map(_.toV2)
          if (exprs.isEmpty)
            org.apache.spark.sql.connector.distributions.Distributions
              .unspecified()
          else org.apache.spark.sql.connector.distributions.Distributions
            .clustered(exprs.toArray[
              org.apache.spark.sql.connector.expressions.Expression])
        }
        override def requiredOrdering(): Array[
            org.apache.spark.sql.connector.expressions.SortOrder] =
          Array.empty
        override def toBatch: BatchWrite = {
          require(branch.isEmpty || !truncateRequested,
            s"branch writes to $tableName support APPEND only — " +
              "truncate/overwrite targets main")
          new GraftLakeBatchWrite(pendings => branch match {
            case Some(b) => appendToBranch(b, pendings)
            case None =>
              if (truncateRequested) overwrite(pendings, plannedChecks)
              else appendFiles(pendings, plannedChecks)
          }, fileWriteInfo)
        }
        override def toStreaming
            : org.apache.spark.sql.connector.write.streaming
              .StreamingWrite = {
          require(branch.isEmpty,
            s"streaming writes to $tableName target main — unset the " +
              "branch option / spark.wap.branch")
          // `graft.upsert.key`: streaming UPSERT by equality delete —
          // each epoch's keys logically delete prior matches, with no
          // read-side probe of existing data (the Flink→Iceberg CDC
          // writer shape; keys files are real files read by scan tasks)
          val fw = fileWriteInfo
          val upsert = upsertKeyName
            .map { keyName =>
              require(!truncateRequested,
                "graft.upsert.key is append-mode only")
              val ki = fw.names.indexOf(keyName)
              require(ki >= 0, s"upsert key $keyName not in " +
                s"$tableName's schema (${fw.names.mkString(", ")})")
              require(GraftEqDelete.keyCapable(fw.types(ki)),
                s"upsert key $keyName: ${fw.types(ki).sql} is not an " +
                  "equality-probe type (INT/BIGINT/STRING/DATE/TIMESTAMP)")
              GraftUpsertInfo(ki, keyName, fw.colIds(ki), fw.types(ki))
            }
          new GraftLakeStreamingWrite(
            commitEpoch(info.queryId(), truncateRequested,
              upsert.map(_.keyName), plannedChecks), fw, upsert)
        }
      }
    }

  // ---- row-level operations (MERGE / UPDATE / DELETE) ---------------------

  override def newRowLevelOperationBuilder(
      info: RowLevelOperationInfo): RowLevelOperationBuilder =
    if (mergeOnRead) () => new SupportsDelta {
      // merge-on-read: matched rows become DELETION-VECTOR entries keyed
      // by (_file, _pos) and inserts/updated rows land in new files — no
      // committed file is ever rewritten (the write-amplification
      // complement of the CoW path below; reads pay the DV filter
      // instead). Updates arrive as delete+insert pairs so the writer
      // only needs the two primitives, exactly Iceberg's position-delta
      // shape.
      // snapshot AND schema (with its id mapping) pinned at operation
      // creation: a concurrent ALTER mid-statement must not skew the
      // writer's row layout
      private val snap = snapshot
      private val opSchema = schema()
      private val opIds = idToName
      private val opDefaults = defaults
      private val opChecks = plannedCheckSet

      override def command(): RowLevelOperation.Command = info.command()
      override def rowId(): Array[NamedReference] =
        Array(Expressions.column(GraftLakeTable.FileCol),
          Expressions.column(GraftLakeTable.PosCol))
      override def representUpdateAsDeleteAndInsert(): Boolean = true
      override def newScanBuilder(
          options: CaseInsensitiveStringMap): ScanBuilder =
        new GraftLakeScanBuilder(snap, opSchema, partSpecNow, None,
          () => fileIds.toSet, opIds, opDefaults,
          pspecId = partSpecIdNow)
      override def newWriteBuilder(
          info: LogicalWriteInfo): DeltaWriteBuilder =
        new DeltaWriteBuilder {
          override def build(): DeltaWrite = new DeltaWrite {
            // branch-routing covers APPENDS only; silently committing a
            // row-level op to main while spark.wap.branch is set would
            // leak an unaudited change — refuse loudly instead
            GraftLakeTable.wapBranch.foreach(b => throw
              new UnsupportedOperationException(
                s"spark.wap.branch = '$b' is set but row-level " +
                  s"operations on $tableName only target main — unset " +
                  "the conf (or publish first) before UPDATE/DELETE/MERGE"))
            override def toBatch: DeltaBatchWrite =
              new GraftLakeDeltaBatchWrite(
                applyDelta(snap.dvs, snap.eqs, opChecks), fileWriteInfo,
                opSchema.fields.map(_.dataType), onDone = pinPaths(snap))
          }
        }
    }
    else () => new RowLevelOperation {
      // one consistent snapshot shared by the operation's scan and its
      // ReplaceData commit; starts as "every group" and is narrowed by
      // the runtime group filter
      private val snap = snapshot
      private val opSchema = schema()
      private val opIds = idToName
      private val opDefaults = defaults
      private val opChecks = plannedCheckSet
      private val state = new GroupScanState(snap.files.map(_.id).toSet)

      override def command(): RowLevelOperation.Command = info.command()
      // `_file` must ride through the rewritten plan: it is both the
      // runtime-group-filter pruning key on the operation's scan side
      // and the build key the filter subquery projects
      override def requiredMetadataAttributes(): Array[NamedReference] =
        Array(Expressions.column(GraftLakeTable.FileCol))
      override def newScanBuilder(
          options: CaseInsensitiveStringMap): ScanBuilder =
        new GraftLakeScanBuilder(snap, opSchema, partSpecNow, Some(state),
          () => fileIds.toSet, opIds, opDefaults,
          pspecId = partSpecIdNow)
      // group-based ReplaceData: the written set replaces exactly the
      // groups the (runtime-filtered) scan read. Spark 4.1 prepends a
      // `__row_operation` INT to every row it hands the writer
      // (RowDeltaUtils: 5=WRITE, 6=WRITE_WITH_METADATA, 1=DELETE) and,
      // because `_file` is a required metadata attribute, appends the
      // metadata column(s) after the data columns — the connector strips
      // both (and drops DELETE rows, which group-based plans normally
      // just omit).
      override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
        new WriteBuilder {
          override def build(): Write = new Write {
            // see the merge-on-read twin: row-level ops refuse under an
            // active spark.wap.branch rather than silently writing main
            GraftLakeTable.wapBranch.foreach(b => throw
              new UnsupportedOperationException(
                s"spark.wap.branch = '$b' is set but row-level " +
                  s"operations on $tableName only target main — unset " +
                  "the conf (or publish first) before UPDATE/DELETE/MERGE"))
            override def toBatch: BatchWrite =
              new GraftLakeBatchWrite(
                pendings => replaceGroups(state.scanned, pendings,
                  snap.eqs, opChecks), fileWriteInfo,
                rowLevel = Some(opSchema.fields.map(_.dataType)),
                onDone = pinPaths(snap))
          }
        }
    }

  // ---- construction epilogue: durable-log bootstrap -----------------------
  // Runs after every field above is initialized. A REOPEN installs the
  // restored state verbatim (files/history/schema/refs — the registry
  // entry is just a cache over `<root>/_graft_log`); a fresh CREATE
  // journals its identity + the v0 creation commit so the table is
  // reopenable from its very first version.
  reopenFrom match {
    case Some(r) => install(r)
    case None =>
      log.writeTable(tableName, partSpec, mergeOnRead)
      log.writeCommit(0, history.head._1, dataChange = true,
        commitTimes.head, schemaNow, colIds, colDefaults, fileSeq,
        nextColId)
  }
}

object GraftLakeTable {
  /** The root of a table with no durable root (no warehouse, no
    * `graft.location`): only this JVM's registry can reach it, so
    * whatever a DROP has not deleted goes when the JVM exits. */
  private def tempRoot(): java.io.File = GraftParquetIO.deleteAtExit(
    java.nio.file.Files.createTempDirectory("graft_lake_").toFile)

  /** Row-level-operation pins older than this are considered abandoned
    * (planned but never committed/aborted) and reaped at vacuum time —
    * sized far above any statement's real plan→commit latency. */
  private[graft] val PinStaleMillis: Long = 60L * 60 * 1000

  /** Cross-writer rebase attempts per commit before the CAS loss stays
    * loud — Iceberg's commit.retry.num-retries analog. Each retry is a
    * log refresh + re-validation, so exhausting it means the table is
    * under sustained contention and the caller should back off. */
  private[graft] val MaxCommitRebases: Int = 4

  /** What a maintenance rewrite read: the version, deletion vectors,
    * equality deletes and field-id/partition-spec identity it pinned
    * before its distributed pass. */
  private[sources] final case class RewritePin(version: Int,
      dvs: Map[String, Set[Long]], eqs: Vector[GraftEqDelete],
      ids: Vector[Int], spec: Int)

  /** What [[GraftLakeTable.mint]] turns a task temp into: `prefix` names
    * the claimed object (`f<N>` data, `e<N>` equality-delete keys — one
    * number sequence, so numbers never collide), `manifest` journals a
    * file manifest, and `current` requires the write's field ids to be
    * the table's current ones (the concurrent-ALTER guard). */
  private[sources] sealed abstract class Mint(val prefix: String,
      val manifest: Boolean, val current: Boolean)
  /** A write's data files, stamped with the current schema's ids. */
  private[sources] case object DataFiles extends Mint("f", true, true)
  /** Rewrite output: rows keep their source generation's layout, and the
    * rewrite's own admission checks the field-id identity. */
  private[sources] case object Rewrites extends Mint("f", true, false)
  /** Equality-delete keys files: referenced by commit records, never
    * listed, so no manifest. */
  private[sources] case object KeysFiles extends Mint("e", false, false)

  /** The `spark.wap.branch` session conf (Iceberg's write-audit-publish
    * spelling), read on the PLANNING thread — SQLConf is thread-local,
    * so this must be captured when the write builder is constructed,
    * never inside a task. */
  private[sources] def wapBranch: Option[String] =
    Option(org.apache.spark.sql.internal.SQLConf.get
      .getConfString("spark.wap.branch", null)).filter(_.nonEmpty)
  private[sources] val FileCol = "_file"
  private[sources] val PosCol = "_pos"
  private[sources] object FileColumn extends MetadataColumn {
    override def name(): String = FileCol
    override def dataType(): DataType = StringType
    override def isNullable: Boolean = false
    override def comment(): String = "id of the file group holding the row"
  }
  private[sources] object PosColumn extends MetadataColumn {
    override def name(): String = PosCol
    override def dataType(): DataType = LongType
    override def isNullable: Boolean = false
    override def comment(): String = "row position within its file group"
  }
  private[sources] val ChangeTypeCol = "_change_type"
  private[sources] val CommitVersionCol = "_commit_version"
  private[sources] object ChangeTypeColumn extends MetadataColumn {
    override def name(): String = ChangeTypeCol
    override def dataType(): DataType = StringType
    override def isNullable: Boolean = false
    override def comment(): String =
      "insert | delete (change feed scans only)"
  }
  private[sources] object CommitVersionColumn extends MetadataColumn {
    override def name(): String = CommitVersionCol
    override def dataType(): DataType = LongType
    override def isNullable: Boolean = false
    override def comment(): String =
      "version that committed the change (change feed scans only)"
  }
}

/** Which groups the row-level operation's scan actually read — written
  * by the scan (after runtime filtering), read by the commit. */
final class GroupScanState(allIds: Set[String]) {
  @volatile var scanned: Set[String] = allIds
}

/** Column-pruning scan builder over a file snapshot. The pruned schema
  * may include the `_file` metadata column; readers synthesize it from
  * the file id. */
class GraftLakeScanBuilder(snapshot: GraftLakeSnapshot,
    fullSchema: StructType, partSpec: Seq[GraftPartTransform],
    rowLevel: Option[GroupScanState],
    currentIds: () => Set[String] = () => Set.empty,
    idToName: Map[Int, String] = Map.empty,
    colDefaults: Map[Int, Any] = Map.empty,
    pspecId: Int = 0,
    // the parent table's memoized live-count service (rows − DV − eq
    // matches per file) — lets COUNT(*) push down under unresolved
    // equality deletes; the default refuses, preserving scan fallback
    eqLive: (GraftLakeSnapshot, Vector[GraftLakeFile]) =>
      Option[Map[String, Long]] = (_, _) => None)
    extends ScanBuilder with SupportsPushDownRequiredColumns
    with org.apache.spark.sql.connector.read.SupportsPushDownV2Filters
    with org.apache.spark.sql.connector.read.SupportsPushDownAggregates {
  private var required: StructType = fullSchema
  private var skipPreds: Array[Predicate] = Array.empty
  private var residualPreds: Array[Predicate] = Array.empty
  // the files some row of which may satisfy every pushed predicate
  private var kept: Vector[GraftLakeFile] = snapshot.files
  // COLUMN-granular pruning only: stored rows carry complete nested
  // values, so accepting Spark's nested-FIELD-pruned struct type here
  // would desync the scan's output layout from codegen's expectations
  // (a 1-field pruned STRUCT read over a stored 3-field struct casts
  // the wrong slot). The DSv2 contract allows partial pruning — widen
  // each required column back to its declared type and Spark projects
  // the nested subset above the scan.
  override def pruneColumns(requiredSchema: StructType): Unit =
    required = GraftLakeReaders.columnGranular(requiredSchema, fullSchema)
  /** Record every predicate for min/max FILE SKIPPING. Each (file,
    * predicate) pair is evaluated once ([[GraftLakeStats.outcomes]]);
    * the kept files, the residual set and the aggregate's input all
    * come from those verdicts. A predicate that EVERY snapshot file
    * decides exactly from stats (provably all-kept or all-dropped per
    * file: the layout a partition-keyed writer produces) is claimed
    * FULLY PUSHED: pruning the dropped files and keeping the kept ones
    * whole IS the filter, and a residual-free WHERE is what lets Spark
    * offer AGGREGATE pushdown on filtered queries (`SELECT count(*) ...
    * WHERE dt = X` answered from manifests). Everything else comes back
    * as residual:
    * Spark re-applies it post-scan, so stats pruning stays result-
    * transparent (the parquet row-group-skipping safety split).
    * Row-level operation scans get the statement's WHERE here too — a
    * single-key UPDATE on a range-clustered table narrows to its file
    * STATICALLY, before the runtime group-filter subquery even runs —
    * but always as residual (their writers rewrite whole groups). */
  override def pushPredicates(
      predicates: Array[Predicate]): Array[Predicate] = {
    skipPreds = predicates
    val nameToId = idToName.map(_.swap)
    val verdicts = snapshot.files.map(f => predicates.map(p =>
      GraftLakeStats.outcomes(f, p, nameToId, colDefaults)))
    kept = snapshot.files.zip(verdicts).collect {
      case (f, os) if os.forall(o => (o & GraftLakeStats.True) != 0) => f
    }
    residualPreds =
      if (rowLevel.isDefined) predicates
      else predicates.indices.filterNot(i => verdicts.forall(os =>
        GraftLakeStats.verdict(os(i)).isDefined)).map(predicates).toArray
    residualPreds
  }
  override def pushedPredicates(): Array[Predicate] = skipPreds

  // ---- metadata-only aggregates (COUNT / MIN / MAX from stats) ------------
  // The Iceberg scan-less aggregate: an ungrouped COUNT(*) is the sum of
  // manifest row counts minus deletion-vector sizes, COUNT(col) is
  // rows − per-file null counts (refused under any DV on a carrying
  // file — a dead row's nullness is unknowable from the manifest), and
  // MIN/MAX come straight from the per-file stats (valid only with NO
  // deletion vectors and only when every file carrying the column has
  // stats for it; nulls are naturally excluded because stats cover
  // non-null values, matching SQL MIN/MAX semantics).
  //
  // GROUP BY answers from the manifest too when every file is SINGLE-
  // VALUED in every group column (min == max, no nulls — the layout a
  // partition-keyed writer produces): each file contributes wholly to
  // one group, so per-group COUNT/MIN/MAX reduce over per-file stats —
  // the Iceberg per-partition manifest-aggregate contract. One impure
  // file refuses the whole pushdown.
  // Only COMPLETE pushdown is offered: the answer is exact or refused.
  private var aggAnswer: Option[(StructType, Seq[InternalRow])] = None
  // supportCompletePushDown and pushAggregation arrive back to back with
  // the same Aggregation — compute the (possibly many-file) answer once
  private var aggMemo
      : Option[(AnyRef, Option[(StructType, Seq[InternalRow])])] = None

  private def statsAggregateMemo(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation)
      : Option[(StructType, Seq[InternalRow])] = aggMemo match {
    case Some((key, r)) if key eq agg => r
    case _ =>
      val r = statsAggregate(agg)
      aggMemo = Some((agg, r))
      r
  }

  override def supportCompletePushDown(
      agg: org.apache.spark.sql.connector.expressions.aggregate
        .Aggregation): Boolean = statsAggregateMemo(agg).isDefined

  override def pushAggregation(
      agg: org.apache.spark.sql.connector.expressions.aggregate
        .Aggregation): Boolean =
    statsAggregateMemo(agg) match {
      case some @ Some(_) => aggAnswer = some; true
      case None => false
    }

  private def statsAggregate(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation)
      : Option[(StructType, Seq[InternalRow])] = {
    import org.apache.spark.sql.connector.expressions.aggregate.{Avg, Count, CountStar, Max, Min, Sum}
    // row-level op scans never answer from metadata; a WHERE clause is
    // admissible ONLY when every predicate was claimed fully pushed
    // (every file decides it exactly) — then restricting to the
    // surviving files IS the filter and the manifests still answer
    if (rowLevel.isDefined || residualPreds.nonEmpty) return None
    // an unresolved EQUALITY DELETE hides a content-defined number of
    // rows per file, so VALUE-derived aggregates (MIN/MAX/SUM/
    // COUNT(col)/AVG) refuse until CALL system.compact resolves it.
    // COUNT(*) still pushes: each affected file's
    // contribution is its memoized live count — rows − DV − live probe
    // matches, computed once by a distributed key-column pass — so
    // the first COUNT pays one narrow probe job and every later COUNT
    // is metadata-only.
    val eqAffected: Set[String] = snapshot.files.iterator
      .filter(f => snapshot.eqs.exists(_.probeFor(f).isDefined))
      .map(_.id).toSet
    if (eqAffected.nonEmpty && !agg.aggregateExpressions().forall(
        _.isInstanceOf[org.apache.spark.sql.connector.expressions
          .aggregate.CountStar]))
      return None
    val nameToId = idToName.map(_.swap)
    // under a fully-decided WHERE, the aggregate's input is exactly the
    // all-kept files (decided files that may-match are all-kept)
    val candidates = kept
    def colId(e: org.apache.spark.sql.connector.expressions.Expression)
        : Option[Int] = e match {
      case r: NamedReference if r.fieldNames().length == 1 =>
        nameToId.get(r.fieldNames()(0))
      case _ => None
    }
    def typeOf(id: Int): DataType =
      fullSchema.fields(fullSchema.fieldNames.indexOf(idToName(id))).dataType

    // resolve the GROUP BY columns; None = not answerable from stats
    val groupIds: Option[Seq[Int]] = {
      val ids = agg.groupByExpressions().toSeq.map(colId)
      if (ids.exists(_.isEmpty)) None else Some(ids.flatten)
    }
    if (groupIds.isEmpty) return None

    // each file's group key, or None if the file is not single-valued in
    // some group column (all-null counts as the single value NULL)
    def keyOf(f: GraftLakeFile): Option[Seq[Any]] = {
      val vals = groupIds.get.map { id =>
        if (!f.cols.contains(id)) // absent = single-valued at the
          // exists-default (NULL when none was declared)
          Some(GraftLakeStats.widen(GraftLakeStats.zeroNorm(
            colDefaults.get(id).orNull), typeOf(id)))
        else (f.stats.get(id), f.nulls.get(id)) match {
          case (Some((null, null)), Some(n)) if n == f.numRows =>
            Some(null: Any)
          case (Some((mn, mx)), Some(0L))
              if mn != null && !GraftLakeStats.lt(mn, mx) &&
                !GraftLakeStats.lt(mx, mn) =>
            Some(GraftLakeStats.widen(
              GraftLakeStats.zeroNorm(mn), typeOf(id)))
          case _ => None // mixed values, mixed nullness, or no stats
        }
      }
      if (vals.exists(_.isEmpty)) None else Some(vals.flatten)
    }
    val grouped: Option[Seq[(Seq[Any], Vector[GraftLakeFile])]] =
      if (groupIds.get.isEmpty) Some(Seq(Nil -> candidates))
      else {
        val keyed = candidates.map(f => keyOf(f).map(_ -> f))
        if (keyed.exists(_.isEmpty)) None
        else Some(keyed.flatten.groupBy(_._1).toSeq
          .map { case (k, fs) => k -> fs.map(_._2).toVector })
      }
    if (grouped.isEmpty) return None

    // only a DV on an INPUT file can hide an extreme — a deletion
    // vector on a filtered-out file is irrelevant to this aggregate
    val anyDv = candidates.exists(f =>
      snapshot.dvs.getOrElse(f.id, Set.empty).nonEmpty)
    def extreme(fs: Vector[GraftLakeFile], id: Int,
        takeMin: Boolean): Option[Any] = {
      if (anyDv) return None // a position-deleted row could be the extreme
      val carrying = fs.filter(_.cols.contains(id))
      // every carrying file must have a stats entry (supported type);
      // (null, null) entries are all-null files and drop out like SQL
      if (!carrying.forall(_.stats.contains(id))) return None
      // a file that predates the column serves its exists-default for
      // every row — a candidate extreme like any other value
      val dflt = colDefaults.get(id).orNull
      val defaulted =
        if (dflt != null && fs.exists(!_.cols.contains(id))) Seq(dflt)
        else Nil
      val vals = carrying.flatMap(f => f.stats(id) match {
        case (null, null) => None
        case (mn, mx) => Some(if (takeMin) mn else mx)
      }) ++ defaulted
      // an empty vals means MIN/MAX over only-nulls -> SQL NULL (valid).
      // Ties (e.g. -0.0 vs 0.0, equal under SQL) keep the FIRST value,
      // mirroring the scan-side least/greatest first-seen-wins — so the
      // pushed and scanned answers render identically
      Some(GraftLakeStats.widen(vals.reduceOption((a, b) =>
        if (takeMin) { if (GraftLakeStats.lt(b, a)) b else a }
        else { if (GraftLakeStats.lt(a, b)) b else a }).orNull,
        typeOf(id)))
    }
    // COUNT(col) = Σ (rows − nulls) over carrying files; a file that
    // predates the column contributes its LIVE row count when a non-null
    // exists-default was declared (every live row serves it), else 0
    // (all NULL). Refused when a carrying file lacks a null count or
    // holds a DV (dead rows' nullness is not in the manifest).
    def countCol(fs: Vector[GraftLakeFile], id: Int): Option[Any] = {
      val dflt = colDefaults.get(id).orNull
      val parts = fs.map { f =>
        if (f.cols.contains(id)) {
          if (snapshot.dvs.getOrElse(f.id, Set.empty).nonEmpty ||
              !f.nulls.contains(id)) None
          else Some(f.numRows - f.nulls(id))
        } else if (dflt != null)
          Some(f.numRows -
            snapshot.dvs.getOrElse(f.id, Set.empty).size.toLong)
        else Some(0L)
      }
      if (parts.exists(_.isEmpty)) None
      else Some(parts.flatten.sum: Any)
    }
    // SUM(col) for integral columns: Σ per-file overflow-checked sums
    // (exact and order-free for integers — doubles stay refused, their
    // scan answer is addition-order-dependent). Refused under a DV on a
    // carrying file (dead rows are inside the recorded sum) or any
    // missing/overflowed entry; a file that predates the column
    // contributes default × live-rows. All-null input → SQL NULL,
    // decided by the null counts.
    def sumCol(fs: Vector[GraftLakeFile], id: Int): Option[Any] = {
      val dflt: Any = colDefaults.get(id).orNull
      try {
        var total = 0L
        var nonNull = 0L
        fs.foreach { f =>
          if (f.cols.contains(id)) {
            if (snapshot.dvs.getOrElse(f.id, Set.empty).nonEmpty ||
                !f.sums.contains(id) || !f.nulls.contains(id))
              return None
            total = Math.addExact(total, f.sums(id))
            nonNull += f.numRows - f.nulls(id)
          } else dflt match {
            case null => ()
            case d =>
              val live = f.numRows -
                snapshot.dvs.getOrElse(f.id, Set.empty).size.toLong
              val dl = d match {
                case x: java.lang.Long => x.longValue()
                case x: java.lang.Integer => x.longValue()
                case _ => return None
              }
              total = Math.addExact(total, Math.multiplyExact(dl, live))
              nonNull += live
          }
        }
        if (nonNull == 0L) Some(null: Any) else Some(total: Any)
      } catch { case _: ArithmeticException => None }
    }
    def integral(id: Int): Boolean = typeOf(id) match {
      case LongType | org.apache.spark.sql.types.IntegerType => true
      case _ => false
    }
    // SUM(decimal): Σ per-file exact BigDecimal sums — decimal addition
    // is order-free like integers (the refused case stays DOUBLE, whose
    // scan answer depends on addition order). Same refusal discipline:
    // DV on a carrying file, missing manifest entry, or a total that
    // does not fit Spark's decimal(p+10, s) sum type → scan. A file
    // predating the column contributes default × live-rows; all-null →
    // SQL NULL via the null counts.
    def sumDecCol(fs: Vector[GraftLakeFile], id: Int,
        rt: org.apache.spark.sql.types.DecimalType): Option[Any] = {
      val dflt: Any = colDefaults.get(id).orNull
      var total = java.math.BigDecimal.ZERO
      var nonNull = 0L
      fs.foreach { f =>
        if (f.cols.contains(id)) {
          if (snapshot.dvs.getOrElse(f.id, Set.empty).nonEmpty ||
              !f.dsums.contains(id) || !f.nulls.contains(id))
            return None
          total = total.add(f.dsums(id))
          nonNull += f.numRows - f.nulls(id)
        } else dflt match {
          case null => ()
          case d: org.apache.spark.sql.types.Decimal =>
            val live = f.numRows -
              snapshot.dvs.getOrElse(f.id, Set.empty).size.toLong
            total = total.add(d.toJavaBigDecimal
              .multiply(java.math.BigDecimal.valueOf(live)))
            nonNull += live
          case _ => return None
        }
      }
      if (nonNull == 0L) Some(null: Any)
      else {
        val dec = org.apache.spark.sql.types.Decimal(total)
        if (dec.changePrecision(rt.precision, rt.scale)) Some(dec: Any)
        else None // result overflows the SQL sum type: let the scan decide
      }
    }
    // live counts for the eq-affected candidates, computed ONCE for
    // all groups (the one-time distributed probe pass, memoized by the
    // parent table) — only forced when the aggregation survives every
    // other admissibility check
    lazy val eqLiveMap: Option[Map[String, Long]] = {
      val affected = candidates.filter(f => eqAffected.contains(f.id))
      if (affected.isEmpty) Some(Map.empty)
      else eqLive(snapshot, affected)
    }
    // per-aggregate (name, type, per-group evaluator), or bail out
    val aggCols: Seq[Option[(String, DataType,
        Vector[GraftLakeFile] => Option[Any])]] =
      agg.aggregateExpressions().toSeq.map {
        case _: CountStar =>
          Some(("COUNT(*)", LongType: DataType,
            (fs: Vector[GraftLakeFile]) => {
              val (eqd, plain) =
                fs.partition(f => eqAffected.contains(f.id))
              val base = plain.map(f => f.numRows -
                snapshot.dvs.getOrElse(f.id, Set.empty).size.toLong).sum
              if (eqd.isEmpty) Some(base: Any)
              else eqLiveMap.map(m =>
                (base + eqd.map(f => m(f.id)).sum): Any)
            }))
        case c: Count if !c.isDistinct => colId(c.column()).map(id =>
          (s"COUNT(${idToName(id)})", LongType: DataType,
            (fs: Vector[GraftLakeFile]) => countCol(fs, id)))
        case m: Min => colId(m.column()).map(id =>
          (s"MIN(${idToName(id)})", typeOf(id),
            (fs: Vector[GraftLakeFile]) => extreme(fs, id, takeMin = true)))
        case m: Max => colId(m.column()).map(id =>
          (s"MAX(${idToName(id)})", typeOf(id),
            (fs: Vector[GraftLakeFile]) => extreme(fs, id, takeMin = false)))
        case sm: Sum if !sm.isDistinct =>
          colId(sm.column()).flatMap(id => typeOf(id) match {
            case LongType | org.apache.spark.sql.types.IntegerType =>
              // Spark's Sum over int/long yields LONG
              Some((s"SUM(${idToName(id)})", LongType: DataType,
                (fs: Vector[GraftLakeFile]) => sumCol(fs, id)))
            case d: org.apache.spark.sql.types.DecimalType =>
              // Spark's Sum over decimal(p, s) yields decimal(p+10, s)
              // capped at 38 — order-free exact arithmetic, pushable
              val rt = org.apache.spark.sql.types.DecimalType(
                math.min(38, d.precision + 10), d.scale)
              Some((s"SUM(${idToName(id)})", rt: DataType,
                (fs: Vector[GraftLakeFile]) => sumDecCol(fs, id, rt)))
            case _ => None // DOUBLE refused: scan order-dependent
          })
        // AVG(integral) = the already-pushable SUM/COUNT pair, divided
        // the way Spark's Average does (cast both to double) — any
        // refusal in either leg refuses the AVG
        case a: Avg if !a.isDistinct =>
          colId(a.column()).filter(integral).map(id =>
            (s"AVG(${idToName(id)})",
              org.apache.spark.sql.types.DoubleType: DataType,
              (fs: Vector[GraftLakeFile]) =>
                sumCol(fs, id).zip(countCol(fs, id)).map {
                  case (s, c) =>
                    val cnt = c.asInstanceOf[Long]
                    if (s == null || cnt == 0L) null
                    else Double.box(
                      s.asInstanceOf[Long].toDouble / cnt.toDouble)
                }))
        case _ => None
      }
    if (aggCols.exists(_.isEmpty)) return None
    val evals = aggCols.flatten
    // force the probe pass NOW, after every cheap admissibility check:
    // if it cannot run (no active session) the whole pushdown refuses
    // BEFORE group-liveness decisions depend on it
    if (candidates.exists(f => eqAffected.contains(f.id)) &&
        eqLiveMap.isEmpty) return None

    // a group whose every row is deletion-vector-dead (or equality-
    // deleted) has NO live rows: SQL emits no group for it (the
    // ungrouped single row stays — an empty table still answers
    // COUNT(*) = 0 / MIN = NULL)
    val liveGroups = grouped.get.filter { case (_, fs) =>
      groupIds.get.isEmpty || fs.exists { f =>
        if (eqAffected.contains(f.id))
          eqLiveMap.exists(_.getOrElse(f.id, 0L) > 0)
        else f.numRows > snapshot.dvs.getOrElse(f.id, Set.empty).size
      }
    }
    // evaluate every aggregate for every group; any refusal kills all
    val maybeRows: Seq[Option[InternalRow]] =
      liveGroups.map { case (key, fs) =>
        val vs = evals.map(_._3(fs))
        if (vs.exists(_.isEmpty)) None
        else Some(new GenericInternalRow((key ++ vs.flatten).toArray))
      }
    if (maybeRows.exists(_.isEmpty)) return None
    val rows = maybeRows.flatten
    // scan output schema: group columns first, then aggregate columns —
    // Spark maps complete-pushdown output positionally
    val schema = StructType(
      groupIds.get.map(id => StructField(idToName(id), typeOf(id),
        nullable = true)) ++
        evals.map { case (n, t, _) => StructField(n, t, nullable = true) })
    Some((schema, rows))
  }

  override def build(): Scan = aggAnswer match {
    case Some((schema, rows)) => new GraftLakeAggScan(schema, rows)
    case None =>
      new GraftLakeScan(snapshot, kept, fullSchema, required, partSpec,
        rowLevel, currentIds, idToName, colDefaults, pspecId)
  }
}

/** The metadata-only answer to a completely-pushed aggregate: one
  * partition, one precomputed row PER GROUP (one total for ungrouped) —
  * no data file is ever opened. */
class GraftLakeAggScan(outSchema: StructType, rows: Seq[InternalRow])
    extends Scan with Batch {
  override def readSchema(): StructType = outSchema
  override def toBatch: Batch = this
  override def description(): String =
    s"GraftLakeAggScan[stats-only: ${outSchema.fieldNames.mkString(", ")}]"
  override def planInputPartitions(): Array[InputPartition] =
    Array(GraftLakeAggPartition(rows.toVector))
  override def createReaderFactory(): PartitionReaderFactory =
    new PartitionReaderFactory {
      override def createReader(
          p: InputPartition): PartitionReader[InternalRow] =
        new PartitionReader[InternalRow] {
          private val rs = p.asInstanceOf[GraftLakeAggPartition].rows
          private var i = -1
          override def next(): Boolean = { i += 1; i < rs.length }
          override def get(): InternalRow = rs(i)
          override def close(): Unit = ()
        }
    }
}

final case class GraftLakeAggPartition(rows: Vector[InternalRow])
    extends InputPartition

/** Scan over a committed file snapshot.
  *
  * An unpartitioned table ships ONE INPUT PARTITION PER FILE (natural
  * read parallelism, and the granularity runtime group filtering prunes
  * at). A `PARTITIONED BY (cols)` table ships one input partition per
  * distinct key, each tagged via [[HasPartitionKey]], and reports
  * [[KeyGroupedPartitioning]] — which is all Spark needs to plan a
  * STORAGE-PARTITIONED JOIN (SPARK-37375): two tables co-partitioned on
  * the join key join with ZERO exchange on either side, the DSv2
  * generalization of bucketed-join co-location that Iceberg/Delta use at
  * lake scale (`spark.sql.sources.v2.bucketing.enabled`).
  *
  * A row-level operation's scan (`rowLevel` set) additionally supports
  * RUNTIME V2 FILTERING on `_file`: Spark's group-filter rule hands it
  * `IN (_file, ...)` built from the matching-rows subquery, the scan
  * narrows its file set, and records the surviving group ids so the
  * ReplaceData commit replaces exactly those.
  *
  * PARTITIONED tables fall back to FILE-GRAINED partitions whenever the
  * scan needs `_file`/`_pos` (a row-level operation's scan, or any scan
  * projecting the metadata columns — including the group filter's
  * matching-rows subquery): keyed partitions interleave rows from many
  * files, so they cannot carry per-row file lineage. The fallback trades
  * the KeyGroupedPartitioning report (no SPJ for THAT scan) for working
  * row-level SQL — exactly Iceberg's shape, where a CoW rewrite reads
  * data files directly and only regular reads ride the partition
  * grouping. Regular scans without metadata columns keep the SPJ path. */
class GraftLakeScan(snapshot: GraftLakeSnapshot,
    kept: Vector[GraftLakeFile], fullSchema: StructType,
    requiredSchema: StructType, partSpec: Seq[GraftPartTransform],
    rowLevel: Option[GroupScanState],
    currentIds: () => Set[String] = () => Set.empty,
    idToName: Map[Int, String] = Map.empty,
    colDefaults: Map[Int, Any] = Map.empty,
    pspecId: Int = 0)
    extends Scan with Batch with SupportsReportPartitioning
    with SupportsRuntimeV2Filtering
    with org.apache.spark.sql.connector.read.SupportsReportOrdering
    with org.apache.spark.sql.connector.read.SupportsReportStatistics {

  // EXISTS-defaults resolved to current names once at planning: what a
  // file that predates an `ADD COLUMN ... DEFAULT` serves for the column
  private val nameDefaults: Map[String, Any] =
    colDefaults.flatMap { case (id, v) => idToName.get(id).map(_ -> v) }

  // STATIC min/max file skipping: `kept` holds the snapshot files the
  // builder's pushed predicates did not provably exclude. A row-level
  // operation's scanned-group set must shrink WITH the active set —
  // the ReplaceData commit replaces exactly `scanned`, and a group this
  // scan never reads must be CARRIED, not dropped.
  @volatile private var active: Vector[GraftLakeFile] = kept
  rowLevel.foreach(_.scanned = active.map(_.id).toSet)

  // per-file id manifest resolved to CURRENT names once at planning
  private def namesOf(f: GraftLakeFile): Seq[String] =
    GraftLakeFieldIds.resolve(f.cols, idToName)

  // file-grained partitions whenever per-row file lineage is required
  // (keyed partitions interleave files and cannot synthesize
  // _file/_pos), or when the CURRENT spec references a column this
  // scan's schema lacks — a VERSION AS OF pinned before the column was
  // added has no key to group on (spec evolution)
  private val fileGrained = partSpec.isEmpty || rowLevel.isDefined ||
    requiredSchema.fieldNames.exists(n =>
      n == GraftLakeTable.FileCol || n == GraftLakeTable.PosCol) ||
    !partSpec.forall(t => fullSchema.fieldNames.contains(t.srcCol))

  override def readSchema(): StructType = requiredSchema
  override def toBatch: Batch = this

  /** Post-pruning size estimate (SupportsReportStatistics): Spark folds
    * this into the relation AFTER pushdown, so a scan whose static
    * stats skipping kept 2 of 10k files reports the 2-file footprint —
    * and the planner BROADCASTS the filtered side without a hint, the
    * decision that matters most at lake scale (Iceberg reports exactly
    * this). The size is the active files' on-disk bytes. */
  override def estimateStatistics()
      : org.apache.spark.sql.connector.read.Statistics = {
    val liveRows = active.map(f =>
      f.numRows - snapshot.dvs.getOrElse(f.id, Set.empty).size.toLong).sum
    val size = active.map(_.bytes).sum
    // PER-COLUMN stats for the optimizer: HLL
    // registers from the write-time manifests merge associatively into
    // distinctCount, null counts sum, min/max reduce — Spark's
    // transformV2Stats turns these into catalyst ColumnStat, so
    // CostBasedJoinReorder works on lake tables WITHOUT ANALYZE (the
    // Iceberg sketch-in-metadata shape). Post-pruning (`active`), so a
    // filtered scan reports the surviving files' stats. Estimates only:
    // a DV'd/eq-deleted row still counts here, which CBO tolerates.
    // MEMOIZED per active-set identity: Spark may ask for statistics
    // more than once while planning, and the merge is O(files ×
    // columns × registers) driver work that would repeat verbatim.
    val colStats = colStatsMemo match {
      case Some((key, cached)) if key eq active => cached
      case _ =>
        val computed = computeColStats()
        colStatsMemo = Some((active, computed))
        computed
    }
    new org.apache.spark.sql.connector.read.Statistics {
      override def sizeInBytes(): java.util.OptionalLong =
        java.util.OptionalLong.of(size)
      override def numRows(): java.util.OptionalLong =
        java.util.OptionalLong.of(liveRows)
      override def columnStats(): java.util.Map[NamedReference,
        org.apache.spark.sql.connector.read.colstats.ColumnStatistics] =
        colStats
    }
  }

  private var colStatsMemo: Option[(Seq[GraftLakeFile],
    java.util.Map[NamedReference,
      org.apache.spark.sql.connector.read.colstats.ColumnStatistics])] =
    None

  private def computeColStats(): java.util.Map[NamedReference,
      org.apache.spark.sql.connector.read.colstats.ColumnStatistics] = {
    val nameToId = idToName.map(_.swap)
    val colStats = new java.util.HashMap[NamedReference,
      org.apache.spark.sql.connector.read.colstats.ColumnStatistics]()
    if (active.nonEmpty) fullSchema.fields.foreach { fld =>
      nameToId.get(fld.name).foreach { id =>
        val allCarry = active.forall(_.cols.contains(id))
        val ndvOpt =
          if (allCarry && active.forall(_.ndv.contains(id)))
            Some(GraftLakeStats.ndvEstimate(
              active.map(_.ndv(id)).reduce(GraftLakeStats.ndvMerge)))
          else None
        val nullsOpt =
          if (allCarry && active.forall(_.nulls.contains(id)))
            Some(active.map(_.nulls(id)).sum)
          else None
        // min/max only for types whose INTERNAL value is the number
        // the estimator compares (strings/binary are not consulted)
        val numeric = fld.dataType match {
          case LongType | org.apache.spark.sql.types.IntegerType |
               org.apache.spark.sql.types.DoubleType |
               org.apache.spark.sql.types.FloatType |
               org.apache.spark.sql.types.DateType |
               org.apache.spark.sql.types.TimestampType |
               org.apache.spark.sql.types.TimestampNTZType => true
          case _ => false
        }
        val mmOpt: Option[(Any, Any)] =
          if (!numeric || !allCarry ||
            !active.forall(_.stats.get(id).exists(_._1 != null))) None
          else {
            val mms = active.map(_.stats(id))
            Some((
              GraftLakeStats.widen(mms.map(_._1).reduce((a, b) =>
                if (GraftLakeStats.lt(b, a)) b else a), fld.dataType),
              GraftLakeStats.widen(mms.map(_._2).reduce((a, b) =>
                if (GraftLakeStats.lt(a, b)) b else a), fld.dataType)))
          }
        if (ndvOpt.isDefined || nullsOpt.isDefined || mmOpt.isDefined)
          colStats.put(Expressions.column(fld.name),
            new org.apache.spark.sql.connector.read.colstats
              .ColumnStatistics {
              override def distinctCount(): java.util.OptionalLong =
                ndvOpt.map(java.util.OptionalLong.of)
                  .getOrElse(java.util.OptionalLong.empty())
              override def nullCount(): java.util.OptionalLong =
                nullsOpt.map(java.util.OptionalLong.of)
                  .getOrElse(java.util.OptionalLong.empty())
              override def min(): java.util.Optional[Object] =
                mmOpt.map(v => java.util.Optional.of(v._1.asInstanceOf[
                  Object])).getOrElse(java.util.Optional.empty[Object]())
              override def max(): java.util.Optional[Object] =
                mmOpt.map(v => java.util.Optional.of(v._2.asInstanceOf[
                  Object])).getOrElse(java.util.Optional.empty[Object]())
            })
      }
    }
    colStats
  }

  // Runtime (DPP-style) filterable attributes: the row-level group
  // filter probes on `_file`; a REGULAR scan of a transform-partitioned
  // table reports its partition SOURCE columns (Iceberg reports
  // exactly these), so a join keyed on them ships the build side's
  // value set here and [[filter]] prunes FILES before any task runs —
  // at 100 TB, a fact-dim join reads only the dim-selected days/buckets
  // instead of every file surviving static pruning.
  override def filterAttributes(): Array[NamedReference] = {
    if (rowLevel.isDefined)
      return Array(Expressions.column(GraftLakeTable.FileCol))
    // a CLUSTERED table's files are range-pure on the cluster key, so
    // the key earns runtime pruning exactly like a partition source —
    // the `CALL system.cluster` payoff extends from static to runtime
    // filters (reported only when every active file shares the key)
    val clusterCol =
      if (partSpec.isEmpty && active.nonEmpty) {
        val heads = active.map(_.sortedBy.headOption)
        if (heads.forall(_.isDefined) && heads.distinct.length == 1)
          idToName.get(heads.head.get).toSeq
        else Nil
      } else Nil
    // only columns this scan actually READS: Spark resolves these
    // against the scan's output, so reporting a pruned-away source
    // column (e.g. a merge-on-read op scan projecting just key +
    // _file/_pos) would fail analysis
    (partSpec.map(_.srcCol) ++ clusterCol).distinct
      .filter(requiredSchema.fieldNames.contains)
      .map(Expressions.column).toArray
  }

  override def filter(predicates: Array[Predicate]): Unit = {
    // runtime DATA predicates (the join's IN-set over a partition
    // source column): files whose stats provably exclude every value
    // are dropped — the same `mayMatch` soundness contract as static
    // skipping, applied at runtime. Row-level scans narrow on `_file`
    // only (their scanned-set contract below).
    if (rowLevel.isEmpty && predicates.nonEmpty) {
      // BOUND the driver-side work: a runtime IN-set is the build side's
      // whole key set and Spark does not cap it for V2 filtering — an
      // unbounded set makes this loop O(files × values) on the driver.
      // Pruning is optional (the join still filters), so oversized
      // predicates are simply not used.
      val usable = predicates.filter(p =>
        p.name() != "IN" || p.children().length <= 1001)
      val nameToId = idToName.map(_.swap)
      if (usable.nonEmpty)
        active = active.filter(f =>
          GraftLakeStats.mayMatch(f, usable.toSeq, nameToId, colDefaults))
    }
    val keeps = predicates.flatMap(fileIdsOf)
    if (keeps.nonEmpty) {
      // SNAPSHOT-DIVERGENCE validation: the group-filter
      // subquery plans through the table's REGULAR newScanBuilder (Spark's
      // RowLevelOperationRuntimeGroupFiltering deliberately swaps the
      // row-level operation table for the original one "to leverage a
      // regular batch scan"), which takes a FRESH snapshot — while this
      // operation scan and its commit use the snapshot pinned at operation
      // creation. A commit landing between the two snapshots could
      // otherwise narrow `active` with ids from the wrong universe and
      // silently no-op the matched-row updates without ever tripping the
      // replaceGroups conflict check. File ids are NEVER reused (fileSeq
      // is monotonic), so divergence is detectable exactly:
      //  - an op-snapshot file missing from the CURRENT state proves a
      //    concurrent replace/compact since this operation's snapshot;
      //  - a subquery id outside the op universe proves the subquery saw
      //    files committed after it.
      // Either way the statement's read no longer reflects a single
      // snapshot — abort loudly (Iceberg validateDataFilesExist applied
      // at scan-narrowing time), the same retry contract as the commit.
      rowLevel.foreach { _ =>
        val opIds = snapshot.files.map(_.id).toSet
        val replaced = opIds -- currentIds()
        if (replaced.nonEmpty) throw new IllegalStateException(
          "write conflict: file group(s) " + replaced.mkString(", ") +
            " from this row-level operation's snapshot were replaced by a " +
            "concurrent commit before its runtime group filter ran — " +
            "retry the statement against the current state")
        val unknown = keeps.flatten.toSet -- opIds
        if (unknown.nonEmpty) throw new IllegalStateException(
          "write conflict: the runtime group-filter subquery returned file " +
            "group(s) " + unknown.mkString(", ") + " unknown to this " +
            "row-level operation's snapshot — a concurrent commit landed " +
            "between the subquery's snapshot and the operation's; retry " +
            "the statement against the current state")
      }
      val keep = keeps.reduce(_ intersect _)
      active = active.filter(f => keep.contains(f.id))
      rowLevel.foreach(_.scanned = active.map(_.id).toSet)
    }
  }

  /** Parse `_file IN (...)` / `_file = v` into the kept id set; any
    * other predicate is ignored (conservative: no narrowing). */
  private def fileIdsOf(p: Predicate): Option[Set[String]] = {
    def isFileRef(e: org.apache.spark.sql.connector.expressions.Expression) =
      e match {
        case r: NamedReference =>
          r.fieldNames().sameElements(Array(GraftLakeTable.FileCol))
        case _ => false
      }
    val kids = p.children()
    p.name() match {
      case "IN" if kids.nonEmpty && isFileRef(kids.head) =>
        Some(kids.tail.collect {
          case l: org.apache.spark.sql.connector.expressions.Literal[_] =>
            String.valueOf(l.value)
        }.toSet)
      case "=" if kids.length == 2 && isFileRef(kids.head) =>
        kids(1) match {
          case l: org.apache.spark.sql.connector.expressions.Literal[_] =>
            Some(Set(String.valueOf(l.value)))
          case _ => None
        }
      case _ => None
    }
  }

  override def outputPartitioning(): Partitioning =
    if (!keyedPlanning) new UnknownPartitioning(active.length.max(1))
    else new KeyGroupedPartitioning(
      partSpec.map(_.toV2).toArray[
        org.apache.spark.sql.connector.expressions.Expression],
      fileKeyGroups().length)

  /** Is the WHOLE scan globally ordered on its files' first sort
    * column — partitions planned in file order, each an ascending run,
    * consecutive ranges nondecreasing (manifest min/max), nulls (which
    * sort first) confined to the leading files? Then concatenating the
    * partitions in index order IS the globally sorted relation, and
    * [[graft.plans.OrderedScanSortElision]] may drop a single-key
    * global Sort (+ its range exchange) outright — the planner-visible
    * payoff of `CALL system.cluster`. Stats bound dead (DV'd) rows too,
    * so DV filtering cannot break the claim. */
  private[graft] lazy val isGloballyOrdered: Boolean = {
    if (!fileGrained || active.isEmpty) false
    else {
      val heads = active.map(_.sortedBy.headOption)
      heads.forall(_.isDefined) && heads.distinct.length == 1 && {
        val id = heads.head.get
        active.forall(f => f.stats.contains(id) && f.nulls.contains(id)) && {
          val nonNullIdx =
            active.indices.filter(i => active(i).stats(id)._1 != null)
          val allNullIdx =
            active.indices.filterNot(nonNullIdx.contains)
          // all-NULL files strictly precede every value-bearing file
          val nullsFront =
            allNullIdx.forall(i => nonNullIdx.forall(_ > i))
          // only the FIRST value-bearing file may contain nulls
          val innerNullsOk =
            nonNullIdx.drop(1).forall(i => active(i).nulls(id) == 0L)
          // consecutive ranges nondecreasing: min(next) >= max(prev)
          val chain = nonNullIdx.map(active(_)).sliding(2).forall {
            case Seq(a, b) =>
              !GraftLakeStats.lt(b.stats(id)._1, a.stats(id)._2)
            case _ => true
          }
          nullsFront && innerNullsOk && chain
        }
      }
    }
  }

  /** Per-partition SORT ORDER (SupportsReportOrdering): each
    * file-grained partition is one file, and files written by
    * `CALL system.cluster` are ascending runs on the cluster key — the
    * manifest records it ([[GraftLakeFile.sortedBy]]). Report the
    * common sorted prefix across ALL active files (resolved to live,
    * still-projected names) so a downstream per-partition sort on the
    * key is ELIDED (RemoveRedundantSorts), and a single-partition
    * global ORDER BY needs no sort at all. DV filtering and schema
    * normalization both preserve row order, so the stamp survives them.
    * Keyed (transform-partitioned) scans interleave files and report
    * nothing. */
  override def outputOrdering()
      : Array[org.apache.spark.sql.connector.expressions.SortOrder] = {
    if (!fileGrained || active.isEmpty) return Array.empty
    val runs = active.map(_.sortedBy)
    if (runs.exists(_.isEmpty)) return Array.empty
    val common = runs.reduce((a, b) =>
      a.zip(b).takeWhile { case (x, y) => x == y }.map(_._1))
    common.iterator
      .map(id => idToName.get(id)) // a dropped sort id ends the prefix
      .takeWhile(n => n.exists(requiredSchema.fieldNames.contains))
      .flatten
      .map(n => Expressions.sort(Expressions.column(n),
        org.apache.spark.sql.connector.expressions.SortDirection.ASCENDING,
        org.apache.spark.sql.connector.expressions.NullOrdering.NULLS_FIRST))
      .toArray
  }

  private def filePartOf(f: GraftLakeFile): GraftLakeFilePartition =
    GraftLakeFilePartition.of(f, snapshot.dvs.getOrElse(f.id, Set.empty),
      namesOf(f),
      // equality-delete probes, resolved to the file's own column
      // POSITION — the task reads the keys parquet itself (metadata-only
      // planning; a file predating the key column has nothing to match)
      snapshot.eqs.flatMap(_.probeFor(f)))

  /** Every active file partition-pure AND stamped under the CURRENT
    * spec: a tuple evaluated under an older spec is a different key
    * space — trusting it would group (and SPJ-align) rows wrongly. */
  private def metaKeyed: Boolean =
    active.nonEmpty &&
      active.forall(f => f.pkey.isDefined && f.pspecId == pspecId)

  /** May this scan report KeyGroupedPartitioning? Only when the key
    * grouping is pure metadata: every active file PARTITION-PURE
    * (fanout-written, key stamped in the manifest under the current
    * spec). A table whose stamps don't qualify (pre-fanout files, or a
    * spec evolution awaiting its rewrite) reports UnknownPartitioning,
    * so joins SHUFFLE rather than pulling the lake through the driver
    * at plan time. */
  private def keyedPlanning: Boolean = !fileGrained && metaKeyed

  /** The active files grouped by their stamped key tuple, in a
    * deterministic order; recomputed from `active`, so a runtime filter
    * that pruned files reports the surviving subset of keys. */
  private def fileKeyGroups(): Array[(InternalRow, Vector[GraftLakeFile])] =
    active.groupBy(_.pkey.get).toArray
      .sortBy(_._1.map(String.valueOf).mkString("\u0000"))
      .map { case (k, fs) => (new GenericInternalRow(k.toArray): InternalRow,
        fs) }

  override def planInputPartitions(): Array[InputPartition] =
    // partitions ship only file PATHS and manifests; tasks decode
    if (!keyedPlanning) active.map(filePartOf).toArray
    else
      // per-key FILE LISTS: decode + schema-normalization + DV
      // filtering all happen in tasks (the same reader as the
      // file-grained path, chained per file)
      fileKeyGroups().map { case (k, fs) =>
        GraftLakeKeyedFilesPartition(fs.map(filePartOf), k): InputPartition }

  override def createReaderFactory(): PartitionReaderFactory =
    new GraftLakeReaderFactory(requiredSchema, nameDefaults)
}

/** `deleted` is the file's deletion vector as a SORTED primitive
  * array: the split ships to every scan task, and a boxed Set[Long]
  * with ~1M positions serializes to ~20 MB per task (Spark's
  * large-task warning at sf1); the array is 8 bytes/position and
  * membership is a binary search. */
final case class GraftLakeFilePartition(
    fileId: String, deleted: Array[Long], cols: Seq[String],
    path: String, types: Seq[DataType], pnames: Seq[String],
    // unresolved equality deletes this file is subject to: (column
    // position in the FILE layout, the delete)
    eqProbes: Seq[(Int, GraftEqDelete)] = Nil,
    // the change feed's DV growth/shrink legs: positions to emit
    // EXCLUSIVELY (SORTED); overrides `deleted` when set
    keepOnly: Option[Array[Long]] = None,
    // the change feed's new-epoch delete leg: emit ONLY rows whose key
    // hits this probe (applied after `eqProbes`)
    eqKeep: Option[(Int, GraftEqDelete)] = None)
    extends InputPartition

object GraftLakeFilePartition {
  /** File `f` under deletion vector `dv` and `eqProbes`, its columns
    * resolved to `cols`. */
  def of(f: GraftLakeFile, dv: Set[Long], cols: Seq[String],
      eqProbes: Seq[(Int, GraftEqDelete)]): GraftLakeFilePartition =
    GraftLakeFilePartition(f.id, dv.toArray.sorted, cols, f.path, f.types,
      f.pnames, eqProbes)
}

/** One partition key's PARTITION-PURE files: the keyed (SPJ) input
  * split that ships paths/manifests instead of rows — tasks decode,
  * normalize and DV-filter each file themselves,
  * so a partitioned lake scan's driver cost is pure metadata. */
final case class GraftLakeKeyedFilesPartition(
    files: Seq[GraftLakeFilePartition], key: InternalRow)
    extends InputPartition with HasPartitionKey {
  override def partitionKey(): InternalRow = key
}

/** One changed file in one commit: the unit of change-feed parallelism.
  * The partition ships the file's PATH plus a row selection and the
  * task decodes — the driver plans the feed from metadata alone. The
  * selection rides the file partition: `deleted` (the DV at the
  * emitting snapshot) or `keepOnly` (DV growth/shrink legs), then
  * `eqProbes` (rows already equality-deleted at the emitting snapshot)
  * and `eqKeep` (a new epoch's delete leg). Rows keep their ORIGINAL
  * in-file positions so `_pos` stays the stable merge-on-read row id
  * even for rows surfaced as deletes. */
final case class GraftLakeChangePartition(file: GraftLakeFilePartition,
    changeType: String, version: Long) extends InputPartition

/** Change-feed scan over a commit-history slice: emits the row-level
  * diff of each consecutive snapshot pair as insert/delete partitions.
  * The diff is computed from file IDENTITY (ids are never reused), so
  * its cost is proportional to the files each commit touched:
  *  - a file present in `cur` but not `prev` → its rows as inserts
  *    (new files are born DV-free; deltas only target existing files);
  *  - a file present in `prev` but not `cur` → its prev-LIVE rows as
  *    deletes (a CoW group rewrite = that delete + the new file's
  *    insert, which is exactly the update-as-delete+insert contract);
  *  - a surviving file whose deletion vector GREW → the newly dead
  *    positions as deletes (the merge-on-read delta shape);
  *  - a commit carrying a NEW equality-delete epoch (streaming upsert)
  *    → per prior applicable file, a delete partition whose TASK
  *    enumerates the leg by probing the file's live rows against the
  *    epoch's keys parquet (the delete is row-content-defined, so the
  *    driver ships probe specs, never rows).
  * Commits flagged dataChange = false (DV compaction) are skipped:
  * they reorganize storage without changing the relation. */
class GraftLakeChangeFeedScanBuilder(
    history: Vector[(GraftLakeSnapshot, Boolean)], fromVersion: Int,
    fullSchema: StructType, idToName: Map[Int, String],
    colDefaults: Map[Int, Any] = Map.empty)
    extends ScanBuilder with SupportsPushDownRequiredColumns {
  private var required: StructType = fullSchema
  // column-granular only — see GraftLakeScanBuilder.pruneColumns
  override def pruneColumns(requiredSchema: StructType): Unit =
    required = GraftLakeReaders.columnGranular(requiredSchema, fullSchema)

  override def build(): Scan = new Scan with Batch {
    override def readSchema(): StructType = required
    override def toBatch: Batch = this
    override def createReaderFactory(): PartitionReaderFactory =
      new GraftLakeReaderFactory(required,
        colDefaults.flatMap { case (id, v) =>
          idToName.get(id).map(_ -> v) })
    override def planInputPartitions(): Array[InputPartition] =
      GraftLakeChanges.partitions(history, fromVersion, idToName)
  }
}

/** A control-plane-sized metadata table `<table>.<suffix>`: `rowsFor`
  * builds its rows on the driver (from the scan's options) when a scan
  * is built, and the scan plans as a driver-local [[LocalScan]]. */
abstract class GraftLakeMetaTable(parent: GraftLakeTable, suffix: String,
    metaSchema: StructType)(rowsFor: CaseInsensitiveStringMap => Array[InternalRow])
    extends Table with SupportsRead {
  override def name(): String = parent.name() + "." + suffix
  override def schema(): StructType = metaSchema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(
      options: CaseInsensitiveStringMap): ScanBuilder = () => {
    val rs = rowsFor(options)
    new org.apache.spark.sql.connector.read.LocalScan {
      override def readSchema(): StructType = metaSchema
      override def rows(): Array[InternalRow] = rs
      override def description(): String =
        s"GraftLake${suffix.capitalize}[${parent.name()}]"
    }
  }
}

/** The `graft.snapshot-version` read option, if set. */
private object GraftLakeMetaTable {
  def asOf(options: CaseInsensitiveStringMap): Option[Int] =
    Option(options.get("graft.snapshot-version")).map(_.trim.toInt)
}

/** `<catalog>.<table>.files` — the MANIFEST as a queryable relation
  * (Iceberg's files metadata table): one row per data file with its
  * row/live/DV-dead counts, on-disk bytes, resolved column manifest and
  * the column-level stats (null counts, min/max) that drive pruning and
  * scan-less aggregates. Stats values are string-rendered INTERNAL
  * representations (dates as day ordinals, timestamps as micros — the
  * exact values the pruning comparisons run on). Time travel composes:
  * the manifest AT a version is how a user audits what an AS-OF read
  * would scan, resolved through the VERSION's id→name mapping, so the
  * audit shows the names that version actually served. */
class GraftLakeFilesTable(parent: GraftLakeTable)
    extends GraftLakeMetaTable(parent, "files", StructType(Seq(
      StructField("file", StringType, nullable = false),
      StructField("path", StringType, nullable = true),
      StructField("row_count", LongType, nullable = false),
      StructField("live_rows", LongType, nullable = false),
      StructField("dv_dead", LongType, nullable = false),
      StructField("size_bytes", LongType, nullable = false),
      // partition-pure files render their key tuple; spec_id says which
      // partition spec evaluated it (Iceberg files-table columns)
      StructField("partition", StringType, nullable = true),
      StructField("spec_id",
        org.apache.spark.sql.types.IntegerType, nullable = false),
      StructField("columns", ArrayType(StringType), nullable = false),
      StructField("null_counts", ArrayType(LongType), nullable = false),
      StructField("min_values", ArrayType(StringType), nullable = false),
      StructField("max_values", ArrayType(StringType), nullable = false))))(
      options => {
      val asOf = GraftLakeMetaTable.asOf(options)
      val snap = asOf.map(parent.snapshotAt).getOrElse(parent.snapshot)
      val i2n = asOf.map(parent.idToNameAt).getOrElse(parent.idToName)
      def strings(vs: Seq[Any]) =
        new org.apache.spark.sql.catalyst.util.GenericArrayData(vs.map(v =>
          if (v == null) null else UTF8String.fromString(String.valueOf(v)))
          .toArray[Any])
      snap.files.map { f =>
        val dead = snap.dvs.getOrElse(f.id, Set.empty).size.toLong
        // dropped ids surface readably instead of via the NUL sentinel
        val names = GraftLakeFieldIds.resolve(f.cols, i2n)
          .map(n => if (n.startsWith("\u0000dropped#"))
            "<" + n.substring(1) + ">" else n)
        new GenericInternalRow(Array[Any](
          UTF8String.fromString(f.id),
          UTF8String.fromString(f.path),
          f.numRows, f.numRows - dead, dead, f.bytes,
          f.pkey.map(k => UTF8String.fromString(
            k.map(String.valueOf).mkString("[", ", ", "]"))).orNull,
          f.pspecId,
          strings(names),
          new org.apache.spark.sql.catalyst.util.GenericArrayData(
            f.cols.map(id => f.nulls.get(id).map(Long.box).orNull: Any)
              .toArray),
          strings(f.cols.map(id => f.stats.get(id).map(_._1).orNull)),
          strings(f.cols.map(id => f.stats.get(id).map(_._2).orNull))))
          : InternalRow
      }.toArray
    })

/** A read-only view of `parent` pinned at commit `version` — what
  * `VERSION AS OF` / `TIMESTAMP AS OF` resolves to. The pin is
  * SCHEMA-FAITHFUL: `schema()` is the schema the version was COMMITTED
  * under (per-commit schema record), so a pre-ALTER pin still serves a
  * since-dropped column and does not back-fill a since-added one — the
  * Delta/Iceberg snapshot-schema contract. The scan rides
  * [[GraftLakeTable.scanBuilderAt]] (same snapshot-selection machinery
  * as the read-option spelling, including scan-less aggregates over the
  * pinned manifest, but resolving names/defaults through the version's
  * own triple). Writes are not a capability: time travel is a read. */
class GraftLakePinnedTable(parent: GraftLakeTable, version: String)
    extends Table with SupportsRead with SupportsMetadataColumns {
  override def name(): String = s"${parent.name()}@v$version"
  override def schema(): StructType =
    parent.schemaInfoAt(version.toInt)._1
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)
  // metadata columns delegate to the parent: `SELECT _file FROM t
  // VERSION AS OF v` must resolve exactly like the read-option spelling
  // of the same snapshot read
  override def metadataColumns(): Array[MetadataColumn] =
    parent.metadataColumns()
  override def newScanBuilder(
      options: CaseInsensitiveStringMap): ScanBuilder =
    parent.scanBuilderAt(version.toInt)
}

/** `SELECT ... FROM t VERSION AS OF '<branch>'` — the AUDIT read of
  * write-audit-publish: the branch's staged head, invisible to every
  * main read path until `CALL system.fast_forward` publishes it. */
class GraftLakeBranchTable(parent: GraftLakeTable, branch: String)
    extends Table with SupportsRead with SupportsMetadataColumns {
  override def name(): String = s"${parent.name()}@$branch"
  override def schema(): StructType = parent.schema()
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)
  override def metadataColumns(): Array[MetadataColumn] =
    parent.metadataColumns()
  override def newScanBuilder(
      options: CaseInsensitiveStringMap): ScanBuilder =
    parent.scanBuilderForBranch(branch)
}

/** `<catalog>.<table>.refs` — one row per named ref (Iceberg's refs
  * metadata table): tags pin a retained version against expiry;
  * branches report their fork base and how many commits are still
  * staged (unpublished). */
class GraftLakeRefsTable(parent: GraftLakeTable)
    extends GraftLakeMetaTable(parent, "refs", StructType(Seq(
      StructField("name", StringType, nullable = false),
      StructField("type", StringType, nullable = false),
      StructField("version",
        org.apache.spark.sql.types.IntegerType, nullable = false),
      StructField("staged_commits",
        org.apache.spark.sql.types.IntegerType, nullable = false))))(_ =>
      parent.refEntries.map { case (n, tpe, v, staged) =>
        new GenericInternalRow(Array[Any](UTF8String.fromString(n),
          UTF8String.fromString(tpe), v, staged)): InternalRow
      }.toArray)

/** `<catalog>.<table>.partitions` — the per-partition summary of the
  * current (or AS-OF) snapshot (Iceberg's partitions metadata table):
  * one row per distinct partition tuple with its file count, stored /
  * live row counts and byte size; unpartitioned files (or pre-spec
  * files without a stamp) aggregate under the NULL partition. This is
  * the table an operator reads before choosing compaction targets or
  * auditing skew. `n_live_rows` is EXACT even under unresolved
  * EQUALITY-DELETE debt: when the snapshot carries unresolved
  * epochs, the summary routes through the scan-less COUNT's key-probe
  * machinery ([[GraftLakeTable.eqLiveCounts]]) — the first read pays
  * the one-task-per-file probe pass, every later read answers from the
  * memo, so an operator choosing compaction targets on a CDC table no
  * longer reads inflated counts. Without eq debt (the common case) the
  * counts stay pure metadata math (stored − DV dead), zero data reads;
  * the probe also degrades to DV-only if no Spark session can run the
  * probe job (never in practice — the scan exists because a session
  * asked for it). */
class GraftLakePartitionsTable(parent: GraftLakeTable)
    extends GraftLakeMetaTable(parent, "partitions", StructType(Seq(
      StructField("partition", StringType, nullable = true),
      StructField("spec_id",
        org.apache.spark.sql.types.IntegerType, nullable = false),
      StructField("n_files",
        org.apache.spark.sql.types.IntegerType, nullable = false),
      StructField("n_rows", LongType, nullable = false),
      StructField("n_live_rows", LongType, nullable = false),
      StructField("size_bytes", LongType, nullable = false))))(options => {
      val snap = GraftLakeMetaTable.asOf(options).map(parent.snapshotAt)
        .getOrElse(parent.snapshot)
      // exact per-file live counts when eq-delete debt is unresolved —
      // memoized probe pass, metadata-only otherwise (or on no-session)
      val probed: Map[String, Long] =
        if (snap.eqs.isEmpty) Map.empty
        else parent.eqLiveCounts(snap, snap.files).getOrElse(Map.empty)
      snap.files
        .groupBy(f => (f.pkey, f.pspecId)).toSeq
        .sortBy { case ((k, sid), _) =>
          (k.map(_.map(String.valueOf).mkString(",")).getOrElse(""), sid) }
        .map { case ((pkey, sid), fs) =>
          val stored = fs.map(_.numRows).sum
          val live = fs.map(f => probed.getOrElse(f.id,
            f.numRows - snap.dvs.getOrElse(f.id, Set.empty).size.toLong))
            .sum
          new GenericInternalRow(Array[Any](
            pkey.map(k => UTF8String.fromString(
              k.map(String.valueOf).mkString("[", ", ", "]"))).orNull,
            sid, fs.length, stored, live,
            fs.map(_.bytes).sum)): InternalRow
        }.toArray
    })

/** `<catalog>.<table>.history` — one row per RETAINED commit (Delta's
  * DESCRIBE HISTORY / Iceberg's snapshots metadata table): version,
  * whether the commit changed the RELATION (`data_change = false` for
  * maintenance rewrites — compaction, clustering — which the change
  * feed also skips), and the snapshot's file/row/byte footprint. The
  * table's floor rises when `expire_versions` runs: expired commits
  * disappear here exactly when time travel to them starts failing.
  * Time travel composes like on `.files`: the history AS OF v is every
  * retained commit up to v (the version must itself be retained). */
class GraftLakeHistoryTable(parent: GraftLakeTable)
    extends GraftLakeMetaTable(parent, "history", StructType(Seq(
      StructField("version",
        org.apache.spark.sql.types.IntegerType, nullable = false),
      StructField("commit_time",
        org.apache.spark.sql.types.TimestampType, nullable = false),
      StructField("data_change",
        org.apache.spark.sql.types.BooleanType, nullable = false),
      StructField("n_files",
        org.apache.spark.sql.types.IntegerType, nullable = false),
      StructField("n_rows", LongType, nullable = false),
      StructField("n_live_rows", LongType, nullable = false),
      StructField("n_dv_files",
        org.apache.spark.sql.types.IntegerType, nullable = false),
      StructField("size_bytes", LongType, nullable = false))))(options => {
      val retained = parent.retainedHistory
      val hist = GraftLakeMetaTable.asOf(options) match {
        case Some(vi) =>
          require(retained.exists(_._1 == vi),
            s"version $vi is not retained by ${parent.name()}")
          retained.filter(_._1 <= vi)
        case None => retained
      }
      hist.map { case (v, snap, dc, tsMillis) =>
        val dead = snap.dvs.values.map(_.size.toLong).sum
        val rows = snap.files.map(_.numRows).sum
        new GenericInternalRow(Array[Any](
          v, tsMillis * 1000L, dc, snap.files.length, rows, rows - dead,
          snap.files.count(f =>
            snap.dvs.getOrElse(f.id, Set.empty).nonEmpty),
          snap.files.map(_.bytes).sum)): InternalRow
      }.toArray
    })

/** Read-only `<table>.changes` metadata table: the parent's commit
  * history exposed as a relation of (data columns, `_change_type`,
  * `_commit_version`) — change-feed columns are REGULAR columns here, so
  * the table works identically under batch SQL and `readStream` (no
  * metadata-column resolution dependency on the streaming path).
  *
  *  - BATCH: replays the range `[graft.changes.from, graft.changes.to]`
  *    (defaults: the full history up to the current version).
  *  - STREAMING: a MicroBatchStream whose OFFSETS ARE COMMIT VERSIONS —
  *    the Delta streaming-source shape. Each trigger reads exactly the
  *    commits that landed since the last processed version, so a
  *    downstream pipeline tails the table incrementally (cost ∝ new
  *    commits' churn) with exactly-once progress recorded in the
  *    checkpoint as a plain version number. `graft.stream.startingVersion`
  *    backfills from an old version first (0 = full-history replay, the
  *    Delta `startingVersion` contract); the default starts at the
  *    CURRENT version — new changes only. */
class GraftLakeChangesTable(parent: GraftLakeTable)
    extends Table with SupportsRead {
  import org.apache.spark.sql.connector.read.streaming.MicroBatchStream
  import org.apache.spark.sql.types.StructField

  private val changesSchema = StructType(parent.schema().fields ++ Seq(
    StructField(GraftLakeTable.ChangeTypeCol, StringType, nullable = false),
    StructField(GraftLakeTable.CommitVersionCol, LongType,
      nullable = false)))

  override def name(): String = parent.name() + ".changes"
  override def schema(): StructType = changesSchema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ,
      TableCapability.MICRO_BATCH_READ)

  override def newScanBuilder(
      options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder with SupportsPushDownRequiredColumns {
      private var required: StructType = changesSchema
      // column-granular only — see GraftLakeScanBuilder.pruneColumns
      override def pruneColumns(requiredSchema: StructType): Unit =
        required =
          GraftLakeReaders.columnGranular(requiredSchema, changesSchema)
      override def build(): Scan = new Scan {
        override def readSchema(): StructType = required
        override def toBatch: Batch = {
          val to = Option(options.get("graft.changes.to"))
            .map(_.trim.toInt).getOrElse(parent.currentVersion)
          val from = Option(options.get("graft.changes.from"))
            .map(_.trim.toInt).getOrElse(parent.earliestVersion)
          val hist = parent.historySlice(from, to)
          new Batch {
            override def planInputPartitions(): Array[InputPartition] =
              GraftLakeChanges.partitions(hist, from, parent.idToName)
            override def createReaderFactory(): PartitionReaderFactory =
              new GraftLakeReaderFactory(required,
                parent.nameDefaults)
          }
        }
        override def toMicroBatchStream(
            checkpointLocation: String): MicroBatchStream =
          new GraftLakeChangeStream(parent, required,
            Option(options.get("graft.stream.startingVersion"))
              .map(_.trim.toInt))
      }
    }
}

/** Version-offset micro-batch stream over the parent's commit history.
  * Offsets serialize as the plain version integer; the streaming engine
  * persists them in the checkpoint and hands back (start, end] ranges,
  * which map 1:1 onto [[GraftLakeChanges.partitions]] diffs. */
class GraftLakeChangeStream(parent: GraftLakeTable,
    requiredSchema: StructType, startingVersion: Option[Int])
    extends org.apache.spark.sql.connector.read.streaming.MicroBatchStream
    with org.apache.spark.sql.connector.read.streaming
      .SupportsTriggerAvailableNow {
  import org.apache.spark.sql.connector.read.streaming.Offset

  // resolved ONCE at stream construction: "new changes only" must not
  // drift forward while the first trigger is being planned
  private val initV = startingVersion.getOrElse(parent.currentVersion)
  // AvailableNow contract: pin the drain's end BEFORE the first trigger
  // so commits landing mid-drain wait for the next run
  @volatile private var availableNowEnd: Option[Int] = None

  override def prepareForTriggerAvailableNow(): Unit =
    availableNowEnd = Some(parent.currentVersion)
  override def initialOffset(): Offset = new GraftLakeVersionOffset(initV)
  override def latestOffset(): Offset = new GraftLakeVersionOffset(
    availableNowEnd.getOrElse(parent.currentVersion))
  // SupportsTriggerAvailableNow extends SupportsAdmissionControl: the
  // engine asks through this overload; version commits are atomic units,
  // so no read limit is applied (ReadLimit.allAvailable semantics)
  override def latestOffset(start: Offset,
      limit: org.apache.spark.sql.connector.read.streaming.ReadLimit)
      : Offset = latestOffset()
  override def deserializeOffset(json: String): Offset =
    new GraftLakeVersionOffset(json.trim.toInt)
  override def planInputPartitions(
      start: Offset, end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[GraftLakeVersionOffset].v
    val e = end.asInstanceOf[GraftLakeVersionOffset].v
    // RETENTION vs CHECKPOINT: a restart resumes
    // from the checkpointed version offset; if retention expired commits
    // PAST that offset, the unreplayed churn is gone — silently skipping
    // to the floor would desync every downstream replica. Fail loudly
    // with the recovery contract instead (Delta's
    // failOnDataLoss-equivalent for a CDF source).
    val floor = parent.earliestVersion
    if (s < floor) throw new IllegalStateException(
      s"checkpointed change-feed offset $s of ${parent.name()} is below " +
        s"the retention floor $floor: commits ($s, $floor] were expired " +
        "and cannot be replayed — rebuild the downstream state from a " +
        "full snapshot and restart with a fresh checkpoint (or size " +
        "retention to cover the longest consumer downtime)")
    if (e <= s) Array.empty
    else GraftLakeChanges.partitions(parent.historySlice(s, e), s,
      parent.idToName)
  }
  override def createReaderFactory(): PartitionReaderFactory =
    new GraftLakeReaderFactory(requiredSchema, parent.nameDefaults)
  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}

/** A commit version as a streaming offset (equality is by `json()`,
  * which the base class derives). */
class GraftLakeVersionOffset(val v: Int)
    extends org.apache.spark.sql.connector.read.streaming.Offset {
  override def json(): String = v.toString
}

/** The commit-range diff shared by the batch change feed and the
  * streaming change source: one partition per (commit, changed file). */
private[sources] object GraftLakeChanges {
  def partitions(history: Vector[(GraftLakeSnapshot, Boolean)],
      fromVersion: Int, idToName: Map[Int, String]): Array[InputPartition] = {
    def namesOf(f: GraftLakeFile): Seq[String] =
      GraftLakeFieldIds.resolve(f.cols, idToName)
    val parts = Vector.newBuilder[InputPartition]
    // One leg of one touched file per partition: PATH + position
    // selection, decoded in the TASK (the manifest's row count decides
    // emptiness), so feed planning is metadata-only and its cost stays
    // ∝ the files each commit touched. Eq probes ride as SPECS; the
    // task loads the keys parquets and filters after its position
    // selection (a probe-only partition may legitimately yield zero
    // rows).
    def emit(f: GraftLakeFile, ct: String, v: Long, drop: Set[Long],
        keepOnly: Option[Set[Long]],
        eqDrop: Seq[(Int, GraftEqDelete)],
        eqKeep: Option[(Int, GraftEqDelete)] = None): Unit = {
      val n = keepOnly.map(_.size.toLong).getOrElse(f.numRows - drop.size)
      if (n > 0)
        parts += GraftLakeChangePartition(
          GraftLakeFilePartition.of(f, drop, namesOf(f), eqDrop).copy(
            keepOnly = keepOnly.map(_.toArray.sorted), eqKeep = eqKeep),
          ct, v)
    }
    // rows already equality-deleted AT snapshot `s`: exclude them from
    // every leg — a downstream replica applying the feed deleted them
    // when the epoch's own delete leg was emitted
    def eqDeadAt(s: GraftLakeSnapshot, f: GraftLakeFile)
        : Seq[(Int, GraftEqDelete)] =
      s.eqs.flatMap(_.probeFor(f))
    for (i <- 1 until history.length) {
      val (prev, _) = history(i - 1)
      val (cur, dataChange) = history(i)
      if (dataChange) {
        val v = (fromVersion + i).toLong
        // an EQUALITY-DELETE commit's delete leg is row-content-defined:
        // only a key probe against every prior applicable file can
        // enumerate it. The feed SERVES it by
        // shipping probe specs — each prior file with seq ≤ belowSeq
        // emits a delete partition whose task keeps exactly the rows
        // whose key hits the epoch's keys parquet, minus rows already
        // dead (DV or earlier epochs). Epochs process in commit order,
        // each excluding its predecessors' hits, so a key upserted
        // twice across epochs in one range deletes exactly once per
        // live pre-image. The upsert's own data files have seq >
        // belowSeq (captured pre-adoption) and never self-delete.
        val newEqs = cur.eqs.filterNot(e =>
          prev.eqs.exists(_.path == e.path))
        val prevIds = prev.files.map(_.id).toSet
        val curIds = cur.files.map(_.id).toSet
        // epochs target only files SURVIVING into cur: a file removed
        // by this same commit emits its whole live set through the
        // removed-file delete leg below, probe hits included
        newEqs.zipWithIndex.foreach { case (e, j) =>
          prev.files.filter(f => curIds.contains(f.id)).foreach { f =>
            e.probeFor(f).foreach { keep =>
              val earlier = eqDeadAt(prev, f) ++
                newEqs.take(j).flatMap(_.probeFor(f))
              emit(f, "delete", v, prev.dvs.getOrElse(f.id, Set.empty),
                None, earlier, Some(keep))
            }
          }
        }
        // a commit can introduce a file TOGETHER with a deletion vector
        // (rollback past a compaction restores the pre-compaction file
        // plus its DV): only the file's LIVE-in-cur rows are inserts —
        // emitting the DV'd positions would resurrect dead rows
        // downstream. Rows equality-deleted at the
        // emitting snapshot are excluded from every leg the same way:
        // the replica already applied the epoch's own delete leg.
        cur.files.filterNot(f => prevIds.contains(f.id)).foreach { f =>
          emit(f, "insert", v, cur.dvs.getOrElse(f.id, Set.empty), None,
            eqDeadAt(cur, f))
        }
        prev.files.filterNot(f => curIds.contains(f.id)).foreach { f =>
          emit(f, "delete", v, prev.dvs.getOrElse(f.id, Set.empty), None,
            eqDeadAt(prev, f))
        }
        cur.files.filter(f => prevIds.contains(f.id)).foreach { f =>
          val prevDead = prev.dvs.getOrElse(f.id, Set.empty[Long])
          val curDead = cur.dvs.getOrElse(f.id, Set.empty[Long])
          val grown = curDead -- prevDead
          // exclusion at CUR (not prev): if one commit ever carried
          // both DV growth and a new epoch, a row hit by both emits
          // once — through the epoch's delete leg
          if (grown.nonEmpty) emit(f, "delete", v, Set.empty, Some(grown),
            eqDeadAt(cur, f))
          // a deletion vector that SHRANK (rollback undoing a MERGE/
          // DELETE) resurrects the previously position-deleted rows:
          // without the insert leg a CDC replica applying the feed would
          // permanently miss them — the self-heal contract rollback's
          // docstring promises.
          val shrunk = prevDead -- curDead
          if (shrunk.nonEmpty) emit(f, "insert", v, Set.empty, Some(shrunk),
            eqDeadAt(cur, f))
        }
      }
    }
    parts.result().toArray
  }
}

/** Serves every lake read partition — file-grained, keyed (SPJ) file
  * lists and change-feed legs — as ColumnarBatches through the one
  * reader ([[GraftLakeColumnar.reader]]): data columns resolve BY NAME
  * against the partition's column manifest (a column absent from the
  * file — added after it was written — reads its EXISTS-default or
  * NULL; a column retyped after the write reads through the widening
  * view), and `_file`/`_pos` plus the change feed's `_change_type` /
  * `_commit_version` are synthesized from the partition's tags. */
class GraftLakeReaderFactory(requiredSchema: StructType,
    defaults: Map[String, Any])
    extends PartitionReaderFactory {
  import org.apache.spark.sql.vectorized.ColumnarBatch

  override def supportColumnarReads(p: InputPartition): Boolean = true

  override def createColumnarReader(
      p: InputPartition): PartitionReader[ColumnarBatch] =
    p match {
      case fp: GraftLakeFilePartition =>
        GraftLakeColumnar.reader(fp, requiredSchema, defaults)
      case cp: GraftLakeChangePartition =>
        GraftLakeColumnar.reader(cp.file, requiredSchema, defaults ++ Map(
          GraftLakeTable.ChangeTypeCol ->
            UTF8String.fromString(cp.changeType),
          GraftLakeTable.CommitVersionCol -> cp.version))
      case kf: GraftLakeKeyedFilesPartition =>
        // per-key file list: chain the per-file batch readers
        new PartitionReader[ColumnarBatch] {
          private val it = kf.files.iterator
          private var cur: PartitionReader[ColumnarBatch] = _
          override def next(): Boolean = {
            while (true) {
              if (cur == null) {
                if (!it.hasNext) return false
                cur = GraftLakeColumnar.reader(it.next(),
                  requiredSchema, defaults)
              }
              if (cur.next()) return true
              cur.close(); cur = null
            }
            false
          }
          override def get(): ColumnarBatch = cur.get()
          override def close(): Unit = if (cur != null) cur.close()
        }
    }

  override def createReader(
      p: InputPartition): PartitionReader[InternalRow] =
    throw new UnsupportedOperationException(
      "lake reads are columnar: Spark plans ColumnarToRow above the scan")
}

/** Everything a task needs to WRITE REAL FILES itself: the table dir
  * (shared storage), the build-time schema identity, and the partition
  * transforms for the task-side fanout split. */
final case class GraftLakeFileWriteInfo(dir: String, names: Seq[String],
    types: Seq[DataType], colIds: Seq[Int],
    partSpec: Seq[GraftPartTransform], pspecId: Int = 0)

/** The driver applies the per-task commits via `apply` exactly once.
  * Tasks write their own parquet files and ship METADATA-ONLY commit
  * messages. `rowLevel` (the operation's column types) enables
  * row-level mode: rows arrive as [__row_operation, data...,
  * metadata...] — DELETEs are dropped, writes keep the data slice. */
class GraftLakeBatchWrite(
    apply: Vector[GraftLakeFile] => Unit,
    fileWrite: GraftLakeFileWriteInfo,
    rowLevel: Option[Array[DataType]] = None,
    onDone: () => Unit = () => ())
    extends BatchWrite {
  override def createBatchWriterFactory(
      info: PhysicalWriteInfo): DataWriterFactory =
    // a standalone class: the factory ships to tasks and must not
    // capture this BatchWrite (whose `apply` closes over the table)
    new GraftLakeFileWriterFactory(fileWrite, rowLevel)
  override def commit(messages: Array[WriterCommitMessage]): Unit =
    try apply(GraftLakeFilesCommit.of(messages).flatMap(_.files))
    finally onDone()
  override def abort(messages: Array[WriterCommitMessage]): Unit =
    try GraftLakeFilesCommit.unlink(messages) finally onDone()
}

/** THE task-side lake file writer every write and rewrite task uses.
  * Each row streams straight into the temp parquet of its partition-key
  * tuple (the fanout split, evaluated where the rows are; a key's writer
  * opens the first time the task sees it) and into that file's
  * [[GraftLakeStats.Collector]], so the manifest stats are built in the
  * same pass and the task never holds its output rows. Rows may be
  * reused buffers: only the key values and the collectors' extremes are
  * copied. [[finish]] closes the files in first-seen key order and
  * returns their records (empty `id`, `path` the temp) — METADATA ONLY;
  * the driver's commit adopts each temp by rename, so write bandwidth
  * scales with executors, not with one driver heap. */
private[sources] final class GraftLakeFileWriter(fw: GraftLakeFileWriteInfo) {
  private final class Open(val tmp: java.io.File,
      val out: org.apache.parquet.hadoop.ParquetWriter[InternalRow],
      val stats: GraftLakeStats.Collector)
  private val open = scala.collection.mutable.LinkedHashMap
    .empty[Option[Vector[Any]], Open]
  private val partIdx = fw.partSpec.map(t => fw.names.indexOf(t.srcCol))

  def write(r: InternalRow): Unit = {
    val key =
      if (fw.partSpec.isEmpty) None
      else Some(Vector.tabulate(fw.partSpec.length) { i =>
        fw.partSpec(i).eval(
          r.get(partIdx(i), fw.types(partIdx(i))), fw.types(partIdx(i)))
      })
    val o = open.getOrElse(key, openFor(key, r))
    o.out.write(r)
    o.stats.add(r)
  }

  private def openFor(key: Option[Vector[Any]], r: InternalRow): Open = {
    require(r.numFields == fw.colIds.length,
      s"write carries ${r.numFields} columns but the write schema has " +
        s"${fw.colIds.length}")
    val tmp = new java.io.File(fw.dir,
      s"tmp_${java.util.UUID.randomUUID()}.parquet")
    val o = new Open(tmp,
      GraftParquetIO.writer(tmp.getAbsolutePath, fw.names, fw.types),
      new GraftLakeStats.Collector(fw.colIds, fw.types))
    open += key.map(_.map(GraftLakeStats.keep)) -> o
    o
  }

  def finish(): Vector[GraftLakeFile] =
    open.toVector.map { case (key, o) =>
      o.out.close()
      o.stats.file(o.tmp.getAbsolutePath,
        java.nio.file.Files.size(o.tmp.toPath), fw.names, key, fw.pspecId)
    }

  /** Close every open writer, then unlink every temp this task made. */
  def abort(): Unit =
    open.values.foreach { o =>
      try o.out.close() catch { case scala.util.control.NonFatal(_) => () }
      o.tmp.delete()
    }
}

private[sources] object GraftLakeFileWriter {
  /** Unlink task temps that were never adopted. */
  def unlink(fs: Iterable[GraftLakeFile]): Unit =
    fs.foreach(f => new java.io.File(f.path).delete())

  /** A compaction rewrite's task-side READ unit: one source file's
    * LIVE rows (deletion-vector positions dropped, equality-delete
    * probes applied), sliced [from, until) in fully-live order — how a
    * bin boundary lands mid-file without the driver ever seeing a row.
    * Bin offsets are planned from eq-aware live counts (rows − DV −
    * probe matches), so the slice lands exactly. */
  final case class RewriteSlice(file: GraftLakeFilePartition, from: Int,
      until: Int)

  /** One output file of a distributed compaction rewrite: ordered
    * slices whose concatenation IS the file's rows, plus the
    * generation layout (cols/types/names) and partition key the
    * manifest must carry. */
  final case class RewriteSpec(idx: Int, cols: Seq[Int],
      types: Seq[DataType], names: Seq[String],
      pkey: Option[Vector[Any]], slices: Vector[RewriteSlice],
      pspecId: Int = 0)

  /** Task body of a distributed rewrite: stream the slices' live rows
    * in order into one temp parquet with the GENERATION's layout, ship
    * its record. None for an all-dead output (fully deleted file). */
  def rewriteTask(dir: String)(
      spec: RewriteSpec): Option[(Int, GraftLakeFile)] = {
    val w = new GraftLakeFileWriter(GraftLakeFileWriteInfo(dir, spec.names,
      spec.types, spec.cols, Nil, spec.pspecId))
    try {
      spec.slices.foreach(s => GraftLakeColumnar.liveRows(s.file)(
        _.slice(s.from, s.until).foreach(w.write)))
      w.finish().headOption.map(f => (spec.idx, f.copy(pkey = spec.pkey)))
    } catch { case e: Throwable => w.abort(); throw e }
  }

  /** The data columns of a row-level write's rows, which arrive as
    * [__row_operation, data(0..n-1), metadata...]: a view, not a copy. */
  def dataSlice(types: Array[DataType]): ProjectingInternalRow =
    ProjectingInternalRow(StructType(types.toSeq.zipWithIndex.map {
      case (t, i) => StructField(s"c$i", t) }), 1 to types.length)
}

/** Under `rowLevel`, DELETEs drop and writes keep the data slice. */
class GraftLakeFileWriterFactory(fw: GraftLakeFileWriteInfo,
    rowLevel: Option[Array[DataType]])
    extends DataWriterFactory {
  override def createWriter(
      partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new DataWriter[InternalRow] {
      private val w = new GraftLakeFileWriter(fw)
      private val slice = rowLevel.map(GraftLakeFileWriter.dataSlice)
      override def write(row: InternalRow): Unit = (rowLevel, slice) match {
        case (Some(types), Some(s)) if row.numFields > types.length =>
          if (row.getInt(0) != 1) { // 1 = DELETE_OPERATION
            s.project(row)
            w.write(s)
          }
        case _ => w.write(row)
      }
      override def commit(): WriterCommitMessage =
        GraftLakeFilesCommit(w.finish())
      override def abort(): Unit = w.abort()
      override def close(): Unit = ()
    }
}

/** Exactly-once streaming sink (`writeStream.toTable`): each epoch's
  * task output rides the same task-side file writers as batch, and the
  * epoch commits atomically with its (queryId, epochId) stamp. A
  * replayed epoch after a restart is dropped by the table's watermark
  * (see GraftLakeTable.commitEpoch). */
class GraftLakeStreamingWrite(
    applyEpoch: (Long, Vector[GraftLakeFile],
      Vector[GraftLakeFile]) => Unit,
    fileWrite: GraftLakeFileWriteInfo,
    upsert: Option[GraftUpsertInfo] = None)
    extends org.apache.spark.sql.connector.write.streaming.StreamingWrite {
  override def createStreamingWriterFactory(info: PhysicalWriteInfo)
      : org.apache.spark.sql.connector.write.streaming
        .StreamingDataWriterFactory =
    new GraftLakeStreamingWriterFactory(fileWrite, upsert)
  override def commit(epochId: Long,
      messages: Array[WriterCommitMessage]): Unit = {
    val ms = GraftLakeFilesCommit.of(messages)
    applyEpoch(epochId, ms.flatMap(_.files), ms.flatMap(_.keys))
  }
  override def abort(epochId: Long,
      messages: Array[WriterCommitMessage]): Unit =
    GraftLakeFilesCommit.unlink(messages)
}

/** Upsert-epoch identity: the key column's slot in the write schema
  * plus its durable identity (name, field id, type) — what the writer
  * needs to also produce the keys file, and the commit needs to mint
  * the equality delete. */
final case class GraftUpsertInfo(keyIdx: Int, keyName: String,
    keyId: Int, keyType: DataType)

/** Streaming writer factory: delegates to the batch writer — a
  * streaming task's rows are written exactly like a batch task's
  * (task-side temp parquet); the epoch id only matters at commit.
  * Upsert mode additionally writes the task's KEYS as their own temp
  * parquet (the equality-delete file) — one extra small file per task,
  * no read of anything. */
class GraftLakeStreamingWriterFactory(fw: GraftLakeFileWriteInfo,
    upsert: Option[GraftUpsertInfo] = None)
    extends org.apache.spark.sql.connector.write.streaming
      .StreamingDataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long,
      epochId: Long): DataWriter[InternalRow] = upsert match {
    case Some(u) =>
      new DataWriter[InternalRow] {
        private val w = new GraftLakeFileWriter(fw)
        private val keys = new GraftLakeFileWriter(GraftLakeFileWriteInfo(
          fw.dir, Seq(u.keyName), Seq(u.keyType), Seq(u.keyId), Nil))
        private val key = ProjectingInternalRow(
          StructType(Seq(StructField(u.keyName, u.keyType))), Seq(u.keyIdx))
        // complete across the epoch, not just this task: the upsert
        // Write clusters its input by key (requiredDistribution), so
        // every copy of a key arrives HERE
        private val seen = scala.collection.mutable.HashSet.empty[Any]
        override def write(row: InternalRow): Unit = {
          require(!row.isNullAt(u.keyIdx),
            s"upsert key ${u.keyName} must be non-null")
          val k = GraftEqDelete.canon(row.get(u.keyIdx, u.keyType))
          // shuffling destroys the batch's row order, so "last wins"
          // is undefined here — a key-unique epoch is the contract
          // (Flink's upsert writers get per-key order from keyed
          // streams; an upstream dedup-by-sequence provides the same)
          require(!seen.contains(k),
            s"duplicate upsert key $k within one epoch — " +
              "equality-delete upsert requires key-unique micro-batches" +
              " (dedup upstream, e.g. last-by-sequence, before the sink)")
          seen += GraftLakeStats.keep(k)
          key.project(row)
          keys.write(key)
          w.write(row)
        }
        override def commit(): WriterCommitMessage =
          GraftLakeFilesCommit(w.finish(), keys.finish())
        override def abort(): Unit = { w.abort(); keys.abort() }
        override def close(): Unit = ()
      }
    case None =>
      new GraftLakeFileWriterFactory(fw, None)
        .createWriter(partitionId, taskId)
  }
}

/** THE task commit message every lake write ships: the data files the
  * task wrote, the equality-delete KEYS files of an upsert epoch, and
  * the (file, position) deletes of a merge-on-read delta — all
  * metadata; the rows stay in the task-written temps. */
final case class GraftLakeFilesCommit(files: Vector[GraftLakeFile],
    keys: Vector[GraftLakeFile] = Vector.empty,
    deleted: Vector[(String, Long)] = Vector.empty)
    extends WriterCommitMessage

object GraftLakeFilesCommit {
  def of(messages: Array[WriterCommitMessage]): Vector[GraftLakeFilesCommit] =
    messages.toVector.map {
      case c: GraftLakeFilesCommit => c
      case other => throw new IllegalStateException(
        s"unexpected commit message $other")
    }
  /** An aborted write: the committed tasks' temps never got adopted —
    * unlink them (a failed task's slot is null). */
  def unlink(messages: Array[WriterCommitMessage]): Unit =
    messages.foreach {
      case c: GraftLakeFilesCommit =>
        GraftLakeFileWriter.unlink(c.files ++ c.keys)
      case _ => ()
    }
}

/** Merge-on-read batch write: tasks report (file, pos) deletes —
  * intrinsically metadata-sized — and inserts; the commit merges the
  * deletes into the table's deletion vectors and appends the inserts as
  * new files. The INSERT side is task-side too: tasks write their own
  * temp parquet and ship metadata, the same no-driver data plane as
  * [[GraftLakeBatchWrite]]. */
class GraftLakeDeltaBatchWrite(
    apply: (Map[String, Set[Long]], Vector[GraftLakeFile]) => Unit,
    fileWrite: GraftLakeFileWriteInfo,
    types: Array[DataType],
    onDone: () => Unit = () => ())
    extends DeltaBatchWrite {
  override def createBatchWriterFactory(
      info: PhysicalWriteInfo): DeltaWriterFactory =
    new GraftLakeDeltaWriterFactory(types, fileWrite)
  override def commit(messages: Array[WriterCommitMessage]): Unit =
    try {
      val ms = GraftLakeFilesCommit.of(messages)
      val deleted = ms.flatMap(_.deleted)
        .groupBy(_._1).map { case (f, ps) => f -> ps.map(_._2).toSet }
      apply(deleted, ms.flatMap(_.files))
    } finally onDone()
  override def abort(messages: Array[WriterCommitMessage]): Unit =
    try GraftLakeFilesCommit.unlink(messages) finally onDone()
}

class GraftLakeDeltaWriterFactory(types: Array[DataType],
    fileWrite: GraftLakeFileWriteInfo)
    extends DeltaWriterFactory {
  override def createWriter(
      partitionId: Int, taskId: Long): DeltaWriter[InternalRow] =
    new DeltaWriter[InternalRow] {
      private val dels = Vector.newBuilder[(String, Long)]
      private val w = new GraftLakeFileWriter(fileWrite)
      // `id` is the rowId projection in declared order: (_file, _pos)
      override def delete(meta: InternalRow, id: InternalRow): Unit =
        dels += ((id.getUTF8String(0).toString, id.getLong(1)))
      override def update(meta: InternalRow, id: InternalRow,
          row: InternalRow): Unit =
        // representUpdateAsDeleteAndInsert = true: Spark decomposes
        // updates before the writer ever sees them
        throw new IllegalStateException(
          "updates must arrive as delete+insert")
      override def insert(row: InternalRow): Unit = {
        require(row.numFields == types.length,
          s"insert row has ${row.numFields} fields, expected " +
            s"${types.length} data columns")
        w.write(row)
      }
      override def commit(): WriterCommitMessage =
        GraftLakeFilesCommit(w.finish(), deleted = dels.result())
      override def abort(): Unit = w.abort()
      override def close(): Unit = ()
    }
}

/** The catalog's maintenance procedures — Spark 4's DSv2 `CALL`
  * statement (`CALL <catalog>.system.<proc>(...)`), the surface Iceberg
  * ships its table maintenance on:
  *
  *  - `rollback(table, version)` — restore a previous version as a new
  *    data-change commit (undo-the-bad-batch; the feed shows the
  *    reverse churn, so downstream CDC consumers self-heal);
  *  - `expire_versions(table, keep_last)` — raise the history floor,
  *    bounding commit-log growth; reads below the floor fail loudly;
  *  - `compact(table)` — rewrite every deletion-vector'd file to its
  *    live rows (maintenance commits: invisible to the change feed).
  *
  * Each procedure is both Unbound and Bound (fixed signatures, nothing
  * to specialize at bind time) and returns its result through a
  * driver-local scan — procedure outputs are control-plane-sized. */
private[sources] object GraftLakeProcedures {
  import org.apache.spark.sql.connector.catalog.procedures.{BoundProcedure, ProcedureParameter, UnboundProcedure}
  import org.apache.spark.sql.connector.read.LocalScan
  import org.apache.spark.sql.types.IntegerType

  val names: Seq[String] =
    Seq("rollback", "expire_versions", "expire_before", "compact",
      "compact_files", "cluster", "cluster_zorder", "create_branch",
      "create_tag", "fast_forward", "publish_squashed", "drop_ref",
      "set_partition_spec", "remove_orphan_files")

  def byName(catalog: String, name: String): Option[UnboundProcedure] =
    name match {
      case "rollback" => Some(new Proc(catalog, "rollback",
        Array(in("table", StringType), in("version", IntegerType)),
        StructType(Seq(
          StructField("previous_version", IntegerType, nullable = false),
          StructField("current_version", IntegerType, nullable = false)))) {
        override def run(t: GraftLakeTable, input: InternalRow)
            : Array[InternalRow] = {
          val prev = t.currentVersion
          t.rollbackTo(input.getInt(1))
          Array(new GenericInternalRow(
            Array[Any](prev, t.currentVersion)))
        }
      })
      case "expire_versions" => Some(new Proc(catalog, "expire_versions",
        Array(in("table", StringType), in("keep_last", IntegerType)),
        StructType(Seq(
          StructField("earliest_version", IntegerType, nullable = false),
          StructField("current_version", IntegerType, nullable = false)))) {
        override def run(t: GraftLakeTable, input: InternalRow)
            : Array[InternalRow] = {
          val floor = t.expireVersions(input.getInt(1))
          Array(new GenericInternalRow(
            Array[Any](floor, t.currentVersion)))
        }
      })
      case "compact" => Some(new Proc(catalog, "compact",
        Array(in("table", StringType)),
        StructType(Seq(
          StructField("compacted_files", IntegerType, nullable = false)))) {
        override def run(t: GraftLakeTable, input: InternalRow)
            : Array[InternalRow] =
          Array(new GenericInternalRow(Array[Any](t.compactAll())))
      })
      // bin-pack undersized / DV'd files toward target_rows per output
      // file, one silent maintenance commit — Iceberg's
      // rewrite_data_files binpack strategy
      case "compact_files" => Some(new Proc(catalog, "compact_files",
        Array(in("table", StringType), in("target_rows", IntegerType)),
        StructType(Seq(
          StructField("files_before", IntegerType, nullable = false),
          StructField("files_after", IntegerType, nullable = false)))) {
        override def run(t: GraftLakeTable, input: InternalRow)
            : Array[InternalRow] = {
          val (b, a) = t.compactFiles(input.getInt(1).toLong)
          Array(new GenericInternalRow(Array[Any](b, a)))
        }
      })
      // reclaim crashed-writer debris no retained version references —
      // filled-but-uncommitted data/keys objects, abandoned temps and
      // stale claims, staged CTAS directories — older than the grace
      // cutoff (epoch millis), WITHOUT moving the history floor:
      // Iceberg's remove_orphan_files, the expire_snapshots companion
      case "remove_orphan_files" => Some(new Proc(catalog,
        "remove_orphan_files",
        Array(in("table", StringType),
          in("older_than_millis", LongType)),
        StructType(Seq(
          StructField("orphan_files_deleted", IntegerType,
            nullable = false),
          StructField("staged_dirs_deleted", IntegerType,
            nullable = false)))) {
        override def run(t: GraftLakeTable, input: InternalRow)
            : Array[InternalRow] = {
          val (o, s) = t.removeOrphanFiles(input.getLong(1))
          Array(new GenericInternalRow(Array[Any](o, s)))
        }
      })
      // expire every version committed before a wall-clock cutoff,
      // always keeping the latest — Iceberg's expire_snapshots
      // older_than spelling (the cutoff arrives as epoch millis)
      case "expire_before" => Some(new Proc(catalog, "expire_before",
        Array(in("table", StringType),
          in("older_than_millis", LongType)),
        StructType(Seq(
          StructField("earliest_version", IntegerType, nullable = false),
          StructField("current_version", IntegerType, nullable = false)))) {
        override def run(t: GraftLakeTable, input: InternalRow)
            : Array[InternalRow] = {
          val floor = t.expireBefore(input.getLong(1))
          Array(new GenericInternalRow(
            Array[Any](floor, t.currentVersion)))
        }
      })
      // range-cluster the table by a comma-separated column list so
      // min/max file skipping becomes effective (Iceberg's
      // rewrite_data_files sort strategy)
      case "cluster" => Some(new Proc(catalog, "cluster",
        Array(in("table", StringType), in("cols", StringType),
          in("target_files", IntegerType)),
        StructType(Seq(
          StructField("files_before", IntegerType, nullable = false),
          StructField("files_after", IntegerType, nullable = false)))) {
        override def run(t: GraftLakeTable, input: InternalRow)
            : Array[InternalRow] = {
          val cols = input.getUTF8String(1).toString.split(",")
            .map(_.trim).filter(_.nonEmpty).toSeq
          require(cols.nonEmpty, "cluster needs at least one column")
          // the catalog-qualified name lets the rewrite re-read the
          // table through its own DSv2 scan — the distributed leg
          val (b, a) = t.clusterBy(cols, input.getInt(2), "sort",
            s"$catalog.${input.getUTF8String(0)}")
          Array(new GenericInternalRow(Array[Any](b, a)))
        }
      })
      // Z-ORDER the table by 2-4 columns: Morton-interleaved rank codes
      // as the rewrite's sort key, so min/max skipping prunes box
      // predicates on ANY of the columns (OPTIMIZE ZORDER BY / Iceberg's
      // rewrite_data_files sort_order => zorder(...))
      case "cluster_zorder" => Some(new Proc(catalog, "cluster_zorder",
        Array(in("table", StringType), in("cols", StringType),
          in("target_files", IntegerType)),
        StructType(Seq(
          StructField("files_before", IntegerType, nullable = false),
          StructField("files_after", IntegerType, nullable = false)))) {
        override def run(t: GraftLakeTable, input: InternalRow)
            : Array[InternalRow] = {
          val cols = input.getUTF8String(1).toString.split(",")
            .map(_.trim).filter(_.nonEmpty).toSeq
          val (b, a) = t.clusterBy(cols, input.getInt(2), "zorder",
            s"$catalog.${input.getUTF8String(0)}")
          Array(new GenericInternalRow(Array[Any](b, a)))
        }
      })
      // PARTITION-SPEC EVOLUTION: replace the table's partition spec
      // (comma-separated `identity:<col>`, `days:<col>`,
      // `bucket:<n>:<col>`; empty string = unpartitioned) — a
      // metadata-only commit, no file rewritten (Iceberg's ALTER TABLE
      // ADD/REPLACE PARTITION FIELD)
      case "set_partition_spec" => Some(new Proc(catalog,
        "set_partition_spec",
        Array(in("table", StringType), in("spec", StringType)),
        StructType(Seq(
          StructField("previous_spec_id", IntegerType, nullable = false),
          StructField("spec_id", IntegerType, nullable = false)))) {
        override def run(t: GraftLakeTable, input: InternalRow)
            : Array[InternalRow] = {
          val spec = input.getUTF8String(1).toString.split(",")
            .map(_.trim).filter(_.nonEmpty).toSeq
            .map(GraftLakeLog.parsePart)
          val (b, a) = t.evolvePartitionSpec(spec)
          Array(new GenericInternalRow(Array[Any](b, a)))
        }
      })
      // fork a branch at the current main head — the WRITE leg of
      // write-audit-publish starts here (then `.option("graft.branch",
      // name)` appends stage on it, invisible to main)
      case "create_branch" => Some(new Proc(catalog, "create_branch",
        Array(in("table", StringType), in("name", StringType)),
        StructType(Seq(
          StructField("base_version", IntegerType, nullable = false)))) {
        override def run(t: GraftLakeTable, input: InternalRow)
            : Array[InternalRow] =
          Array(new GenericInternalRow(Array[Any](
            t.createBranch(input.getUTF8String(1).toString))))
      })
      // name a retained version; retention keeps tagged versions
      case "create_tag" => Some(new Proc(catalog, "create_tag",
        Array(in("table", StringType), in("name", StringType),
          in("version", IntegerType)),
        StructType(Seq(
          StructField("version", IntegerType, nullable = false)))) {
        override def run(t: GraftLakeTable, input: InternalRow)
            : Array[InternalRow] = {
          t.createTag(input.getUTF8String(1).toString, input.getInt(2))
          Array(new GenericInternalRow(Array[Any](input.getInt(2))))
        }
      })
      // PUBLISH: replay the branch's staged commits onto main in order
      // (fails loudly if main advanced past the fork base)
      case "fast_forward" => Some(new Proc(catalog, "fast_forward",
        Array(in("table", StringType), in("branch", StringType)),
        StructType(Seq(
          StructField("previous_version", IntegerType, nullable = false),
          StructField("current_version", IntegerType, nullable = false)))) {
        override def run(t: GraftLakeTable, input: InternalRow)
            : Array[InternalRow] = {
          val (from, to) = t.fastForward(input.getUTF8String(1).toString)
          Array(new GenericInternalRow(Array[Any](from, to)))
        }
      })
      // squash the branch's staged commits into ONE published commit —
      // the whole audited batch becomes atomically visible (one change
      // feed version), vs fast_forward's commit-per-commit replay
      case "publish_squashed" => Some(new Proc(catalog, "publish_squashed",
        Array(in("table", StringType), in("branch", StringType)),
        StructType(Seq(
          StructField("previous_version", IntegerType, nullable = false),
          StructField("current_version", IntegerType, nullable = false)))) {
        override def run(t: GraftLakeTable, input: InternalRow)
            : Array[InternalRow] = {
          val (from, to) =
            t.fastForwardSquashed(input.getUTF8String(1).toString)
          Array(new GenericInternalRow(Array[Any](from, to)))
        }
      })
      // drop a tag (unpinning retention) or a branch (discarding its
      // unpublished commits — the audit gate saying no)
      case "drop_ref" => Some(new Proc(catalog, "drop_ref",
        Array(in("table", StringType), in("name", StringType)),
        StructType(Seq(
          StructField("dropped", StringType, nullable = false)))) {
        override def run(t: GraftLakeTable, input: InternalRow)
            : Array[InternalRow] = {
          val n = input.getUTF8String(1).toString
          t.dropRef(n)
          Array(new GenericInternalRow(Array[Any](
            org.apache.spark.unsafe.types.UTF8String.fromString(n))))
        }
      })
      case _ => None
    }

  private def in(n: String, dt: DataType): ProcedureParameter =
    ProcedureParameter.in(n, dt).build()

  private final class ResultScan(out: StructType, rs: Array[InternalRow])
      extends LocalScan {
    override def readSchema(): StructType = out
    override def rows(): Array[InternalRow] = rs
  }

  private abstract class Proc(catalog: String, procName: String,
      params: Array[ProcedureParameter], out: StructType)
      extends UnboundProcedure with BoundProcedure {
    override def name(): String = procName
    override def description(): String =
      s"graft lake maintenance procedure $procName"
    override def bind(inputType: StructType): BoundProcedure = this
    override def parameters(): Array[ProcedureParameter] = params
    override def isDeterministic: Boolean = false

    def run(t: GraftLakeTable, input: InternalRow): Array[InternalRow]

    override def call(input: InternalRow)
        : java.util.Iterator[org.apache.spark.sql.connector.read.Scan] = {
      val tn = input.getUTF8String(0).toString
      val t = GraftLakeCatalog.tableFor(catalog, tn).getOrElse(
        throw new IllegalArgumentException(
          s"no table '$tn' in catalog '$catalog'"))
      java.util.List.of[org.apache.spark.sql.connector.read.Scan](
        new ResultScan(out, run(t, input))).iterator()
    }
  }
}
