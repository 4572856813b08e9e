package graft.core

import java.nio.file.{Files, Path, Paths}
import java.util.Comparator
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Namespaced table catalog over a warehouse directory — the Spark-native
  * equivalent of the reference's SQLite-backed PyIceberg catalog
  * (reference catalog.py:35-59; warehouse at `~/.lakehouse/warehouse`,
  * catalog.py:31-32). Namespace registry lives in `catalog.json`; each table
  * is a self-describing directory (see [[IceTable]]).
  */
class Catalog(val spark: SparkSession, val warehouse: Path) {
  import Catalog._

  private def catalogPath = warehouse.resolve("catalog.json")

  private def state: CatalogState =
    if (Files.exists(catalogPath)) Jsons.readFile[CatalogState](catalogPath)
    else CatalogState(Map(DefaultNamespace -> Map.empty))

  private def saveState(s: CatalogState): Unit = Jsons.writeFile(catalogPath, s)

  /** Create warehouse dir + `default` namespace (catalog.py:62-68). */
  def init(): this.type = {
    Files.createDirectories(warehouse)
    if (!Files.exists(catalogPath)) saveState(CatalogState(Map(DefaultNamespace -> Map.empty)))
    this
  }

  // ---- namespaces (catalog.py:71-179) ------------------------------------

  def listNamespaces(): List[String] = state.namespaces.keys.toList.sorted

  def createNamespace(ns: String, properties: Map[String, String] = Map.empty): Unit =
    synchronized {
      val s = state
      require(!s.namespaces.contains(ns), s"namespace exists: $ns")
      saveState(s.copy(namespaces = s.namespaces + (ns -> properties)))
    }

  def namespaceProperties(ns: String): Map[String, String] =
    state.namespaces.getOrElse(ns,
      throw new IllegalArgumentException(s"no such namespace: $ns"))

  /** Refuses to drop a namespace that still has tables (catalog.py:134-141).
    * Counts table DIRECTORIES ([[tablesIn]] with mid-rename tables
    * INCLUDED) — [[listTables]] hides mid-rename tables, and dropping
    * their namespace would orphan a real table the moment its rename
    * completes. */
  def dropNamespace(ns: String): Unit = synchronized {
    require(ns != DefaultNamespace, "cannot drop the default namespace")
    val tables = tablesIn(ns, includeMidRename = true)
    require(tables.isEmpty, s"namespace $ns is not empty: $tables")
    val s = state
    require(s.namespaces.contains(ns), s"no such namespace: $ns")
    saveState(s.copy(namespaces = s.namespaces - ns))
  }

  // ---- tables ------------------------------------------------------------

  def tableDir(ns: String, table: String): Path = warehouse.resolve(ns).resolve(table)

  def tableExists(ident: String): Boolean = {
    val (ns, t) = parseIdent(ident)
    Files.exists(tableDir(ns, t).resolve("meta.json"))
  }

  /** DDL: typed columns + partition transform strings (catalog.py:2261-2367). */
  def createTable(ident: String, schema: StructType,
      partitions: Seq[String] = Nil,
      properties: Map[String, String] = Map.empty): IceTable = synchronized {
    val (ns, t) = parseIdent(ident)
    require(state.namespaces.contains(ns), s"no such namespace: $ns")
    require(!tableExists(ident), s"table exists: $ns.$t")
    partitions.foreach(PartitionTransform.parse) // validate spec early
    val withIds = TableMeta.assignFieldIds(schema)
    // a FRESH identity uuid unconditionally (overriding any inherited
    // one, e.g. a copy clone passing its source's properties): snapshot
    // ids are per-table sequential, so external consumers keying offsets
    // by snapshot id need a name- and rename-stable identity to detect a
    // drop/recreate at the same name (see ChangelogStream)
    val meta = TableMeta(ns, t, List(SchemaVersion(1, withIds.json)), 1,
      partitions.toList, properties +
        (TableUuidKey -> java.util.UUID.randomUUID().toString))
    val dir = tableDir(ns, t)
    Files.createDirectories(dir)
    Jsons.writeFile(dir.resolve("meta.json"), meta)
    new IceTable(spark, dir)
  }

  def createTable(ident: String, columns: Seq[(String, String)],
      partitions: Seq[String], properties: Map[String, String]): IceTable =
    createTable(ident, TableMeta.schemaOf(columns), partitions, properties)

  def loadTable(ident: String): IceTable = {
    val (ns, t) = parseIdent(ident)
    require(tableExists(ident), s"no such table: $ns.$t")
    val dir = tableDir(ns, t)
    // a live rename-intent marker means the table is mid-rename: reading
    // it could silently resurrect MoR-deleted rows (stale old-prefix
    // file_path values in delete parquet match nothing), so refuse LOUDLY
    // with the exact repair — see [[renameTable]]'s crash-safety contract
    val marker = dir.resolve(Catalog.RenameMarkerFile)
    if (Files.exists(marker)) {
      val p = try Some(Jsons.readFile[RenamePending](marker))
        catch { case _: Exception => None }
      p match {
        case Some(rp) if rp.toIdent == s"$ns.$t" =>
          throw new IllegalStateException(
            s"table $ns.$t has an INCOMPLETE rename from ${rp.fromIdent}: " +
              "the directory move committed but the metadata fixups did " +
              s"not finish — re-run renameTable(${rp.fromIdent}, $ns.$t) " +
              "to complete them")
        case Some(rp) =>
          throw new IllegalStateException(
            s"table $ns.$t carries a rename intent to ${rp.toIdent} that " +
              s"never committed — re-run renameTable($ns.$t, ${rp.toIdent}) " +
              s"to complete it, or delete $marker if no rename is in flight")
        case None =>
          throw new IllegalStateException(
            s"table $ns.$t carries an unreadable rename marker at " +
              s"$marker — resolve it manually before reading")
      }
    }
    new IceTable(spark, dir)
  }

  /** List tables in one namespace, or all with ns `"*"` (catalog.py:182-201).
    * Tables mid-rename (live [[Catalog.RenameMarkerFile]]) are SKIPPED:
    * loadTable refuses them, so surfacing them would make every
    * whole-catalog sweep (registerViews, maintenance, dashboards, MCP
    * listings) throw on one broken table instead of reporting the other
    * 9,999 — the single mid-rename table is simply not addressable until
    * its rename is re-run. */
  def listTables(ns: String = "*"): List[String] = {
    val nss = if (ns == "*") listNamespaces() else List(ns)
    nss.flatMap(tablesIn(_, includeMidRename = false))
  }

  /** One namespace's table dirs — the single definition of "is a table"
    * (a dir with meta.json), shared by [[listTables]] (which hides
    * mid-rename tables) and [[dropNamespace]] (which must count them). */
  private def tablesIn(ns: String, includeMidRename: Boolean): List[String] = {
    val d = warehouse.resolve(ns)
    if (!Files.isDirectory(d)) Nil
    else {
      val s = Files.list(d)
      try s.iterator().asScala
        .filter(p => Files.exists(p.resolve("meta.json")) &&
          (includeMidRename || !Files.exists(p.resolve(RenameMarkerFile))))
        .map(p => s"$ns.${p.getFileName}").toList.sorted
      finally s.close()
    }
  }

  /** ZERO-COPY CLONE: create `destIdent` whose first snapshot REFERENCES
    * the source snapshot's data files by path — O(metadata), no data copy
    * (what the reference's cloning.py:89-100 docstring promises but its
    * body does not deliver). GC-safety contract, in three parts:
    *
    *  1. The source snapshot is PINNED with tag `clone-<ns>.<t>` before
    *     the clone is created. Tags are never expired
    *     ([[IceTable.expireSnapshots]], including its tag/expire race
    *     closure), so the snapshot's entry stays in the source log and
    *     [[IceTable.orphanFiles]] keeps every file it references live —
    *     the source can expire/compact/GC freely and the clone still
    *     reads. Release the pin via [[graft.governance.Cloning.discard]]
    *     (or `removeTag` once the clone is dropped).
    *  2. [[dropTable]] refuses to drop a table with live outgoing clone
    *     pins (a `clone-*` tag whose clone table still exists).
    *  3. The clone's manifests are FRESH files in its own dir (only data
    *     files are shared), and the clone's own orphan GC only ever
    *     sweeps its own dataDir — foreign files are untouchable from the
    *     clone side.
    *
    * The clone carries the source's FULL schema history and partition-spec
    * eras, so foreign files resolve by field-id and prune by their
    * write-era partition dirs exactly as they did in the source.
    * Equality-delete state is refused (commit-id watermarks do not
    * transfer across tables — see [[IceTable.initCloneSnapshot]]). */
  def cloneTableZeroCopy(srcIdent: String, destIdent: String,
      asOf: Option[String] = None): IceTable = synchronized {
    val src = loadTable(srcIdent)
    val (ns, t) = parseIdent(destIdent)
    require(state.namespaces.contains(ns), s"no such namespace: $ns")
    require(!tableExists(destIdent), s"table exists: $ns.$t")
    val snap = asOf.map(src.resolveRef).getOrElse(src.currentSnapshot
      .getOrElse(throw new IllegalArgumentException(
        s"cannot zero-copy clone empty table $srcIdent")))
    require(snap.eqDeleteFiles.isEmpty,
      "zero-copy clone of equality-delete state is unsupported — " +
        "compact deletes on the source first, or use a copy clone")
    // pin FIRST: from this point the snapshot can never be expired, so
    // the clone can never be created against about-to-vanish files (a
    // racing expire either ran before the pin — then resolveRef/tag
    // already threw — or honors it, reinstating if needed)
    src.tagSnapshot(s"clone-$ns.$t", Some(snap.id.toString))
    val srcMeta = src.meta
    val schemaId =
      if (asOf.isEmpty) srcMeta.currentSchemaId else snap.schemaId
    val meta = TableMeta(ns, t, srcMeta.schemas, schemaId,
      srcMeta.partitionSpec, srcMeta.properties
        .filterNot(_._1.startsWith("ref.tag."))
        // reverse pointer for O(1) pin release on dropTable — the drop
        // must not scan the whole catalog to find which source it pinned
        + (Catalog.ClonedFromKey -> srcMeta.ident)
        // the clone is a DIFFERENT table: a fresh identity uuid, so a
        // changelog checkpoint bound to the source can never silently
        // resume against the clone's unrelated snapshot-id sequence
        + (TableUuidKey -> java.util.UUID.randomUUID().toString),
      srcMeta.previousPartitionSpecs)
    val dir = tableDir(ns, t)
    Files.createDirectories(dir)
    Jsons.writeFile(dir.resolve("meta.json"), meta)
    val dest = new IceTable(spark, dir)
    dest.initCloneSnapshot(snap, s"${srcMeta.ident}@${snap.id}")
    dest
  }

  /** `ALTER TABLE … RENAME TO` — a METADATA move in the dir-per-table
    * layout (beyond-parity: the reference's alter_table is column-only,
    * catalog.py:1103-1180). NO data file is moved or rewritten at any
    * size; the table's own metadata (log heads, manifest lists,
    * manifests) stores absolute paths and is textually re-pointed after
    * the move — O(metadata bytes), the same order as reading the
    * snapshot log once. Ordering contract, pin-first like
    * [[cloneTableZeroCopy]]:
    *
    *  1. A table with LIVE outgoing zero-copy clone pins refuses to
    *     rename (exactly like [[dropTable]]): the clones' manifests
    *     reference data files under THIS directory by absolute path, and
    *     a move would strand them. Discard/drop the clones first.
    *  2. If this table is itself a zero-copy clone, a pin tag under the
    *     NEW clone name lands on its source BEFORE anything moves — at
    *     every instant at least one live pin names an existing table, so
    *     a racing `dropTable(source)` is always refused. The OLD pin is
    *     released only after the move commits. (The clone's manifests
    *     point into the SOURCE's dir, which does not move — its reads
    *     are unaffected throughout.)
    *  3. The directory move is the commit point — one atomic rename(2)
    *     on a same-filesystem warehouse. A concurrent writer's commit
    *     CAS either landed before the move (the moved dir carries it) or
    *     fails loudly on the vanished path — the abort contract racing
    *     writers already live by ([[IceTable]] commit protocol).
    *  4. Post-move fixups: re-point the moved metadata's absolute paths
    *     (each file an atomic replace; any file is wholly old or wholly
    *     new text, and un-rewritten paths fail LOUDLY on read, never
    *     resolve to wrong data), re-point position-delete parquet
    *     contents, drop stale manifest-cache entries under the old
    *     prefix, and CAS the table's own ident.
    *
    * CRASH SAFETY: a rename-intent marker ([[Catalog.RenameMarkerFile]],
    * recording from/to idents and prefixes) is written into the table dir
    * just before the move and removed only after EVERY fixup completed —
    * so it travels with the dir through the commit point. While present,
    * [[loadTable]] refuses the table LOUDLY (a partially-fixed-up table
    * could silently resurrect MoR-deleted rows: stale old-prefix
    * file_path values in delete parquet match nothing). Re-running the
    * SAME rename resumes: it skips the move and re-applies the
    * (idempotent) fixups, then clears the marker.
    *
    * Governance/orchestration stores keyed by ident follow in
    * [[graft.Lakehouse.renameTable]]. */
  def renameTable(oldIdent: String, newIdent: String): IceTable =
    synchronized {
      val (ons, ot) = parseIdent(oldIdent)
      // an UNQUALIFIED target keeps the SOURCE namespace — parseIdent's
      // default-ns mapping is a lookup convention; silently moving
      // sales.t to default.t2 on `rename-table sales.t t2` is not
      val (nns, nt) =
        if (newIdent.contains(".")) parseIdent(newIdent) else (ons, newIdent)
      // RESUME: the dir move (the commit point) already landed but the
      // fixups did not finish (crash or a thrown Spark job mid-rewrite).
      // Positive evidence required — the marker naming exactly this
      // rename; a typo'd old name without one still refuses below.
      val pendingMarker = tableDir(nns, nt).resolve(Catalog.RenameMarkerFile)
      if (!tableExists(oldIdent) && tableExists(s"$nns.$nt") &&
          Files.exists(pendingMarker)) {
        // a corrupt marker must fail with the manual repair, not a raw
        // JSON parse error — this IS the documented repair path
        val p = try Jsons.readFile[RenamePending](pendingMarker)
          catch { case e: Exception =>
            throw new IllegalStateException(
              s"unreadable rename marker at $pendingMarker — inspect " +
                s"${tableDir(nns, nt)}: if its metadata already points " +
                "at that directory (fixups completed before the crash), " +
                "delete the marker; otherwise recreate it as JSON " +
                "{fromIdent, toIdent, oldPrefix, newPrefix} and re-run " +
                "the rename", e)
          }
        require(p.fromIdent == s"$ons.$ot" && p.toIdent == s"$nns.$nt",
          s"rename marker at $pendingMarker records ${p.fromIdent} -> " +
            s"${p.toIdent}, not $ons.$ot -> $nns.$nt")
        return finishRename(ons, ot, nns, nt, p.oldPrefix, p.newPrefix)
      }
      require(tableExists(oldIdent), s"no such table: $ons.$ot")
      require(state.namespaces.contains(nns), s"no such namespace: $nns")
      require(!(ons == nns && ot == nt),
        s"rename target equals the source: $ons.$ot")
      require(!tableExists(s"$nns.$nt"), s"table exists: $nns.$nt")
      val oldDir = tableDir(ons, ot)
      val old = new IceTable(spark, oldDir)
      // step 1: live outgoing pins refuse, mirroring dropTable
      val livePins = old.tags.keys
        .filter(_.startsWith("clone-")).map(_.stripPrefix("clone-"))
        .filter(c => c != s"$ons.$ot" && tableExists(c))
      require(livePins.isEmpty,
        s"table $ons.$ot is referenced by zero-copy clones: " +
          s"${livePins.mkString(", ")} — drop or discard them first")
      // step 2: pin-first re-pin of our own source under the NEW name
      val clonedFrom =
        old.meta.properties.get(ClonedFromKey).filter(tableExists)
      clonedFrom.foreach { srcIdent =>
        val src = loadTable(srcIdent)
        src.tags.get(s"clone-$ons.$ot").foreach { pinned =>
          src.tagSnapshot(s"clone-$nns.$nt", Some(pinned.toString))
        }
      }
      val newDir = tableDir(nns, nt)
      Files.createDirectories(newDir.getParent)
      val oldPrefix = oldDir.toAbsolutePath.toString + "/"
      val newPrefix = newDir.toAbsolutePath.toString + "/"
      // intent marker just before the move: it rides the dir through the
      // commit point, so a crash anywhere in the fixups leaves positive,
      // self-describing evidence in the MOVED dir (see scaladoc)
      Jsons.writeFile(oldDir.resolve(Catalog.RenameMarkerFile),
        RenamePending(s"$ons.$ot", s"$nns.$nt", oldPrefix, newPrefix))
      // the commit point (step 3): ATOMIC_MOVE = rename(2) or fail — a
      // copy+delete fallback would race concurrent writers non-atomically.
      // A FAILED move rolls the pin-first re-pin back: nothing references
      // the new name yet, and an orphaned clone-<never-existed> tag would
      // pin the source snapshot against GC until the stale-pin sweep.
      try Files.move(oldDir, newDir,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
      catch { case e: Throwable =>
        clonedFrom.foreach { srcIdent =>
          try loadTable(srcIdent).removeTag(s"clone-$nns.$nt")
          catch { case _: Exception => () }
        }
        Files.deleteIfExists(oldDir.resolve(Catalog.RenameMarkerFile))
        throw e
      }
      finishRename(ons, ot, nns, nt, oldPrefix, newPrefix)
    }

  /** Step-4 rename fixups + marker clear — IDEMPOTENT by construction
    * (each metadata file replace is atomic and a no-op once re-pointed;
    * the delete-parquet rewrite is a prefix replace that no-ops on
    * already-new content), so it doubles as [[renameTable]]'s resume
    * path after a crash mid-fixups. */
  private def finishRename(ons: String, ot: String, nns: String,
      nt: String, oldPrefix: String, newPrefix: String): IceTable = {
      val newDir = tableDir(nns, nt)
      // step 4: re-point every absolute path in the moved metadata
      // (meta.json + meta-v + log heads + legacy snapshots.json +
      // manifests + the WAP staged-commit registry — never the data
      // files themselves; a pending stage's data moved with the dir, and
      // its registry entry must follow or orphan GC would collect it)
      val metaFiles =
        List(newDir.resolve("meta.json"), newDir.resolve("snapshots.json"))
          .filter(Files.exists(_)) ++
        List("meta-v", "heads", "manifests", "staged").map(newDir.resolve)
          .filter(Files.isDirectory(_)).flatMap { d =>
            val s = Files.list(d)
            try s.iterator().asScala.toList finally s.close()
          }.filter(_.getFileName.toString.endsWith(".json"))
      metaFiles.foreach { p =>
        val txt = Jsons.readString(p)
        if (txt.contains(oldPrefix))
          Jsons.writeString(p, txt.replace(oldPrefix, newPrefix))
      }
      // evict BOTH prefixes: old keys could alias a table later created
      // at the old path; new keys could hold a previously-dropped
      // table's manifests cached at the destination path
      Manifests.invalidatePrefix(oldPrefix)
      Manifests.invalidatePrefix(newPrefix)
      val moved = new IceTable(spark, newDir)
      // position-delete parquet stores row identities as (file_path, pos)
      // whose file_path strings are ABSOLUTE (in _metadata URI form) —
      // re-point those too or every read/replay/compaction comparing them
      // against live lineage silently stops matching. Each file rewrites
      // IN PLACE (same path and name — the re-pointed manifests reference
      // it); O(deleted rows) total, tiny by merge-on-read design, and no
      // DATA file is ever touched. Foreign delete files (a zero-copy
      // clone referencing its source's) live outside the moved dir and
      // are skipped — their targets did not move.
      val delPaths = moved.snapshots.flatMap(_.deleteFiles.map(_.path))
        .distinct.filter(_.startsWith(newPrefix))
      if (delPaths.nonEmpty) {
        val rewriteDir = Files.createTempDirectory("graft-rename-del-")
        val esc = (s: String) => s.replace("'", "''")
        delPaths.foreach { p =>
          val out = rewriteDir.resolve(java.util.UUID.randomUUID().toString)
          spark.read.schema(IceTable.DeleteSchema).parquet(p)
            .selectExpr(
              s"replace(file_path, '${esc(oldPrefix)}', " +
                s"'${esc(newPrefix)}') AS file_path", "pos")
            .sortWithinPartitions("file_path", "pos")
            .coalesce(1)
            .write.parquet(out.toString)
          val part = {
            val s = Files.list(out)
            try s.iterator().asScala
              .find(_.getFileName.toString.endsWith(".parquet"))
              .getOrElse(throw new IllegalStateException(
                s"delete-file rewrite of $p produced no parquet"))
            finally s.close()
          }
          val target = Paths.get(p)
          Files.move(part, target,
            java.nio.file.StandardCopyOption.REPLACE_EXISTING)
          // Hadoop's ChecksumFileSystem keeps a `.<name>.crc` sidecar per
          // local file — the replaced parquet must carry the NEW content's
          // checksum or every later read fails verification
          def crcOf(d: Path, name: String) = d.resolve(s".$name.crc")
          val newCrc = crcOf(out, part.getFileName.toString)
          val targetCrc = crcOf(target.getParent,
            target.getFileName.toString)
          if (Files.exists(newCrc))
            Files.move(newCrc, targetCrc,
              java.nio.file.StandardCopyOption.REPLACE_EXISTING)
          else Files.deleteIfExists(targetCrc)
        }
        val walk = Files.walk(rewriteDir)
        try walk.sorted(Comparator.reverseOrder[Path]())
          .iterator().asScala.foreach(Files.deleteIfExists(_))
        finally walk.close()
        // the rewritten delete parquet has a different byte size than the
        // recorded FileEntry.bytes (string lengths changed, compression
        // re-ran) — re-stat and fix the records so the .files and
        // .delete_files metadata tables report true sizes. Typed JSON
        // round trips (the same Jsons shapes the commit path writes):
        // heads + legacy snapshots.json are List[Snapshot]; manifest
        // files are List[FileEntry] (manifest-LIST files fail that parse
        // and are skipped).
        val newSizes: Map[String, Long] =
          delPaths.map(p => p -> Files.size(Paths.get(p))).toMap
        def fixEntries(es: List[FileEntry]): List[FileEntry] =
          es.map(e => newSizes.get(e.path).fold(e)(b => e.copy(bytes = b)))
        metaFiles.filter(p => {
          val n = p.getParent.getFileName.toString
          val f = p.getFileName.toString
          n == "heads" || f == "snapshots.json"
        }).foreach { p =>
          try {
            val snaps = Jsons.readFile[List[Snapshot]](p)
            val fixed = snaps.map(s =>
              s.copy(deleteFiles = fixEntries(s.deleteFiles)))
            if (fixed != snaps) Jsons.writeFile(p, fixed)
          } catch { case _: Exception => () }
        }
        metaFiles.filter(_.getParent.getFileName.toString == "manifests")
          .foreach { p =>
            try {
              val es = Jsons.readFile[List[FileEntry]](p)
              val fixed = fixEntries(es)
              if (fixed != es) Jsons.writeFile(p, fixed)
            } catch { case _: Exception => () }
          }
      }
      moved.renameIdent(nns, nt)
      // all fixups landed — clear the marker, then release the OLD pin on
      // our source (tag may already be gone on a resumed rename).
      // BEST-EFFORT by design: after the marker clears, the rename IS
      // complete — failing it over a pin-release race would strand the
      // caller in a "throw but nothing left to resume" state (the
      // facade's intent-withdrawal logic keys on the marker); a stale
      // pin only delays GC until the stale-pin sweep, like the rollback
      // path's own best-effort untag.
      Files.deleteIfExists(newDir.resolve(Catalog.RenameMarkerFile))
      try moved.meta.properties.get(ClonedFromKey).filter(tableExists)
        .foreach { srcIdent =>
          val src = loadTable(srcIdent)
          if (src.tags.contains(s"clone-$ons.$ot"))
            src.removeTag(s"clone-$ons.$ot")
        }
      catch { case _: Exception => () }
      moved
    }

  def dropTable(ident: String): Unit = synchronized {
    val (ns, t) = parseIdent(ident)
    val dir = tableDir(ns, t)
    require(Files.exists(dir.resolve("meta.json")), s"no such table: $ns.$t")
    val dropped = new IceTable(spark, dir)
    // refuse dropping a table that zero-copy clones still reference: the
    // clones' data files live under THIS directory (pins whose clone
    // table is already gone don't block — drop the clone first, then the
    // source; see cloneTableZeroCopy's GC contract)
    val livePins = dropped.tags.keys
      .filter(_.startsWith("clone-")).map(_.stripPrefix("clone-"))
      .filter(c => c != s"$ns.$t" && tableExists(c))
    require(livePins.isEmpty,
      s"table $ns.$t is referenced by zero-copy clones: " +
        s"${livePins.mkString(", ")} — drop or discard them first")
    // If the dropped table is itself a zero-copy clone, release the
    // `clone-$ns.$t` pin it holds on its source — Cloning.discard does
    // this too, but a direct dropTable would otherwise strand the tag
    // forever, permanently blocking expireSnapshots/GC of the pinned
    // snapshot's files. The clone's own metadata names its source
    // ([[Catalog.ClonedFromKey]]), so the release is O(1) — no catalog
    // scan at a 10k-table warehouse. Resolved BEFORE deletion, released
    // AFTER (a failed delete must not unpin); a concurrently-dropped
    // source just means there is nothing left to unpin.
    val pinnedSource = dropped.meta.properties.get(Catalog.ClonedFromKey)
    val walk = Files.walk(dir)
    try walk.sorted(Comparator.reverseOrder[Path]())
      .iterator().asScala.foreach(Files.deleteIfExists(_))
    finally walk.close()
    pinnedSource.filter(tableExists).foreach { srcIdent =>
      loadTable(srcIdent).removeTag(s"clone-$ns.$t")
    }
  }

  /** Diagnostic trace of [[registerView]] calls (table idents, in order).
    * Tests assert the SQL entry path resolves ONLY the tables a query
    * names — at catalog scale, registering every table per query is
    * O(catalog) driver metadata I/O for nothing. OFF by default: an
    * always-on trace would grow unboundedly in a long-lived server
    * process; tests flip [[traceRegistrations]] on. */
  private[graft] val registrationTrace =
    new java.util.concurrent.ConcurrentLinkedQueue[String]()
  @volatile private[graft] var traceRegistrations = false

  /** Register ONE table as temp views under both its short name and the
    * `ns__table` federated alias. Lazy view over the current snapshot —
    * no materialization; the table's metadata head is resolved here.
    * Returns the registered frame. */
  def registerView(ident: String): DataFrame = {
    val (ns, t) = parseIdent(ident)
    if (traceRegistrations) registrationTrace.add(s"$ns.$t")
    val df = loadTable(ident).read()
    df.createOrReplaceTempView(t)
    df.createOrReplaceTempView(s"${ns}__$t")
    df
  }

  /** Register every table (reference query.py:52-75, joins.py:13-41) — the
    * explicit whole-catalog refresh; the per-query path registers only the
    * referenced tables ([[graft.engine.QueryEngine.execute]]). */
  def registerViews(): Unit = listTables("*").foreach(registerView)
}

object Catalog {
  val DefaultNamespace = "default"

  /** Table property a zero-copy clone carries naming its source table —
    * the reverse pointer that lets [[Catalog.dropTable]] release the
    * clone's pin tag on the source in O(1). */
  val ClonedFromKey = "graft.cloned-from"

  /** Rename-intent marker file inside a table dir (see
    * [[Catalog.renameTable]]'s crash-safety contract): written just
    * before the dir move, removed only after every fixup completed.
    * While present, [[Catalog.loadTable]] refuses the table loudly. */
  val RenameMarkerFile = "_rename-pending.json"

  /** Table property holding a creation-time identity uuid: stable across
    * renames (it moves with the dir), FRESH on every create/clone — the
    * identity external offset checkpoints bind to, since snapshot ids
    * are per-table sequential and a recreated table restarts them at 1
    * (a bare-id offset would silently alias). */
  val TableUuidKey = "graft.table-uuid"

  case class CatalogState(namespaces: Map[String, Map[String, String]])

  /** Canonical `"ns.t"` form — the shape governance stores re-key on
    * during [[Catalog.renameTable]] (users may have keyed a store with
    * the short `"t"` form; both must follow the rename). TOTAL: an
    * unparseable key comes back unchanged rather than failing the whole
    * rename over one stray store entry. */
  def canonicalIdent(ident: String): String = ident.split('.') match {
    case Array(t) => s"$DefaultNamespace.$t"
    case Array(ns, t) => s"$ns.$t"
    case _ => ident
  }

  /** Re-key a store map's entries for `from` onto canonical `to` —
    * shared by every governance store's renameTable follower. When BOTH
    * the short and ns-qualified forms of the same table appear as keys
    * (a pre-existing aliasing inconsistency — stores match keys
    * exactly), the canonical ns-qualified entry wins DETERMINISTICALLY
    * instead of whichever Map.map kept last. */
  def rekeyStore[V](m: Map[String, V], from: String, to: String)(
      fix: V => V): Map[String, V] = {
    val f = canonicalIdent(from)
    val t = canonicalIdent(to)
    val (hits, rest) = m.partition { case (k, _) => canonicalIdent(k) == f }
    if (hits.isEmpty) m
    else {
      val winner =
        hits.toSeq.sortBy { case (k, _) => if (k == f) 0 else 1 }.head._2
      rest + (t -> fix(winner))
    }
  }

  /** `"t"` → `("default","t")`; `"ns.t"` → `("ns","t")` (dedup.py:6-9). */
  def parseIdent(ident: String): (String, String) = ident.split('.') match {
    case Array(t) => (DefaultNamespace, t)
    case Array(ns, t) => (ns, t)
    case _ => throw new IllegalArgumentException(s"bad table identifier: $ident")
  }

  def open(spark: SparkSession, warehouseDir: String): Catalog =
    new Catalog(spark, Paths.get(warehouseDir)).init()
}

/** Content of [[Catalog.RenameMarkerFile]]: the rename this marker
  * protects (canonical idents) and the absolute path prefixes the
  * fixups rewrite between — everything [[Catalog]] needs to resume the
  * fixups without re-deriving state from a half-fixed-up table. */
case class RenamePending(fromIdent: String, toIdent: String,
    oldPrefix: String, newPrefix: String)

/** One pending facade-level rename ([[graft.Lakehouse.renameTable]]'s
  * `_meta/rename-intents/<from>.json`): evidence that a crash between
  * the catalog move and the governance-store followers left followers
  * un-re-keyed — the resume gate's second accepted proof (the in-dir
  * [[RenamePending]] marker being the first). */
case class RenameIntent(fromIdent: String, toIdent: String)
