package graft.core

import java.nio.file.{Files, Path, Paths}
import java.time.{Instant, LocalDateTime, ZoneOffset}
import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** A snapshot-versioned parquet table ("IceLite") — the Spark-native stand-in
  * for the reference's Iceberg tables (no iceberg-spark-runtime jar in the
  * build image; see SURVEY §7.0).
  *
  * Layout: `<warehouse>/<ns>/<table>/{meta.json, snapshots.json, data/commit-N/...}`.
  * Semantics mirrored from the reference: every write is a new snapshot
  * (reference catalog.py:204-237), time travel by snapshot-id or ISO
  * timestamp with int-parse-first precedence (catalog.py:240-288), expire
  * never drops the current snapshot (catalog.py:977-979), rollback creates a
  * NEW snapshot preserving history (catalog.py:834-906).
  *
  * Scale posture: data files are only ever referenced by manifest lists; no
  * operation materializes a table to the driver. Reads hand Catalyst an
  * explicit file list + fixed schema, so column pruning and parquet filter
  * pushdown still apply, and partition-dir layout (`_p_*=v`) enables
  * path-level pruning via [[prunedRead]].
  */
class IceTable(val spark: SparkSession, val dir: Path) {
  import IceTable._

  def metaPath: Path = dir.resolve("meta.json")
  def snapshotsPath: Path = dir.resolve("snapshots.json")
  def headsDir: Path = dir.resolve("heads")
  def metaVersionsDir: Path = dir.resolve("meta-v")
  def dataDir: Path = dir.resolve("data")
  def manifestsDir: Path = dir.resolve("manifests")

  def meta: TableMeta = metaHead._2
  def schema: StructType = meta.schema

  private def metaVPath(v: Long): Path =
    metaVersionsDir.resolve(f"v-$v%09d.json")

  /** Current table metadata (version, value). Version 0 is the bootstrap
    * `meta.json` Catalog.createTable wrote (kept forever as the
    * table-existence marker — its CONTENT is superseded the moment any
    * `meta-v/v-N.json` exists); versions >= 1 are write-once files, the
    * same CAS shape as the snapshot log's heads. Readers take the max
    * version; bounded retry covers a reader whose pick was pruned by
    * KeepHeads newer metadata commits landing mid-read. */
  private[core] def metaHead: (Long, TableMeta) = {
    def listLatest: Option[Long] =
      if (!Files.isDirectory(metaVersionsDir)) None
      else {
        val s = Files.list(metaVersionsDir)
        try s.iterator.asScala
          .flatMap(p => IceTable.HeadRe.findFirstMatchIn(p.getFileName.toString)
            .map(_.group(1).toLong))
          .foldLeft(Option.empty[Long])((a, v) => Some(a.fold(v)(math.max(_, v))))
        finally s.close()
      }
    var attempt = 0
    while (true) {
      listLatest match {
        case Some(v) =>
          try return (v, Jsons.readFile[TableMeta](metaVPath(v)))
          catch {
            case e: java.nio.file.NoSuchFileException =>
              if (attempt >= 5) throw e
          }
        case None =>
          return (0L, Jsons.readFile[TableMeta](metaPath))
      }
      attempt += 1
    }
    sys.error("unreachable")
  }

  /** Test-only interleaving hook for metadata commits — fires between the
    * meta-head read and the CAS attempt (the foreign-process window). */
  private[core] var onMetaAttempt: TableMeta => Unit = _ => ()

  /** Optimistic read-modify-write on table METADATA (schema evolution,
    * properties) — the same cross-process CAS protocol as the snapshot
    * log: without it, two processes evolving concurrently would rewrite
    * meta.json last-writer-wins and silently drop one process's column
    * or property. `f` runs against the freshest metadata each attempt,
    * so the loser's retry composes (both columns land, field-ids
    * re-floored against the winner's). */
  private def updateMeta(f: TableMeta => TableMeta): TableMeta =
    tableLock.synchronized {
      var attempt = 0
      while (attempt < IceTable.MaxCommitRetries) {
        val (v, m) = metaHead
        onMetaAttempt(m)
        val next = f(m)
        // `f` returning the input unchanged (no-op evolution, idempotent
        // re-apply) must not burn a metadata version per call
        if (next eq m) return m
        if (!Files.isDirectory(metaVersionsDir)) {
          // same zombie-resurrection guard as casLog: never recreate the
          // CAS dir of a table whose directory was dropped/renamed under
          // this writer — fail loudly instead of committing into a dir
          // no catalog entry points at anymore
          require(Files.exists(metaPath),
            s"table directory vanished mid-update (dropped or renamed): $dir")
          Files.createDirectories(metaVersionsDir)
          if (!Files.exists(metaPath)) { // recheck — see casLog
            try Files.deleteIfExists(metaVersionsDir)
            catch { case _: java.io.IOException => () }
            throw new IllegalStateException(
              s"table directory vanished mid-update (dropped or renamed): $dir")
          }
        }
        val tmp = metaVersionsDir.resolve(
          s".cas-${java.util.UUID.randomUUID()}.tmp")
        try {
          Files.write(tmp, Jsons.write(next)
            .getBytes(java.nio.charset.StandardCharsets.UTF_8))
          try {
            Files.createLink(metaVPath(v + 1), tmp)
            val old = v + 1 - IceTable.KeepHeads
            if (old >= 1)
              try Files.deleteIfExists(metaVPath(old))
              catch { case _: java.io.IOException => () }
            return next
          } catch { case _: java.nio.file.FileAlreadyExistsException => () }
        } finally Files.deleteIfExists(tmp)
        attempt += 1
        Thread.sleep(math.min(100L, 5L * attempt))
      }
      throw new java.util.ConcurrentModificationException(
        s"metadata update on $dir lost the CAS ${IceTable.MaxCommitRetries} times")
    }

  /** Raw snapshot-log entries: constant-size records whose file lists are
    * manifest POINTERS, not contents (legacy entries may still inline).
    * Commit paths work on these — a commit must never pay for resolving
    * every snapshot's files. */
  private def snapshotRefs: List[Snapshot] = logHead._2

  private[core] def headPath(v: Long): Path = headsDir.resolve(f"v-$v%09d.json")

  /** Current log (version, entries). Version 0 = the legacy whole-file
    * `snapshots.json` (or an empty table); versions >= 1 are immutable
    * `heads/v-N.json` files, each holding the FULL compact log as of that
    * commit (constant size per entry — entries are manifest pointers).
    * Readers take the max version present; head files are write-once, so
    * a reader can never observe a torn or half-replaced log the way a
    * rewritten single file could expose under a non-atomic writer. */
  private[core] def logHead: (Long, List[Snapshot]) = {
    def listLatest: Option[Long] =
      if (!Files.isDirectory(headsDir)) None
      else {
        val s = Files.list(headsDir)
        try s.iterator.asScala
          .flatMap(p => IceTable.HeadRe.findFirstMatchIn(p.getFileName.toString)
            .map(_.group(1).toLong))
          .foldLeft(Option.empty[Long])((a, v) => Some(a.fold(v)(math.max(_, v))))
        finally s.close()
      }
    // Bounded retry covers two benign read races: (1) the max version a
    // reader picked was pruned because KeepHeads newer commits landed
    // between its listing and its read — re-list finds the newer head;
    // (2) the legacy snapshots.json was tombstoned by the first CAS commit
    // between this reader's (empty) heads listing and its existence check
    // — by then heads/v-1 exists, so a re-list finds it.
    var attempt = 0
    while (true) {
      listLatest match {
        case Some(v) =>
          try return (v, Jsons.readFile[List[Snapshot]](headPath(v)).sortBy(_.id))
          catch {
            case e: java.nio.file.NoSuchFileException =>
              if (attempt >= 5) throw e
          }
        case None =>
          if (Files.exists(snapshotsPath))
            return (0L, Jsons.readFile[List[Snapshot]](snapshotsPath).sortBy(_.id))
          else if (attempt >= 1 && listLatest.isEmpty) return (0L, Nil)
      }
      attempt += 1
    }
    sys.error("unreachable")
  }

  /** One CAS attempt on the log: write the new log to a writer-unique temp
    * file, then atomically claim version `expected + 1` via hard-link
    * creation — link(2) fails with EEXIST when the target exists, which is
    * the local filesystem's compare-and-swap primitive (same role as the
    * atomic metadata-file rename in Iceberg's HadoopTableOperations).
    * Returns false when another writer — thread or PROCESS — claimed the
    * version first; the caller re-reads and retries. */
  private def casLog(expected: Long, entries: List[Snapshot]): Boolean = {
    if (!Files.isDirectory(headsDir)) {
      // a missing heads dir is either a pre-first-commit table (meta.json
      // present — create it) or a table dir dropped/renamed under this
      // writer's feet (meta.json gone too). A blind createDirectories in
      // the second case would RESURRECT a zombie directory and let the
      // CAS "succeed" into a table that no longer exists — a silently
      // lost commit that violates the abort contract (returned ⇒ in the
      // final state). Fail loudly instead; a racing drop/rename then
      // surfaces exactly like any other lost CAS: the statement throws
      // and leaves no trace.
      require(Files.exists(metaPath),
        s"table directory vanished mid-commit (dropped or renamed): $dir")
      Files.createDirectories(headsDir)
      // re-check AFTER creating: a rename/drop landing in the
      // check-then-create window would otherwise still get a zombie dir
      // (the window shrinks to the recheck-vs-CAS instants, closed for
      // any table that ever committed — its heads dir skips this branch)
      if (!Files.exists(metaPath)) {
        try Files.deleteIfExists(headsDir)
        catch { case _: java.io.IOException => () }
        throw new IllegalStateException(
          s"table directory vanished mid-commit (dropped or renamed): $dir")
      }
    }
    val tmp = headsDir.resolve(s".cas-${java.util.UUID.randomUUID()}.tmp")
    try {
      Files.write(tmp, Jsons.write(compactLog(entries))
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      try {
        Files.createLink(headPath(expected + 1), tmp)
        // v0 → v1 migration: the legacy whole-file log is now superseded
        // (its content lives in v-1); tombstone it so no maintenance tool
        // mistakes it for live state. Readers that listed heads/ before
        // the link see the tombstone miss and re-list (logHead retry).
        if (expected == 0L && Files.exists(snapshotsPath))
          try Files.move(snapshotsPath,
            dir.resolve("snapshots.json.v0-migrated"))
          catch { case _: java.io.IOException => () }
        pruneHeads(expected + 1)
        true
      } catch { case _: java.nio.file.FileAlreadyExistsException => false }
    } finally Files.deleteIfExists(tmp)
  }

  /** Drop head versions older than the retention window, best-effort: every
    * reader takes the MAX version, so deleting older ones never races a
    * read; keeping a few protects a reader that listed just before a
    * concurrent commit landed. Bounds head storage at O(KeepHeads × log). */
  private def pruneHeads(current: Long): Unit = {
    // every commit prunes, so exactly one version falls out of the window
    // per commit — O(1), no directory walk
    val v = current - IceTable.KeepHeads
    if (v >= 1)
      try Files.deleteIfExists(headPath(v))
      catch { case _: java.io.IOException => () }
  }

  /** Test-only interleaving hook: runs between the head read and the CAS
    * attempt of a commit — the window where a competing process can land
    * its own commit. Lets a spec simulate cross-process races inside one
    * JVM (the in-JVM [[tableLock]] is reentrant, so the hook can run a
    * full competing commit on another IceTable instance). */
  private[core] var onCommitAttempt: List[Snapshot] => Unit = _ => ()

  /** Test hook: fires inside an expire attempt immediately AFTER the tag
    * pin-set read — the exact window where a foreign tagSnapshot's meta CAS
    * can land unseen (see the reinstatement pass in [[expireSnapshots]]). */
  private[core] var onExpirePinRead: () => Unit = () => ()

  /** Thrown by a commit body to signal "lost a filesystem race before the
    * CAS" (e.g. the `commit-<id>` data-dir name was claimed by a competing
    * writer); control flow only. */
  private[core] object CommitRace extends RuntimeException("commit race") {
    override def fillInStackTrace(): Throwable = this
  }

  /** Optimistic read-modify-write on the snapshot log — Iceberg's commit
    * protocol: build the new log against the freshest head, CAS it in as
    * version+1, and on conflict re-read and rebuild. `f` returns Left to
    * finish without writing (e.g. nothing to expire). Same-JVM writers are
    * serialized by [[tableLock]] and never conflict; the retry loop exists
    * for writers in OTHER processes, which the previous whole-file log
    * rewrite silently dropped (last-writer-wins). The expensive work of a
    * commit (data/manifest file writes) stays OUTSIDE `f` or is O(metadata)
    * inside it, so a retry costs metadata only, never a data rewrite. */
  private def commitLog[T](f: List[Snapshot] => Either[T, (List[Snapshot], T)]): T = {
    var attempt = 0
    while (attempt < IceTable.MaxCommitRetries) {
      val (v, refs) = logHead
      onCommitAttempt(refs)
      try {
        f(refs) match {
          case Left(out) => return out
          case Right((entries, out)) =>
            if (casLog(v, entries)) return out
        }
      } catch { case CommitRace => () }
      attempt += 1
      IceTable.casRetryCounter.incrementAndGet()
      Thread.sleep(math.min(100L, 5L * attempt)) // linear backoff, capped
    }
    throw new java.util.ConcurrentModificationException(
      s"commit to $dir lost the log CAS ${IceTable.MaxCommitRetries} times")
  }

  /** Abort a merge-on-read delete/update whose read snapshot (`asOfId`)
    * was overtaken by a competing commit that REMOVED or RELOCATED rows:
    *
    *  - overwrite/compaction REWRITE data files — recorded positions
    *    reference replaced files and an equality entry's `coveredUpTo`
    *    watermark would exempt the rewritten copies; committing would
    *    silently drop the delete.
    *  - a concurrent MoR `update` or `delete` removes rows too:
    *    committing over it could double-delete the same position
    *    (corrupting liveRows accounting), miss rows the update relocated
    *    into new files, or — for an update — RESURRECT a concurrently
    *    deleted row as a fresh copy. Iceberg's serializable-level
    *    validateNoConflictingData/validateNoConflictingDeletes rule.
    *
    * Appends always commute. Zero-copy rollbacks re-reference existing
    * files, so every targeted path stays valid — they commute with DELETES
    * (delete-then-rollback ≡ the serial order where the rollback discards
    * the delete; rollback-then-eq-delete applies the keys to the restored
    * state — both serializable) but NOT with UPDATES: an update that read
    * pre-rollback state appends fresh copies of rows the rollback removed,
    * RESURRECTING them (its position deletes against rolled-back-away
    * files are inert), a state no serial order produces. Callers on the
    * update path pass `rollbackConflicts = true`. */
  private def failOnConflictingRewrite(refs: List[Snapshot], asOfId: Long,
      what: String, rollbackConflicts: Boolean = false): Unit =
    refs.dropWhile(_.id <= asOfId)
      .find { r =>
        val rewrites = (r.operation == "overwrite" || r.operation == "replace") &&
          (rollbackConflicts || !r.summary.contains("rolled-back-to"))
        rewrites || r.operation == "update" || r.operation == "delete"
      }
      .foreach(r => throw new java.util.ConcurrentModificationException(
        s"$what computed against snapshot $asOfId conflicts with concurrent " +
          s"${r.operation} snapshot ${r.id} which removed or relocated rows"))

  /** Raw constant-size log entries as persisted (manifest pointers, no
    * inline file lists) — the compact view tests and tooling inspect. */
  def rawLog: List[Snapshot] = snapshotRefs

  /** Inline a ref's manifest-list contents so callers see the full
    * `files`/`deleteFiles`/`eqDeleteFiles` exactly as the legacy format
    * stored them. Manifest files are immutable → contents come from the
    * [[Manifests]] cache after first touch. */
  private def resolve(s: Snapshot): Snapshot = s.manifestList match {
    case None => s
    case Some(p) =>
      val ml = Manifests.readList(p)
      s.copy(files = ml.dataManifests.flatMap(Manifests.readManifest),
        deleteFiles = ml.deleteManifests.flatMap(Manifests.readManifest),
        eqDeleteFiles = ml.eqDeleteFiles)
  }

  /** Compact form of the log for persistence: entries carrying a
    * manifest-list pointer are stored with inline lists stripped, so the
    * log grows by one constant-size entry per commit, never by O(files). */
  private def compactLog(entries: List[Snapshot]): List[Snapshot] =
    entries.map(e =>
      if (e.manifestList.isDefined)
        e.copy(files = Nil, deleteFiles = Nil, eqDeleteFiles = Nil)
      else e)

  /** A ref's manifest list; a LEGACY inline ref has none, so its lists are
    * materialized as manifest files once (named after the child commit
    * that needed them) and the table is new-format from then on. */
  private def manifestListOf(ref: Snapshot, childId: Long): ManifestList =
    ref.manifestList match {
      case Some(p) => Manifests.readList(p)
      case None =>
        val dm =
          if (ref.files.isEmpty) Nil
          else List(Manifests.writeManifest(
            manifestsDir.resolve(f"m-$childId%05d-parent-data.json"), ref.files))
        val del =
          if (ref.deleteFiles.isEmpty) Nil
          else List(Manifests.writeManifest(
            manifestsDir.resolve(f"m-$childId%05d-parent-del.json"), ref.deleteFiles))
        ManifestList(dm, del, ref.eqDeleteFiles)
    }

  def snapshots: List[Snapshot] = snapshotRefs.map(resolve)

  def currentSnapshot: Option[Snapshot] = snapshotRefs.lastOption.map(resolve)

  def snapshotById(id: Long): Option[Snapshot] =
    snapshotRefs.find(_.id == id).map(resolve)

  /** Resolve the log entries in `(fromExclusive, toInclusive]` plus each
    * entry's PARENT, reading + parsing the log file ONCE — the changelog
    * replay's accessor. Per-commit [[snapshotById]] calls would re-read
    * the full O(history) head file per replayed commit (the log has no
    * in-memory cache by design — every read must see competitors'
    * commits), turning a bounded replay quadratic in history. Returned
    * in log order; a parent of `None` with `parentId` set means the
    * parent was expired — callers refuse. Consecutive commits share
    * resolutions (the parent of entry i+1 is usually entry i).
    *
    * The result ALSO carries the raw refs the range was computed from
    * ([[IceTable.LogRange.refs]]): an offset consumer must judge "is my
    * resume point retained" and "what is the range above it" against the
    * SAME log snapshot — with separate reads, an expiry landing between
    * them makes the retention check pass while the range silently loses
    * the pruned commits (a permanent skip, exactly what the check
    * refuses). */
  def snapshotRangeWithParents(fromExclusive: Option[Long],
      toInclusive: Long): IceTable.LogRange = {
    val refs = snapshotRefs
    val byId = refs.iterator.map(r => r.id -> r).toMap
    val cache = scala.collection.mutable.Map.empty[Long, Snapshot]
    def res(r: Snapshot): Snapshot = cache.getOrElseUpdate(r.id, resolve(r))
    IceTable.LogRange(refs,
      refs.filter(s => fromExclusive.forall(s.id > _) && s.id <= toInclusive)
        .map(s => (res(s), s.parentId.flatMap(byId.get).map(res))))
  }

  /** Resolve a time-travel ref: integer snapshot-id first, then a named
    * TAG, else ISO timestamp → latest snapshot at-or-before it
    * (catalog.py:265-288; tags are a graft extra). Tag names are barred
    * from being purely numeric at creation, so the precedence order can
    * never shadow an id. */
  def resolveRef(ref: String): Snapshot = {
    ref.toLongOption match {
      case Some(id) =>
        snapshotById(id).getOrElse(
          throw new IllegalArgumentException(s"no snapshot with id $id"))
      case None =>
        tags.get(ref) match {
          case Some(id) => snapshotById(id).getOrElse(
            throw new IllegalStateException(
              s"tag '$ref' points to missing snapshot $id"))
          case None =>
            val ts = parseInstantMs(ref)
            snapshotRefs.filter(_.timestampMs <= ts).lastOption.map(resolve)
              .getOrElse(throw new IllegalArgumentException(
                s"no snapshot at or before $ref"))
        }
    }
  }

  // ---- named snapshot tags (Iceberg-style retained refs) -----------------

  private val TagPrefix = "ref.tag."

  /** Named tags: tag name → snapshot id. Stored as table properties, so
    * creation/removal rides the metadata CAS (cross-process safe) and
    * backup/clone carry tags along for free. */
  def tags: Map[String, Long] =
    meta.properties.collect {
      case (k, v) if k.startsWith(TagPrefix) && v.toLongOption.isDefined =>
        k.stripPrefix(TagPrefix) -> v.toLong
    }

  /** Tag a snapshot (default: the current one) with a stable name.
    * [[expireSnapshots]] NEVER expires a tagged snapshot — a tag is the
    * "keep this exact table state reproducible" pin (training-data
    * lineage: tag the snapshot a model trained on). Re-tagging an
    * existing name moves it. */
  def tagSnapshot(name: String, ref: Option[String] = None): Long = {
    require(name.nonEmpty && name.toLongOption.isEmpty,
      s"tag name must be non-numeric (ids resolve first): '$name'")
    // tags resolve BEFORE timestamps, so a date-shaped name would shadow
    // time travel to that instant — refuse it
    val parsesAsInstant =
      try { parseInstantMs(name); true } catch { case _: Exception => false }
    require(!parsesAsInstant,
      s"tag name must not parse as a timestamp: '$name'")
    val snap = ref.map(resolveRef).orElse(currentSnapshot).getOrElse(
      throw new IllegalStateException("cannot tag an empty table"))
    updateMeta(m => m.copy(properties =
      m.properties + (TagPrefix + name -> snap.id.toString)))
    // the tag (metadata CAS) and the snapshot log are separate atomic
    // domains: an expire whose log CAS landed between our resolve above
    // and the meta CAS would leave this tag dangling — re-validate after
    // landing and fail LOUDLY instead. (The mirror-image interleaving —
    // expire reads the pin set, we land AND validate, expire lands — is
    // closed on expire's side, which REINSTATES pinned snapshots it finds
    // it dropped, so a tagSnapshot that returned success keeps both its
    // tag and its snapshot; see expireSnapshots.)
    if (snapshotById(snap.id).isEmpty) {
      removeTag(name)
      throw new java.util.ConcurrentModificationException(
        s"snapshot ${snap.id} was expired while tagging '$name'; " +
          "re-resolve and retry")
    }
    snap.id
  }

  def removeTag(name: String): Unit = {
    updateMeta(m => m.copy(properties = m.properties - (TagPrefix + name)))
    ()
  }

  // ---- reads -------------------------------------------------------------

  def read(): DataFrame = readSnapshot(currentSnapshot)

  def readAsOf(ref: String): DataFrame = readSnapshot(Some(resolveRef(ref)))

  def readSnapshot(snap: Option[Snapshot]): DataFrame =
    snap.filter(_.files.nonEmpty) match {
      case None => emptyDf(meta.schema)
      case Some(s) if s.deleteFiles.isEmpty && s.eqDeleteFiles.isEmpty =>
        assemble(s, withLineage = false)
      case Some(s) =>
        // re-select schema order: applyEqualityDeletes uses USING-joins,
        // which move the key columns to the front of the frame
        applyAllDeletes(assemble(s, withLineage = true), s)
          .drop(LineageFileCol, LineagePosCol)
          .select(meta.schema.fieldNames.map(col).toSeq: _*)
    }

  /** Current live rows WITH their physical row identity
    * ([[IceTable.LineageFileCol]], [[IceTable.LineagePosCol]]) — the read
    * merge-on-read writers build position-delete files from. Schema
    * columns first (current order), lineage columns last. Empty table →
    * empty frame with the same layout. */
  def readWithLineage(): DataFrame = readWithLineagePruned(None)

  /** [[readWithLineage]] restricted by a SUPERSET filter over schema
    * columns: data files whose manifest bounds rule the filter out are
    * skipped entirely, and the filter is applied in-plan UNDER the
    * delete anti-joins (Catalyst pushes it through to the parquet scan,
    * so row-group pushdown fires too). The caller owns the superset
    * reasoning — rows the filter drops are simply absent from the
    * result (the MoR MERGE uses this with a source-key IN-list: a
    * non-matching target row can never be touched, so a small merge
    * against a huge table scans only files that can hold matching
    * keys). Position/equality delete application is unaffected — both
    * match by row identity/keys, and extra delete entries targeting
    * pruned files simply find nothing. */
  def readWithLineagePruned(filter: Option[Column]): DataFrame =
    currentSnapshot.filter(_.files.nonEmpty) match {
      case None =>
        emptyDf(meta.schema)
          .withColumn(LineageFileCol, lit(null).cast("string"))
          .withColumn(LineagePosCol, lit(null).cast("long"))
      case Some(s) =>
        val files = filter match {
          case None => s.files
          case Some(f) => pruneFiles(s, f)
        }
        val base =
          if (files.isEmpty)
            emptyDf(meta.schema)
              .withColumn(LineageFileCol, lit(null).cast("string"))
              .withColumn(LineagePosCol, lit(null).cast("long"))
          else {
            val asm = assemble(s.copy(files = files), withLineage = true)
            applyAllDeletes(filter.fold(asm)(asm.where), s)
          }
        base.select((meta.schema.fieldNames.toSeq ++
          Seq(LineageFileCol, LineagePosCol)).map(col): _*)
    }

  /** Assemble a snapshot's data files into one frame, resolving each
    * schema-version group by field-id. `withLineage` additionally exposes
    * parquet row lineage (`_metadata.file_path`, `_metadata.row_index`) as
    * [[IceTable.LineageFileCol]]/[[IceTable.LineagePosCol]] — the row
    * identity merge-on-read deletes key on. Lineage must be projected AT
    * the scan (hidden `_metadata` does not survive a projection). */
  private def assemble(s: Snapshot, withLineage: Boolean): DataFrame = {
    val m = meta
    val cur = m.schema
    // Files may have been written under older schema versions; resolve
    // each group by field-id to the current schema (rename/drop/add-safe).
    val byVersion = s.files.groupBy(_.schemaId).toSeq.sortBy(_._1)
    // DEEP-EVOLUTION guard: one scan + full-width projection PER ERA,
    // union-reduced, is an O(columns × eras) plan — measured 12 s of pure
    // driver analysis per read at 500 columns × 50 eras
    // (tools/SchemaScale). Past a handful of eras, collapse to ONE scan
    // over the union of physical column names with per-current-column
    // coalesce ([[assembleMerged]]); below the threshold the per-era
    // plan is cheap and keeps scan-level pushdown on renamed columns.
    if (byVersion.size >= IceTable.MergedAssembleMinGroups) {
      assembleMerged(s, withLineage, byVersion) match {
        case Some(df) => return df
        case None => () // ambiguous physical names — per-era fallback
      }
    }
    byVersion.map { case (sid, files) =>
      val fileSchema = m.schemas.find(_.id == sid)
        .getOrElse(m.schemas.find(_.id == m.currentSchemaId).get).struct
      val idToName = fileSchema.fields.flatMap(f =>
        TableMeta.fieldId(f).map(_ -> f.name)).toMap
      // The scan rides a GraftFileIndex so MANIFEST-LEVEL FILE SKIPPING
      // fires from whatever data filters Catalyst pushes down to
      // `listFiles` at planning — every engine read (API, SQL view path,
      // DSv2 substitution) gets partition-dir/bounds/bloom pruning for
      // free, not just the explicit prunedRead surfaces. Pushed leaves
      // arrive in THIS version group's column names (Catalyst rewrites
      // them through the realias projection below), so translate each
      // leaf to the current-schema name by field-id; an untranslatable
      // leaf is dropped — fewer conjuncts can only KEEP more files, and
      // exactness always stays with the plan's own filters.
      val groupPaths = files.map(_.path)
      val prune: Seq[org.apache.spark.sql.graft.ColumnBridge.PredLeaf] => Set[String] =
        leaves => {
          val toCurrent: Map[String, String] = fileSchema.fields.flatMap { f =>
            TableMeta.fieldId(f).flatMap(id => cur.fields.find(cf =>
              TableMeta.fieldId(cf).contains(id)).map(cf => f.name -> cf.name))
          }.toMap
          val translated = leaves.flatMap(l =>
            toCurrent.get(l.field).map(n => l.copy(field = n)))
          if (translated.isEmpty) groupPaths.toSet
          else pruneFiles(s.copy(files = files),
            FilePruning.conjunctsFromLeaves(translated, m.schema))
            .map(_.path).toSet
        }
      val index = new org.apache.spark.sql.graft.GraftFileIndex(spark,
        groupPaths.map(p => new org.apache.hadoop.fs.Path(p)), fileSchema,
        prune)
      val raw = org.apache.spark.sql.graft.DatasetBridge
        .parquetFrame(spark, index, fileSchema)
      val cols: Array[Column] = cur.fields.map { cf =>
        TableMeta.fieldId(cf).flatMap(idToName.get) match {
          // .as(name, metadata) keeps the field-id on the read schema.
          // sameType (nullability-insensitive) gate: Catalyst refuses
          // to cast array<float, nullable> to array<float, non-null>,
          // so only cast when the TYPE actually changed
          case Some(oldName) =>
            val src = col(oldName)
            val conv = if (IceTable.sameTypeIgnoringNullability(
                fileSchema(oldName).dataType, cf.dataType)) src
              else src.cast(cf.dataType)
            conv.as(cf.name, cf.metadata)
          case None => lit(null).cast(cf.dataType).as(cf.name, cf.metadata)
        }
      }
      val lineage: Array[Column] =
        if (withLineage)
          Array(col("_metadata.file_path").as(LineageFileCol),
            col("_metadata.row_index").as(LineagePosCol))
        else Array.empty
      raw.select(scala.collection.immutable.ArraySeq.unsafeWrapArray(cols ++ lineage): _*)
    }.reduce(_.unionByName(_))
  }

  /** DEEP-EVOLUTION fast path for [[assemble]]: ONE parquet scan over the
    * union of every era's physical column names; each current column
    * projects as `coalesce` over its field-id's historical names (a file
    * physically holds exactly ONE of them — its own era's — so the others
    * read as null and the coalesce picks the file's value, or null if the
    * file's own value is null, since the alternatives are null too).
    * Plan size O(columns + renames) instead of O(columns × eras).
    *
    * Conservative preconditions, else None (per-era fallback):
    *  - every field in every era carries a field-id;
    *  - no physical NAME maps to two different field-ids across eras
    *    (a rename swap `a→tmp, b→a, tmp→b` would alias unrelated data);
    *  - a name's type is era-stable (type changes re-cast per era in the
    *    per-era path; merging them under one read schema could misread).
    *
    * Tradeoff, deliberate: scan-level pushdown (row-group skipping + the
    * prune closure) only fires for columns with a SINGLE physical name —
    * a multi-alias coalesce is not a pushable leaf. Below
    * [[IceTable.MergedAssembleMinGroups]] eras the per-era path keeps
    * full pushdown; above it, the O(columns × eras) analysis cost
    * dominates anything pushdown could save on never-renamed columns
    * (filters on stable columns — keys, timestamps — still push). */
  private def assembleMerged(s: Snapshot, withLineage: Boolean,
      groups: Seq[(Int, List[FileEntry])]): Option[DataFrame] = {
    val m = meta
    val cur = m.schema
    val structs = groups.map { case (sid, _) =>
      m.schemas.find(_.id == sid)
        .getOrElse(m.schemas.find(_.id == m.currentSchemaId).get).struct
    }
    // physical name -> (field-id, first-seen field); refuse ambiguity.
    // Collision detection is CASE-INSENSITIVE: Spark's default parquet
    // resolution is — a case-only rename (`val` → `Val`) would put both
    // spellings in the merged read schema and every scan would throw
    // "Found duplicate field(s)", so that shape takes the per-era path.
    val phys = scala.collection.mutable.LinkedHashMap
      .empty[String, (Long, org.apache.spark.sql.types.StructField)]
    val byLower = scala.collection.mutable.Map.empty[String, String]
    var ambiguous = false
    for (sc <- structs; f <- sc.fields if !ambiguous) {
      // Locale.ROOT: Spark's own case folding is locale-independent — a
      // Turkish default locale must not let 'ID'/'id' slip past the guard
      val canonical = byLower.getOrElseUpdate(
        f.name.toLowerCase(java.util.Locale.ROOT), f.name)
      if (canonical != f.name) ambiguous = true
      else (TableMeta.fieldId(f), phys.get(f.name)) match {
        case (None, _) => ambiguous = true
        case (Some(id), Some((pid, pf))) =>
          if (pid != id || !IceTable.sameTypeIgnoringNullability(
              pf.dataType, f.dataType)) ambiguous = true
        case (Some(id), None) => phys(f.name) = (id, f)
      }
    }
    if (ambiguous) return None
    val mergedSchema = StructType(phys.valuesIterator.map(_._2).toArray)
    val idToNames: Map[Long, Seq[String]] = phys.toSeq
      .groupBy(_._2._1).map { case (id, xs) => id -> xs.map(_._1) }
    val curNameOfId: Map[Long, String] = cur.fields
      .flatMap(cf => TableMeta.fieldId(cf).map(_ -> cf.name)).toMap
    val allPaths = groups.flatMap(_._2).map(_.path)
    // pushed leaves arrive in PHYSICAL names; translate by field-id to
    // the current name (unique by the guard above) — untranslatable
    // leaves drop, which can only KEEP more files
    val prune: Seq[org.apache.spark.sql.graft.ColumnBridge.PredLeaf] => Set[String] =
      leaves => {
        val translated = leaves.flatMap(l => phys.get(l.field)
          .flatMap { case (id, _) => curNameOfId.get(id) }
          .map(n => l.copy(field = n)))
        if (translated.isEmpty) allPaths.toSet
        else pruneFiles(s, FilePruning.conjunctsFromLeaves(translated, cur))
          .map(_.path).toSet
      }
    val index = new org.apache.spark.sql.graft.GraftFileIndex(spark,
      allPaths.map(p => new org.apache.hadoop.fs.Path(p)), mergedSchema,
      prune)
    val raw = org.apache.spark.sql.graft.DatasetBridge
      .parquetFrame(spark, index, mergedSchema)
    val cols: Array[Column] = cur.fields.map { cf =>
      TableMeta.fieldId(cf).flatMap(idToNames.get) match {
        case Some(names) =>
          val branches = names.map { n =>
            val src = col(n)
            if (IceTable.sameTypeIgnoringNullability(
                phys(n)._2.dataType, cf.dataType)) src
            else src.cast(cf.dataType)
          }
          (if (branches.size == 1) branches.head
           else coalesce(branches: _*)).as(cf.name, cf.metadata)
        case None => lit(null).cast(cf.dataType).as(cf.name, cf.metadata)
      }
    }
    val lineage: Array[Column] =
      if (withLineage)
        Array(col("_metadata.file_path").as(LineageFileCol),
          col("_metadata.row_index").as(LineagePosCol))
      else Array.empty
    IceTable.mergedAssembleCount.incrementAndGet()
    Some(raw.select(scala.collection.immutable.ArraySeq
      .unsafeWrapArray(cols ++ lineage): _*))
  }

  /** Anti-join away position-deleted rows. The delete set is usually tiny
    * relative to the data (that is the whole point of merge-on-read), so
    * below [[IceTable.BroadcastDeleteRows]] manifest rows it broadcasts —
    * a map-side hash anti-join with NO shuffle of the 100 TB data side.
    * A pathological giant delete set falls back to a shuffled anti-join
    * rather than OOMing executors (and is the signal to compact). */
  private def applyPositionDeletes(data: DataFrame, s: Snapshot): DataFrame = {
    val dels = spark.read.schema(DeleteSchema)
      .parquet(s.deleteFiles.map(_.path): _*)
    val delRows = s.deleteFiles.map(_.rows).sum
    val side = if (delRows <= BroadcastDeleteRows) broadcast(dels) else dels
    data.join(side,
      data(LineageFileCol) === side("file_path") &&
        data(LineagePosCol) === side("pos"),
      "left_anti")
  }

  /** The live lineage-bearing rows that can possibly satisfy `filter` —
    * the victim-finding scan of the MoR writers, with manifest-level file
    * skipping: data files whose bounds/partition dirs/blooms rule the
    * filter out are never opened, so `UPDATE/DELETE/REPLACE WHERE
    * key = x` on a huge table scans only candidate files (the caller
    * still applies the exact `filter` on top — pruning is three-valued
    * safe for arbitrary predicates). Delete state is applied from the
    * FULL snapshot; extra entries targeting pruned files match nothing. */
  private def liveLineagePruned(cur: Snapshot, filter: Column): DataFrame =
    liveLineageOf(cur, pruneFiles(cur, filter))

  /** Live rows (+ lineage identity) of an EXPLICIT file subset of `cur` —
    * delete state applied from the full snapshot, exactly like
    * [[liveLineagePruned]] after its pruning step. */
  private def liveLineageOf(cur: Snapshot, files: List[FileEntry]): DataFrame =
    if (files.isEmpty)
      emptyDf(meta.schema)
        .withColumn(LineageFileCol, lit(null).cast("string"))
        .withColumn(LineagePosCol, lit(null).cast("long"))
    else
      applyAllDeletes(
        assemble(cur.copy(files = files), withLineage = true), cur)

  /** Merge-on-read delete: write the matching rows' `(file_path, pos)`
    * identities as a position-delete file and commit a snapshot that keeps
    * every data file untouched. Returns the deleted row count (from the
    * delete file's own footer — no extra counting pass). History is
    * preserved exactly as with copy-on-write: older snapshots carry their
    * own (shorter) delete-file lists. */
  def deleteWhereMor(filter: Column): Long = deleteWhereMorBy(filter, _ => filter)

  /** [[deleteWhereMor]] with the match condition REBOUND per read frame:
    * `pruneHint` drives file skipping (names + literals only — resolved or
    * unresolved, subquery conjuncts are simply opaque), while `condOf`
    * receives the actual lineage read and returns the exact condition
    * bound to it. This is how the SQL surface routes conditions carrying
    * resolved attributes and subqueries (`DELETE FROM t WHERE k IN
    * (SELECT …)`, correlated EXISTS) through the same O(touched)
    * position-delete commit — the subquery plans ride inside the ONE
    * distributed pass that stages the delete identities. */
  def deleteWhereMorBy(pruneHint: Column,
      condOf: DataFrame => Column): Long = tableLock.synchronized {
    val cur = currentSnapshot.filter(_.files.nonEmpty).getOrElse {
      // empty table: nothing can match, but keep the snapshot-per-write
      // invariant only when there is a snapshot log at all
      return 0L
    }
    // Expensive distributed work happens ONCE, outside the CAS retry loop,
    // against the snapshot read above: the delete dir is writer-unique (no
    // name to race on — manifests reference it by full path), so a lost
    // log CAS re-costs metadata only. Delete semantics under a concurrent
    // winner are snapshot-isolation: rows are deleted as-of this read;
    // positions referencing files a competitor removed are inert, and a
    // competitor's appended rows are untouched (they were not read).
    val delDir = dataDir.resolve(
      s"del-${java.util.UUID.randomUUID().toString.take(12)}")
    val base = liveLineagePruned(cur, pruneHint)
    val hits = base.where(condOf(base))
      .select(col(LineageFileCol).as("file_path"), col(LineagePosCol).as("pos"))
      // cluster by file so a reader's broadcast probe set stays compact
      // and each delete file covers a contiguous file range
      .sortWithinPartitions("file_path", "pos")
    hits.write.parquet(delDir.toString)
    val delFiles = listDeleteParquet(delDir)
    val deleted = delFiles.map(_.rows).sum
    if (deleted == 0L) {
      // zero matches: a no-op 'delete' snapshot would not only pollute the
      // log per scheduled run, it would spuriously ABORT concurrent MoR
      // updates/deletes that actually commute (the conflict check keys on
      // the operation, not the row count) — short-circuit like
      // updateWhereMor does
      walkList(delDir).sortBy(-_.getNameCount).foreach(Files.deleteIfExists)
      return 0L
    }
    val newDel = delFiles.filter(_.rows > 0)
    val uid = java.util.UUID.randomUUID().toString.take(12)
    commitLog[Long] { refs =>
      failOnConflictingRewrite(refs, cur.id, "position delete")
      val parent = refs.last
      val id = parent.id + 1
      // data manifests unchanged; ONE new delete manifest with this commit's
      // delete files — O(new delete files) written inside the retry body
      // (the protocol's O(metadata) budget), keyed off the freshest parent
      val parentMl = manifestListOf(parent, id)
      val delManifests = parentMl.deleteManifests ++
        (if (newDel.isEmpty) Nil
         else List(Manifests.writeManifest(
           manifestsDir.resolve(f"m-$id%05d-del-$uid.json"), newDel)))
      val listPath = Manifests.writeList(
        manifestsDir.resolve(f"list-$id%05d-$uid.json"),
        parentMl.copy(deleteManifests = delManifests))
      val snap = Snapshot(id, Some(parent.id), System.currentTimeMillis(),
        "delete", Nil, parent.schemaId,
        Map("deleted-rows" -> deleted.toString,
          "delete-files" -> delFiles.size.toString),
        manifestList = Some(listPath))
      Right((refs :+ snap, deleted))
    }
  }

  /** Merge-on-read UPDATE: ONE atomic snapshot that position-deletes the
    * matching rows and appends their updated copies — no existing data
    * file is rewritten, so updating a thousand rows of a 100 TB table
    * costs one small delete file plus one small data file (the
    * copy-on-write path rewrites the entire table). The two halves can
    * never be observed separately: readers see either the pre-update
    * snapshot or the fully-updated one.
    *
    * Concurrency is snapshot-isolation like [[deleteWhereMor]]: a
    * concurrent APPEND commutes (its rows were not read, its files are
    * not referenced); a concurrent OVERWRITE or COMPACTION aborts this
    * update with `ConcurrentModificationException` (the recorded
    * positions reference replaced files). Returns the updated row
    * count. */
  def updateWhereMor(filter: Column, sets: Map[String, Column]): Long = {
    require(sets.nonEmpty, "need at least one SET column")
    sets.keys.foreach(k => require(meta.schema.fieldNames.contains(k),
      s"no such column: $k"))
    updateWhereMorBy(filter, _ => filter, _ => sets)
  }

  /** [[updateWhereMor]] with condition AND set values rebound per read
    * frame (the SQL `UPDATE` surface, see [[deleteWhereMorBy]]): `condOf`
    * binds to the lineage read that stages the matched rows; `setsOf`
    * binds to the STAGED hit set, so assignment expressions referencing
    * the old row (including subqueries) evaluate there — every SET value
    * sees the PRE-update row via one simultaneous projection. */
  def updateWhereMorBy(pruneHint: Column, condOf: DataFrame => Column,
      setsOf: DataFrame => Map[String, Column]): Long =
    tableLock.synchronized {
      val m = meta
      val cur = currentSnapshot.filter(_.files.nonEmpty).getOrElse {
        return 0L
      }
      // ONE distributed pass over the table: the matched rows (all
      // columns + lineage) land in a tiny temp parquet, and both outputs
      // — the position-delete file and the updated copies — derive from
      // that materialized O(k) set. The table-sized scan is paid once;
      // everything after is O(matched). All of it runs outside the CAS
      // retry loop against the snapshot read above.
      val uid = java.util.UUID.randomUUID().toString.take(12)
      val delDir = dataDir.resolve(s"del-$uid")
      val hitsTmp = dataDir.resolve(s".upd-hits-$uid")
      try {
        val base = liveLineagePruned(cur, pruneHint)
        base.where(condOf(base)).write.parquet(hitsTmp.toString)
        val hits = spark.read.parquet(hitsTmp.toString)
        hits.select(col(LineageFileCol).as("file_path"),
            col(LineagePosCol).as("pos"))
          .sortWithinPartitions("file_path", "pos")
          .write.parquet(delDir.toString)
        val delFiles = listDeleteParquet(delDir)
        val updated = delFiles.map(_.rows).sum
        if (updated == 0L) {
          // zero matches: committing would permanently add an empty data
          // file and a pointless snapshot per run of a scheduled update —
          // short-circuit like deleteWhereMor's empty-table guard
          walkList(delDir).sortBy(-_.getNameCount).foreach(Files.deleteIfExists)
          return 0L
        }
        val newDel = delFiles.filter(_.rows > 0)
        val sets = setsOf(hits)
        require(sets.nonEmpty, "need at least one SET column")
        sets.keys.foreach(k => require(m.schema.fieldNames.contains(k),
          s"no such column: $k"))
        // ONE simultaneous projection (also drops the lineage columns):
        // every SET value references the staged PRE-update row, so
        // cross-referencing assignments (SET a = b, b = a) behave like
        // standard SQL, never like sequential withColumn rewrites
        val upd = hits.select(m.schema.fieldNames.toSeq.map { n =>
          sets.get(n).map(_.as(n)).getOrElse(col(n))
        }: _*)
        commit(upd, "update", keepParent = true,
          extraSummary = Map("updated-rows" -> updated.toString,
            "delete-files" -> newDel.size.toString),
          newDeleteFiles = newDel, noRewriteSince = Some(cur.id))
        updated
      } finally {
        // the temp hit set is consumed within this call — remove it
        // eagerly rather than leaving it to orphan GC
        if (Files.exists(hitsTmp))
          walkList(hitsTmp).sortBy(-_.getNameCount).foreach(Files.deleteIfExists)
      }
    }

  /** Atomic merge-on-read FILTER OVERWRITE (the SQL
    * `INSERT INTO … REPLACE WHERE` / DSv2 OVERWRITE_BY_FILTER shape):
    * ONE snapshot position-deletes every current row matching `filter`
    * AND appends `df` — no existing data file is rewritten, so replacing
    * one day of a 100 TB table costs one small delete file plus the new
    * partition's data. Readers see either the pre-replace snapshot or the
    * fully-replaced one, never the deleted-but-not-yet-inserted middle.
    * Concurrency is [[updateWhereMor]]'s: appends commute; a concurrent
    * rewrite/update/delete/rollback aborts with
    * `ConcurrentModificationException`. Returns (deletedRows, newSnapshot). */
  def overwriteWhereMor(filter: Column, df: DataFrame): (Long, Snapshot) =
    tableLock.synchronized {
      val cur = currentSnapshot.filter(_.files.nonEmpty).getOrElse {
        // nothing can match the filter: the replace degenerates to append
        return (0L, append(df, Map("replace-where" -> "<empty table>")))
      }
      val uid = java.util.UUID.randomUUID().toString.take(12)
      val delDir = dataDir.resolve(s"del-$uid")
      liveLineagePruned(cur, filter)
        .where(filter)
        .select(col(LineageFileCol).as("file_path"),
          col(LineagePosCol).as("pos"))
        .sortWithinPartitions("file_path", "pos")
        .write.parquet(delDir.toString)
      val delFiles = listDeleteParquet(delDir)
      val deleted = delFiles.map(_.rows).sum
      if (deleted == 0L)
        // zero matches: drop the empty delete dir; the append alone IS
        // the exact semantics and still lands as one snapshot
        walkList(delDir).sortBy(-_.getNameCount).foreach(Files.deleteIfExists)
      val snap = commit(df, "update", keepParent = true,
        extraSummary = Map("replaced-rows" -> deleted.toString,
          "replace-where" -> "filter-overwrite"),
        newDeleteFiles = delFiles.filter(_.rows > 0),
        noRewriteSince = Some(cur.id))
      (deleted, snap)
    }

  /** Merge-on-read EQUALITY delete: drop every current row whose `keyCols`
    * values appear in `keysDf` — by writing only the (distinct, non-null)
    * KEY SET and committing a snapshot; no data file is touched and no
    * per-row positions are computed, so deleting a million users from a
    * 100 TB table costs one small parquet write (position deletes would
    * first SCAN the table to find the rows). Later appends of the same
    * keys survive (the entry covers only the files live at commit).
    * Returns the matched logical row count (one counting job, also
    * recorded for exact [[Snapshot.liveRows]]). */
  def deleteKeysMor(keyCols: Seq[String], keysDf: DataFrame): Long =
    tableLock.synchronized {
      require(keyCols.nonEmpty, "need at least one key column")
      val cur = currentSnapshot.filter(_.files.nonEmpty).getOrElse {
        return 0L
      }
      // the coveredUpTo watermark scopes by commit ids parsed from
      // `data/commit-NNNNN/` paths — FOREIGN files (a zero-copy clone's
      // shared data) carry the SOURCE table's commit ids, so the scoping
      // comparison would be meaningless for them; refuse rather than
      // silently mis-cover (position deletes and CoW work fine on clones)
      val ownData = dataDir.toString + "/"
      require(!cur.files.exists(f => !f.path.startsWith(ownData)),
        "equality deletes are unsupported on tables holding zero-copy " +
          "cloned (foreign) files — their commit-id watermarks live in " +
          "the source's id space; use deleteWhereMor or copy-on-write")
      // Key-set write + matched-count scan run ONCE outside the CAS retry
      // loop, against the snapshot read above. `coveredUpTo` stays pinned
      // to that read snapshot even if the commit lands later: a competing
      // append's files get a HIGHER commit id and therefore survive the
      // delete — exactly the sequence-number scoping the entry encodes.
      val delDir = dataDir.resolve(
        s"eqdel-${java.util.UUID.randomUUID().toString.take(12)}")
      keysDf.select(keyCols.map(col): _*).na.drop("any").dropDuplicates()
        .write.parquet(delDir.toString)
      val keyFiles = listDeleteParquet(delDir)
      val keyRows = keyFiles.map(_.rows).sum
      val base = applyAllDeletes(assemble(cur, withLineage = true), cur)
      // same broadcast gate as the read path: a pathological giant key set
      // must not OOM executors during the commit-time count either
      val keysRead = spark.read.parquet(delDir.toString)
      val keySide =
        if (keyRows <= BroadcastDeleteRows) broadcast(keysRead) else keysRead
      val matched = base.join(keySide, keyCols, "left_semi").count()
      val m = meta
      val keyIds = keyCols.toList.map(c =>
        TableMeta.fieldId(m.schema(c)).getOrElse(throw new IllegalStateException(
          s"key column '$c' has no field-id")))
      val entry = EqDeleteEntry(delDir.toString, rows = matched,
        keyRows = keyRows, bytes = keyFiles.map(_.bytes).sum,
        cols = keyCols.toList, coveredUpTo = cur.id, colIds = keyIds)
      val uid = java.util.UUID.randomUUID().toString.take(12)
      commitLog[Long] { refs =>
        failOnConflictingRewrite(refs, cur.id, "equality delete")
        val parent = refs.last
        val id = parent.id + 1
        // data + position-delete manifests unchanged; only the (inline,
        // one-record-per-commit) eq-delete entry list grows
        val parentMl = manifestListOf(parent, id)
        val listPath = Manifests.writeList(
          manifestsDir.resolve(f"list-$id%05d-$uid.json"),
          parentMl.copy(eqDeleteFiles = parentMl.eqDeleteFiles :+ entry))
        val snap = Snapshot(id, Some(parent.id), System.currentTimeMillis(),
          "delete", Nil, parent.schemaId,
          Map("deleted-rows" -> matched.toString,
            "eq-delete-keys" -> keyRows.toString,
            "eq-delete-cols" -> keyCols.mkString(",")),
          manifestList = Some(listPath))
        Right((refs :+ snap, matched))
      }
    }

  /** PARTIAL copy-on-write rewrite — the CoW twin of [[compactSmall]]'s
    * commit shape, driving `DELETE` / `UPDATE` / `REPLACE WHERE` in
    * copy-on-write mode at O(touched files) instead of O(table): only the
    * VICTIM files — data files whose manifest bounds / partition dirs /
    * blooms admit rows matching `filter`; pruning is three-valued-safe,
    * so a non-victim file provably holds NO matching row — are read
    * (live, current schema) and rewritten through `transform`; every
    * other data file is CARRIED FORWARD BY REFERENCE, a metadata-only
    * move. A one-file delete on a 100 TB table rewrites one file.
    *
    * `alsoAppend` rows (REPLACE WHERE's incoming batch) land in the same
    * atomic snapshot whether or not anything matched.
    *
    * Delete bookkeeping stays exact, the [[compactSmall]] way: parent
    * position-delete files are pruned to rows referencing CARRIED files
    * (the rewrite read victims' LIVE rows, absorbing their deletes;
    * O(delete rows)); equality entries carry forward for the carried
    * files, reduced by exactly the matches that lived in the victims —
    * victimRaw − victimPosDeletes − victimLive, all from manifests plus
    * one candidate-sized count — so [[Snapshot.liveRows]] stays exact.
    * Victim rows rewritten into new files exit eq coverage correctly:
    * the deletes were already APPLIED to them at read time, and the new
    * files' commit id is above every entry's `coveredUpTo` watermark.
    *
    * Returns (matchedRows, committed snapshot). When no live row matches
    * (victims empty, or the exact candidate count is 0) and there is
    * nothing to append, the table is untouched and NO snapshot commits —
    * like the MoR writers' short-circuit, a scheduled no-op must not
    * pollute the log or spuriously abort commuting concurrent commits.
    *
    * Concurrency: the carried-file list and delete accounting are
    * computed against the read snapshot, so ANY commit that lands in
    * between aborts with `ConcurrentModificationException`
    * (`requireParentId`) — strictly safer than the whole-table
    * `overwrite` this replaces, which would silently swallow a
    * concurrent append's rows into its own read-then-rewrite. */
  def rewriteWhereCow(filter: Column, transform: DataFrame => DataFrame,
      alsoAppend: Option[DataFrame] = None,
      extraSummary: Map[String, String] = Map.empty): (Long, Option[Snapshot]) =
    rewriteWhereCowBy(filter, _ => filter, transform, alsoAppend, extraSummary,
      discoverVictims = false)

  /** [[rewriteWhereCow]] with the condition REBOUND per read frame (the
    * SQL surface, see [[deleteWhereMorBy]]) and optional RUNTIME victim
    * discovery: with `discoverVictims` on, one lineage-bearing pass over
    * the candidate files finds the files that ACTUALLY hold matching rows
    * — Iceberg's group-based row-level-operation shape — so a
    * subquery-conditioned `DELETE`/`UPDATE` whose literal conjuncts prune
    * nothing still rewrites only the files it touches, at the cost of one
    * candidate-sized discovery scan (the condition is therefore evaluated
    * twice; callers must refuse nondeterministic conditions). With it off,
    * victims = the statically-pruned candidates — the exact legacy
    * behavior, one counting pass, no extra scan. */
  def rewriteWhereCowBy(pruneHint: Column, condOf: DataFrame => Column,
      transform: DataFrame => DataFrame,
      alsoAppend: Option[DataFrame] = None,
      extraSummary: Map[String, String] = Map.empty,
      discoverVictims: Boolean = false): (Long, Option[Snapshot]) =
    tableLock.synchronized {
      val cur = currentSnapshot.filter(_.files.nonEmpty).getOrElse {
        // empty table: nothing can match; REPLACE WHERE degenerates to
        // appending the incoming batch as its single atomic snapshot —
        // still PINNED to the read state: a concurrent append of matching
        // rows landing in between must abort this commit, not survive it
        return (0L, alsoAppend.map(df =>
          commit(df, "overwrite", keepParent = true, extraSummary,
            requireParentId = Some(currentSnapshot.map(_.id).getOrElse(0L)))))
      }
      val candidates = pruneFiles(cur, pruneHint)
      // (victims, victimLive when already known, exact match count)
      val (victims, victimLiveOpt, matched) =
        if (candidates.isEmpty) (candidates, Some(0L), 0L)
        else if (discoverVictims) {
          // per-file match counts over ONE lineage read of the candidates:
          // both the victim file set and the exact match count fall out
          val base = liveLineageOf(cur, candidates)
          val perFile = base.where(coalesce(condOf(base), lit(false)))
            .groupBy(col(LineageFileCol)).count().collect()
          val matchedPaths =
            perFile.map(r => IceTable.canonPath(r.getString(0))).toSet
          (candidates.filter(f => matchedPaths(IceTable.canonPath(f.path))),
            None, perFile.map(_.getLong(1)).sum)
        } else {
          val live0 = readSnapshot(Some(cur.copy(files = candidates)))
          val matchCond = coalesce(condOf(live0), lit(false))
          // one candidate-sized pass decides both counts: total live rows
          // in the victims (feeds eq-delete accounting) and exact matches
          val r = live0.agg(count(lit(1)), count(when(matchCond, lit(1)))).head()
          (candidates, Some(r.getLong(0)), r.getLong(1))
        }
      if (matched == 0L) {
        return (0L, alsoAppend.map(df =>
          commit(df, "overwrite", keepParent = true, extraSummary,
            requireParentId = Some(cur.id))))
      }
      val live = readSnapshot(Some(cur.copy(files = victims)))
      val replacement = alsoAppend match {
        case Some(extra) => transform(live).unionByName(extra)
        case None => transform(live)
      }
      // by-name: the discovery branch's victim-live count only runs when
      // equality accounting needs it (parent eq entries exist)
      val snap = partialCowCommit(cur, victims,
        victimLiveOpt.getOrElse(
          readSnapshot(Some(cur.copy(files = victims))).count()),
        replacement,
        Map("matched-rows" -> matched.toString) ++ extraSummary)
      (matched, Some(snap))
    }

  /** File-level partial copy-on-write MERGE: like [[rewriteWhereCow]],
    * the candidate files for `filter` (the merge's source-key IN-list
    * superset) are read live and handed to `transformAll` — which builds
    * the WHOLE replacement content: the merge-classified victims' rows
    * (touched through the join, in-file untouched carried verbatim) PLUS
    * the source-only inserted rows — while every non-candidate file
    * carries forward by reference. Unlike `rewriteWhereCow` this ALWAYS
    * commits (a MERGE's inserts exist regardless of matches: zero
    * victims still lands the not-matched inserts), and the snapshot
    * summary is completed by `summaryAfterWrite` AFTER the staged data
    * write, so an `Observation` riding the replacement plan (the
    * per-clause audit counts) materializes from the write itself —
    * the merge join runs exactly once. */
  def mergeFilesCow(filter: Column,
      transformAll: (DataFrame, () => DataFrame) => DataFrame,
      summaryAfterWrite: () => Map[String, String]): Snapshot =
    tableLock.synchronized {
      val cur = currentSnapshot.filter(_.files.nonEmpty).getOrElse(
        throw new IllegalStateException(
          "mergeFilesCow requires a non-empty table (empty tables take " +
            "the unrestricted merge path)"))
      val victims = pruneFiles(cur, filter)
      val live = readSnapshot(Some(cur.copy(files = victims)))
      // the CARRIED remainder (rows living in by-reference files), lazily:
      // validation rules that compare the replacement against the rest of
      // the table (uniqueness) need exactly this frame — rows NOT matching
      // the filter would be wrong, since untouched in-victim rows are part
      // of the REPLACEMENT, not the remainder
      val victimPaths = victims.map(_.path).toSet
      val carried = () => readSnapshot(Some(cur.copy(
        files = cur.files.filterNot(f => victimPaths(f.path)))))
      // by-name: the candidate-sized count pass only runs when equality
      // accounting actually needs it (parent eq entries exist)
      partialCowCommit(cur, victims,
        if (victims.isEmpty) 0L else live.count(),
        transformAll(live, carried), Map.empty, Some(summaryAfterWrite))
    }

  /** Shared partial-CoW commit core ([[rewriteWhereCow]] /
    * [[mergeFilesCow]]): carried = parent files minus victims (by
    * reference); parent position-delete files pruned to rows referencing
    * carried files; equality accounting reduced by the matches that
    * lived in the victims (victimRaw − victimPosDeletes − victimLive);
    * `requireParentId` pins the whole computation to `cur`. With
    * `summaryAfterWrite`, the replacement is staged FIRST (completing
    * any Observation on its plan) and the summary closure is evaluated
    * before the metadata commit — the [[overwriteObserved]] shape. */
  private def partialCowCommit(cur: Snapshot, victims: List[FileEntry],
      victimLive: => Long, replacement: DataFrame,
      extraSummary: Map[String, String],
      summaryAfterWrite: Option[() => Map[String, String]] = None): Snapshot = {
    val victimPaths = victims.map(_.path).toSet
    val uid = java.util.UUID.randomUUID().toString.take(12)
    // prune parent position-delete files to rows referencing carried
    // files; canonicalize both path renderings like compactSmall
    val (prunedDel, posDelInVictims) =
      if (cur.deleteFiles.isEmpty) (Nil, 0L)
      else {
        val delDir = dataDir.resolve(s"del-$uid")
        val vDf = spark.createDataset(victimPaths.toSeq)(
          org.apache.spark.sql.Encoders.STRING).toDF("victim_path")
        def canon(c: Column): Column =
          regexp_replace(c, "^[a-zA-Z][a-zA-Z0-9+.-]*:/*", "/")
        spark.read.schema(IceTable.DeleteSchema)
          .parquet(cur.deleteFiles.map(_.path): _*)
          .join(broadcast(vDf),
            canon(col("file_path")) === canon(col("victim_path")), "left_anti")
          .sortWithinPartitions("file_path", "pos")
          .write.parquet(delDir.toString)
        val entries = listDeleteParquet(delDir).filter(_.rows > 0)
        (entries, cur.deleteFiles.map(_.rows).sum - entries.map(_.rows).sum)
      }
    // victimLive is by-name: when no equality entries exist the deduction
    // is moot and the candidate-sized count pass never runs
    val eqInVictims =
      if (cur.eqDeleteFiles.isEmpty) 0L
      else math.max(victims.map(_.rows).sum - posDelInVictims - victimLive, 0L)
    val adjustEq: (List[EqDeleteEntry], List[FileEntry]) => List[EqDeleteEntry] =
      (eqs, _) => {
        var toDeduct = eqInVictims
        eqs.map { e =>
          val d = math.min(e.rows, toDeduct)
          toDeduct -= d
          e.copy(rows = e.rows - d)
        }
      }
    val baseSummary = Map(
      "rewritten-files" -> victims.size.toString,
      "carried-files" -> (cur.files.size - victims.size).toString) ++
      extraSummary
    // stage-first when the summary depends on the write (Observation)
    val (preStaged, summary) = summaryAfterWrite match {
      case Some(f) =>
        val m = meta
        val stage = dataDir.resolve(
          s".stage-${java.util.UUID.randomUUID().toString.take(12)}")
        stageWrite(replacement, m, stage)
        (Some((stage, m.currentSchemaId)), baseSummary ++ f())
      case None => (None, baseSummary)
    }
    commit(replacement, "overwrite", keepParent = true,
      extraSummary = summary,
      requireParentId = Some(cur.id),
      newDeleteFiles = prunedDel,
      parentFileFilter = Some(fe => !victimPaths(fe.path)),
      replaceParentDeletes = true,
      mapEqDeletes = adjustEq,
      preStaged = preStaged)
  }

  private def applyAllDeletes(data: DataFrame, s: Snapshot): DataFrame = {
    val pos = if (s.deleteFiles.isEmpty) data
      else applyPositionDeletes(data, s)
    applyEqualityDeletes(pos, s)
  }

  /** Anti-join away equality-deleted rows, one entry at a time: a row is
    * dropped when its key matches AND its data file was committed at or
    * before the entry's `coveredUpTo` watermark (appends after the delete
    * keep matching keys — Iceberg's sequence-number rule). The file's
    * commit id is parsed from its `data/commit-NNNNN/` path segment, so
    * the scoping test is ONE scalar comparison per row — the plan stays
    * O(1) no matter how many files the table has (an explicit file list
    * would serialize 10⁵–10⁶ literals into every task at 100 TB).
    * Key columns resolve by FIELD-ID against the current schema, so a
    * rename between delete and read still lands on the right column
    * (Iceberg v2 `equality_ids`). Rows with a null in any key column
    * never match (standard equi-join semantics; the writer also drops
    * null keys). Key sets are small by contract (that is why one chose
    * equality deletes), so below [[IceTable.BroadcastDeleteRows]] keys
    * they broadcast — no shuffle of the data side. */
  private def applyEqualityDeletes(data: DataFrame, s: Snapshot): DataFrame = {
    if (s.eqDeleteFiles.isEmpty) return data
    val curById = meta.schema.fields.flatMap(f =>
      TableMeta.fieldId(f).map(_ -> f.name)).toMap
    val fileCommit = regexp_extract(col(LineageFileCol),
      "/commit-(\\d+)", 1).cast("long")
    s.eqDeleteFiles.foldLeft(data) { (d, e) =>
      // current names of the key columns; entries written before colIds
      // existed fall back to write-time names
      val names =
        if (e.colIds.isEmpty) e.cols
        else e.colIds.zip(e.cols).map { case (id, was) =>
          curById.getOrElse(id, throw new IllegalStateException(
            s"equality-delete key column (field-id $id, was '$was') was " +
              "dropped while the delete entry is live"))
        }
      // the key parquet is stored under write-time names; realias to now
      val keys = spark.read.parquet(e.dir)
        .select(e.cols.zip(names).map { case (o, n) => col(o).as(n) }: _*)
        .withColumn("__eq_hit", lit(1))
      val side = if (e.keyRows <= IceTable.BroadcastDeleteRows)
        broadcast(keys) else keys
      d.join(side, names, "left")
        .where(col("__eq_hit").isNull || fileCommit > lit(e.coveredUpTo))
        .drop("__eq_hit")
    }
  }

  /** O(touched) delta of a merge-on-read commit: `Some((removed, added))`
    * when commit `s` over its `parent` only ADDS data files and delete
    * entries — the MoR delete / update / replace-where / merge shapes —
    * derived from the commit's OWN delete files and added files instead
    * of a table-sized snapshot diff:
    *
    *  - `removed`: a position-delete commit names its victims by
    *    `(file_path, pos)`, so the replay scans ONLY the data files those
    *    identities touch and identity-semi-joins the (broadcast-sized)
    *    delete set. Position entries are written from the
    *    all-deletes-applied read ([[deleteWhereMor]]/[[updateWhereMor]]/
    *    [[mergeMor]]), so every identity was LIVE in the parent — no
    *    re-application of the parent's delete state is needed. An
    *    equality-delete commit's victims are the parent's LIVE rows
    *    matching the entry's keys in files committed at or before its
    *    `coveredUpTo` watermark: ONE parent pass with a broadcast key
    *    semi-join. Either way: no exceptAll (which would shuffle the full
    *    table four times).
    *  - `added`: the commit's added data files, read directly (the same
    *    manifest subtraction the changelog's append replay uses).
    *
    * Returns None when the commit is a true rewrite — a parent data file
    * or delete entry dropped (overwrite/compaction/rollback), schema
    * changed, deletes targeting the commit's own added files, or a mixed
    * position+equality delete — and the caller must fall back to the
    * exact snapshot diff. */
  def morDelta(parent: Snapshot, s: Snapshot): Option[(DataFrame, DataFrame)] = {
    if (s.schemaId != parent.schemaId) return None
    val parentPaths = parent.files.map(_.path).toSet
    if (!parent.files.forall(f => s.files.exists(_.path == f.path)))
      return None
    val parentPos = parent.deleteFiles.map(_.path).toSet
    val parentEq = parent.eqDeleteFiles.map(_.dir).toSet
    if (!parent.deleteFiles.forall(f => s.deleteFiles.exists(_.path == f.path)))
      return None
    if (!parent.eqDeleteFiles.forall(e => s.eqDeleteFiles.exists(_.dir == e.dir)))
      return None
    val addedFiles = s.files.filterNot(f => parentPaths(f.path))
    val newPos = s.deleteFiles.filterNot(f => parentPos(f.path))
    val newEq = s.eqDeleteFiles.filterNot(e => parentEq(e.dir))
    val added =
      if (addedFiles.isEmpty) emptyDf(meta.schema)
      // no delete state applies to files born in this commit: position
      // deletes target parent-era rows (guarded below) and equality
      // watermarks exempt files newer than coveredUpTo
      else readSnapshot(Some(s.copy(files = addedFiles,
        deleteFiles = Nil, eqDeleteFiles = Nil)))
    val ordered = (df: DataFrame) =>
      df.drop(LineageFileCol, LineagePosCol)
        .select(meta.schema.fieldNames.map(col).toSeq: _*)
    val removed: Option[DataFrame] = (newPos, newEq) match {
      case (Nil, Nil) => Some(emptyDf(meta.schema))
      case (pos, Nil) =>
        val dels = spark.read.schema(DeleteSchema)
          .parquet(pos.map(_.path): _*)
        // the delete file itself names the touched data files; the
        // distinct-path collect is bounded by files-touched — the same
        // cardinality every manifest operation already handles. Delete
        // identities carry `_metadata.file_path` URIs (file:///…) while
        // manifests store plain paths — normalize both before matching.
        val norm = (p: String) => p.replaceFirst("^file:/+", "/")
        val touched = dels.select("file_path").distinct()
          .collect().map(r => norm(r.getString(0))).toSet
        val parentSub = parent.files.filter(f => touched(norm(f.path)))
        if (touched.size != parentSub.size)
          None // deletes target non-parent (same-commit) files: fall back
        else if (parentSub.isEmpty) Some(emptyDf(meta.schema))
        else {
          val base = assemble(s.copy(files = parentSub), withLineage = true)
          val delRows = pos.map(_.rows).sum
          val side =
            if (delRows <= BroadcastDeleteRows) broadcast(dels) else dels
          Some(ordered(base.join(side,
            base(LineageFileCol) === side("file_path") &&
              base(LineagePosCol) === side("pos"), "left_semi")))
        }
      case (Nil, eqs) if eqs.size == 1 && addedFiles.isEmpty =>
        val e = eqs.head
        val curById = meta.schema.fields.flatMap(f =>
          TableMeta.fieldId(f).map(_ -> f.name)).toMap
        val names =
          if (e.colIds.isEmpty) e.cols
          else e.colIds.zip(e.cols).map { case (id, was) =>
            curById.getOrElse(id, return None)
          }
        val live = applyAllDeletes(assemble(parent, withLineage = true), parent)
        val fileCommit = regexp_extract(col(LineageFileCol),
          "/commit-(\\d+)", 1).cast("long")
        val keys = spark.read.parquet(e.dir)
          .select(e.cols.zip(names).map { case (o, n) => col(o).as(n) }: _*)
        val side =
          if (e.keyRows <= BroadcastDeleteRows) broadcast(keys) else keys
        Some(ordered(live.where(fileCommit <= lit(e.coveredUpTo))
          .join(side, names, "left_semi")))
      case _ => None // mixed/multi-entry commit: exact diff decides
    }
    removed.map(r => (r, added))
  }

  /** Restricted before/after live-row frames for a TRUE REWRITE commit
    * (overwrite / rollback / partial copy-on-write): a data file present
    * in BOTH snapshots with IDENTICAL delete coverage contributes the
    * same live-row multiset to both sides of the changelog's `exceptAll`
    * diff and cancels EXACTLY — `exceptAll(X ⊎ S, Y ⊎ S) =
    * exceptAll(X, Y)` — so the replay reads only files the rewrite
    * actually touched (plus files whose position-delete coverage
    * changed), never the whole table twice. A partial rewrite of a
    * 100 TB table replays at O(rewritten), like the MoR commits.
    *
    * Coverage equality per shared file:
    *  - equality deletes are KEYED, not file-named — any difference in
    *    the eq-delete state falls back (None) to the full diff;
    *    identical state means identical per-file coverage (the
    *    `coveredUpTo` rule depends only on the file's own commit era).
    *  - position-delete files present on one side only NAME the data
    *    files whose live rows may differ (O(delete rows) to read) —
    *    those files join the diff instead of cancelling.
    *
    * Exactness never rests on this: the caller diffs whatever frames
    * come back, and None (nothing cancels / eq-state changed) means the
    * caller's own full diff. Pairing note: the restricted frames must
    * NOT be handed to `classifyDelta` directly as if they were the
    * commit's physical (removed, added) delta — unchanged rows in
    * NON-cancelled files would read back as no-op update pairs.
    * Compositions that first take the exceptAll multiset diff
    * (`classifyChanges`, or the plain insert/delete fold) are exact
    * over these frames, because the diff itself is cancellation-exact
    * — that is how the paired changelog replay pairs CoW rewrites at
    * O(rewritten). */
  def rewriteDelta(parent: Snapshot, s: Snapshot): Option[(DataFrame, DataFrame)] = {
    if (parent.eqDeleteFiles.map(_.dir).toSet !=
        s.eqDeleteFiles.map(_.dir).toSet) return None
    val parentPaths = parent.files.map(_.path).toSet
    val childPaths = s.files.map(_.path).toSet
    val shared = parentPaths intersect childPaths
    if (shared.isEmpty) return None
    val parentPos = parent.deleteFiles.map(_.path).toSet
    val childPos = s.deleteFiles.map(_.path).toSet
    val changedPos = (parent.deleteFiles.filterNot(f => childPos(f.path)) ++
      s.deleteFiles.filterNot(f => parentPos(f.path))).map(_.path).distinct
    val norm = (p: String) =>
      p.replaceFirst("^[a-zA-Z][a-zA-Z0-9+.-]*:/*", "/")
    val posAffected: Set[String] =
      if (changedPos.isEmpty) Set.empty
      else spark.read.schema(DeleteSchema).parquet(changedPos: _*)
        .select("file_path").distinct().collect()
        .map(r => norm(r.getString(0))).toSet
    val cancelled = shared.filterNot(p => posAffected(norm(p)))
    if (cancelled.isEmpty) return None
    def restricted(of: Snapshot): DataFrame =
      readSnapshot(Some(of.copy(files =
        of.files.filterNot(f => cancelled(f.path)))))
    Some((restricted(parent), restricted(s)))
  }

  /** `Files.walk` materialized AND closed — the lazy stream holds a
    * directory fd until closed, and a long-lived server (MCP, streaming
    * maintenance) leaking one per GC cycle eventually exhausts fds. */
  private def walkList(p: Path): List[Path] = {
    val s = Files.walk(p)
    try s.iterator().asScala.toList finally s.close()
  }

  private def listDeleteParquet(dir: Path): List[FileEntry] = {
    val conf = new Configuration()
    walkList(dir)
      .filter(p => p.toString.endsWith(".parquet") && Files.isRegularFile(p))
      .map(p => FileEntry(p.toString, parquetRowCount(p, conf), Files.size(p)))
      .sortBy(_.path)
  }

  /** Read only the files whose partition-directory values satisfy `keep` —
    * manifest-level pruning before Catalyst ever sees a file. */
  def prunedRead(keep: Map[String, String] => Boolean): DataFrame =
    currentSnapshot.filter(_.files.nonEmpty) match {
      case None => emptyDf(schema)
      case Some(s) =>
        val files = s.files.filter(f => keep(partitionValuesOf(f.path)))
        if (files.isEmpty) emptyDf(schema)
        // go through readSnapshot so old files resolve by field-id (a raw
        // name-based read would null out renamed columns in old files)
        else readSnapshot(Some(s.copy(files = files)))
    }

  /** Predicate-pruned read: drops every data file whose manifest column
    * bounds ([[FileEntry.bounds]], collected from parquet footers at commit
    * time) prove `filter` cannot match any of its rows, then applies
    * `filter` exactly over the survivors — result always identical to
    * `read().where(filter)`, but on a clustered layout (e.g. a
    * [[graft.operators.ZOrder]]-written table) a selective range predicate
    * opens a small fraction of the files. Predicate shapes the pruner
    * doesn't understand never prune; they are still enforced by the final
    * filter. This is file-level skipping ABOVE parquet's row-group
    * skipping: at 100 TB it removes the per-file open/footer/seek cost for
    * the files the predicate can never touch, which row-group pushdown
    * alone still pays. */
  def prunedRead(filter: Column): DataFrame =
    currentSnapshot.filter(_.files.nonEmpty) match {
      // .where(filter) on the empty frame too: an invalid predicate (typo'd
      // column, type error) must throw exactly as read().where(filter)
      // would, not silently return zero rows
      case None => emptyDf(schema).where(filter)
      case Some(s) =>
        val files = pruneFiles(s, filter)
        if (files.isEmpty) emptyDf(schema).where(filter)
        else readSnapshot(Some(s.copy(files = files))).where(filter)
    }

  /** Fraction/count diagnostics for a predicate: (matchingFiles, totalFiles).
    * Exposed for tests and the CLI `scan-stats` style introspection. */
  def pruneStats(filter: Column): (Int, Int) =
    currentSnapshot match {
      case None => (0, 0)
      case Some(s) => (pruneFiles(s, filter).size, s.files.size)
    }

  /** PINNED-snapshot read with the same manifest/partition/bloom file
    * skipping as [[prunedRead]] but WITHOUT applying the filter — the
    * caller's plan re-applies it, so pruning stays purely advisory.
    * Delete state of the pinned snapshot (position + equality) is applied
    * over the surviving files exactly; positions referencing pruned-out
    * files are inert. The engine-read DSv2 fallback
    * ([[graft.engine.GraftCatalog]]) uses this so `catalog.ns.table` SQL
    * over MoR / schema-history snapshots still skips files from pushed
    * filters. */
  def readSnapshotPruned(s: Snapshot, filter: Option[Column]): DataFrame =
    filter match {
      case None => readSnapshot(Some(s))
      case Some(f) =>
        val files = pruneFiles(s, f)
        if (files.isEmpty) emptyDf(meta.schema)
        else readSnapshot(Some(s.copy(files = files)))
    }

  /** Kept-file paths for pre-extracted predicate leaves, evaluated against
    * the GIVEN snapshot — the pruning callback of the DSv2 scan path
    * ([[org.apache.spark.sql.graft.GraftFileIndex]]). The snapshot MUST be
    * the one the scan's base file list came from: pruning against the
    * current head while the base list is older would intersect two
    * different file sets, and a concurrent compaction between planning and
    * execution would silently empty the scan. */
  def pruneFilePaths(s: Snapshot,
      leaves: Seq[org.apache.spark.sql.graft.ColumnBridge.PredLeaf]): Set[String] =
    pruneFiles(s, FilePruning.conjunctsFromLeaves(leaves, meta.schema))
      .map(_.path).toSet

  /** Both manifest pruning layers: partition-directory values (works even
    * on manifests with no collected bounds) AND per-file column bounds. */
  private def pruneFiles(s: Snapshot, filter: Column): List[FileEntry] =
    pruneFiles(s, FilePruning.conjunctsOf(filter, meta.schema))

  private def pruneFiles(s: Snapshot,
      conjs: Seq[FilePruning.Conjunct]): List[FileEntry] = {
    val m = meta
    // every spec era, not just the current one: post-evolution files lack
    // the old eras' dirs (and vice versa) and missing dirs never prune,
    // so each file is judged by exactly the layout it was written under
    val tfs = m.allTransforms
    val fileSchemaOf: Int => Option[StructType] =
      sid => m.schemas.find(_.id == sid).map(_.struct)
    val bloomCols = BloomIndex.bloomColumns(m.properties)
    val hconf = new Configuration()
    s.files.filter(f =>
      FilePruning.keepFileByPartitions(f, conjs, tfs, m.schema, fileSchemaOf) &&
        FilePruning.keepFile(f, conjs, m.schema, fileSchemaOf) &&
        // bloom probe LAST: it is the only layer that costs I/O (one
        // footer + bloom page per still-candidate file)
        (bloomCols.isEmpty ||
          BloomIndex.keepFile(f, conjs, m.schema, fileSchemaOf, bloomCols,
            hconf)))
  }

  def emptyDf(s: StructType): DataFrame =
    spark.createDataFrame(java.util.Collections.emptyList[Row](), s)

  // ---- writes ------------------------------------------------------------

  /** Commit lock shared across ALL IceTable instances for this table dir —
    * Catalog.loadTable builds a fresh instance per call, so instance-level
    * `synchronized` would guard nothing for concurrent in-JVM writers. */
  private def tableLock: Object = IceTable.lockFor(dir)

  /** Run a read-modify-write cycle under the table's commit lock, so an
    * in-JVM concurrent writer cannot commit between the read and the
    * overwrite (the lock alone only makes individual commits atomic).
    * Cross-PROCESS commits are serialized by the optimistic log CAS in
    * [[commitLog]]; a compound cycle run through this wrapper gets
    * snapshot-isolation semantics against foreign processes (each commit
    * lands on the freshest log, computed content is as-of its read). */
  def locked[T](f: => T): T = tableLock.synchronized(f)

  /** `extraSummary` entries land in the snapshot summary ATOMICALLY with
    * the commit — the hook streaming sinks use to record their batch id
    * in the same atomic write as the data (idempotent foreachBatch). */
  def append(df: DataFrame, extraSummary: Map[String, String] = Map.empty): Snapshot =
    commit(df, "append", keepParent = true, extraSummary)

  def overwrite(df: DataFrame, extraSummary: Map[String, String] = Map.empty): Snapshot =
    commit(df, "overwrite", keepParent = false, extraSummary)

  /** Conditional overwrite: lands ONLY if the table head is still
    * `expectedHeadId` at commit time — validated inside the CAS retry
    * loop, so it is race-free against concurrent writers (not a
    * check-then-act). The fast-forward primitive a branch-style publish
    * needs: [[graft.governance.Cloning.promote]] uses it to refuse
    * clobbering source commits that landed after the clone forked.
    * Throws ConcurrentModificationException if the head moved. */
  def overwriteIfHead(expectedHeadId: Long, df: DataFrame,
      extraSummary: Map[String, String] = Map.empty): Snapshot =
    commit(df, "overwrite", keepParent = false, extraSummary,
      requireParentId = Some(expectedHeadId))

  /** Overwrite whose snapshot summary depends on metrics of the data
    * write itself (e.g. an `Observation` riding `df`'s plan, the
    * single-pass MERGE audit): stages the distributed write FIRST —
    * completing any observation — then evaluates `summaryAfterWrite` and
    * commits the staged files. The stage dir is writer-unique, so like
    * every commit the expensive distributed work happens once, outside
    * the CAS retry loop; a crashed run's stage dir is unreferenced →
    * orphan GC. */
  def overwriteObserved(df: DataFrame,
      summaryAfterWrite: () => Map[String, String]): Snapshot = {
    val m = meta
    val stage = dataDir.resolve(
      s".stage-${java.util.UUID.randomUUID().toString.take(12)}")
    stageWrite(df, m, stage)
    commit(df, "overwrite", keepParent = false, summaryAfterWrite(),
      preStaged = Some((stage, m.currentSchemaId)))
  }

  /** Merge-on-read MERGE commit: ONE atomic snapshot that position-deletes
    * `deadIdents` (`file_path`, `pos` — row identities from
    * [[readWithLineage]]) AND appends `newRows` — the [[updateWhereMor]]
    * machinery generalized to per-row matched sets, so a small MERGE on a
    * 100 TB table costs O(touched), never a table rewrite. Concurrency is
    * [[updateWhereMor]]'s: appends commute; concurrent rewrites/updates/
    * deletes/rollbacks since `asOfId` abort with
    * `ConcurrentModificationException`. */
  def mergeMor(deadIdents: DataFrame, newRows: DataFrame, asOfId: Long,
      extraSummary: Map[String, String] = Map.empty): Snapshot =
    tableLock.synchronized {
      val uid = java.util.UUID.randomUUID().toString.take(12)
      val delDir = dataDir.resolve(s"del-$uid")
      deadIdents.select(col("file_path"), col("pos"))
        .sortWithinPartitions("file_path", "pos")
        .write.parquet(delDir.toString)
      val delFiles = listDeleteParquet(delDir).filter(_.rows > 0)
      if (delFiles.isEmpty)
        walkList(delDir).sortBy(-_.getNameCount).foreach(Files.deleteIfExists)
      commit(newRows, "update", keepParent = true, extraSummary,
        newDeleteFiles = delFiles, noRewriteSince = Some(asOfId))
    }

  /** `requireParentId`: data-preserving rewrites (compaction) pass the
    * snapshot id their input was read from — if a FOREIGN-process commit
    * overtakes it before the CAS lands, the rewrite must abort rather
    * than publish a file list that silently drops the competitor's rows
    * (plain `overwrite` intentionally replaces whatever is current, so it
    * passes None — replacing a concurrent append IS its semantic). */
  /** The distributed parquet write of a commit, into a writer-unique
    * dot-dir: current codec/partition-transform/timestamp conventions
    * applied. Shared by [[commit]] and [[stageAppend]] (WAP). */
  private def stageWrite(df: DataFrame, m: TableMeta, target: Path): Unit = {
    val aligned = align(df, m.schema)
    val tfs = m.transforms
    // "vortex" format label → alternate parquet profile (zstd); see
    // graft.io.FormatResolver for the resolution chain
    val codec = (m.properties.get("write.format.default") match {
      case Some("vortex") => Map("compression" -> "zstd")
      case _ => Map.empty[String, String]
    }) ++ BloomIndex.writeOptions(m.properties)
    // TIMESTAMP_MICROS, not Spark's legacy INT96 default: INT96 footers
    // carry no usable min/max statistics, which would leave timestamp
    // columns invisible to manifest pruning (and INT96 is deprecated in
    // the parquet spec). Session conf — no per-write option exists — so
    // set/restore around the write.
    val tsKey = "spark.sql.parquet.outputTimestampType"
    val prevTs = spark.conf.getOption(tsKey)
    spark.conf.set(tsKey, "TIMESTAMP_MICROS")
    try {
      if (tfs.isEmpty) {
        aligned.write.options(codec).parquet(target.toString)
      } else {
        tfs.foldLeft(aligned)((d, t) =>
            d.withColumn(t.name, t.columnFor(m.schema(t.source).dataType)))
          .write.options(codec).partitionBy(tfs.map(_.name): _*)
          .parquet(target.toString)
      }
    } finally prevTs match {
      case Some(v) => spark.conf.set(tsKey, v)
      case None => spark.conf.unset(tsKey)
    }
  }

  /** `preStaged`: (dir, schemaId) of data ALREADY written by a staged WAP
    * commit — the df write is skipped and the dir enters the same
    * claim-by-rename protocol; schemaId records the schema the files were
    * written under (the table may have evolved since staging). */
  private def commit(df: DataFrame, op: String, keepParent: Boolean,
      extraSummary: Map[String, String] = Map.empty,
      requireParentId: Option[Long] = None,
      newDeleteFiles: List[FileEntry] = Nil,
      noRewriteSince: Option[Long] = None,
      parentFileFilter: Option[FileEntry => Boolean] = None,
      replaceParentDeletes: Boolean = false,
      mapEqDeletes: (List[EqDeleteEntry], List[FileEntry]) => List[EqDeleteEntry]
        = (e, _) => e,
      preStaged: Option[(Path, Int)] = None): Snapshot =
    tableLock.synchronized {
      require(newDeleteFiles.isEmpty || keepParent,
        "delete files only compose with parent-keeping commits")
      val m = meta
      // Stage the data under a writer-UNIQUE dot-name first: the expensive
      // part of a commit (the distributed parquet write) is conflict-free
      // by construction — two processes can never write into each other's
      // staging dir. Claiming the final `commit-<id>` name and publishing
      // the log happen in the cheap CAS retry loop below; a lost race
      // re-costs metadata only, never the data write. A crashed writer's
      // stage dir is referenced by no snapshot → orphan GC collects it.
      val stage = preStaged.map(_._1).getOrElse {
        val s = dataDir.resolve(
          s".stage-${java.util.UUID.randomUUID().toString.take(12)}")
        stageWrite(df, m, s)
        s
      }
      val fileSchemaId = preStaged.map(_._2).getOrElse(m.currentSchemaId)
      // manifest/list files carry the stage uid so two processes racing on
      // the same snapshot id can never overwrite each other's metadata —
      // the log entry references the full path, so names are free
      val uid = stage.getFileName.toString
        .stripPrefix(".stage-").stripPrefix(".wap-").replace('.', '_')
      var curDir = stage
      def commitBody(refs: List[Snapshot]): Either[Snapshot, (List[Snapshot], Snapshot)] = {
        requireParentId.foreach { expected =>
          val cur = refs.lastOption.map(_.id).getOrElse(0L)
          if (cur != expected)
            throw new java.util.ConcurrentModificationException(
              s"$op computed against snapshot $expected but the table " +
                s"advanced to $cur — rewriting now would drop the " +
                "concurrent commit's rows; re-run against the new state")
        }
        // MoR update: its position deletes reference the files live at its
        // read snapshot — a competing rewrite invalidates them (same rule
        // as deleteWhereMor), and a competing ROLLBACK conflicts too: the
        // update's appended copies would resurrect rows the rollback
        // removed. Only appends commute with an update.
        noRewriteSince.foreach(asOf =>
          failOnConflictingRewrite(refs, asOf, op, rollbackConflicts = true))
        val id = refs.lastOption.map(_.id + 1).getOrElse(1L)
        val commitDir = dataDir.resolve(f"commit-$id%05d")
        // Claim the id's data-dir name by atomic rename: the eq-delete
        // watermark parses the commit id from `data/commit-NNNNN/` file
        // paths, so the dir name MUST equal the snapshot id that lands.
        // An existing target = a competing in-flight writer claimed this
        // id → treat like a lost CAS and retry on the next id. If WE
        // claimed a name earlier but then lost the log CAS (the winner was
        // a data-less commit: rollback/expire/MOR delete), the same rename
        // moves our data forward onto the new id.
        if (curDir != commitDir) {
          try {
            Files.move(curDir, commitDir)
            curDir = commitDir
          } catch {
            case _: java.nio.file.FileAlreadyExistsException => throw CommitRace
            case _: java.nio.file.FileSystemException => throw CommitRace
          }
        }
        val newFiles = listParquet(curDir, fileSchemaId)
        // manifest layer: write ONE new data manifest holding this commit's
        // files; an append REFERENCES the parent's manifests instead of
        // re-listing their contents, so commit write-cost is O(new files) +
        // O(#manifests), never O(all files). Append keeps the parent's
        // position deletes (they reference parent files, which stay live);
        // overwrite/replace rewrote the data from a deletes-applied read, so
        // the deletes are absorbed — compaction IS this path. On a CAS
        // retry, `refs.last` is the WINNER's snapshot, so a concurrent
        // append's files are carried forward — neither commit is lost.
        val parentMl =
          if (keepParent) refs.lastOption.map(r => manifestListOf(r, id))
          else None
        // manifest MERGING (Iceberg's min-count-to-merge): a pure append
        // chain grows one manifest per commit, so after 10⁴ appends every
        // resolve would touch 10⁴ files. When the parent's chain reaches
        // MergeManifestCount, fold it into ONE manifest — an occasional
        // O(live files) metadata write that keeps the list O(1) amortized.
        // Old manifests stay on disk for older snapshots that reference
        // them (orphan GC collects them once those expire).
        val parentDataM = parentMl.map(_.dataManifests).getOrElse(Nil)
        val mergedParentM = parentFileFilter match {
          // partial rewrite (compactSmall): the parent's SURVIVING files
          // materialize into one fresh manifest — an O(live files)
          // metadata write, same cost class as manifest merging
          case Some(keep) =>
            val kept = parentDataM.flatMap(Manifests.readManifest).filter(keep)
            if (kept.isEmpty) Nil
            else List(Manifests.writeManifest(
              manifestsDir.resolve(f"m-$id%05d-kept-$uid.json"), kept))
          case None =>
            if (parentDataM.size < IceTable.MergeManifestCount) parentDataM
            else List(Manifests.writeManifest(
              manifestsDir.resolve(f"m-$id%05d-merged-$uid.json"),
              parentDataM.flatMap(Manifests.readManifest)))
        }
        val newDataM =
          if (newFiles.isEmpty) Nil
          else List(Manifests.writeManifest(
            manifestsDir.resolve(f"m-$id%05d-data-$uid.json"), newFiles))
        val delManifests =
          (if (replaceParentDeletes) Nil
           else parentMl.map(_.deleteManifests).getOrElse(Nil)) ++
          (if (newDeleteFiles.isEmpty) Nil
           else List(Manifests.writeManifest(
             manifestsDir.resolve(f"m-$id%05d-del-$uid.json"), newDeleteFiles)))
        val ml = ManifestList(
          mergedParentM ++ newDataM,
          delManifests,
          mapEqDeletes(parentMl.map(_.eqDeleteFiles).getOrElse(Nil), newFiles))
        val listPath =
          Manifests.writeList(manifestsDir.resolve(f"list-$id%05d-$uid.json"), ml)
        val s = Snapshot(id, refs.lastOption.map(_.id), System.currentTimeMillis(),
          op, Nil, m.currentSchemaId,
          Map("added-files" -> newFiles.size.toString,
            "added-rows" -> newFiles.map(_.rows).sum.toString) ++ extraSummary,
          manifestList = Some(listPath))
        Right((refs :+ s, s))
      }
      val snap =
        try commitLog[Snapshot](commitBody)
        catch {
          case e: java.util.ConcurrentModificationException =>
            // un-claim: a permanently-parked `commit-N` dir would block
            // every future commit at id N (rename would always fail) —
            // move the data back under a stage name; orphan GC owns it
            if (curDir != stage)
              try { Files.move(curDir, stage); curDir = stage }
              catch { case _: java.io.IOException => () }
            throw e
        }
      resolve(snap) // callers get the inline view (files, deletes) as before
    }

  /** Roll back to an old snapshot: a NEW snapshot referencing the old
    * snapshot's files (zero-copy; history preserved — catalog.py:834-906). */
  def rollbackTo(ref: String): Snapshot = tableLock.synchronized {
    val uid = java.util.UUID.randomUUID().toString.take(12)
    // pure metadata commit: target resolution AND the new list-file write
    // both run inside the retry body (O(metadata) per attempt), keyed off
    // the freshest log — a competitor's commit between attempts changes
    // only which snapshot is the rollback's parent, never the target
    val snap = commitLog[Snapshot] { refs =>
      val targetRef = ref.toLongOption.orElse(tags.get(ref)) match {
        case Some(i) => refs.find(_.id == i).getOrElse(
          throw new IllegalArgumentException(s"no snapshot with id $i"))
        case None =>
          val ts = parseInstantMs(ref)
          refs.filter(_.timestampMs <= ts).lastOption.getOrElse(
            throw new IllegalArgumentException(s"no snapshot at or before $ref"))
      }
      val id = refs.last.id + 1
      // zero-copy: the new manifest list re-references the target's manifests
      // (restoring its merge-on-read state too: rolling back past a MoR
      // delete must resurrect the rows, rolling back TO one must not). A new
      // list FILE is written so every snapshot owns its list — sharing one
      // would couple expiry lifetimes.
      val listPath = Manifests.writeList(
        manifestsDir.resolve(f"list-$id%05d-$uid.json"),
        manifestListOf(targetRef, id))
      val s = Snapshot(id, Some(refs.last.id), System.currentTimeMillis(),
        "replace", Nil, targetRef.schemaId,
        Map("rolled-back-to" -> targetRef.id.toString),
        manifestList = Some(listPath))
      Right((refs :+ s, s))
    }
    resolve(snap)
  }

  /** ZERO-COPY CLONE INIT — the clone side of
    * [[graft.core.Catalog.cloneTableZeroCopy]]: commit this (freshly
    * created, empty) table's FIRST snapshot referencing `source`'s data
    * and position-delete files BY PATH — not a byte of data is copied.
    * Fresh manifest files are written under THIS table's own manifests
    * dir, so the only cross-table dependency is the shared data files
    * themselves (pinned against the source's expire/orphan-GC by the
    * `clone-<ns>.<t>` tag the catalog places — see cloneTableZeroCopy for
    * the full GC-safety contract). Equality-delete state is refused: its
    * `coveredUpTo` watermarks live in the SOURCE's commit-id space and
    * would mis-scope against this table's ids (see [[deleteKeysMor]]'s
    * foreign-file guard for the same rule on the other side). */
  def initCloneSnapshot(source: Snapshot, fromLabel: String): Snapshot =
    tableLock.synchronized {
      require(source.eqDeleteFiles.isEmpty,
        "zero-copy clone of equality-delete state is unsupported — " +
          "compact deletes on the source first, or use a copy clone")
      val snap = commitLog[Snapshot] { refs =>
        require(refs.isEmpty,
          s"clone target $dir already has snapshots: ${refs.map(_.id)}")
        val id = 1L
        val uid = java.util.UUID.randomUUID().toString.take(12)
        Files.createDirectories(manifestsDir)
        val dm =
          if (source.files.isEmpty) Nil
          else List(Manifests.writeManifest(
            manifestsDir.resolve(f"m-$id%05d-clone-$uid.json"), source.files))
        val del =
          if (source.deleteFiles.isEmpty) Nil
          else List(Manifests.writeManifest(
            manifestsDir.resolve(f"m-$id%05d-clone-del-$uid.json"),
            source.deleteFiles))
        val listPath = Manifests.writeList(
          manifestsDir.resolve(f"list-$id%05d-$uid.json"),
          ManifestList(dm, del))
        val s = Snapshot(id, None, System.currentTimeMillis(), "clone",
          Nil, source.schemaId,
          Map("cloned-from" -> fromLabel,
            "cloned-snapshot" -> source.id.toString,
            "zero-copy" -> "true"),
          manifestList = Some(listPath))
        Right((List(s), s))
      }
      resolve(snap)
    }

  // ---- write-audit-publish (Iceberg-style staged commits) ----------------

  private def stagedMetaDir: Path = dir.resolve("staged")
  private def stagedMetaPath(wapId: String): Path = {
    require(wapId.nonEmpty && wapId.forall(c =>
      c.isLetterOrDigit || c == '-' || c == '_'),
      s"wap id must be [A-Za-z0-9_-]+: '$wapId'")
    stagedMetaDir.resolve(s"$wapId.json")
  }

  /** Staged-but-unpublished WAP commits, by id. */
  def stagedCommits: List[StagedCommit] = {
    if (!Files.exists(stagedMetaDir)) return Nil
    val s = Files.list(stagedMetaDir)
    try s.iterator().asScala
      .filter(p => p.toString.endsWith(".json") && Files.isRegularFile(p))
      .map(p => Jsons.readFile[StagedCommit](p)).toList.sortBy(_.wapId)
    finally s.close()
  }

  /** WRITE of write-audit-publish: run the expensive distributed append
    * into a staged dir that NO snapshot references — main's readers cannot
    * see one staged row. Audit the staged state with [[readWap]] (run
    * validation rules, contracts, quality checks over it), then make it
    * visible atomically with [[publishWap]] or drop it with
    * [[discardWap]]. The staged data is invisible to time travel, the
    * changelog, and orphan GC (the staged registry pins it). */
  def stageAppend(df: DataFrame, wapId: String): StagedCommit =
    tableLock.synchronized {
      val p = stagedMetaPath(wapId)
      require(!Files.exists(p), s"wap id already staged: '$wapId'")
      val m = meta
      val target = dataDir.resolve(
        s".wap-$wapId-${java.util.UUID.randomUUID().toString.take(8)}")
      stageWrite(df, m, target)
      val files = listParquet(target, m.currentSchemaId)
      val sc = StagedCommit(wapId, target.toString, m.currentSchemaId,
        files.map(_.rows).sum, files.size, System.currentTimeMillis())
      Jsons.writeFile(p, sc)
      sc
    }

  /** AUDIT view: the current table state PLUS the staged rows — what main
    * would look like after publish. Field-id-resolved like any read, so a
    * schema evolution between stage and audit still lines up. */
  def readWap(wapId: String): DataFrame = {
    val sc = Jsons.readFile[StagedCommit](requireStaged(wapId))
    val staged = listParquet(Paths.get(sc.dir), sc.schemaId)
    if (staged.isEmpty) read()
    else read().unionByName(readSnapshot(Some(Snapshot(0L, None, sc.createdMs,
      "staged", staged, sc.schemaId))))
  }

  /** PUBLISH of write-audit-publish: fast-forward main to include the
    * staged files — one append snapshot through the normal claim-by-rename
    * + log-CAS protocol, so the publish is atomic under cross-process
    * races and commutes with concurrent appends (the CAS retry re-parents
    * onto the freshest head, exactly like a live append). The staged data
    * is RENAMED into `commit-<id>/`, never copied. */
  def publishWap(wapId: String): Snapshot = tableLock.synchronized {
    val p = requireStaged(wapId)
    val sc = Jsons.readFile[StagedCommit](p)
    // Crash-window recovery: the commit CAS and the registry cleanup below
    // are two steps. A crash between them leaves a registry entry whose
    // dir was already renamed into `commit-<id>` — a retried publish must
    // RECOGNIZE that (the published-wap summary marker) and finish the
    // cleanup instead of spinning on a rename of a missing dir.
    if (!Files.exists(Paths.get(sc.dir))) {
      snapshotRefs.find(_.summary.get("published-wap").contains(wapId)) match {
        case Some(s) => Files.deleteIfExists(p); return resolve(s)
        case None => throw new IllegalStateException(
          s"staged dir ${sc.dir} is missing and no published snapshot " +
            s"carries wap id '$wapId' — discard and re-stage")
      }
    }
    val snap = commit(emptyDf(meta.schema), "append", keepParent = true,
      extraSummary = Map("published-wap" -> wapId),
      preStaged = Some((Paths.get(sc.dir), sc.schemaId)))
    Files.deleteIfExists(p)
    snap
  }

  /** Drop a staged commit: registry entry first (the data dir instantly
    * becomes orphan-collectible), then the data. */
  def discardWap(wapId: String): Unit = tableLock.synchronized {
    val p = requireStaged(wapId)
    val sc = Jsons.readFile[StagedCommit](p)
    Files.deleteIfExists(p)
    val d = Paths.get(sc.dir)
    if (Files.exists(d))
      walkList(d).sortBy(-_.getNameCount).foreach(Files.deleteIfExists)
  }

  private def requireStaged(wapId: String): Path = {
    val p = stagedMetaPath(wapId)
    require(Files.exists(p), s"no staged commit with wap id '$wapId'")
    p
  }

  /** Expire snapshots older than a cutoff (`ISO` or `30d/24h/5m` duration,
    * catalog.py:950-968) and/or beyond `retainLast`; the current snapshot is
    * never expired (catalog.py:977-979). Returns expired ids. */
  def expireSnapshots(olderThan: Option[String] = None,
      retainLast: Option[Int] = None): List[Long] = tableLock.synchronized {
    // relative cutoffs ("30d") anchor at call time, not per CAS attempt
    val cutoff = olderThan.map(parseCutoffMs)
    // refs only — expiry decisions need ids + timestamps, never file lists;
    // the whole decision re-runs per attempt off the freshest log, so a
    // snapshot a competitor just committed is never expired by accident.
    // The payload is the expired ENTRIES (not just ids): the tag/expire
    // cross-domain race below may need to put one back.
    val expiredEntries = commitLog[List[Snapshot]] { snaps =>
      if (snaps.isEmpty) Left(Nil)
      else {
        val currentId = snaps.last.id
        // tagged snapshots are PINNED (the whole point of a tag) —
        // re-read per CAS attempt so a tag created while this expire
        // retries is honored
        val pinned = tags.values.toSet
        onExpirePinRead()
        var keep = snaps.toSet
        cutoff.foreach { c =>
          keep = keep.filter(s => s.timestampMs >= c || s.id == currentId)
        }
        retainLast.foreach { n =>
          val retained = snaps.sortBy(-_.id).take(math.max(n, 1)).toSet
          keep = keep.intersect(retained) + snaps.last
        }
        keep = keep ++ snaps.filter(s => pinned(s.id))
        val expired = snaps.filterNot(keep)
        if (expired.isEmpty) Left(Nil)
        else Right((snaps.filter(keep).sortBy(_.id), expired))
      }
    }
    if (expiredEntries.isEmpty) return Nil
    // Tag/expire cross-domain race closure. The tag (metadata CAS) and the
    // snapshot log are separate atomic domains, so a tagSnapshot whose meta
    // CAS landed AFTER this expire's per-attempt pin read but BEFORE its log
    // CAS has pinned a snapshot we just dropped — and if the tagger's own
    // post-validation also ran before our CAS, the tagger already RETURNED
    // SUCCESS. Removing the tag here would silently break that success, so
    // instead REINSTATE the pinned snapshot: expiry only drops log entries
    // (data/manifest deletion is orphan GC, gated on the log), so putting
    // the entry back is a pure-metadata commit and the pin semantics win —
    // exactly what "tags are never expired" promises. Tags pointing at ids
    // that were ALREADY gone before this expire (stale from some older
    // failure) have nothing to reinstate and are removed so `tags` never
    // lies. The one remaining interleaving — tagger validates while our log
    // CAS has landed but our reinstate has not — fails LOUDLY on the
    // tagger's side (removeTag + throw), never silently.
    val gone = expiredEntries.map(_.id).toSet
    val pinnedNow = tags.values.filter(gone).toSet
    val reinstated: Set[Long] =
      if (pinnedNow.isEmpty) Set.empty
      else {
        val entries = expiredEntries.filter(e => pinnedNow(e.id))
        commitLog[Unit] { refs =>
          val missing = entries.filterNot(e => refs.exists(_.id == e.id))
          if (missing.isEmpty) Left(())
          else Right(((refs ++ missing).sortBy(_.id), ()))
        }
        pinnedNow
      }
    tags.foreach { case (n, id) =>
      if (gone(id) && !reinstated(id) && snapshotById(id).isEmpty) removeTag(n)
    }
    expiredEntries.map(_.id).filterNot(reinstated)
  }

  /** Files under data/ referenced by no live snapshot (maintenance.py orphan
    * cleanup), plus manifest/list JSON under manifests/ referenced by no
    * live snapshot (expired snapshots strand their manifest files — the
    * manifest layer's own garbage). Dry-run returns paths; delete=true
    * removes them. */
  def orphanFiles(delete: Boolean = false): Seq[String] = {
    val refs = snapshotRefs
    // A tag pointing at a snapshot ABSENT from the log means either a
    // stale pin (expire crashed mid-cleanup) or — the dangerous case — an
    // expire that is RIGHT NOW between its log CAS and its reinstatement
    // pass (see expireSnapshots): the pinned snapshot's manifests are
    // momentarily referenced by no log entry, and sweeping them here
    // would leave the reinstated entry pointing at deleted metadata.
    // Refuse the destructive sweep until the pin set is consistent;
    // dry-run listing stays available.
    if (delete) {
      val liveIds = refs.map(_.id).toSet
      val dangling = tags.filter { case (_, id) => !liveIds(id) }
      require(dangling.isEmpty,
        s"tags point at snapshots not in the log ($dangling) — an expire " +
          "may be reinstating them; re-run after it completes (or remove " +
          "the stale tags)")
    }
    val snaps = refs.map(resolve)
    val live = snaps
      .flatMap(s => (s.files ++ s.deleteFiles).map(_.path)).toSet
    // equality-delete entries reference a DIRECTORY: everything under a
    // live eq-delete dir is live — and so is everything under a REGISTERED
    // staged WAP dir (referenced by no snapshot yet, pinned by its
    // registry entry until publish or discard)
    val eqDirs = snaps.flatMap(_.eqDeleteFiles.map(_.dir)).distinct
    val pinnedDirs = eqDirs ++ stagedCommits.map(_.dir)
    val dataOrphans =
      if (!Files.exists(dataDir)) Nil
      else {
        val all = walkList(dataDir)
          .filter(p => p.toString.endsWith(".parquet")).map(_.toString)
        // separator-anchored prefix only: a sibling dir sharing a live
        // eq-delete dir's name as a plain prefix must still be collectible
        all.filterNot(p =>
          live(p) || pinnedDirs.exists(d => p.startsWith(d + "/")))
      }
    val liveMeta: Set[String] = refs.flatMap(_.manifestList.toList.flatMap { p =>
      val ml = Manifests.readList(p)
      p :: (ml.dataManifests ++ ml.deleteManifests)
    }).toSet
    val manifestOrphans =
      if (!Files.exists(manifestsDir)) Nil
      else walkList(manifestsDir)
        // .json only — skips in-flight `.…tmp` files of a concurrent writer
        .filter(p => p.toString.endsWith(".json") && Files.isRegularFile(p))
        .map(_.toString).filterNot(liveMeta)
    // a crashed writer's empty staging dir (died before writing any
    // parquet) has no file entry to flag — report the dir itself
    def isEmptyDir(p: Path): Boolean = {
      val s = Files.list(p)
      try !s.iterator().hasNext finally s.close()
    }
    // a crashed writer's staging dir is garbage WHOLESALE once no live
    // file lives under it (which is always — stage dirs are renamed
    // before their files are ever referenced): report the dir and remove
    // it recursively on delete, _SUCCESS/.crc side files included
    val deadStageDirs =
      if (!Files.exists(dataDir)) Nil
      else {
        val s = Files.list(dataDir)
        try s.iterator().asScala
          .filter { p =>
            val n = p.getFileName.toString
            // .stage- = un-claimed/crashed commit staging; .upd-hits- = a
            // crashed MoR update's temp hit set (normally removed eagerly);
            // .wap- = a staged WAP write whose registry entry was never
            // written (crash) or was discarded — registered ones are pinned
            Files.isDirectory(p) &&
              (n.startsWith(".stage-") || n.startsWith(".upd-hits-") ||
                (n.startsWith(".wap-") && !pinnedDirs.contains(p.toString))) &&
              !walkList(p).exists(f => live(f.toString))
          }
          .map(_.toString).toList
        finally s.close()
      }
    val orphans = dataOrphans ++ manifestOrphans ++ deadStageDirs
    if (delete) {
      orphans.foreach { p =>
        val path = java.nio.file.Paths.get(p)
        if (Files.isDirectory(path))
          walkList(path).sortBy(-_.getNameCount).foreach(Files.deleteIfExists)
        else Files.deleteIfExists(path)
      }
      // sweep dirs the file deletion emptied (del-*/eqdel-* dirs,
      // fully-expired commit dirs) — deepest first so parents empty out;
      // the walk is bounded by live dir count, never by file count
      if (Files.exists(dataDir)) {
        val dirs = walkList(dataDir)
          .filter(p => Files.isDirectory(p) && p != dataDir)
          .sortBy(-_.getNameCount)
        dirs.foreach { d =>
          // deepest-first: children are gone by the time d is visited, so
          // judging d by its DIRECT entries is complete. A dir left with
          // only Spark side files (_SUCCESS, .crc) is dead — every data
          // file in it was collected above (live files always keep their
          // dir out of this branch) — remove it wholesale; without this,
          // expired commit dirs and aborted del-/eqdel- dirs linger
          // forever behind their _SUCCESS markers.
          try {
            if (isEmptyDir(d)) Files.delete(d)
            else {
              val entries = {
                val s = Files.list(d)
                try s.iterator().asScala.toList finally s.close()
              }
              val allSide = entries.forall { p =>
                val n = p.getFileName.toString
                Files.isRegularFile(p) &&
                  (n == "_SUCCESS" || n.endsWith(".crc"))
              }
              if (allSide) {
                entries.foreach(Files.deleteIfExists)
                Files.delete(d)
              }
            }
          } catch { case _: java.io.IOException => () }
        }
      }
    }
    orphans
  }

  /** Rewrite current data as `targetFiles` files (compaction,
    * catalog.py:2014-2084 read-all + overwrite). `clusterBy` (beyond
    * reference — the OPTIMIZE ... ZORDER BY of the big lakehouses)
    * range-clusters the rewrite instead: one column sorts, two interleave
    * via the Morton curve, and because every commit collects per-file
    * column bounds, the rewritten files become immediately skippable by
    * [[prunedRead]] range predicates on the clustered columns. */
  def compact(targetFiles: Int = 1, clusterBy: Seq[String] = Nil): Snapshot = locked {
    val n = math.max(targetFiles, 1)
    // record the snapshot the rewrite reads from: compaction must be
    // DATA-PRESERVING, so if a foreign-process commit lands between this
    // read and the log CAS, the commit aborts instead of publishing a
    // file list that silently drops the competitor's rows
    val asOf = currentSnapshot.map(_.id).getOrElse(0L)
    val base = read()
    val df = clusterBy match {
      case Nil => base.repartition(n)
      case Seq(x) => base.repartitionByRange(n, col(x)).sortWithinPartitions(x)
      case Seq(x, y) => graft.operators.ZOrder.clusterByZ(base, x, y, n)
      case other => throw new IllegalArgumentException(
        s"clusterBy supports 1 or 2 columns, got ${other.size}")
    }
    // the compacted-files marker states the commit's contract: LIVE ROWS
    // PRESERVED — changelog replay recognizes it and emits nothing
    commit(df, "replace", keepParent = false, requireParentId = Some(asOf),
      extraSummary = Map(
        "compacted-files" -> currentSnapshot.map(_.files.size).getOrElse(0).toString,
        "kept-files" -> "0"))
  }

  /** PARTIAL compaction — the small-files fix at scale: rewrite ONLY the
    * data files at or below `maxBytes` into `targetFiles` files; larger
    * files are carried forward untouched. On a 100 TB table the
    * small-files problem is thousands of KB-sized streaming/CDC commits
    * sitting next to GB-scale compacted files; full [[compact]] is an
    * O(table) rewrite, this is O(small files).
    *
    * Delete bookkeeping stays EXACT without extra scans:
    *  - position-delete files are pruned to rows referencing surviving
    *    files (O(delete rows) — small by MoR design); rows referencing
    *    rewritten files are absorbed by the rewrite.
    *  - equality entries carry forward (they still cover the surviving
    *    files), and their matched-row accounting is reduced by exactly
    *    the eq matches that lived in the rewritten files — derivable as
    *    smallRawRows − smallPosDeleteRows − rewrittenOutputRows, all
    *    known from manifests. The per-entry split of that reduction is
    *    greedy (only the SUM feeds [[Snapshot.liveRows]]).
    *
    * Aborts with `ConcurrentModificationException` if a foreign commit
    * overtakes the rewrite, exactly like [[compact]]. */
  def compactSmall(maxBytes: Long, targetFiles: Int = 1): Snapshot = locked {
    val n = math.max(targetFiles, 1)
    val cur = currentSnapshot.getOrElse(
      throw new IllegalStateException("cannot compact an empty table"))
    val (small, kept) = cur.files.partition(_.bytes <= maxBytes)
    if (small.size <= n) return cur // nothing to gain
    val smallPaths = small.map(_.path).toSet
    val asOf = cur.id
    // read ONLY the small files, all deletes applied as-of this snapshot
    val df = readSnapshot(Some(cur.copy(files = small))).repartition(n)
    // prune position-delete files to rows referencing SURVIVING files
    val uid = java.util.UUID.randomUUID().toString.take(12)
    val (prunedDel, posDelInSmall) =
      if (cur.deleteFiles.isEmpty) (Nil, 0L)
      else {
        val delDir = dataDir.resolve(s"del-$uid")
        // delete rows store `_metadata.file_path` URIs (renderings vary by
        // filesystem: `file:/p`, `file:///p`, `hdfs://nn/p`…); manifest
        // entries store plain paths. Canonicalize BOTH sides to a bare
        // absolute path — scheme and authority slashes collapsed — instead
        // of enumerating renderings, so a rendering this code never saw
        // cannot leave stale delete rows carried forward.
        val smallDf = spark.createDataset(smallPaths.toSeq)(
          org.apache.spark.sql.Encoders.STRING).toDF("small_path")
        def canon(c: Column): Column =
          regexp_replace(c, "^[a-zA-Z][a-zA-Z0-9+.-]*:/*", "/")
        spark.read.schema(IceTable.DeleteSchema)
          .parquet(cur.deleteFiles.map(_.path): _*)
          .join(broadcast(smallDf),
            canon(col("file_path")) === canon(col("small_path")), "left_anti")
          .sortWithinPartitions("file_path", "pos")
          .write.parquet(delDir.toString)
        val entries = listDeleteParquet(delDir).filter(_.rows > 0)
        (entries, cur.deleteFiles.map(_.rows).sum - entries.map(_.rows).sum)
      }
    val smallRaw = small.map(_.rows).sum
    val adjustEq: (List[EqDeleteEntry], List[FileEntry]) => List[EqDeleteEntry] =
      (eqs, newFiles) => {
        var toDeduct = smallRaw - posDelInSmall - newFiles.map(_.rows).sum
        eqs.map { e =>
          val d = math.min(e.rows, math.max(toDeduct, 0L))
          toDeduct -= d
          e.copy(rows = e.rows - d)
        }
      }
    commit(df, "replace", keepParent = true,
      extraSummary = Map("compacted-files" -> small.size.toString,
        "kept-files" -> kept.size.toString),
      requireParentId = Some(asOf),
      newDeleteFiles = prunedDel,
      parentFileFilter = Some(fe => !smallPaths(fe.path)),
      replaceParentDeletes = true,
      mapEqDeletes = adjustEq)
  }

  /** DELETE-FILE compaction — fold the table's entire accumulated delete
    * state (every equality-delete entry and every position-delete file)
    * into ONE freshly-written position-delete file set, touching NO data
    * file. After thousands of streaming delete commits a MoR read pays one
    * anti-join per equality entry plus a probe set scattered over many
    * position files; this maintenance op restores the read plan to a
    * single broadcast anti-join while the 100 TB of data files stay
    * exactly where they are.
    *
    * The dead-position set is derived by REUSING the read path itself —
    * all current positions minus [[applyAllDeletes]]-surviving positions —
    * so watermark scoping (`coveredUpTo`), field-id key resolution and
    * path-rendering quirks can never diverge from what a reader would
    * compute. Inert position rows (referencing files a compaction already
    * rewrote) vanish for free: the base scan only contains current files.
    *
    * Returns None when there is nothing to fold (≤1 position-delete file
    * and no equality entries). Aborts with
    * `ConcurrentModificationException` if ANY commit lands between the
    * read and the CAS: a competitor's delete/update landed first would be
    * silently erased by the replace (its delete files are not in the
    * folded set), so the strict parent check is required, like
    * [[compact]]. */
  def compactDeletes(): Option[Snapshot] = locked {
    val cur = currentSnapshot.filter(_.files.nonEmpty).getOrElse(return None)
    if (cur.eqDeleteFiles.isEmpty && cur.deleteFiles.size <= 1) return None
    val asOf = cur.id
    val base = assemble(cur, withLineage = true)
      .select(col(LineageFileCol).as("file_path"), col(LineagePosCol).as("pos"))
    val live = applyAllDeletes(assemble(cur, withLineage = true), cur)
      .select(col(LineageFileCol).as("file_path"), col(LineagePosCol).as("pos"))
    val uid = java.util.UUID.randomUUID().toString.take(12)
    val delDir = dataDir.resolve(s"del-$uid")
    // one output file: the dead set is small by MoR contract (that is why
    // merge-on-read was chosen), and ONE file is the whole point here
    base.exceptAll(live)
      .coalesce(1)
      .sortWithinPartitions("file_path", "pos")
      .write.parquet(delDir.toString)
    val delFiles = listDeleteParquet(delDir).filter(_.rows > 0)
    val dead = delFiles.map(_.rows).sum
    val snap = commitLog[Snapshot] { refs =>
      if (refs.last.id != asOf)
        throw new java.util.ConcurrentModificationException(
          s"delete compaction computed against snapshot $asOf but the table " +
            s"advanced to ${refs.last.id} — replacing the delete state now " +
            "would erase the concurrent commit's deletes; re-run")
      val id = asOf + 1
      val parentMl = manifestListOf(cur, id)
      val delManifests =
        if (delFiles.isEmpty) Nil
        else List(Manifests.writeManifest(
          manifestsDir.resolve(f"m-$id%05d-del-$uid.json"), delFiles))
      val listPath = Manifests.writeList(
        manifestsDir.resolve(f"list-$id%05d-$uid.json"),
        parentMl.copy(deleteManifests = delManifests, eqDeleteFiles = Nil))
      val snap = Snapshot(id, Some(asOf), System.currentTimeMillis(),
        "replace", Nil, cur.schemaId,
        Map("compacted-delete-files" ->
            (cur.deleteFiles.size + cur.eqDeleteFiles.size).toString,
          "folded-delete-rows" -> dead.toString),
        manifestList = Some(listPath))
      Right((refs :+ snap, snap))
    }
    Some(resolve(snap))
  }

  // ---- schema evolution (by field-id, schema_evolution.py:122-172) -------

  def evolveSchema(f: StructType => StructType,
      postEvolve: TableMeta => TableMeta = identity): TableMeta =
    updateMeta { m =>
      // Field-id floor spans ALL schema versions, not just the current one:
      // a dropped column's id lives on in old versions, and reusing it for a
      // new column would resurrect the dropped data through the field-id
      // read resolution (the Iceberg last-column-id invariant). Re-derived
      // per CAS attempt, so a concurrent process's new columns raise the
      // floor before ours are assigned.
      val maxEver = m.schemas
        .flatMap(_.struct.fields.flatMap(TableMeta.fieldId))
        .foldLeft(0L)(math.max)
      val evolved = TableMeta.assignFieldIds(f(m.schema), floor = maxEver)
      val newId = m.schemas.map(_.id).max + 1
      postEvolve(m.copy(schemas = m.schemas :+ SchemaVersion(newId, evolved.json),
        currentSchemaId = newId))
    }

  def addColumn(name: String, typeName: String): TableMeta =
    evolveSchema(s => StructType(s.fields :+
      org.apache.spark.sql.types.StructField(name, TableMeta.parseTypeName(typeName))))

  /** Rename a column. If the CURRENT partition spec sources it, the spec
    * FOLLOWS the rename in the same metadata CAS (Iceberg tracks spec
    * sources by field-id and gets this for free; specs here are name
    * strings, so the rename rewrites them) — without this, every write
    * after the rename would fail FIELD_NOT_FOUND evaluating the stale
    * transform (fuzz-found). The old-named spec is pushed into the
    * previous-spec eras: files already written keep their old `_p_<from>_…`
    * dirs, which prune conservatively (current-name conjuncts don't match
    * the old transform — kept, never wrongly dropped), while new files lay
    * out and prune under the new name. */
  def renameColumn(from: String, to: String): TableMeta =
    evolveSchema(
      s => StructType(s.fields.map(f =>
        if (f.name == from) f.copy(name = to) else f)),
      postEvolve = { m =>
        val affected = m.partitionSpec
          .exists(s => PartitionTransform.parse(s).source == from)
        if (!affected) m
        else {
          val renamed = m.partitionSpec.map { s =>
            val tf = PartitionTransform.parse(s)
            // rebuild the parsed transform over the new name and emit its
            // normalized spec — string splicing would crash on bare
            // identity specs (`g`), which have no parens (the SQL bridge
            // stores PARTITIONED BY (col) exactly so)
            if (tf.source != from) s
            else PartitionTransform.withSource(tf, to).spec
          }
          m.copy(partitionSpec = renamed,
            previousPartitionSpecs =
              (m.partitionSpec :: m.previousPartitionSpecs)
                .filter(_.nonEmpty).distinct)
        }
      })

  def dropColumn(name: String): TableMeta = {
    val m = meta
    require(m.schema.fields.exists(_.name == name), s"no such column: $name")
    // renames are safe (eq-delete keys resolve by field-id), but dropping
    // a column referenced by a live equality-delete entry would make the
    // current snapshot unreadable — refuse, like Iceberg does
    val fid = TableMeta.fieldId(m.schema(name))
    currentSnapshot.toList.flatMap(_.eqDeleteFiles).foreach { e =>
      val hit = fid.exists(e.colIds.contains) ||
        (e.colIds.isEmpty && e.cols.contains(name))
      require(!hit, s"cannot drop '$name': it is a key column of a live " +
        s"equality-delete entry (${e.dir}); compact the table first")
    }
    evolveSchema(
      s => StructType(s.fields.filterNot(_.name == name)),
      postEvolve = { m2 =>
        // dropping a partition-source column would break every later
        // write (the transform can't evaluate) — refuse per CAS attempt,
        // like Iceberg; evolve the partition spec first
        require(!m2.partitionSpec
            .exists(s => PartitionTransform.parse(s).source == name),
          s"cannot drop '$name': it is a source of the current partition " +
            s"spec (${m2.partitionSpec.mkString(", ")}); run " +
            "updatePartitionSpec first")
        m2
      })
  }

  /** Partition-spec EVOLUTION (Iceberg's metadata-only repartitioning):
    * future writes lay out by the new spec; existing files keep their old
    * directories and are NEVER rewritten — at 100 TB that is the entire
    * point (day(ts) → hour(ts) on a petabyte table is one metadata CAS,
    * not a petabyte shuffle). Reads stay correct because pruning judges
    * each file by the spec era it was written under
    * ([[TableMeta.allTransforms]]); `compact()` migrates old files to the
    * current layout when the operator chooses to pay for it. Runs through
    * the same metadata CAS as schema evolution, so concurrent evolutions
    * from other processes are never overwritten. */
  def updatePartitionSpec(spec: Seq[String]): TableMeta = updateMeta { m =>
    val parsed = spec.map(PartitionTransform.parse)
    parsed.foreach(t => require(m.schema.fieldNames.contains(t.source),
      s"partition transform source '${t.source}' is not a column of ${m.ident}"))
    require(parsed.map(_.name).distinct.size == parsed.size,
      s"duplicate partition dir names in spec: ${spec.mkString(", ")}")
    if (m.partitionSpec == spec.toList) m
    else m.copy(partitionSpec = spec.toList,
      // an empty old spec contributes no transforms — don't record it
      previousPartitionSpecs =
        (m.partitionSpec :: m.previousPartitionSpecs)
          .filter(_.nonEmpty).distinct)
  }

  // ---- properties --------------------------------------------------------

  def setProperty(k: String, v: String): Unit = {
    updateMeta(m => m.copy(properties = m.properties + (k -> v))); ()
  }

  /** Rewrite this table's own identity after a [[Catalog.renameTable]]
    * directory move — same metadata CAS as every other meta change. */
  private[graft] def renameIdent(ns: String, t: String): Unit = {
    updateMeta(m => m.copy(namespace = ns, name = t)); ()
  }
  def removeProperty(k: String): Unit = {
    updateMeta(m => m.copy(properties = m.properties - k)); ()
  }

  // ---- stats -------------------------------------------------------------

  /** Per-partition file count / row count / size, from manifest + dir names
    * (reference parses `/data/<part>/` path segments, catalog.py:2415-2486). */
  def partitionStats: Map[String, (Long, Long, Long)] =
    currentSnapshot.map(_.files.groupBy(f => {
      val pv = partitionValuesOf(f.path)
      if (pv.isEmpty) "<unpartitioned>"
      else pv.toSeq.sortBy(_._1).map { case (k, v) => s"$k=$v" }.mkString("/")
    }).map { case (k, fs) =>
      k -> ((fs.size.toLong, fs.map(_.rows).sum, fs.map(_.bytes).sum))
    }).getOrElse(Map.empty)

  // ---- helpers -----------------------------------------------------------

  private def align(df: DataFrame, s: StructType): DataFrame = {
    val have = df.schema.fields.map(f => f.name -> f.dataType).toMap
    df.select(s.fields.map { f =>
      (have.get(f.name) match {
        // sameType: don't cast when only nullability differs (Catalyst
        // refuses nullable -> non-null array element casts)
        case Some(dt) if IceTable.sameTypeIgnoringNullability(dt, f.dataType) =>
          col(f.name)
        case Some(_) => col(f.name).cast(f.dataType)
        case None => lit(null).cast(f.dataType)
      }).as(f.name)
    }.toSeq: _*)
  }

  private def listParquet(commitDir: Path, schemaId: Int): List[FileEntry] = {
    val conf = new Configuration()
    val schema = meta.schemas.find(_.id == schemaId).map(_.struct)
      .getOrElse(meta.schema)
    walkList(commitDir).iterator
      .filter(p => p.toString.endsWith(".parquet") && Files.isRegularFile(p))
      .map { p =>
        val (rows, bounds) = parquetFileStats(p, conf, schema)
        FileEntry(p.toString, rows, Files.size(p), schemaId, bounds)
      }
      // Spark writes at least one 0-row part file for an empty frame (and
      // repartition(n) of k<n rows writes n-k of them): carrying them in
      // the file list makes every future read open empty parquet forever
      .filter(_.rows > 0L)
      .toList.sortBy(_.path)
  }
}

object IceTable {
  /** One consistent view of the snapshot log for changelog replay: the
    * raw entries it was read from plus the resolved `(snapshot, parent)`
    * range — see [[IceTable.snapshotRangeWithParents]]. */
  case class LogRange(refs: List[Snapshot],
      range: List[(Snapshot, Option[Snapshot])])

  /** Row-lineage column names used internally by merge-on-read deletes.
    * Prefixed to stay clear of any user column. */
  val LineageFileCol = "_gf_lineage_file"
  val LineagePosCol = "_gf_lineage_pos"

  /** Scala-side twin of the commit paths' in-plan path canonicalization
    * (the regexp_replace stripping a URI scheme prefix down to "/"):
    * lineage paths may carry a `file:` scheme while manifest entries are
    * plain — strip the scheme so the two renderings compare equal. */
  def canonPath(p: String): String =
    p.replaceFirst("^[a-zA-Z][a-zA-Z0-9+.-]*:/*", "/")

  /** Position-delete file schema (Iceberg v2's `file_path, pos` shape). */
  val DeleteSchema: StructType = StructType(Seq(
    org.apache.spark.sql.types.StructField("file_path",
      org.apache.spark.sql.types.StringType, nullable = false),
    org.apache.spark.sql.types.StructField("pos",
      org.apache.spark.sql.types.LongType, nullable = false)))

  /** Broadcast the delete set below this many positions (~16 bytes/row
    * of long + pointer-compressed path strings → low hundreds of MB at the
    * cap, inside a healthy executor's broadcast budget). */
  val BroadcastDeleteRows: Long = 4L * 1000 * 1000

  /** Fold a data-manifest chain into one manifest when it reaches this
    * length (Iceberg's commit.manifest-merge.min-count-to-merge idea):
    * keeps per-snapshot manifest lists O(1) amortized on pure append
    * chains instead of one entry per commit forever. */
  val MergeManifestCount: Int = 32

  /** Head files (`heads/v-N.json`) retained behind the current version.
    * Readers always take the max, so anything older is garbage — a few are
    * kept so a reader that listed the directory just before a commit still
    * finds the version it picked. */
  val KeepHeads: Long = 4L

  /** Bound on CAS retries per commit; each retry costs metadata only. */
  val MaxCommitRetries: Int = 20

  /** Era-group count at which [[IceTable.assemble]] switches from the
    * per-era union (full scan-level pushdown, O(columns × eras) plan) to
    * the single merged scan ([[IceTable.assembleMerged]], O(columns +
    * renames) plan). Var ONLY so tests can force either path for
    * differential comparison. */
  private[graft] var MergedAssembleMinGroups: Int = 9

  /** Process-wide count of reads that took the MERGED multi-era scan —
    * DIAGNOSTIC only: the merged-path fuzz legs assert it advanced, so a
    * regression that silently always falls back to per-era cannot pass
    * those tests vacuously. */
  private[graft] val mergedAssembleCount =
    new java.util.concurrent.atomic.AtomicLong(0)

  /** Process-wide count of commit-CAS retry iterations — DIAGNOSTIC only
    * (tools/CommitThroughput's retries-per-commit curve); never read by
    * engine logic. */
  val casRetryCounter = new java.util.concurrent.atomic.AtomicLong(0)

  private[core] val HeadRe = "^v-(\\d+)\\.json$".r

  private val locks = new java.util.concurrent.ConcurrentHashMap[String, Object]()

  private def lockFor(dir: Path): Object =
    locks.computeIfAbsent(dir.toAbsolutePath.toString, _ => new Object)

  /** Structural type equality ignoring nullability at every level (the
    * public twin of Catalyst's private `sameType`): casting only on REAL
    * type changes avoids Catalyst's refusal to cast a nullable-element
    * array to a non-null-element one. Field metadata is ignored too —
    * file schemas carry field-ids, incoming frames don't. */
  def sameTypeIgnoringNullability(a: org.apache.spark.sql.types.DataType,
      b: org.apache.spark.sql.types.DataType): Boolean = {
    import org.apache.spark.sql.types.{ArrayType, MapType}
    (a, b) match {
      case (x: ArrayType, y: ArrayType) =>
        sameTypeIgnoringNullability(x.elementType, y.elementType)
      case (x: MapType, y: MapType) =>
        sameTypeIgnoringNullability(x.keyType, y.keyType) &&
          sameTypeIgnoringNullability(x.valueType, y.valueType)
      case (x: StructType, y: StructType) =>
        x.length == y.length && x.fields.zip(y.fields).forall { case (f, g) =>
          f.name == g.name && sameTypeIgnoringNullability(f.dataType, g.dataType)
        }
      case (x, y) => x == y
    }
  }

  /** `_p_k=v` path segments → partition values (catalog.py:2442-2460). */
  def partitionValuesOf(path: String): Map[String, String] =
    path.split('/').toSeq
      .filter(seg => seg.startsWith(PartitionTransform.DirPrefix) && seg.contains('='))
      .map { seg =>
        val Array(k, v) = seg.split("=", 2)
        k -> unescapePathValue(v)
      }.toMap

  /** Undo Spark's partition-path escaping: only %XX sequences. URLDecoder
    * would additionally turn '+' into a space — but Spark never encodes
    * '+', so values containing it (e.g. "C++") would be corrupted. */
  private def unescapePathValue(v: String): String = {
    val sb = new java.lang.StringBuilder(v.length)
    var i = 0
    while (i < v.length) {
      val c = v.charAt(i)
      if (c == '%' && i + 3 <= v.length) {
        try {
          sb.append(Integer.parseInt(v.substring(i + 1, i + 3), 16).toChar)
          i += 3
        } catch { case _: NumberFormatException => sb.append(c); i += 1 }
      } else { sb.append(c); i += 1 }
    }
    sb.toString
  }

  def parquetRowCount(p: Path, conf: Configuration): Long = {
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    val in = HadoopInputFile.fromPath(new org.apache.hadoop.fs.Path(p.toString), conf)
    val r = ParquetFileReader.open(in)
    try r.getRecordCount finally r.close()
  }

  /** Row count + per-column value bounds from ONE footer read (the same
    * footer the row count already required — stats collection adds no I/O
    * to the commit path). Bounds are keyed by field-id and canonicalized
    * per [[ColBounds]]; a column with missing/unusable statistics in ANY
    * block is simply absent (= never pruned). INT96 timestamps carry no
    * usable stats and are skipped. */
  def parquetFileStats(p: Path, conf: Configuration,
      schema: StructType): (Long, Map[String, ColBounds]) = {
    import org.apache.parquet.column.statistics.Statistics
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import org.apache.spark.sql.types._

    val in = HadoopInputFile.fromPath(new org.apache.hadoop.fs.Path(p.toString), conf)
    val r = ParquetFileReader.open(in)
    try {
      val blocks = r.getFooter.getBlocks.asScala.toList
      val rows = blocks.map(_.getRowCount).sum

      // canonical string of a footer stat value in the field's domain;
      // `prim` disambiguates timestamp encodings (MILLIS/MICROS/NANOS get
      // normalized to micros; INT96 has Binary stats and falls through to
      // None = no pruning on that column)
      def canon(dt: DataType, v: Any,
          prim: org.apache.parquet.schema.PrimitiveType): Option[String] = (dt, v) match {
        case (ByteType | ShortType | IntegerType | LongType, n: java.lang.Number) =>
          Some(n.longValue.toString)
        case (FloatType | DoubleType, n: java.lang.Number) =>
          val d = n.doubleValue
          if (d.isNaN) None else Some(FilePruning.normFp(d))
        case (StringType, b: org.apache.parquet.io.api.Binary) =>
          Some(new String(b.getBytes, java.nio.charset.StandardCharsets.UTF_8))
        case (BooleanType, b: java.lang.Boolean) => Some(b.toString)
        case (TimestampType | TimestampNTZType, n: java.lang.Long) =>
          prim.getLogicalTypeAnnotation match {
            case ts: org.apache.parquet.schema.LogicalTypeAnnotation.TimestampLogicalTypeAnnotation =>
              import org.apache.parquet.schema.LogicalTypeAnnotation.TimeUnit
              ts.getUnit match {
                case TimeUnit.MICROS => Some(n.toString)
                case TimeUnit.MILLIS => Some((n * 1000L).toString)
                // truncating nanos would LOWER a max bound below real
                // values — unsafe for pruning; Spark never writes NANOS
                case TimeUnit.NANOS => None
              }
            case _ => None
          }
        case (DateType, n: java.lang.Integer) => Some(n.toLong.toString)
        case _ => None
      }

      val fields = schema.fields.toSeq
        .filter(f => FilePruning.supported(f.dataType))
        .flatMap(f => TableMeta.fieldId(f).map(id => f.name -> (id, f.dataType)))
        .toMap

      val acc = scala.collection.mutable.Map.empty[String, ColBounds]
      val dead = scala.collection.mutable.Set.empty[String]
      blocks.foreach { blk =>
        blk.getColumns.asScala.foreach { c =>
          val name = c.getPath.toDotString
          fields.get(name).filterNot(_ => dead(name)).foreach { case (id, dt) =>
            val key = id.toString
            val st = c.getStatistics.asInstanceOf[Statistics[_]]
            val allNull = st != null && st.isNumNullsSet &&
              st.getNumNulls == c.getValueCount
            if (st == null || st.isEmpty || (!st.hasNonNullValue && !allNull)) {
              dead += name; acc.remove(key)
            } else {
              val prev = acc.getOrElse(key, ColBounds(nulls = Some(0L)))
              val nulls =
                if (st.isNumNullsSet) prev.nulls.map(_ + st.getNumNulls) else None
              val (mn, mx) =
                if (!st.hasNonNullValue) (prev.min, prev.max) // all-null block
                else {
                  val bmn = canon(dt, st.genericGetMin, c.getPrimitiveType)
                  val bmx = canon(dt, st.genericGetMax, c.getPrimitiveType)
                  if (bmn.isEmpty || bmx.isEmpty) { dead += name; (None, None) }
                  else (
                    Some((prev.min.toList ++ bmn)
                      .minBy(identity)(Ordering.fromLessThan[String](
                        (a, b) => FilePruning.compare(dt, a, b) < 0))),
                    Some((prev.max.toList ++ bmx)
                      .maxBy(identity)(Ordering.fromLessThan[String](
                        (a, b) => FilePruning.compare(dt, a, b) < 0))))
                }
              if (!dead(name)) acc(key) = ColBounds(mn, mx, nulls)
            }
          }
        }
      }
      (rows, acc.toMap)
    } finally r.close()
  }

  /** ISO instant or local datetime → epoch millis. */
  def parseInstantMs(s: String): Long =
    try Instant.parse(s).toEpochMilli
    catch {
      case _: Exception =>
        try LocalDateTime.parse(s).toInstant(ZoneOffset.UTC).toEpochMilli
        catch {
          case _: Exception =>
            java.time.LocalDate.parse(s).atStartOfDay.toInstant(ZoneOffset.UTC).toEpochMilli
        }
    }

  /** Cutoff: ISO timestamp or relative duration `30d` / `24h` / `5m`
    * (catalog.py:950-968). */
  def parseCutoffMs(s: String): Long = {
    val Dur = """(\d+)([dhm])""".r
    s.trim match {
      case Dur(n, u) =>
        val ms = u match {
          case "d" => n.toLong * 86400000L
          case "h" => n.toLong * 3600000L
          case "m" => n.toLong * 60000L
        }
        System.currentTimeMillis() - ms
      case iso => parseInstantMs(iso)
    }
  }
}
