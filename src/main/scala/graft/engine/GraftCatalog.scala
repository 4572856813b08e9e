package graft.engine

import java.util.{Map => JMap}
import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.ScanBuilder
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, SupportsTruncate, V1Write, Write, WriteBuilder}
import org.apache.spark.sql.execution.datasources.v2.parquet.ParquetScanBuilder
import org.apache.spark.sql.functions.{col, lit, not}
import org.apache.spark.sql.graft.GraftFileIndex
import org.apache.spark.sql.sources
import org.apache.spark.sql.sources.InsertableRelation
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.core.{Catalog, IceTable}

/** Spark DSv2 `TableCatalog` over an IceLite warehouse — registers the
  * engine as a NATIVE Spark catalog so `SELECT * FROM graft.ns.table`
  * (and multi-namespace joins) parse and resolve without the `ns__table`
  * temp-view rewrite:
  *
  * {{{
  * spark.conf.set("spark.sql.catalog.graft", classOf[GraftCatalog].getName)
  * spark.conf.set("spark.sql.catalog.graft.warehouse", "/path/to/warehouse")
  * spark.sql("SELECT * FROM graft.sales.orders o JOIN graft.ref.nation n ON …")
  * }}}
  *
  * Reads go through a [[GraftFileIndex]]-backed DSv2 parquet scan, so the
  * engine's manifest/partition/bloom file skipping fires from the pushed
  * data filters — the ScanBuilder path the `ns__table` rewrite cannot
  * offer. The temp-view surface stays for reference parity
  * (joins.py:44-55); this catalog is the idiomatic-Spark face.
  *
  * Writes are native too: `INSERT INTO`/`INSERT OVERWRITE`/`DELETE FROM`
  * route through the engine's commit protocol (see [[GraftSparkTable]]).
  *
  * Deliberate scope (documented, checked, loud):
  *  - CREATE/DROP TABLE work; alter does not — schema evolution has
  *    field-id semantics the DSv2 alter surface can't carry (use
  *    IceTable.addColumn/renameColumn/dropColumn).
  *  - A snapshot carrying merge-on-read delete state, or files under
  *    renamed/retyped/drop-re-added schema history, cannot be represented
  *    as a plain parquet file scan — those route transparently to the
  *    [[EngineReadScanBuilder]] fallback (the engine's exact read under a
  *    `V1Scan` bridge), so EVERY table state reads correctly through
  *    `catalog.ns.table`; only clean snapshots take the direct
  *    ParquetScanBuilder fast path. */
class GraftCatalog extends TableCatalog with SupportsNamespaces
    with org.apache.spark.sql.connector.catalog.ProcedureCatalog {
  private var catalogName: String = _
  private var warehouse: String = _

  private def spark: SparkSession = SparkSession.active
  private def cat: Catalog = Catalog.open(spark, warehouse)
  private def lakehouse: graft.Lakehouse = graft.Lakehouse.open(spark, warehouse)

  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    warehouse = Option(options.get("warehouse")).getOrElse(
      throw new IllegalArgumentException(
        s"spark.sql.catalog.$name.warehouse must point at an IceLite warehouse"))
  }

  override def name(): String = catalogName

  private def identOf(ident: Identifier): String = {
    require(ident.namespace.length <= 1,
      s"nested namespaces unsupported: ${ident.namespace.mkString(".")}")
    val ns = ident.namespace.headOption.getOrElse(Catalog.DefaultNamespace)
    s"$ns.${ident.name}"
  }

  // ---- tables ------------------------------------------------------------

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    require(namespace.length <= 1, "nested namespaces unsupported")
    val ns = namespace.headOption.getOrElse(Catalog.DefaultNamespace)
    cat.listTables(ns).map { full =>
      val (n, t) = Catalog.parseIdent(full)
      Identifier.of(Array(n), t)
    }.toArray
  }

  override def loadTable(ident: Identifier): Table = {
    // metadata tables — `cat.ns.t.snapshots` parses as namespace [ns, t]
    // with the metadata name as the table: route to the read-only
    // inspection face. A missing BASE table surfaces as the standard
    // NoSuchTableException (not identOf's nested-namespace error), so
    // Spark reports TABLE_OR_VIEW_NOT_FOUND like any other typo.
    if (ident.namespace.length == 2 &&
        GraftMetaTables.AllNames.contains(ident.name.toLowerCase)) {
      val Array(ns0, ns1) = ident.namespace()
      val base = s"$ns0.$ns1"
      if (!cat.tableExists(base))
        throw new org.apache.spark.sql.catalyst.analysis.NoSuchTableException(ident)
      val lh = lakehouse
      return GraftMetaTables(spark, () => lh.catalog.loadTable(base),
        base, ident.name.toLowerCase)
    }
    val full = identOf(ident)
    if (!cat.tableExists(full))
      throw new org.apache.spark.sql.catalyst.analysis.NoSuchTableException(ident)
    new GraftSparkTable(lakehouse, full)
  }

  /** SQL time travel — `SELECT … FROM cat.ns.t VERSION AS OF <ref>`:
    * `ref` resolves exactly like the engine API's `readAsOf` (snapshot
    * id → tag → ISO timestamp precedence, [[graft.core.IceTable
    * .resolveRef]]), so the two surfaces can never disagree. The
    * returned table is READ-ONLY (writes against a pinned snapshot are
    * refused at plan time). */
  override def loadTable(ident: Identifier, version: String): Table = {
    val full = identOf(ident)
    if (!cat.tableExists(full))
      throw new org.apache.spark.sql.catalyst.analysis.NoSuchTableException(ident)
    new GraftSparkTable(lakehouse, full, Some(version))
  }

  /** SQL `TIMESTAMP AS OF` — Spark hands MICROseconds since epoch;
    * resolves to the last snapshot at or before that instant. */
  override def loadTable(ident: Identifier, timestamp: Long): Table = {
    val iso = java.time.Instant.ofEpochMilli(timestamp / 1000L).toString
    loadTable(ident, iso)
  }

  override def createTable(ident: Identifier, schema: StructType,
      partitions: Array[Transform], properties: JMap[String, String]): Table = {
    // `PARTITIONED BY (bucket(16, id), days(ts), …)` → the engine's
    // transform spec strings (identity/year/month/day/hour/bucket/
    // truncate — the same grammar the API surface takes)
    val spec = partitions.map(GraftCatalog.transformSpec).toSeq
    cat.createTable(identOf(ident), schema, spec, properties.asScala.toMap)
    loadTable(ident)
  }

  /** SQL `ALTER TABLE`: add / rename / drop column ride the engine's
    * field-id schema evolution (new schema VERSION, old files resolve by
    * field-id — never a data rewrite); SET/UNSET TBLPROPERTIES ride the
    * metadata CAS. Column type changes, nested fields, positions and
    * defaults are refused loudly — those shapes have no exact field-id
    * story on this surface. */
  override def alterTable(ident: Identifier, changes: TableChange*): Table = {
    val full = identOf(ident)
    if (!cat.tableExists(full))
      throw new org.apache.spark.sql.catalyst.analysis.NoSuchTableException(ident)
    val t = lakehouse.catalog.loadTable(full)
    def topLevel(names: Array[String], what: String): String = {
      require(names.length == 1,
        s"$what of a NESTED field is unsupported: ${names.mkString(".")}")
      names(0)
    }
    // validate EVERY change before applying ANY: each change commits its
    // own metadata CAS, so a failing later change must not leave the
    // statement half-applied. Name-level semantics (duplicates, missing
    // columns, rename collisions) are simulated against the EVOLVING
    // schema here — shape checks alone would still let the second change
    // of `ADD COLUMNS (x int, x int)` throw mid-apply.
    var sim = t.schema.fieldNames.toVector
    changes.foreach {
      case a: TableChange.AddColumn =>
        val name = topLevel(a.fieldNames(), "ADD COLUMN")
        require(a.position() == null,
          "ADD COLUMN … FIRST/AFTER is unsupported (columns append)")
        require(a.defaultValue() == null,
          "ADD COLUMN with DEFAULT is unsupported")
        require(!sim.contains(name), s"column already exists: $name")
        sim = sim :+ name
      case r: TableChange.RenameColumn =>
        val from = topLevel(r.fieldNames(), "RENAME COLUMN")
        require(sim.contains(from), s"no such column: $from")
        require(!sim.contains(r.newName()),
          s"rename target already exists: ${r.newName()}")
        sim = sim.map(n => if (n == from) r.newName() else n)
      case d: TableChange.DeleteColumn =>
        val name = topLevel(d.fieldNames(), "DROP COLUMN")
        require(d.ifExists() || sim.contains(name), s"no such column: $name")
        require(sim.size > 1 || !sim.contains(name),
          "cannot drop the last column")
        sim = sim.filterNot(_ == name)
      case _: TableChange.SetProperty => ()
      case _: TableChange.RemoveProperty => ()
      case other => throw new UnsupportedOperationException(
        s"unsupported ALTER TABLE change: $other — evolve through the " +
          "engine API (IceTable.evolveSchema)")
    }
    changes.foreach {
      case a: TableChange.AddColumn =>
        val name = topLevel(a.fieldNames(), "ADD COLUMN")
        require(a.position() == null,
          "ADD COLUMN … FIRST/AFTER is unsupported (columns append)")
        require(a.defaultValue() == null,
          "ADD COLUMN with DEFAULT is unsupported")
        val f0 = org.apache.spark.sql.types.StructField(
          name, a.dataType(), a.isNullable)
        val f = Option(a.comment()).fold(f0)(f0.withComment)
        t.evolveSchema(s => StructType(s.fields :+ f))
        ()
      case r: TableChange.RenameColumn =>
        t.renameColumn(topLevel(r.fieldNames(), "RENAME COLUMN"), r.newName())
        ()
      case d: TableChange.DeleteColumn =>
        val name = topLevel(d.fieldNames(), "DROP COLUMN")
        if (!d.ifExists() || t.schema.fieldNames.contains(name)) {
          t.dropColumn(name); ()
        }
      case p: TableChange.SetProperty =>
        t.setProperty(p.property(), p.value())
      case p: TableChange.RemoveProperty =>
        t.removeProperty(p.property())
      case other => throw new UnsupportedOperationException(
        s"unsupported ALTER TABLE change: $other — evolve through the " +
          "engine API (IceTable.evolveSchema)")
    }
    loadTable(ident)
  }

  override def dropTable(ident: Identifier): Boolean = {
    val full = identOf(ident)
    if (!cat.tableExists(full)) false
    else { cat.dropTable(full); true }
  }

  /** `ALTER TABLE cat.ns.t RENAME TO ns2.t2` — the lakehouse-wide rename
    * (dir move + clone pins + every ident-keyed governance store; see
    * [[graft.Lakehouse.renameTable]]). An unqualified target keeps the
    * SOURCE namespace — `RENAME TO t2` must not relocate sales.t into
    * the default namespace. */
  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit = {
    val to =
      if (newIdent.namespace().isEmpty) newIdent.name()
      else identOf(newIdent)
    lakehouse.renameTable(identOf(oldIdent), to)
  }

  // ---- stored procedures (`CALL cat.system.<proc>(…)`) -------------------

  override def loadProcedure(ident: Identifier)
      : org.apache.spark.sql.connector.catalog.procedures.UnboundProcedure =
    GraftProcedures.load(lakehouse, ident)

  override def listProcedures(namespace: Array[String]): Array[Identifier] =
    if (namespace.sameElements(GraftProcedures.Namespace))
      GraftProcedures.names
        .map(Identifier.of(GraftProcedures.Namespace, _)).toArray
    else Array.empty

  // ---- namespaces --------------------------------------------------------

  override def listNamespaces(): Array[Array[String]] =
    cat.listNamespaces().map(Array(_)).toArray

  override def listNamespaces(namespace: Array[String]): Array[Array[String]] =
    if (namespace.isEmpty) listNamespaces() else Array.empty

  override def loadNamespaceMetadata(namespace: Array[String]): JMap[String, String] = {
    require(namespace.length == 1, "nested namespaces unsupported")
    cat.namespaceProperties(namespace(0)).asJava
  }

  override def createNamespace(namespace: Array[String],
      metadata: JMap[String, String]): Unit = {
    require(namespace.length == 1, "nested namespaces unsupported")
    cat.createNamespace(namespace(0), metadata.asScala.toMap)
  }

  override def alterNamespace(namespace: Array[String],
      changes: NamespaceChange*): Unit =
    throw new UnsupportedOperationException("alterNamespace is not supported")

  override def dropNamespace(namespace: Array[String], cascade: Boolean): Boolean = {
    require(namespace.length == 1, "nested namespaces unsupported")
    require(!cascade, "cascade drop goes through the engine API")
    cat.dropNamespace(namespace(0)); true
  }
}

object GraftCatalog {
  /** DSv2 partition Transform → the engine's spec grammar, so
    * `CREATE TABLE … PARTITIONED BY (days(ts), bucket(16, id))` lands
    * with the SAME per-era pruning semantics as the engine API's specs
    * (the concrete Transform classes are `private[sql]` — bridged via
    * [[org.apache.spark.sql.graft.TransformBridge]]). */
  private[engine] def transformSpec(t: Transform): String =
    org.apache.spark.sql.graft.TransformBridge.spec(t)
}

/** DSv2 face of one IceLite table. Reads: current-snapshot parquet scan
  * over a manifest-pruning [[GraftFileIndex]]. Writes: `INSERT INTO` /
  * `INSERT OVERWRITE` / `df.writeTo(...).append()` route through the
  * engine's own commit protocol via Spark's V1Write fallback — the
  * sanctioned DSv2 escape hatch that hands the driver a DataFrame, which
  * is exactly the shape [[IceTable.append]]/[[IceTable.overwrite]] wants
  * (stage-dir write, claim-by-rename, log CAS, schema alignment, bloom
  * index collection — all identical to the engine API path). Deletes:
  * `DELETE FROM … WHERE` translates the pushed source filters and routes
  * copy-on-write or merge-on-read by the same `write.delete.mode` table
  * property the engine API honors; untranslatable predicates are refused
  * at `canDeleteWhere` so Spark reports a clean unsupported error instead
  * of a wrong partial delete. */
class GraftSparkTable(lh: graft.Lakehouse, fullName: String,
    asOf: Option[String] = None) extends Table
    with SupportsRead with SupportsWrite with SupportsDelete {
  private def tbl: IceTable = lh.catalog.loadTable(fullName)
  /** The snapshot this table face reads: the pinned time-travel ref
    * (id → tag → ISO precedence, engine-API parity) or the live head. */
  private def snapshotAt(t: IceTable): Option[graft.core.Snapshot] =
    asOf match {
      case Some(ref) => Some(t.resolveRef(ref))
      case None => t.currentSnapshot
    }
  private def refuseWriteIfPinned(): Unit =
    require(asOf.isEmpty,
      s"table $fullName is pinned to snapshot ref '${asOf.get}' " +
        "(VERSION/TIMESTAMP AS OF) — time-travel reads are immutable")
  /** For the MERGE/row-level planner strategies ([[GraftMergeStrategy]],
    * [[GraftRowLevelStrategy]]). */
  private[engine] def lakehouse: graft.Lakehouse = lh
  private[engine] def fullIdent: String = fullName
  private[engine] def isPinned: Boolean = asOf.isDefined
  override def name(): String = fullName
  override def schema(): StructType = tbl.schema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ,
      TableCapability.V1_BATCH_WRITE, TableCapability.TRUNCATE,
      TableCapability.OVERWRITE_BY_FILTER)

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    refuseWriteIfPinned()
    new WriteBuilder with org.apache.spark.sql.connector.write.SupportsOverwrite {
      // None = plain append; Some(None) = truncate (full overwrite);
      // Some(Some(cond)) = filter overwrite (`INSERT INTO … REPLACE
      // WHERE` / writeTo(...).overwrite(cond))
      private var replace: Option[Option[Column]] = None
      override def truncate(): WriteBuilder = { replace = Some(None); this }
      override def overwrite(filters: Array[sources.Filter]): WriteBuilder = {
        val cols = filters.map(GraftSparkTable.toColumn)
        // refuse the WHOLE overwrite on any untranslatable predicate —
        // errors here surface at write planning, before any data moves
        require(cols.forall(_.isDefined),
          s"unsupported overwrite condition: ${filters.mkString(" AND ")}")
        val cond = cols.flatten.reduceOption(_ && _)
        replace =
          if (filters.forall(_.isInstanceOf[sources.AlwaysTrue])) Some(None)
          else Some(Some(cond.getOrElse(lit(true))))
        this
      }
      override def build(): Write = new V1Write {
        // through Dml, not IceTable: the SQL surface gets the SAME
        // validation enforcement and audit logging as the engine API —
        // a constraint-violating INSERT fails here exactly as
        // Dml.insertDf would fail it
        override def toInsertableRelation: InsertableRelation =
          (data, overwrite) => replace match {
            case Some(Some(cond)) =>
              lh.dml.overwriteWhereDf(fullName, cond, data); ()
            case Some(None) => lh.dml.overwriteDf(fullName, data); ()
            case None =>
              if (overwrite) { lh.dml.overwriteDf(fullName, data); () }
              else { lh.dml.insertDf(fullName, data); () }
          }
      }
    }
  }

  override def canDeleteWhere(filters: Array[sources.Filter]): Boolean =
    asOf.isEmpty && filters.forall(f => GraftSparkTable.toColumn(f).isDefined)

  override def deleteWhere(filters: Array[sources.Filter]): Unit = {
    refuseWriteIfPinned()
    val cond = filters.flatMap(GraftSparkTable.toColumn)
      .reduceOption(_ && _).getOrElse(lit(true))
    // ONE delete implementation for both surfaces: Dml.deleteWhere owns
    // the write.delete.mode routing, NULL-kept semantics, table lock and
    // audit logging — the SQL path cannot drift from the API path
    lh.dml.deleteWhere(fullName, cond,
      filters.map(_.toString).mkString(" AND "))
    ()
  }

  /** The pinned (table, snapshot) pair when the CURRENT snapshot cannot be
    * represented as a plain parquet file scan — merge-on-read delete state,
    * or rename/retype/drop-re-add schema history — and must go through the
    * engine's exact read. None = clean snapshot (or empty table): the
    * direct ParquetScanBuilder fast path applies.
    *
    * Older-schema files scan natively when the evolution was ADDITIVE
    * (added columns only, no renames/retypes): parquet's
    * read-missing-as-null then equals the engine's field-id resolution
    * exactly. A rename or retype between versions would make a by-name
    * scan silently null or mistype the column. Field-ids must match too:
    * a drop + re-add of the same name/type is a DIFFERENT column (new
    * field-id; the engine reads old files' value as NULL), but a by-name
    * parquet scan would resurrect the dropped data into the re-added
    * column. */
  private def needsEngineRead(t: IceTable, snap: graft.core.Snapshot): Boolean = {
    val m = t.meta
    val cur = m.schema
    val incompatible = snap.files.map(_.schemaId).distinct
      .filterNot(_ == m.currentSchemaId)
      .filter { sid =>
        m.schemas.find(_.id == sid).forall(!_.struct.fields.forall(f =>
          cur.fields.find(_.name == f.name).exists(cf =>
            graft.core.IceTable.sameTypeIgnoringNullability(
              f.dataType, cf.dataType) &&
              graft.core.TableMeta.fieldId(f) ==
                graft.core.TableMeta.fieldId(cf))))
      }
    snap.deleteFiles.nonEmpty || snap.eqDeleteFiles.nonEmpty ||
      incompatible.nonEmpty
  }

  private[engine] def engineReadState: Option[(IceTable, graft.core.Snapshot)] = {
    val t = tbl
    snapshotAt(t).filter(_.files.nonEmpty)
      .filter(needsEngineRead(t, _)).map((t, _))
  }

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    val spark = SparkSession.active
    val t = tbl // ONE load: decision and scan must see the same snapshot
    val snap = snapshotAt(t).filter(_.files.nonEmpty).getOrElse {
      // empty table: an index over zero files yields an empty scan
      return new ParquetScanBuilder(spark,
        new GraftFileIndex(spark, Nil, t.schema, _ => Set.empty),
        t.schema, t.schema, options)
    }
    // A fallback-state snapshot routes to the ENGINE-READ scan: same SQL
    // surface, exact semantics, still file-skipping. (When
    // [[GraftEngineReadRule]] is installed the relation is substituted
    // with the engine's plan BEFORE pushdown and this builder is never
    // consulted for such snapshots — this V1 bridge remains the exact
    // fallback for sessions without the graft extensions.)
    if (needsEngineRead(t, snap))
      return new EngineReadScanBuilder(t, snap)
    val paths = snap.files.map(f => new HPath(f.path))
    // the prune callback is PINNED to this scan's snapshot: evaluating
    // against the live head would intersect two different file sets when
    // a commit lands between planning and execution (silent empty scan)
    val index = new GraftFileIndex(spark, paths, t.schema,
      leaves => t.pruneFilePaths(snap, leaves))
    new ParquetScanBuilder(spark, index, t.schema, t.schema, options)
  }
}

/** Engine-read fallback scan for snapshots a plain parquet file scan
  * cannot represent: merge-on-read delete state (position/equality
  * anti-joins) and rename/retype/drop-re-add schema history (field-id
  * realias). Builds the engine's exact pinned-snapshot read — per-version
  * field-id projection, delete subtraction, all distributed Catalyst
  * plans — and hands it to Spark through the `V1Scan` bridge, the
  * read-side twin of the `V1Write` path the write builder uses. Pushed
  * filters still drive manifest/partition/bloom FILE SKIPPING (via
  * [[IceTable.readSnapshotPruned]]) and parquet row-group pushdown inside
  * the engine plan; every filter is ALSO returned as residual, so
  * correctness never depends on the engine applying them. Required-column
  * pruning narrows the final projection (the parquet reads inside the
  * engine plan are then column-pruned by Catalyst as usual). */
private class EngineReadScanBuilder(tbl: IceTable, snap: graft.core.Snapshot)
    extends ScanBuilder
    with org.apache.spark.sql.connector.read.SupportsPushDownFilters
    with org.apache.spark.sql.connector.read.SupportsPushDownRequiredColumns {
  import org.apache.spark.sql.connector.read.{Scan, V1Scan}
  import org.apache.spark.sql.sources.{BaseRelation, TableScan}
  import org.apache.spark.sql.SQLContext

  private var pushed: Array[sources.Filter] = Array.empty
  private var required: StructType = tbl.schema

  override def pushFilters(filters: Array[sources.Filter]): Array[sources.Filter] = {
    pushed = filters.filter(f => GraftSparkTable.toColumn(f).isDefined)
    filters // ALL residual: pruning is advisory, exactness stays Spark's
  }
  override def pushedFilters(): Array[sources.Filter] = pushed
  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  override def build(): Scan = {
    val filterCol = pushed.flatMap(GraftSparkTable.toColumn)
      .reduceOption(_ && _)
    val req = required
    new V1Scan {
      override def readSchema(): StructType = req
      override def toV1TableScan[T <: BaseRelation with TableScan](
          context: SQLContext): T =
        new BaseRelation with TableScan {
          override def sqlContext: SQLContext = context
          override def schema: StructType = req
          // the engine frame's rows are handed over as INTERNAL rows
          // (queryExecution.toRdd below): Spark's V1-bridge scan exec then
          // skips both halves of the InternalRow→Row→InternalRow round
          // trip the plain `.rdd` bridge pays — measured 10-19% of the
          // whole MoR read at sf0.1 (NOTES_r16.md item 8), all of it
          // per-row conversion
          override val needConversion: Boolean = false
          override def buildScan(): org.apache.spark.rdd.RDD[org.apache.spark.sql.Row] = {
            val base = tbl.readSnapshotPruned(snap, filterCol)
            // applying the filter INSIDE the engine frame lets parquet
            // row-group pushdown fire under the anti-joins; Spark's
            // residual re-application on top is then a cheap no-op pass.
            // Safe because toColumn's translation parity with Catalyst
            // semantics is asserted per Filter shape (nulls, coercion,
            // Not/Or composition) by GraftFilterParitySpec — an
            // over-restrictive translation here would drop rows residual
            // re-application cannot restore
            val narrowed = filterCol.fold(base)(base.where)
            narrowed.select(req.fieldNames.toSeq.map(col): _*)
              .asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]
              .queryExecution.toRdd
              .asInstanceOf[org.apache.spark.rdd.RDD[org.apache.spark.sql.Row]]
          }
        }.asInstanceOf[T]
    }
  }
}

object GraftSparkTable {
  /** Source-filter → Column translation for the DSv2 delete path. None =
    * not translatable (the whole delete is then refused via
    * `canDeleteWhere` — never partially applied). Value comparisons rely
    * on Spark's own literal coercion, the same as the engine's
    * `expr`-string predicates. */
  private[engine] def toColumn(f: sources.Filter): Option[Column] = f match {
    case sources.EqualTo(a, v) => Some(col(a) === lit(v))
    case sources.EqualNullSafe(a, v) => Some(col(a) <=> lit(v))
    case sources.GreaterThan(a, v) => Some(col(a) > lit(v))
    case sources.GreaterThanOrEqual(a, v) => Some(col(a) >= lit(v))
    case sources.LessThan(a, v) => Some(col(a) < lit(v))
    case sources.LessThanOrEqual(a, v) => Some(col(a) <= lit(v))
    case sources.In(a, vs) => Some(col(a).isin(vs.toIndexedSeq: _*))
    case sources.IsNull(a) => Some(col(a).isNull)
    case sources.IsNotNull(a) => Some(col(a).isNotNull)
    case sources.StringStartsWith(a, v) => Some(col(a).startsWith(v))
    case sources.StringEndsWith(a, v) => Some(col(a).endsWith(v))
    case sources.StringContains(a, v) => Some(col(a).contains(v))
    case sources.And(l, r) =>
      for (lc <- toColumn(l); rc <- toColumn(r)) yield lc && rc
    case sources.Or(l, r) =>
      for (lc <- toColumn(l); rc <- toColumn(r)) yield lc || rc
    case sources.Not(c) => toColumn(c).map(not)
    case sources.AlwaysTrue() => Some(lit(true))
    case sources.AlwaysFalse() => Some(lit(false))
    case _ => None
  }
}
