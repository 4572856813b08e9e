package graft.engine

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.analysis.UnresolvedRelation
import org.apache.spark.sql.graft.GraftFileIndex

import graft.Lakehouse
import graft.core.Catalog

/** SQL entry point over catalog tables (reference query.py / joins.py).
  *
  * Differences from the reference, by design:
  *  - table registration is LAZY temp views over the current snapshot's
  *    files (the reference eagerly materializes every table to Arrow before
  *    each query, query.py:68 — defeating predicate pushdown), and PER
  *    QUERY: only the tables a statement references are resolved
  *    (query.py:52-75 re-registers the whole catalog per query — O(catalog)
  *    driver metadata I/O at scale);
  *  - the engine's own manifest/partition/bloom FILE SKIPPING applies on
  *    this path: every view scans through a [[GraftFileIndex]], which
  *    prunes by the filters Catalyst pushes to each scan, so a
  *    `WHERE ts > X` arriving through query/CLI/MCP opens only the files
  *    whose stats can match, instead of listing and tasking every file of
  *    a 100 TB table and recovering only parquet row-group pushdown per
  *    file.
  */
class QueryEngine(lh: Lakehouse) {
  import lh.spark

  /** The frame the last [[execute]] returned, with the scan indexes of
    * each table it registered. */
  @volatile private var lastQuery: Option[(DataFrame, Seq[(String, GraftFileIndex)])] = None

  /** (keptFiles, totalFiles) per referenced table for the frame the last
    * [[execute]] returned: the distinct data files that frame's scans keep
    * after [[GraftFileIndex]] file skipping, against the files in the
    * table's snapshot — scan-stats introspection for tests/tooling. Only
    * tables whose scans received pushed filters appear. Readable before
    * the frame is collected: reading plans the frame, and collecting it
    * afterwards reuses that plan and its file listings (Spark resets plan
    * metrics when an action starts, so such a collect's non-adaptive
    * scans then report a `numFiles` metric of 0). */
  def lastScanStats: Map[String, (Int, Int)] = lastQuery.fold(Map.empty[String, (Int, Int)]) {
    case (df, indexes) =>
      val byTable = GraftFileIndex.listings(df).flatMap(l =>
        indexes.collectFirst { case (ident, idx) if idx eq l.index => ident -> l })
      byTable.groupBy(_._1).collect { case (ident, ls) if ls.exists(_._2.filtered) =>
        val total = indexes.collect { case (`ident`, idx) => idx.rootPaths }.flatten
        ident -> ((ls.flatMap(_._2.kept).distinct.size, total.distinct.size))
      }
  }

  /** Register all tables under short + `ns__table` names (query.py:52-75,
    * joins.py:13-41). Cheap — no materialization. Kept as the explicit
    * whole-catalog refresh; [[execute]] registers per query instead. */
  def refresh(): Unit = lh.catalog.registerViews()

  /** Rewrite `ns.table` → `ns__table` for known tables (joins.py:44-55 does
    * a blind string replace; this version is token-aware: whole identifiers
    * only, and text inside single-quoted SQL literals is left untouched).
    * Cost is O(sql + referenced), NEVER O(catalog): candidate `a.b`
    * identifier pairs are extracted from the TEXT (one overlapping-match
    * scan) and only those that are real tables rewrite — folding a regex
    * per catalog table over every query was measurably linear in
    * warehouse size (tools/CatalogScale: ~40 ms/query at 10k tables,
    * growing ~4 ms per additional 1k tables). */
  def rewriteNamespaces(sql: String): String = {
    // zero-width match with captures = OVERLAPPING candidates, so the
    // `ns.table` inside `cat.ns.table` is still found (the per-ident
    // replaceAll matched it too — `\b` holds between `.` and a letter).
    // Name parts allow leading digits (parseIdent imposes no charset and
    // the pre-candidate rewrite handled `default.2024sales`); numeric
    // literals like `1.5` become candidates that tableExists cheaply
    // rejects
    val candRe = "(?=\\b([A-Za-z0-9_]+\\.[A-Za-z0-9_]+)\\b)".r
    val parts = sql.split("'", -1)
    val idents = parts.zipWithIndex.flatMap { case (seg, i) =>
      if (i % 2 == 1) Nil // inside a quoted literal
      else candRe.findAllMatchIn(seg).map(_.group(1)).toList
    }.distinct.sorted.filter(lh.catalog.tableExists)
    if (idents.isEmpty) return sql
    parts.zipWithIndex.map { case (seg, i) =>
      if (i % 2 == 1) seg // inside a quoted literal
      else idents.foldLeft(seg) { (s, ident) =>
        s.replaceAll("\\b" + java.util.regex.Pattern.quote(ident) + "\\b(?!\\w)",
          ident.replace(".", "__"))
      }
    }.mkString("'")
  }

  /** Naive bare-SELECT auto-LIMIT parity (query.py:162-164): applied only
    * when the SQL has no LIMIT substring, as the reference does. */
  def needsLimit(sql: String): Boolean = !sql.toUpperCase.contains("LIMIT")

  /** Serializes analysis: registerReferenced rebinds session-global temp
    * views to the current snapshot, and executeAsOf temporarily binds a
    * table's views to a PAST snapshot — without the lock a concurrent
    * analysis could bind inside that asof window. File skipping never
    * touches any view (each scan's [[GraftFileIndex]] prunes for that
    * scan alone), so a direct spark.sql issued outside the engine can
    * never observe a narrowed scan. The lock covers ANALYSIS only
    * (driver-side, milliseconds) — returned frames are lazy, so query
    * EXECUTION still runs fully parallel. */
  private val analysisLock = new Object

  /** Run `sql` over the catalog tables it references. `maxRows <= 0`
    * disables the auto-LIMIT entirely — the path for materializing a full
    * result to a table. A `limit(Int.MaxValue)` sentinel would NOT be
    * free: GlobalLimit shuffles every row to a single partition, so
    * "unlimited" must mean no limit node at all. */
  def execute(sql: String, maxRows: Int = 1000): DataFrame = {
    val rewritten = rewriteNamespaces(sql)
    val (df, indexes) = analysisLock.synchronized {
      val indexes = registerReferenced(rewritten)
      (spark.sql(rewritten), indexes)
    }
    val out = if (maxRows > 0 && needsLimit(sql)) df.limit(maxRows) else df
    lastQuery = Some((out, indexes))
    out
  }

  /** Register temp views for ONLY the catalog tables `rewritten` references
    * — names that are not catalog tables (CTE aliases, logical views, temp
    * views registered elsewhere) are left to Spark's own resolution, as
    * before. Returns each registered ident with its view's scan indexes. */
  private def registerReferenced(rewritten: String): Seq[(String, GraftFileIndex)] =
    referencedTables(rewritten).map { n =>
      val (ns, t) = Catalog.parseIdent(n)
      s"$ns.$t"
    }.distinct.filter(lh.catalog.tableExists).flatMap { ident =>
      GraftFileIndex.of(lh.catalog.registerView(ident)).map(ident -> _)
    }

  /** Time-travel query: the NAMED table resolves at the given
    * snapshot-id/timestamp (query.py:169-197); any OTHER table the SQL
    * references resolves fresh at its current snapshot — without that, a
    * join against a second table would bind to whatever (possibly stale)
    * view an earlier query happened to leave behind. The asof view is
    * registered LAST so the per-query registration can never clobber it,
    * and the current view is restored after analysis. */
  def executeAsOf(table: String, sql: String, asOf: String,
      maxRows: Int = 1000): DataFrame = {
    val (ns, short) = graft.core.Catalog.parseIdent(table)
    val rewritten = rewriteNamespaces(sql)
    val df = analysisLock.synchronized {
      registerReferenced(rewritten)
      // the asof frame replaces BOTH of the table's view names — the
      // per-query registration above just bound them to the CURRENT
      // snapshot, and a query using the `ns__table` alias must not
      // silently read current data instead of the requested snapshot
      val asOfDf = lh.catalog.loadTable(table).readAsOf(asOf)
      asOfDf.createOrReplaceTempView(short)
      asOfDf.createOrReplaceTempView(s"${ns}__$short")
      // analyze the REWRITTEN text, like execute(): `ns.table` references
      // must resolve through the alias views here too
      try spark.sql(rewritten)
      finally {
        // restore the CURRENT views: the asof binding must not leak into
        // later queries
        try lh.catalog.registerView(table)
        catch { case _: Exception =>
          spark.catalog.dropTempView(short)
          spark.catalog.dropTempView(s"${ns}__$short")
        }
      }
    }
    // same `maxRows <= 0 disables` convention as execute() — limit(0)
    // would silently return zero rows
    if (maxRows > 0 && needsLimit(sql)) df.limit(maxRows) else df
  }

  /** Federated multi-table join query (joins.py:58-93). */
  def executeJoin(sql: String, maxRows: Int = 10000): DataFrame =
    execute(sql, maxRows)

  /** Tables referenced by a SQL string, from the PARSED plan's unresolved
    * relations — not the reference's substring matching (matviews.py:35-51),
    * which false-positives on column names. `collectWithSubqueries`, not
    * `collect`: a table referenced ONLY inside a scalar/IN/EXISTS subquery
    * expression must register too (plain collect does not descend into
    * subquery expression plans — the per-query lazy registration would
    * miss it, or worse, bind it to a STALE view from an earlier query). */
  def referencedTables(sql: String): Seq[String] = {
    val plan = spark.sessionState.sqlParser.parsePlan(sql)
    plan.collectWithSubqueries {
      case r: UnresolvedRelation => r.multipartIdentifier.mkString(".")
    }.distinct.map(n => n.replace("__", "."))
  }

  /** Dry-run validation: parse, then analyze against registered views
    * (pipelines.py:159-167 uses EXPLAIN). Throws on invalid SQL. */
  def validateSql(sql: String): Unit = {
    val rewritten = rewriteNamespaces(sql)
    registerReferenced(rewritten)
    spark.sql(rewritten).queryExecution.analyzed
  }

  /** Equi-join candidates from matching column names across tables, with a
    * ready-to-run join SQL template (reference suggest_joins,
    * joins.py:191-237). Pure metadata walk — no data touched. */
  def suggestJoins(): Seq[(String, String, String, String)] = {
    val tables = lh.catalog.listTables("*")
    val schemas = tables.map(t => t -> lh.catalog.loadTable(t).schema.fieldNames.toSet)
    for {
      (ta, ca) <- schemas
      (tb, cb) <- schemas if ta < tb
      shared <- (ca intersect cb).toSeq.sorted
    } yield (ta, tb, shared,
      s"SELECT * FROM ${ta.replace(".", "__")} a JOIN ${tb.replace(".", "__")} b" +
        s" ON a.$shared = b.$shared")
  }
}
