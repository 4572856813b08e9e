package graft.engine

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, NamedExpression}
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation

/** Analyzer rule that substitutes a FALLBACK-STATE graft DSv2 relation —
  * a snapshot carrying merge-on-read delete state or rename/retype/
  * drop-re-add schema history — with the engine's own analyzed read plan,
  * re-aliased onto the relation's output exprIds.
  *
  * Why: such snapshots cannot be a plain parquet file scan, so without
  * this rule they ride [[EngineReadScanBuilder]]'s `V1Scan` bridge —
  * correct, but row-based at the scan boundary (no columnar batches, no
  * codegen fusion across it; measured 9-14% on wide aggregates at sf0.1,
  * NOTES_r16.md item 8). Substituting the LOGICAL plan instead makes the
  * delete anti-joins and field-id projections part of the query's own
  * plan: Catalyst pushes the query's filters through them into the
  * columnar parquet scans (row-group pushdown AND manifest/partition/
  * bloom file skipping via the GraftFileIndex `listFiles` hook), and
  * whole-stage codegen spans the subtree. The V1 bridge stays behind as
  * the exact fallback for sessions built without the graft extensions.
  *
  * Never rewrites a WRITE TARGET relation: `MERGE INTO` (planned by
  * [[GraftMergeStrategy]] off the target's scan relation), `DELETE FROM` /
  * `UPDATE` (routed through the table's SupportsDelete face), and V2
  * writes (`INSERT INTO`/`REPLACE WHERE`) all identify the table through
  * that node — only READ-side occurrences (including the SOURCE side of a
  * MERGE) are substituted.
  *
  * Substitution runs once per relation (the DSv2 node disappears) and
  * mints fresh exprIds per occurrence, so self-joins of the same table
  * stay unambiguous. The snapshot is pinned at analysis time but RE-PINNED
  * per query execution by [[GraftRefreshStaleReadRule]] (a plan-
  * normalization rule), so temp views and frames composed over an
  * already-analyzed plan observe later commits — matching the V1
  * scan-builder path's resolve-at-planning behavior. Disable with
  * `spark.graft.engineReadSubstitution=false`.
  */
class GraftEngineReadRule(session: SparkSession) extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan = {
    if (!conf.getConfString("spark.graft.engineReadSubstitution", "true")
        .toBoolean) return plan
    if (!plan.exists {
      case r: DataSourceV2Relation => r.table.isInstanceOf[GraftSparkTable]
      case _ => false
    }) return plan
    // write-target relations by OBJECT IDENTITY — the same table read
    // elsewhere in the same plan (e.g. a MERGE whose source selects from
    // its own target) must still substitute
    val protectedRels = java.util.Collections.newSetFromMap(
      new java.util.IdentityHashMap[LogicalPlan, java.lang.Boolean]())
    def protect(p: LogicalPlan): Unit = p.foreach {
      case r: DataSourceV2Relation => protectedRels.add(r); ()
      case _ => ()
    }
    plan.foreach {
      case m: MergeIntoTable => protect(m.targetTable)
      case d: DeleteFromTable => protect(d.table)
      case u: UpdateTable => protect(u.table)
      case w: V2WriteCommand => protect(w.table)
      // the PRE-conversion INSERT shape: until ResolveInsertInto rewrites
      // it to a V2WriteCommand (which requires the query side resolved),
      // the write target sits under InsertIntoStatement — substituting it
      // in an earlier iteration would break the INSERT's own pattern match
      case i: InsertIntoStatement => protect(i.table)
      case _ => ()
    }
    plan.resolveOperatorsUp {
      case r: DataSourceV2Relation if !protectedRels.contains(r) =>
        r.table match {
          case t: GraftSparkTable => substituted(t, r).getOrElse(r)
          case _ => r
        }
    }
  }

  // clean tables never substitute but the analyzer re-runs this rule to
  // fixpoint — cache the per-relation decision by object identity so the
  // table-log probe (engineReadState → snapshot read) happens once per
  // relation per analysis, not once per iteration. Weak keys: entries die
  // with the plan. None-valued entries are the point (the "clean" answer).
  private val decided = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[DataSourceV2Relation, Option[LogicalPlan]]())

  private def substituted(t: GraftSparkTable, r: DataSourceV2Relation)
      : Option[LogicalPlan] = {
    val cached = decided.get(r)
    if (cached != null) return cached
    val out = r.output
    val result = t.engineReadState.map { case (tbl, snap) =>
      GraftEngineReadRule.substitution(t, tbl, snap, out): LogicalPlan
    }
    decided.put(r, result)
    result
  }
}

object GraftEngineReadRule {
  /** Marks an engine-read substitution Project with the table face and
    * the snapshot id it was pinned to at analysis time — the handle
    * [[GraftRefreshStaleReadRule]] uses to re-pin per query execution. */
  val SubstTag: org.apache.spark.sql.catalyst.trees.TreeNodeTag[
      (GraftSparkTable, Long)] =
    org.apache.spark.sql.catalyst.trees.TreeNodeTag("graftEngineReadSubst")

  /** The engine's analyzed read of `snap`, re-aliased onto `out`'s
    * exprIds (everything above the substituted relation keeps binding),
    * tagged with the pin for per-execution refresh. */
  private[engine] def substitution(t: GraftSparkTable,
      tbl: graft.core.IceTable, snap: graft.core.Snapshot,
      out: Seq[Attribute]): Project = {
    val child = org.apache.spark.sql.graft.DatasetBridge
      .analyzed(tbl.readSnapshot(Some(snap)))
    aliased(t, child, out, snap.id)
  }

  private[engine] def aliased(t: GraftSparkTable, child: LogicalPlan,
      out: Seq[Attribute], snapId: Long): Project = {
    val byName = child.output.map(a => a.name -> a).toMap
    val aliases: Seq[NamedExpression] = out.map(o =>
      Alias(byName(o.name), o.name)(exprId = o.exprId))
    val p = Project(aliases, child)
    p.setTagValue(SubstTag, (t, snapId))
    p
  }
}

/** Plan-normalization rule (runs per QUERY EXECUTION, between analysis
  * and optimization): re-pins stale engine-read substitutions. The
  * analyzer rule above substitutes once and the resulting subtree is
  * marked analyzed, so a TEMP VIEW created from a DataFrame — or a query
  * composed over an already-analyzed frame — would keep serving the
  * snapshot pinned when it was first analyzed, never observing new
  * commits (the V1 scan-builder path re-resolved per physical planning).
  * This rule finds the tagged substitution Projects, compares their
  * pinned snapshot id against the table's CURRENT state, and rebuilds
  * the subtree on drift — same output exprIds, so everything above keeps
  * binding. A table whose new head no longer needs the engine read
  * (e.g. compaction absorbed the delete state) rebuilds as the plain
  * head read. A Dataset re-collected directly still serves its original
  * QueryExecution (Spark caches it per Dataset — inherent, and true of
  * every Spark source). */
class GraftRefreshStaleReadRule(session: SparkSession)
    extends Rule[LogicalPlan] {
  import GraftEngineReadRule.SubstTag

  override def apply(plan: LogicalPlan): LogicalPlan = {
    if (!plan.exists(_.getTagValue(SubstTag).isDefined)) return plan
    plan.transformDown {
      case p: Project if p.getTagValue(SubstTag).isDefined =>
        val (t, pinnedId) = p.getTagValue(SubstTag).get
        t.engineReadState match {
          case Some((_, snap)) if snap.id == pinnedId => p
          case Some((tbl, snap)) =>
            GraftEngineReadRule.substitution(t, tbl, snap, p.output)
          case None =>
            // head is now clean (or empty): the plain engine read of the
            // current state replaces the stale fallback subtree
            val tbl = t.lakehouse.catalog.loadTable(t.fullIdent)
            val head = tbl.currentSnapshot.filter(_.files.nonEmpty)
            GraftEngineReadRule.aliased(t,
              org.apache.spark.sql.graft.DatasetBridge.analyzed(
                tbl.readSnapshot(head)),
              p.output, head.map(_.id).getOrElse(-1L))
        }
    }
  }
}
