package org.apache.spark.sql.graft

import org.apache.hadoop.fs.Path

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.{FileStatusCache, HadoopFsRelation, InMemoryFileIndex, LogicalRelation, PartitionDirectory, PartitionSpec}
import org.apache.spark.sql.types.StructType

/** File index over ONE IceLite snapshot's data files with MANIFEST-LEVEL
  * file skipping wired into `listFiles`: Spark's file scan hands the
  * pushed data filters here before planning input partitions, so a
  * selective predicate against a 100 TB table tasks only the files whose
  * column bounds / partition dirs / bloom pages can match — the same
  * three pruning layers as `IceTable.prunedRead`. Every engine read
  * (`IceTable` assembles its scans over this index) and therefore every
  * engine SQL query skips files here and only here: each scan prunes by
  * its OWN pushed filters, so a self-join or a same-table subquery can
  * never narrow another occurrence's scan. Pruning is conservative
  * (three-valued); parquet row-group pushdown still applies inside every
  * kept file, so results are exact.
  *
  * Lives in the `org.apache.spark.sql` namespace because
  * `InMemoryFileIndex`'s Scala signature is `private[sql]` — the standard
  * bridge pattern this repo already uses for ColumnBridge. */
class GraftFileIndex(
    spark: SparkSession,
    files: Seq[Path],
    schema: StructType,
    // path -> keep? given the pruned set; evaluated per listFiles call
    prune: Seq[ColumnBridge.PredLeaf] => Set[String])
  extends InMemoryFileIndex(spark, files, Map.empty[String, String],
    Some(schema), FileStatusCache.getOrCreate(spark),
    Some(PartitionSpec.emptySpec), None) {

  /** Strip scheme + authority slashes — FileStatus renders `file:/p`,
    * manifests store plain `/p`. */
  private def canon(p: String): String =
    p.replaceFirst("^[a-zA-Z][a-zA-Z0-9+.-]*:/*", "/")

  override def listFiles(partitionFilters: Seq[Expression],
      dataFilters: Seq[Expression]): Seq[PartitionDirectory] = {
    val base = super.listFiles(partitionFilters, dataFilters)
    if (dataFilters.isEmpty) return base
    val leaves = dataFilters.flatMap(ColumnBridge.catalystConjuncts)
    if (leaves.isEmpty) return base
    // canon BOTH sides: the callback returns manifest renderings, the
    // statuses carry filesystem renderings — a mismatch here would be a
    // FALSE NEGATIVE (file wrongly dropped), the one unacceptable error
    val keep = prune(leaves).map(canon)
    base.map(pd => pd.copy(files =
        pd.files.filter(f => keep(canon(f.getPath.toString)))))
      .filter(_.files.nonEmpty)
  }
}

object GraftFileIndex {

  private object Plans extends AdaptiveSparkPlanHelper

  /** One file scan over a [[GraftFileIndex]]: whether Catalyst pushed data
    * filters to it, and the files its `listFiles` kept. */
  case class Listing(index: GraftFileIndex, filtered: Boolean, kept: Set[String])

  /** The indexes a frame's analyzed plan scans. */
  def of(df: DataFrame): Seq[GraftFileIndex] =
    DatasetBridge.analyzed(df).collect {
      case lr: LogicalRelation => lr.relation
    }.collect { case fs: HadoopFsRelation => fs.location }
      .collect { case g: GraftFileIndex => g }

  /** The listing of every file scan over a [[GraftFileIndex]] in the
    * frame's executed plan, subqueries and adaptive stages included.
    * Plans the frame if it is not planned yet. A scan lists once and
    * keeps the result, so collecting the frame afterwards reuses both the
    * plan and these listings. */
  def listings(df: DataFrame): Seq[Listing] = {
    val plan = df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]
      .queryExecution.executedPlan
    Plans.collectWithSubqueries(plan) {
      case s: FileSourceScanExec if s.relation.location.isInstanceOf[GraftFileIndex] =>
        Listing(s.relation.location.asInstanceOf[GraftFileIndex],
          s.dataFilters.nonEmpty,
          s.selectedPartitions.filePartitionIterator
            .flatMap(_.files.map(_.getPath.toString)).toSet)
    }
  }
}
