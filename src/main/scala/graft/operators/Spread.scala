package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, Generate, Join, LeafNode, LogicalPlan, Project, Union}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}

/** Scale-adaptive parallelism floors for CPU-bound stages (optimization
  * guide §2.5 "input skew … repartition immediately after the read",
  * §2.2/§2.4 scale-adaptive partitioning and exchange sharing).
  *
  * Two pathologies motivate this, both measured at bench scale
  * (tools/QueryProf, tools/SpreadProf — OPTIMIZATION_r21.md):
  *
  *  - every base table here is ONE parquet row group, which is
  *    unsplittable, so the scan — and everything Catalyst fuses into it
  *    (shingling, signature hashing, quality scoring) — runs as ONE task
  *    regardless of core count;
  *  - AQE's partition coalescing sizes post-shuffle partitions by BYTES,
  *    which serializes downstream stages whose cost is CPU per row/pair,
  *    not bytes (a 0.4 MB shuffle feeding a quadratic edit-distance
  *    verify coalesces to one task: q112 measured 3.5 s single-task vs
  *    0.9 s spread).
  *
  * r22 makes the floor ROW-AWARE (guide §2.2: size partitions to the
  * work, not to the core count): r21 pinned every exchange at
  * max(defaultParallelism, shuffle.partitions), and the driver's own
  * 191-query runs showed the suite FASTER at 8 cores (165 s) than at 32
  * (193 s) — pure per-task scheduling overhead on stages carrying a few
  * thousand rows. The pin count is now
  * min(sessionCap, ceil(estRows × weight / rowsPerTask)): small stages
  * get few tasks, and the estimate grows with the input so the same code
  * still pins at the session cap once the data does (any production SF).
  * Row estimates come from input STATISTICS — exact parquet footer row
  * counts at the leaves (metadata, read once per file and memoized, the
  * same information a CBO's ANALYZE would use), multiplied through
  * explodes and saturated through joins — never from executing the query.
  *
  * [[byKey]] pins the SAME exchange a downstream join/window needs anyway
  * (same key), so no new shuffle exists at any scale. One trade-off,
  * documented here deliberately: the pinned exchange is a
  * REPARTITION_BY_NUM, which AQE will neither coalesce nor skew-split, so
  * OptimizeSkewedJoin does not fire on these keyed self-joins. The df-cap
  * guards bound per-key blowup in each caller; at cluster scale a truly
  * hot key inside a pinned join must be handled by the caller (salting —
  * see the `salt` parameter of the cluster-pair joins — or bucket caps),
  * not by AQE. [[wideScan]] is the guide's input-skew fix and is a
  * conditional no-op: it only fires when the scan really is narrower than
  * its row-aware target, so at production scale (many splits) it adds
  * nothing.
  */
object Spread {

  /** Hard ceiling: the larger of the scheduler's core-derived default
    * parallelism and the configured shuffle partition count. */
  def cap(df: DataFrame): Int = {
    val sc = df.sparkSession.sparkContext
    math.max(sc.defaultParallelism,
      df.sparkSession.sessionState.conf.numShufflePartitions)
  }

  /** Baseline-row-equivalents of downstream CPU one task should carry.
    * `spark.graft.spread.rowsPerTask` <= 0 restores the r21 behavior
    * (always pin at the session cap) — kept as an A/B escape hatch. */
  private def rowsPerTask(df: DataFrame): Long =
    df.sparkSession.conf.getOption("spark.graft.spread.rowsPerTask")
      .flatMap(_.toLongOption).getOrElse(32768L)

  /** Row-aware parallelism floor. `weight` is the call site's relative
    * CPU cost per row of this frame versus a plain projection row (a
    * quadratic verify or a per-doc hash loop passes >1); the session cap
    * is never exceeded. */
  def target(df: DataFrame, weight: Long = 1L): Int = {
    val c = cap(df)
    val rpt = rowsPerTask(df)
    if (rpt <= 0L) c
    else {
      val est = estRows(df)
      if (est < 0L) c
      else math.max(1L, math.min(c.toLong, (sat(est, weight) + rpt - 1) / rpt)).toInt
    }
  }

  /** Hash-partition `df` by `keys` into the row-aware floor. Use
    * immediately before an equi-join / window clustered on exactly
    * `keys`: the downstream operator's required distribution is satisfied
    * by this exchange, so it REPLACES the one Catalyst would insert —
    * with the count pinned against byte-based coalescing. */
  def byKey(df: DataFrame, keys: Column*): DataFrame =
    df.repartition(target(df), keys: _*)

  /** [[byKey]] with a call-site CPU weight (see [[target]]). */
  def byKeyWeighted(df: DataFrame, weight: Long, keys: Column*): DataFrame =
    df.repartition(target(df, weight), keys: _*)

  /** Round-robin spread of an unsplittable/narrow scan so per-row CPU
    * work (shingling, hashing, scoring) fused above it parallelizes.
    * Fires only when (a) the frame is a narrow chain over leaf scans —
    * project/filter over files or an in-memory/checkpointed RDD — so
    * computing its partition count is free (no exchange below means no
    * AQE stage materialization), and (b) that count is below the
    * row-aware target. Anything wider is returned unchanged: a frame with
    * a join or shuffle upstream already had its parallelism decided at
    * that exchange, and probing it could trigger eager execution under
    * AQE. */
  def wideScan(df: DataFrame, weight: Long = 1L): DataFrame = {
    def narrow(p: LogicalPlan): Boolean = p match {
      case _: LeafNode => true
      case pr: Project => narrow(pr.child)
      case f: Filter => narrow(f.child)
      case _ => false
    }
    // a streaming frame cannot be probed via .rdd (and its parallelism is
    // the source's concern) — pass it through untouched
    if (df.isStreaming) df
    else if (!narrow(df.queryExecution.analyzed)) df
    else {
      val n = target(df, weight)
      if (df.rdd.getNumPartitions >= n) df else df.repartition(n)
    }
  }

  // ---------------------------------------------------------------------
  // Row estimation: input statistics only, no execution.

  private val Huge = Long.MaxValue / 8

  /** Row fan-out assumed per explode: the measured shingle/token fan-out
    * of the text operators. */
  private val ExplodeFactor = 48L

  private def sat(a: Long, b: Long): Long = {
    val r = a * b
    if (a != 0 && (r / a != b || r < 0)) Huge else math.min(r, Huge)
  }
  private def satAdd(a: Long, b: Long): Long = {
    val r = a + b
    if (r < 0) Huge else math.min(r, Huge)
  }

  /** Estimated row count of `df` (−1 = unknown → caller pins at cap).
    * Leaves use exact parquet footer row counts where available (metadata
    * read once per file, memoized by path+size), else Catalyst's
    * size-only stats divided by the schema's default row width; explodes
    * multiply by [[ExplodeFactor]]; joins and unions saturate upward.
    * Estimates only need to be order-of-magnitude right: any value below
    * cap×rowsPerTask trims idle tasks, anything above pins at the cap
    * exactly like r21. */
  private[graft] def estRows(df: DataFrame): Long = {
    if (df.isStreaming) return -1L
    val hconf = df.sparkSession.sessionState.newHadoopConf()

    def leafRows(l: LeafNode): Long = l match {
      case lr: LogicalRelation => lr.relation match {
        case fs: HadoopFsRelation => footerRows(fs, hconf)
        case _ => statsRows(l)
      }
      case _ => statsRows(l)
    }

    def statsRows(l: LeafNode): Long = {
      val st = l.stats
      st.rowCount.map(c => c.min(BigInt(Huge)).toLong).getOrElse {
        val sz = st.sizeInBytes
        if (sz <= 0 || sz >= BigInt(Huge)) Huge
        else {
          val w = math.max(12L, l.output.map(_.dataType.defaultSize.toLong).sum + 8L)
          math.max(1L, sz.toLong / w)
        }
      }
    }

    def est(p: LogicalPlan): Long = p match {
      case l: LeafNode => leafRows(l)
      case g: Generate => sat(est(g.child), ExplodeFactor)
      case j: Join => satAdd(est(j.left), est(j.right))
      case u: Union => u.children.map(est).foldLeft(0L)(satAdd)
      case other if other.children.size == 1 => est(other.children.head)
      case other => other.children.map(est).foldLeft(0L)(satAdd)
    }

    try est(df.queryExecution.analyzed)
    catch { case scala.util.control.NonFatal(_) => -1L }
  }

  /** path+length-memoized parquet footer row counts. Reading a footer is
    * a bounded metadata IO (like file listing), not result caching: the
    * count is a property of the INPUT file. Many-file relations read one
    * footer and extrapolate by bytes. */
  private val footerCache =
    new java.util.concurrent.ConcurrentHashMap[String, Long]()

  private def footerRows(fs: HadoopFsRelation,
      hconf: org.apache.hadoop.conf.Configuration): Long = {
    val files = fs.location.inputFiles
    if (files.isEmpty) return 0L
    def oneFile(path: String): Option[(Long, Long)] = { // (rows, bytes)
      try {
        val p = new org.apache.hadoop.fs.Path(path)
        val st = p.getFileSystem(hconf).getFileStatus(p)
        val key = path + "#" + st.getLen
        val rows = footerCache.computeIfAbsent(key, _ => {
          val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(st, hconf)
          val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
          try r.getRecordCount finally r.close()
        })
        Some((rows, st.getLen))
      } catch { case scala.util.control.NonFatal(_) => None }
    }
    if (files.length <= 4) {
      val counted = files.flatMap(oneFile)
      if (counted.length == files.length) counted.map(_._1).sum
      else Huge // unreadable footer (e.g. non-parquet) → assume big
    } else {
      oneFile(files.head) match {
        case Some((rows, bytes)) if bytes > 0 =>
          val total = fs.location.sizeInBytes
          math.min(Huge, (rows.toDouble * total / bytes).toLong)
        case _ => Huge
      }
    }
  }
}
