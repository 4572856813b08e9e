package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Near-duplicate detection family for training-data dedup:
  *
  *  - [[jaccardPairs]] — exact n-gram Jaccard over a shingle self-join
  *    (the oracle-checkable baseline; O(pairs sharing a shingle))
  *  - [[MinHashLSH]] — MinHash signatures + banded LSH candidate generation,
  *    then exact verification restricted to candidates (the 100 TB path:
  *    cost is O(docs × bands) shuffle instead of a shingle self-join)
  *  - [[SimHash]] — 64-bit SimHash fingerprints + banded Hamming candidates
  *
  * All hashing is `xxhash64` (codegen'd, deterministic, no RNG), so results
  * are reproducible across runs and cluster sizes.
  */
object NearDup {

  /** Per-doc distinct shingle table: (doc_id, s). */
  // String keys, not xxhash64 longs, deliberately: an interleaved A/B at
  // sf0.1 (4 alternating runs in one JVM, NOTES_r6.md) measured the
  // hashed-key pair pipeline ~50% SLOWER (median 1.58s vs 1.06s) — the
  // extra projection over the exploded rows costs more than the narrower
  // shuffle key saves at gate scale, and string keys keep the table
  // directly joinable by the DuckDB oracle with zero collision caveats.
  def shingleTable(df: DataFrame, idCol: String, textCol: String, n: Int): DataFrame =
    // the shingle expression is the heavy per-row work of every consumer
    // pipeline; over an unsplittable one-row-group scan it would run as a
    // single task (wideScan is a conditional no-op on already-wide input)
    graft.operators.Spread.wideScan(df, weight = 48L)
      .select(col(idCol).as("doc_id"),
        explode(TextAnalysis.shingles(col(textCol), n)).as("s"))

  /** Exact pairwise n-gram Jaccard ≥ threshold.
    * Result: (id_a, id_b, inter, na, nb, jaccard), id_a < id_b.
    * `maxShingleFreq` drops shingles present in more than that many docs
    * (stopword-shingle blowup guard for large corpora; 0 = keep all).
    *
    * Plan shape: doc-frequency is annotated with a `count over
    * Window.partitionBy(s)` — ONE shuffle by `s`, already the pair join's
    * key, so the windowed subtree feeds both self-join sides with no
    * further exchange (and its sort-by-`s` is exactly the sort the
    * sort-merge self-join needs). The window also powers a singleton
    * prune: a shingle in exactly one doc can never satisfy the pair join,
    * and in a large corpus most shingles are singletons, so the join
    * input shrinks by the singleton mass. No driver collect, no persist. */
  def jaccardPairs(df: DataFrame, idCol: String, textCol: String, n: Int = 3,
      threshold: Double = 0.8, maxShingleFreq: Int = 0): DataFrame =
    jaccardPairsFromShingles(shingleTable(df, idCol, textCol, n),
      threshold, maxShingleFreq)

  /** [[jaccardPairs]] over a pre-built `(doc_id, s)` shingle table — the
    * reuse seam for incremental admission: a growing corpus materializes
    * its kept-side shingles once and unions each batch's, instead of
    * re-shingling the whole corpus per batch
    * ([[Curation.admitIncrementalFromShingles]]). */
  def jaccardPairsFromShingles(shingleDf: DataFrame,
      threshold: Double = 0.8, maxShingleFreq: Int = 0): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // pin the by-shingle exchange (shared by the window AND both pair-join
    // sides) so AQE's byte-based coalescing can't serialize the CPU-bound
    // candidate join downstream (guide §2.4/§2.5; OPTIMIZATION_r21.md)
    val sh0 = graft.operators.Spread.byKey(shingleDf, col("s"))
      .withColumn("df", count(lit(1)).over(Window.partitionBy("s")))
    val sh = if (maxShingleFreq <= 0) sh0
      else sh0.where(col("df") <= maxShingleFreq)
    val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val spine = sh.where(col("df") >= 2).select("doc_id", "s")
    val pairs = spine.alias("a")
      .join(spine.alias("b"),
        col("a.s") === col("b.s") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      .agg(count(lit(1)).as("inter"))
    pairs
      .join(sizes.withColumnRenamed("doc_id", "id_a").withColumnRenamed("n", "na"), "id_a")
      .join(sizes.withColumnRenamed("doc_id", "id_b").withColumnRenamed("n", "nb"), "id_b")
      .withColumn("jaccard",
        col("inter").cast("double") / (col("na") + col("nb") - col("inter")))
      .where(col("jaccard") >= threshold)
      .select("id_a", "id_b", "inter", "na", "nb", "jaccard")
  }

  /** Exact Jaccard verification of a candidate pair set: the shared
    * final stage of every blocking method (LSH bands, prefix filter,
    * sorted neighborhood). Shingle ARRAYS are recomputed for candidate
    * docs only (semi-join first), the intersection is a per-row
    * `array_intersect` — no corpus-wide exploded join, only candidate
    * pairs pay. Result: (id_a, id_b, inter, na, nb, jaccard) filtered to
    * jaccard >= threshold; id_a/id_b keep the orientation of `cands`. */
  def verifyPairs(df: DataFrame, idCol: String, textCol: String, n: Int,
      cands: DataFrame, threshold: Double): DataFrame = {
    val candIds = cands
      .select(explode(array(col("id_a"), col("id_b"))).as("doc_id"))
      .distinct()
    // pinned exchanges throughout the verify stage: shingle recompute and
    // the per-pair array_intersect are CPU-bound, and every pinned key is
    // one the next join clusters on anyway — arrs lands partitioned by
    // doc_id, so after the rename each pair join sees both sides
    // co-partitioned (no extra exchange at any scale)
    val arrs = graft.operators.Spread.byKey(
        df.select(col(idCol).as("doc_id"), col(textCol).as("__text"))
          .join(candIds, "doc_id"), col("doc_id"))
      .select(col("doc_id"),
        TextAnalysis.shingles(col("__text"), n).as("sh"))
      .withColumn("nn", size(col("sh")).cast("long"))
    val withA = graft.operators.Spread.byKey(cands, col("id_a"))
      .join(arrs.select(col("doc_id").as("id_a"), col("sh").as("sa"),
        col("nn").as("na")), "id_a")
    graft.operators.Spread.byKey(withA, col("id_b"))
      .join(arrs.select(col("doc_id").as("id_b"), col("sh").as("sb"),
        col("nn").as("nb")), "id_b")
      .withColumn("inter",
        size(array_intersect(col("sa"), col("sb"))).cast("long"))
      .withColumn("jaccard",
        col("inter").cast("double") / (col("na") + col("nb") - col("inter")))
      .where(col("jaccard") >= threshold)
      .select("id_a", "id_b", "inter", "na", "nb", "jaccard")
  }

  /** Cross-corpus contamination pairs — the decontamination primitive of a
    * training pipeline: which documents of corpus B (e.g. an eval/test set)
    * share ≥ threshold n-gram Jaccard with any document of corpus A (the
    * training set). Result: (id_a, id_b, inter, na, nb, jaccard), id_a from
    * A, id_b from B.
    *
    * Same plan discipline as [[jaccardPairs]], bipartite: both corpora's
    * shingles union into ONE frame, doc frequency is a window count on the
    * shingle (the join key — shuffle shared with the join), the cap bounds
    * hot-shingle blowup, and only shingles present on BOTH sides can pair
    * (the A/B side-presence prune replaces the singleton prune). */
  def crossJaccardPairs(dfA: DataFrame, dfB: DataFrame, idCol: String,
      textCol: String, n: Int = 3, threshold: Double = 0.8,
      maxShingleFreq: Int = 0): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val sh = shingleTable(dfA, idCol, textCol, n).withColumn("side", lit("a"))
      .unionByName(
        shingleTable(dfB, idCol, textCol, n).withColumn("side", lit("b")))
    val w = Window.partitionBy("s")
    // same pinned by-shingle exchange as jaccardPairsFromShingles: the
    // window and the bipartite pair join share it
    val ann = graft.operators.Spread.byKey(sh, col("s"))
      .withColumn("df", count(lit(1)).over(w))
      .withColumn("sides", size(collect_set(col("side")).over(w)))
    val kept = if (maxShingleFreq <= 0) ann
      else ann.where(col("df") <= maxShingleFreq)
    val sizes = kept.groupBy("side", "doc_id").agg(count(lit(1)).as("n"))
    val spine = kept.where(col("sides") === 2)
    val pairs = spine.where(col("side") === "a").alias("a")
      .join(spine.where(col("side") === "b").alias("b"),
        col("a.s") === col("b.s"))
      .groupBy(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      .agg(count(lit(1)).as("inter"))
    pairs
      .join(sizes.where(col("side") === "a")
        .select(col("doc_id").as("id_a"), col("n").as("na")), "id_a")
      .join(sizes.where(col("side") === "b")
        .select(col("doc_id").as("id_b"), col("n").as("nb")), "id_b")
      .withColumn("jaccard",
        col("inter").cast("double") / (col("na") + col("nb") - col("inter")))
      .where(col("jaccard") >= threshold)
      .select("id_a", "id_b", "inter", "na", "nb", "jaccard")
  }

  /** Winnowing-fingerprint near-dup pairs: docs sharing ≥ minShared rolling-
    * hash fingerprints. Like MinHash this is a candidate join on exploded
    * fingerprints (shuffle O(docs × fingerprints), no cross join), but with
    * the winnowing guarantee that any shared run of ≥ w+k-1 chars produces a
    * shared fingerprint. Result: (id_a, id_b, shared). */
  def winnowPairs(df: DataFrame, idCol: String, textCol: String,
      k: Int = 5, w: Int = 4, minShared: Int = 5,
      maxDocFreq: Int = 50): DataFrame =
    winnowPairsFromTable(
      winnowFingerprintTable(df, idCol, textCol, k, w, maxDocFreq),
      minShared)

  /** Per-doc winnowing fingerprint table (doc_id, h), doc-frequency-capped.
    * Stop-gram suppression: fingerprints present in more than maxDocFreq
    * docs carry no dedup signal but make the candidate join quadratic on
    * their hash (same guard as jaccardPairs' maxShingleFreq). The cap is a
    * windowed doc-frequency count — one distributed shuffle by `h`, no
    * driver collect. */
  def winnowFingerprintTable(df: DataFrame, idCol: String, textCol: String,
      k: Int = 5, w: Int = 4, maxDocFreq: Int = 50): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // winnow is the heavy per-doc expression here; spread the narrow scan
    // under it and pin the by-hash exchange the frequency window needs
    val fp0 = graft.operators.Spread.wideScan(df, weight = 48L)
      .select(col(idCol).as("doc_id"),
        explode(TextExpressions.winnow(col(textCol), k, w)).as("h"))
    if (maxDocFreq <= 0) fp0
    else graft.operators.Spread.byKey(fp0, col("h"))
      .withColumn("df", count(lit(1)).over(Window.partitionBy("h")))
      .where(col("df") <= maxDocFreq).select("doc_id", "h")
  }

  /** Candidate pair stage over a fingerprint table: docs sharing ≥
    * minShared fingerprints. Result: (id_a, id_b, shared), id_a < id_b.
    * Fingerprints held by a single doc cannot satisfy the join, and in a
    * large corpus most fingerprints are singletons — a windowed frequency
    * prune on the join key (shuffle shared with the join) removes them. */
  def winnowPairsFromTable(fp: DataFrame, minShared: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // pinned by-hash exchange: shared by the frequency window and both
    // candidate-join sides (q33 reads fp back from parquet, so the scan
    // is narrow and the join would otherwise coalesce to one task)
    val spine = graft.operators.Spread.byKey(fp, col("h"))
      .withColumn("hdf", count(lit(1)).over(Window.partitionBy("h")))
      .where(col("hdf") >= 2).select("doc_id", "h")
    spine.alias("a")
      .join(spine.alias("b"),
        col("a.h") === col("b.h") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      .agg(count(lit(1)).as("shared"))
      .where(col("shared") >= minShared)
  }

  /** Connected components over a near-dup pair graph — the transitive-
    * closure step of corpus dedup (A~B and B~C put A,B,C in ONE group
    * even when A is not directly similar to C). Component id = the
    * minimum doc id in the component, so grouping is deterministic and
    * "keep the lowest id" falls out for free.
    *
    * Algorithm: iterative min-label propagation (each round every node
    * takes the min of its own label and its neighbors'), the standard
    * distributed CC shape — each round is one join + groupBy shuffle on
    * node id; rounds needed = graph diameter (near-dup components are
    * shallow). Labels are checkpointed per round so the plan does not
    * grow with iterations — executor-local by default, reliable when a
    * checkpoint dir is configured (survives executor loss mid-fixpoint) —
    * and each superseded round's storage is released as soon as its
    * successor materializes (blocks unpersisted, reliable files deleted),
    * so a deep fixpoint is storage-stable. The driver holds only a
    * changed-count per round (the same fixpoint test every iterative
    * graph algorithm runs).
    *
    * Result: (doc_id, component) for every doc appearing in `pairs`. */
  def duplicateComponents(pairs: DataFrame, maxIter: Int = 20): DataFrame = {
    // both edge directions in ONE pass over `pairs`: the old self-union
    // put the (often expensive) pair pipeline into the plan twice, and
    // exchange reuse does not dedup the post-shuffle stages — measured as
    // ~2× the verify/groupBy CPU on the component gates (QueryProf, r21)
    val edges = ckpt(pairs.select(explode(array(
        struct(col("id_a").as("src"), col("id_b").as("dst")),
        struct(col("id_b").as("src"), col("id_a").as("dst")))).as("__e"))
      .select(col("__e.src").as("src"), col("__e.dst").as("dst")))
    // init fuses the first propagation round: label0 = min(id, neighbors).
    // Min-label propagation converges to the component min from any
    // per-node upper bound, and starting one hop ahead saves a full
    // join+checkpoint round on shallow near-dup graphs.
    var labels = ckpt(edges.groupBy(col("src").as("id"))
      .agg(min(col("dst")).as("__nmin"))
      .select(col("id"), least(col("id"), col("__nmin")).as("label")))
    var it = 0
    var converged = false
    while (it < maxIter && !converged) {
      val neighborMin = edges
        .join(labels.withColumnRenamed("id", "dst"), "dst")
        .groupBy(col("src").as("id")).agg(min("label").as("nlabel"))
      val propagated = labels.join(neighborMin, Seq("id"), "left")
        .select(col("id"),
          least(col("label"), coalesce(col("nlabel"), col("label"))).as("label"),
          col("label").as("__old"))
      // pointer-jumping: label <- label's own label, shortcutting chains so
      // a path of length d converges in O(log d) rounds, not O(d). TWO
      // jumps per round (label of label of label): each round composes to
      // ~4× reach, halving the round count on deep chains — a capped
      // mega-bucket degrades to a doc_id CHAIN (see MinHashLSH
      // candidatePairs), and each ROUND costs a checkpoint + convergence
      // action. Measured on a 60-doc chain (the q185 planted shape,
      // OPTIMIZATION_r21.md): converges at maxIter=3 with two jumps vs 6 with
      // one. `propagated` and `j1` are LAZILY local-checkpointed before
      // their self-joins (r22, ADVICE): exchange reuse dedups shuffle
      // WRITES, not post-shuffle join stages, so without the checkpoints
      // the propagated subtree (labels ⋈ neighborMin, itself a join over
      // edges) planned and EXECUTED up to 4× inside each round's job —
      // as a LogicalRDD both plan references resolve to ONE RDD, which
      // the scheduler computes once. Lazy, so each round stays a single
      // materialization job; released as soon as the round's eager
      // checkpoint supersedes them.
      val propagated1 = lazyCkpt(propagated)
      val j1 = lazyCkpt(propagated1.alias("p")
        .join(propagated1.select(col("id").as("label"),
          col("label").as("__ll")).alias("j"), Seq("label"), "left")
        .select(col("id"),
          least(col("label"), coalesce(col("__ll"), col("label"))).as("label"),
          col("__old")))
      val jumped = ckpt(j1.alias("p2")
        .join(j1.select(col("id").as("label"),
          col("label").as("__l2")).alias("j2"), Seq("label"), "left")
        .select(col("id"),
          least(col("label"), coalesce(col("__l2"), col("label"))).as("label"),
          (col("__old") =!= least(col("label"),
            coalesce(col("__l2"), col("label")))).as("__changed")))
      // the changed flag rides through the checkpoint: convergence is a
      // scan of materialized rows, not a recomputed join
      converged = jumped.where(col("__changed")).isEmpty
      // the superseded round's checkpoint blocks would otherwise pile up in
      // executor storage for the rest of the fixpoint (10+ rounds on a
      // deep graph), so release each frame once its successor materializes
      releaseCheckpoint(j1)
      releaseCheckpoint(propagated1)
      releaseCheckpoint(labels)
      labels = jumped.select("id", "label")
      it += 1
    }
    releaseCheckpoint(edges) // final labels are materialized; edges are dead
    labels.select(col("id").as("doc_id"), col("label").as("component"))
  }

  /** RDD ids of checkpoints created by [[ckpt]]. Release paths consult this
    * so they only ever drop storage THIS module created — a caller-owned
    * checkpointed / RDD-backed input that happens to sit in the same plan
    * (e.g. a pre-checkpointed corpus passed into the funnel) is never
    * unpersisted out from under the caller. Entries are ints; they are
    * removed on release, so the set is bounded by live graft checkpoints. */
  private val ownCkptIds = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()

  /** Checkpoint for the CC fixpoint (also used by [[Curation.funnel]] for
    * its expensive filter stage): reliable (driver-set checkpoint dir)
    * when one is configured — executor-local checkpoint blocks are
    * non-replicated, so at cluster scale a lost executor would kill the job
    * mid-fixpoint — executor-local otherwise (fast, zero config).
    * The created RDD is recorded in [[ownCkptIds]] so release paths can
    * distinguish it from caller-owned plan leaves. */
  private[text] def ckpt(df: DataFrame): DataFrame = {
    val out =
      if (df.sparkSession.sparkContext.getCheckpointDir.isDefined) df.checkpoint()
      else df.localCheckpoint()
    out.queryExecution.analyzed.foreach {
      case lr: org.apache.spark.sql.execution.LogicalRDD => ownCkptIds.add(lr.rdd.id)
      case _ => ()
    }
    out
  }

  /** LAZY executor-local checkpoint for WITHIN-round CC intermediates: the
    * frame is consumed more than once inside one materialization job, so a
    * LogicalRDD (one RDD, computed once per job) replaces re-executing the
    * subtree per plan reference — without adding a materialization job of
    * its own. Always executor-local (these live for one round and are
    * released right after it). `localCheckpoint` truncates lineage, so
    * losing an executor that holds one of these blocks FAILS the job; it
    * is not recomputed. Registered in [[ownCkptIds]] for release. */
  private def lazyCkpt(df: DataFrame): DataFrame = {
    val out = df.localCheckpoint(eager = false)
    out.queryExecution.analyzed.foreach {
      case lr: org.apache.spark.sql.execution.LogicalRDD => ownCkptIds.add(lr.rdd.id)
      case _ => ()
    }
    out
  }

  /** Release every checkpoint CREATED BY THIS MODULE that a result frame
    * still references — for callers that have fully materialized a
    * checkpointed result (e.g. the curate/admit verbs after writing their
    * output table) and would otherwise accumulate one checkpoint per call
    * for the life of the process (serve/MCP). Caller-owned checkpointed
    * inputs in the same plan are left untouched (ownership is tracked per
    * RDD id, not inferred from plan shape). The frame must not be
    * evaluated again afterwards. */
  def releaseResultCheckpoints(df: DataFrame): Unit = releaseCheckpoint(df)

  /** Drop a superseded checkpoint's storage: unpersist each LogicalRDD in
    * the frame's plan that [[ckpt]] created (a checkpointed frame —
    * possibly under a projection — holds exactly its persisted RDD there).
    * Reliable checkpoints live in FILES, not block storage, and Spark never
    * deletes them on unpersist — so the checkpoint directory is removed
    * too, or a 10-round fixpoint would leave O(rounds × data) dead
    * snapshots on the checkpoint store. */
  private def releaseCheckpoint(df: DataFrame): Unit =
    df.queryExecution.analyzed.foreach {
      case lr: org.apache.spark.sql.execution.LogicalRDD
          if ownCkptIds.remove(lr.rdd.id) =>
        lr.rdd.unpersist(blocking = false)
        lr.rdd.getCheckpointFile.foreach { f =>
          val p = new org.apache.hadoop.fs.Path(f)
          p.getFileSystem(df.sparkSession.sparkContext.hadoopConfiguration)
            .delete(p, true)
        }
      case _ => ()
    }

  /** Exact-duplicate groups by normalized-content fingerprint: one row per
    * fingerprint with >1 doc, keeping the lowest doc id (keep-"first" with a
    * deterministic order, unlike the reference's arbitrary ROW_NUMBER —
    * reference dedup.py:147-160). */
  def exactDupGroups(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol).as("doc_id"), TextAnalysis.fingerprint(col(textCol)).as("fp"))
      .groupBy("fp")
      .agg(count(lit(1)).as("cnt"), min("doc_id").as("keep_id"))
      .where(col("cnt") > 1)
}

object MinHashLSH {

  /** MinHash signature per doc: sig[i] = min over shingles of
    * xxhash64(shingle, seed=i). One custom-expression pass per document —
    * no shingle explode, no k-wide aggregation (narrow map, no shuffle).
    * Returns (doc_id, sig: array<long>). */
  def signatures(df: DataFrame, idCol: String, textCol: String, n: Int,
      numHashes: Int): DataFrame =
    // numHashes × shingles hash evaluations per doc — the pipeline's heavy
    // map work; spread the unsplittable scan so it parallelizes (no-op on
    // already-wide input)
    graft.operators.Spread.wideScan(df, weight = 256L)
      .select(col(idCol).as("doc_id"),
        TextExpressions.minhashSignature(
          TextAnalysis.shingles(col(textCol), n), numHashes).as("sig"))

  /** LSH candidate pairs: docs sharing any band hash. Bands of `rowsPerBand`
    * signature slots are hashed; a shared (band, hash) bucket → candidate.
    * Shuffle cost O(docs × bands), never a full cross join.
    *
    * `maxBucketSize` (0 = off) bounds degenerate buckets before the
    * self-join — a bucket of B docs costs B²/2 candidate rows, so one
    * pathological bucket (boilerplate, identical spam) can dominate the
    * stage at corpus scale. Oversized buckets are NOT dropped: they
    * degrade to a doc_id-ordered consecutive CHAIN (B−1 candidates,
    * O(B) not O(B²)). Full-cluster recovery via the spanning chain +
    * [[NearDup.duplicateComponents]] is guaranteed only when the
    * oversized bucket is HOMOGENEOUS (a single near-dup cluster): then
    * every link verifies and the chain spans it. A MIXED bucket (two
    * clusters, or collided unrelated docs, interleaved by doc_id) breaks
    * the chain where consecutive links cross clusters — sub-clusters can
    * lose connectivity entirely, not just individual pairs. Still
    * strictly better than dropping the bucket (pure collisions fail
    * verify and cost nothing), but recall within oversized buckets is
    * capped at chain connectivity, so gate queries whose oracle demands
    * exact pair recall leave the guard off. */
  def candidatePairs(sig: DataFrame, numHashes: Int, bands: Int,
      maxBucketSize: Int = 0): DataFrame = {
    require(numHashes % bands == 0, "numHashes must divide evenly into bands")
    val r = numHashes / bands
    val bandCols = (0 until bands).map { b =>
      struct(lit(b).as("band"),
        xxhash64(concat_ws(",",
          (0 until r).map(j => element_at(col("sig"), b * r + j + 1).cast("string")): _*))
          .as("bh"))
    }
    val buckets0 = sig.select(col("doc_id"), explode(array(bandCols: _*)).as("bb"))
      .select(col("doc_id"), col("bb.band").as("band"), col("bb.bh").as("bh"))
    val allPairs =
      if (maxBucketSize <= 0) selfJoinPairs(buckets0)
      else {
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy("band", "bh")
        // ONE materialization of the sized bucket table: it feeds three
        // consumers (both sides of the small-bucket self-join + the chain
        // branch), whose differing filters/sorts defeat exchange reuse —
        // without the checkpoint each consumer re-runs the whole
        // signature pipeline, and the GUARD cost 24.7× for 10× docs at
        // 500k docs (5.7× the uncapped self-join it exists to bound;
        // measured, SCALING.md round-18 table). With it: one signature
        // pass + one window sort, the shape the guard promises.
        // the pinned bucket-key exchange feeds the sizing window, and the
        // checkpoint then holds that partition count for all 3 consumers
        val sized = graft.operators.Spread
          .byKey(buckets0, col("band"), col("bh"))
          .withColumn("bsz", count(lit(1)).over(w))
          .localCheckpoint(eager = false)
        val small = selfJoinPairs(
          sized.where(col("bsz") <= maxBucketSize).select("doc_id", "band", "bh"))
        val chained = sized.where(col("bsz") > maxBucketSize)
          .withColumn("nxt", lead("doc_id", 1).over(w.orderBy("doc_id")))
          .where(col("nxt").isNotNull)
          .select(col("doc_id").as("id_a"), col("nxt").as("id_b"))
        small.unionByName(chained)
      }
    allPairs.distinct()
  }

  /** All ordered pairs of docs sharing a (band, bh) bucket. The bucket-key
    * exchange is pinned (both self-join sides share it via reuse) so the
    * candidate generation never collapses to one task under byte-based
    * coalescing. */
  private def selfJoinPairs(buckets: DataFrame): DataFrame = {
    val keyed = graft.operators.Spread.byKey(buckets, col("band"), col("bh"))
    keyed.alias("x")
      .join(keyed.alias("y"),
        col("x.band") === col("y.band") && col("x.bh") === col("y.bh") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("id_a"), col("y.doc_id").as("id_b"))
  }

  /** Full pipeline: shingle → minhash → LSH candidates → exact Jaccard
    * verification restricted to candidates. Result matches
    * [[NearDup.jaccardPairs]] up to LSH recall.
    *
    * Verification shape: the candidate pair set is localCheckpoint'ed once
    * (it is the SMALL output of the LSH stage — re-evaluating it per
    * consumer would re-run the whole signature+bucket pipeline three
    * times), then the corpus is semi-joined down to docs that appear in
    * some candidate pair BEFORE the shingle arrays are computed — so the
    * expensive per-doc shingle expression runs once for the signatures
    * pass and then only for candidate docs, not three full corpus passes.
    * The exact intersection is a per-row `array_intersect` — no shingle
    * explode, no (doc_id, shingle)-keyed shuffle; only candidate pairs pay
    * anything. */
  def nearDuplicates(df: DataFrame, idCol: String, textCol: String,
      n: Int = 3, numHashes: Int = 128, bands: Int = 32,
      threshold: Double = 0.8, maxBucketSize: Int = 0): DataFrame = {
    // lazy checkpoint: materializes on FIRST consumption (keeping the
    // operator a lazy transformation), after which all three consumers
    // (candIds + both verification joins) share one LSH evaluation.
    // maxBucketSize threads to [[candidatePairs]]'s degenerate-bucket
    // guard (oversized buckets chain instead of self-joining — O(B) not
    // O(B²); recall within an oversized bucket is chain connectivity, so
    // CLUSTER-level results survive homogeneous mega-buckets while exact
    // pair recall does not — see candidatePairs).
    val cands = candidatePairs(signatures(df, idCol, textCol, n, numHashes),
      numHashes, bands, maxBucketSize)
      .localCheckpoint(eager = false)
    val candIds = cands
      .select(explode(array(col("id_a"), col("id_b"))).as("doc_id"))
      .distinct()
    // pinned-exchange verify, same shape as [[NearDup.verifyPairs]]: the
    // by-doc_id pin on `sh` makes both pair joins co-partitioned after the
    // rename, and the pins on the cands side keep the CPU-bound
    // array_intersect stage at full width
    val sh = graft.operators.Spread.byKey(
        df.select(col(idCol).as("doc_id"), col(textCol).as("__text"))
          .join(candIds, "doc_id"), col("doc_id"))
      .select(col("doc_id"),
        TextAnalysis.shingles(col("__text"), n).as("shingles"))
      .withColumn("n", size(col("shingles")))
    val withA = graft.operators.Spread.byKey(cands, col("id_a"))
      .join(sh.select(col("doc_id").as("id_a"), col("shingles").as("sa"),
        col("n").as("na")), "id_a")
    graft.operators.Spread.byKey(withA, col("id_b"))
      .join(sh.select(col("doc_id").as("id_b"), col("shingles").as("sb"),
        col("n").as("nb")), "id_b")
      .withColumn("inter", size(array_intersect(col("sa"), col("sb"))))
      .withColumn("jaccard",
        col("inter").cast("double") / (col("na") + col("nb") - col("inter")))
      .where(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")
  }
}

object SimHash {

  /** 64-bit SimHash per doc from token hashes: bit i of the fingerprint is
    * set iff the sum over token occurrences of ±1 (sign of bit i of
    * xxhash64(token)) is positive. One compiled expression pass — a narrow
    * map with no shuffle (the HOF/explode formulation needed a 64-wide
    * aggregation). Returns (doc_id, simhash: long). */
  def fingerprints(df: DataFrame, idCol: String, textCol: String): DataFrame =
    // one heavy compiled-expression pass per doc — spread the unsplittable
    // scan (conditional no-op on wide input)
    graft.operators.Spread.wideScan(df, weight = 48L)
      .select(col(idCol).as("doc_id"),
        TextExpressions.simhash(col(textCol)).as("simhash"))

  /** Pairs with Hamming distance ≤ maxDist, found via 16-bit band buckets
    * (any pair within distance 3 must share at least one of 4 bands).
    * `maxBucketSize` (0 = off): same degenerate-bucket guard as
    * [[MinHashLSH.candidatePairs]], with the same recall caveat. */
  def hammingPairs(fp: DataFrame, maxDist: Int = 3,
      maxBucketSize: Int = 0): DataFrame = {
    val chunks = (0 until 4).map { j =>
      struct(lit(j).as("band"),
        shiftrightunsigned(col("simhash"), j * 16).bitwiseAND(0xFFFF).as("chunk"))
    }
    val buckets0 = fp.select(col("doc_id"), col("simhash"),
      explode(array(chunks: _*)).as("bb"))
      .select(col("doc_id"), col("simhash"), col("bb.band").as("band"), col("bb.chunk").as("chunk"))
    val buckets =
      if (maxBucketSize <= 0) buckets0
      else {
        import org.apache.spark.sql.expressions.Window
        // checkpoint like candidatePairs' guard: the filtered bucket
        // table feeds both sides of the self-join, and re-running the
        // fingerprint pipeline + window per side costs more than the
        // blowup the cap guards against
        buckets0.withColumn("bsz",
          count(lit(1)).over(Window.partitionBy("band", "chunk")))
          .where(col("bsz") <= maxBucketSize)
          .select("doc_id", "simhash", "band", "chunk")
          .localCheckpoint(eager = false)
      }
    // NOT pinned: the hamming verify is one bit_count per pair —
    // byte-proportional, so AQE's coalescing is right here (a pin A/B'd
    // ~+0.4 s at gate scale, OPTIMIZATION_r21.md)
    buckets.alias("x")
      .join(buckets.alias("y"),
        col("x.band") === col("y.band") && col("x.chunk") === col("y.chunk") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("id_a"), col("y.doc_id").as("id_b"),
        bit_count(col("x.simhash").bitwiseXOR(col("y.simhash"))).as("hamming"))
      .distinct()
      .where(col("hamming") <= maxDist)
  }
}
