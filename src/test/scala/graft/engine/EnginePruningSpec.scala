package graft.engine

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.GraftFileIndex
import graft.SparkFixture

/** The SQL entry path's file skipping + per-query lazy view registration
  * (QueryEngine.execute): a `WHERE` range arriving through query/CLI/MCP
  * must open only the files whose manifest stats can match — and must
  * never change results, including the adversarial shapes (self-joins with
  * divergent predicates, scalar subqueries over the same table, MoR
  * deletes). */
class EnginePruningSpec extends AnyFunSuite {
  lazy val spark = SparkFixture.spark
  import spark.implicits._

  private def newLh() =
    graft.Lakehouse.open(spark, SparkFixture.tmpDir("graft-eps-").toString)

  /** Files each data scan of a COLLECTED frame read, from the executed
    * plan's `numFiles` metric (subqueries and AQE stages included) — what
    * `GraftFileIndex.listFiles` kept. `Dataset.inputFiles` would list the
    * index's full file set instead. */
  private def filesPerScan(df: DataFrame): Seq[Long] = {
    object Plans extends AdaptiveSparkPlanHelper
    Plans.collectWithSubqueries(df.queryExecution.executedPlan) {
      case f: FileSourceScanExec if f.relation.location.isInstanceOf[GraftFileIndex] =>
        f.metrics("numFiles").value
    }
  }

  /** Four single-file commits with disjoint id ranges, so bounds-based
    * skipping has something to skip. */
  private def buildRanged(lh: graft.Lakehouse, ident: String): graft.core.IceTable = {
    val df = (0 until 400).map(i => (i.toLong, s"n$i", (i % 7).toLong))
      .toDF("id", "name", "grp")
    lh.catalog.createTable(ident, df.schema, Nil, Map.empty)
    val t = lh.catalog.loadTable(ident)
    (0 until 4).foreach { b =>
      t.append(df.where(col("id") >= b * 100 && col("id") < (b + 1) * 100)
        .coalesce(1))
    }
    t
  }

  test("range query through execute() skips files and matches the " +
      "unpruned result exactly") {
    val lh = newLh()
    val t = buildRanged(lh, "default.evt")
    val sql = "SELECT id, name FROM evt WHERE id >= 250 ORDER BY id"
    val res = lh.engine.execute(sql, maxRows = 0)
    val got = res.collect().toSeq
    // file skipping engaged: 2 of 4 files (ranges 200-299, 300-399)
    assert(lh.engine.lastScanStats.get("default.evt").contains((2, 4)),
      s"scan stats: ${lh.engine.lastScanStats}")
    // and the PLAN actually reads only those files — the prune reached the
    // scan, it is not just bookkeeping
    assert(filesPerScan(res) == Seq(2L), filesPerScan(res))
    val want = t.read().where(col("id") >= 250).orderBy("id")
      .select("id", "name").collect().toSeq
    assert(got == want)
    // the view was never narrowed: a follow-up full query sees all rows
    assert(lh.engine.execute("SELECT COUNT(*) AS n FROM evt", 0)
      .collect()(0).getLong(0) == 400)
  }

  test("equality + range conjuncts both prune; unprunable conjuncts ride " +
      "along unharmed") {
    val lh = newLh()
    buildRanged(lh, "default.evt2")
    val sql = "SELECT COUNT(*) AS n FROM evt2 " +
      "WHERE id >= 100 AND id < 200 AND length(name) > 1"
    val n = lh.engine.execute(sql, 0).collect()(0).getLong(0)
    assert(n == 100)
    assert(lh.engine.lastScanStats.get("default.evt2").contains((1, 4)))
  }

  test("SQL IN-lists prune: small lists stay In, big lists become the " +
      "optimizer's InSet — both reach the conjuncts") {
    val lh = newLh()
    buildRanged(lh, "default.evtin")
    // 3 elements: survives optimization as In
    val n1 = lh.engine.execute(
      "SELECT COUNT(*) AS n FROM evtin WHERE id IN (5, 7, 350)", 0)
      .collect()(0).getLong(0)
    assert(n1 == 3)
    assert(lh.engine.lastScanStats.get("default.evtin").contains((2, 4)),
      s"In prune: ${lh.engine.lastScanStats}")
    // 12 elements, all in one file's range: the optimizer converts to
    // InSet above spark.sql.optimizer.inSetConversionThreshold (10)
    val big = (210 to 221).mkString(", ")
    val n2 = lh.engine.execute(
      s"SELECT COUNT(*) AS n FROM evtin WHERE id IN ($big)", 0)
      .collect()(0).getLong(0)
    assert(n2 == 12)
    assert(lh.engine.lastScanStats.get("default.evtin").contains((1, 4)),
      s"InSet prune: ${lh.engine.lastScanStats}")
    // a NULL element disables extraction (three-valued IN), never prunes
    lh.engine.execute(
      "SELECT COUNT(*) AS n FROM evtin WHERE id IN (5, NULL)", 0).collect()
    assert(!lh.engine.lastScanStats.get("default.evtin").exists(
      s => s._1 < s._2), s"NULL IN must not prune: ${lh.engine.lastScanStats}")
  }

  test("self-join with DIVERGENT predicates never over-prunes: only the " +
      "shared conjuncts prune, results exact") {
    val lh = newLh()
    val t = buildRanged(lh, "default.sj")
    // both sides demand id >= 300 (shared, prunable to 1 file); the sides
    // differ on grp, which intersection drops
    val sql = """SELECT a.id AS aid, b.id AS bid FROM sj a JOIN sj b
      | ON a.id = b.id
      | WHERE a.id >= 300 AND a.grp = 1 AND b.id >= 300 AND b.grp = 1
      | ORDER BY aid""".stripMargin
    val got = lh.engine.execute(sql, 0).collect().toSeq
    val base = t.read().where(col("id") >= 300 && col("grp") === 1)
    val want = base.alias("a").join(base.alias("b"), Seq("id"))
      .select(col("id").as("aid"), col("id").as("bid"))
      .orderBy("aid").collect().toSeq
    assert(got == want && got.nonEmpty)
    // both occurrences covered; shared conjunct id>=300 pruned to 1 file
    assert(lh.engine.lastScanStats.get("default.sj").contains((1, 4)))
  }

  test("self-join where one occurrence has NO filter: pruning disabled " +
      "for the table, results exact") {
    val lh = newLh()
    val t = buildRanged(lh, "default.sj2")
    val sql = """SELECT COUNT(*) AS n FROM sj2 a JOIN sj2 b ON a.id = b.id
      | WHERE a.id >= 390""".stripMargin
    // Catalyst infers b.id >= 390 via constraint propagation — if it does,
    // pruning both sides is FINE; what must hold is exactness
    val n = lh.engine.execute(sql, 0).collect()(0).getLong(0)
    assert(n == 10)
  }

  test("same-table scalar subquery: outer scan prunes, subquery reads all") {
    val lh = newLh()
    buildRanged(lh, "default.sq")
    val sql = "SELECT COUNT(*) AS n FROM sq " +
      "WHERE id >= 300 AND id > (SELECT AVG(id) FROM sq)"
    val res = lh.engine.execute(sql, 0)
    val n = res.collect()(0).getLong(0)
    // avg(id) = 199.5 over ALL rows; id >= 300 matches 100 rows
    assert(n == 100)
    // each scan prunes by its OWN pushed filters: the outer scan (id >= 300)
    // reads 1 file, the unfiltered subquery scan of the same table all 4
    assert(filesPerScan(res).sorted == Seq(1L, 4L), filesPerScan(res))
    assert(lh.engine.lastScanStats.get("default.sq").contains((4, 4)),
      s"distinct files over both scans: ${lh.engine.lastScanStats}")
  }

  test("lastScanStats is readable before the frame is collected, and the " +
      "collect runs the plan it was read from") {
    val lh = newLh()
    buildRanged(lh, "default.pre")
    // default maxRows: the returned frame is the auto-LIMITed one
    val res = lh.engine.execute("SELECT id FROM pre WHERE id >= 250 ORDER BY id")
    assert(lh.engine.lastScanStats.get("default.pre").contains((2, 4)),
      s"before collect: ${lh.engine.lastScanStats}")
    val plan = res.queryExecution.executedPlan
    assert(res.collect().map(_.getLong(0)).toSeq == (250L until 400L))
    assert(res.queryExecution.executedPlan eq plan)
    assert(lh.engine.lastScanStats.get("default.pre").contains((2, 4)),
      s"after collect: ${lh.engine.lastScanStats}")
  }

  test("merge-on-read deletes apply on the pruned scan") {
    val lh = newLh()
    val t = buildRanged(lh, "default.mor")
    t.deleteWhereMor(col("id") % 10 === 0) // 10 per block of 100
    val sql = "SELECT COUNT(*) AS n FROM mor WHERE id >= 200"
    val n = lh.engine.execute(sql, 0).collect()(0).getLong(0)
    assert(n == 180) // 200 rows minus 20 deleted
    assert(lh.engine.lastScanStats.get("default.mor").contains((2, 4)))
  }

  test("per-query registration: a query naming 1 of 3 tables resolves " +
      "only that table") {
    val lh = newLh()
    buildRanged(lh, "default.only")
    buildRanged(lh, "default.othera")
    buildRanged(lh, "default.otherb")
    lh.catalog.traceRegistrations = true
    lh.catalog.registrationTrace.clear()
    lh.engine.execute("SELECT COUNT(*) AS n FROM only WHERE id < 50", 0)
    val touched = lh.catalog.registrationTrace.asScala.toSet
    lh.catalog.traceRegistrations = false
    assert(touched == Set("default.only"),
      s"expected only default.only registered, got $touched")
  }

  test("a table referenced ONLY inside a subquery expression registers " +
      "per query and never binds stale") {
    val lh = newLh()
    buildRanged(lh, "default.sqa")
    val b0 = (0 until 10).map(i => (i.toLong, s"x$i", 0L))
      .toDF("id", "name", "grp")
    lh.catalog.createTable("default.sqb", b0.schema, Nil, Map.empty)
    lh.catalog.loadTable("default.sqb").append(b0)
    val q = "SELECT COUNT(*) AS n FROM sqa " +
      "WHERE id IN (SELECT id FROM sqb)"
    assert(lh.engine.execute(q, 0).collect()(0).getLong(0) == 10)
    // append to the subquery-only table: the next execute must see it —
    // a collect() that skipped subquery relations would bind sqb to the
    // stale 10-row view
    lh.catalog.loadTable("default.sqb")
      .append((10 until 25).map(i => (i.toLong, s"x$i", 0L))
        .toDF("id", "name", "grp"))
    assert(lh.engine.execute(q, 0).collect()(0).getLong(0) == 25)
  }

  test("HAVING alias colliding with a base column name never prunes by " +
      "the base column (exprId provenance)") {
    val lh = newLh()
    buildRanged(lh, "default.hv") // id ranged 0..399 over 4 files; grp = id%7
    // alias `id` shadows the base column: HAVING id > 390 filters on
    // MAX(id) per grp — every grp group spans all 4 files, so pruning
    // low-id files by a row-level id>390 would corrupt the counts
    val sql = """SELECT grp, MAX(id) AS id, COUNT(*) AS c FROM hv
      | GROUP BY grp HAVING id > 390 ORDER BY grp""".stripMargin
    val got = lh.engine.execute(sql, 0).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // grps with max id > 390: ids 391..399 cover grp = id%7 of those
    val want = (0L until 400L).groupBy(_ % 7).toSeq
      .map { case (g, ids) => (g, ids.max, ids.size.toLong) }
      .filter(_._2 > 390).sortBy(_._1)
    assert(got.toSeq == want, s"got ${got.toSeq}")
    // and no files were dropped for hv
    assert(lh.engine.lastScanStats.get("default.hv")
      .forall { case (k, t) => k == t },
      s"HAVING alias must not prune: ${lh.engine.lastScanStats}")
  }

  test("concurrent executes never leak a narrowed view into each other: " +
      "mixed prunable + full queries from many threads stay exact") {
    val lh = newLh()
    buildRanged(lh, "default.cc")
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val threads = (0 until 8).map { i =>
      new Thread(() => {
        try {
          (0 until 10).foreach { _ =>
            if (i % 2 == 0) {
              // prunable range query — narrows the view mid-flight
              val n = lh.engine
                .execute("SELECT COUNT(*) AS n FROM cc WHERE id >= 300", 0)
                .collect()(0).getLong(0)
              if (n != 100) errors.add(s"range got $n")
            } else {
              // full-table query — must NEVER see a narrowed view
              val n = lh.engine.execute("SELECT COUNT(*) AS n FROM cc", 0)
                .collect()(0).getLong(0)
              if (n != 400) errors.add(s"full got $n")
            }
          }
        } catch { case e: Throwable => errors.add(e.toString) }
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join(120000))
    assert(errors.isEmpty, s"concurrent executes diverged: $errors")
  }

  test("file skipping never rebinds the public temp views: DIRECT " +
      "spark.sql issued concurrently with pruning executes always sees " +
      "the full table") {
    val lh = newLh()
    buildRanged(lh, "default.ext")
    // bind the public view once, like any session user would have it
    lh.engine.execute("SELECT COUNT(*) AS n FROM ext", 0).collect()
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val pruner = new Thread(() => {
      try (0 until 30).foreach { _ =>
        val n = lh.engine
          .execute("SELECT COUNT(*) AS n FROM ext WHERE id >= 300", 0)
          .collect()(0).getLong(0)
        if (n != 100) errors.add(s"pruned got $n")
      } catch { case e: Throwable => errors.add(e.toString) }
    })
    val outsider = new Thread(() => {
      try (0 until 30).foreach { _ =>
        // NOT through the engine: the hazard the old narrowed-view
        // window exposed (a direct spark.sql analyzing against a
        // temporarily-narrowed view silently returned a row subset)
        val n = spark.sql("SELECT COUNT(*) AS n FROM ext")
          .collect()(0).getLong(0)
        if (n != 400) errors.add(s"external got $n")
      } catch { case e: Throwable => errors.add(e.toString) }
    })
    pruner.start(); outsider.start()
    pruner.join(120000); outsider.join(120000)
    assert(errors.isEmpty, s"external spark.sql observed narrowing: $errors")
    // and the returned pruned frame itself still skipped files
    assert(lh.engine.lastScanStats.get("default.ext")
      .exists { case (kept, total) => kept < total })
  }

  test("executeAsOf: the named table time-travels, other referenced " +
      "tables resolve FRESH, and the asof binding does not leak") {
    val lh = newLh()
    val a = lh.catalog.createTable("default.aoa",
      Seq("id" -> "long", "name" -> "string"), Nil, Map.empty)
    a.append((0 until 10).map(i => (i.toLong, s"a$i")).toDF("id", "name")) // snap 1
    a.append((10 until 20).map(i => (i.toLong, s"a$i")).toDF("id", "name")) // snap 2
    val b = lh.catalog.createTable("default.aob",
      Seq("id" -> "long", "tag" -> "string"), Nil, Map.empty)
    b.append((0 until 20).map(i => (i.toLong, s"t$i")).toDF("id", "tag"))
    // joins a@snap1 (10 rows) against CURRENT aob — aob was never
    // registered before, so this fails unless executeAsOf registers it
    val n1 = lh.engine.executeAsOf("default.aoa",
      "SELECT COUNT(*) AS n FROM aoa JOIN aob ON aoa.id = aob.id", "1", 0)
      .collect()(0).getLong(0)
    assert(n1 == 10)
    // aob grows; a second asof query must see the FRESH aob
    b.append((20 until 30).map(i => (i.toLong, s"t$i")).toDF("id", "tag"))
    val n2 = lh.engine.executeAsOf("default.aoa",
      "SELECT COUNT(*) AS n FROM aob", "1", 0).collect()(0).getLong(0)
    assert(n2 == 30, "other tables must resolve at their current snapshot")
    // the asof binding must NOT leak: a plain engine query sees current aoa
    assert(lh.engine.execute("SELECT COUNT(*) AS n FROM aoa", 0)
      .collect()(0).getLong(0) == 20)
    // BOTH view names time-travel: the ns__ alias and the `ns.table`
    // spelling (rewritten like execute does) must read the asof snapshot,
    // not the current one the per-query registration just bound
    assert(lh.engine.executeAsOf("default.aoa",
      "SELECT COUNT(*) AS n FROM default__aoa", "1", 0)
      .collect()(0).getLong(0) == 10,
      "the ns__ alias must bind to the asof snapshot")
    assert(lh.engine.executeAsOf("default.aoa",
      "SELECT COUNT(*) AS n FROM default.aoa", "1", 0)
      .collect()(0).getLong(0) == 10,
      "ns.table spelling must resolve and time-travel like execute()")
  }

  test("a query with no prunable predicate records no stats and stays " +
      "correct") {
    val lh = newLh()
    buildRanged(lh, "default.np")
    val n = lh.engine
      .execute("SELECT COUNT(*) AS n FROM np WHERE id % 2 = 0", 0)
      .collect()(0).getLong(0)
    assert(n == 200)
    // Catalyst infers `isnotnull(id)` — extractable but droppping nothing
    // here; what must hold is that NO file was pruned away
    assert(lh.engine.lastScanStats.values.forall { case (k, t) => k == t },
      s"nothing should be pruned: ${lh.engine.lastScanStats}")
  }
}
