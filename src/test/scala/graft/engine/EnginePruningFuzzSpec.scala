package graft.engine

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.SparkFixture

/** Differential fuzz of the SQL entry path's file skipping
  * (QueryEngine.execute → each scan's GraftFileIndex.listFiles): for
  * RANDOM queries — joins, self-joins with divergent/missing predicates,
  * scalar and IN subqueries (including over the SAME table, whose scan
  * must stay full), HAVING-alias collisions, UNION ALL branches,
  * namespace-qualified names — `execute(sql)` must equal the same SQL
  * analyzed over plain UNPRUNED views of the same tables. The conjunct
  * extraction from pushed filters and the per-scan pruning are exactly
  * the conservative logic PruningFuzzSpec's sibling campaign caught real
  * bugs in for prunedRead; this hunts the SQL-surface equivalents. A
  * teeth check asserts file skipping actually fired across the run.
  * Deterministic seeds. */
class EnginePruningFuzzSpec extends AnyFunSuite {
  lazy val spark = SparkFixture.spark
  import spark.implicits._

  private def fuzz(seed: Long, queries: Int): Unit = {
    val rng = new scala.util.Random(seed)
    val lh = graft.Lakehouse.open(spark,
      SparkFixture.tmpDir(s"graft-epf-$seed-").toString)
    val fa = s"fa$seed"
    val fb = s"fb$seed"

    // table A: 5 range-clustered single-file commits (bounds prunable),
    // random partition spec, random MoR delete/update state
    val specA = if (rng.nextBoolean()) Nil else Seq("bucket(4,grp)")
    val dfA = (0 until 500).map(i => (i.toLong, (i % 8).toLong,
      if (i % 11 == 0) null else s"v${i % 6}", (i * 3 % 97).toLong))
      .toDF("id", "grp", "s", "v")
    val ta = lh.catalog.createTable(s"default.$fa", dfA.schema,
      specA, Map.empty)
    (0 until 5).foreach { b =>
      ta.append(dfA.where(col("id") >= b * 100 &&
        col("id") < (b + 1) * 100).coalesce(1))
    }
    if (rng.nextBoolean()) ta.deleteWhereMor(col("id") % 13 === 0)
    if (rng.nextBoolean())
      ta.updateWhereMor(col("id") === 42L, Map("v" -> lit(9999L)))

    // table B: 3 ranged commits, overlapping id domain
    val dfB = (0 until 300).map(i => (i.toLong * 2, (i % 5).toLong,
      (i % 53).toLong)).toDF("id", "cat", "w")
    val tb = lh.catalog.createTable(s"default.$fb", dfB.schema,
      Nil, Map.empty)
    (0 until 3).foreach { b =>
      tb.append(dfB.where(col("id") >= b * 200 &&
        col("id") < (b + 1) * 200).coalesce(1))
    }

    // ORACLE: plain unpruned reads under fuzz-private view names — the
    // reference semantics the engine path must match exactly
    ta.read().createOrReplaceTempView(s"ofa$seed")
    tb.read().createOrReplaceTempView(s"ofb$seed")

    def predA(al: String): String = {
      def one: String = rng.nextInt(7) match {
        case 0 => s"$al.id >= ${rng.nextInt(520)}"
        case 1 => s"$al.id < ${rng.nextInt(520)}"
        case 2 => s"$al.grp = ${rng.nextInt(10)}"
        case 3 => s"$al.s = 'v${rng.nextInt(7)}'"
        case 4 => s"$al.s IS NULL"
        case 5 => s"$al.id IN (${Seq.fill(3)(rng.nextInt(520)).mkString(", ")})"
        case 6 => s"$al.v < ${rng.nextInt(100)}"
      }
      rng.nextInt(3) match {
        case 0 => one
        case 1 => s"$one AND $one"
        case 2 => s"($one OR $one)"
      }
    }
    def predB(al: String): String = rng.nextInt(3) match {
      case 0 => s"$al.id >= ${rng.nextInt(620)}"
      case 1 => s"$al.id < ${rng.nextInt(620)}"
      case 2 => s"$al.cat = ${rng.nextInt(6)}"
    }

    def template(): String = rng.nextInt(10) match {
      case 0 => s"SELECT a.id, a.s FROM %FA% a WHERE ${predA("a")}"
      case 1 => s"SELECT count(*) AS n, sum(a.v) AS sv FROM %FA% a " +
        s"WHERE ${predA("a")}"
      case 2 => s"SELECT a.grp AS g, count(*) AS n, max(a.id) AS mx " +
        s"FROM %FA% a WHERE ${predA("a")} GROUP BY a.grp"
      case 3 => s"SELECT a.id AS aid, b.cat AS bc FROM %FA% a " +
        s"JOIN %FB% b ON a.id = b.id WHERE ${predA("a")} AND ${predB("b")}"
      case 4 => s"SELECT a.id AS aid, b.w AS bw FROM %FA% a " +
        s"LEFT JOIN %FB% b ON a.id = b.id WHERE ${predA("a")}"
      case 5 => s"SELECT count(*) AS n FROM %FA% a JOIN %FA% b " +
        s"ON a.id = b.id WHERE ${predA("a")} AND ${predA("b")}"
      case 6 => // one self-join occurrence GENUINELY unfiltered: joining
        // on grp with an id-only predicate, so constraint propagation
        // cannot infer a filter onto b — b's scan must stay full
        // (narrowing it would drop matching rows)
        s"SELECT count(*) AS n, sum(b.v) AS sv FROM %FA% a JOIN %FA% b " +
          s"ON a.grp = b.grp WHERE a.id >= ${100 + rng.nextInt(400)}"
      case 7 => // scalar subquery over the SAME table: its scan stays full
        s"SELECT count(*) AS n FROM %FA% a WHERE ${predA("a")} AND " +
          s"a.id > (SELECT min(b.id) + ${rng.nextInt(400)} FROM %FA% b)"
      case 8 => s"SELECT count(*) AS n FROM %FA% a WHERE ${predA("a")} " +
        s"AND a.id IN (SELECT b.id FROM %FB% b WHERE ${predB("b")})"
      case 9 => // HAVING alias colliding with a base column name: the
        // provenance (exprId) guard — must never prune by the aggregate
        s"SELECT a.grp AS g, max(a.id) AS id FROM %FA% a WHERE " +
          s"${predA("a")} GROUP BY a.grp HAVING id > ${rng.nextInt(500)}"
    }

    var anyPruned = false
    for (i <- 1 to queries) {
      val tpl = if (i % 7 == 0)
        // UNION ALL: two occurrences — sometimes both filtered
        // (intersection semantics), sometimes the second branch BARE:
        // no filter and no join key means the optimizer infers nothing
        // onto it, so its scan must stay full
        (if (i % 14 == 0)
          // the bare-branch leg gets a GUARANTEED-prunable range filter
          // on the other branch, so pruning that leaked across scans
          // would misprune
          s"SELECT a.id FROM %FA% a WHERE a.id >= ${250 + rng.nextInt(200)} " +
            s"UNION ALL SELECT b.id FROM %FA% b"
        else
          s"SELECT a.id FROM %FA% a WHERE ${predA("a")} UNION ALL " +
            s"SELECT b.id FROM %FA% b WHERE ${predA("b")}")
      else template()
      // engine text: randomly the short or the ns-qualified name (the
      // rewriteNamespaces path); oracle text: the unpruned views
      val engSql = tpl
        .replace("%FA%", if (rng.nextBoolean()) fa else s"default.$fa")
        .replace("%FB%", if (rng.nextBoolean()) fb else s"default.$fb")
      val oraSql = tpl.replace("%FA%", s"ofa$seed")
        .replace("%FB%", s"ofb$seed")
      val got = lh.engine.execute(engSql, maxRows = 0)
        .collect().map(_.mkString("|")).sorted.toSeq
      if (lh.engine.lastScanStats.values.exists(s => s._1 < s._2))
        anyPruned = true
      val want = spark.sql(oraSql).collect().map(_.mkString("|")).sorted.toSeq
      assert(got == want,
        s"engine pruning changed results (seed=$seed query $i):\n$engSql\n" +
          s"got ${got.size} rows, want ${want.size}; " +
          s"stats=${lh.engine.lastScanStats}")
    }
    assert(anyPruned,
      s"no query pruned anything (seed=$seed) — the fuzz lost its teeth")
  }

  test("seed 9301: random SQL over a bucket-or-unpartitioned layout " +
      "with MoR state — execute == unpruned views on every query") {
    fuzz(9301L, 24)
  }

  test("seed 9302: second layout/query draw — execute == unpruned " +
      "views on every query") {
    fuzz(9302L, 24)
  }
}
