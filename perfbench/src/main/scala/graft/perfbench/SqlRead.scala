package graft.perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.col
import org.json4s._

import graft.{Lakehouse, Tables}

/** One generated query. `sql` names tables as `ns.table` for the engine
  * surface and `{cat}.ns.table` for the DSv2 catalog surface; `asOf` makes an
  * engine query a time-travel read of `table`. */
final case class Query(id: String, shape: String, surface: String,
    sql: String, table: String, asOf: String)

object Query {
  def list(v: JValue): Seq[Query] = v.children.map { q =>
    def s(k: String) = (q \ k) match {
      case JString(x) => x
      case _ => ""
    }
    Query(s("id"), s("shape"), s("surface"), s("sql"), s("table"), s("as_of"))
  }
}

/** `sql_read`: read-only interactive analytics over an IceLite warehouse
  * built from the TPC-H tables and `events`: selective lookups, TPC-H
  * shaped aggregates and joins, time travel and metadata tables, split
  * between `QueryEngine.execute` and the DSv2 catalog. Every answer is
  * written out for the DuckDB check outside the JVM. */
final class SqlRead(env: Env) extends Workload {
  import env._
  private val queries = Query.list(plan \ "queries")
  private val warm = Query.list(plan \ "warmup")
  private var lh: Lakehouse = _
  private var cat: String = _
  private val answers = mutable.ArrayBuffer.empty[String]
  private val lineitemFiles = (plan \ "lineitem_files") match {
    case JInt(n) => n.toInt
    case _ => 1
  }

  def build(round: Int): Unit = {
    val wh = out.resolve(s"wh-$round")
    lh = Lakehouse.open(spark, wh.toString)
    cat = env.catalog(round, wh)
    lh.catalog.createNamespace("tpch")
    lh.catalog.createNamespace("web")
    for (name <- Seq("region", "nation", "customer", "supplier", "orders", "lineitem")) {
      val df = Tables.load(spark, sfDir, name)
      val t = lh.catalog.createTable(s"tpch.$name", df.schema)
      // lineitem is range-clustered so a key-range lookup opens one file
      t.append(if (name != "lineitem") df
        else df.repartitionByRange(lineitemFiles, col("l_orderkey")))
    }
    val events = Tables.load(spark, sfDir, "events")
    val t = lh.catalog.createTable("web.events", events.schema, Seq("day(ts)"))
    // one snapshot per slice of days, so time travel has history to read
    val cuts = (plan \ "events_cuts").children.collect { case JString(s) => s }
    val bounds = None +: cuts.map(Some(_)) :+ None
    bounds.zip(bounds.tail).foreach { case (lo, hi) =>
      val slice = Seq(lo.map(col("ts") >= _), hi.map(col("ts") < _)).flatten
        .reduceOption(_ && _).fold(events)(events.where)
      t.append(slice)
    }
  }

  private def frame(q: Query): DataFrame = q.surface match {
    case "engine" if q.asOf.nonEmpty =>
      tracer.span("engine", "engine.execute_as_of")(
        lh.engine.executeAsOf(q.table, q.sql, q.asOf, maxRows = 0))
    case "engine" =>
      tracer.span("engine", "engine.execute")(lh.engine.execute(q.sql, maxRows = 0))
    case "dsv2" =>
      tracer.span("engine", "engine.dsv2_plan")(spark.sql(q.sql.replace("{cat}", cat)))
    case "core" =>
      val t = tracer.span("core", "core.load_table")(lh.catalog.loadTable(q.table))
      tracer.span("core", "core.read_as_of")(t.readAsOf(q.asOf))
        .createOrReplaceTempView("events_as_of")
      spark.sql(q.sql)
  }

  private def exec(q: Query): (DataFrame, Array[Row]) = {
    val df = frame(q)
    (df, tracer.span("exec", "collect")(df.collect()))
  }

  def warmup(): Unit = warm.foreach(exec)

  def run(deadlineNs: Long, log: OpLog): Unit =
    queries.grouped(block).takeWhile(_ => System.nanoTime() < deadlineNs).flatten.foreach { q =>
      log.run("read", q.shape, q.surface)(exec(q))(
        { case (_, rows) =>
          answers += Json(Map("op" -> log.current, "query" -> q.id,
            "rows" -> rows.toSeq.map(Rows.canonical)))
          None
        },
        { case (df, _) => SqlRead.attrs(df,
          if (q.surface == "engine") lh.engine.lastScanStats else Map.empty) })
    }

  def finish(): Seq[String] = {
    env.write("answers.jsonl", answers)
    Nil
  }
}

object SqlRead {
  /** Planning phases of the query that ran, and the engine's file pruning. */
  def attrs(df: DataFrame, scan: Map[String, (Int, Int)]): Map[String, Double] = {
    val phases = df.queryExecution.tracker.phases
    Seq("analysis", "optimization", "planning").flatMap(p =>
      phases.get(p).map(s => s"engine.${p}_ms" -> s.durationMs.toDouble)).toMap ++
      (if (scan.isEmpty) Map.empty else Map(
        "engine.files_kept" -> scan.values.map(_._1).sum.toDouble,
        "engine.files_total" -> scan.values.map(_._2).sum.toDouble))
  }
}

/** Canonical cell values shared with the DuckDB check: numbers as plain
  * decimal strings without trailing zeros, dates and timestamps as ISO text. */
object Rows {
  private val tsFmt = java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss")

  def cell(v: Any): Any = v match {
    case null => null
    case b: java.math.BigDecimal => b.stripTrailingZeros.toPlainString
    case n @ (_: Long | _: Int | _: Short | _: Byte) =>
      new java.math.BigDecimal(n.toString).toPlainString
    case d: Double => new java.math.BigDecimal(d.toString).stripTrailingZeros.toPlainString
    case f: Float => cell(f.toDouble)
    case b: Boolean => b
    case d: java.sql.Date => d.toLocalDate.toString
    case d: java.time.LocalDate => d.toString
    case t: java.sql.Timestamp => timestamp(t.toLocalDateTime)
    case t: java.time.Instant => timestamp(java.time.LocalDateTime.ofInstant(t, java.time.ZoneOffset.UTC))
    case t: java.time.LocalDateTime => timestamp(t)
    case s: scala.collection.Seq[_] => s.map(cell).toSeq
    case other => other.toString
  }

  private def timestamp(t: java.time.LocalDateTime): String = {
    val base = t.format(tsFmt)
    val micros = t.getNano / 1000
    if (micros == 0) base else f"$base.$micros%06d"
  }

  def canonical(r: Row): Seq[Any] = r.toSeq.map(cell)
}
