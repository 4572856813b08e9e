package graft.perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.types._
import org.json4s._

import graft.{Lakehouse, Tables}
import graft.core.Catalog

/** One row as the model keeps it: what the read-after-write checks compare,
  * plus what the row's logical size needs. */
final case class Ev(user: Long, cents: Long, eventType: String, propsBytes: Int) {
  def edited: Boolean = eventType == "edited"
  def bytes: Int = CommitMix.rowBytes(eventType, propsBytes)
}

/** Expected contents of the `commit_mix` table, by `event_id`. */
final class Model {
  val rows = mutable.LongMap.empty[Ev]
  var count = 0L
  var cents = 0L
  var users = 0L
  var edited = 0L

  def put(id: Long, e: Ev): Unit = { remove(id); rows(id) = e; add(e, 1) }

  def remove(id: Long): Unit = rows.remove(id).foreach(add(_, -1))

  def update(id: Long, f: Ev => Ev): Unit = rows.get(id).foreach(e => put(id, f(e)))

  def ids(p: Ev => Boolean): Seq[Long] = rows.iterator.collect { case (id, e) if p(e) => id }.toSeq

  private def add(e: Ev, sign: Int): Unit = {
    count += sign; cents += sign * e.cents; users += sign * e.user
    if (e.edited) edited += sign
  }

  /** (count, sum(value) in cents, sum(user_id), edited rows) over `lo..hi`,
    * or over the whole table. */
  def aggregate(range: Option[(Long, Long)]): (Long, Long, Long, Long) = range match {
    case None => (count, cents, users, edited)
    case Some((lo, hi)) =>
      val es = (lo to hi).flatMap(rows.get)
      (es.size.toLong, es.map(_.cents).sum, es.map(_.user).sum, es.count(_.edited).toLong)
  }

  def liveBytes: Long = rows.valuesIterator.map(_.bytes.toLong).sum
}

/** `commit_mix`: one writer runs a seeded mix of commits on one events-shaped
  * table, and every write is followed by a read-after-write query on the head
  * that is checked against [[Model]]. */
final class CommitMix(env: Env) extends Workload {
  import env._
  import CommitMix._

  private final class State(val wh: Path, val lh: Lakehouse, val cat: String) {
    val model = new Model
    /** Acknowledged snapshot ids not yet expired. */
    val acked = mutable.LinkedHashSet.empty[Long]
    val seenFiles = mutable.HashMap.empty[String, Long]
    var bytesWritten = 0L
    var userBytes = 0L
    def table = tracer.span("core", "core.load_table")(lh.catalog.loadTable(Ident))
  }

  /** The last set-up round's warehouse, which the timed phase writes. */
  private var state: State = _

  def build(round: Int): Unit = state = load(round, Long.MaxValue)

  /** A warehouse holding the events whose id is below `ids`, and its model. */
  private def load(round: Int, ids: Long): State = {
    val wh = out.resolve(s"wh-$round")
    val s = new State(wh, Lakehouse.open(spark, wh.toString), env.catalog(round, wh))
    s.lh.catalog.createNamespace("app")
    val src = Tables.load(spark, sfDir, "events").where(col("event_id") < ids)
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"),
        col("value").cast(Value).as("value"), col("props"))
    val t = s.lh.catalog.createTable(Ident, Schema)
    s.acked += t.append(src).id
    src.collect().foreach { r =>
      s.model.put(r.getLong(0), Ev(r.getLong(2), r.getDecimal(4).movePointRight(2).longValueExact(),
        r.getString(3), utf8(r.getString(5))))
    }
    trackWrites(s)
    s
  }

  /** Runs every op kind once on a small table of its own. */
  def warmup(): Unit = {
    val rows = (plan \ "warmup_rows") match {
      case JInt(n) => n.toLong
      case _ => 0L
    }
    val s = load(0, rows)
    val log = new OpLog(tracer, _ => ())
    Op.list(plan \ "warmup").foreach(cycle(s, _, log))
    warmupErrors = log.all.filterNot(_.ok).map(o => s"warm-up ${o.typ}: ${o.error}")
  }

  private var warmupErrors = Seq.empty[String]

  def run(deadlineNs: Long, log: OpLog): Unit = {
    val ops = Op.list(plan \ "ops")
    val s = state
    // write amplification is reported for the timed phase alone
    s.bytesWritten = 0
    s.userBytes = 0
    // the plan is generated longer than any run; an id is never appended twice
    ops.grouped(block).takeWhile(_ => System.nanoTime() < deadlineNs).flatten
      .foreach(cycle(s, _, log))
  }

  /** One write op, acknowledged, then the read-after-write query on the head.
    * The op's input rows are prepared before its clock starts. */
  private def cycle(s: State, op: Op, log: OpLog): Unit = {
    lazy val batch = rowsFor(op.ids, op.salt)
    if (op.ids.nonEmpty) batch.createOrReplaceTempView(SourceView)
    val ok = log.run("write", op.kind)(write(s, op, batch))(
      { ack =>
        // a call that returns no snapshot (merge-on-read, Dml, MERGE INTO,
        // expiry) is acknowledged by the head it leaves
        val id = ack.snapshot.orElse(s.lh.catalog.loadTable(Ident).currentSnapshot.map(_.id))
        ack.expired.foreach(s.acked -= _)
        id.foreach(s.acked += _)
        applyToModel(s, op)
        trackWrites(s)
        None
      }).isDefined
    if (!ok) return
    val where = op.range.fold("TRUE")(r => s"event_id BETWEEN ${r._1} AND ${r._2}")
    log.run("read", if (op.range.isEmpty) "raw_head" else "raw_range", op.readSurface) {
      val df = op.readSurface match {
        case "engine" => tracer.span("engine", "engine.execute")(s.lh.engine.execute(
          s"SELECT $Aggregates FROM $Ident WHERE $where", maxRows = 0))
        case "core" =>
          val t = s.table
          tracer.span("core", "core.read")(t.read()).where(where).selectExpr(Aggregates.split(", "): _*)
      }
      (df, tracer.span("exec", "collect")(df.collect()))
    }({ case (_, rows) => compare(rows.head, s.model.aggregate(op.range)) },
      { case (df, _) => SqlRead.attrs(df,
        if (op.readSurface == "engine") s.lh.engine.lastScanStats else Map.empty) })
  }

  private def compare(r: Row, want: (Long, Long, Long, Long)): Option[String] = {
    val got = (r.getLong(0),
      Option(r.getDecimal(1)).fold(0L)(_.movePointRight(2).longValueExact()),
      if (r.isNullAt(2)) 0L else r.getLong(2), r.getLong(3))
    if (got == want) None else Some(s"read-after-write: got $got, model has $want")
  }

  /** Runs one write op; returns what it acknowledged. */
  private def write(s: State, op: Op, batch: => DataFrame): Ack = op.kind match {
    case "append" =>
      val t = s.table
      Ack(Some(tracer.span("core", "core.append")(t.append(batch.coalesce(1))).id))
    case "mor_delete" =>
      val t = s.table
      tracer.span("core", "core.mor_delete")(t.deleteWhereMor(col("user_id") === op.user))
      Ack.Head
    case "mor_update" =>
      val t = s.table
      tracer.span("core", "core.mor_update")(t.updateWhereMor(col("user_id") === op.user,
        Map("value" -> (col("value") + lit(BigDecimal(op.cents, 2))).cast(Value))))
      Ack.Head
    case "cow_delete" =>
      val t = s.table
      val cond = col("event_id").between(op.lo, op.hi)
      Ack(tracer.span("core", "core.cow_delete")(t.rewriteWhereCow(cond, _.where(!cond)))._2.map(_.id))
    case "merge" =>
      tracer.span("engine", "engine.merge")(spark.sql(
        s"MERGE INTO ${s.cat}.$Ident t USING $SourceView src ON t.event_id = src.event_id " +
          "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *").collect())
      Ack.Head
    case "upsert" =>
      tracer.span("dml", "dml.upsert")(s.lh.dml.upsert(Ident, batch, Seq("event_id")))
      Ack.Head
    case "dml_update" =>
      tracer.span("dml", "dml.update")(s.lh.dml.update(Ident,
        s"event_id BETWEEN ${op.lo} AND ${op.hi}", Map("event_type" -> "edited")))
      Ack.Head
    case "dml_delete" =>
      tracer.span("dml", "dml.delete")(s.lh.dml.delete(Ident,
        s"event_id BETWEEN ${op.lo} AND ${op.hi}"))
      Ack.Head
    case "compact" =>
      val t = s.table
      Ack(Some(tracer.span("core", "core.compact")(t.compactSmall(CompactBelowBytes)).id))
    case "expire" =>
      val t = s.table
      Ack(None, tracer.span("core", "core.expire")(t.expireSnapshots(retainLast = Some(op.retain))))
  }

  private def applyToModel(s: State, op: Op): Unit = {
    val m = s.model
    op.kind match {
      case "append" | "merge" | "upsert" =>
        op.ids.foreach { id =>
          val r = generated(id, op.salt)
          val e = Ev(r.user, r.cents, r.eventType, utf8(r.props))
          m.put(id, e)
          s.userBytes += e.bytes
        }
      case "mor_delete" => m.ids(_.user == op.user).foreach(m.remove)
      case "mor_update" => m.ids(_.user == op.user).foreach(m.update(_, e => e.copy(cents = e.cents + op.cents)))
      case "cow_delete" | "dml_delete" => (op.lo to op.hi).foreach(m.remove)
      case "dml_update" => (op.lo to op.hi).foreach(m.update(_, _.copy(eventType = "edited")))
      case "compact" | "expire" => ()
    }
  }

  /** Counts every byte of a file the table directory gained since last seen. */
  private def trackWrites(s: State): Unit = {
    val dir = s.lh.catalog.tableDir("app", "events")
    Files.walk(dir).iterator().asScala.filter(Files.isRegularFile(_)).foreach { p =>
      val key = p.toString
      if (!s.seenFiles.contains(key)) {
        val n = Files.size(p)
        s.seenFiles(key) = n
        s.bytesWritten += n
      }
    }
  }

  private def rowsFor(ids: Seq[Long], salt: Long): DataFrame = {
    val rows = ids.map { id =>
      val g = generated(id, salt)
      Row(id, new java.sql.Timestamp(g.tsMs), g.user, g.eventType,
        java.math.BigDecimal.valueOf(g.cents, 2), g.props)
    }
    spark.createDataFrame(rows.asJava, Schema)
  }

  def finish(): Seq[String] = {
    val s = state
    // reopen the warehouse as a new process would, from the files alone
    val t = Catalog.open(spark, s.wh.toString).loadTable(Ident)
    val log = t.rawLog.map(_.id).toSet
    val lost = s.acked.filterNot(log)
    val head = t.currentSnapshot
    val r = t.read().selectExpr(Aggregates.split(", "): _*).head()
    val errors = warmupErrors ++ Seq(
      if (lost.isEmpty) None else Some(s"acknowledged snapshots missing from the log: $lost"),
      if (head.map(_.id) == s.acked.lastOption) None
      else Some(s"head ${head.map(_.id)} is not the last acknowledged snapshot ${s.acked.lastOption}"),
      compare(r, s.model.aggregate(None)).map("reopened head: " + _)).flatten
    val manifests = head.flatMap(_.manifestList).map(graft.core.Manifests.readList)
    stats = Map(
      "core.snapshots" -> log.size.toDouble,
      "core.manifests" -> manifests.fold(0)(m => m.dataManifests.size + m.deleteManifests.size).toDouble,
      "core.data_files" -> head.fold(0)(_.files.size).toDouble,
      "core.delete_files" -> head.fold(0)(h => h.deleteFiles.size + h.eqDeleteFiles.size).toDouble,
      "core.bytes_written" -> s.bytesWritten.toDouble,
      "core.bytes_stored" -> Files.walk(s.lh.catalog.tableDir("app", "events")).iterator().asScala
        .filter(Files.isRegularFile(_)).map(Files.size).sum.toDouble,
      "core.live_bytes" -> s.model.liveBytes.toDouble,
      "core.user_bytes" -> s.userBytes.toDouble)
    errors
  }

  private var stats = Map.empty[String, Double]
  override def counters: Map[String, Double] = stats
}

object CommitMix {
  /** What a write acknowledged: the snapshot the call returned, if it returns
    * one, and the snapshot ids it expired. */
  final case class Ack(snapshot: Option[Long], expired: Seq[Long] = Nil)

  object Ack {
    /** For a call that returns no snapshot. */
    val Head: Ack = Ack(None)
  }

  val Ident = "app.events"
  /** Temp view holding a MERGE INTO's source rows. */
  val SourceView = "commit_mix_src"
  /** The read-after-write aggregate the model can answer. */
  val Aggregates = "COUNT(*) AS n, SUM(value) AS v, SUM(user_id) AS u, " +
    "COUNT_IF(event_type = 'edited') AS e"
  val Value: DecimalType = DecimalType(12, 2)
  val Schema: StructType = StructType(Seq(
    StructField("event_id", LongType), StructField("ts", TimestampType),
    StructField("user_id", LongType), StructField("event_type", StringType),
    StructField("value", Value), StructField("props", StringType)))
  /** Files at or below this size are merged by the inline maintenance. */
  val CompactBelowBytes: Long = 1L << 20
  private val Types = Vector("click", "view", "purchase", "signup", "error")
  private val DayMs = 86400000L
  private val Jan1Ms = java.time.Instant.parse("2024-01-01T00:00:00Z").toEpochMilli

  /** Logical size of a row: fixed-width columns at 8 bytes, strings at their
    * UTF-8 length — the "user byte" of the write-amplification ratios. */
  def rowBytes(eventType: String, propsBytes: Int): Int =
    8 * 4 + utf8(eventType) + propsBytes

  def utf8(s: String): Int = s.getBytes("UTF-8").length

  final case class Gen(tsMs: Long, user: Long, eventType: String, cents: Long, props: String)

  /** The row an op with `salt` writes for `id`: a pure function, so the
    * model and the written batch can never disagree. */
  def generated(id: Long, salt: Long): Gen = {
    var h = id * 0x9E3779B97F4A7C15L ^ salt
    h = (h ^ (h >>> 30)) * 0xBF58476D1CE4E5B9L
    h = (h ^ (h >>> 27)) * 0x94D049BB133111EBL
    h = h ^ (h >>> 31)
    def pick(shift: Int, n: Long) = java.lang.Math.floorMod(h >>> shift, n)
    Gen(Jan1Ms + pick(0, 30) * DayMs + pick(5, DayMs),
      pick(23, 1500), Types(pick(34, 5).toInt), pick(37, 100000),
      s"""{"k": ${pick(54, 100)}}""")
  }

  /** A generated write op. Fields an op kind does not use keep defaults. */
  final case class Op(kind: String, ids: Seq[Long], salt: Long, user: Long,
      cents: Long, lo: Long, hi: Long, retain: Int, range: Option[(Long, Long)],
      readSurface: String)

  object Op {
    def list(v: JValue): Seq[Op] = v.children.map { o =>
      def long(k: String): Long = (o \ k) match {
        case JInt(x) => x.toLong
        case _ => 0L
      }
      val ids: Seq[Long] = (o \ "ids") match {
        case JArray(xs) => xs.collect { case JInt(x) => x.toLong }
        case _ => (o \ "first_id", o \ "n") match {
          case (JInt(f), JInt(n)) => f.toLong until (f + n).toLong
          case _ => Nil
        }
      }
      val range = (o \ "read_range") match {
        case JArray(List(JInt(a), JInt(b))) => Some((a.toLong, b.toLong))
        case _ => None
      }
      def str(k: String, default: String): String = (o \ k) match {
        case JString(x) => x
        case _ => default
      }
      Op(str("op", ""), ids, long("salt"), long("user"), long("cents"), long("lo"),
        long("hi"), long("retain").toInt, range, str("read_surface", "engine"))
    }
  }
}
