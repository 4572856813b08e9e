package graft.perfbench

import scala.collection.mutable
import scala.util.control.NonFatal

/** One client operation of a workload. `ms` is its latency, and is present
  * only when the op completed and passed its check: a failed op is counted,
  * never timed. `attrs` holds per-op counts the traced report aggregates. */
final case class OpRecord(id: Long, kind: String, typ: String,
    surface: String, ok: Boolean, ms: Option[Double], error: String,
    attrs: Map[String, Double]) {
  def json: String = Json(Map("id" -> id, "kind" -> kind, "type" -> typ,
    "surface" -> surface, "ok" -> ok, "ms" -> ms, "error" -> error,
    "attrs" -> attrs))
}

/** Runs ops in a closed loop and records them. The timed section is the op
  * body alone; its correctness check runs after the clock stops. */
final class OpLog(tracer: Tracer, setGroup: String => Unit) {
  private val records = mutable.ArrayBuffer.empty[OpRecord]
  private var nextId = 0L

  def all: Seq[OpRecord] = records.toSeq

  /** Id of the op running now, or of the last op run. */
  def current: Long = nextId

  /** Run `body` as op `typ` of `kind` ("read" or "write"). A body that throws
    * or a `check` that returns an error marks the op failed; its latency is
    * dropped. `attrs` derives per-op counts from the result, untimed.
    * Returns the result of a body that did not throw. */
  def run[T](kind: String, typ: String, surface: String = "")(body: => T)(
      check: T => Option[String],
      attrs: T => Map[String, Double] = (_: T) => Map.empty[String, Double])
      : Option[T] = {
    nextId += 1
    val id = nextId
    tracer.op = id
    setGroup(s"op-$id")
    val t0 = System.nanoTime()
    val result = try Right(tracer.span("op", typ)(body))
      catch { case NonFatal(e) => Left(e) }
    val ms = (System.nanoTime() - t0) / 1e6
    tracer.op = 0
    setGroup("")
    val rec = result match {
      case Left(e) =>
        OpRecord(id, kind, typ, surface, ok = false, None, describe(e), Map.empty)
      case Right(v) =>
        val verdict = try check(v)
          catch { case NonFatal(e) => Some(s"check threw: ${describe(e)}") }
        val a = try attrs(v) catch { case NonFatal(_) => Map.empty[String, Double] }
        verdict match {
          case Some(err) => OpRecord(id, kind, typ, surface, ok = false, None, err, a)
          case None => OpRecord(id, kind, typ, surface, ok = true, Some(ms), "", a)
        }
    }
    records += rec
    result.toOption
  }

  private def describe(e: Throwable): String =
    s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}"
}
