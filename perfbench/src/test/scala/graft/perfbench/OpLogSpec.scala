package graft.perfbench

import org.scalatest.funsuite.AnyFunSuite

class OpLogSpec extends AnyFunSuite {
  private def log() = new OpLog(new Tracer(enabled = true), _ => ())

  private def recordingTracer() = {
    val t = new Tracer(enabled = true)
    t.recording = true
    t
  }

  test("an op that throws is recorded as failed and carries no latency") {
    val l = log()
    val r = l.run("read", "boom")(throw new IllegalStateException("bad plan"))(
      (_: Nothing) => None)
    assert(r.isEmpty)
    val rec = l.all.single
    assert(!rec.ok && rec.ms.isEmpty && rec.error.contains("bad plan"))
  }

  test("an op whose check fails is recorded as failed and carries no latency") {
    val l = log()
    l.run("write", "append")(41)(v => if (v == 42) None else Some(s"got $v"))
    val rec = l.all.single
    assert(!rec.ok && rec.ms.isEmpty && rec.error == "got 41")
  }

  test("a check that throws fails the op instead of the run") {
    val l = log()
    l.run("read", "q")(1)(_ => throw new RuntimeException("oops"))
    assert(!l.all.single.ok && l.all.single.error.contains("oops"))
  }

  test("a passing op is timed and keeps its attributes") {
    val l = log()
    l.run("read", "q")(Thread.sleep(5))(_ => None, _ => Map("engine.files_kept" -> 1.0))
    val rec = l.all.single
    assert(rec.ok && rec.ms.exists(_ >= 5.0) && rec.attrs == Map("engine.files_kept" -> 1.0))
  }

  test("ops get consecutive ids and the op's spans carry its id") {
    val t = recordingTracer()
    val l = new OpLog(t, _ => ())
    l.run("read", "a")(t.span("core", "inner")(1))(_ => None)
    l.run("read", "b")(2)(_ => None)
    assert(l.all.map(_.id) == Seq(1L, 2L))
    val spans = t.all
    val inner = spans.find(_.name == "inner").get
    val root = spans.find(_.name == "a").get
    assert(inner.op == 1L && inner.parent == root.id && root.parent == 0L)
  }

  private implicit class Single[A](xs: Seq[A]) {
    def single: A = { assert(xs.size == 1, xs); xs.head }
  }
}
