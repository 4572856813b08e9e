package graft.perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.json4s.{DefaultFormats, Formats}
import org.json4s.jackson.Serialization

/** Epoch nanoseconds at `System.nanoTime` resolution, so harness spans line
  * up with the millisecond epoch times Spark listener events carry. */
object Clock {
  private val baseNano = System.nanoTime()
  private val baseEpochNs = System.currentTimeMillis() * 1000000L
  def now(): Long = baseEpochNs + (System.nanoTime() - baseNano)
}

/** One timed call from the benchmark into a layer. `parent` is the id of the
  * enclosing span (0 at the op root); all spans of one op share `op`. */
final case class Span(id: Long, parent: Long, op: Long, layer: String,
    name: String, start: Long, end: Long)

/** In-memory span recorder. Disabled, `span` is a plain call: the untraced
  * run executes the same code without recording anything. Spans are kept
  * only while `recording`, which the harness sets for the timed phase. */
final class Tracer(val enabled: Boolean) {
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicLong(0)
  private val stack = new ThreadLocal[List[Long]] {
    override def initialValue(): List[Long] = Nil
  }
  @volatile var op: Long = 0
  @volatile var recording: Boolean = false

  def span[T](layer: String, name: String)(body: => T): T =
    if (!enabled || !recording) body
    else {
      val id = ids.incrementAndGet()
      val parent = stack.get.headOption.getOrElse(0L)
      stack.set(id :: stack.get)
      val start = Clock.now()
      try body
      finally {
        spans.add(Span(id, parent, op, layer, name, start, Clock.now()))
        stack.set(stack.get.tail)
      }
    }

  def all: Seq[Span] = spans.asScala.toSeq.sortBy(_.start)
}

/** Spark scheduling and executor work of one job, summed over its tasks. */
final case class JobStat(job: Int, group: String, start: Long, var end: Long,
    var stages: Int, var tasks: Long = 0, var taskMs: Long = 0,
    var cpuNs: Long = 0, var gcMs: Long = 0, var inputBytes: Long = 0,
    var shuffleReadBytes: Long = 0, var shuffleWriteBytes: Long = 0,
    var outputBytes: Long = 0)

/** Records every job's time span, job group and task metrics. Registered
  * only in the traced run; the job group names the op that ran the job. */
final class JobListener extends SparkListener {
  private val jobs = mutable.LinkedHashMap.empty[Int, JobStat]
  private val stageJob = mutable.HashMap.empty[Int, Int]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val group = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    jobs(e.jobId) = JobStat(e.jobId, group, e.time * 1000000L, 0L, e.stageIds.size)
    e.stageIds.foreach(s => stageJob(s) = e.jobId)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time * 1000000L)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (j <- stageJob.get(e.stageId).flatMap(jobs.get); m <- Option(e.taskMetrics)) {
      j.tasks += 1
      j.taskMs += m.executorRunTime
      j.cpuNs += m.executorCpuTime
      j.gcMs += m.jvmGCTime
      j.inputBytes += m.inputMetrics.bytesRead
      j.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
      j.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      j.outputBytes += m.outputMetrics.bytesWritten
    }
  }

  def all: Seq[JobStat] = synchronized(jobs.values.toList)
}

/** JSON text of the harness's output records: maps, sequences, case
  * classes, strings and numbers, written by json4s. */
object Json {
  private implicit val formats: Formats = DefaultFormats
  def apply(v: Any): String = Serialization.write(v.asInstanceOf[AnyRef])
}
