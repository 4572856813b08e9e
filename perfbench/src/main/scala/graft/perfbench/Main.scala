package graft.perfbench

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{bit_xor, col, xxhash64}

/** What a workload needs from the harness. */
final case class Env(spark: SparkSession, out: Path, sfDir: String,
    cpus: Int, tracer: Tracer, plan: org.json4s.JValue) {
  /** Ops per block of the plan. A run executes whole blocks, so every run
    * sends the same mix of ops. */
  def block: Int = (plan \ "block") match {
    case org.json4s.JInt(n) => n.toInt
    case _ => 1
  }

  /** Registers DSv2 catalog `g<round>` over `warehouse` and returns its name.
    * Each set-up round builds its own warehouse and gets its own catalog, so
    * no state cached by one round's catalog is seen by another. */
  def catalog(round: Int, warehouse: Path): String = {
    val name = s"g$round"
    spark.conf.set(s"spark.sql.catalog.$name",
      classOf[graft.engine.GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$name.warehouse", warehouse.toString)
    name
  }

  def write(name: String, lines: Iterable[String]): Unit =
    Files.write(out.resolve(name), lines.map(_ + "\n").mkString.getBytes("UTF-8"))
}

/** A workload: a set-up build repeated `rounds` times (the timed phase uses
  * the last), a warm-up, a closed-loop timed phase, and checks after it. */
trait Workload {
  def build(round: Int): Unit
  def warmup(): Unit
  def run(deadlineNs: Long, log: OpLog): Unit
  /** Writes the outputs the checks outside the JVM need and runs the
    * workload's own end-of-run checks; returns their failures. */
  def finish(): Seq[String]
  /** Workload-level counts for the traced report. */
  def counters: Map[String, Double] = Map.empty
}

/** Benchmark process for one workload run. Usage:
  * `Main --workload <name> --plan <plan.json> --out <dir> --seconds <s>
  *   --trace <0|1> --sf-dir <dir> --cpus <n> --rounds <k>` */
object Main {
  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val out = Paths.get(a("out"))
    val cpus = a("cpus").toInt
    val trace = a("trace") == "1"
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.local.dir", out.resolve("tmp").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val listener = if (trace) {
      val l = new JobListener
      spark.sparkContext.addSparkListener(l)
      Some(l)
    } else None
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1e3

    val tracer = new Tracer(trace)
    val plan = org.json4s.jackson.JsonMethods.parse(
      new String(Files.readAllBytes(Paths.get(a("plan"))), "UTF-8"))
    val env = Env(spark, out, a("sf-dir"), cpus, tracer, plan)
    val workload: Workload = a("workload") match {
      case "sql_read" => new SqlRead(env)
      case "commit_mix" => new CommitMix(env)
      case "pipeline_batch" => new PipelineBatch(env)
      case w => throw new IllegalArgumentException(s"unknown workload: $w")
    }

    val buildS = (1 to a("rounds").toInt).map { r =>
      val t0 = System.nanoTime()
      workload.build(r)
      (System.nanoTime() - t0) / 1e9
    }
    val w0 = System.nanoTime()
    workload.warmup()
    val warmupS = (System.nanoTime() - w0) / 1e9

    val sc = spark.sparkContext
    val log = new OpLog(tracer, g =>
      if (g.isEmpty) sc.clearJobGroup() else sc.setJobGroup(g, g))
    val casRetries0 = graft.core.IceTable.casRetryCounter.get()
    tracer.recording = true
    val t0 = System.nanoTime()
    workload.run(t0 + (a("seconds").toDouble * 1e9).toLong, log)
    val timedS = (System.nanoTime() - t0) / 1e9
    tracer.recording = false
    val casRetries = graft.core.IceTable.casRetryCounter.get() - casRetries0
    val peakRssKb = peakRss()

    val checkErrors = workload.finish()
    // host speed, as context only: graft.Bench's fixed CPU calibration job
    val c0 = System.nanoTime()
    spark.range(0L, 200000000L, 1, cpus)
      .select(bit_xor(xxhash64(col("id")))).head()
    val calibS = (System.nanoTime() - c0) / 1e9

    env.write("ops.jsonl", log.all.map(_.json))
    listener.foreach { l =>
      org.apache.spark.PerfbenchBridge.drainListenerBus(sc)
      env.write("spans.jsonl", tracer.all.map(Json(_)))
      env.write("jobs.jsonl", l.all.map(Json(_)))
    }
    val rt = Runtime.getRuntime
    env.write("summary.json", Seq(Json(Map(
      "session_s" -> sessionS, "build_s" -> buildS, "warmup_s" -> warmupS,
      "timed_s" -> timedS, "peak_rss_kb" -> peakRssKb,
      "check_errors" -> checkErrors,
      "counters" -> (workload.counters + ("core.cas_retries" -> casRetries.toDouble)),
      "context" -> Map(
        "host.calib_s" -> calibS,
        "nproc" -> rt.availableProcessors(),
        "spark_master" -> s"local[$cpus]",
        "jvm_max_heap_mb" -> (rt.maxMemory() / (1024 * 1024)),
        "sf_dir" -> env.sfDir,
        "spark_version" -> spark.version,
        "java_version" -> System.getProperty("java.version"))))))
    spark.stop()
  }

  /** Peak resident set of this JVM (VmHWM), in KiB; 0 where /proc is absent. */
  private def peakRss(): Long = {
    val status = Paths.get("/proc/self/status")
    if (!Files.exists(status)) 0L
    else scala.io.Source.fromFile(status.toFile).getLines()
      .find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toLong).getOrElse(0L)
  }
}
