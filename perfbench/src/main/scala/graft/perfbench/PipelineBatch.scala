package graft.perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.Row
import org.apache.spark.sql.types.StructType
import org.json4s._

import graft.{SparkEntry, Tables}

/** `pipeline_batch`: whole passes over a fixed set of LLM-data and streaming
  * gates of `SparkEntry.queries`, in a seeded order per pass. Each gate's
  * first answer is written out for the DuckDB oracle check; every later
  * answer must equal it. */
final class PipelineBatch(env: Env) extends Workload {
  import env._
  private val gates = (plan \ "gates").children.collect { case JString(g) => g }
  private val passes = (plan \ "passes").children.map(_.children.collect { case JString(g) => g })
  private val first = mutable.LinkedHashMap.empty[String, (StructType, Array[Row])]

  /** Loads the gates' input tables; the gates read them from the same files. */
  def build(round: Int): Unit =
    Seq("documents", "embeddings", "lineitem", "events").foreach(Tables.load(spark, sfDir, _).count())

  private def exec(gate: String): (StructType, Array[Row]) = {
    val df = tracer.span("gate", s"gate.$gate")(SparkEntry.queries(gate)(spark, sfDir))
    (df.schema, tracer.span("exec", "collect")(df.collect()))
  }

  def warmup(): Unit = gates.foreach(exec)

  def run(deadlineNs: Long, log: OpLog): Unit =
    passes.iterator.takeWhile(_ => System.nanoTime() < deadlineNs).foreach { pass =>
      pass.foreach { g =>
        log.run("read", g, "gate")(exec(g))({ case (schema, rows) =>
          first.get(g) match {
            case None => first(g) = (schema, rows); None
            case Some((_, want)) =>
              if (multiset(rows) == multiset(want)) None
              else Some(s"$g: answer differs from its first answer in this run")
          }
        })
      }
    }

  private def multiset(rows: Array[Row]): Seq[String] =
    rows.toSeq.map(r => Json(Rows.canonical(r))).sorted

  def finish(): Seq[String] = {
    first.foreach { case (g, (schema, rows)) =>
      spark.createDataFrame(rows.toSeq.asJava, schema).coalesce(1)
        .write.parquet(out.resolve("gates").resolve(g).toString)
    }
    env.write("oracle.json", Seq(Json(first.keys.map(g => g -> SparkEntry.oracleSql(g)).toMap)))
    Nil
  }
}
