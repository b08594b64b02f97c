package graft.perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.SearchEngine
import graft.functions.hash_embed
import graft.functions.TextFunctions.preprocess
import graft.sources.Tables

/** One timed operation: a request, a refresh, or a catalog key. */
final case class Op(id: Long, kind: String, ms: Double, failures: Seq[String],
                    resultRows: Long)

/** A workload: set up (repeated, the median reported), then a measured
  * loop, then, in traced runs only, probes of single layers. */
abstract class Workload(val spark: SparkSession, val tracer: Tracer,
                        val seed: Long) {
  /** Directory holding the workload's parquet tables. */
  def dir: String

  /** Tables the workload reads; the `sources` layer opens each. */
  def tables: Seq[String]

  /** Write the workload's inputs: the first half of one set-up. */
  def prepare(rep: Int): Unit

  /** Warm the engine on the prepared inputs: the second half. The last
    * set-up leaves the state `measure` runs on. */
  def warm(): Unit

  /** Run timed operations for about `seconds` of operation time. */
  def measure(seconds: Int): Vector[Op]

  /** Lines for the summary: anything a reader needs beyond the metrics. */
  def summary(ops: Vector[Op]): Seq[(String, String)] = Nil

  private var nextOp = 0L
  protected def newOp(): Long = { nextOp += 1; nextOp }

  /** `body`'s result and its wall time in milliseconds. */
  protected def clock[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = body
    (a, (System.nanoTime() - t0) / 1e6)
  }

  /** Run a DataFrame action as construct, plan and execute spans. With
    * `plan`, the physical plan is forced explicitly before `run`; `collect`
    * reuses it, so the untraced and traced paths do the same work. A noop
    * write plans a new query of its own, so there `plan` is off and the
    * planning stays inside execute. */
  protected def traced[A](op: Long, kind: String, plan: Boolean = true)
                         (build: => DataFrame)(run: DataFrame => A): A =
    if (!tracer.enabled) run(build)
    else tracer.span(op, kind) {
      val df = tracer.span(op, "construct")(build)
      if (plan) tracer.span(op, "plan")(df.queryExecution.executedPlan)
      tracer.span(op, "execute")(run(df))
    }

  protected def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** Traced runs only: open each table, then open it again. Runs right
    * after the first set-up writes the inputs, before anything reads them. */
  def probeSources(): Unit =
    tables.foreach { t =>
      Seq("open", "reopen").foreach { phase =>
        tracer.span(-1, s"$phase:$t")(Workload.open(t)(Tables(spark, dir)).schema)
      }
    }

  /** Traced runs only, after the measured loop: `preprocess` +
    * `hash_embed` over the corpus to the noop sink, median of three
    * passes, as documents per second. */
  def probeFunctions(): Double = {
    val docs = Tables(spark, dir).documents.count().toDouble
    val secs = (1 to 3).map { _ =>
      clock(tracer.span(-2, "functions") {
        noop(Tables(spark, dir).documents.select(preprocess(col("text")),
          hash_embed(preprocess(col("text")), 64)))
      })._2 / 1e3
    }
    docs / Stats.median(secs)
  }

  /** The refresh endpoint (`buildIndex()` to the noop sink), three times,
    * when the measured loop ran none. */
  def probeRefresh(): Unit =
    (1 to 3).foreach { _ =>
      val op = newOp()
      traced(op, "refresh", plan = false)(new SearchEngine(spark, dir).buildIndex())(noop)
    }
}

object Workload {
  /** Set-ups in one run; `setup_s` reports their median. */
  val SetupReps = 3

  /** Table accessors of `graft.sources.Tables`, by table name. */
  val open: Map[String, Tables => DataFrame] = Map(
    "region" -> (_.region), "nation" -> (_.nation),
    "customer" -> (_.customer), "supplier" -> (_.supplier),
    "part" -> (_.part), "orders" -> (_.orders),
    "lineitem" -> (_.lineitem), "events" -> (_.events),
    "documents" -> (_.documents), "embeddings" -> (_.embeddings))
}
