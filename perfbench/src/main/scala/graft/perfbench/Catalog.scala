package graft.perfbench

import java.io.File
import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._
import scala.util.hashing.MurmurHash3
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import graft.SparkEntry

/** Batch analytics: a frozen list of `SparkEntry.queries` rows, each run
  * once to the noop sink after `graft.Bench`'s warm-up, over the sf0.1
  * test data (`--data`, the directory `graft.Bench` reads). The seed fixes
  * the key order; every key's output fingerprint is checked against
  * [[Catalog.expected]]. */
final class Catalog(spark: SparkSession, tracer: Tracer, seed: Long, work: File)
    extends Workload(spark, tracer, seed) {
  private val source = new File(sys.props.getOrElse("perfbench.data",
    sys.error("catalog needs --data <directory of the sf0.1 tables>")))
  require(new File(source, "lineitem.parquet").exists, s"no lineitem.parquet in $source")
  var dir: String = source.getPath
  val tables: Seq[String] = Workload.open.keys.toSeq.sorted

  private val queries = SparkEntry.queries

  /** Each set-up copies the tables to a fresh path, so nothing the
    * program keys by path or by file fingerprint carries over. */
  def prepare(rep: Int): Unit = {
    val to = new File(work, s"tables-$rep")
    Data.copyTree(source, to)
    dir = to.getPath
  }

  /** `graft.Bench`'s warm-up: one relational and one text query (none of
    * the keys here has a build-once artifact for it to warm). */
  def warm(): Unit = {
    Seq("q1_agg", "text_tokens").foreach(k => queries(k)(spark, dir).count())
    unpersistAll()
  }

  private def unpersistAll(): Unit =
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))

  /** Planning phases of every query Spark finished, as (start, end) wall
    * milliseconds; traced runs only. */
  private val planned = new ConcurrentLinkedQueue[(Long, Long)]
  if (tracer.enabled) spark.listenerManager.register(new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
      Seq("optimization", "planning").flatMap(qe.tracker.phases.get)
        .foreach(p => planned.add((p.startTimeMs, p.endTimeMs)))
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
  })

  private var fingerprints = Vector.empty[(String, Long, BigDecimal)]

  /** Run every key once, collected and fingerprinted against
    * [[Catalog.expected]]: the output check, and the warm-up that makes
    * the timed pass independent of the seeded key order. */
  private def check(key: String): Seq[String] =
    try {
      val (rows, hash) = tracer.span(0, "check")(Catalog.fingerprint(queries(key)(spark, dir)))
      fingerprints :+= ((key, rows, hash))
      val want = Catalog.expected.get(key)
      if (want.contains((rows, hash))) Nil
      else Seq(s"fingerprint $rows/$hash, want ${want.getOrElse("none")}")
    } catch {
      case scala.util.control.NonFatal(e) => Seq(s"check run failed: $e")
    } finally unpersistAll()

  def measure(seconds: Int): Vector[Op] = {
    val order = Gen.keyOrder(seed, Catalog.Keys)
    val checked = order.map(k => k -> check(k)).toMap
    order.map { key =>
      System.gc()
      tracer.drain()
      planned.clear()
      val op = newOp()
      val (failure, ms) = clock {
        try { traced(op, key, plan = false)(queries(key)(spark, dir))(noop); Nil }
        catch { case scala.util.control.NonFatal(e) => Seq(s"failed: $e") }
      }
      if (tracer.enabled) {
        tracer.drain()
        tracer.find(op, "execute").foreach { ex =>
          planned.asScala.foreach { case (a, b) => tracer.addChild(ex, "plan", a, b) }
        }
        planned.clear()
      }
      unpersistAll()
      Op(op, key, ms, failure ++ checked(key),
        fingerprints.find(_._1 == key).fold(0L)(_._2))
    }
  }

  override def summary(ops: Vector[Op]): Seq[(String, String)] =
    Seq("keys" -> ops.map(o => f"${o.kind}=${o.ms}%.0f").mkString(" "),
      "fingerprints" -> fingerprints.map { case (k, r, h) => s"$k\t$r\t$h" }.mkString(";"))
}

object Catalog {
  /** Every key under 1,000 shuffle records at sf0.1 (overhead-bound),
    * every key at or above 100,000 (shuffle-bound), trimmed to fit the
    * run, plus the rows of the reference's own surface. */
  val Keys: Seq[String] = Seq(
    // overhead-bound
    "q6_filter", "q9_argmax", "q_histogram", "q_knn_filtered", "q_knn_fused",
    "q_sign_search", "q_pq_search", "q_anomaly",
    // shuffle-bound
    "q3_topk", "q5_semijoin", "q_scd2", "q_gap_stats", "q_transition",
    // the reference's surface
    "q_preprocess", "q_embed", "q_knn", "q_knn_threshold", "q_qa_context",
    "q_topic_change", "q_sessionize")

  /** Order-free output fingerprint: row count and the sum of a 64-bit
    * hash of each row's text form. The rows are the key's own plan
    * collected, not a projection of it, so the check runs the plan that is
    * timed. */
  def fingerprint(df: DataFrame): (Long, BigDecimal) = {
    var rows = 0L
    var sum = BigInt(0)
    df.collect().foreach { r =>
      val s = r.toString
      val h = (MurmurHash3.stringHash(s, 0x9e3779b9).toLong << 32) |
        (MurmurHash3.stringHash(s, 0x7f4a7c15).toLong & 0xffffffffL)
      rows += 1
      sum += h
    }
    (rows, BigDecimal(sum))
  }

  /** Fingerprints of every key on the sf0.1 tables, as recorded from this
    * benchmark's first version: `key<TAB>rows<TAB>hash` lines. */
  lazy val expected: Map[String, (Long, BigDecimal)] = {
    val src = scala.io.Source.fromFile(new File(sys.props("perfbench.home"),
      "catalog_fingerprints.tsv"), "UTF-8")
    try src.getLines().filter(_.nonEmpty).map { l =>
      val Array(k, rows, hash) = l.split('\t')
      k -> (rows.toLong, BigDecimal(hash))
    }.toMap
    finally src.close()
  }
}
