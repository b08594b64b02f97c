package graft.perfbench

import java.io.File
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._
import graft.SearchEngine
import graft.functions.hash_embed
import graft.functions.TextFunctions.preprocess
import graft.operators.Search

/** The reference's request path, `SearchEngine.search` / `qaContext`, in a
  * closed loop: one client thread, no think time.
  *
  *  - `qa_search` serves the sf0.1 corpus ([[Data.source]], 5,000 docs)
  *    and, after the loop, calls the refresh endpoint on it
  *    [[Qa.Refreshes]] times.
  *  - `qa_refresh` serves a 10,000-doc corpus (two `ScaleUp`-style
  *    replicas of it) and, after every [[Qa.Segment]] requests, rewrites
  *    `documents.parquet` in place with a seeded 1% edit and calls the
  *    refresh endpoint, `buildIndex()` to the noop sink. */
final class Qa(spark: SparkSession, tracer: Tracer, seed: Long, work: File,
               val refresh: Boolean) extends Workload(spark, tracer, seed) {
  var dir: String = _
  val tables: Seq[String] = Seq("documents")

  private var base = Vector.empty[Doc]
  private var engine: SearchEngine = _

  /** Read the sf0.1 corpus and lay it out under a fresh path: copied
    * as is for `qa_search` (one file), written as [[Qa.Replicas]]
    * replicas in one file each, as `graft.ScaleUp` writes them, for
    * `qa_refresh`. */
  def prepare(rep: Int): Unit = {
    val docs = Data.readDocs(spark, Data.source.getPath)
    base = if (refresh) Gen.replicate(docs, Qa.Replicas) else docs
    dir = new File(work, s"corpus-$rep").getPath
    if (refresh) Data.writeDocs(spark, dir, base, Qa.Replicas)
    else Data.copyTree(Data.source, new File(dir, "documents.parquet"))
    engine = new SearchEngine(spark, dir)
  }

  def warm(): Unit = {
    Gen.requests(seed + 1, base, 2).foreach(r => serve(0L, r))
    if (refresh) engine.buildIndex().write.format("noop").mode("overwrite").save()
  }

  private def serve(op: Long, req: Request): Either[Seq[SearchRow], Seq[QaRow]] =
    if (req.kind == "search")
      Left(traced(op, "search")(engine.search(req.text, req.k))(_.collect().toSeq)
        .map(r => SearchRow(r.getLong(0), r.getLong(1), r.getDouble(2), r.getString(3))))
    else
      Right(traced(op, "qa")(engine.qaContext(req.text))(_.collect().toSeq)
        .map(r => QaRow(r.getLong(1), r.getDouble(2), r.getBoolean(3))))

  /** The batch answer for one corpus version: `Search.bruteForceTopK` with
    * k = 20 over the docs as the benchmark holds them (not over the table
    * the engine reads),
    * one query row per distinct request text. */
  private def reference(docs: Vector[Doc], reqs: Seq[Request]): Map[String, Vector[Hit]] =
    tracer.span(0, "check") {
      import spark.implicits._
      val texts = reqs.map(_.text).distinct
      val queries = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("query_id", "text")
        .select(col("query_id"), hash_embed(preprocess(col("text")), 64).as("qv"))
      val corpus = Data.docsFrame(spark, docs)
        .select(col("doc_id").as("vec_id"),
          hash_embed(preprocess(col("text")), 64).as("embedding"))
      val hits = Search.bruteForceTopK(queries, corpus, 20).collect().toVector
        .map((r: Row) => r.getLong(0) -> Hit(r.getLong(1), r.getLong(2), r.getDouble(3)))
      val byQuery = hits.groupBy(_._1).map { case (q, hs) => q -> hs.map(_._2).sortBy(_.rank) }
      texts.zipWithIndex.map { case (t, i) => t -> byQuery.getOrElse(i.toLong, Vector.empty) }.toMap
    }

  private def request(req: Request, ref: Map[String, Vector[Hit]],
                      text: Map[Long, String]): Op = {
    val op = newOp()
    val (answer, ms) = clock {
      try Right(serve(op, req))
      catch { case scala.util.control.NonFatal(e) => Left(s"failed: $e") }
    }
    answer match {
      case Left(err) => Op(op, req.kind, ms, Seq(err), 0)
      case Right(Left(rows)) =>
        Op(op, req.kind, ms, Checks.search(req, rows, ref(req.text), text.get), rows.size)
      case Right(Right(rows)) =>
        Op(op, req.kind, ms, Checks.qa(req, rows, ref(req.text)), rows.size)
    }
  }

  /** One call of the refresh endpoint, `buildIndex()` to the noop sink. */
  private def refreshOp(): Op = {
    val op = newOp()
    val (failures, ms) = clock {
      try {
        traced(op, "refresh", plan = false)(engine.buildIndex())(noop)
        Nil
      } catch { case scala.util.control.NonFatal(e) => Seq(s"failed: $e") }
    }
    Op(op, "refresh", ms, failures, 0)
  }

  def measure(seconds: Int): Vector[Op] = {
    val limit = seconds * 1000.0
    val ops = Vector.newBuilder[Op]
    var spent = 0.0
    var docs = base
    var text = docs.map(d => d.id -> d.text).toMap
    // untimed: the set-ups' few requests leave the JIT still compiling
    Gen.requests(seed + 2, docs, Qa.Settle).foreach(r => serve(0L, r))
    if (!refresh) {
      val pool = Gen.requests(seed, docs, Qa.Pool)
      val ref = reference(docs, pool)
      var i = 0
      // at least one qaContext, however short the run
      while (spent < limit || i < 4) {
        val o = request(pool(i % pool.size), ref, text)
        ops += o; spent += o.ms; i += 1
      }
      // the corpus is unchanged, so these refreshes are outside `seconds`
      (1 to Qa.Refreshes).foreach(_ => ops += refreshOp())
    } else {
      var version = 0
      var segment = Gen.requests(seed, docs, Qa.Segment)
      while (spent < limit) {
        val ref = reference(docs, segment)
        segment.foreach { r =>
          val o = request(r, ref, text)
          ops += o; spent += o.ms
        }
        // at least one refresh, however short the run
        if (spent < limit || version == 0) {
          version += 1
          val (next, log) = Gen.edit(seed, version, docs)
          tracer.span(0, "check")(Data.writeDocs(spark, dir, next, Qa.Replicas))
          val o = refreshOp()
          ops += o; spent += o.ms
          segment = Gen.refreshSegment(seed, version, docs, next, log, Qa.Segment)
          docs = next
          text = docs.map(d => d.id -> d.text).toMap
        }
      }
    }
    ops.result()
  }

  override def summary(ops: Vector[Op]): Seq[(String, String)] =
    Seq("corpus_docs" -> base.size.toString)
}

object Qa {
  /** Copies of the sf0.1 corpus `qa_refresh` serves. With one file a
    * replica, each request embeds the corpus in two parallel tasks; in one
    * file (one task), request latency swung by 35% between runs. */
  val Replicas = 2
  /** Distinct requests `qa_search` cycles through. */
  val Pool = 400
  /** Requests served between two refreshes of `qa_refresh`: 4 gives
    * 5-6 refreshes in a 25-second run, enough for a steady median. */
  val Segment = 4
  /** Refreshes `qa_search` times after its request loop. A refresh runs
    * as one task (one file, one split), so single refreshes vary more
    * than requests do. */
  val Refreshes = 6
  /** Untimed requests between the set-ups and the measured loop. */
  val Settle = 8
}
