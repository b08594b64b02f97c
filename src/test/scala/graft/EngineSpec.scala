package graft

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.bridge
import graft.functions.hash_embed
import graft.functions.TextFunctions.preprocess
import graft.operators.Search

class EngineSpec extends SparkSuite {

  lazy val engine = new SearchEngine(spark, sfDir)

  /** The batch answers the engine's requests must equal: the per-request
    * plans `SearchEngine` ran before it served from an in-memory index —
    * `bruteForceTopK` (k capped at 20) joined back to the documents for
    * descriptions, and `thresholdRetrieval` at distance 0.4 — for every
    * query in one batch. Keyed by query text. */
  private def batchAnswers(dir: String, texts: Seq[String], k: Int)
      : (Map[String, Seq[Row]], Map[String, Seq[Row]], DataFrame, DataFrame) = {
    import spark.implicits._
    val docs = sources.Tables(spark, dir).documents
    val corpus = docs.select(col("doc_id").as("vec_id"),
      hash_embed(preprocess(col("text")), 64).as("embedding"))
    val q = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("query_id", "text")
      .select(col("query_id"), hash_embed(preprocess(col("text")), 64).as("qv"))
    val search = Search.bruteForceTopK(q, corpus, math.min(k, 20))
      .join(docs.select(col("doc_id").as("vec_id"), col("text")), Seq("vec_id"))
      .select(col("query_id"), col("rank"), col("vec_id").as("doc_id"),
        col("score"), col("text").as("description"))
    val qa = Search.thresholdRetrieval(q, corpus, maxDistance = 0.4)
    def byText(df: DataFrame): Map[String, Seq[Row]] = {
      val rows = df.collect().toSeq.groupBy(_.getLong(0))
      texts.zipWithIndex.map { case (t, i) =>
        t -> rows.getOrElse(i.toLong, Nil).map(r => Row(r.toSeq.tail: _*))
          .sortBy(_.getLong(0))
      }.toMap
    }
    (byText(search), byText(qa), search.drop("query_id"), qa)
  }

  private def columns(df: DataFrame) = df.schema.map(f => f.name -> f.dataType)

  /** Jobs started while `body` runs, after earlier events are drained. */
  private def jobsDuring(body: => Unit): Int = {
    val jobs = new AtomicInteger
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    bridge.drainListenerBus(spark)
    spark.sparkContext.addSparkListener(l)
    try { body; bridge.drainListenerBus(spark) }
    finally spark.sparkContext.removeSparkListener(l)
    jobs.get
  }

  /** `docs` as `dir/documents.parquet`, replacing what is there. */
  private def writeCorpus(dir: String, docs: Seq[(Long, String)]): Unit = {
    import spark.implicits._
    docs.toDF("doc_id", "text").coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
  }

  test("search and qaContext equal the batch top-k over sf0.01, exactly") {
    val dir = new java.io.File(new java.io.File(sfDir).getParentFile, "sf0.01").getPath
    val eng = new SearchEngine(spark, dir)
    val texts = sources.Tables(spark, dir).documents
      .filter(col("doc_id") % 40 === 7).orderBy("doc_id")
      .select("text").as[String](org.apache.spark.sql.Encoders.STRING)
      .collect().map(_.take(120)).toSeq
    val queries = texts ++ Seq(
      "fast hash join on the big table", "window agg", "vector scan filter",
      "THC: 12.5% sativa-dominant hash join", "thc 20 indica dominant stream",
      "cbd:12 window agg", "CBD: 3.5% hybrid-dominant vector table",
      "Spark, SQL & streams!!", "table", "scan scan scan scan",
      "quasar nebula pulsar magnetar",     // off-corpus words
      "!!! ??? ...",                       // embeds to zero: every score ties
      "the a", "customer line part order supplier nation region",
      "merge sort key batch", "slow small group row column",
      "value data query stream", "join join window window")
    assert(queries.size >= 30)
    Seq(1, 3, 20, 25).foreach { k =>
      val (search, qa, searchDf, qaDf) = batchAnswers(dir, queries, k)
      queries.foreach { text =>
        val got = eng.search(text, k)
        assert(columns(got) == columns(searchDf))
        assert(got.collect().toSeq == search(text), s"search('$text', $k)")
        val ctx = eng.qaContext(text)
        assert(columns(ctx) == columns(qaDf))
        assert(ctx.collect().toSeq.map(r => Row(r.toSeq.tail: _*)) == qa(text),
          s"qaContext('$text')")
      }
      if (k == 20) {
        // the zero-vector query ties every doc at 0.0: ranks break by doc id
        val tied = search("!!! ??? ...")
        assert(tied.map(_.getDouble(2)).distinct == Seq(0.0))
        assert(tied.map(_.getLong(1)) == tied.map(_.getLong(1)).sorted)
        // and ties inside a real answer break the same way
        assert(queries.exists { t =>
          search(t).sliding(2).exists(p => p.size == 2 && p(0).getDouble(2) == p(1).getDouble(2))
        })
      }
    }
  }

  test("a corpus rewritten in place is served on the next request") {
    val dir = Files.createTempDirectory("graft-engine-fresh").toString
    val base = sources.Tables(spark, sfDir).documents.select("doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq.sortBy(_._1)
    writeCorpus(dir, base)
    val eng = new SearchEngine(spark, dir)
    val gone = base(5)
    assert(eng.search(gone._2, 3).head().getLong(1) == gone._1)

    val edited = (base(3)._1, "zebra quokka marmoset")
    val appended = (base.map(_._1).max + 1000, "narwhal axolotl pangolin")
    writeCorpus(dir, base.filterNot(_ == gone).map(d => if (d._1 == edited._1) edited else d) :+ appended)

    Seq(edited, appended).foreach { case (id, text) =>
      val top = eng.search(text, 3).head()
      assert(top.getLong(1) == id && top.getString(3) == text)
      assert(eng.qaContext(text).head().getLong(1) == id)
    }
    assert(!eng.search(gone._2, 20).collect().exists(_.getLong(1) == gone._1))
    assert(eng.qaContext(gone._2).head().getLong(1) != gone._1)
  }

  test("second search and qaContext on an unchanged corpus run no Spark job") {
    val eng = new SearchEngine(spark, sfDir)
    // the first request builds the index: that one does run jobs
    assert(jobsDuring(eng.search("window agg", 5).collect()) > 0)
    eng.qaContext("window agg").collect()
    assert(jobsDuring {
      eng.search("fast hash join on the big table", 5).collect()
      eng.qaContext("fast hash join on the big table").collect()
      assert(eng.healthCheck())
    } == 0)
  }

  test("an empty corpus answers with no rows, like the batch top-k") {
    val dir = Files.createTempDirectory("graft-engine-empty").toString
    writeCorpus(dir, Nil)
    val eng = new SearchEngine(spark, dir)
    val (search, qa, _, _) = batchAnswers(dir, Seq("window agg"), 3)
    assert(search("window agg").isEmpty && qa("window agg").isEmpty)
    assert(eng.search("window agg", 3).collect().isEmpty)
    assert(eng.qaContext("window agg").collect().isEmpty)
    assert(!eng.healthCheck())
  }

  test("entry flagship returns search results") {
    val rows = SparkEntry.entry(spark).collect()
    assert(rows.nonEmpty)
    val cols = SparkEntry.entry(spark).columns.toSeq
    assert(cols == Seq("rank", "doc_id", "score", "description"))
  }

  test("search returns k results ordered by rank, scores in [-1,1]") {
    val rows = engine.search("fast hash join on the big table", k = 5).collect()
    assert(rows.length == 5)
    assert(rows.map(_.getLong(0)).toSeq == (1L to 5L))
    val scores = rows.map(_.getDouble(2))
    assert(scores.forall(s => s >= -1.0 && s <= 1.0))
    assert(scores.sameElements(scores.sorted.reverse)) // best first
  }

  test("search caps k at 20 (reference: search_controller.py k=min(k,20))") {
    assert(engine.search("table scan", k = 100).count() == 20)
  }

  test("search validates query text like the reference controller") {
    intercept[IllegalArgumentException](engine.search("   "))
    intercept[IllegalArgumentException](engine.search("x" * 501))
  }

  test("qaContext gates on distance < 0.4") {
    val row = engine.qaContext("fast hash join on the big table")
      .collect().head
    assert(!row.isNullAt(1))                 // best match always reported
    val accepted = row.getBoolean(3)
    val score = row.getDouble(2)
    assert(accepted == (1.0 - score < 0.4 + 1e-6) ||
           accepted == (1.0 - score < 0.4)) // gate consistent with score
  }

  test("healthCheck") {
    assert(engine.healthCheck())
  }

  test("queries and oracles are in 1:1 correspondence") {
    val orphanOracles = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(orphanOracles.isEmpty, s"oracle without query: $orphanOracles")
    // a query without an oracle silently downgrades to the driver's
    // rows-only check — every operator this library claims must carry
    // the full hash oracle
    val unchecked = SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet
    assert(unchecked.isEmpty, s"query without oracle: $unchecked")
  }

  test("bench phase rows live outside every catalog namespace") {
    // phase rows decompose a headline row's wall — they must never leak
    // into the correctness catalog (no oracle) and the '#' convention
    // keeps them unambiguous in any key listing
    SparkEntry.benchPhases.keys.foreach { k =>
      assert(k.contains("#"), s"phase row without '#': $k")
      assert(k.split("#")(0).nonEmpty &&
        SparkEntry.queries.contains(k.split("#")(0)) ||
        k.startsWith("dedup_shingles"),
        s"phase row's parent is not a catalog row: $k")
      assert(!SparkEntry.queries.contains(k), s"phase key collides: $k")
      assert(!SparkEntry.oracleSql.contains(k),
        s"phase row grew an oracle (it must stay bench-only): $k")
    }
  }

  test("graft expressions callable from spark.sql after registration") {
    GraftSql.register(spark)
    val got = spark.sql(
      """SELECT cosine_similarity(array(cast(1.0 as float), cast(2.0 as float), cast(3.0 as float)),
        |                         array(cast(3.0 as float), cast(2.0 as float), cast(1.0 as float))) AS c,
        |       l2_norm(array(cast(3.0 as float), cast(4.0 as float))) AS n,
        |       poly_fingerprint('ab') AS fp""".stripMargin).head()
    assert(math.abs(got.getDouble(0) - 10.0 / 14.0) < 1e-12)
    assert(got.getDouble(1) == 5.0)
    assert(got.getLong(2) == 'a'.toLong * 31 + 'b'.toLong)
  }

  test("GraftExtensions installs all functions without error") {
    new GraftExtensions().apply(new org.apache.spark.sql.SparkSessionExtensions)
  }

  test("rag chunk key: a >48k-token book never collides into the next doc") {
    import spark.implicits._
    // 1000 chunks at stride 48 → chunk_id reaches 1000; under the old
    // doc_id*1000 key, doc 0's chunk 1000 stole doc 1's chunk 0 id.
    // Under doc_id*2³² every doc owns a disjoint id block.
    val book = (0 until 48 * 1001).map(i => s"t$i").mkString(" ")
    val docs = Seq((0L, book), (1L, "short doc here")).toDF("doc_id", "text")
    val ids = operators.TextAnalysis.chunks(docs)
      .select((col("doc_id") * lit(4294967296L) + col("chunk_id"))
        .as("vec_id"), col("doc_id"))
      .as[(Long, Long)].collect()
    assert(ids.length == ids.map(_._1).distinct.length, "vec_id collision")
    // every vec_id decodes back to exactly its own document
    assert(ids.forall { case (v, d) => v / 4294967296L == d },
      "chunk escaped its doc's id block")
    assert(ids.count(_._2 == 0L) > 1000, "long doc must exceed 1000 chunks")
  }

  test("multimodal feature extraction: schema and determinism") {
    val t = sources.Tables(spark, sfDir)
    val f = multimodal.Multimodal.documentFeatures(t.documents)
    assert(f.columns.toSeq ==
      Seq("doc_id", "n_bytes", "checksum", "width", "height", "features"))
    val twice = multimodal.Multimodal.documentFeatures(t.documents)
    assert(f.orderBy(col("doc_id")).collect()
      .sameElements(twice.orderBy(col("doc_id")).collect()))
    val row = f.orderBy(col("doc_id")).head()
    assert(row.getSeq[Float](5).length == 8)
    assert(row.getLong(1) > 0)
  }

  test("multimodal frame sampling: bounded fan-out, per-frame hashes, thumbs") {
    val t = sources.Tables(spark, sfDir)
    val nDocs = t.documents.count()
    val fr = multimodal.Multimodal.documentFrames(t.documents, nFrames = 4)
    assert(fr.count() == nDocs * 4)
    // each doc yields 4 distinct frame indexes with distinct hashes
    val perDoc = fr.groupBy(col("doc_id"))
      .agg(countDistinct(col("frame_idx")).as("ni"),
           countDistinct(col("frame_hash")).as("nh"))
    assert(perDoc.filter(col("ni") =!= 4L).count() == 0)
    assert(perDoc.filter(col("nh") =!= 4L).count() == 0)
    // thumbnails are the half-resolution resize with a floor of 8
    val bad = fr.filter(
      col("thumb_w") =!= greatest(lit(8), (col("width") / 2).cast("int")) ||
      col("thumb_h") =!= greatest(lit(8), (col("height") / 2).cast("int")))
    assert(bad.count() == 0)
  }
}
