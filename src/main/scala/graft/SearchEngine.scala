package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BindReferences, Expression}
import org.apache.spark.sql.catalyst.plans.logical.Project
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.bridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import graft.functions._
import graft.functions.TextFunctions.preprocess
import graft.plans.FusedTopKSupport
import graft.sources.{CorpusFingerprint, Tables}

/** API-level facade: the reference's HTTP surface over the documents table.
  *
  * | reference endpoint            | here            | served from |
  * |-------------------------------|-----------------|-------------|
  * | POST /refresh-index           | [[buildIndex]]  | a lazy batch DataFrame; leaves the serving index alone |
  * | GET /search?q=&k=             | [[search]]      | the serving index, rebuilt first if the corpus changed |
  * | /qa context retrieval (top-1, dist<0.4) | [[qaContext]] | the same |
  * | GET /health                   | [[healthCheck]] | the same: fingerprint check, then n > 0 |
  *
  * Requests are served from an in-memory index on the driver, as the
  * reference answers each request with one in-process `knn_query` over the
  * HNSW index it built once (services/index_service.py:55-108):
  *
  *  - Built by one Spark scan of `documents` (`doc_id`, `text` and its
  *    embedding, collected) and held compactly: one flat `Array[Float]` of
  *    n × dim, the doc ids, per-row norms and the raw texts — about
  *    n × (4·dim + 16 + text bytes), some 3 MB for the 5,000 docs of sf0.1.
  *  - Tagged with the [[CorpusFingerprint]] of `documents.parquet`, taken
  *    before the scan. Every request re-lists the files (a Hadoop FS call,
  *    not a Spark job) and rebuilds the index under a lock only when the
  *    fingerprint moved, so the first request after a corpus change pays
  *    the rebuild and no request ever serves a replaced corpus.
  *  - A request embeds its query with the same `preprocess` + `hash_embed`
  *    expressions, evaluated on the driver, scores every row through the
  *    fused operators' kernel (`FusedTopKSupport.scoreRow`), keeps the best
  *    k (score desc, doc id asc) and answers with a local DataFrame: zero
  *    Spark jobs on an unchanged corpus.
  *
  * The batch operators (`Search.bruteForceTopK`, `fusedTopK`) stay the
  * scale-out path for query batches and corpora that outgrow a driver.
  *
  * Embeddings use the deterministic hashing-trick encoder standing in for
  * the reference's sentence-transformer model.
  */
final class SearchEngine(spark: SparkSession, dir: String, dim: Int = 64) {
  private val t = Tables(spark, dir)

  private def embed(text: Column): Column = hash_embed(preprocess(text), dim)

  /** Clean + embed every document (reference: init_index_service /
    * refresh_index, services/index_service.py:55-114). */
  def buildIndex(): DataFrame =
    t.documents.select(
      col("doc_id"),
      preprocess(col("text")).as("clean_text"),
      embed(col("text")).as("embedding"))

  @volatile private var served: SearchEngine.Index = _

  /** The serving index for the corpus as it is on disk now. */
  private def index(): SearchEngine.Index = {
    val fp = CorpusFingerprint(spark, s"$dir/documents.parquet")
    def current = Option(served).filter(_.fingerprint == fp)
    current.getOrElse(synchronized {
      current.getOrElse {
        served = SearchEngine.Index.build(fp,
          t.documents.select(col("doc_id"), col("text"), embed(col("text"))), dim)
        served
      }
    })
  }

  /** `embed` analyzed once over a one-column relation and bound to its
    * input, so a query is embedded by the very expressions the corpus
    * scan runs, on the driver, with no plan per request. */
  private val queryEmbedding: Expression = {
    val schema = StructType(Seq(StructField("text", StringType)))
    bridge.planOf(spark.createDataFrame(java.util.Collections.emptyList[Row](), schema)
      .select(embed(col("text")))) match {
      case Project(Seq(e), child) => BindReferences.bindReference(e, child.output)
      case p => throw new IllegalStateException(s"unexpected query-embedding plan: $p")
    }
  }

  // interpreted regex expressions keep per-instance state: one caller at a time
  private def embedQuery(text: String): Array[Float] = queryEmbedding.synchronized {
    queryEmbedding.eval(InternalRow(UTF8String.fromString(text)))
      .asInstanceOf[ArrayData].toFloatArray()
  }

  /** Reference: controllers/search_controller.py — k capped at 20, query
    * length capped at 500 chars, score = 1 - cosine distance (floored to
    * 1e-6). Columns: rank, doc_id, score, description. */
  def search(queryText: String, k: Int = 3): DataFrame = {
    require(queryText.trim.nonEmpty, "Query parameter 'q' is required")
    require(queryText.length <= 500, "Query text is too long (max 500 characters)")
    require(k > 0, s"k must be positive, got $k")
    val idx = index()
    val rows = idx.topK(embedQuery(queryText), math.min(k, 20)).zipWithIndex
      .map { case ((s, i), r) =>
        Row((r + 1).toLong, idx.ids(i), FusedTopKSupport.floorScore(s), idx.texts(i))
      }
    spark.createDataFrame(rows.toSeq.asJava, SearchEngine.SearchSchema)
  }

  /** Reference: qa_service.get_product_context_from_query — best match,
    * kept only when cosine distance < 0.4 (on the raw score). Columns:
    * query_id, best_id, best_score, accepted; no row on an empty corpus. */
  def qaContext(queryText: String): DataFrame = {
    val idx = index()
    val rows = idx.topK(embedQuery(queryText), 1).map { case (s, i) =>
      Row(0L, idx.ids(i), FusedTopKSupport.floorScore(s), 1.0 - s < SearchEngine.MaxDistance)
    }
    spark.createDataFrame(rows.toSeq.asJava, SearchEngine.QaSchema)
  }

  /** Reference: controllers/health_controller.py — data reachable and
    * index non-empty. */
  def healthCheck(): Boolean = index().ids.nonEmpty
}

object SearchEngine {
  /** `qaContext` keeps its best match only under this cosine distance. */
  private val MaxDistance = 0.4

  private val SearchSchema = StructType(Seq(
    StructField("rank", LongType, nullable = false),
    StructField("doc_id", LongType),
    StructField("score", DoubleType),
    StructField("description", StringType)))

  private val QaSchema = StructType(Seq(
    StructField("query_id", LongType, nullable = false),
    StructField("best_id", LongType),
    StructField("best_score", DoubleType),
    StructField("accepted", BooleanType)))

  /** The serving index: rows in doc id order, so a row's position breaks
    * score ties exactly as its doc id does. */
  private final class Index(val fingerprint: String, val ids: Array[Long],
                            vecs: Array[Float], norms: Array[Double],
                            val texts: Array[String], dim: Int) {
    /** The best `k` rows for `q` as (raw score, row position), best first. */
    def topK(q: Array[Float], k: Int): Array[(Double, Int)] = {
      val qs = Array((0L, q, FusedTopKSupport.norm(q, 0, q.length)))
      val heaps = Array(new TopKBuffer(k))
      var i = 0
      while (i < ids.length) {
        FusedTopKSupport.scoreRow(qs, heaps, vecs, i * dim, dim, norms(i), i.toLong,
          Double.NegativeInfinity)
        i += 1
      }
      heaps(0).sorted.map { case (s, pos) => (s, pos.toInt) }
    }
  }

  private object Index {
    /** Collect `docs` (doc_id, text, embedding) into an [[Index]]; rows
      * without a doc id are never served, as in the batch top-k. */
    def build(fingerprint: String, docs: DataFrame, dim: Int): Index = {
      val spark = docs.sparkSession
      import spark.implicits._
      val rows = docs.filter(col("doc_id").isNotNull)
        // BOUNDED: the serving index holds the corpus on the driver by
        // design, n × (4·dim + 16 + text bytes); see the class scaladoc
        .as[(Long, String, Array[Float])].collect().sortBy(_._1)
      val vecs = new Array[Float](rows.length * dim)
      val norms = new Array[Double](rows.length)
      rows.iterator.zipWithIndex.foreach { case ((_, _, v), i) =>
        System.arraycopy(v, 0, vecs, i * dim, dim)
        norms(i) = FusedTopKSupport.norm(vecs, i * dim, dim)
      }
      new Index(fingerprint, rows.map(_._1), vecs, norms, rows.map(_._2), dim)
    }
  }
}
