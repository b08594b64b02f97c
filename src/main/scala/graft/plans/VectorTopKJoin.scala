package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan}
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan, SparkStrategy}
import org.apache.spark.sql.types._
import graft.functions.TopKBuffer

/** Fused vector top-k join: the whole-operator form of
  * `corpus × queries → cosine → top-k` (the reference's `knn_query`,
  * services/index_service.py:102-108), expressed as custom plan machinery
  * (LogicalPlan + Strategy + physical operator) because no composition of
  * built-ins avoids materializing a row per (corpus × query) pair.
  *
  * Physical shape: queries are collected (bounded by contract) and
  * broadcast; each corpus partition is scanned ONCE, maintaining one
  * bounded heap per query; partials (queries × k per partition) merge in a
  * single final task. Shuffle volume is partitions × queries × k —
  * independent of corpus size — and no pair row ever exists.
  */
case class VectorTopKJoin(
    queries: LogicalPlan,
    corpus: LogicalPlan,
    k: Int,
    minScore: Double = Double.NegativeInfinity,
    override val output: Seq[Attribute] = VectorTopKJoin.defaultOutput)
  extends BinaryNode {
  override def left: LogicalPlan = queries
  override def right: LogicalPlan = corpus
  // output attrs are generated by this operator, not drawn from children
  override def producedAttributes: org.apache.spark.sql.catalyst.expressions.AttributeSet =
    outputSet
  // The node holds no expressions, so the default `references` is empty
  // and ColumnPruning would prune both children down to nothing under a
  // Project; declare the four columns the physical operator reads.
  override def references: org.apache.spark.sql.catalyst.expressions.AttributeSet =
    org.apache.spark.sql.catalyst.expressions.AttributeSet(
      queries.output.filter(a => a.name == "query_id" || a.name == "qv") ++
        corpus.output.filter(a => a.name == "vec_id" || a.name == "embedding"))
  override protected def withNewChildrenInternal(
      l: LogicalPlan, r: LogicalPlan): VectorTopKJoin =
    copy(queries = l, corpus = r)
}

object VectorTopKJoin {
  def defaultOutput: Seq[Attribute] = Seq(
    AttributeReference("query_id", LongType, nullable = false)(),
    AttributeReference("rank", LongType, nullable = false)(),
    AttributeReference("vec_id", LongType, nullable = false)(),
    AttributeReference("score", DoubleType, nullable = false)())
}

object VectorTopKStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case VectorTopKJoin(q, c, k, min, out) =>
      VectorTopKJoinExec(planLater(q), planLater(c), k, min, out) :: Nil
    case _ => Nil
  }
}

/** Optimizer rule: fold `Filter(score >= θ)` into the fused operator so
  * below-threshold candidates never enter the heaps or the partial
  * shuffle — the batch form of the reference's "keep the hit only when
  * cosine distance < 0.4" gate (qa_service.py:158). */
object PushThresholdIntoVectorTopK
    extends org.apache.spark.sql.catalyst.rules.Rule[LogicalPlan] {
  import org.apache.spark.sql.catalyst.expressions.{GreaterThan, GreaterThanOrEqual, Literal}
  import org.apache.spark.sql.catalyst.plans.logical.Filter

  // The residual filter always stays: heap pruning at the raw threshold is
  // conservative (emitted scores are floor-truncated, floored <= raw), and
  // because scores are monotone in rank the pruned rows are a rank suffix,
  // so surviving ranks are identical either way.
  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    case f @ Filter(cond, vtj: VectorTopKJoin) =>
      val scoreAttr = vtj.output.find(_.name == "score").get
      cond match {
        case GreaterThanOrEqual(a: Attribute, Literal(v: Double, DoubleType))
            if a.semanticEquals(scoreAttr) =>
          f.copy(child = vtj.copy(minScore = math.max(vtj.minScore, v)))
        case GreaterThan(a: Attribute, Literal(v: Double, DoubleType))
            if a.semanticEquals(scoreAttr) =>
          f.copy(child = vtj.copy(minScore = math.max(vtj.minScore, v)))
        case _ => f
      }
  }
}

case class VectorTopKJoinExec(
    queries: SparkPlan,
    corpus: SparkPlan,
    k: Int,
    minScore: Double,
    override val output: Seq[Attribute])
  extends BinaryExecNode {

  override def left: SparkPlan = queries
  override def right: SparkPlan = corpus
  override def producedAttributes: org.apache.spark.sql.catalyst.expressions.AttributeSet =
    org.apache.spark.sql.catalyst.expressions.AttributeSet(output)
  override protected def withNewChildrenInternal(
      l: SparkPlan, r: SparkPlan): VectorTopKJoinExec =
    copy(queries = l, corpus = r)

  private def fieldIndex(plan: SparkPlan, name: String): Int = {
    val i = plan.output.indexWhere(_.name == name)
    require(i >= 0, s"${plan.nodeName} must produce column '$name'")
    i
  }

  override protected def doExecute(): RDD[InternalRow] = {
    val qidIdx = fieldIndex(queries, "query_id")
    val qvIdx = fieldIndex(queries, "qv")
    val vidIdx = fieldIndex(corpus, "vec_id")
    val embIdx = fieldIndex(corpus, "embedding")

    // queries side is bounded by contract (a search request batch)
    val qRows = FusedTopKSupport.collectQueries(queries, qidIdx, qvIdx)
    val bc = sparkContext.broadcast(qRows)
    val kk = k
    val types = output.map(_.dataType).toArray

    val partials = FusedTopKSupport.partialHeaps(
      corpus, bc, vidIdx, embIdx, kk, minScore, emitMarkers = false)
    // hash-shuffled merge — see FusedTopKSupport for why coalesce(1) is
    // wrong here. Empty heaps emit nothing (the declarative twin explodes
    // the per-group array, so empty groups vanish there too).
    FusedTopKSupport.mergeByQuery(partials,
      FusedTopKSupport.numMergePartitions(qRows.length, conf.numShufflePartitions),
      kk) { merged =>
      val proj = UnsafeProjection.create(types)
      merged.flatMap { case (qid, heap) =>
        heap.sorted.iterator.zipWithIndex.map { case ((s, id), r) =>
          proj(InternalRow(qid, (r + 1).toLong, id, FusedTopKSupport.floorScore(s)))
        }
      }
    }
  }
}
