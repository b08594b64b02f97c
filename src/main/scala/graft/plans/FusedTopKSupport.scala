package graft.plans

import org.apache.spark.HashPartitioner
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.SparkPlan
import graft.functions.TopKBuffer

/** Shared scan/merge machinery for the two fused top-k physical operators
  * ([[VectorTopKJoinExec]], [[VectorTopKAggExec]]); the per-row scoring
  * kernel also serves `SearchEngine`'s in-memory index.
  *
  * Scan: each corpus partition is read ONCE, maintaining one bounded heap
  * per query row; partials are (qid, score, id) tuples — partitions ×
  * queries × k of them, independent of corpus size.
  *
  * Merge: partials are hash-SHUFFLED by query id and merged per group.
  * A `coalesce(1)` here would be wrong twice over: it is a narrow
  * dependency, so it would collapse the corpus scan itself into a single
  * task (not just the merge), and even as a merge it routes partitions ×
  * queries × k tuples through one task. Small query batches still merge
  * in one partition (one shuffle target, trivial data) so their output
  * stays globally qid-ordered; large batches fan out to
  * min(shufflePartitions, queries) merge tasks, each emitting its owned
  * qids in sorted order.
  */
private[graft] object FusedTopKSupport {

  /** Query batches up to this size merge in a single partition (globally
    * ordered output); beyond it the merge distributes by qid. */
  val SmallQueryBatch = 64

  def numMergePartitions(nQueries: Int, shufflePartitions: Int): Int =
    if (nQueries <= SmallQueryBatch) 1
    else math.max(1, math.min(shufflePartitions, nQueries))

  /** Collected query rows: (qid, vector, norm). */
  def collectQueries(queries: SparkPlan, qidIdx: Int, qvIdx: Int)
      : Array[(Long, Array[Float], Double)] =
    queries.executeCollect().map { row =>
      val vec = row.getArray(qvIdx).toFloatArray()
      (row.getLong(qidIdx), vec, norm(vec, 0, vec.length))
    }

  /** L2 norm of `v(off until off + n)`, squares summed in double left to
    * right — the [[graft.functions.CosineSimilarity]] accumulation. */
  def norm(v: Array[Float], off: Int, n: Int): Double = {
    var s = 0.0
    var i = 0
    while (i < n) { val x = v(off + i).toDouble; s += x * x; i += 1 }
    math.sqrt(s)
  }

  /** The scan kernel: cosine of one corpus vector `v(off until off + n)`
    * (norm `vNorm`, id `vid`) against every query in `qs`, each score
    * `>= minScore` offered to that query's heap. Dot products accumulate
    * in double left to right over the shorter of the two vectors, and a
    * zero norm on either side scores 0.0 — [[graft.functions.CosineSimilarity]]'s
    * arithmetic. The fused operators and `SearchEngine`'s serving index
    * both score through here, so their results cannot drift apart. */
  def scoreRow(qs: Array[(Long, Array[Float], Double)], heaps: Array[TopKBuffer],
               v: Array[Float], off: Int, n: Int, vNorm: Double, vid: Long,
               minScore: Double): Unit = {
    var q = 0
    while (q < qs.length) {
      val (_, qv, qNorm) = qs(q)
      val d = math.min(n, qv.length)
      var dot = 0.0
      var i = 0
      while (i < d) { dot += qv(i).toDouble * v(off + i).toDouble; i += 1 }
      val score =
        if (qNorm == 0.0 || vNorm == 0.0) 0.0
        else dot / (qNorm * vNorm)
      if (score >= minScore) heaps(q).add(score, vid)
      q += 1
    }
  }

  /** Output score: floored to the 1e-6 grid for engine-portable results. */
  def floorScore(s: Double): Double = math.floor(s * 1e6) / 1e6

  /** One corpus pass → keyed partial heap entries (qid -> (score, id)).
    *
    * When `emitMarkers` is set, a partition that saw at least one corpus
    * row (null or not) emits a NaN-scored marker for every query whose
    * heap stayed empty. The markers let the merge reproduce exact
    * group-by semantics: a group exists for every query as soon as the
    * corpus has ANY row (even an all-null one), and emits an empty top-k
    * array — while a truly empty corpus produces no groups at all.
    * [[VectorTopKJoinExec]] does not need them (its contract explodes the
    * array, so empty groups vanish anyway). */
  def partialHeaps(
      corpus: SparkPlan,
      bc: Broadcast[Array[(Long, Array[Float], Double)]],
      vidIdx: Int, embIdx: Int, k: Int, minScore: Double,
      emitMarkers: Boolean): RDD[(Long, (Double, Long))] =
    corpus.execute().mapPartitions { it =>
      val qs = bc.value
      val heaps = Array.fill(qs.length)(new TopKBuffer(k))
      var sawRows = false
      it.foreach { row =>
        sawRows = true
        // null-skip mirrors the declarative path (null-safe Catalyst
        // eval + TopKByScore null skip)
        if (!row.isNullAt(vidIdx) && !row.isNullAt(embIdx)) {
          val ev = row.getArray(embIdx).toFloatArray()
          scoreRow(qs, heaps, ev, 0, ev.length, norm(ev, 0, ev.length),
            row.getLong(vidIdx), minScore)
        }
      }
      heaps.iterator.zipWithIndex.flatMap { case (h, q) =>
        val entries = h.sorted
        if (entries.nonEmpty)
          entries.iterator.map { case (s, id) => (qs(q)._1, (s, id)) }
        else if (emitMarkers && sawRows)
          Iterator((qs(q)._1, (Double.NaN, 0L)))
        else Iterator.empty
      }
    }

  /** Shuffle partials by qid and stream each merge partition through
    * `emit`, which receives (qid → merged heap) pairs in ascending qid
    * order. NaN markers establish the group but add nothing to the heap. */
  def mergeByQuery(
      partials: RDD[(Long, (Double, Long))],
      numPartitions: Int, k: Int)(
      emit: Iterator[(Long, TopKBuffer)] => Iterator[InternalRow])
      : RDD[InternalRow] =
    partials.partitionBy(new HashPartitioner(numPartitions))
      .mapPartitions { it =>
        val heaps = scala.collection.mutable.LinkedHashMap.empty[Long, TopKBuffer]
        it.foreach { case (qid, (s, id)) =>
          val h = heaps.getOrElseUpdate(qid, new TopKBuffer(k))
          if (!java.lang.Double.isNaN(s)) h.add(s, id)
        }
        emit(heaps.toArray.sortBy(_._1).iterator)
      }
}
