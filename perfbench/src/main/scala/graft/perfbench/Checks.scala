package graft.perfbench

/** One reference top-k row. */
final case class Hit(rank: Long, id: Long, score: Double)

/** One `search` answer row: (rank, doc_id, score, description). */
final case class SearchRow(rank: Long, id: Long, score: Double, description: String)

/** One `qaContext` answer: best doc, its floored score, and whether the
  * 0.4 distance gate accepted it. */
final case class QaRow(bestId: Long, bestScore: Double, accepted: Boolean)

/** Output checks. Each returns the reasons an answer is wrong; an empty
  * list means it matches the reference. */
object Checks {

  /** Distance gate of `qaContext`. */
  val MaxDistance = 0.4

  /** A `search(q, k)` answer against the batch top-20 for the same query:
    * ids in rank order, exact scores and descriptions, k capped at 20,
    * plus the refresh probes of `req`. */
  def search(req: Request, got: Seq[SearchRow], ref: Seq[Hit],
             text: Long => Option[String]): Seq[String] = {
    val want = ref.take(math.min(req.k, 20))
    val rows =
      if (got.size != want.size) Seq(s"${got.size} rows, want ${want.size}")
      else got.zip(want).flatMap { case (g, w) =>
        Seq(
          (g.rank != w.rank || g.id != w.id) ->
            s"rank ${w.rank}: got doc ${g.id} at rank ${g.rank}, want doc ${w.id}",
          (g.id == w.id && g.score != w.score) ->
            s"doc ${g.id}: score ${g.score}, want ${w.score}",
          (g.id == w.id && !text(g.id).contains(g.description)) ->
            s"doc ${g.id}: description is not the doc's text"
        ).collect { case (true, msg) => msg }
      }
    rows ++ probes(req, got.map(_.id))
  }

  /** A `qaContext(q)` answer against the reference rank-1 hit: same doc,
    * same score, and accepted iff cosine distance < 0.4. A floored score
    * within 1e-6 of the gate does not decide `accepted`, so that part is
    * not checked there. */
  def qa(req: Request, got: Seq[QaRow], ref: Seq[Hit]): Seq[String] =
    (got, ref.headOption) match {
      case (Seq(g), Some(w)) =>
        val gate = 1.0 - MaxDistance
        val decided = w.score <= gate - 1e-6 || w.score > gate
        Seq(
          (g.bestId != w.id) -> s"best doc ${g.bestId}, want ${w.id}",
          (g.bestScore != w.score) -> s"best score ${g.bestScore}, want ${w.score}",
          (decided && g.accepted != (1.0 - w.score < MaxDistance)) ->
            s"accepted=${g.accepted} at score ${w.score}"
        ).collect { case (true, msg) => msg } ++ probes(req, Seq(g.bestId))
      case (rows, _) => Seq(s"${rows.size} answer rows, want 1")
    }

  /** Refresh probes: an edited or appended doc must come back at rank 1;
    * a deleted doc must not come back at all. */
  def probes(req: Request, ids: Seq[Long]): Seq[String] =
    req.expectTop.filterNot(ids.headOption.contains)
      .map(id => s"edited doc $id is not at rank 1 (got ${ids.headOption})").toSeq ++
    req.expectAbsent.filter(ids.contains)
      .map(id => s"deleted doc $id came back").toSeq
}
