package graft.perfbench

import org.scalatest.funsuite.AnyFunSuite

class ChecksSpec extends AnyFunSuite {

  private val ref = (1 to 20).map(i => Hit(i.toLong, 100L + i, 1.0 - i / 100.0)).toVector
  private val text: Long => Option[String] = id => Some(s"doc $id")
  private def answer(k: Int) =
    ref.take(math.min(k, 20)).map(h => SearchRow(h.rank, h.id, h.score, s"doc ${h.id}"))

  test("a correct search answer passes, k capped at 20") {
    assert(Checks.search(Request("search", "q", 5), answer(5), ref, text).isEmpty)
    assert(Checks.search(Request("search", "q", 25), answer(25), ref, text).isEmpty)
  }

  test("planted wrong answers are failures") {
    val req = Request("search", "q", 5)
    val good = answer(5)
    val swapped = good.updated(1, good(1).copy(id = 999L))
    assert(Checks.search(req, swapped, ref, text).nonEmpty)
    val scored = good.updated(2, good(2).copy(score = good(2).score + 1e-6))
    assert(Checks.search(req, scored, ref, text).nonEmpty)
    val described = good.updated(0, good(0).copy(description = "stale text"))
    assert(Checks.search(req, described, ref, text).nonEmpty)
    assert(Checks.search(req, good.take(4), ref, text).nonEmpty)
    assert(Checks.search(Request("search", "q", 25), answer(25) :+ answer(25).last,
      ref, text).nonEmpty)
  }

  test("a stale doc is a failure: deleted doc back, edited doc not first") {
    val good = answer(3)
    val deleted = Request("search", "q", 3, expectAbsent = Some(good(2).id))
    assert(Checks.search(deleted, good, ref, text).exists(_.contains("deleted")))
    val edited = Request("search", "q", 3, expectTop = Some(4242L))
    assert(Checks.search(edited, good, ref, text).exists(_.contains("edited")))
    assert(Checks.search(Request("search", "q", 3, expectTop = Some(good.head.id)),
      good, ref, text).isEmpty)
  }

  test("qaContext: best doc, score and the 0.4 distance gate") {
    val req = Request("qa", "q", 1)
    val top = Seq(Hit(1, 7L, 0.75))
    assert(Checks.qa(req, Seq(QaRow(7L, 0.75, accepted = true)), top).isEmpty)
    assert(Checks.qa(req, Seq(QaRow(8L, 0.75, accepted = true)), top).nonEmpty)
    assert(Checks.qa(req, Seq(QaRow(7L, 0.75, accepted = false)), top).nonEmpty)
    val far = Seq(Hit(1, 7L, 0.5))
    assert(Checks.qa(req, Seq(QaRow(7L, 0.5, accepted = false)), far).isEmpty)
    assert(Checks.qa(req, Seq(QaRow(7L, 0.5, accepted = true)), far).nonEmpty)
    // a floored score just under the gate cannot decide `accepted`
    val edge = Seq(Hit(1, 7L, 0.5999995))
    assert(Checks.qa(req, Seq(QaRow(7L, 0.5999995, accepted = true)), edge).isEmpty)
    assert(Checks.qa(req, Nil, top).nonEmpty)
    assert(Checks.qa(Request("qa", "q", 1, expectAbsent = Some(7L)),
      Seq(QaRow(7L, 0.75, accepted = true)), top).nonEmpty)
  }
}
