package graft.perfbench

import org.scalatest.funsuite.AnyFunSuite

class GenSpec extends AnyFunSuite {

  /** `n` docs over the sf0.1 corpus's vocabulary, 10-100 tokens each. */
  private def corpus(seed: Long, n: Int): Vector[Doc] = {
    val words = Vector("spark", "window", "merge", "table", "column", "vector",
      "stream", "value", "data", "small", "join", "filter", "big", "group",
      "hash", "customer", "sort", "order", "slow", "line", "part", "fast",
      "row", "the", "agg", "key", "query", "a", "scan", "batch")
    val r = new java.util.SplittableRandom(seed)
    Vector.tabulate(n) { i =>
      val text = Vector.fill(10 + r.nextInt(91))(words(r.nextInt(words.size))).mkString(" ")
      Doc(i.toLong, text, "en", s"src${i % 20}")
    }
  }

  test("one seed gives identical corpora, requests, edits and key order") {
    val docs = corpus(1, 500)
    def all(seed: Long) = {
      val (next, log) = Gen.edit(seed, 1, docs)
      (docs, Gen.replicate(docs, 4), Gen.requests(seed, docs, 200), next, log,
        Gen.refreshSegment(seed, 1, docs, next, log, 12),
        Gen.keyOrder(seed, Catalog.Keys))
    }
    assert(all(7) == all(7))
    val (a, b) = (all(7), all(8))
    assert(a._3 != b._3 && a._4 != b._4 && a._7 != b._7)
  }

  test("requests: exact 3:1 search to qa mix, k from the set, some off-corpus") {
    val docs = corpus(1, 1000)
    val reqs = Gen.requests(1, docs, 400)
    assert(reqs.count(_.kind == "qa") == 100)
    assert(reqs.filter(_.kind == "search").map(_.k).toSet == Gen.Ks.toSet)
    val off = reqs.count(r => Gen.OffVocab.exists(w => r.text.toLowerCase.contains(w)))
    assert(off > 50 && off < 110, s"$off off-corpus queries of 400")
  }

  test("replicas are disjoint in ids and tokens, as ScaleUp lays them out") {
    val base = corpus(3, 100)
    val four = Gen.replicate(base, 4)
    assert(four.size == 400 && four.map(_.id).distinct.size == 400)
    assert(four(100).id == base.head.id + Gen.stride(base))
    assert(four(100).text.split(' ').forall(_.endsWith("_1")))
  }

  test("an edit replaces, deletes and appends about 1% with unique marker texts") {
    val docs = corpus(4, 2000)
    val (next, log) = Gen.edit(4, 2, docs)
    assert(log.replaced.size == 10 && log.deleted.size == 5 && log.appended.size == 5)
    assert(next.size == docs.size)
    assert(log.appended.min > docs.map(_.id).max)
    assert(log.deleted.forall(id => !next.exists(_.id == id)))
    val byId = next.map(d => d.id -> d.text).toMap
    (log.replaced ++ log.appended).foreach(id => assert(byId(id).endsWith(s"edit2n$id")))
  }

  test("refresh probes name fresh docs at rank 1 and deleted docs as absent") {
    val docs = corpus(5, 2000)
    val (next, log) = Gen.edit(5, 1, docs)
    val seg = Gen.refreshSegment(5, 1, docs, next, log, 9)
    assert(seg.flatMap(_.expectTop).forall(id => (log.replaced ++ log.appended).contains(id)))
    assert(seg.flatMap(_.expectAbsent).forall(log.deleted.contains))
    assert(seg.count(_.expectTop.nonEmpty) == 3 && seg.count(_.expectAbsent.nonEmpty) == 3)
    assert(seg.forall(_.text.length <= 500))
  }
}
