package graft.perfbench

import java.util.SplittableRandom

/** One row of the `documents` table. */
final case class Doc(id: Long, text: String, lang: String, source: String)

/** One client request: `search(text, k)` or `qaContext(text)`.
  * `expectTop` / `expectAbsent` are the refresh probes: a doc id that must
  * come back at rank 1, or one that must not come back at all. */
final case class Request(kind: String, text: String, k: Int,
                         expectTop: Option[Long] = None,
                         expectAbsent: Option[Long] = None)

/** What one corpus edit did, by doc id. */
final case class EditLog(replaced: Vector[Long], appended: Vector[Long],
                         deleted: Vector[Long])

/** Seeded input generation. Everything here is pure Scala over
  * `SplittableRandom`, so one seed gives the same query lists, corpus
  * versions and key order on every JVM; Spark never sees the seed, only
  * the rows made from it. */
object Gen {

  /** Words none of the 31 distinct tokens of the sf0.1 corpus
    * ([[Data.source]]) is: off-corpus queries draw from here, so the 0.4
    * cosine-distance gate of `qaContext` rejects them. */
  val OffVocab: Vector[String] = Vector(
    "quartz", "nebula", "saffron", "glacier", "violin", "harbor", "pepper",
    "lantern", "orchid", "meadow", "copper", "falcon", "tundra", "cobalt")

  private val Langs = Vector("en", "en", "en", "en", "en", "en", "zh", "zh",
    "es", "es", "fr", "fr", "de", "de")

  /** k values a search request draws; 25 exercises the cap at 20. */
  val Ks: Vector[Int] = Vector(1, 3, 5, 10, 20, 25)

  private def pick[A](r: SplittableRandom, xs: Vector[A]): A = xs(r.nextInt(xs.size))

  /** The distinct tokens of `docs`, sorted: what edited texts draw from. */
  def vocab(docs: Vector[Doc]): Vector[String] =
    docs.iterator.flatMap(_.text.split(' ')).toSet.toVector.sorted

  /** Id stride between replicas: the smallest power of ten above the
    * largest id, as `graft.ScaleUp` lays replicas out. */
  def stride(docs: Vector[Doc]): Long = {
    val max = docs.map(_.id).max
    var s = 10L
    while (s <= max) s *= 10
    s
  }

  /** `copies`-fold corpus in the `graft.ScaleUp` layout: replica r ≥ 1
    * shifts ids by r × stride and suffixes every token with `_r`, so the
    * replicas are disjoint in token space. */
  def replicate(base: Vector[Doc], copies: Int): Vector[Doc] = {
    val off = stride(base)
    (0 until copies).flatMap { r =>
      base.map { d =>
        if (r == 0) d
        else d.copy(id = d.id + r * off,
          text = d.text.split(' ').map(_ + "_" + r).mkString(" "))
      }
    }.toVector
  }

  /** A query in the surface forms the preprocessor normalises: mixed
    * case, stray punctuation, and `thc:`/`cbd:` strength variants that
    * all clean to `thc 12%`. */
  private def noisy(r: SplittableRandom, tokens: Vector[String]): String = {
    val cased = tokens.map { t =>
      r.nextInt(4) match {
        case 0 => t.toUpperCase
        case 1 => t.capitalize
        case _ => t
      }
    }
    val punct = Vector(",", "!", "?", "...", ";", " -")
    val spiced = cased.map(t => if (r.nextInt(5) == 0) t + pick(r, punct) else t)
    val strength =
      if (r.nextInt(3) == 0) {
        val n = 5 + r.nextInt(25)
        val drug = if (r.nextBoolean()) "thc" else "cbd"
        Vector(pick(r, Vector(s"$drug:$n", s"${drug.toUpperCase}: $n%",
          s"$drug $n%", s"${drug.capitalize}:$n%")))
      } else Vector.empty
    (spiced ++ strength).mkString(" ")
  }

  /** Request `i` of a list: every fourth is a qaContext, the rest are
    * searches with a seeded k. The fixed 3:1 pattern keeps the mix, and
    * so the latency median, the same for every seed. */
  private def request(r: SplittableRandom, i: Int, text: String): Request =
    if (i % 4 == 3) Request("qa", text, 1)
    else Request("search", text, pick(r, Ks))

  /** `n` requests over `docs`, 3 searches to 1 qaContext; a query is a
    * 3-12 token window of a corpus text with normaliser noise, or, one
    * time in five, off-corpus words the distance gate rejects. */
  def requests(seed: Long, docs: Vector[Doc], n: Int): Vector[Request] = {
    val r = new SplittableRandom(seed ^ 0x5eed1e55L)
    Vector.tabulate(n) { i =>
      val text =
        if (r.nextInt(5) == 0) noisy(r, Vector.fill(3 + r.nextInt(6))(pick(r, OffVocab)))
        else {
          val toks = pick(r, docs).text.split(' ').toVector
          val len = math.min(toks.size, 3 + r.nextInt(10))
          val from = r.nextInt(toks.size - len + 1)
          noisy(r, toks.slice(from, from + len))
        }
      request(r, i, text)
    }
  }

  /** One seeded edit of about `share` of the corpus: a half of the touched
    * docs get new text, a quarter are deleted and as many new docs are
    * appended above every existing id. New and replaced texts carry a
    * marker token unique to (version, doc), so their own full text finds
    * them at rank 1. */
  def edit(seed: Long, version: Int, docs: Vector[Doc],
           share: Double = 0.01): (Vector[Doc], EditLog) = {
    val r = new SplittableRandom(seed * 31 + version)
    val words = vocab(docs)
    val touched = math.max(4, (docs.size * share).toInt)
    val order = shuffle(r, docs.indices.toVector)
    val replacedIdx = order.take(touched / 2).toSet
    val deletedIdx = order.slice(touched / 2, touched / 2 + touched / 4).toSet
    def fresh(id: Long): String =
      (Vector.fill(10 + r.nextInt(21))(pick(r, words)) :+ s"edit${version}n$id").mkString(" ")
    val kept = docs.indices.flatMap { i =>
      val d = docs(i)
      if (deletedIdx(i)) None
      else if (replacedIdx(i)) Some(d.copy(text = fresh(d.id)))
      else Some(d)
    }.toVector
    val next = docs.map(_.id).max + 1
    val appended = (0 until touched / 4).map { j =>
      val id = next + j
      Doc(id, fresh(id), pick(r, Langs), s"src${id % 20}")
    }.toVector
    val log = EditLog(
      replacedIdx.toVector.sorted.map(docs(_).id),
      appended.map(_.id),
      deletedIdx.toVector.sorted.map(docs(_).id))
    (kept ++ appended, log)
  }

  /** The requests served right after an edit: every probe is the full
    * text of a replaced or appended doc (must come back at rank 1) or of a
    * deleted one (must not come back), interleaved with ordinary queries. */
  def refreshSegment(seed: Long, version: Int, before: Vector[Doc],
                     after: Vector[Doc], log: EditLog, n: Int): Vector[Request] = {
    val r = new SplittableRandom(seed * 17 + version)
    val beforeById = before.map(d => d.id -> d).toMap
    val afterById = after.map(d => d.id -> d).toMap
    val fresh = shuffle(r, log.replaced ++ log.appended)
    val gone = shuffle(r, log.deleted)
    val plain = requests(seed * 13 + version, after, n)
    Vector.tabulate(n) { i =>
      i % 3 match {
        case 0 =>
          val id = fresh(i / 3 % fresh.size)
          request(r, i, afterById(id).text).copy(expectTop = Some(id))
        case 1 =>
          val id = gone(i / 3 % gone.size)
          // search caps queries at 500 characters
          val text = beforeById(id).text.take(480).trim
          Request("search", text, 20, expectAbsent = Some(id))
        case _ => plain(i)
      }
    }
  }

  def shuffle[A](r: SplittableRandom, xs: Vector[A]): Vector[A] = {
    val a = xs.toArray[Any]
    var i = a.length - 1
    while (i > 0) {
      val j = r.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
      i -= 1
    }
    a.toVector.asInstanceOf[Vector[A]]
  }

  /** The catalog key order for one seed. */
  def keyOrder(seed: Long, keys: Seq[String]): Vector[String] =
    shuffle(new SplittableRandom(seed ^ 0x0ca7a10cL), keys.sorted.toVector)
}
