package graftbench

import scala.util.Random

/** A seeded document corpus with planted duplicates and the ground truth
  * the pipeline checks need.
  *
  *  - `good`: long prose-like documents (>= 50 words, about a third of
  *    them stopwords, word lengths 3-8), which score 1.0 on
  *    `TextFunctions.qualityScore`;
  *  - `bad`: a few long random letter runs with no stopwords, which
  *    score below 0.15;
  *  - exact duplicates: copies of a good document, some re-cased or
  *    re-punctuated, so they match only after text normalization;
  *  - near duplicates: a good document with two words substituted
  *    (3-gram shingle Jaccard about 0.85).
  *
  * Ids are a seeded permutation, so a copy may carry a smaller id than
  * the document it copies; the engine keeps the minimum id of each
  * exact group. Near-duplicate bases never belong to an exact group,
  * which makes every planted pair survive exact dedup. */
final case class Corpus(
    docs: Vector[(Long, String)],
    good: Int,
    bad: Set[Long],
    exactRemoved: Set[Long],
    nearPairs: Set[(Long, Long)])

object Corpus {
  private val Stopwords = Vector("the", "a", "an", "and", "or", "of", "to",
    "in", "is", "it", "that", "for", "on", "with", "as")

  /** A fixed vocabulary, independent of the workload seed. */
  private val Vocab: Vector[String] = {
    val r = new Random(7L)
    Vector.fill(4000)(Vector.fill(3 + r.nextInt(6))(('a' + r.nextInt(26)).toChar).mkString)
  }

  private def prose(r: Random): Vector[String] =
    Vector.fill(60 + r.nextInt(50)) {
      if (r.nextDouble() < 0.33) Stopwords(r.nextInt(Stopwords.length))
      else Vocab(r.nextInt(Vocab.length))
    }

  private def render(words: Vector[String]): String =
    words.grouped(12).map { s =>
      (s.head.capitalize +: s.tail).mkString(" ") + "."
    }.mkString(" ")

  private def junk(r: Random): String =
    Vector.fill(4 + r.nextInt(8))(
      Vector.fill(12 + r.nextInt(5))(('a' + r.nextInt(26)).toChar).mkString)
      .mkString(" ")

  def generate(nDocs: Int, seed: Long): Corpus = {
    val r = new Random(seed)
    val nBad = nDocs / 10
    val nCopies = nDocs / 12
    val nNear = nDocs / 12
    val nBase = nDocs - nBad - nCopies - nNear
    require(nBase > nCopies + nNear, s"corpus of $nDocs docs is too small")
    val bases = Vector.fill(nBase)(prose(r))
    // first nNear bases get one near-duplicate each; the next bases are
    // the sources of exact copies (a source may be copied more than once)
    val near = (0 until nNear).map { b =>
      val w = bases(b)
      val i = r.nextInt(w.length)
      val j = (i + 1 + r.nextInt(w.length - 1)) % w.length
      (b, w.updated(i, Vocab(r.nextInt(Vocab.length)))
        .updated(j, Vocab(r.nextInt(Vocab.length))))
    }
    val copySrc = Vector.fill(nCopies)(nNear + r.nextInt(nBase / 4))
    def copyText(b: Int): String = r.nextInt(3) match {
      case 0 => render(bases(b))
      case 1 => render(bases(b)).toUpperCase
      case _ => bases(b).mkString(", ")
    }
    // (kind, base index, text): kind 0 base, 1 copy, 2 near, 3 bad
    val items: Vector[(Int, Int, String)] =
      bases.indices.map(b => (0, b, render(bases(b)))).toVector ++
        copySrc.map(b => (1, b, copyText(b))) ++
        near.map { case (b, w) => (2, b, render(w)) } ++
        Vector.fill(nBad)((3, -1, junk(r)))
    val ids = r.shuffle(items.indices.map(_.toLong).toVector)
    val docs = items.indices.map(k => (ids(k), items(k)._3)).toVector

    val idOf = items.indices.groupBy(k => (items(k)._1, items(k)._2))
      .map { case (key, ks) => key -> ks.map(ids) }
    val groups = copySrc.distinct.map(b => idOf((0, b)) ++ idOf((1, b)))
    val removed = groups.flatten.toSet -- groups.map(_.min)
    val pairs = near.map { case (b, _) =>
      val a = idOf((0, b)).head
      val c = idOf((2, b)).head
      (math.min(a, c), math.max(a, c))
    }.toSet
    val bad = items.indices.filter(k => items(k)._1 == 3).map(ids).toSet
    Corpus(docs.sortBy(_._1), nDocs - nBad, bad, removed, pairs)
  }
}
