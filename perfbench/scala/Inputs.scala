package perfbench

import scala.collection.mutable
import scala.util.Random

import vfsidx.corpus.{SourceFile, Synth}
import vfsidx.tokenize.Tokenizer

/** The seed's document window. Doc `i` of the benchmark corpus is
  * `Synth.genDoc(offset + i)` renumbered to the dense id `i`, so the seed
  * changes every document (and its `needle_<offset+i>` term) while the
  * engine always sees dense ids from 0. */
final case class Window(seed: Long) {
  val offset: Long = Math.floorMod(seed * 1000003L + 17L, 1L << 40)
  def doc(i: Long): SourceFile = Synth.genDoc(offset + i).copy(doc_id = i)
}

/** The seven query families of the closed-loop mix. */
object Family {
  val BmOr = "bm25_or"
  val BmAnd = "bm25_and"
  val CountAnd = "count_and"
  val Substring = "substring"
  val Regex = "regex"
  val Nears = "nears"
  val Lang = "lang"
  /** One round of the mix: every family once, in this order. */
  val Round: Seq[String] = Seq(BmOr, Substring, BmAnd, Nears, CountAnd, Regex, Lang)
}

/** One generated query. `clauses` is the literal CNF the generator built a
  * regex pattern from: every match holds one member of every clause. */
final case class Query(family: String, text: String, clauses: List[Set[String]] = Nil)

/** Driver-side copy of the corpus with everything the brute-force
  * references need, computed once per run without the engine. */
final class Corpus(val docs: IndexedSeq[SourceFile]) {
  val n: Int = docs.size

  /** term -> (doc -> tf), and each doc's length in tokens. */
  val (termDocs, dl) = {
    val td = mutable.HashMap.empty[String, mutable.HashMap[Int, Int]]
    val lens = new Array[Int](n)
    docs.indices.foreach { i =>
      val (m, len) = Tokenizer.termFreqs(docs(i).content)
      lens(i) = len
      m.forEach((t, tf) => td.getOrElseUpdate(t, mutable.HashMap.empty)(i) = tf)
    }
    (td, lens)
  }

  /** Each doc's distinct trigram keys, sorted. */
  lazy val triKeys: Array[Array[Long]] = docs.map { d =>
    val ks = Tokenizer.distinctTriKeys(d.content).clone()
    java.util.Arrays.sort(ks)
    ks
  }.toArray

  def contentBytes: Long = docs.iterator.map(_.content.getBytes("UTF-8").length.toLong).sum
}

/** Seeded query sample. Terms come in four classes: head (in 30-50% of
  * docs), medium, tail identifiers and per-doc needles (df = 1). */
final class QueryGen(corpus: Corpus, window: Window, seed: Long) {
  private val rng = new Random(seed * 31L + 7L)
  private val head = Seq("the", "int", "val", "return", "if")
  private val medium = Seq("index", "merge", "search", "query", "record", "column",
    "buffer", "stream", "tokenize", "posting", "segment", "shard", "commit", "branch",
    "vector", "matrix", "parse", "encode", "decode", "write", "read", "flush")
  private def pick[A](xs: Seq[A]): A = xs(rng.nextInt(xs.size))

  private def docIdx: Int = rng.nextInt(corpus.n)
  private def needle: String = s"needle_${window.offset + docIdx}"
  /** A tail identifier taken from a real document, so its df is >= 1. */
  private def tail: String = {
    val tails = corpus.docs(docIdx).content.split("[^A-Za-z0-9_]+")
      .filter(t => t.nonEmpty && t.exists(_.isDigit) && !t.startsWith("needle") &&
        !t.forall(_.isDigit))
    if (tails.isEmpty) pick(medium) else pick(tails.toSeq).toLowerCase
  }
  /** An ASCII fragment of `len` chars from one line of a real document. */
  private def fragment(len: Int): String = {
    var out = ""
    while (out.isEmpty) {
      val lines = corpus.docs(docIdx).content.split("\n")
        .filter(l => l.length >= len && l.forall(_ < 128) && !l.startsWith("//"))
      if (lines.nonEmpty) {
        val l = pick(lines.toSeq)
        val start = rng.nextInt(l.length - len + 1)
        out = l.substring(start, start + len)
        if (out.trim.length < 3) out = ""
      }
    }
    out
  }
  private def regexQuery(family: String, shape: Int): Query =
    if (shape % 2 == 0) {
      val digits = (window.offset + docIdx).toString
      val prefix = s"needle_${digits.take(math.max(1, digits.length - 2))}"
      Query(family, s"$prefix[0-9]+", List(Set(prefix)))
    } else {
      val Seq(a, b, c) = rng.shuffle(medium).take(3)
      Query(family, s"($a|$b) $c", List(Set(s"$a $c", s"$b $c")))
    }

  /** Query `i` of a family. The shape (term classes, fragment length,
    * pattern form) depends on `i` only, so position `i` costs about the
    * same under every seed; the seed picks the terms and fragments. */
  def make(family: String, i: Int): Query = family match {
    case Family.BmOr =>
      val terms = i % 4 match {
        case 0 => Seq(pick(medium), tail, needle, pick(head))
        case 1 => Seq(pick(medium), tail)
        case 2 => Seq(pick(head), needle, pick(medium))
        case _ => Seq(tail, needle)
      }
      Query(family, terms.mkString(" "))
    case Family.BmAnd =>
      Query(family, Seq(pick(medium), if (i % 2 == 0) pick(medium) else pick(head)).mkString(" "))
    case Family.CountAnd =>
      Query(family, Seq(pick(head), pick(medium), pick(medium)).take(2 + i % 2).mkString(" "))
    case Family.Substring => Query(family, fragment(8))
    case Family.Regex => regexQuery(family, i)
    case Family.Nears => Query(family, fragment(20))
    case Family.Lang =>
      val sub = fragment(8)
      val lo = 200 + rng.nextInt(400)
      val re = regexQuery(family, 1)
      val m = pick(medium)
      Query(family,
        s"""content.search("$sub") && size >= $lo || """ +
          s"""content.regex("${re.text}") && size >= $lo && size < ${lo + 60} && !content.search("$m")""")
  }

  /** `perFamily` distinct queries of every family. */
  def sample(perFamily: Int): Map[String, IndexedSeq[Query]] =
    Family.Round.map(f => f -> (0 until perFamily).map(make(f, _))).toMap
}
