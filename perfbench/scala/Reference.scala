package perfbench

import java.util.regex.Pattern

import vfsidx.build.IndexBuild
import vfsidx.tokenize.Tokenizer

/** An engine answer reduced to what the brute-force reference can state. */
sealed trait Answer
/** Top-k (doc_id, score), best first. */
final case class Ranked(rows: Vector[(Long, Double)]) extends Answer
/** Matching doc_ids, ascending. */
final case class Ids(ids: Vector[Long]) extends Answer
/** (count, first doc_id, last doc_id) of an intersection. */
final case class Counted(n: Long, first: Option[Long], last: Option[Long]) extends Answer
/** Top-k (doc_id, trigram overlap), best first. */
final case class Overlaps(rows: Vector[(Long, Long)]) extends Answer

/** Brute-force answers computed on the driver straight from the generated
  * documents, with no index: the same arithmetic as `vfsidx.query.Oracle`
  * (BM25 with k1 = 1.2, b = 0.75, scores rounded to 9 decimals, ties by
  * doc_id), a full containment or regex scan, a plain intersection, and an
  * exhaustive trigram-overlap count. */
final class Reference(corpus: Corpus) {
  private val avgdl = corpus.dl.map(_.toLong).sum.toDouble / corpus.n

  /** Score of every doc holding at least one query term (all terms when
    * `requireAll`). */
  def bm25Scores(query: String, requireAll: Boolean): Map[Long, Double] = {
    val terms = Tokenizer.codeTokens(query).distinct
    val lists = terms.map(t => corpus.termDocs.get(t))
    if (terms.isEmpty || (requireAll && lists.exists(_.isEmpty))) return Map.empty
    val acc = scala.collection.mutable.HashMap.empty[Int, (Double, Int)]
    lists.flatten.foreach { docs =>
      val df = docs.size.toDouble
      val idf = math.log((corpus.n - df + 0.5) / (df + 0.5) + 1.0)
      docs.foreach { case (d, tf) =>
        val c = idf * tf * (IndexBuild.K1 + 1.0) /
          (tf + IndexBuild.K1 * (1.0 - IndexBuild.B + IndexBuild.B * corpus.dl(d) / avgdl))
        val (s, nt) = acc.getOrElse(d, (0.0, 0))
        acc(d) = (s + c, nt + 1)
      }
    }
    acc.iterator.collect { case (d, (s, nt)) if !requireAll || nt == terms.size =>
      d.toLong -> BigDecimal(s).setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble
    }.toMap
  }

  def topK(scores: Map[Long, Double], k: Int): Ranked =
    Ranked(scores.toVector.sortBy { case (d, s) => (-s, d) }.take(k))

  def countAnd(query: String): Counted = {
    val terms = Tokenizer.codeTokens(query).distinct
    val lists = terms.map(t => corpus.termDocs.get(t))
    if (terms.isEmpty || lists.exists(_.isEmpty)) Counted(0, None, None)
    else {
      val ids = lists.flatten.map(_.keySet).reduce(_ intersect _).map(_.toLong)
      if (ids.isEmpty) Counted(0, None, None) else Counted(ids.size, Some(ids.min), Some(ids.max))
    }
  }

  def substring(needle: String): Ids =
    if (Tokenizer.triKeys(needle).isEmpty) Ids(Vector.empty)
    else Ids(corpus.docs.filter(_.content.contains(needle)).map(_.doc_id).toVector.sorted)

  def regex(pattern: String): Ids = {
    val p = Pattern.compile(pattern)
    Ids(corpus.docs.filter(d => p.matcher(d.content).find()).map(_.doc_id).toVector.sorted)
  }

  def nears(needle: String, k: Int): Overlaps = {
    val keys = Tokenizer.triKeys(needle).distinct
    val rows = corpus.triKeys.indices.iterator.map { d =>
      d.toLong -> keys.count(key => java.util.Arrays.binarySearch(corpus.triKeys(d), key) >= 0).toLong
    }.filter(_._2 > 0).toVector
    Overlaps(rows.sortBy { case (d, o) => (-o, d) }.take(k))
  }
}

object Compare {
  private val Tol = 1e-6

  /** Engine ranking equals the reference: same length, scores equal within
    * 1e-6 rank by rank, and the same doc at each rank unless the two docs
    * tie on the reference score. */
  def ranked(engine: Ranked, ref: Ranked, refScores: Map[Long, Double]): Boolean =
    engine.rows.size == ref.rows.size &&
      engine.rows.map(_._1).distinct.size == engine.rows.size &&
      engine.rows.zip(ref.rows).forall { case ((de, se), (dr, sr)) =>
        math.abs(se - sr) <= Tol &&
          (de == dr || refScores.get(de).exists(s => math.abs(s - sr) <= Tol))
      }

  def same(engine: Answer, ref: Answer): Boolean = engine == ref
}
