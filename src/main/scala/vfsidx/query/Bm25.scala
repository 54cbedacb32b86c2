package vfsidx.query

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import vfsidx.build.{CorpusStats, IndexBuild, SegmentRow}
import vfsidx.tokenize.Tokenizer

final case class Hit(doc_id: Long, score: Double)

/** BM25 top-k over the segmented inverted index.
  *
  * This is the upgrade of the reference's trigram-overlap scorer
  * (`Nears`, /root/reference/search_cond.go:297-381) mandated by north_rule:
  * real BM25 (k1=1.2, b=0.75, idf = ln((N-df+0.5)/(df+0.5)+1)), rank-identical
  * to the brute-force oracle [[Oracle]], tie-break (score desc, doc_id asc).
  *
  * Execution shape (the segment scan is the only Catalyst plan; everything
  * after it runs in [[Postings.perDoc]], which generates no code, so a
  * query shape compiled once is never compiled again):
  *
  *   1. one segment-metadata job for the query terms ([[Postings.termMeta]]:
  *      df, block-norm maxima and block ranges off the pruned metadata
  *      columns, reduced on the driver; idf derived there) — the planner's
  *      only round-trip before scoring, in place of a dictionary shuffle,
  *      the upper-bound shuffle and the range collect. The merged
  *      [[dictionary]] view (the reference's count-cache,
  *      cache/cache.go:88-120), which Count and the CLI read, is the same
  *      segment metadata grouped by term;
  *   2. `segments.filter(term isin ...)` ([[segmentScan]]) — parquet
  *      row-group pruning does the work of the reference's filename key
  *      ranges (reference index_file.go:1572-1594), because segments
  *      are written sorted by term;
  *   3. map side of [[Postings.perDoc]]: each (term, shard) blob decodes in
  *      its own task (head-term shards parallelize a Zipf-head list instead
  *      of serializing on it) into a primitive per-doc table of summed
  *      contributions and term bitmask, shipped as one record per reducer;
  *   4. reduce side: the tables merge per doc; the score is the sum rounded
  *      to 9 decimals exactly as Spark's `round(x, 9)`
  *      ([[Postings.round9]]), so summation order (non-associative doubles)
  *      cannot flip a tie between engine and oracle;
  *   5. top-k by (score desc, doc_id asc): a bounded heap per reducer,
  *      merged on the driver in the same job (the north_rule bounded
  *      min-heap), returned as a local DataFrame.
  *
  * AND mode adds the reference's posting-intersection semantics (J1,
  * reference search_finder.go:120-193): only docs holding *all*
  * terms (the doc's term bitmask is full) — plus block-range skipping: the
  * rarest term's block [first,last] doc ranges ship with the tasks and the
  * other terms skip decoding blocks that cannot intersect them.
  *
  * An object answers as of its FIRST use: its segments, dictionary, corpus
  * stats and pruning bounds all come from one generation listing
  * ([[IndexBuild.snapshot]]) taken then, so they always agree with each
  * other whatever commits meanwhile. To see later commits, create a new
  * object. An object outliving the vacuum grace of the generations it
  * listed fails loudly ([[vfsidx.build.Generations.vacuum]]).
  */
class Bm25Index(spark: SparkSession, dir: String,
                mergeOnSearch: Option[IndexBuild.BuildConfig] = None,
                directFloor: Long = Bm25Index.DirectFloor) {
  import spark.implicits._

  // MERGE-ON-SEARCH (the reference's query-time merge trigger,
  // /root/reference/search_cond.go:828-837): a query-heavy, refresh-light
  // deployment bounds its generation count here — one bounded tiered fold
  // when the survivors exceed the config's maxGenerations (compactTiered
  // no-ops below that), reclaim deferred (concurrent readers keep their
  // files; the next maintenance pass vacuums).
  mergeOnSearch.foreach(cfg => IndexBuild.compactTiered(spark, dir, cfg, reclaim = false))

  // the one generation listing of this object (after the fold above); its
  // stats are the per-generation build stats rows
  private lazy val snap = IndexBuild.snapshot(spark, dir)

  /** The generations this object reads. */
  def generations: Seq[(Int, Int)] = snap.gens

  lazy val segments: Dataset[SegmentRow] = snap.segments.as[SegmentRow]

  /** Global corpus stats: n_docs and tf_sum are additive across generations
    * (a doc lives in exactly one), avgdl derives from their sums — identical
    * to a fresh single-generation build over the whole corpus. */
  lazy val stats: CorpusStats = {
    val n = snap.stats.map(_.n_docs).sum
    val tf = snap.stats.map(_.tf_sum).sum
    CorpusStats(n, tf, if (n == 0) 0.0 else tf.toDouble / n)
  }

  /** Safety factor for block-max pruning bounds across generations. A
    * generation's `block_max_norm` was computed with ITS build-time avgdl
    * a0; scoring uses the current global avgdl a1. For any posting,
    * norm(a) = tf(k1+1) / (x + y/a) with x = tf + k1(1-b) > 0, y = k1·b·dl:
    * norm(a1)/norm(a0) = (x + y/a0)/(x + y/a1) ≤ (y/a0)/(y/a1) = a1/a0
    * when a1 ≥ a0 (mediant inequality; ≤ 1 otherwise). So multiplying the
    * stored bound by max(1, a1/a0), maximized over generations, keeps every
    * pruning bound a true upper bound — exactness preserved under avgdl
    * drift from incremental ingest. */
  private lazy val ubCorrection: Double = {
    val a1 = stats.avgdl
    val fs = snap.stats.filter(_.avgdl > 0.0).map(s => math.max(1.0, a1 / s.avgdl))
    if (fs.isEmpty) 1.0 else fs.max
  }

  /** Merged dictionary view off the segment metadata: df = Σ `count` and
    * tf_sum = Σ `tf_sum` over a term's segment rows (every shard of every
    * generation; the postings blob is never read), idf derived from the
    * merged df and the global doc count (per-generation idf would be stale
    * the moment the corpus grows). */
  lazy val dictionary: DataFrame = {
    val n = stats.n_docs.toDouble
    segments.toDF()
      .groupBy($"term").agg(sum($"count").cast("long").as("df"), sum($"tf_sum").as("tf_sum"))
      .select($"term", $"df", $"tf_sum",
        log((lit(n) - $"df" + 0.5) / ($"df" + 0.5) + 1.0).as("idf"))
  }

  /** The query terms' segment metadata ([[Postings.termMeta]]) and the idf
    * of each term present in the corpus, in ONE job — the planner needs df
    * (the gates, the rarest term), idf (scoring), the block-norm maxima
    * (upper bounds) and the block ranges (skipping). */
  private def termMeta(terms: Seq[String]): (Postings.TermMeta[String], Map[String, Double]) = {
    val meta = Postings.termMeta(segments.toDF(), "term", terms)
    val n = stats.n_docs
    (meta, meta.df.map { case (t, df) => t -> Bm25Index.idf(n, df) })
  }

  /** The segment scan of `terms` that this index's queries decode
    * ([[Postings.scan]]). */
  def segmentScan(terms: Seq[String]): DataFrame = Postings.scan(segments.toDF(), "term", terms)

  /** The per-doc BM25 sums and term sets of `terms` ([[Postings.perDoc]]);
    * terms outside `protect` decode only the blocks overlapping `ranges`. */
  private def perDoc(terms: Seq[String], idfs: Map[String, Double],
                     ranges: Option[Array[(Long, Long)]] = None,
                     protect: Set[String] = Set.empty): Postings.PerDoc =
    Postings.perDoc(segmentScan(terms), terms,
      Some(Postings.Bm25(terms.map(idfs.getOrElse(_, 0.0)).toArray, stats.avgdl)),
      ranges, terms.indices.filter(i => protect(terms(i))).toSet)

  /** The top k of `docs` passing `keep`, scored by their rounded sums. */
  private def rank(docs: Postings.PerDoc, k: Int,
                   keep: Postings.Doc => Boolean = _ => true): Array[(Long, Double)] =
    docs.topK(k, keep, d => Postings.round9(d.sum))

  private def hits(rows: Array[(Long, Double)]): DataFrame =
    Postings.local(spark, Postings.HitSchema, rows.map { case (d, s) => Row(d, s) })

  /** Disjunctive (standard BM25) top-k — full scoring, no pruning. The
    * differential baseline for [[topKOr]]. */
  def topKOrNaive(query: String, k: Int): DataFrame = {
    val terms = Tokenizer.codeTokens(query).distinct
    if (terms.isEmpty) return spark.emptyDataset[Hit].toDF()
    hits(rank(perDoc(terms, termMeta(terms)._2), k))
  }

  /** Disjunctive BM25 top-k with block-max MaxScore pruning — exact (rank-
    * identical to [[topKOrNaive]] and the oracle), but skips decoding blocks
    * that provably cannot reach the top-k:
    *
    *  1. θ = k-th best score of the rarest term scored alone (a valid lower
    *     bound of the final k-th score; cheap — the rarest list is shortest);
    *  2. terms sorted by their global score upper bound
    *     maxUb(t) = idf(t) · max(block_max_norm); the maximal prefix with
    *     Σ maxUb STRICTLY below θ is "non-essential": a doc appearing only
    *     in those lists scores < θ and cannot displace the top-k (strict
    *     inequality keeps the (score, doc_id) tie-break exact);
    *  3. essential lists decode fully and define the candidate doc ranges
    *     (their block [first,last] intervals); non-essential lists decode
    *     only blocks overlapping a candidate range — every candidate doc
    *     still receives its exact full score.
    *
    * This is the distributed re-expression of block-max WAND
    * (Ding & Suel 2011) / MaxScore: per-doc cursors become per-block range
    * intersection, and the shared threshold becomes the phase-1 θ. The
    * reference's analog is its high-DF trigram pruning `filterByAvg`
    * (/root/reference/search_cond.go:240-280) — which is lossy; ours is
    * exact. */
  def topKOr(query: String, k: Int): DataFrame = {
    val terms = Tokenizer.codeTokens(query).distinct
    if (terms.isEmpty) return spark.emptyDataset[Hit].toDF()
    val (meta, idfs) = termMeta(terms)
    if (terms.size == 1) return hits(rank(perDoc(terms, idfs), k))

    val present = terms.filter(idfs.contains)
    if (present.isEmpty) return spark.emptyDataset[Hit].toDF()
    val dfs = meta.df

    // small-index gate (zero extra jobs — Σdf comes off the metadata job
    // the query already paid): under the floor, skip the phase-1 θ job and
    // score everything
    if (Postings.direct(present.map(dfs).sum, directFloor))
      return hits(rank(perDoc(present, idfs), k))

    // phase 1: θ from the rarest term's own top-k. Scores are HALF_UP-rounded
    // to 9 dp (can exceed the true k-th score by 5e-10), so back off 1e-9 to
    // keep θ a valid LOWER bound — pruning bounds must all be conservative.
    val rarest = present.minBy(dfs)
    val theta: Double = {
      val top = rank(perDoc(Seq(rarest), idfs), k)
      if (top.length < k) 0.0 else math.max(0.0, top.last._2 - 1e-9)
    }

    // global per-term upper bounds from the block metadata already
    // collected. block_max_norm was stored via Double→Float (may round DOWN
    // ~1 ulp); nextUp restores a safe UPPER bound.
    val maxUb: Map[String, Double] = present.map { t =>
      t -> idfs(t) * Math.nextUp(meta.keys(t).maxNorm).toDouble * ubCorrection }.toMap

    // maximal prefix (ascending ub) with strict Σ ub < θ is non-essential
    val byUb = present.sortBy(maxUb)
    var cum = 0.0
    val nonEssential = byUb.takeWhile { t => cum += maxUb(t); cum < theta }.toSet
    val essential = present.filterNot(nonEssential)

    // candidate doc ranges = essential terms' block intervals, which the
    // non-essential terms decode within; with every term essential, or over
    // the range cap, exact full scoring
    val ranges = if (nonEssential.isEmpty) None else meta.ranges(essential)
    hits(rank(perDoc(present, idfs, ranges, essential.toSet), k))
  }

  /** The conjunctive step of [[topKAnd]] and [[countFirstLastAnd]] (the
    * reference's J1 posting intersection): every query term's per-doc sums
    * and term sets, with the mask of all terms a doc must hold. Above the
    * direct gate the rarest term's block [first,last] ranges (df/128 of
    * them, bounded by [[Postings.RangeCap]], off the metadata job) drive
    * the other terms to skip blocks that cannot intersect them. None when
    * there are no terms or one is absent from the corpus (the AND is
    * empty). */
  private def andDocs(terms: Seq[String]): Option[(Postings.PerDoc, Array[Long])] = {
    if (terms.isEmpty) return None
    val (meta, idfs) = termMeta(terms)
    val dfs = meta.df
    if (dfs.size < terms.size) return None
    val all = Postings.mask(terms.size, terms.indices)
    if (Postings.direct(dfs.values.sum, directFloor)) return Some((perDoc(terms, idfs), all))
    val rarest = terms.minBy(dfs)
    Some((perDoc(terms, idfs, meta.ranges(Seq(rarest)), Set(rarest)), all))
  }

  /** Conjunctive (reference J1 intersection semantics) top-k with
    * block-range skipping driven by the rarest term. */
  def topKAnd(query: String, k: Int): DataFrame =
    andDocs(Tokenizer.codeTokens(query).distinct).fold(spark.emptyDataset[Hit].toDF()) {
      case (docs, all) => hits(rank(docs, k, _.holds(all)))
    }

  /** Index-backed terminal verbs over a COMPOSED (conjunctive) condition —
    * the reference's Count/First/Last on any SearchCond
    * (/root/reference/search_finder.go:325-371): intersect the terms'
    * posting lists (rarest-term block skipping, all-terms semantics) and
    * take count/min/max over the intersection in one job. The corpus
    * table is never touched — only pruned segment rows are decoded. One
    * result row (n, first_id, last_id); n=0 with null ids when nothing
    * matches (single-term input degenerates to the A1/W2 metadata-only
    * path's semantics, computed the same way). */
  def countFirstLastAnd(query: String): DataFrame = {
    val (n, first, last) = andDocs(Tokenizer.codeTokens(query).distinct)
      .fold((0L, Option.empty[Long], Option.empty[Long])) {
        case (docs, all) => docs.countMinMax(_.holds(all))
      }
    Postings.local(spark, Postings.CountSchema, Seq(Row(n, first.orNull, last.orNull)))
  }
}

object Bm25Index {
  /** Small-index cost-gate floor of the BM25 queries: [[Postings.DirectFloor]]. */
  val DirectFloor: Long = Postings.DirectFloor

  /** idf = ln((N - df + 0.5)/(df + 0.5) + 1) on the driver, in the
    * operation order of [[Bm25Index.dictionary]]'s Spark expression; Spark's
    * `log` is `StrictMath.log`, so both give the same bits. */
  private[query] def idf(n: Long, df: Long): Double =
    StrictMath.log((n.toDouble - df.toDouble + 0.5) / (df.toDouble + 0.5) + 1.0)
}
