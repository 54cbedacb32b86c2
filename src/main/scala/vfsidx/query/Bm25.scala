package vfsidx.query

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import vfsidx.build.{CorpusStats, IndexBuild, SegmentRow}
import vfsidx.codec.VarByte
import vfsidx.tokenize.Tokenizer

final case class Hit(doc_id: Long, score: Double)

/** BM25 top-k over the segmented inverted index.
  *
  * This is the upgrade of the reference's trigram-overlap scorer
  * (`Nears`, /root/reference/search_cond.go:297-381) mandated by north_rule:
  * real BM25 (k1=1.2, b=0.75, idf = ln((N-df+0.5)/(df+0.5)+1)), rank-identical
  * to the brute-force oracle [[Oracle]], tie-break (score desc, doc_id asc).
  *
  * Execution shape (all Catalyst-planned; `.explain` shows a single scan of
  * the pruned segment rows, no shuffle until the per-doc score aggregation):
  *
  *   1. dictionary lookup for the query terms (tiny collect -> closure map) —
  *      the reference's count-cache (cache/cache.go:88-120) as a table;
  *   2. `segments.filter(term isin ...)` — parquet row-group pruning does the
  *      work of the reference's filename key ranges
  *      (/root/reference/index_file.go:1572-1594), because segments are
  *      written sorted by term;
  *   3. flatMap decode: each (term, shard) blob scores independently in its
  *      own task — head-term shards parallelize a Zipf-head list instead of
  *      serializing on it;
  *   4. groupBy(doc_id).sum — partial (map-side) aggregation is automatic;
  *   5. orderBy(score desc, doc_id asc).limit(k) — Spark plans
  *      TakeOrderedAndProject: a bounded per-partition heap + global top-k
  *      merge, exactly the north_rule bounded-min-heap requirement.
  *
  * AND mode adds the reference's posting-intersection semantics (J1,
  * /root/reference/search_finder.go:120-193): only docs containing *all*
  * terms, implemented as HAVING count(distinct term) = nTerms — plus
  * block-range skipping: the rarest term's block [first,last] doc ranges are
  * broadcast and other terms skip decoding blocks that cannot intersect them.
  *
  * Scores are rounded to 9 decimals before ranking so that hash-aggregation
  * summation order (non-associative doubles) cannot flip a tie between engine
  * and oracle.
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

  lazy val segments: Dataset[SegmentRow] =
    IndexBuild.readSegments(spark, dir).as[SegmentRow]

  /** Per-generation build stats (one tiny parquet read across all gens). */
  private lazy val genStats: Array[CorpusStats] =
    IndexBuild.readStatsRaw(spark, dir).collect()

  /** Global corpus stats: n_docs and tf_sum are additive across generations
    * (a doc lives in exactly one), avgdl derives from their sums — identical
    * to a fresh single-generation build over the whole corpus. */
  lazy val stats: CorpusStats = {
    val n = genStats.map(_.n_docs).sum
    val tf = genStats.map(_.tf_sum).sum
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
    val fs = genStats.filter(_.avgdl > 0.0).map(s => math.max(1.0, a1 / s.avgdl))
    if (fs.isEmpty) 1.0 else fs.max
  }

  /** Merged dictionary view: df/tf_sum summed across generations, idf
    * derived from the merged df and the global doc count (per-generation
    * idf would be stale the moment the corpus grows). */
  lazy val dictionary: DataFrame = {
    val n = stats.n_docs.toDouble
    IndexBuild.readDictRaw(spark, dir)
      .groupBy($"term").agg(sum($"df").as("df"), sum($"tf_sum").as("tf_sum"))
      .select($"term", $"df", $"tf_sum",
        log((lit(n) - $"df" + 0.5) / ($"df" + 0.5) + 1.0).as("idf"))
  }

  /** (df, idf) maps of the query terms present in the corpus, in ONE
    * dictionary lookup job — the query planner needs both (df for the
    * gates and rarest-term selection, idf for scoring). */
  private def termStats(terms: Seq[String]): (Map[String, Long], Map[String, Double]) = {
    val rows = dictionary.filter($"term".isin(terms: _*))
      .select($"term", $"df", $"idf").as[(String, Long, Double)].collect()
    (rows.map(r => r._1 -> r._2).toMap, rows.map(r => r._1 -> r._3).toMap)
  }

  /** Decoded per-(term,doc) score contributions for the query terms. */
  private def contributions(terms: Seq[String], idfs: Map[String, Double],
                            ranges: Option[Array[(Long, Long)]] = None,
                            protect: String = ""): Dataset[(String, Long, Double)] = {
    // a local copy: the closure must not capture `this` (which holds the
    // SparkSession)
    val avgdl = stats.avgdl
    segments.filter($"term".isin(terms: _*)).flatMap { s =>
      val idf = idfs.getOrElse(s.term, 0.0)
      val keep = Postings.keep(s, ranges, s.term == protect)
      val out = Array.newBuilder[(String, Long, Double)]
      var bi = 0
      while (bi < s.block_off.length) {
        if (keep(bi)) {
          val cnt = VarByte.blockCount(s.count, bi)
          val (ids, tfs, dls) = VarByte.decodeBlock(s.postings, s.block_off(bi), cnt)
          var i = 0
          while (i < cnt) {
            out += ((s.term, ids(i),
              idf * VarByte.bm25Norm(tfs(i), dls(i), avgdl, IndexBuild.K1, IndexBuild.B)))
            i += 1
          }
        }
        bi += 1
      }
      out.result()
    }
  }

  private def rank(contribs: Dataset[(String, Long, Double)], k: Int,
                   requireAll: Option[Int]): DataFrame = {
    val grouped = contribs
      .toDF("term", "doc_id", "contrib")
      .groupBy($"doc_id")
      .agg(round(sum($"contrib"), 9).as("score"), countDistinct($"term").as("nt"))
    val filtered = requireAll.fold(grouped)(n => grouped.filter($"nt" === n))
    filtered.select($"doc_id", $"score")
      .orderBy($"score".desc, $"doc_id".asc)
      .limit(k)
  }

  /** Disjunctive (standard BM25) top-k — full scoring, no pruning. The
    * differential baseline for [[topKOr]]. */
  def topKOrNaive(query: String, k: Int): DataFrame = {
    val terms = Tokenizer.codeTokens(query).distinct
    if (terms.isEmpty) return spark.emptyDataset[Hit].toDF()
    rank(contributions(terms, termStats(terms)._2), k, None)
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
    import spark.implicits._
    val terms = Tokenizer.codeTokens(query).distinct
    if (terms.isEmpty) return spark.emptyDataset[Hit].toDF()
    val (dfs, idfs) = termStats(terms)
    if (terms.size == 1) return rank(contributions(terms, idfs), k, None)

    val present = terms.filter(idfs.contains)
    if (present.isEmpty) return spark.emptyDataset[Hit].toDF()

    // small-index gate (zero extra jobs — Σdf comes off the termStats
    // collect the query already paid): under the floor, skip the three
    // pruning round-trips (phase-1 θ, maxUb, ranges) and score everything
    if (Postings.direct(present.map(dfs).sum, directFloor))
      return rank(contributions(present, idfs), k, None)

    // phase 1: θ from the rarest term's own top-k. rank() HALF_UP-rounds to
    // 9 dp (can exceed the true k-th score by 5e-10), so back off 1e-9 to
    // keep θ a valid LOWER bound — pruning bounds must all be conservative.
    val rarest = present.minBy(dfs)
    val theta: Double = {
      val top = rank(contributions(Seq(rarest), idfs), k, None)
        .select($"score").as[Double].collect()
      if (top.length < k) 0.0 else math.max(0.0, top.last - 1e-9)
    }

    // global per-term upper bounds from block metadata (pruned scan).
    // block_max_norm was stored via Double→Float (may round DOWN ~1 ulp);
    // nextUp restores a safe UPPER bound.
    val maxUb: Map[String, Double] = segments.filter($"term".isin(present: _*))
      .select($"term", array_max($"block_max_norm").as("mn"))
      .groupBy($"term").agg(max($"mn").as("mn"))
      .as[(String, Float)].collect()
      .map { case (t, mn) =>
        t -> idfs(t) * Math.nextUp(mn).toDouble * ubCorrection }.toMap

    // maximal prefix (ascending ub) with strict Σ ub < θ is non-essential
    val byUb = present.sortBy(maxUb)
    var cum = 0.0
    val nonEssential = byUb.takeWhile { t => cum += maxUb(t); cum < theta }.toSet
    val essential = present.filterNot(nonEssential)

    if (nonEssential.isEmpty) return rank(contributions(present, idfs), k, None)

    // candidate doc ranges = essential terms' block intervals; over the
    // range cap, fall back to exact full scoring
    Postings.blockRanges(segments.filter($"term".isin(essential: _*)), Postings.RangeCap) match {
      case None => rank(contributions(present, idfs), k, None)
      case ranges => rank(contributions(essential, idfs)
        .union(contributions(nonEssential.toSeq, idfs, ranges)), k, None)
    }
  }

  /** The conjunctive step of [[topKAnd]] and [[countFirstLastAnd]] (the
    * reference's J1 posting intersection): every query term's decoded
    * contributions; callers keep the docs holding all terms. Above the
    * direct gate the rarest term's block [first,last] ranges are collected
    * (df/128 of them, bounded by [[Postings.RangeCap]]) and the other terms
    * skip blocks that cannot intersect them. None when there are no terms
    * or one is absent from the corpus (the AND is empty). */
  private def andContributions(terms: Seq[String]): Option[Dataset[(String, Long, Double)]] = {
    if (terms.isEmpty) return None
    val (dfs, idfs) = termStats(terms)
    if (dfs.size < terms.size) return None
    if (Postings.direct(dfs.values.sum, directFloor)) return Some(contributions(terms, idfs))
    val rarest = terms.minBy(dfs)
    Some(contributions(terms, idfs,
      Postings.blockRanges(segments.filter($"term" === rarest), Postings.RangeCap), rarest))
  }

  /** Conjunctive (reference J1 intersection semantics) top-k with
    * block-range skipping driven by the rarest term. */
  def topKAnd(query: String, k: Int): DataFrame = {
    val terms = Tokenizer.codeTokens(query).distinct
    andContributions(terms).fold(spark.emptyDataset[Hit].toDF())(
      rank(_, k, Some(terms.size)))
  }

  /** Index-backed terminal verbs over a COMPOSED (conjunctive) condition —
    * the reference's Count/First/Last on any SearchCond
    * (/root/reference/search_finder.go:325-371): intersect the terms'
    * posting lists (rarest-term block skipping, HAVING-all semantics) and
    * aggregate count/min/max over the intersection in one job. The corpus
    * table is never touched — only pruned segment rows are decoded. One
    * result row (n, first_id, last_id); n=0 with null ids when nothing
    * matches (single-term input degenerates to the A1/W2 metadata-only
    * path's semantics, computed the same way). */
  def countFirstLastAnd(query: String): DataFrame = {
    val terms = Tokenizer.codeTokens(query).distinct
    andContributions(terms).fold(
      Seq((0L, Option.empty[Long], Option.empty[Long])).toDF("n", "first_id", "last_id"))(
      _.toDF("term", "doc_id", "c")
        .groupBy($"doc_id").agg(countDistinct($"term").as("nt"))
        .filter($"nt" === terms.size)
        .agg(count(lit(1)).as("n"), min($"doc_id").as("first_id"),
          max($"doc_id").as("last_id")))
  }
}

object Bm25Index {
  /** Small-index cost-gate floor of the BM25 queries: [[Postings.DirectFloor]]. */
  val DirectFloor: Long = Postings.DirectFloor
}
