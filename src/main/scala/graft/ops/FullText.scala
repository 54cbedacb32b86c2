package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import vfsidx.build.{IndexBuild, NumericIndex, TrigramIndex}
import vfsidx.corpus.{SourceFile, Synth}
import vfsidx.query.{Bm25Index, QueryParser}

/** Full-text operators over the driver's `documents` table, answered by the
  * REAL vfsidx inverted index (built once per sf dir, cached) and
  * cross-checked against DuckDB SQL oracles computing the same thing by
  * brute force. This is the reference's whole reason to exist (equality /
  * substring / AND search + similarity scoring, SURVEY.md §2.2-2.4),
  * upgraded to BM25 per north_rule.
  *
  * `documents.text` is space-separated lowercase words, so our code
  * tokenizer agrees exactly with DuckDB's `string_split(text, ' ')` —
  * making the index itself SQL-oracle-checkable.
  */
object FullText {

  val Bm25Query = "data query merge"
  val ContainsNeedle = "the batch"
  val CountTerm = "merge"

  private val cache = new java.util.concurrent.ConcurrentHashMap[String, String]()

  private def docs(s: SparkSession, dir: String) =
    s.read.parquet(s"$dir/documents.parquet")

  /** documents -> SourceFile-shaped corpus for the index builder. */
  private def asCorpus(s: SparkSession, dir: String) = {
    import s.implicits._
    docs(s, dir)
      .select($"doc_id", $"text", $"lang")
      .as[(Long, String, String)]
      .map { case (id, text, lang) =>
        SourceFile(id, "documents", s"doc/$id", "", lang, text, Synth.sha256Hex(text))
      }
  }

  /** Build (or reuse) the full per-sf-dir index set: BM25 word index at the
    * root, trigram index under tri/text, numeric secondary index under
    * num/n_chars — the reference's per-column `Regist` surface. Returns the
    * index root, a temp dir deleted when the JVM exits. */
  def indexRoot(s: SparkSession, dir: String): String =
    cache.computeIfAbsent(dir, { d =>
      val out = deletedOnExit(java.nio.file.Files.createTempDirectory("graft_ftidx_")).toString
      // word and trigram/numeric builds write disjoint dirs — submit both
      // job chains concurrently so the cluster stays saturated across their
      // stage gaps (same pattern as the stage-1 ingest pool)
      val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
      val fWord = pool.submit(new Runnable {
        def run(): Unit = IndexBuild.build(s, asCorpus(s, d), out,
          IndexBuild.BuildConfig(numBatches = 2, numBuckets = 8,
            saltThreshold = 200, shardSize = 512))
      })
      val fCols = pool.submit(new Runnable {
        def run(): Unit = QueryParser.buildIndexes(s, docs(s, d), "doc_id",
          strCols = Seq("text"), numCols = Seq("n_chars"), root = out,
          TrigramIndex.TriConfig(numBuckets = 8, saltThreshold = 200, shardSize = 512))
      })
      try { fWord.get(); fCols.get() } finally pool.shutdown()
      out
    })

  /** `dir`, deleted recursively by a JVM shutdown hook. */
  private def deletedOnExit(dir: java.nio.file.Path): java.nio.file.Path = {
    sys.addShutdownHook {
      if (java.nio.file.Files.exists(dir)) {
        val paths = java.nio.file.Files.walk(dir)
        try paths.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
          .forEach(p => java.nio.file.Files.deleteIfExists(p))
        finally paths.close()
      }
    }
    dir
  }

  /** Build (or reuse) the inverted index for this sf dir. */
  def index(s: SparkSession, dir: String): Bm25Index =
    new Bm25Index(s, indexRoot(s, dir))

  /** BM25 top-10 through the index (segment-metadata probe -> pruned
    * segment scan -> decode -> score -> bounded-heap top-k). Oracle: brute-force
    * BM25 in DuckDB SQL. Both sides rank by round(score,9) with
    * (score desc, doc_id asc) tie-break and emit round(score,4). */
  def bm25TopK(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    index(s, dir).topKOr(Bm25Query, 10)
      .select($"doc_id", round($"score", 4).as("score"))
  }

  /** The reference's dictionary/count surface (A2 CountOfKey,
    * /root/reference/search_cond.go:176-215): df per term from the index's
    * dictionary view (Σ segment `count` per term) — a direct SQL-checkable
    * correctness probe of the inverted index itself. */
  def dictionaryTop(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    index(s, dir).dictionary
      .select($"term", $"df")
      .orderBy($"df".desc, $"term".asc)
      .limit(25)
  }

  /** Substring search answered from the PERSISTED trigram index (reference
    * P3/P5, /root/reference/index_file.go:1424-1615 +
    * /root/reference/search_finder.go:120-193): pruned segment scan ->
    * rarest-key block skipping -> AND intersection ->
    * containment recheck against only the candidate docs. No corpus
    * re-tokenization at query time. */
  def trigramSearch(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val root = indexRoot(s, dir)
    TrigramIndex.searchExact(s, QueryParser.triDir(root, "text"),
        docs(s, dir), "doc_id", "text", ContainsNeedle)
      .select($"doc_id")
      .orderBy($"doc_id")
  }

  /** The reference query language executed against the indexes
    * (/root/reference/search_cond.go:626-651): `search` -> trigram index,
    * numeric range -> sorted secondary projection, every predicate
    * re-applied on the candidates. */
  val QueryLangExpr = """text.search("the batch") && n_chars >= 300 && n_chars < 600"""
  def queryLang(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val root = indexRoot(s, dir)
    QueryParser.queryIndexed(s, docs(s, dir), "doc_id", root, QueryLangExpr)
      .select($"doc_id", $"n_chars")
      .orderBy($"doc_id")
  }

  /** Numeric secondary-index range lookup (reference P4 as an INDEX walk,
    * /root/reference/index_file.go:1208-1422): value-sorted projection,
    * parquet row-group [min,max] pruning stands in for segment key ranges. */
  def numIndexRange(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val root = indexRoot(s, dir)
    NumericIndex.range(s, root, "n_chars", Some(200L), Some(260L))
      .orderBy($"doc_id")
  }

  /** Trigram-overlap similarity — the reference's `Nears` surface
    * (/root/reference/search_cond.go:297-381), answered from the trigram
    * index: rank docs by |triKeys(doc) ∩ triKeys(needle)|, exact (no
    * stop-gram dropping), deterministic (overlap desc, doc_id asc). */
  val NearsNeedle = "merge the data"
  def nearsTopK(s: SparkSession, dir: String): DataFrame = {
    val root = indexRoot(s, dir)
    TrigramIndex.nears(s, QueryParser.triDir(root, "text"), NearsNeedle, 15)
  }

  /** Count of matches for one term, answered FROM THE INDEX — the
    * reference's count closures read it off the posting metadata without
    * materializing rows (A1, /root/reference/search_finder.go:325-332,
    * /root/reference/index_file.go:911-916). Here it is one dictionary row:
    * df == number of docs containing the term (one posting per (term, doc)),
    * the term's segment `count`s summed across shards and generations by
    * the merged dictionary view — a pruned metadata scan that never reads a
    * postings blob. The corpus is never scanned; the oracle still
    * brute-forces the documents table. */
  def countTerm(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    index(s, dir).dictionary
      .filter($"term" === CountTerm)
      .agg(coalesce(sum($"df"), lit(0L)).as("n"))
  }

  /** First/Last match in doc order FROM THE INDEX (W2,
    * /root/reference/search_finder.go:334-371): posting lists are doc-sorted
    * and each segment row carries block [first,last] doc ranges, so
    * first = min(block_first), last = max(block_last) and n = Σ count over
    * the term's segment rows — a pruned metadata scan that never decodes a
    * posting byte and never touches the corpus (the `postings` blob column
    * is not even read). */
  def firstLast(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    vfsidx.build.IndexBuild.readSegments(s, indexRoot(s, dir))
      .filter($"term" === CountTerm)
      .agg(min(array_min($"block_first")).as("first_id"),
        max(array_max($"block_last")).as("last_id"),
        coalesce(sum($"count"), lit(0)).cast("long").as("n"))
  }

  /** Index-backed Count/First/Last over a COMPOSED (conjunctive) condition
    * — the reference's terminal verbs on any SearchCond
    * (/root/reference/search_finder.go:325-371): posting-list intersection
    * with rarest-term block skipping, then count/min/max over the
    * intersection. Only pruned segment rows are decoded; the documents
    * table is never scanned (PLANS.md carries the audit). */
  val CountAndQuery = "merge query"
  def countFirstLastAnd(s: SparkSession, dir: String): DataFrame =
    index(s, dir).countFirstLastAnd(CountAndQuery)

  /** Parenthesized groups in the query language (round-4 grammar
    * extension): the expression normalizes to DNF, every group's conjuncts
    * resolve in one pass over the indexes, predicates re-apply
    * (divergence: the reference grammar has neither `\|\|` nor parens,
    * /root/reference/expr/expr.peg:8-32). */
  val QueryParenExpr = """text.search("merge") && (n_chars < 250 || n_chars >= 900)"""
  def queryParen(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val root = indexRoot(s, dir)
    QueryParser.queryIndexed(s, docs(s, dir), "doc_id", root, QueryParenExpr)
      .select($"doc_id", $"n_chars")
      .orderBy($"doc_id")
  }

  /** Query-language `||` extension: one pass over the indexes gives one
    * candidate set for all conjunct groups, every predicate re-applied (divergence: the reference grammar has no OR,
    * /root/reference/expr/expr.peg:8-32). */
  val QueryOrExpr = """text.search("the batch") && n_chars < 400 || text.search("data merge")"""
  def queryOr(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val root = indexRoot(s, dir)
    QueryParser.queryIndexed(s, docs(s, dir), "doc_id", root, QueryOrExpr)
      .select($"doc_id", $"n_chars")
      .orderBy($"doc_id")
  }

  /** String ordering comparisons in the query language — lexicographic scan
    * predicates re-applied on the trigram-index candidates (reference
    * StringOp `<,<=,>,>=`, /root/reference/search_cond.go:793-822, whose
    * trigram-KEY ordering we consciously replace with SQL semantics). */
  val QueryStrRangeExpr = """lang >= "e" && lang < "g" && text.search("merge")"""
  def queryStrRange(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val root = indexRoot(s, dir)
    QueryParser.queryIndexed(s, docs(s, dir), "doc_id", root, QueryStrRangeExpr)
      .select($"doc_id", $"lang")
      .orderBy($"doc_id")
  }

  /** Regex search answered from the trigram index (round-5 extension; the
    * public Cox trigram-prefilter technique — see
    * [[vfsidx.query.RegexTrigram]]): the pattern compiles to literal
    * OR-clauses, each clause resolves to candidates through the persisted
    * index, clauses intersect, and only candidate rows see the regex
    * engine. The oracle brute-forces DuckDB `regexp_matches` over the
    * table; both engines are RE2-compatible on this pattern subset. */
  val RegexPattern = "(data|the) (batch|quer[a-z]+)"
  def regexSearch(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val root = indexRoot(s, dir)
    vfsidx.query.RegexTrigram.searchRegex(s, QueryParser.triDir(root, "text"),
        docs(s, dir), "doc_id", "text", RegexPattern)
      .select($"doc_id")
      .orderBy($"doc_id")
  }

  /** Query-language `!` (negation) extension: the negated search never
    * consults an index (a complement is O(table)); the positive conjunct's
    * trigram candidates bound the rows and the negation rides the
    * re-applied predicate (reference grammar has no NOT,
    * /root/reference/expr/expr.peg:8-32). */
  val QueryNotExpr = """text.search("merge") && !text.search("the batch") && n_chars < 700"""
  def queryNot(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val root = indexRoot(s, dir)
    QueryParser.queryIndexed(s, docs(s, dir), "doc_id", root, QueryNotExpr)
      .select($"doc_id", $"n_chars")
      .orderBy($"doc_id")
  }

  /** Cross-column AND (J2: string predicate && numeric range,
    * /root/reference/search_cond.go:146-168). */
  def crossColumn(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    docs(s, dir)
      .filter(array_contains(split($"text", " "), CountTerm) &&
        $"n_chars" >= 300 && $"n_chars" < 600)
      .select($"doc_id", $"n_chars")
      .orderBy($"doc_id")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "ft_bm25_topk" -> (bm25TopK _),
    "ft_dictionary" -> (dictionaryTop _),
    "ft_trigram_search" -> (trigramSearch _),
    "ft_query_lang" -> (queryLang _),
    "ft_nears" -> (nearsTopK _),
    "num_index_range" -> (numIndexRange _),
    "ft_count_term" -> (countTerm _),
    "ft_first_last" -> (firstLast _),
    "ft_query_or" -> (queryOr _),
    "ft_query_strrange" -> (queryStrRange _),
    "ft_query_paren" -> (queryParen _),
    "ft_count_and" -> (countFirstLastAnd _),
    "ft_regex_search" -> (regexSearch _),
    "ft_query_not" -> (queryNot _),
    "ft_cross_column" -> (crossColumn _))

  private val bm25OracleFmt =
    """WITH tok AS (
      |  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
      |tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2),
      |dl AS (SELECT doc_id, count(*) AS dl FROM tok GROUP BY 1),
      |stats AS (SELECT (SELECT count(*) FROM tok) * 1.0 / (SELECT count(*) FROM documents) AS avgdl,
      |          (SELECT count(*) FROM documents) AS n),
      |df AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
      |q AS (SELECT unnest([%QTERMS%]) AS term),
      |sc AS (
      |  SELECT tf.doc_id,
      |    sum(ln((n - df + 0.5) / (df + 0.5) + 1.0)
      |        * tf * 2.2 / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl))) AS score
      |  FROM tf JOIN q USING (term) JOIN df USING (term)
      |       JOIN dl ON tf.doc_id = dl.doc_id, stats
      |  GROUP BY 1)
      |SELECT doc_id, round(round(score, 9), 4) AS score FROM sc
      |ORDER BY round(score, 9) DESC, doc_id ASC LIMIT 10""".stripMargin

  val oracleSql: Map[String, String] = Map(
    "ft_bm25_topk" -> bm25OracleFmt.replace("%QTERMS%",
      Bm25Query.split(' ').map(t => s"'$t'").mkString(", ")),
    "ft_dictionary" ->
      """SELECT term, count(DISTINCT doc_id) AS df
        |FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents) t
        |GROUP BY 1 ORDER BY df DESC, term ASC LIMIT 25""".stripMargin,
    "ft_trigram_search" ->
      s"""SELECT doc_id FROM documents WHERE contains(text, '$ContainsNeedle') ORDER BY doc_id""",
    "ft_query_lang" ->
      """SELECT doc_id, n_chars FROM documents
        |WHERE contains(text, 'the batch') AND n_chars >= 300 AND n_chars < 600
        |ORDER BY doc_id""".stripMargin,
    "ft_nears" -> {
      // distinct 3-char windows of the needle, inlined (ASCII, so DuckDB
      // substr windows coincide exactly with the engine's rune-trigram keys)
      val grams = NearsNeedle.sliding(3).toSeq.distinct
        .map(g => s"'${g.replace("'", "''")}'").mkString(", ")
      s"""WITH nd AS (SELECT unnest([$grams]) AS g),
         |dg AS (
         |  SELECT DISTINCT doc_id, substr(text, i, 3) AS g
         |  FROM documents, LATERAL (SELECT unnest(generate_series(1, len(text) - 2)) AS i) t)
         |SELECT doc_id, count(*) AS overlap
         |FROM dg JOIN nd USING (g)
         |GROUP BY 1 ORDER BY overlap DESC, doc_id ASC LIMIT 15""".stripMargin
    },
    "num_index_range" ->
      """SELECT doc_id FROM documents WHERE n_chars >= 200 AND n_chars < 260
        |ORDER BY doc_id""".stripMargin,
    "ft_count_term" ->
      s"""SELECT count(*) AS n FROM documents
         |WHERE list_contains(string_split(text, ' '), '$CountTerm')""".stripMargin,
    "ft_first_last" ->
      s"""SELECT min(doc_id) AS first_id, max(doc_id) AS last_id, count(*) AS n
         |FROM documents WHERE list_contains(string_split(text, ' '), '$CountTerm')""".stripMargin,
    "ft_query_or" ->
      """SELECT doc_id, n_chars FROM documents
        |WHERE (contains(text, 'the batch') AND n_chars < 400)
        |   OR contains(text, 'data merge')
        |ORDER BY doc_id""".stripMargin,
    "ft_query_strrange" ->
      """SELECT doc_id, lang FROM documents
        |WHERE lang >= 'e' AND lang < 'g' AND contains(text, 'merge')
        |ORDER BY doc_id""".stripMargin,
    "ft_query_paren" ->
      """SELECT doc_id, n_chars FROM documents
        |WHERE contains(text, 'merge') AND (n_chars < 250 OR n_chars >= 900)
        |ORDER BY doc_id""".stripMargin,
    "ft_count_and" ->
      s"""SELECT CAST(count(*) AS BIGINT) AS n, min(doc_id) AS first_id,
         |  max(doc_id) AS last_id
         |FROM documents
         |WHERE list_contains(string_split(text, ' '), 'merge')
         |  AND list_contains(string_split(text, ' '), 'query')""".stripMargin,
    "ft_regex_search" ->
      s"""SELECT doc_id FROM documents
         |WHERE regexp_matches(text, '$RegexPattern') ORDER BY doc_id""".stripMargin,
    "ft_query_not" ->
      """SELECT doc_id, n_chars FROM documents
        |WHERE contains(text, 'merge') AND NOT contains(text, 'the batch')
        |  AND n_chars < 700
        |ORDER BY doc_id""".stripMargin,
    "ft_cross_column" ->
      s"""SELECT doc_id, n_chars FROM documents
         |WHERE list_contains(string_split(text, ' '), '$CountTerm')
         |AND n_chars >= 300 AND n_chars < 600 ORDER BY doc_id""".stripMargin)
}
