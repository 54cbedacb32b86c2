package vfsidx.query

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import vfsidx.build.{NumericIndex, TrigramIndex}
import vfsidx.tokenize.Tokenizer

/** The reference's query language (PEG grammar /root/reference/expr/expr.peg:8-32,
  * IR `Qexpr{Ands: []Expr}` /root/reference/expr/qexpr.go:4-13): conjunctions
  * of `column OP value` and `column.search("str")`, e.g.
  *
  *   title.search("鬼滅の") && id == 3365460
  *
  * Re-expressed Spark-first: the parser compiles the expression to a Catalyst
  * `Column` predicate over any DataFrame with those columns. Semantics:
  *
  *  - `col.search("s")` / string equality -> substring containment. The
  *    reference implements this as trigram AND-intersection, which admits
  *    false positives; we apply the trigram test AND the exact containment
  *    recheck, i.e. true substring semantics (divergence documented in
  *    SURVEY.md §2.2; the indexed execution path with the same recheck is
  *    FullText.trigramSearch).
  *  - numeric comparisons `== != < <= > >=` -> strict/inclusive as written
  *    (the reference treats all four range ops inclusively — a bug we fix,
  *    /root/reference/search_cond.go:728-755).
  *  - string ordering `< <= > >=` -> plain lexicographic comparison on the
  *    column (documented divergence: the reference orders by trigram KEY
  *    value, /root/reference/search_cond.go:793-822 — near-meaningless to a
  *    user; we take the SQL meaning).
  *  - `&&` conjunction per the reference grammar, plus `||` disjunction and
  *    parenthesized groups (extensions the reference grammar lacks,
  *    /root/reference/expr/expr.peg:8-32 — documented divergence; `&&`
  *    binds tighter than `||`, parentheses compose; expressions normalize
  *    to DNF so the indexed dispatch stays per-conjunct-group).
  */
object QueryParser {

  sealed trait Expr
  final case class Search(col: String, s: String) extends Expr
  final case class Cmp(col: String, op: String, value: Either[Long, String]) extends Expr
  /** `col.regex("pattern")` — grammar extension over the reference (whose
    * PEG has only `.search`, /root/reference/expr/expr.peg:8-32): unanchored
    * regex match, answered through the trigram index when
    * [[RegexTrigram.plan]] finds literal clauses, scan predicate otherwise. */
  final case class Regex(col: String, pattern: String) extends Expr
  /** `!expr` — negation (grammar extension; the reference PEG has no NOT,
    * /root/reference/expr/expr.peg:8-32). Parse-time De Morgan pushes `!`
    * down to atoms, so DNF groups hold only plain or once-negated atoms. A
    * negated atom never contributes an index candidate set (a complement is
    * O(table) rows — no index helps); it rides the re-applied group
    * predicate like any other non-indexable conjunct, so positive conjuncts
    * alongside it still bound the rows read. */
  final case class Not(e: Expr) extends Expr

  private val searchRe = """^\s*([A-Za-z_][A-Za-z0-9_]*)\.search\(\s*"((?:[^"\\]|\\.)*)"\s*\)\s*$""".r
  private val regexRe = """^\s*([A-Za-z_][A-Za-z0-9_]*)\.regex\(\s*"((?:[^"\\]|\\.)*)"\s*\)\s*$""".r
  private val cmpRe = """^\s*([A-Za-z_][A-Za-z0-9_]*)\s*(==|!=|<=|>=|<|>)\s*(?:"((?:[^"\\]|\\.)*)"|(-?\d+))\s*$""".r

  private def unescape(s: String): String =
    s.replace("\\\"", "\"").replace("\\\\", "\\")

  private def parseAtom(part: String): Expr = part match {
    case searchRe(col, s) => Search(col, unescape(s))
    case regexRe(col, p) =>
      val pat = unescape(p)
      try java.util.regex.Pattern.compile(pat)
      catch { case e: java.util.regex.PatternSyntaxException =>
        throw new IllegalArgumentException(s"bad regex in query: ${e.getMessage}") }
      Regex(col, pat)
    case cmpRe(col, op, str, num) =>
      Cmp(col, op, if (str != null) Right(unescape(str)) else Left(num.toLong))
    case other => throw new IllegalArgumentException(s"cannot parse query term: '$other'")
  }

  // ---- lexer + recursive-descent parser --------------------------------
  // grammar:  orExpr  := andExpr ('||' andExpr)*
  //           andExpr := unit   ('&&' unit)*
  //           unit    := '(' orExpr ')' | atom
  // A '(' where an EXPRESSION is expected opens a group; inside an atom,
  // parens (the `.search(...)` call) and quoted strings are tracked so the
  // lexer never splits within them.
  private sealed trait Tok
  private case object LPar extends Tok
  private case object RPar extends Tok
  private case object AndOp extends Tok
  private case object OrOp extends Tok
  private case object NotOp extends Tok
  private final case class Atom(s: String) extends Tok

  private def lex(q: String): Seq[Tok] = {
    val toks = Seq.newBuilder[Tok]
    var i = 0
    var expectExpr = true
    while (i < q.length) {
      val c = q.charAt(i)
      if (c.isWhitespace) i += 1
      else if (expectExpr && c == '!') { toks += NotOp; i += 1 } // stays expectExpr
      else if (expectExpr && c == '(') { toks += LPar; i += 1 }
      else if (!expectExpr && c == ')') { toks += RPar; i += 1 }
      else if (!expectExpr && c == '&' && i + 1 < q.length && q.charAt(i + 1) == '&') {
        toks += AndOp; expectExpr = true; i += 2
      } else if (!expectExpr && c == '|' && i + 1 < q.length && q.charAt(i + 1) == '|') {
        toks += OrOp; expectExpr = true; i += 2
      } else if (expectExpr) {
        val start = i
        var depth = 0
        var inStr = false
        var done = false
        while (i < q.length && !done) {
          val ch = q.charAt(i)
          if (inStr) {
            if (ch == '\\' && i + 1 < q.length) i += 2
            else { if (ch == '"') inStr = false; i += 1 }
          } else ch match {
            case '"' => inStr = true; i += 1
            case '(' => depth += 1; i += 1
            case ')' if depth > 0 => depth -= 1; i += 1
            case ')' => done = true
            case '&' if depth == 0 && i + 1 < q.length && q.charAt(i + 1) == '&' => done = true
            case '|' if depth == 0 && i + 1 < q.length && q.charAt(i + 1) == '|' => done = true
            case _ => i += 1
          }
        }
        toks += Atom(q.substring(start, i).trim)
        expectExpr = false
      } else throw new IllegalArgumentException(
        s"unexpected '$c' at position $i in query: $q")
    }
    toks.result()
  }

  /** Hard bound on DNF ||-groups: `(a1||b1) && … && (an||bn)` distributes
    * into 2^n conjunctive groups — unchecked, a pathological (or
    * adversarial) expression OOMs the DRIVER during parsing, before any
    * Spark job exists. Real query expressions stay in single digits; 64
    * groups is far past anything a human writes but far below driver harm.
    * Exceeding it is a loud error naming the bound (not a scan fallback:
    * the blowup happens while PARSING, so there is no cheaper plan to fall
    * back to — the user should restructure the query). */
  val MaxDnfGroups = 64

  /** OR-of-ANDs in DISJUNCTIVE NORMAL FORM: `a && b || c` parses to
    * Seq(Seq(a, b), Seq(c)); parenthesized groups distribute —
    * `a && (b || c)` becomes Seq(Seq(a, b), Seq(a, c)) — so the indexed
    * dispatch's per-group candidate machinery applies unchanged. Both `||`
    * and parentheses are documented extensions over the reference grammar
    * (pure conjunctions only, /root/reference/expr/expr.peg:8-32); the
    * distribution is capped at [[MaxDnfGroups]]. */
  def parseQuery(q: String): Seq[Seq[Expr]] = {
    val toks = lex(q)
    var pos = 0
    def peek: Option[Tok] = if (pos < toks.size) Some(toks(pos)) else None
    def capped(n: Int): Unit = require(n <= MaxDnfGroups,
      s"query expands to $n ||-groups in disjunctive normal form — over the " +
        s"$MaxDnfGroups-group bound; restructure the query (fewer " +
        s"(..||..) factors under &&): $q")
    def orExpr(): Seq[Seq[Expr]] = {
      var acc = andExpr()
      while (peek.contains(OrOp)) {
        pos += 1; acc = acc ++ andExpr(); capped(acc.size)
      }
      acc
    }
    def andExpr(): Seq[Seq[Expr]] = {
      var acc = unit()
      while (peek.contains(AndOp)) {
        pos += 1
        val r = unit()
        capped(acc.size * r.size)
        acc = for (a <- acc; b <- r) yield a ++ b   // distribute && over ||
      }
      acc
    }
    def negAtom(e: Expr): Expr = e match { case Not(x) => x; case x => Not(x) }
    // ¬(G1 ∨ … ∨ Gn) = ∧_i (∨_{a∈Gi} ¬a): distribute back to DNF by picking
    // one negated atom per group; the product is bounded by the same
    // MaxDnfGroups cap as `&&`-over-`||` distribution
    def negate(dnf: Seq[Seq[Expr]]): Seq[Seq[Expr]] =
      dnf.foldLeft(Seq(Seq.empty[Expr])) { (acc, g) =>
        val negs = g.map(negAtom).distinct
        val next = for (a <- acc; b <- negs) yield a :+ b
        capped(next.size)
        next
      }
    def unit(): Seq[Seq[Expr]] = peek match {
      case Some(NotOp) =>
        pos += 1
        negate(unit())
      case Some(LPar) =>
        pos += 1
        val r = orExpr()
        require(peek.contains(RPar), s"unbalanced '(' in query: $q")
        pos += 1
        r
      case Some(Atom(s)) => pos += 1; Seq(Seq(parseAtom(s)))
      case other => throw new IllegalArgumentException(
        s"expected an expression, got $other in query: $q")
    }
    val r = orExpr()
    require(pos == toks.size, s"trailing tokens after position $pos in query: $q")
    r
  }

  /** Single conjunction (the reference's exact grammar) — most callers. */
  def parse(q: String): Seq[Expr] = {
    val groups = parseQuery(q)
    require(groups.size == 1, s"expected a pure conjunction, got ${groups.size} ||-groups")
    groups.head
  }

  /** Compile one expression to a Catalyst predicate. String search applies
    * the trigram containment test (the reference's index semantics) plus the
    * exact recheck. Short strings (<3 runes) produce zero trigram keys and
    * match nothing — the reference's silent-drop rule, pinned by
    * /root/reference/vfsindex_test.go:149-159. */
  def predicate(e: Expr): Column = e match {
    case Search(col, s) =>
      if (Tokenizer.triKeys(s).isEmpty) lit(false)
      else column(col).contains(s)
    case Regex(col, p) => column(col).rlike(p)
    // SQL three-valued logic applies: !pred on a NULL column value is NULL
    // (row dropped), matching both the brute-force query() and the DuckDB
    // oracle. A sub-3-rune search inside ! inverts the silent-drop rule:
    // `!col.search("ab")` is literally true (matches every row) because the
    // positive form matches none — pinned in QueryParserSpec.
    case Not(e) => !predicate(e)
    case Cmp(col, op, Right(s)) => op match {
      case "==" =>
        if (Tokenizer.triKeys(s).isEmpty) lit(false) else column(col).contains(s)
      case "!=" => !column(col).contains(s)
      // lexicographic ordering on the string column itself (divergence from
      // the reference's trigram-key ordering — see the object Scaladoc)
      case "<"  => column(col) < s
      case "<=" => column(col) <= s
      case ">"  => column(col) > s
      case ">=" => column(col) >= s
    }
    case Cmp(col, op, Left(v)) => op match {
      case "==" => column(col) === v
      case "!=" => column(col) =!= v
      case "<"  => column(col) < v
      case "<=" => column(col) <= v
      case ">"  => column(col) > v
      case ">=" => column(col) >= v
    }
  }

  private def column(name: String): Column = col(name)

  private def groupPredicate(g: Seq[Expr]): Column =
    g.map(predicate).reduce(_ && _)

  /** Parse + apply: the reference's `SearchCond.Query(qstr)` as a DataFrame
    * transform (terminal verbs are plain Dataset actions: All = collect,
    * First = limit(1), Count = count — SURVEY.md §3.3). */
  def query(df: DataFrame, q: String): DataFrame =
    df.filter(parseQuery(q).map(groupPredicate).reduce(_ || _))

  // ---- indexed execution -------------------------------------------------

  def triDir(root: String, col: String) = s"$root/tri/$col"

  /** Build OR REFRESH the per-column index set consulted by
    * [[queryIndexed]]: a trigram index per string column, a sorted numeric
    * projection per numeric column — the reference's per-column `Regist`
    * indexes (/root/reference/indexer.go:77-93), one directory per column.
    *
    * Re-running against a GROWN table is the reference's re-`Regist`
    * (/root/reference/column.go:167-176): each index compares its
    * persisted max-doc-id watermark to the table and seals ONLY the new
    * rows (id above the watermark) as a fresh generation — O(new data) —
    * then folds via the tiered policy when generations accumulate. The
    * REFRESH requires ids of appended rows to be increasing (the engine's
    * dense-id ingest guarantees it); a table violating that — e.g. an
    * append filling an id gap below the watermark — is detected here (the
    * table's at-or-below-watermark row count no longer matches the index's
    * covered count) and repairs by REBUILDING the column, since a
    * watermark-based refresh can never see those rows. Until the rebuild
    * runs, [[queryIndexed]]'s staleness guard keeps answers exact (its
    * row-count comparison sees any append regardless of id order — scan
    * fallback).
    * Crash-safe without a WAL: `newRows` is recomputed from the committed
    * watermark each attempt and the ingest overwrites the (uncommitted)
    * slot it re-derives. */
  def buildIndexes(spark: SparkSession, df: DataFrame, idCol: String,
                   strCols: Seq[String], numCols: Seq[String], root: String,
                   triCfg: TrigramIndex.TriConfig = TrigramIndex.TriConfig()): Unit = {
    // (rows at-or-below the covered watermark, rows above it) in ONE agg.
    // The below-count is the GAP-FILL detector: the refresh only ingests
    // rows with id > covered, so an append that fills an id gap BELOW the
    // watermark is invisible to it — re-running regist would never see
    // those rows and the column would degrade to scan fallback permanently.
    // A below-count differing from the index's covered row count means
    // exactly that happened: the only repair is a rebuild of the column
    // (queryIndexed's guard keeps answers exact in the interim).
    def belowAbove(covered: Long): (Long, Long) = {
      val idL = col(idCol).cast("long")
      val r = df.agg(count(when(idL <= covered, 1)), count(when(idL > covered, 1))).head()
      (r.getLong(0), r.getLong(1))
    }
    // One column's re-regist, given its (n_rows, max_doc_id) watermark:
    // build it when absent, rebuild it on a gap-fill, else seal the rows
    // above the watermark at the next free slot and fold tiered. The slot
    // is past everything PRESENT (committed, partial, or merely reserved by
    // a crashed stream epoch/refresh — maxBatch sees reserved dirs, so this
    // can never collide with a slot a replay will later complete); a
    // crashed regist attempt's own partial slot is simply orphaned (a
    // permanent coverage gap — folds split around it, correctness
    // unaffected). Reclaim is deferred: a concurrent reader that planned
    // against the folded generations keeps its files until the next regist.
    def refreshColumn(name: String, colDir: String, covered: Option[(Long, Long)],
                      build: () => Unit, nextSlot: () => Int,
                      ingest: (DataFrame, Int) => Unit, compact: () => Unit): Unit =
      covered match {
        case None => build()
        case Some((nRows, maxId)) =>
          val (below, above) = belowAbove(maxId)
          if (below != nRows) {
            System.err.println(s"vfsidx: $name covers $nRows rows up to id " +
              s"$maxId but the table holds $below rows at or below it " +
              "(an append filled an id gap below the watermark) - rebuilding the column")
            vfsidx.build.IndexBuild.TableIO.rmrf(spark, colDir)
            build()
          } else if (above > 0) {
            ingest(df.filter(col(idCol).cast("long") > maxId), nextSlot())
            compact()
          }
      }
    // each column first reclaims what the PREVIOUS regist's compaction
    // retired (grace period = one regist cycle, same pattern as the
    // refresh driver)
    strCols.foreach { c =>
      val dir = triDir(root, c)
      TrigramIndex.vacuum(spark, dir)
      refreshColumn(s"tri/$c", dir,
        TrigramIndex.statsMerged(spark, dir).map(st => (st.n_rows, st.max_doc_id)),
        () => TrigramIndex.build(spark, df, idCol, c, dir, triCfg),
        () => TrigramIndex.maxBatch(spark, dir) + 1,
        (rows, slot) => TrigramIndex.ingestBatch(spark, rows, idCol, c, dir, slot,
          triCfg, overwrite = true),
        () => TrigramIndex.compactTiered(spark, dir, triCfg, reclaim = false))
    }
    numCols.foreach { c =>
      NumericIndex.vacuum(spark, root, c)
      refreshColumn(s"num/$c", NumericIndex.colDir(root, c),
        NumericIndex.stats(spark, root, c).map(st => (st.n_rows, st.max_doc_id)),
        () => NumericIndex.build(spark, df, idCol, c, root),
        () => NumericIndex.maxBatch(spark, root, c) + 1,
        (rows, slot) => NumericIndex.ingestBatch(spark, rows, idCol, c, root, slot,
          overwrite = true),
        () => NumericIndex.compactTiered(spark, root, c, reclaim = false))
    }
  }

  /** Numeric-index conjuncts estimated to match more than this fraction of
    * the table are executed as scan predicates instead: a semi-join against
    * 90% of the row ids costs a full shuffle and saves nothing. The estimate
    * comes from the index's PERSISTED quantile sketch ([[NumericIndex.stats]])
    * — zero query-time counting jobs. Stats commit with every generation,
    * so a consulted index always has them; a crash-windowed generation
    * missing its stats is simply not committed (not consulted at all). */
  val MaxIndexSelectivity = 0.25

  /** Stable identity of one candidate set — the memo key AND the unit of
    * common-conjunct hoisting across DNF groups. */
  private final case class CandKey(kind: String, col: String, detail: String)

  /** Table-watermark cache for the staleness guard. The guard needs the
    * table's (row count, max id); an O(table) agg per indexed query would be
    * the one full-scan term left on the query path at 100× scale. For
    * FILE-BACKED tables the agg result is cached and token-validated by the
    * input files' parent-directory listings (names + lengths + mtimes —
    * the [[vfsidx.build.IndexBuild.StatsCache]] token), so the steady state
    * is O(metadata): any append, rewrite, or compaction of the table changes
    * a listing, invalidates the entry, and the recomputed watermark still
    * degrades stale conjuncts to scan predicates. The reference never pays a
    * scan here either — its dirty detection is file-existence
    * (/root/reference/record.go:46-82). Non-file-backed frames (in-memory
    * tables, views with no files) have no listing to token-validate and
    * recompute per call, the pre-cache behavior. */
  private[vfsidx] object TableWatermark {
    private val cache = new vfsidx.build.IndexBuild.StatsCache[Option[(Long, Long)]]

    /** Watermark agg jobs actually run — observability for the cache
      * contract (a second query over an unchanged table must not add one). */
    val aggRuns = new java.util.concurrent.atomic.AtomicLong()

    def of(df: DataFrame, idCol: String): Option[(Long, Long)] = {
      def compute(): Option[(Long, Long)] = {
        aggRuns.incrementAndGet()
        val r = df.agg(count(lit(1)), max(col(idCol).cast("long"))).head()
        if (r.getLong(0) == 0L) None else Some((r.getLong(0), r.getLong(1)))
      }
      val files = df.inputFiles
      if (files.isEmpty) compute()
      else {
        val parents = files.map(f =>
          new org.apache.hadoop.fs.Path(f).getParent.toString).distinct.sorted.toSeq
        // The key must identify the FRAME, not just its files: two plans
        // over the same table (a filtered view vs the table itself) have
        // different watermarks. semanticHash distinguishes plans; the parent
        // dirs keep the key stable across refreshes of the same table.
        val key = parents.mkString(",") + "#" + idCol + "#" +
          df.queryExecution.analyzed.semanticHash()
        cache.getOrCompute(key, cache.token(df.sparkSession, parents))(compute())
      }
    }
  }

  /** Per-[[queryIndexed]]-call memo. DNF distribution repeats the same
    * conjunct in many groups (`s && (a || b)` puts `s` in both); memoizing
    * here means each distinct candidate set is PLANNED once, each column's
    * freshness is checked once (one round of generation-listing filesystem
    * calls instead of one per conjunct per group — on an object store
    * that's the difference between 2 and ~2×groups×conjuncts metadata
    * round-trips), and the staleness warning prints once per column. */
  private final class QueryMemo(val spark: SparkSession, val indexRoot: String,
                                tableWatermark: () => Option[(Long, Long)]) {
    private val cand = scala.collection.mutable.Map.empty[CandKey, DataFrame]
    private val freshM = scala.collection.mutable.Map.empty[String, Boolean]
    private val numStatsM =
      scala.collection.mutable.Map.empty[String, Option[vfsidx.build.NumStats]]

    /** A LAZY handle: the candidate DataFrame is built (and memoized) only
      * when the thunk is forced. Keys alone drive the hoisting decision, so
      * sets the hoist discards — a residual dropped by a residual-empty
      * group, or everything when some group is unindexable — never pay
      * their planning cost (searchCandidates runs eager driver collects). */
    def candidate(key: CandKey)(build: => DataFrame): (CandKey, () => DataFrame) =
      key -> (() => cand.getOrElseUpdate(key, build))

    def numStats(c: String): Option[vfsidx.build.NumStats] =
      numStatsM.getOrElseUpdate(c, NumericIndex.stats(spark, indexRoot, c))

    // STALENESS GUARD: an index that covers fewer rows than the table, or
    // whose max-doc-id watermark is below the table's max id, has rows it
    // never saw (the `regist` -> table-grows -> `query --index` hazard) —
    // consulting it would silently drop matches in those rows. The row
    // count catches even appends that fill id gaps (which a max-id check
    // alone cannot see); in-place mutation of an existing row is outside
    // the guard's contract (append-only tables). A stale conjunct degrades
    // to a scan predicate (always correct); re-running `regist`
    // (buildIndexes) restores the fast path.
    def fresh(what: String, covered: => Option[(Long, Long)]): Boolean =
      freshM.getOrElseUpdate(what, covered match {
        case None => false
        case Some((cn, cmax)) =>
          val ok = tableWatermark().forall { case (n, maxId) => n == cn && maxId <= cmax }
          if (!ok) System.err.println(
            s"vfsidx: $what index is STALE (covers $cn rows, ids <= $cmax; table " +
              s"has ${tableWatermark().get._1} rows, max id ${tableWatermark().get._2}) " +
              "- falling back to scan; re-run regist to refresh")
          ok
      })
  }

  /** Candidate doc_ids for ONE conjunct group, one (key, lazy set) pair per
    * indexed conjunct — intersected by the caller, which first hoists keys
    * common to every group and forces only the surviving thunks; None when
    * no conjunct is indexable (the group needs a scan anyway). Exactness is
    * never at stake: candidates are a superset and every predicate is
    * re-applied by [[queryIndexed]]. */
  private def groupCandidates(exprs: Seq[Expr],
                              memo: QueryMemo): Option[Seq[(CandKey, () => DataFrame)]] = {
    import memo.{spark, indexRoot}
    // string equality shares the reference's containment semantics
    // (search_cond.go:728-791), so it consults the same trigram index;
    // the re-applied predicate keeps it exact either way
    // malformed-UTF-16 needles (a sliced surrogate pair) must NOT consult
    // the index: their lone-surrogate trigram keys can never exist in the
    // corpus index, yet char-level `contains` CAN match — the scan
    // predicate alone keeps queryIndexed row-identical to query() (same
    // rule as TrigramIndex.searchExact's full-scan bypass)
    def freshTri(c: String): Boolean =
      memo.fresh(s"tri/$c", TrigramIndex.statsMerged(spark, triDir(indexRoot, c))
        .map(st => (st.n_rows, st.max_doc_id)))
    def indexable(c: String, s: String): Boolean =
      Tokenizer.triKeys(s).nonEmpty && TrigramIndex.wellFormedUtf16(s) && freshTri(c)
    def candidates(c: String, s: String): (CandKey, () => DataFrame) =
      memo.candidate(CandKey("tri", c, s))(
        TrigramIndex.searchCandidates(spark, triDir(indexRoot, c), s))
    val searchSets: Seq[(CandKey, () => DataFrame)] = exprs.flatMap {
      case Search(c, s) if indexable(c, s) => Some(candidates(c, s))
      case Cmp(c, "==", Right(s)) if indexable(c, s) => Some(candidates(c, s))
      // regex consults the same trigram index through its CNF literal plan
      // (RegexTrigram soundness: candidates are a superset; the re-applied
      // rlike predicate keeps the rows exact). plan()=None -> scan predicate.
      case Regex(c, p) if freshTri(c) =>
        RegexTrigram.plan(p).map(clauses =>
          memo.candidate(CandKey("re", c, p))(
            RegexTrigram.clauseCandidates(spark, triDir(indexRoot, c), clauses)))
      case _ => None
    }
    // Merge ALL numeric conjuncts on one column into a single index walk —
    // `x >= 300 && x < 600` is one pruned range scan, not two intersected
    // candidate sets (the reference's range lookup is likewise one
    // [first,last] walk, /root/reference/index_file.go:1208-1422).
    final case class Bounds(lo: Option[(Long, Boolean)], hi: Option[(Long, Boolean)],
                            eq: Option[Long], contradiction: Boolean)
    val numBounds = scala.collection.mutable.LinkedHashMap[String, Bounds]()
    exprs.foreach {
      case Cmp(c, op, Left(v)) if op != "!=" &&
          memo.fresh(s"num/$c", memo.numStats(c)
            .map(st => (st.n_rows, st.max_doc_id))) =>
        val b = numBounds.getOrElse(c, Bounds(None, None, None, contradiction = false))
        val nb = op match {
          case "==" => b.eq match {
            case Some(e) if e != v => b.copy(contradiction = true)
            case _ => b.copy(eq = Some(v))
          }
          case ">" | ">=" =>
            val cand = (v, op == ">=")
            val tighter = b.lo.forall { case (lv, lInc) => v > lv || (v == lv && !cand._2 && lInc) }
            if (tighter) b.copy(lo = Some(cand)) else b
          case "<" | "<=" =>
            val cand = (v, op == "<=")
            val tighter = b.hi.forall { case (hv, hInc) => v < hv || (v == hv && !cand._2 && hInc) }
            if (tighter) b.copy(hi = Some(cand)) else b
        }
        numBounds(c) = nb
      case _ => ()
    }
    // index-vs-scan gate from persisted stats — no query-time jobs (stats
    // commit with every generation, so a consulted index always has them)
    def selective(col: String, lo: Option[Long], hi: Option[Long],
                  key: CandKey, cand: => DataFrame): Option[(CandKey, () => DataFrame)] =
      memo.numStats(col).flatMap { st =>
        if (NumericIndex.estimateFraction(st, lo, hi) <= MaxIndexSelectivity)
          Some(memo.candidate(key)(cand))
        else None
      }
    val numSets: Seq[(CandKey, () => DataFrame)] = numBounds.toSeq.flatMap { case (c, b) =>
      if (b.contradiction)
        Some(memo.candidate(CandKey("num", c, "contradiction"))(
          spark.range(0).toDF("doc_id")))
      else b.eq match {
        case Some(v) =>
          selective(c, Some(v), Some(v), CandKey("num", c, s"eq=$v"),
            NumericIndex.point(spark, indexRoot, c, v))
        case None =>
          selective(c, b.lo.map(_._1), b.hi.map(_._1),
            CandKey("num", c, s"${b.lo.mkString}..${b.hi.mkString}"),
            NumericIndex.range(spark, indexRoot, c, b.lo.map(_._1), b.hi.map(_._1),
              loInclusive = b.lo.forall(_._2), hiInclusive = b.hi.exists(_._2)))
      }
    }
    val candSets = searchSets ++ numSets
    if (candSets.isEmpty) None else Some(candSets)
  }

  /** Indexed execution of the reference query language — the dispatch the
    * reference performs in SearchCond.Query (/root/reference/search_cond.go:626-651
    * -> index_file.go:801-935): `col.search("s")` consults the column's
    * trigram index, numeric `==`/range predicates consult the numeric
    * secondary index, and anything un-indexed stays a scan predicate.
    * `||`-groups union their candidate sets (the semi-join dedups).
    *
    * Exactness by construction: the indexes only produce CANDIDATE doc_ids
    * (intersected within a group, unioned across groups, then semi-joined to
    * the table); the full parsed predicate — including the containment
    * recheck — is re-applied on the candidate rows, so the result is
    * row-identical to the brute-force [[query]] path (differential-tested in
    * QueryParserSpec/TrigramIndexSpec). With any group lacking an indexable
    * conjunct this degrades to [[query]] (candidates could not bound that
    * group's rows).
    *
    * Candidate sets COMMON to every `||`-group are HOISTED above the union:
    * intersection distributes over union, so
    * `∪_g (common ∩ residual_g) = common ∩ ∪_g residual_g` — the shared
    * subtree (often the expensive segment scan of a repeated search) appears
    * ONCE in the final plan instead of once per union branch. A group whose
    * candidates are ALL common contributes no residual restriction, so the
    * union term drops entirely and `common` alone bounds the rows.
    */
  def queryIndexed(spark: SparkSession, df: DataFrame, idCol: String,
                   indexRoot: String, q: String,
                   mergeOnSearch: Option[TrigramIndex.TriConfig] = None): DataFrame = {
    val groups = parseQuery(q)
    // the table's (row count, max id) watermark for the staleness guard —
    // evaluated lazily (only when a candidate index is consulted), shared
    // across all conjunct groups, and CACHED per table ([[TableWatermark]]):
    // an unchanged file-backed table answers from the token-validated cache
    // with zero jobs, so the guard costs O(file metadata) per query in the
    // steady state, never an O(table) agg. The per-conjunct cost gate
    // likewise stays job-free (persisted sketches).
    lazy val tableWatermark: Option[(Long, Long)] = TableWatermark.of(df, idCol)
    val memo = new QueryMemo(spark, indexRoot, () => tableWatermark)
    val sets = groups.map(g => groupCandidates(g, memo))
    def intersect(dfs: Seq[DataFrame]): DataFrame =
      dfs.reduce((a, b) => a.join(b, "doc_id"))
    val base =
      if (sets.exists(_.isEmpty)) df   // scan fallback: no candidate is read,
                                       // so merge-on-search folds nothing
      else {
        val perGroup: Seq[Seq[(CandKey, () => DataFrame)]] = sets.flatten
        val common = perGroup.map(_.map(_._1).toSet).reduce(_ intersect _)
        val residuals = perGroup.map(_.filterNot(kv => common(kv._1)))
        val dropResiduals = common.nonEmpty && residuals.exists(_.isEmpty)
        // keys that SURVIVE the hoist — decidable from keys alone, before
        // any thunk is forced
        val surviving: Set[CandKey] =
          if (common.isEmpty) perGroup.flatten.map(_._1).toSet
          else if (dropResiduals) common
          else common ++ residuals.flatten.map(_._1)
        // MERGE-ON-SEARCH (the reference's MergeOnSearch option: a bounded
        // merge kicked from the search path, /root/reference/search_cond.go:
        // 828-837, config.go:62-66; the Bm25Index twin is its `mergeOnSearch`
        // ctor arg): fold exactly the columns whose candidate sets the
        // query WILL read — indexable + fresh + selective (they produced a
        // key) AND surviving the hoist — and fold BEFORE forcing the
        // thunks, so the planned reads reference the post-fold survivor
        // generations and stay valid across a later vacuum. `cfg` must be
        // the config the index was built with (shard layout + fold policy,
        // same contract as buildIndexes); numeric folds keep their own
        // default bucket layout, as buildIndexes does. Contradiction keys
        // read no index. Reclaim stays deferred for CONCURRENT readers
        // (this query's own reads don't need the retirees anymore).
        mergeOnSearch.foreach { cfg =>
          surviving.collect { case CandKey("tri", c, _) => c }.foreach(c =>
            TrigramIndex.compactTiered(spark, triDir(indexRoot, c), cfg, reclaim = false))
          surviving.collect { case CandKey("num", c, d) if d != "contradiction" => c }
            .foreach(c =>
              NumericIndex.compactTiered(spark, indexRoot, c,
                maxGenerations = cfg.maxGenerations, tierFanout = cfg.tierFanout,
                reclaim = false, maxFoldDocs = cfg.maxFoldDocs))
        }
        // force ONLY the surviving thunks: residuals are dropped wholesale
        // when some group's candidates are all common
        val ids =
          if (common.isEmpty)
            perGroup.map(g => intersect(g.map(_._2()))).reduce(_ unionByName _)
          else {
            val commonIds = intersect(
              perGroup.head.filter(kv => common(kv._1)).distinctBy(_._1).map(_._2()))
            if (dropResiduals) commonIds
            else commonIds.join(
              residuals.map(g => intersect(g.map(_._2()))).reduce(_ unionByName _), "doc_id")
          }
        df.join(ids.withColumnRenamed("doc_id", idCol), Seq(idCol), "left_semi")
      }
    base.filter(groups.map(groupPredicate).reduce(_ || _))
  }
}
