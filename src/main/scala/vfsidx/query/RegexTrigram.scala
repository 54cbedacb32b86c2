package vfsidx.query

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

import vfsidx.build.TrigramIndex

/** Regex search answered from the PERSISTED trigram index.
  *
  * The reference stops at substring search (`search("...")`,
  * /root/reference/search_cond.go:626-651); full regex over an unindexed
  * corpus is the "very slow jq" case its README motivates against
  * (/root/reference/README.md:18-21). This module closes that gap with the
  * public trigram-prefilter technique (R. Cox, "Regular Expression Matching
  * with a Trigram Index", swtch.com 2012, the design behind Google Code
  * Search): compile the pattern into NECESSARY literal-substring conditions
  * in CNF — each clause an OR-set of literals such that every match must
  * contain at least one member of every clause — resolve each clause to a
  * candidate doc set through [[TrigramIndex.searchCandidates]] (union over
  * members), intersect the clauses, and re-verify only the candidate rows
  * with the real regex engine.
  *
  * Soundness invariant: the analysis only ever produces necessary
  * conditions, so the candidate set is a SUPERSET of the true match set for
  * every supported pattern; the `rlike` recheck makes the result exactly
  * equal to a full-scan `rlike` filter (differential-tested in
  * RegexTrigramSpec). Anything the analyzer cannot prove (backreferences,
  * lookaround, flags, unbounded classes everywhere) degrades to the
  * full-scan filter — identical rows, loudly logged.
  *
  * Scale shape: the prefilter is segment-metadata + pruned-segment reads, i.e.
  * O(selectivity), not O(corpus); the recheck runs only on candidate rows
  * (bounded `In` pushdown or a semi-join, exactly like
  * [[TrigramIndex.searchExact]]). At 100 TB a `.*`-style pattern still
  * costs a full scan — but so does every engine; the log line names it.
  */
object RegexTrigram {

  // ---------------------------------------------------------------- AST --

  private sealed trait Re
  /** Zero-width constructs: anchors, word boundaries, empty alternative. */
  private case object Eps extends Re
  /** A position that consumes >=1 char about which we know nothing: `.`,
    * big/negated classes, `\d\w\s` and friends. */
  private case object AnyChar extends Re
  private final case class Lit(s: String) extends Re
  private final case class Cat(parts: List[Re]) extends Re
  private final case class Alt(opts: List[Re]) extends Re
  private final case class Rep(r: Re, min: Int, max: Option[Int]) extends Re

  /** Pattern uses a construct whose match set we will not model (the scan
    * fallback is always available, so unsupported != wrong). */
  private final class Unsupported(what: String) extends Exception(what)

  // ------------------------------------------------------------- parser --

  /** Recursive-descent parser over the Java-regex subset shared with RE2:
    * literals, escapes, `.`, classes, groups, `|`, `* + ? {m,n}`, anchors.
    * Surjective onto what we ANALYZE, not what Java accepts — anything else
    * throws [[Unsupported]] and the caller falls back to a scan. The
    * pattern has already been compiled by `java.util.regex.Pattern`, so
    * syntax errors never reach here. */
  private final class Parser(p: String) {
    private var i = 0
    private def more: Boolean = i < p.length
    private def peek: Char = p.charAt(i)

    def parse(): Re = {
      val r = alt()
      if (more) throw new Unsupported(s"dangling '${peek}' at $i")
      r
    }

    private def alt(): Re = {
      val opts = scala.collection.mutable.ListBuffer(cat())
      while (more && peek == '|') { i += 1; opts += cat() }
      if (opts.size == 1) opts.head else Alt(opts.toList)
    }

    private def cat(): Re = {
      val parts = scala.collection.mutable.ListBuffer.empty[Re]
      while (more && peek != '|' && peek != ')') parts += repeated()
      // coalesce adjacent literals AFTER quantifier binding ("merge{2}"
      // binds to the last 'e' only) so a literal run after an opaque node
      // analyzes as ONE string, not a trail of 1-char clauses the trigram
      // floor would drop
      val merged = parts.foldRight(List.empty[Re]) {
        case (Lit(a), Lit(b) :: tail) => Lit(a + b) :: tail
        case (x, acc) => x :: acc
      }
      merged match {
        case Nil => Eps
        case one :: Nil => one
        case many => Cat(many)
      }
    }

    private def repeated(): Re = {
      val a = atom()
      if (!more) return a
      val r = peek match {
        case '*' => i += 1; Rep(a, 0, None)
        case '+' => i += 1; Rep(a, 1, None)
        case '?' => i += 1; Rep(a, 0, Some(1))
        case '{' => braces(a)
        case _   => a
      }
      // possessive/reluctant quantifiers change WHICH substring matches,
      // never WHETHER one exists — boolean-equivalent, so accept and ignore
      if ((r ne a) && more && (peek == '?' || peek == '+')) i += 1
      r
    }

    private def braces(a: Re): Re = {
      val close = p.indexOf('}', i)
      if (close < 0) throw new Unsupported("unclosed {")
      val body = p.substring(i + 1, close)
      val m = "^(\\d+)(,(\\d*))?$".r.findFirstMatchIn(body)
        .getOrElse(throw new Unsupported(s"brace body '$body'"))
      i = close + 1
      val lo = m.group(1).toInt
      val hi = if (m.group(2) == null) Some(lo)
               else if (m.group(3).isEmpty) None else Some(m.group(3).toInt)
      Rep(a, lo, hi)
    }

    private def atom(): Re = peek match {
      case '(' =>
        i += 1
        if (more && peek == '?') {
          // only the non-capturing group is modeled; flags and lookaround
          // change match semantics in ways the analysis must not guess at
          if (i + 1 < p.length && p.charAt(i + 1) == ':') i += 2
          else throw new Unsupported(s"(?${if (i + 1 < p.length) p.charAt(i + 1) else ' '}")
        }
        val r = alt()
        if (!more || peek != ')') throw new Unsupported("unclosed (")
        i += 1
        r
      case '[' => charClass()
      case '.' => i += 1; AnyChar
      case '^' | '$' => i += 1; Eps
      case '\\' => escape()
      case c => i += 1; Lit(String.valueOf(c))
    }

    private def escape(): Re = {
      i += 1
      if (!more) throw new Unsupported("trailing backslash")
      val c = peek; i += 1
      c match {
        case 'd' | 'D' | 'w' | 'W' | 's' | 'S' | 'h' | 'H' | 'v' | 'V' => AnyChar
        case 'b' | 'B' | 'A' | 'Z' | 'z' | 'G' => Eps // zero-width
        case 'n' => Lit("\n")
        case 't' => Lit("\t")
        case 'r' => Lit("\r")
        case 'f' => Lit("\f")
        case 'a' => Lit("\u0007")
        case 'e' => Lit("\u001b")
        case 'x' =>
          if (i + 1 < p.length && p.charAt(i) != '{') {
            val h = p.substring(i, i + 2); i += 2
            Lit(String.valueOf(Integer.parseInt(h, 16).toChar))
          } else throw new Unsupported("\\x{...}")
        case '0' => throw new Unsupported("octal escape")
        case d if d.isDigit => throw new Unsupported(s"backreference \\$d")
        case 'p' | 'P' | 'k' | 'Q' | 'c' | 'u' | 'R' | 'X' =>
          throw new Unsupported(s"\\$c")
        case lit => Lit(String.valueOf(lit)) // \. \\ \+ \[ ...
      }
    }

    /** One in-class escape, mirroring the top-level [[escape]] exactly:
      * Some(decoded char) for a modeled literal escape, None for a class
      * shorthand (\\d etc. -- the class degrades to [[AnyChar]], sound), and
      * [[Unsupported]] for every OTHER alphanumeric escape (\\u, \\p, \\c,
      * \\Q, octal/backrefs, ...). Falling through to "the escape letter as
      * a literal" would mis-model the class -- e.g. `[\\x41]` would become
      * {x,4,1} instead of {A}, producing clauses that are NOT necessary
      * conditions and silently dropping true matches on the indexed path. */
    private def classEscape(): Option[Char] = {
      i += 1
      if (!more) throw new Unsupported("trailing backslash in class")
      val c = peek; i += 1
      c match {
        case 'd' | 'D' | 'w' | 'W' | 's' | 'S' | 'h' | 'H' | 'v' | 'V' => None
        case 'n' => Some('\n')
        case 't' => Some('\t')
        case 'r' => Some('\r')
        case 'f' => Some('\f')
        case 'a' => Some('\u0007')
        case 'e' => Some('\u001b')
        case 'x' =>
          if (i + 1 < p.length && p.charAt(i) != '{') {
            val h = p.substring(i, i + 2); i += 2
            Some(Integer.parseInt(h, 16).toChar)
          } else throw new Unsupported("\\x{...} in class")
        case other if other.isLetterOrDigit =>
          // \\uFFFF (trailing digits would leak into the class), \\p{...},
          // \\cX, \\Q, \\b (backspace in-class), octal -- not modeled
          throw new Unsupported(s"\\$other in class")
        case lit => Some(lit) // \\. \\\\ \\] \\- \\[ ...
      }
    }

    /** `[...]`: a small positive class becomes an alternation of 1-char
      * literals; negation, ranges wider than [[ClassCap]], or embedded
      * escape classes degrade to [[AnyChar]] (sound: fewer constraints).
      * Class intersection (`&&`) and nested classes (an unescaped `[`)
      * shift where the class ENDS -- mis-parsing them would misalign the
      * rest of the pattern and fabricate non-necessary literals, so they
      * are [[Unsupported]] (full scan, never wrong). */
    private def charClass(): Re = {
      i += 1 // consume '['
      var negated = false
      if (more && peek == '^') { negated = true; i += 1 }
      val chars = scala.collection.mutable.LinkedHashSet.empty[Char]
      var opaque = false
      var first = true
      while (more && (peek != ']' || first)) {
        first = false
        if (peek == '[') throw new Unsupported("nested class")
        if (peek == '&' && i + 1 < p.length && p.charAt(i + 1) == '&')
          throw new Unsupported("class intersection &&")
        val loOpt: Option[Char] =
          if (peek == '\\') classEscape()
          else { val c = peek; i += 1; Some(c) }
        loOpt match {
          case None => opaque = true
          case Some(lo) =>
            if (more && peek == '-' && i + 1 < p.length && p.charAt(i + 1) != ']') {
              i += 1 // consume '-'
              val hi: Char =
                (if (peek == '\\') classEscape()
                 else { val c = peek; i += 1; Some(c) })
                  .getOrElse(throw new Unsupported("class shorthand as range bound"))
              if (hi - lo + 1 > ClassCap) opaque = true
              else (lo to hi).foreach(chars += _)
            } else if (!opaque) chars += lo
        }
      }
      if (!more) throw new Unsupported("unclosed [")
      i += 1 // consume ']'
      if (negated || opaque || chars.size > ClassCap) AnyChar
      else Alt(chars.toList.map(c => Lit(String.valueOf(c))))
    }
  }

  // ------------------------------------------------------------ analysis --

  /** Max members of an exact-match set / an OR clause before we give the
    * set up (seal it into a clause, or drop the clause). Cross-products in
    * concat/alt grow fast; these caps bound analysis work independent of
    * pattern size. */
  private val ExactCap = 16
  private val LitLenCap = 24
  private val ClauseCap = 8
  private val ClassCap = 8

  /** What the analysis knows about a subpattern.
    * @param exact the COMPLETE finite set of strings this subpattern can
    *              match, if small; `None` when unbounded or too many.
    * @param req   CNF over literals: every match contains, for each clause,
    *              at least one member as a substring. Only necessary
    *              conditions ever enter here. */
  private final case class Info(exact: Option[Set[String]], req: List[Set[String]])

  /** Demote exactness to a containment clause: if every match IS one of
    * `ss`, then every match CONTAINS one of `ss`. An empty-string member
    * makes the clause vacuous (every string contains ""). */
  private def seal(i: Info): List[Set[String]] = i.exact match {
    case Some(ss) => if (ss.contains("") || ss.isEmpty) Nil else List(ss)
    case None => i.req
  }

  private def capClauses(cs: List[Set[String]]): List[Set[String]] =
    cs.filter(_.size <= ExactCap).distinct.take(ClauseCap * 2)

  private def concat2(a: Info, b: Info): Info = (a.exact, b.exact) match {
    case (Some(as), Some(bs))
        if as.size.toLong * bs.size <= ExactCap &&
           as.forall(_.length <= LitLenCap) && bs.forall(_.length <= LitLenCap) =>
      Info(Some(for { x <- as; y <- bs } yield x + y), Nil)
    case _ =>
      // trigrams spanning the junction are deliberately not synthesized
      // (Cox's prefix/suffix refinement); per-side clauses alone are still
      // necessary conditions — less selective, never wrong
      Info(None, capClauses(seal(a) ++ seal(b)))
  }

  private def alt2(a: Info, b: Info): Info = (a.exact, b.exact) match {
    case (Some(as), Some(bs)) if as.size + bs.size <= ExactCap =>
      Info(Some(as ++ bs), Nil)
    case _ =>
      val (ra, rb) = (seal(a), seal(b))
      if (ra.isEmpty || rb.isEmpty) Info(None, Nil) // one branch unconstrained
      else Info(None, capClauses(for { x <- ra; y <- rb } yield x ++ y))
  }

  private def analyze(r: Re): Info = r match {
    case Eps => Info(Some(Set("")), Nil)
    case AnyChar => Info(None, Nil)
    case Lit(s) => Info(Some(Set(s)), Nil)
    case Cat(ps) => ps.map(analyze).reduceLeft(concat2)
    case Alt(os) => os.map(analyze).reduceLeft(alt2)
    case Rep(inner, min, max) =>
      val a = analyze(inner)
      val exact: Option[Set[String]] = (a.exact, max) match {
        case (Some(ss), Some(m)) if m <= 3 =>
          // small bounded repetition: unroll min..max concatenations
          val unrolled = (min to m).flatMap { k =>
            (0 until k).foldLeft(Set("")) { (acc, _) =>
              for { x <- acc; y <- ss } yield x + y
            }
          }.toSet
          if (unrolled.size <= ExactCap && unrolled.forall(_.length <= LitLenCap))
            Some(unrolled)
          else None
        case _ => None
      }
      if (exact.isDefined) Info(exact, Nil)
      else if (min >= 1) Info(None, seal(a)) // >=1 copy: inner's clauses hold
      else Info(None, Nil)                   // may match "" : no constraints
  }

  // ------------------------------------------------------------- public --

  /** CNF of literal OR-clauses every match of `pattern` must satisfy, or
    * None when the pattern is out of the supported subset / yields no
    * indexable clause. Exposed for tests. A clause is indexable only if
    * EVERY member has >=3 code points (the trigram floor) and is
    * well-formed UTF-16 — a single un-indexable member voids the clause
    * (the match could be via that member). Clauses are ranked shortest-set
    * first (fewest index probes) and capped at [[ClauseCap]]. */
  private[query] def plan(pattern: String): Option[List[Set[String]]] = {
    val info =
      try analyze(new Parser(pattern).parse())
      catch { case u: Unsupported =>
        log(s"regex '$pattern': unsupported construct (${u.getMessage}) -> full scan")
        return None
      }
    // a member is filterable iff it yields >=1 REPRESENTABLE trigram key
    // (triKeys drops windows whose hex form exceeds 16 digits — three
    // max-plane runes — exactly as the index build does, so the surviving
    // keys remain a necessary condition) and is well-formed UTF-16
    val usable = seal(info).filter(_.forall(m =>
      vfsidx.tokenize.Tokenizer.triKeys(m).nonEmpty && TrigramIndex.wellFormedUtf16(m)))
    if (usable.isEmpty) {
      log(s"regex '$pattern': no indexable literal clause -> full scan")
      None
    } else Some(usable.sortBy(c => (c.size, c.map(_.length).sum)).take(ClauseCap))
  }

  private def log(msg: String): Unit =
    org.slf4j.LoggerFactory.getLogger(getClass).info(msg)

  /** Candidate doc_ids satisfying a CNF of literal clauses: per clause the
    * UNION of member candidate sets (a member matches a doc when the doc
    * holds ALL the member's trigram keys), clauses INTERSECTED.
    *
    * A single-literal CNF delegates to [[TrigramIndex.searchCandidates]]
    * (which adds rarest-key block skipping). Multi-literal CNFs run as ONE
    * pruned segments pass for ALL members — `In(key, …)` over the union of
    * every member's keys — aggregated per doc by [[Postings.perDoc]]; each
    * member is a mask over those keys, so member-AND, clause-OR and CNF-AND
    * are one test of the doc's key set. At scale this reads the index once
    * instead of once per literal; the shuffle carries one record per
    * reducer of per-doc key sets from pruned postings, never the corpus.
    * `directFloor` is the small-index cost gate on |keys| × n_rows
    * ([[Postings.direct]]), as in [[TrigramIndex.searchCandidates]]. */
  def clauseCandidates(spark: SparkSession, dir: String, clauses: List[Set[String]],
                       directFloor: Long = Postings.DirectFloor): DataFrame =
    clauseCandidates(TrigramIndex.snapshot(spark, dir), clauses, directFloor)

  /** [[clauseCandidates]] over one snapshot. */
  private[vfsidx] def clauseCandidates(snap: TrigramIndex.Snapshot, clauses: List[Set[String]],
                                       directFloor: Long): DataFrame = {
    if (clauses.size == 1 && clauses.head.size == 1)
      return TrigramIndex.searchCandidates(snap, clauses.head.head, directFloor)

    // (clause index, member keys); a member without a key matches nothing
    val members: Seq[(Int, Array[Long])] = for {
      (clause, ci) <- clauses.zipWithIndex
      m <- clause.toSeq
      ks = vfsidx.tokenize.Tokenizer.triKeys(m).distinct.toArray
      if ks.nonEmpty
    } yield (ci, ks)

    val allKeys = members.flatMap(_._2).distinct
    // presence probe off segment metadata: a member with ANY key absent from
    // the corpus can never match. Under the small-index floor the probe
    // round-trip costs more than it prunes — skip it and keep every member:
    // an absent key is in no doc's key set, so the member never matches and
    // the result is identical.
    val viable =
      if (Postings.direct(Postings.trigramBound(snap, allKeys.size), directFloor)) members
      else {
        val present = Postings.termMeta(snap.segments, "key", allKeys, withRanges = false).keys
        members.filter(_._2.forall(present.contains))
      }
    if (viable.map(_._1).distinct.size < clauses.size) // some clause wholly absent -> AND empty
      return Postings.local(snap.spark, Postings.IdSchema, Nil)

    val keys = viable.flatMap(_._2).distinct
    val index = keys.zipWithIndex.toMap
    // per clause, the key masks of its members
    val need: Array[Array[Array[Long]]] = viable.groupBy(_._1).values
      .map(_.map { case (_, ks) => Postings.mask(keys.size, ks.map(index)) }.toArray).toArray
    Postings.perDoc(Postings.scan(snap.segments, "key", keys), keys)
      .ids(snap.spark, d => need.forall(_.exists(d.holds)))
  }

  /** Rows of `docs` whose `strCol` matches `pattern` (unanchored, Java
    * `rlike` semantics) — identical to `docs.filter(col(strCol).rlike
    * (pattern))`, but answered through the trigram index at `dir` when the
    * pattern admits literal clauses. */
  def searchRegex(spark: SparkSession, dir: String, docs: DataFrame,
                  idCol: String, strCol: String, pattern: String): DataFrame = {
    java.util.regex.Pattern.compile(pattern) // surface syntax errors eagerly
    val verify: Column = col(strCol).rlike(pattern)
    plan(pattern) match {
      case None => docs.filter(verify)
      case Some(clauses) =>
        Postings.prefilter(docs, idCol, clauseCandidates(spark, dir, clauses)).filter(verify)
    }
  }
}
