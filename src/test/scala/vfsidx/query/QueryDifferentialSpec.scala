package vfsidx.query

import org.apache.spark.sql.DataFrame
import org.scalacheck.{Gen, Prop, Shrink, Test}
import org.scalacheck.rng.Seed
import vfsidx.SparkTestBase
import vfsidx.build.TrigramIndex

/** Generated differential check of the query language: random DNF,
  * parenthesised and negated expressions over `search`, string `==`,
  * `regex`, numeric comparisons and contradictions, answered by
  * [[QueryParser.queryIndexed]] with merge-on-search off and on, must return
  * exactly the rows of the brute-force [[QueryParser.query]]. The table has
  * two string columns and one numeric column, nulls among them, and is
  * indexed over three `regist` rounds, so the indexes start with several
  * generations for merge-on-search to fold. */
class QueryDifferentialSpec extends SparkTestBase {
  import spark.implicits._
  import QueryDifferentialSpec._

  private val words = Vector("alpha", "beta", "gamma", "delta", "omega", "zeta",
    "鬼滅の刃", "x𝒳yz")

  private lazy val rows: Vector[(Long, String, String, Option[Long])] = {
    val rng = new scala.util.Random(11)
    def text(): String =
      if (rng.nextInt(12) == 0) null
      else Vector.fill(1 + rng.nextInt(4))(words(rng.nextInt(words.size))).mkString(" ")
    Vector.tabulate(90)(i => (i.toLong, text(), text(),
      if (rng.nextInt(15) == 0) None else Some(rng.nextInt(100).toLong)))
  }

  /** The table and its index root, grown and re-registered in three
    * appends of 30 rows. */
  private lazy val fixture: (DataFrame, String) = {
    val dir = tmpDir("qdiff")
    val (path, root) = (s"$dir/table", s"$dir/columns")
    rows.grouped(30).foreach { part =>
      part.toDF("id", "a", "b", "n").coalesce(1).write.mode("append").parquet(path)
      QueryParser.buildIndexes(spark, spark.read.parquet(path), "id", Seq("a", "b"), Seq("n"), root)
    }
    assert(TrigramIndex.generations(spark, QueryParser.triDir(root, "a")).size == 3)
    (spark.read.parquet(path), root)
  }
  private def table = fixture._1
  private def root = fixture._2

  /** Literals: whole words, absent and sub-3-rune strings, and random
    * char slices of the table's values (a slice may cut a surrogate pair). */
  private val literal: Gen[String] = Gen.oneOf(
    Gen.oneOf(words ++ Seq("alpha beta", "ta ga", "zzz", "ab", "a")),
    for {
      v <- Gen.oneOf(rows.flatMap(r => Seq(r._2, r._3)).filter(_ != null))
      from <- Gen.choose(0, v.length - 1)
      len <- Gen.choose(1, 8)
    } yield v.substring(from, math.min(v.length, from + len)))

  private val patterns = Seq("alpha|omega", "(be|ga)ta", "del+ta", "gam?ma", "a.pha",
    "[bz]eta", "om(e|i)ga", "ze\\w+", "^beta", "鬼滅", "(?i)ALPHA", "x𝒳")

  private val atom: Gen[Expr] = {
    val column = Gen.oneOf("a", "b")
    val ops = Gen.oneOf("==", "!=", "<", "<=", ">", ">=")
    val value = Gen.choose(-5L, 105L)
    Gen.frequency(
      3 -> (for (c <- column; s <- literal) yield Atom(s"""$c.search("${quote(s)}")""")),
      1 -> (for (c <- column; s <- literal) yield Atom(s"""$c == "${quote(s)}"""")),
      2 -> (for (c <- column; p <- Gen.oneOf(patterns)) yield Atom(s"""$c.regex("${quote(p)}")""")),
      3 -> (for (op <- ops; v <- value) yield Atom(s"n $op $v")),
      1 -> (for (v <- value) yield And(Atom(s"n == $v"), Atom(s"n == ${v + 1}"))))
  }

  private def expr(depth: Int): Gen[Expr] =
    if (depth == 0) atom
    else Gen.frequency(
      2 -> atom,
      1 -> expr(depth - 1).map(Not),
      3 -> (for (l <- expr(depth - 1); r <- expr(depth - 1)) yield And(l, r)),
      2 -> (for (l <- expr(depth - 1); r <- expr(depth - 1)) yield Or(l, r)))

  private implicit val shrinkExpr: Shrink[Expr] = Shrink.withLazyList {
    case Not(e) => LazyList(e)
    case And(l, r) => LazyList(l, r)
    case Or(l, r) => LazyList(l, r)
    case _: Atom => LazyList.empty
  }

  private def ids(df: DataFrame): Seq[Long] = df.select("id").as[Long].collect().toSeq.sorted

  /** Does `q` hold on both paths? A query over the DNF group cap is no
    * case (the parser refuses it before either path runs). */
  private def agrees(q: String): Boolean =
    try {
      QueryParser.parseQuery(q)
      val want = ids(QueryParser.query(table, q))
      val fold = Some(TrigramIndex.TriConfig(maxGenerations = 1))
      Seq(None, fold).forall(m => ids(QueryParser.queryIndexed(spark, table, "id", root, q,
        mergeOnSearch = m)) == want)
    } catch {
      case e: IllegalArgumentException if e.getMessage.contains("||-groups") => true
    }

  test("queryIndexed == query on generated expressions, merge-on-search off and on") {
    val prop = Prop.forAll(expr(3)) { e =>
      val q = render(e)
      Prop(agrees(q)) :| q
    }
    val res = Test.check(Test.Parameters.default.withMinSuccessfulTests(120)
      .withInitialSeed(Seed(20261022L)).withWorkers(1), prop)
    assert(res.passed, org.scalacheck.util.Pretty.pretty(res))
    // merge-on-search folded the three regist generations
    assert(TrigramIndex.generations(spark, QueryParser.triDir(root, "a")).size == 1)
  }
}

object QueryDifferentialSpec {
  sealed trait Expr
  final case class Atom(text: String) extends Expr
  final case class Not(e: Expr) extends Expr
  final case class And(l: Expr, r: Expr) extends Expr
  final case class Or(l: Expr, r: Expr) extends Expr

  def quote(s: String): String = s.replace("\\", "\\\\").replace("\"", "\\\"")

  def render(e: Expr): String = e match {
    case Atom(t) => t
    case Not(a: Atom) => "!" + render(a)
    case Not(x) => s"!(${render(x)})"
    case And(l, r) => s"(${render(l)}) && (${render(r)})"
    case Or(l, r) => s"${render(l)} || ${render(r)}"
  }
}
