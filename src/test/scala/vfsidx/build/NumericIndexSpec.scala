package vfsidx.build

import org.apache.spark.sql.functions._
import vfsidx.SparkTestBase
import vfsidx.query.QueryParser

/** The numeric secondary index stores cast("long") values (truncation toward
  * zero). On a FRACTIONAL source column, strict index-walk bounds would
  * silently drop boundary rows (x = 44.5 matches `x > 44` but its stored
  * value 44 fails `value > 44`) — the round-2 advisory's false-negative bug.
  * The walk widens strict bounds for non-integral sources; `queryIndexed`
  * re-applies the exact predicate, so results stay row-identical to the
  * brute-force scan. Also pins the persisted build stats that replaced
  * query-time counting jobs in the cost gate. */
class NumericIndexSpec extends SparkTestBase {
  import spark.implicits._

  // fractional values straddling every truncation edge case: positive and
  // negative halves, exact integers, and a dense integer run for selectivity
  private lazy val df = {
    val fracs = Seq(44.5, 44.0, 43.7, -44.5, -44.0, -43.2, 45.0, 45.5, 0.5, -0.5)
    val dense = (0 until 200).map(i => (i % 50).toDouble)
    (fracs ++ dense).zipWithIndex
      .map { case (x, i) => (i.toLong, x, s"doc number $i body") }
      .toDF("doc_id", "x", "text")
      .cache()
  }

  private lazy val root = {
    val d = tmpDir("numidx")
    QueryParser.buildIndexes(spark, df, "doc_id",
      strCols = Seq.empty, numCols = Seq("x"), root = d)
    d
  }

  test("queryIndexed == brute-force scan on a FRACTIONAL indexed column") {
    val exprs = Seq(
      "x > 44",            // must keep 44.5 (index value 44)
      "x >= 44",
      "x < -44",           // must keep -44.5 (index value -44)
      "x <= -44",
      "x == 44",           // only 44.0 (44.5 is a candidate, recheck drops it)
      "x > -45 && x < 45", // both widened bounds at once
      "x >= 0 && x < 1",   // 0.5 vs the dense 0s
      "x > 43 && x <= 44")
    for (e <- exprs) {
      val a = QueryParser.queryIndexed(spark, df, "doc_id", root, e)
        .select($"doc_id").as[Long].collect().sorted.toSeq
      val b = QueryParser.query(df, e)
        .select($"doc_id").as[Long].collect().sorted.toSeq
      assert(a == b, s"expr: $e -> indexed $a vs scan $b")
    }
  }

  test("build persists stats: n_rows, integral flag, quantile sketch") {
    val st = NumericIndex.stats(spark, root, "x").get
    assert(st.n_rows == 210)
    assert(!st.integral)
    assert(st.quantiles.length == NumericIndex.QuantilePoints + 1)
    assert(st.quantiles.head <= st.quantiles.last)
    // integral column records integral=true and keeps strict walks exact
    val d2 = tmpDir("numidx_int")
    val intDf = (0L until 100L).map(i => (i, i % 10)).toDF("doc_id", "y")
    NumericIndex.build(spark, intDf, "doc_id", "y", d2)
    assert(NumericIndex.stats(spark, d2, "y").get.integral)
    val strict = NumericIndex.range(spark, d2, "y", Some(5L), None,
      loInclusive = false).count()
    assert(strict == intDf.filter($"y" > 5).count())
  }

  test("ABSENT stats (crash-resumed build) hide the generation — never a silently strict walk") {
    // a generation is committed only when BOTH its data and stats tables
    // carry _SUCCESS, so the crash window between the two commits leaves
    // the generation invisible: stats() is None, queryIndexed treats the
    // column as unindexed (exact scan fallback), and the resumed build
    // completes just the missing stats table
    val d = tmpDir("numidx_nostats")
    NumericIndex.build(spark, df, "doc_id", "x", d)
    val statsPath = new java.io.File(NumericIndex.statsGenDir(d, "x", 0, 0))
    def rmrf(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(rmrf); f.delete()
    }
    rmrf(statsPath)
    assert(NumericIndex.stats(spark, d, "x").isEmpty)
    assert(NumericIndex.generations(spark, d, "x").isEmpty)
    val a = QueryParser.queryIndexed(spark, df, "doc_id", d, "x > 44")
      .select($"doc_id").as[Long].collect().sorted.toSeq
    val b = QueryParser.query(df, "x > 44")
      .select($"doc_id").as[Long].collect().sorted.toSeq
    assert(a == b)
    // the resumed build completes the generation (data table untouched)
    NumericIndex.build(spark, df, "doc_id", "x", d)
    assert(NumericIndex.stats(spark, d, "x").nonEmpty)
  }

  test("selectivity estimate from the sketch gates index vs scan sensibly") {
    val st = NumericIndex.stats(spark, root, "x").get
    // the dense run covers [0, 49]: a full-range predicate estimates ~1,
    // a one-value slice estimates small
    assert(NumericIndex.estimateFraction(st, None, None) >= 0.99)
    assert(NumericIndex.estimateFraction(st, Some(44L), Some(44L)) < 0.25)
    val whole = NumericIndex.estimateFraction(st, Some(-100L), Some(100L))
    assert(whole >= 0.99)
  }

  test("tiered folds keep stats (n_rows, integral, max_doc_id) and point/range answers") {
    val d = tmpDir("numidx_fold")
    val t = df.withColumn("y", $"doc_id" % 50)   // an integral column beside x
    for (c <- Seq("x", "y")) {
      // 7 slices of 30 rows, each sealed as its own generation
      for (i <- 0 until 7)
        NumericIndex.ingestBatch(spark, t.filter($"doc_id" >= i * 30 && $"doc_id" < (i + 1) * 30),
          "doc_id", c, d, batchId = i)
      assert(NumericIndex.generations(spark, d, c).size == 7)
      def statsKey = NumericIndex.stats(spark, d, c).map(s => (s.n_rows, s.integral, s.max_doc_id))
      def answers: Seq[Seq[Long]] = Seq(
        NumericIndex.point(spark, d, c, 44L),
        NumericIndex.range(spark, d, c, Some(43L), Some(45L), loInclusive = false),
        NumericIndex.range(spark, d, c, None, Some(0L), hiInclusive = true),
        NumericIndex.range(spark, d, c, Some(10L), None)
      ).map(_.as[Long].collect().sorted.toSeq)
      val (stats0, answers0) = (statsKey, answers)
      assert(stats0 == Some((210L, c == "y", 209L)))
      assert(answers0.head == t.filter(col(c).cast("long") === 44L)
        .select($"doc_id").as[Long].collect().sorted.toSeq)
      var folds = 0
      while (NumericIndex.compactTiered(spark, d, c, maxGenerations = 2)) folds += 1
      assert(folds >= 2 && NumericIndex.generations(spark, d, c).size <= 2)
      assert(statsKey == stats0)
      assert(answers == answers0)
    }
  }
}
