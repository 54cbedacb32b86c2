package graft

import vfsidx.SparkTestBase

/** Driver-contract smoke: entry() returns rows; every `queries` entry runs
  * at sf0.001 and every oracled query has matching column names (the
  * driver's compare sorts columns by name before hashing — a name mismatch
  * fails even when values are identical). */
class EntrySpec extends SparkTestBase {

  private val dir = "/root/testdata/sf0.001"

  test("entry() returns rows on sf0.001") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every oracleSql key has a queries entry") {
    val missing = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(missing.isEmpty, s"oracle without query: $missing")
  }

  test("CLI query --index: explicit --id, conventional doc_id fallback, loud errors") {
    import spark.implicits._
    val t = tmpDir("cli_id")
    // a table WITHOUT the conventional doc_id column
    (0L until 50L).map(i => (i, s"row number $i text", i % 10))
      .toDF("rid", "body", "v").write.parquet(s"$t/tbl")
    val root = s"$t/root"
    vfsidx.query.QueryParser.buildIndexes(spark, spark.read.parquet(s"$t/tbl"),
      "rid", Seq("body"), Seq("v"), root)
    // no --id and no doc_id -> loud error, never a columns.head guess
    intercept[IllegalArgumentException] {
      vfsidx.Main.dispatch(spark,
        Array("query", s"$t/tbl", """body.search("number")"""),
        "plain", Some(root), None)
    }
    // --id naming a missing column -> loud
    intercept[IllegalArgumentException] {
      vfsidx.Main.dispatch(spark, Array("query", s"$t/tbl", "v == 3"),
        "plain", Some(root), Some("nope"))
    }
    // explicit --id drives the indexed path
    vfsidx.Main.dispatch(spark, Array("query", s"$t/tbl", "v == 3"),
      "plain", Some(root), Some("rid"))
  }

  test("CLI info reports index state; clean reclaims retired generations") {
    import spark.implicits._
    import vfsidx.build.IndexBuild
    val t = tmpDir("cli_info")
    val docs = (0L until 40L).map(i =>
      vfsidx.corpus.SourceFile(i, "r", s"p$i", "", "", s"alpha beta doc$i", s"h$i")).toDS()
    IndexBuild.build(spark, docs, s"$t/idx",
      IndexBuild.BuildConfig(numBatches = 1, numBuckets = 2))
    val tbl = (0L until 40L).map(i => (i, s"alpha beta doc$i", i % 7))
      .toDF("doc_id", "body", "v")
    vfsidx.query.QueryParser.buildIndexes(spark, tbl, "doc_id",
      Seq("body"), Seq("v"), s"$t/root")
    def captured(args: Array[String]): String = {
      val bos = new java.io.ByteArrayOutputStream()
      Console.withOut(new java.io.PrintStream(bos, true, "UTF-8")) {
        vfsidx.Main.dispatch(spark, args, "plain", None)
      }
      bos.toString("UTF-8")
    }
    val wordInfo = captured(Array("info", s"$t/idx"))
    assert(wordInfo.contains("word index: 40 docs"), wordInfo)
    assert(wordInfo.contains("term="), wordInfo)
    val rootInfo = captured(Array("info", s"$t/root"))
    assert(rootInfo.contains("tri/body: 40 rows"), rootInfo)
    assert(rootInfo.contains("key=0x"), rootInfo)
    assert(rootInfo.contains("num/v: 40 rows"), rootInfo)
    // on-disk bytes per table; a committed generation's runs are purged
    def hasBytes(out: String, line: String) =
      assert(line.replace("N", "[1-9][0-9]*").r.findFirstIn(out).nonEmpty, out)
    hasBytes(wordInfo, "  bytes: segments=N runs=0 doc_stats=N stats=N lineage=N\n")
    hasBytes(rootInfo, "  bytes: tri_segments=N tri_runs=0 tri_stats=N tri_lineage=N\n")
    hasBytes(rootInfo, "  bytes: data=N stats=N\n")
    assert(captured(Array("info", s"$t/empty")).contains("no index found"))
    // seal a second generation, fold with deferred reclaim -> retirees exist
    val extra = (40L until 60L).map(i =>
      vfsidx.corpus.SourceFile(i, "r", s"p$i", "", "", s"gamma delta doc$i", s"h$i")).toDS()
    IndexBuild.ingestBatch(spark, extra, s"$t/idx", batchId = 1)
    IndexBuild.remerge(spark, s"$t/idx", reclaim = false)
    val cleanOut = captured(Array("clean", s"$t/idx"))
    val reclaimed = "reclaimed (\\d+)".r.findFirstMatchIn(cleanOut).map(_.group(1).toInt)
    assert(reclaimed.exists(_ >= 2), cleanOut) // both folded inputs reclaimed
    assert(captured(Array("info", s"$t/idx")).contains("word index: 60 docs"))
    assert(captured(Array("clean", s"$t/idx")).contains("reclaimed 0"))
  }

  test("CLI flag contract: unknown and verb-inapplicable flags are rejected") {
    import vfsidx.Main.flagErrors
    // clean invocations
    assert(flagErrors(Array("search", "/tmp/x", "foo", "--output=json")).isEmpty)
    assert(flagErrors(Array("query", "t", "v == 3",
      "--index=/r", "--id=rid", "--merge=true", "--output=csv")).isEmpty)
    assert(flagErrors(Array("info", "/tmp/x", "--keys=5")).isEmpty)
    // unknown (misspelled) flag
    assert(flagErrors(Array("query", "t", "v == 3", "--ouput=json"))
      .exists(_.contains("unknown flag")))
    // recognized flag on a verb that ignores it = usage error, not a
    // silent no-op
    assert(flagErrors(Array("search", "/tmp/x", "foo", "--merge=true"))
      .exists(_.contains("does not apply")))
    assert(flagErrors(Array("info", "/tmp/x", "--output=json"))
      .exists(_.contains("does not apply")))
    assert(flagErrors(Array("clean", "/tmp/x", "--keys=3"))
      .exists(_.contains("does not apply")))
    assert(flagErrors(Array("build", "/tmp/x", "--index=/r"))
      .exists(_.contains("does not apply")))
  }

  test("all queries run at sf0.001 and oracled ones return deterministic schemas") {
    val failures = scala.collection.mutable.ListBuffer[String]()
    SparkEntry.queries.foreach { case (name, fn) =>
      try {
        val df = fn(spark, dir)
        df.collect() // must execute, not just plan
      } catch {
        case e: Throwable => failures += s"$name: ${e.getMessage.take(120)}"
      }
    }
    assert(failures.isEmpty, failures.mkString("\n"))
  }
}
