package graft

import vfsidx.SparkTestBase

/** The physical-plan audit of [[Measure.audits]]: each audited property
  * (pushdown, broadcast, bounded top-k, index-only answers) must hold, so a
  * lost one fails here instead of only reading MISSING in PLANS.md. */
class MeasureSpec extends SparkTestBase {

  test("plan audit: every entry holds on sf0.001") {
    val failed = Measure.audit(spark, "/root/testdata/sf0.001").collect {
      case (a, plan, false) => s"${a.name} (${a.what}):\n$plan"
    }
    assert(failed.isEmpty, failed.mkString("\n\n"))
  }

  test("plan audit: a forbidden or missing marker fails the entry") {
    val a = Measure.Audit("q", "p", Seq("Scan parquet"), anyOf = Seq("A", "B"), none = Seq("postings:binary"))
    assert(a.holds("Scan parquet B"))
    assert(!a.holds("Scan parquet"))
    assert(!a.holds("B"))
    assert(!a.holds("Scan parquet A ReadSchema: struct<postings:binary>"))
  }

  test("plan text drops expression ids and the temp index root") {
    val plan = "Output [2]: [term#1202, df#77L]\n" +
      "Location: InMemoryFileIndex [file:/tmp/graft_ftidx_4075605830445444525/dictionary/gen=0_1]"
    assert(Measure.stable(plan) == "Output [2]: [term#N, df#NL]\n" +
      "Location: InMemoryFileIndex [<index>/dictionary/gen=0_1]")
  }
}
