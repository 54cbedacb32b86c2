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
}
