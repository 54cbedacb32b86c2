package vfsidx.query

import org.apache.spark.sql.DataFrame
import vfsidx.SparkTestBase
import vfsidx.build.IndexBuild
import vfsidx.corpus.Synth

/** End-to-end: build the index over the deterministic synthetic corpus, then
  * require the indexed BM25 top-k to be rank-identical (docIDs and scores) to
  * the brute-force oracle on the reference query set (FIXTURES.md §4). */
class Bm25Spec extends SparkTestBase {
  import spark.implicits._

  private val nDocs = 1200L
  private lazy val docs = Synth.corpus(spark, nDocs, partitions = 8).cache()
  private lazy val dir = {
    val d = tmpDir("bm25idx")
    // low salt threshold so head terms actually shard in a 1200-doc corpus
    IndexBuild.build(spark, docs, d,
      IndexBuild.BuildConfig(numBatches = 4, numBuckets = 8,
        saltThreshold = 300, shardSize = 256))
    d
  }
  // directFloor = 0 keeps the PRUNED (MaxScore / ranges) paths exercised at
  // this test scale — the default floor would short-circuit them on a
  // 1200-doc corpus; the default-floor direct path gets its own test below
  private lazy val index = new Bm25Index(spark, dir, directFloor = 0L)

  private def rows(df: DataFrame): Seq[(Long, Double)] =
    df.as[(Long, Double)].collect().toSeq

  private def assertRankIdentical(q: String, k: Int = 10): Unit = {
    val oracle = rows(Oracle.topKOr(spark, docs, q, k))
    assert(rows(index.topKOrNaive(q, k)) == oracle, s"OR naive: $q")
    assert(rows(index.topKOr(q, k)) == oracle, s"OR wand: $q")
    assert(rows(index.topKAnd(q, k)) == rows(Oracle.topKAnd(spark, docs, q, k)), s"AND: $q")
  }

  test("q1: single rare term (df=1 needle) — point lookup") {
    val got = rows(index.topKOr("needle_17", 10))
    assert(got.map(_._1) == Seq(17L))
    assertRankIdentical("needle_17")
  }

  test("q2: single head term (df≈50%) — salted shards score correctly") {
    assertRankIdentical("the")
  }

  test("q3: three medium terms — multi-term scoring") {
    assertRankIdentical("index merge search")
  }

  test("q4: two rare + one head — skewed lists") {
    assertRankIdentical("needle_5 needle_800 the")
  }

  test("q5: absent term — empty result") {
    assert(rows(index.topKOr("zzzqqqxxyy", 10)).isEmpty)
    assert(rows(index.topKAnd("zzzqqqxxyy the", 10)).isEmpty)
  }

  test("q6: multi-byte query tokens") {
    // Japanese comment lines tokenize through the ASCII identifier rule; the
    // trigram mode is pinned separately in TokenizerSpec. Here: a mixed query.
    assertRankIdentical("doc needle_3")
  }

  test("q7: five terms, k=10 with many candidates — bounded heap + global merge") {
    assertRankIdentical("index merge search query record", k = 10)
  }

  test("q8: repeated query term dedups (tf semantics pinned)") {
    val a = rows(index.topKOr("int int", 10))
    val b = rows(index.topKOr("int", 10))
    assert(a == b)
  }

  test("wand pruning path agrees with naive on adversarial mixes") {
    for (q <- Seq("needle_9 the int", "the int val return if",
      "needle_1 needle_2 needle_3", "index the", "tokenize needle_100 int val")) {
      assert(rows(index.topKOr(q, 10)) == rows(index.topKOrNaive(q, 10)), q)
      assert(rows(index.topKOr(q, 3)) == rows(index.topKOrNaive(q, 3)), s"$q k=3")
    }
  }

  test("head terms were actually sharded (skew handling exercised)") {
    val seg = IndexBuild.readSegments(spark, dir)
    val shards = seg.filter($"term" === "the").count()
    assert(shards > 1, "expected head term 'the' split into multiple doc-range shards")
  }

  test("sha256 fidelity: hits joined back to corpus match stored hashes") {
    val hits = index.topKOr("index merge", 20)
    val joined = hits.join(docs.toDF(), "doc_id")
      .select($"doc_id", $"content", $"sha256").as[(Long, String, String)].collect()
    assert(joined.nonEmpty)
    joined.foreach { case (_, content, sha) =>
      assert(Synth.sha256Hex(content) == sha)
    }
  }

  test("seeded fuzz: 20 random queries, pruned == naive == oracle (OR and AND)") {
    val vocab = Array("index", "merge", "search", "query", "record", "the",
      "int", "val", "return", "if", "tokenize", "doc", "needle_3", "needle_800",
      "zzqqxxyy_absent", "a", "fn")
    val rng = new scala.util.Random(20260816)
    for (_ <- 0 until 20) {
      val n = 1 + rng.nextInt(5)
      val q = Seq.fill(n)(vocab(rng.nextInt(vocab.length))).mkString(" ")
      val k = 1 + rng.nextInt(15)
      val naive = rows(index.topKOrNaive(q, k))
      assert(rows(index.topKOr(q, k)) == naive, s"OR wand vs naive: '$q' k=$k")
      assert(naive == rows(Oracle.topKOr(spark, docs, q, k)), s"OR vs oracle: '$q' k=$k")
      assert(rows(index.topKAnd(q, k)) == rows(Oracle.topKAnd(spark, docs, q, k)),
        s"AND vs oracle: '$q' k=$k")
    }
  }

  test("overlaps after coalesce handles interleaved/nested multi-term ranges") {
    // regression: ranges pooled from several terms interleave; un-merged
    // binary search missed a probe inside a wide early interval.
    val pooled = Array((3L, 40000L), (7L, 39000L), (39500L, 81000L), (40012L, 80000L))
    val merged = Postings.coalesce(pooled)
    assert(merged.toSeq == Seq((3L, 81000L)))
    assert(Postings.overlaps(merged, 39200L, 39400L))
    assert(!Postings.overlaps(merged, 81001L, 90000L))
    assert(!Postings.overlaps(merged, 0L, 2L))
    // disjoint input is a no-op
    val disjoint = Array((1L, 5L), (10L, 20L), (30L, 31L))
    assert(Postings.coalesce(disjoint).toSeq == disjoint.toSeq)
    assert(Postings.overlaps(disjoint, 6L, 10L))
    assert(!Postings.overlaps(disjoint, 6L, 9L))
  }

  test("index-backed Count/First/Last over a composed AND condition (no corpus access)") {
    import org.apache.spark.sql.functions._
    def oracle(terms: Seq[String]): (Long, Option[Long], Option[Long]) = {
      val m = docs.toDF()
        .filter(terms.map(t => array_contains(split($"content", "\\s+"), t)).reduce(_ && _))
        .agg(count(lit(1)), min($"doc_id"), max($"doc_id")).head()
      (m.getLong(0),
        if (m.isNullAt(1)) None else Some(m.getLong(1)),
        if (m.isNullAt(2)) None else Some(m.getLong(2)))
    }
    for (q <- Seq("index merge", "the int val", "needle_17 doc", "index")) {
      val r = index.countFirstLastAnd(q).head()
      val got = (r.getLong(0),
        if (r.isNullAt(1)) None else Some(r.getLong(1)),
        if (r.isNullAt(2)) None else Some(r.getLong(2)))
      assert(got == oracle(q.split(' ').toSeq), s"query: $q")
    }
    // absent term -> (0, null, null)
    val e = index.countFirstLastAnd("the zzqqxxyy_absent").head()
    assert(e.getLong(0) == 0L && e.isNullAt(1) && e.isNullAt(2))
  }

  test("small-index direct path (default floor) is rank-identical to the pruned path") {
    // the DEFAULT directFloor short-circuits the pruning round-trips on an
    // index this small — same ranks, fewer driver jobs (round-6 cost gate)
    val direct = new Bm25Index(spark, dir)
    for (q <- Seq("index merge search", "needle_5 needle_800 the", "the int",
        "merge query")) {
      assert(rows(direct.topKOr(q, 10)) == rows(index.topKOr(q, 10)), s"OR: $q")
      assert(rows(direct.topKAnd(q, 10)) == rows(index.topKAnd(q, 10)), s"AND: $q")
      assert(direct.countFirstLastAnd(q).collect().toSeq ==
        index.countFirstLastAnd(q).collect().toSeq, s"CFL: $q")
    }
  }

  test("merge-on-search: many-generation index folds at query time, results identical") {
    val d = tmpDir("bm25_mos")
    val cfg = IndexBuild.BuildConfig(numBatches = 1, numBuckets = 4,
      saltThreshold = 300, shardSize = 256, maxGenerations = 2)
    IndexBuild.build(spark, docs.filter($"doc_id" < 600), d, cfg)
    for (b <- 1 to 4) {
      val slice = docs.filter($"doc_id" >= 500 + b * 100 && $"doc_id" < 600 + b * 100)
        .as[vfsidx.corpus.SourceFile]
      IndexBuild.ingestBatch(spark, slice, d, b, cfg)
    }
    assert(IndexBuild.generations(spark, d).size == 5)
    val before = rows(new Bm25Index(spark, d).topKOr("index merge search", 10))
    // opening with the merge-on-search config folds the tail at query time
    val mos = new Bm25Index(spark, d, mergeOnSearch = Some(cfg))
    assert(IndexBuild.generations(spark, d).size < 5)
    assert(rows(mos.topKOr("index merge search", 10)) == before)
    // retired inputs were NOT reclaimed (concurrent readers keep files)
    assert(IndexBuild.vacuum(spark, d) > 0)
  }

  test("dictionary df equals distinct docs per term") {
    val dict = index.dictionary
    val fromRuns = Oracle.postings(docs).groupBy($"term").count()
    val mismatch = dict.join(fromRuns, "term")
      .filter($"df" =!= $"count").count()
    assert(mismatch == 0)
  }
}
