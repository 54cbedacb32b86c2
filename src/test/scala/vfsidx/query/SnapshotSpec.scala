package vfsidx.query

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import vfsidx.{ListingCounter, SparkTestBase}
import vfsidx.build.{IndexBuild, NumericIndex, TrigramIndex}
import vfsidx.corpus.Synth
import vfsidx.tokenize.Tokenizer

/** One generation snapshot per read: every table, stat and cost-gate bound
  * of a trigram or numeric query comes from one listing of the index's
  * generations, so a snapshot answers as of its listing whatever commits
  * and folds run meanwhile, and each query entry point (and each
  * [[Bm25Index]] object) lists the generations of an index once. */
class SnapshotSpec extends SparkTestBase {
  import spark.implicits._

  private val tri = TrigramIndex.TriConfig(numBuckets = 4, saltThreshold = 150, shardSize = 128)

  private def ids(df: DataFrame): Seq[Long] = df.as[Long].collect().sorted.toSeq

  private def bruteNears(docs: Map[Long, String], needle: String, k: Int): Seq[(Long, Long)] = {
    val nd = Tokenizer.triKeys(needle).distinct.toSet
    docs.toSeq.map { case (id, c) => (id, Tokenizer.distinctTriKeys(c).count(nd).toLong) }
      .filter(_._2 > 0).sortBy { case (id, ov) => (-ov, id) }.take(k)
  }

  test("trigram: a snapshot answers as of its listing across an ingest and a fold") {
    val all = Synth.corpus(spark, 550, partitions = 4).cache()
    val base = all.filter($"doc_id" < 400)
    val docs = base.collect().map(d => d.doc_id -> d.content).toMap
    val d = tmpDir("snap_tri")
    TrigramIndex.build(spark, base.toDF(), "doc_id", "content", d, tri)
    val snap = TrigramIndex.snapshot(spark, d)
    TrigramIndex.ingestBatch(spark, all.filter($"doc_id" >= 400).toDF(), "doc_id", "content",
      d, batchId = 1, tri)
    assert(TrigramIndex.compactTiered(spark, d, tri.copy(maxGenerations = 1), reclaim = false))
    assert(TrigramIndex.generations(spark, d) == Seq((0, 1)))
    assert(snap.gens == Seq((0, 0)) && snap.stats.map(_.n_rows).contains(400L))

    def holding(keysOf: Set[Long] => Boolean) =
      docs.collect { case (id, c) if keysOf(Tokenizer.distinctTriKeys(c).toSet) => id }
        .toSeq.sorted
    for (floor <- Seq(0L, Postings.DirectFloor)) {
      for (needle <- Seq("needle_45", "index merge", "merge", "zzz_nowhere")) {
        val want = holding(dk => Tokenizer.triKeys(needle).forall(dk))
        assert(ids(TrigramIndex.searchCandidates(snap, needle, floor)) == want,
          s"'$needle' floor=$floor")
        // the live index holds the ingested docs
        if (needle == "needle_45")
          assert(ids(TrigramIndex.searchCandidates(spark, d, needle, floor)).exists(_ >= 400))
      }
      for (needle <- Seq("merge index", "return the value", "needle_45 the")) {
        val got = TrigramIndex.nears(snap, needle, 9, floor, 200000, 4)
          .as[(Long, Long)].collect().toSeq
        assert(got == bruteNears(docs, needle, 9), s"nears '$needle' floor=$floor")
      }
      val cnf = List(Set("needle_45", "merge"), Set("index"))
      val keysOf = (s: String) => Tokenizer.triKeys(s).distinct
      assert(ids(RegexTrigram.clauseCandidates(snap, cnf, floor)) ==
        holding(dk => cnf.forall(_.exists(m => keysOf(m).forall(dk)))), s"cnf floor=$floor")
    }
  }

  test("numeric: point and range read data and integrality from one snapshot") {
    val root = tmpDir("snap_num")
    val base = (0L until 400L).map(i => (i, i % 100))
    NumericIndex.build(spark, base.toDF("doc_id", "n"), "doc_id", "n", root, numBuckets = 4)
    val snap = NumericIndex.snapshot(spark, root, "n")
    // a FRACTIONAL batch lands after the all-integral snapshot, and the
    // fold makes the live index non-integral
    NumericIndex.ingestBatch(spark,
      (400L until 550L).map(i => (i, (i % 100) + 0.5)).toDF("doc_id", "n"),
      "doc_id", "n", root, batchId = 1)
    assert(NumericIndex.compactTiered(spark, root, "n", maxGenerations = 1, reclaim = false))
    assert(NumericIndex.stats(spark, root, "n").exists(st => !st.integral && st.n_rows == 550L))
    assert(snap.stats.exists(st => st.integral && st.n_rows == 400L))

    def want(p: Long => Boolean) = base.collect { case (id, n) if p(n) => id }.sorted
    assert(ids(NumericIndex.point(snap, 44L)) == want(_ == 44L))
    // strict bounds stay exact: the snapshot's generations are all integral
    assert(ids(NumericIndex.range(snap, Some(44L), Some(60L), false, false)) ==
      want(n => n > 44L && n < 60L))
    assert(ids(NumericIndex.range(snap, Some(44L), Some(60L), true, true)) ==
      want(n => n >= 44L && n <= 60L))
    assert(ids(NumericIndex.range(snap, None, Some(3L), true, false)) == want(_ < 3L))
    // the live index widens strict bounds over its fractional generation
    assert(ids(NumericIndex.range(spark, root, "n", Some(44L), Some(60L), false, false))
      .contains(444L))
  }

  /** A word index and the regist-ed trigram (`content`) and numeric (`n`)
    * indexes over one 300-doc table. */
  private lazy val fixture: (String, String, DataFrame) = {
    val docs = Synth.corpus(spark, 300, partitions = 4).cache()
    val table = docs.toDF().withColumn("n", col("doc_id") % 50).cache()
    val (word, root) = (tmpDir("snap_word"), tmpDir("snap_root"))
    IndexBuild.build(spark, docs, word,
      IndexBuild.BuildConfig(numBatches = 2, numBuckets = 4, saltThreshold = 150, shardSize = 128))
    QueryParser.buildIndexes(spark, table, "doc_id", Seq("content"), Seq("n"), root, tri)
    ListingCounter.register(spark)
    (word, root, table)
  }

  test("each query entry point lists an index's generations once") {
    val (word, root, table) = fixture
    val triLocal = QueryParser.triDir(root, "content")
    val triDir = ListingCounter.counted(triLocal)
    val numRoot = ListingCounter.counted(root)
    def triListings(f: => Any) =
      ListingCounter.of(s"$triLocal/tri_segments")(f).head
    def numListings(f: => Any) =
      ListingCounter.of(s"${NumericIndex.colDir(root, "n")}/data")(f).head

    val triCalls: Seq[(String, () => Any)] = Seq(
      "searchCandidates pruned" -> (() =>
        TrigramIndex.searchCandidates(spark, triDir, "index merge", directFloor = 0L).collect()),
      "searchCandidates direct" -> (() =>
        TrigramIndex.searchCandidates(spark, triDir, "index merge").collect()),
      "searchExact" -> (() =>
        TrigramIndex.searchExact(spark, triDir, table, "doc_id", "content", "merge").collect()),
      "nears pruned" -> (() =>
        TrigramIndex.nears(spark, triDir, "return the value", 5, prunedFloor = 0L).collect()),
      "nears direct" -> (() => TrigramIndex.nears(spark, triDir, "return the value", 5).collect()),
      "clauseCandidates pruned" -> (() => RegexTrigram.clauseCandidates(spark, triDir,
        List(Set("merge", "needle_4"), Set("index")), directFloor = 0L).collect()),
      "searchRegex" -> (() => RegexTrigram.searchRegex(spark, triDir, table, "doc_id",
        "content", "(merge|search) index").collect()),
      "segmentScan" -> (() => TrigramIndex.segmentScan(spark, triDir,
        Tokenizer.triKeys("merge").distinct).collect()),
      "statsMerged" -> (() => TrigramIndex.statsMerged(spark, triDir)))
    for ((name, call) <- triCalls) assert(triListings(call()) == 1, name)

    val numCalls: Seq[(String, () => Any)] = Seq(
      "point" -> (() => NumericIndex.point(spark, numRoot, "n", 7L).collect()),
      "range" -> (() => NumericIndex.range(spark, numRoot, "n", Some(3L), Some(9L),
        loInclusive = false).collect()),
      "stats" -> (() => NumericIndex.stats(spark, numRoot, "n")))
    for ((name, call) <- numCalls) assert(numListings(call()) == 1, name)

    // DNF repeats conjuncts across groups; each column still lists once
    val q = """content.search("index") && (n < 3 || content.regex("merge|batch")) && n != 7"""
    val dirs = Seq(s"$triLocal/tri_segments", s"${NumericIndex.colDir(root, "n")}/data")
    assert(ListingCounter.of(dirs: _*)(
      QueryParser.queryIndexed(spark, table, "doc_id", numRoot, q).collect()) == Seq(1, 1))

    // one listing per Bm25Index object, whatever it is asked
    assert(ListingCounter.of(s"$word/segments") {
      val idx = new Bm25Index(spark, ListingCounter.counted(word))
      idx.topKOr("index merge search", 5).collect()
      idx.topKOr("the merge", 5).collect()
      idx.topKAnd("index merge", 5).collect()
      idx.countFirstLastAnd("index merge").collect()
      idx.dictionary.count()
      idx.stats
    } == Seq(1))
  }
}
