package vfsidx.query

import vfsidx.{JobCounter, SparkTestBase}
import vfsidx.build.{IndexBuild, TrigramIndex, TriSegmentRow}
import vfsidx.corpus.{SourceFile, Synth}
import vfsidx.tokenize.Tokenizer

/** The shared query mechanics of [[Postings]]: the capped block-range
  * collect, the Spark jobs each query path issues on both sides of its cost
  * gate, and the pruned paths over several uncompacted generations. */
class PostingsSpec extends SparkTestBase {
  import spark.implicits._

  test("termMeta: over the cap -> None; at the cap -> the coalesced ranges") {
    def row(key: Long, count: Int, ranges: (Long, Long)*) = TriSegmentRow(0, key, 0, count,
      Array.emptyByteArray, ranges.map(_._1).toArray, ranges.map(_._2).toArray,
      Array.fill(ranges.size)(0))
    // 5 blocks over 4 rows; (1,10)/(5,20) overlap and (30,40)/(40,45) touch;
    // key 2 spans two rows (two generations or shards)
    val rows = spark.createDataset(Seq(row(1L, 7, (1L, 10L), (30L, 40L)),
      row(2L, 3, (5L, 20L)), row(2L, 4, (40L, 45L)), row(3L, 1, (100L, 100L)))).toDF()
    val all = Seq(1L, 2L, 3L)
    val at4 = Postings.termMeta(rows, "key", all :+ 9L, cap = 4)
    assert(at4.df == Map(1L -> 7L, 2L -> 7L, 3L -> 1L))
    assert(at4.keys.map { case (k, m) => k -> m.blocks } == Map(1L -> 2L, 2L -> 2L, 3L -> 1L))
    assert(at4.ranges(all).isEmpty)
    assert(at4.ranges(Seq(1L, 2L)).map(_.toSeq) == Some(Seq((1L, 20L), (30L, 45L))))
    assert(Postings.termMeta(rows, "key", all, cap = 5).ranges(all).map(_.toSeq) ==
      Some(Seq((1L, 20L), (30L, 45L), (100L, 100L))))
    // a key over the cap on its own keeps its df, never its ranges
    val at1 = Postings.termMeta(rows, "key", all, cap = 1)
    assert(at1.df == at4.df && at1.keys(1L).ranges.isEmpty && at1.ranges(Seq(1L)).isEmpty)
    assert(at1.ranges(Seq(3L)).map(_.toSeq) == Some(Seq((100L, 100L))))
    assert(Postings.termMeta(rows, "key", all, withRanges = false).ranges(Seq(3L)).isEmpty)
  }

  test("termMeta reads only segment metadata, never the postings blob") {
    val unread = org.apache.spark.sql.functions.udf { (_: Long) =>
      (throw new IllegalStateException("metadata probe read postings")): Array[Byte]
    }
    val dir = tmpDir("ranges_cols")
    Seq(TriSegmentRow(0, 1L, 0, 2, Array.emptyByteArray,
      Array(1L, 30L), Array(10L, 40L), Array(0, 0))).toDS().write.mode("overwrite").parquet(dir)
    val rows = spark.read.parquet(dir).withColumn("postings", unread($"key"))
    val meta = Postings.termMeta(rows, "key", Seq(1L))
    assert(meta.df == Map(1L -> 2L))
    assert(meta.ranges(Seq(1L)).map(_.toSeq) == Some(Seq((1L, 10L), (30L, 40L))))
  }

  // ---- Spark jobs per query call ----

  private lazy val twoGen: (String, String) = {
    val cfg = IndexBuild.BuildConfig(numBatches = 1, numBuckets = 4,
      saltThreshold = 150, shardSize = 128)
    val tri = TrigramIndex.TriConfig(numBuckets = 4, saltThreshold = 150, shardSize = 128)
    val all = Synth.corpus(spark, 600, partitions = 4).cache()
    val (word, triDir) = (tmpDir("jobs_word"), tmpDir("jobs_tri"))
    IndexBuild.build(spark, all.filter($"doc_id" < 400), word, cfg)
    IndexBuild.ingestBatch(spark, all.filter($"doc_id" >= 400), word, batchId = 1, cfg)
    TrigramIndex.build(spark, all.filter($"doc_id" < 400).toDF(), "doc_id", "content", triDir, tri)
    TrigramIndex.ingestBatch(spark, all.filter($"doc_id" >= 400).toDF(), "doc_id", "content",
      triDir, batchId = 1, tri)
    assert(IndexBuild.generations(spark, word).size == 2)
    assert(TrigramIndex.generations(spark, triDir).size == 2)
    (word, triDir)
  }

  test("query job counts on a 2-generation index, both sides of each cost gate") {
    val (word, triDir) = twoGen
    val pruned = new Bm25Index(spark, word, directFloor = 0L)
    val direct = new Bm25Index(spark, word)
    val calls: Seq[(String, () => Any)] = Seq(
      "topKOr pruned" -> (() => pruned.topKOr("index merge search the", 10).collect()),
      "topKOr direct" -> (() => direct.topKOr("index merge search the", 10).collect()),
      "topKAnd pruned" -> (() => pruned.topKAnd("index merge the", 10).collect()),
      "topKAnd direct" -> (() => direct.topKAnd("index merge the", 10).collect()),
      "countFirstLastAnd pruned" -> (() => pruned.countFirstLastAnd("index merge the").collect()),
      "countFirstLastAnd direct" -> (() => direct.countFirstLastAnd("index merge the").collect()),
      "searchCandidates pruned" -> (() =>
        TrigramIndex.searchCandidates(spark, triDir, "merge the", directFloor = 0L).collect()),
      "searchCandidates direct" -> (() =>
        TrigramIndex.searchCandidates(spark, triDir, "merge the").collect()),
      "nears pruned" -> (() =>
        TrigramIndex.nears(spark, triDir, "index merge search", 5, prunedFloor = 0L).collect()),
      "nears direct" -> (() => TrigramIndex.nears(spark, triDir, "index merge search", 5).collect()),
      "clauseCandidates pruned" -> (() => RegexTrigram.clauseCandidates(spark, triDir,
        List(Set("merge", "search"), Set("index")), directFloor = 0L).collect()),
      "clauseCandidates direct" -> (() => RegexTrigram.clauseCandidates(spark, triDir,
        List(Set("merge", "search"), Set("index"))).collect()))
    calls.foreach(_._2())  // warm the per-index stats caches
    val got = JobCounter.around(spark)(jobs => calls.map { case (name, f) => name -> jobs.of(f()) })
    info(got.map { case (n, j) => s"$n: $j" }.mkString(", "))
    // every path plans off ONE segment-metadata job (df, idf, upper bounds
    // and block ranges together) and reads index tables with pinned
    // schemas (no inference job); the presence probe is the pruned
    // clauseCandidates' one extra job
    val expected = Seq(
      "topKOr pruned" -> 3,
      "topKOr direct" -> 2,
      "topKAnd pruned" -> 2,
      "topKAnd direct" -> 2,
      "countFirstLastAnd pruned" -> 2,
      "countFirstLastAnd direct" -> 2,
      "searchCandidates pruned" -> 2,
      "searchCandidates direct" -> 1,
      "nears pruned" -> 5,
      "nears direct" -> 1,
      "clauseCandidates pruned" -> 2,
      "clauseCandidates direct" -> 1)
    assert(got == expected)
  }

  test("query language job count: the benchmark's lang shape is one perDoc pass") {
    import org.apache.spark.sql.functions.length
    val dir = tmpDir("lang_jobs")
    Synth.corpus(spark, 600, partitions = 4).toDF().withColumn("size", length($"content"))
      .write.parquet(s"$dir/table")
    val table = spark.read.parquet(s"$dir/table")
    val root = s"$dir/columns"
    QueryParser.buildIndexes(spark, table, "doc_id", Seq("content"), Seq("size"), root)
    // both numeric conjuncts pass the selectivity gate, so the pass reads
    // one trigram column and two numeric scans
    val sizes = table.select("size").as[Int].collect().sorted
    val lo = sizes(sizes.length * 9 / 10).toLong
    val st = vfsidx.build.NumericIndex.stats(spark, root, "size").get
    assert(vfsidx.build.NumericIndex.estimateFraction(st, Some(lo), None) <=
      QueryParser.MaxIndexSelectivity)
    val q = s"""content.search("merge the") && size >= $lo || """ +
      s"""content.regex("(index|query) [a-z]+") && size >= $lo && size < ${lo + 60} && """ +
      """!content.search("flush")"""
    def run() = QueryParser.queryIndexed(spark, table, "doc_id", root, q)
      .select("doc_id").as[Long].collect().sorted
    val want = QueryParser.query(table, q).select("doc_id").as[Long].collect().sorted
    assert(want.nonEmpty && run().sameElements(want))  // also warms the watermark cache
    val jobs = JobCounter.around(spark)(_.of(run()))
    info(s"lang: $jobs jobs")
    // the candidate ids off the one aggregate, then the semi-joined rows
    assert(jobs <= 3)
  }

  test("2-generation salted index: dictionary df == Σ segment count, idf bit-equal") {
    import org.apache.spark.sql.functions.sum
    val (word, triDir) = twoGen
    val idx = new Bm25Index(spark, word)
    val segs = IndexBuild.readSegments(spark, word)
    assert(segs.filter($"shard" > 0).count() > 0, "no salted shard")
    val segDf = segs.groupBy($"term").agg(sum($"count").cast("long"))
      .as[(String, Long)].collect().toMap
    val dict = idx.dictionary.select($"term", $"df", $"idf").as[(String, Long, Double)]
      .collect()
    assert(dict.length == segDf.size)
    val meta = Postings.termMeta(segs, "term", dict.map(_._1).toSeq)
    dict.foreach { case (t, df, idf) =>
      assert(segDf(t) == df, s"term '$t'")
      assert(meta.df(t) == df, s"term '$t'")
      // exact Double equality: the driver-side idf must give the same bits
      assert(Bm25Index.idf(idx.stats.n_docs, meta.df(t)) == idf, s"term '$t'")
    }

    val triSegs = TrigramIndex.snapshot(spark, triDir).segments
    assert(triSegs.filter($"shard" > 0).count() > 0, "no salted trigram shard")
    val triSegDf = triSegs.groupBy($"key").agg(sum($"count").cast("long"))
      .as[(Long, Long)].collect().toMap
    val triDict = TrigramIndex.snapshot(spark, triDir).segments
      .groupBy($"key").agg(sum($"count").cast("long"))
      .as[(Long, Long)].collect().toMap
    assert(triDict == triSegDf)
    assert(Postings.termMeta(triSegs, "key", triDict.keys.toSeq).df == triDict)
  }

  // ---- pruned paths over uncompacted generations ----

  /** Three generations whose docs grow longer (dl ~5, ~25, ~60), so the
    * global avgdl drifts above each earlier generation's build-time avgdl
    * and every term's list spans several blocks in several generations. */
  private lazy val drift: (Seq[SourceFile], String, String) = {
    val rng = new scala.util.Random(31)
    val vocab = Vector("alpha", "beta", "gamma", "delta", "merge", "index",
      "query", "scan", "drift", "bound", "rare")
    def doc(id: Long, len: Int): SourceFile = {
      val words = Seq.fill(len)(vocab(rng.nextInt(vocab.size - 1))) ++
        (if (id % 97 == 0) Seq("rare") else Nil)
      val text = words.mkString(" ")
      SourceFile(id, "drift", s"d/$id", "", "", text, Synth.sha256Hex(text))
    }
    val gens = Seq(
      (0L until 400L).map(doc(_, 4 + rng.nextInt(4))),
      (400L until 650L).map(doc(_, 20 + rng.nextInt(10))),
      (650L until 800L).map(doc(_, 50 + rng.nextInt(20))))
    val cfg = IndexBuild.BuildConfig(numBatches = 1, numBuckets = 4,
      saltThreshold = 150, shardSize = 128, maxGenerations = 8)
    val tri = TrigramIndex.TriConfig(numBuckets = 4, saltThreshold = 150, shardSize = 128,
      maxGenerations = 8)
    val (word, triDir) = (tmpDir("drift_word"), tmpDir("drift_tri"))
    gens.zipWithIndex.foreach { case (g, b) =>
      val ds = spark.createDataset(g)
      if (b == 0) {
        IndexBuild.build(spark, ds, word, cfg)
        TrigramIndex.build(spark, ds.toDF(), "doc_id", "content", triDir, tri)
      } else {
        IndexBuild.ingestBatch(spark, ds, word, batchId = b, cfg)
        TrigramIndex.ingestBatch(spark, ds.toDF(), "doc_id", "content", triDir, batchId = b, tri)
      }
    }
    assert(IndexBuild.generations(spark, word) == Seq((0, 0), (1, 1), (2, 2)))
    assert(TrigramIndex.generations(spark, triDir) == Seq((0, 0), (1, 1), (2, 2)))
    (gens.flatten, word, triDir)
  }

  private val driftQueries = Seq("merge index", "alpha beta gamma", "rare merge",
    "drift bound query scan", "rare alpha delta", "absentterm merge")

  test("word index, 3 uncompacted generations, directFloor = 0: topKOr/topKAnd == Oracle, " +
      "countFirstLastAnd == brute-force intersection") {
    val (docs, word, _) = drift
    val union = spark.createDataset(docs).cache()
    val idx = new Bm25Index(spark, word, directFloor = 0L)
    def rows(df: org.apache.spark.sql.DataFrame) = df.as[(Long, Double)].collect().toSeq
    for (q <- driftQueries; k <- Seq(3, 10)) {
      assert(rows(idx.topKOr(q, k)) == rows(Oracle.topKOr(spark, union, q, k)), s"OR '$q' k=$k")
      assert(rows(idx.topKAnd(q, k)) == rows(Oracle.topKAnd(spark, union, q, k)), s"AND '$q' k=$k")
    }
    for (q <- driftQueries) {
      val terms = Tokenizer.codeTokens(q).distinct
      val ids = docs.filter(d => terms.forall(Tokenizer.codeTokens(d.content).contains))
        .map(_.doc_id)
      val r = idx.countFirstLastAnd(q).head()
      val got = (r.getLong(0), Option(r.get(1)), Option(r.get(2)))
      assert(got == (ids.size.toLong, ids.minOption, ids.maxOption), s"CFL '$q'")
    }
  }

  test("trigram index, 3 uncompacted generations, floors = 0: searchCandidates == direct, " +
      "nears == brute force") {
    val (docs, _, triDir) = drift
    def ids(df: org.apache.spark.sql.DataFrame) = df.as[Long].collect().sorted.toSeq
    for (needle <- Seq("merge ind", "rare", "gamma delta", "zzz_nowhere", "scan drift")) {
      val pruned = ids(TrigramIndex.searchCandidates(spark, triDir, needle, directFloor = 0L))
      assert(pruned == ids(TrigramIndex.searchCandidates(spark, triDir, needle)),
        s"needle '$needle'")
      assert(pruned.nonEmpty == (needle != "zzz_nowhere"), s"needle '$needle'")
    }
    for (cnf <- Seq(List(Set("merge", "rare"), Set("index")), List(Set("alpha", "zzz_nowhere")),
        List(Set("gamma"), Set("zzz_nowhere")), List(Set("scan drift")))) {
      val pruned = ids(RegexTrigram.clauseCandidates(spark, triDir, cnf, directFloor = 0L))
      assert(pruned == ids(RegexTrigram.clauseCandidates(spark, triDir, cnf)), s"cnf $cnf")
      assert(pruned.nonEmpty == !cnf.exists(_ == Set("zzz_nowhere")), s"cnf $cnf")
    }
    for ((needle, k) <- Seq(("merge index", 5), ("rare alpha", 10), ("drift bound scan", 3))) {
      val nd = Tokenizer.triKeys(needle).distinct.toSet
      val want = docs.map(d => (d.doc_id, Tokenizer.distinctTriKeys(d.content).count(nd).toLong))
        .filter(_._2 > 0).sortBy { case (id, ov) => (-ov, id) }.take(k)
      val got = TrigramIndex.nears(spark, triDir, needle, k, prunedFloor = 0L)
        .as[(Long, Long)].collect().toSeq
      assert(got == want, s"needle '$needle' k=$k")
    }
  }
}
