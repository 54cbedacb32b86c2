package vfsidx.query

import java.util.concurrent.{ConcurrentHashMap, CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import vfsidx.SparkTestBase
import vfsidx.build.{IndexBuild, TrigramIndex, TriSegmentRow}
import vfsidx.corpus.{SourceFile, Synth}
import vfsidx.tokenize.Tokenizer

/** The shared query mechanics of [[Postings]]: the capped block-range
  * collect, the Spark jobs each query path issues on both sides of its cost
  * gate, and the pruned paths over several uncompacted generations. */
class PostingsSpec extends SparkTestBase {
  import spark.implicits._

  test("blockRanges: over the cap -> None; at the cap -> the coalesced ranges") {
    def row(key: Long, ranges: (Long, Long)*) = TriSegmentRow(0, key, 0, 0, Array.emptyByteArray,
      ranges.map(_._1).toArray, ranges.map(_._2).toArray, Array.fill(ranges.size)(0))
    // 5 blocks over 3 rows; (1,10)/(5,20) overlap and (30,40)/(40,45) touch
    val rows = spark.createDataset(Seq(
      row(1L, (1L, 10L), (30L, 40L)), row(2L, (5L, 20L), (40L, 45L)), row(3L, (100L, 100L))))
    assert(Postings.blockRanges(rows, cap = 4).isEmpty)
    assert(Postings.blockRanges(rows, cap = 5).map(_.toSeq) ==
      Some(Seq((1L, 20L), (30L, 45L), (100L, 100L))))
  }

  // ---- Spark jobs per query call ----

  /** Counts the jobs submitted while [[Tag]] is set; [[drain]] waits on the
    * asynchronous listener bus with a marker job (the bus is FIFO). */
  private object Jobs extends SparkListener {
    val Key = "vfsidx.test.jobs"
    val Tag = "counted"
    val counted = new AtomicInteger
    private val markerJob = new ConcurrentHashMap[Int, CountDownLatch]()
    @volatile private var latch: CountDownLatch = _

    override def onJobStart(js: SparkListenerJobStart): Unit =
      Option(js.properties).flatMap(p => Option(p.getProperty(Key))) match {
        case Some(Tag) => counted.incrementAndGet()
        case Some("marker") => markerJob.put(js.jobId, latch)
        case _ =>
      }

    override def onJobEnd(je: SparkListenerJobEnd): Unit =
      Option(markerJob.remove(je.jobId)).foreach(_.countDown())

    def drain(): Unit = {
      val sc = spark.sparkContext
      latch = new CountDownLatch(1)
      sc.setLocalProperty(Key, "marker")
      try sc.parallelize(Seq(1), 1).count()
      finally sc.setLocalProperty(Key, null)
      assert(latch.await(60, TimeUnit.SECONDS), "listener bus did not drain")
    }

    /** Jobs `f` submits, from any thread that inherits its local properties. */
    def of(f: => Any): Int = {
      drain()
      counted.set(0)
      spark.sparkContext.setLocalProperty(Key, Tag)
      try f finally spark.sparkContext.setLocalProperty(Key, null)
      drain()
      counted.get
    }
  }

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
      "clauseCandidates" -> (() => RegexTrigram.clauseCandidates(spark, triDir,
        List(Set("merge", "search"), Set("index"))).collect()))
    calls.foreach(_._2())  // warm the per-index stats caches
    spark.sparkContext.addSparkListener(Jobs)
    val got = try calls.map { case (name, f) => name -> Jobs.of(f()) }
    finally spark.sparkContext.removeSparkListener(Jobs)
    info(got.map { case (n, j) => s"$n: $j" }.mkString(", "))
    // pruned paths: the rarest-key / essential-term ranges collect is one
    // job over every partition (a limit take would add a scale-up round)
    val expected = Seq(
      "topKOr pruned" -> 9,
      "topKOr direct" -> 4,
      "topKAnd pruned" -> 6,
      "topKAnd direct" -> 5,
      "countFirstLastAnd pruned" -> 7,
      "countFirstLastAnd direct" -> 6,
      "searchCandidates pruned" -> 8,
      "searchCandidates direct" -> 4,
      "nears pruned" -> 12,
      "nears direct" -> 3,
      "clauseCandidates" -> 6)
    assert(got == expected)
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
