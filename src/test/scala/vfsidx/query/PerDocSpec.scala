package vfsidx.query

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import vfsidx.{JobCounter, SparkTestBase}
import vfsidx.build.{IndexBuild, TrigramIndex}
import vfsidx.corpus.Synth
import vfsidx.tokenize.Tokenizer

/** [[Postings.perDoc]], the one posting aggregator of every query family:
  * Spark's rounding, key sets wider than one word, postings duplicated
  * across generations, bounded shuffle records, and no generated code
  * compiled for a query shape already seen. */
class PerDocSpec extends SparkTestBase {
  import spark.implicits._

  test("round9 is bit-equal to Spark's round(x, 9), random doubles and HALF_UP ties") {
    import org.apache.spark.sql.functions.round
    val rng = new scala.util.Random(8)
    val random = Seq.fill(100000) {
      val x = rng.nextDouble() * math.pow(10, rng.nextInt(19) - 12)
      if (rng.nextBoolean()) -x else x
    }
    // exact decimal ties at the 10th digit: HALF_UP rounds them away from 0
    val ties = Seq.fill(2000) {
      val d = BigDecimal(rng.nextInt(1000000000).toLong * 10 + 5, 10) * (rng.nextInt(1000) + 1)
      d.toDouble
    } ++ Seq(0.0000000005, 1.0000000005, 2.5e-9, -0.0000000015, 123.4567890125)
    val xs = (random ++ ties ++ Seq(0.0, -0.0, Double.MaxValue, Double.MinPositiveValue,
      Double.NaN, Double.PositiveInfinity)).toVector
    val spark9 = xs.toDF("x").select(round($"x", 9)).as[Double].collect()
    val bits = (d: Double) => java.lang.Double.doubleToRawLongBits(d)
    val diff = xs.indices.filter(i => bits(Postings.round9(xs(i))) != bits(spark9(i)))
    assert(diff.isEmpty, diff.take(5).map(i => s"${xs(i)}: ${Postings.round9(xs(i))} vs ${spark9(i)}"))
  }

  /** Docs 0..299 in generation 0 and docs 250..349 in generation 1: docs
    * 250..299 are indexed twice, every one of their (key, doc) postings in
    * both generations. */
  private lazy val dup: (Map[Long, String], String, String) = {
    val cfg = IndexBuild.BuildConfig(numBatches = 1, numBuckets = 4,
      saltThreshold = 150, shardSize = 128, maxGenerations = 8)
    val tri = TrigramIndex.TriConfig(numBuckets = 4, saltThreshold = 150, shardSize = 128,
      maxGenerations = 8)
    val all = Synth.corpus(spark, 350, partitions = 4).cache()
    val (g0, g1) = (all.filter($"doc_id" < 300), all.filter($"doc_id" >= 250))
    val (word, triDir) = (tmpDir("perdoc_word"), tmpDir("perdoc_tri"))
    IndexBuild.build(spark, g0, word, cfg)
    IndexBuild.ingestBatch(spark, g1, word, batchId = 1, cfg)
    TrigramIndex.build(spark, g0.toDF(), "doc_id", "content", triDir, tri)
    TrigramIndex.ingestBatch(spark, g1.toDF(), "doc_id", "content", triDir, batchId = 1, tri)
    (all.collect().map(d => d.doc_id -> d.content).toMap, word, triDir)
  }

  private def ids(df: org.apache.spark.sql.DataFrame) = df.as[Long].collect().sorted.toSeq

  private def bruteNears(docs: Map[Long, String], needle: String, k: Int): Seq[(Long, Long)] = {
    val nd = Tokenizer.triKeys(needle).distinct.toSet
    docs.toSeq.map { case (id, c) => (id, Tokenizer.distinctTriKeys(c).count(nd).toLong) }
      .filter(_._2 > 0).sortBy { case (id, ov) => (-ov, id) }.take(k)
  }

  test("a needle with more than 64 distinct trigram keys: brute-force answer on both sides " +
      "of the gate") {
    val (docs, _, triDir) = dup
    val long = docs.values.map(_.take(160)).find(s =>
      Tokenizer.triKeys(s).distinct.size > 64 && TrigramIndex.wellFormedUtf16(s)).get
    val needles = Seq(long, long.drop(7) + " zz", long.take(150) + long.take(30))
    for (needle <- needles) {
      val keys = Tokenizer.triKeys(needle).distinct
      assert(keys.size > 64, needle)
      val want = docs.collect { case (id, c)
        if keys.forall(Tokenizer.distinctTriKeys(c).toSet) => id }.toSeq.sorted
      assert(ids(TrigramIndex.searchCandidates(spark, triDir, needle, directFloor = 0L)) == want)
      assert(ids(TrigramIndex.searchCandidates(spark, triDir, needle)) == want)
      for (floor <- Seq(0L, Postings.DirectFloor)) {
        val got = TrigramIndex.nears(spark, triDir, needle, 7, prunedFloor = floor)
          .as[(Long, Long)].collect().toSeq
        assert(got == bruteNears(docs, needle, 7), s"nears floor=$floor")
      }
    }
    assert(ids(TrigramIndex.searchCandidates(spark, triDir, long)).nonEmpty)
    // a clause over the long needle OR a short literal, AND another clause
    val cnf = List(Set(long, "merge"), Set("index"))
    val want = docs.collect { case (id, c)
      if (c.contains(long) || c.contains("merge")) && c.contains("index") => id }.toSeq.sorted
    for (floor <- Seq(0L, Postings.DirectFloor)) {
      val got = ids(RegexTrigram.clauseCandidates(spark, triDir, cnf, directFloor = floor))
      // candidates are a superset of the true matches (trigram-AND is
      // necessary, not sufficient) and exactly the docs holding the keys
      val keysOf = (s: String) => Tokenizer.triKeys(s).distinct
      val exact = docs.collect { case (id, c) if {
        val dk = Tokenizer.distinctTriKeys(c).toSet
        cnf.forall(_.exists(m => keysOf(m).forall(dk)))
      } => id }.toSeq.sorted
      assert(got == exact, s"floor=$floor")
      assert(want.toSet.subsetOf(got.toSet), s"floor=$floor")
    }
  }

  test("a (key, doc) posting duplicated across two generations counts once") {
    val (docs, word, triDir) = dup
    for (needle <- Seq("merge", "index merge", "return", "needle_27"); floor <- Seq(0L,
        TrigramIndex.SearchDirectFloor)) {
      val keys = Tokenizer.triKeys(needle).distinct
      val want = docs.collect { case (id, c)
        if keys.forall(Tokenizer.distinctTriKeys(c).toSet) => id }.toSeq.sorted
      assert(want.exists(id => id >= 250 && id < 300), needle)
      assert(ids(TrigramIndex.searchCandidates(spark, triDir, needle, directFloor = floor)) ==
        want, s"'$needle' floor=$floor")
    }
    for (q <- Seq("index merge", "merge the", "return query int", "needle_270 the");
         floor <- Seq(0L, Bm25Index.DirectFloor)) {
      val terms = Tokenizer.codeTokens(q).distinct
      val hit = docs.collect { case (id, c)
        if terms.forall(Tokenizer.codeTokens(c).contains) => id }.toSeq
      val r = new Bm25Index(spark, word, directFloor = floor).countFirstLastAnd(q).head()
      assert((r.getLong(0), Option(r.get(1)), Option(r.get(2))) ==
        (hit.size.toLong, hit.minOption, hit.maxOption), s"'$q' floor=$floor")
    }
    for (needle <- Seq("merge index", "return the value"); floor <- Seq(0L, Postings.DirectFloor)) {
      val got = TrigramIndex.nears(spark, triDir, needle, 12, prunedFloor = floor)
        .as[(Long, Long)].collect().toSeq
      assert(got == bruteNears(docs, needle, 12), s"'$needle' floor=$floor")
    }
  }

  test("shuffle records written per query are at most map partitions x reducers") {
    val (docs, word, triDir) = dup
    // (stage, records written) of every shuffle-map task
    val tasks = new ConcurrentLinkedQueue[(Int, Long)]()
    val listener = new SparkListener {
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit =
        if (t.taskType == "ShuffleMapTask" && t.taskMetrics != null)
          tasks.add((t.stageId, t.taskMetrics.shuffleWriteMetrics.recordsWritten))
    }
    val shufflePartitions = spark.conf.get("spark.sql.shuffle.partitions").toInt
    val idx = new Bm25Index(spark, word)
    val headTerms = Seq("the", "int", "val", "return")
    val queries: Seq[(String, () => Any)] = Seq(
      "topKOr" -> (() => idx.topKOr(headTerms.mkString(" "), 10).collect()),
      "countFirstLastAnd" -> (() => idx.countFirstLastAnd("the int").collect()),
      "searchCandidates" -> (() => TrigramIndex.searchCandidates(spark, triDir, "the").collect()),
      "nears" -> (() => TrigramIndex.nears(spark, triDir, "return the value", 5).collect()))
    spark.sparkContext.addSparkListener(listener)
    try JobCounter.around(spark) { jobs =>
      for ((name, q) <- queries) {
        tasks.clear()
        jobs.of(q())
        val stages = tasks.asScala.toSeq.groupBy(_._1).values
        assert(stages.nonEmpty, name)
        for (maps <- stages) {
          val reducers = math.min(shufflePartitions, maps.size)
          assert(maps.forall(_._2 <= reducers), s"$name: $maps")
          assert(maps.map(_._2).sum <= maps.size * reducers, s"$name: $maps")
        }
      }
    } finally spark.sparkContext.removeSparkListener(listener)
    // a per-posting shuffle would write a record per doc the head terms hit
    val hit = docs.values.count(c => Tokenizer.codeTokens(c).exists(headTerms.contains))
    tasks.clear()
    spark.sparkContext.addSparkListener(listener)
    try JobCounter.around(spark)(_.of(idx.topKOr(headTerms.mkString(" "), 10).collect()))
    finally spark.sparkContext.removeSparkListener(listener)
    assert(tasks.asScala.map(_._2).sum < hit)
  }

  test("over IsinCap candidates: a DataFrame over the aggregate's shuffle output") {
    def row(key: Long, ids: Seq[Long]) = {
      val enc = vfsidx.codec.VarByte.encodeIds(ids.toArray)
      vfsidx.build.TriSegmentRow(0, key, 0, enc.count, enc.bytes, enc.blockFirst,
        enc.blockLast, enc.blockOff)
    }
    val (a, b) = ((0L until 3L * Postings.IsinCap).map(_ * 2), (0L until 4L * Postings.IsinCap))
    val segs = spark.createDataset(Seq(row(7L, a), row(8L, b.take(Postings.IsinCap)),
      row(8L, b.drop(Postings.IsinCap)))).toDF()
    val keys = Seq(7L, 8L)
    val all = Postings.mask(2, Seq(0, 1))
    val cand = Postings.perDoc(Postings.scan(segs, "key", keys), keys).ids(spark, _.holds(all))
    assert(!cand.queryExecution.executedPlan.toString.contains("LocalTableScan"))
    val mapTasks = new java.util.concurrent.atomic.AtomicInteger
    val listener = new SparkListener {
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit =
        if (t.taskType == "ShuffleMapTask") mapTasks.incrementAndGet()
    }
    var got = Seq.empty[Long]
    spark.sparkContext.addSparkListener(listener)
    try JobCounter.around(spark)(_.of { got = ids(cand) })
    finally spark.sparkContext.removeSparkListener(listener)
    assert(got == a.filter(b.toSet).sorted)
    assert(got.size > Postings.IsinCap)
    assert(mapTasks.get == 0)
  }

  test("queries reuse generated code: a second set with new terms compiles 0 classes") {
    val (_, word, triDir) = dup
    val pruned = new Bm25Index(spark, word, directFloor = 0L)
    val direct = new Bm25Index(spark, word)
    // term counts per call are equal across the two sets; the nears
    // needles hold more than 10 keys (a pushed `In` over Long literals
    // is inlined into generated code up to 10 of them)
    def set(or: String, and: String, needle: String): Seq[() => Any] = {
      assert(Tokenizer.triKeys(needle).distinct.size > 10)
      Seq(() => pruned.topKOr(or, 10).collect(), () => direct.topKOr(or, 10).collect(),
        () => pruned.topKAnd(and, 10).collect(), () => direct.topKAnd(and, 10).collect(),
        () => pruned.countFirstLastAnd(and).collect(), () => direct.countFirstLastAnd(and).collect(),
        () => TrigramIndex.nears(spark, triDir, needle, 10).collect())
    }
    set("index merge search the", "index merge the", "merge the index").foreach(_())
    val compiled = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    set("query record column int", "buffer stream val", "return the stream").foreach(_())
    assert(CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiled == 0)
  }
}
