package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.functions._

import vfsidx.build.{IndexBuild, NumericIndex, SegmentRow, TrigramIndex}
import vfsidx.codec.VarByte
import vfsidx.corpus.SourceFile
import vfsidx.query.{Bm25Index, QueryParser, RegexTrigram}
import vfsidx.tokenize.Tokenizer

/** Helpers shared by the workloads. */
object Common {
  val K = 10

  def secondsOf(ns: Long): Double = ns / 1e9

  def timed[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, secondsOf(System.nanoTime() - t0))
  }

  /** Materialize docs `[from, until)` of the seed's window as a parquet
    * table with the derived `size = length(content)` column, from `parts`
    * range partitions (0: one per core). The rows are generated by the
    * cluster from the window's pure per-doc function. */
  def writeCorpus(run: Run, window: Window, from: Long, until: Long, dir: String,
                  parts: Int = 0): Unit = {
    import run.spark.implicits._
    val w = window
    run.spark.range(from, until, 1, if (parts > 0) parts else run.cores).map(i => w.doc(i))
      .withColumn("size", length($"content"))
      .write.parquet(dir)
  }

  /** Word-index layout sized to the local cluster the way `graft.Bench`
    * sizes it: one merge bucket per core, four ingest batches, head terms
    * salted above a tenth of the corpus. */
  def wordConfig(run: Run, docs: Long): IndexBuild.BuildConfig =
    IndexBuild.BuildConfig(numBatches = 4, numBuckets = run.cores,
      saltThreshold = math.max(1L, docs / 10), shardSize = 4096)

  /** Trigram-index layout: one merge bucket per core. */
  def triConfig(run: Run): TrigramIndex.TriConfig = TrigramIndex.TriConfig(numBuckets = run.cores)

  def asDocs(table: DataFrame): Dataset[SourceFile] = {
    import table.sparkSession.implicits._
    table.drop("size").as[SourceFile]
  }

  /** Single-thread loops over the tokenizer and the posting codec, each run
    * for about `budgetS` seconds (per-layer throughput, trace runs only). */
  def layerLoops(run: Run, docs: IndexedSeq[SourceFile], wordDir: String,
                 m: mutable.Map[String, (Double, String)], budgetS: Double = 0.4): Unit = {
    def loop(body: => Long): Double = {
      var work = 0L
      val t0 = System.nanoTime()
      while (System.nanoTime() - t0 < budgetS * 1e9) work += body
      work / secondsOf(System.nanoTime() - t0)
    }
    var i = 0
    def next(): String = { i = (i + 1) % docs.size; docs(i).content }
    m("tokenize.code_tokens_per_s") = (loop(Tokenizer.termFreqs(next())._2.toLong), "1/s")
    m("tokenize.tri_keys_per_s") = (loop(Tokenizer.distinctTriKeys(next()).length.toLong), "1/s")

    val n = 1 << 16
    val ids = Array.tabulate(n)(j => j.toLong * 3 + (j % 3))
    val tfs = Array.tabulate(n)(j => 1 + j % 7)
    val dls = Array.tabulate(n)(j => 40 + j % 300)
    m("codec.encode_postings_per_s") = (loop { VarByte.encode(ids, tfs, dls, 180.0); n.toLong }, "1/s")

    val segs: Array[SegmentRow] = run.span("layer.codec.read") {
      import run.spark.implicits._
      IndexBuild.readSegments(run.spark, wordDir).as[SegmentRow].limit(400).collect()
    }
    val blocks = segs.flatMap(s => s.block_off.indices.map(b =>
      (s.postings, s.block_off(b), VarByte.blockCount(s.count, b))))
    var b = 0
    m("codec.decode_postings_per_s") = (loop {
      b = (b + 1) % blocks.length
      val (bytes, off, cnt) = blocks(b)
      VarByte.decodeBlock(bytes, off, cnt)._1.length.toLong
    }, "1/s")
  }

  /** JVM and Spark-wait metrics of a traced timed phase, per operation. */
  def runtimeLayer(run: Run, m: mutable.Map[String, (Double, String)], ops: Long,
                   timedSpans: String => Boolean, gcMs: Long, heapMb: Double): Unit = {
    val s = run.tracer.sum(timedSpans)
    val per = math.max(1L, ops).toDouble
    m("spark.scheduler_delay_s") = (s.schedulerDelayMs / 1000.0 / per, "s")
    m("spark.shuffle_fetch_wait_s") = (s.fetchWaitMs / 1000.0 / per, "s")
    m("driver.gc_s") = (gcMs / 1000.0 / per, "s")
    m("driver.heap_peak_mb") = (heapMb, "MB")
  }

  def zero(m: mutable.Map[String, (Double, String)], names: Seq[String]): Unit =
    Metrics.PerLayer.foreach { case (n, u) => if (names.exists(n.startsWith)) m(n) = (0.0, u) }
}

/** `search` and `search_pruned`: a closed loop of one client over the seven
  * query families against a single-generation index set built in setup.
  * `pruned` forces the public cost-gate floors to 0 so the block-max,
  * rarest-key and nears-convergence paths run at this corpus size. */
final class ReadWorkload(run: Run, pruned: Boolean) {
  import Common._
  import run.spark
  import spark.implicits._

  private val args = run.args
  private val n = args.docs.getOrElse(ReadWorkload.Docs)
  private val floor = if (pruned) 0L else Long.MaxValue
  private val wordDir = run.path("index/word")
  private val colsRoot = run.path("index/columns")
  private val triDir = QueryParser.triDir(colsRoot, "content")
  /** Distinct query positions per family; round `r` runs position `r`. */
  private val perFamily = 8
  /** Untimed rounds of the mix on the built index before the timed phase. */
  private val warmRounds = 2

  def execute(): Result = {
    val e2e = mutable.LinkedHashMap.empty[String, (Double, String)]
    val layer = mutable.LinkedHashMap.empty[String, (Double, String)]

    // ---- setup: corpus, index set, brute-force side, warm-up ----
    val window = Window(args.seed)
    val (table, corpusS) = timed(run.span("setup.corpus") {
      writeCorpus(run, window, 0, n, run.path("corpus"))
      spark.read.parquet(run.path("corpus"))
    })
    val (_, wordS) = timed(run.span("setup.word")(IndexBuild.build(spark, asDocs(table), wordDir,
      wordConfig(run, n))))
    val (_, colsS) = timed(run.span("setup.columns")(
      QueryParser.buildIndexes(spark, table, "doc_id", Seq("content"), Seq("size"), colsRoot,
        triConfig(run))))
    val (corpus, driverS) = timed(new Corpus((0L until n).map(window.doc)))
    val reference = new Reference(corpus)
    val queries = new QueryGen(corpus, window, args.seed).sample(perFamily + warmRounds)
    val bm = new Bm25Index(spark, wordDir,
      directFloor = if (pruned) 0L else Bm25Index.DirectFloor)
    val (_, warmS) = timed((0 until warmRounds).foreach(r =>
      Family.Round.foreach(f => answer(bm, table, queries(f)(perFamily + r), tag = "warm"))))
    val indexBytes = Map("word" -> run.diskBytes(wordDir), "trigram" -> run.diskBytes(triDir),
      "numeric" -> run.diskBytes(NumericIndex.colDir(colsRoot, "size")))
    val setupS = run.sinceStart
    run.log(f"setup $setupS%.1f s: corpus $corpusS%.1f s, word $wordS%.1f s, " +
      f"columns $colsS%.1f s, driver corpus $driverS%.1f s, warm $warmS%.1f s, session at ${run.sessionS}%.1f s")

    e2e("setup_s") = (setupS, "s")
    e2e("index_bytes_per_input_byte") = (indexBytes.values.sum.toDouble / corpus.contentBytes, "ratio")

    // ---- timed phase; when tracing, half of it untraced, then half traced ----
    val seconds = if (args.trace) args.seconds / 2.0 else args.seconds.toDouble
    val untraced = if (args.trace) {
      run.tracer.disable()
      val l = loop(bm, table, queries, seconds)
      run.tracer.enable()
      Some(l)
    } else None
    Probes.resetHeapPeak()
    val gc0 = Probes.gcMillis
    val timedLoop = loop(bm, table, queries, seconds)
    val gcMs = Probes.gcMillis - gc0
    val heapMb = Probes.heapPeakMb

    val lat = timedLoop.latMs.map(_._2)
    Family.Round.foreach(f => run.log(f"$f ms: " +
      timedLoop.latMs.filter(_._1 == f).map(x => f"${x._2}%.0f").mkString(" ")))
    e2e("op_p50_ms") = (Metrics.median(lat), "ms")
    e2e("ops_per_s") = (lat.size / (lat.sum / 1000.0), "1/s")

    // ---- correctness: each distinct query's reference once ----
    val exceptions = timedLoop.exceptions + untraced.map(_.exceptions).getOrElse(0L)
    var failed = exceptions
    val answers = timedLoop.answers ++ untraced.map(_.answers).getOrElse(Nil)
    val attempted = answers.size + exceptions
    val refs = mutable.HashMap.empty[Query, Answer => Boolean]
    val corrupted = mutable.Set.empty[String]
    answers.foreach { case (q, a0) =>
      val a = if (args.injectWrong && corrupted.add(q.family)) corrupt(a0) else a0
      val ok = refs.getOrElseUpdate(q, run.span("check")(checker(q, table, reference)))(a)
      if (!ok) {
        failed += 1
        run.log(s"WRONG ANSWER ${q.family} '${q.text}': ${a.toString.take(300)}")
      }
    }

    if (args.trace) {
      run.tracer.drain()
      layer("trace.overhead_ratio") =
        (Metrics.median(lat) / Metrics.median(untraced.get.latMs.map(_._2)), "ratio")
      layer("op.samples") = (lat.size.toDouble, "count")
      layer("error_rate") = (failed.toDouble / attempted, "ratio")
      layer("corpus.write_s") = (corpusS, "s")
      zero(layer, Seq("build.", "refresh.", "compact."))
      layer("index.word.bytes") = (indexBytes("word").toDouble, "bytes")
      layer("index.trigram.bytes") = (indexBytes("trigram").toDouble, "bytes")
      layer("index.numeric.bytes") = (indexBytes("numeric").toDouble, "bytes")
      layer("index.generations_max") = (Seq(IndexBuild.generations(spark, wordDir).size,
        TrigramIndex.generations(spark, triDir).size,
        NumericIndex.generations(spark, colsRoot, "size").size).max.toDouble, "count")
      Family.Round.foreach { f =>
        val plan = run.tracer.named(s"q.$f.plan")
        val all = run.tracer.sum(s => s == s"q.$f.plan" || s == s"q.$f.exec")
        val calls = math.max(1L, plan.calls).toDouble
        layer(s"q.$f.p50_ms") = (Metrics.median(timedLoop.latMs.filter(_._1 == f).map(_._2)), "ms")
        layer(s"q.$f.plan_s") = (secondsOf(plan.wallNs) / calls, "s")
        layer(s"q.$f.jobs") = (all.jobs / calls, "count")
        layer(s"q.$f.exec_s") = (secondsOf(run.tracer.named(s"q.$f.exec").wallNs) / calls, "s")
        layer(s"q.$f.input_bytes") = (all.inputBytes / calls, "bytes")
        layer(s"q.$f.shuffle_bytes") = (all.shuffleWriteBytes / calls, "bytes")
        layer(s"q.$f.executor_cpu_s") = (secondsOf(all.cpuNs) / calls, "s")
      }
      runtimeLayer(run, layer, lat.size, _.startsWith("q."), gcMs, heapMb)
      val lang = run.tracer.sum(s => s.startsWith("q.lang."))
      val langRows = timedLoop.answers.collect { case (q, Ids(ids)) if q.family == Family.Lang => ids.size }.sum
      layer("q.lang.rows_read_per_result") = (lang.inputRecords.toDouble / math.max(1, langRows), "ratio")
      precision(layer, timedLoop, reference)
      layerLoops(run, corpus.docs, wordDir, layer)
      run.tracer.drain()
      layer("spark.unattributed_jobs") = (run.tracer.unattributedJobs.toDouble, "count")
    }
    new Result(attempted, failed, e2e, layer)
  }

  /** Latencies, answers (in order) and exception count of one timed phase. */
  private final class Loop(val latMs: Seq[(String, Double)], val answers: Seq[(Query, Answer)],
                           val exceptions: Long)

  /** Whole rounds of the mix while `seconds` last, and at least two, so a
    * slow host window never leaves a family with a single sample. A round
    * starts only if it is expected to end before the deadline. */
  private def loop(bm: Bm25Index, table: DataFrame,
                   queries: Map[String, IndexedSeq[Query]], seconds: Double): Loop = {
    val lat = mutable.ArrayBuffer.empty[(String, Double)]
    val answers = mutable.ArrayBuffer.empty[(Query, Answer)]
    var exceptions = 0L
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    var round = 0
    var roundNs = 0L
    while (round < 2 || System.nanoTime() + roundNs / 2 < deadline) {
      val r0 = System.nanoTime()
      Family.Round.foreach { f =>
        val q = queries(f)(round % perFamily)
        val t0 = System.nanoTime()
        try {
          val a = answer(bm, table, q)
          lat += f -> (System.nanoTime() - t0) / 1e6
          answers += q -> a
        } catch {
          case e: Exception =>
            exceptions += 1
            run.log(s"EXCEPTION ${q.family} '${q.text}': $e")
        }
      }
      roundNs = System.nanoTime() - r0
      round += 1
    }
    new Loop(lat.toSeq, answers.toSeq, exceptions)
  }

  /** One query through the engine's public entry point: the plan span runs
    * the entry call (with its eager driver round-trips), the exec span
    * collects the rows. */
  private def answer(bm: Bm25Index, table: DataFrame, q: Query, tag: String = "q"): Answer = {
    def go[A](plan: => DataFrame)(read: Array[Row] => A): A = {
      val df = run.span(s"$tag.${q.family}.plan")(plan)
      read(run.span(s"$tag.${q.family}.exec")(df.collect()))
    }
    def ids(rows: Array[Row]): Ids = Ids(rows.map(_.getLong(0)).toVector.sorted)
    q.family match {
      case Family.BmOr => go(bm.topKOr(q.text, K))(rs => Ranked(rs.map(r => (r.getLong(0), r.getDouble(1))).toVector))
      case Family.BmAnd => go(bm.topKAnd(q.text, K))(rs => Ranked(rs.map(r => (r.getLong(0), r.getDouble(1))).toVector))
      case Family.CountAnd => go(bm.countFirstLastAnd(q.text)) { rs =>
        val r = rs.head
        def opt(i: Int) = if (r.isNullAt(i)) None else Some(r.getLong(i))
        Counted(r.getLong(0), opt(1), opt(2))
      }
      case Family.Substring =>
        if (!pruned)
          go(TrigramIndex.searchExact(spark, triDir, table, "doc_id", "content", q.text)
            .select("doc_id"))(ids)
        else go {
          // searchExact's own candidate materialization, with the public
          // searchCandidates floor forced to 0
          val cand = TrigramIndex.searchCandidates(spark, triDir, q.text, directFloor = 0L)
          val capped = cand.limit(TrigramIndex.IsinCap + 1).as[Long].collect()
          val pre =
            if (capped.length <= TrigramIndex.IsinCap) table.filter($"doc_id".isin(capped.toIndexedSeq: _*))
            else table.join(cand, "doc_id")
          pre.filter($"content".contains(q.text)).select("doc_id")
        }(ids)
      case Family.Regex =>
        go(RegexTrigram.searchRegex(spark, triDir, table, "doc_id", "content", q.text)
          .select("doc_id"))(ids)
      case Family.Nears =>
        go(TrigramIndex.nears(spark, triDir, q.text, K, prunedFloor = floor))(rs =>
          Overlaps(rs.map(r => (r.getLong(0), r.getLong(1))).toVector))
      case Family.Lang =>
        go(QueryParser.queryIndexed(spark, table, "doc_id", colsRoot, q.text).select("doc_id"))(ids)
    }
  }

  /** The brute-force verdict for one distinct query. */
  private def checker(q: Query, table: DataFrame, ref: Reference): Answer => Boolean =
    q.family match {
      case Family.BmOr | Family.BmAnd =>
        val scores = ref.bm25Scores(q.text, requireAll = q.family == Family.BmAnd)
        val top = ref.topK(scores, K)
        (a: Answer) => a match {
          case r: Ranked => Compare.ranked(r, top, scores)
          case _ => false
        }
      case Family.CountAnd => val r = ref.countAnd(q.text); Compare.same(_, r)
      case Family.Substring => val r = ref.substring(q.text); Compare.same(_, r)
      case Family.Regex => val r = ref.regex(q.text); Compare.same(_, r)
      case Family.Nears => val r = ref.nears(q.text, K); Compare.same(_, r)
      case Family.Lang =>
        val r = Ids(QueryParser.query(table, q.text).select("doc_id").as[Long]
          .collect().toVector.sorted)
        Compare.same(_, r)
    }

  /** A deliberately wrong copy of an answer (self-test of the gate). */
  private def corrupt(a: Answer): Answer = a match {
    case Ranked(rows) => Ranked(rows.reverse :+ (-1L -> 0.0))
    case Ids(ids) => Ids(ids :+ -1L)
    case Counted(c, f, l) => Counted(c + 1, f, l)
    case Overlaps(rows) => Overlaps(rows :+ (-1L -> 1L))
  }

  /** Candidate precision of the substring and regex prefilters: true hits
    * over candidate rows, summed over the distinct queries of the phase. */
  private def precision(layer: mutable.Map[String, (Double, String)], l: Loop,
                        ref: Reference): Unit = {
    val distinct = l.answers.map(_._1).distinct
    val subs = distinct.filter(_.family == Family.Substring)
    val res = distinct.filter(_.family == Family.Regex)
    val (subHits, subCands) = run.span("layer.candidates") {
      (subs.map(q => ref.substring(q.text).ids.size.toLong).sum,
        subs.map(q => TrigramIndex.searchCandidates(spark, triDir, q.text,
          directFloor = if (pruned) 0L else TrigramIndex.SearchDirectFloor).count()).sum)
    }
    val (reHits, reCands) = run.span("layer.candidates") {
      (res.map(q => ref.regex(q.text).ids.size.toLong).sum,
        res.map(q => RegexTrigram.clauseCandidates(spark, triDir, q.clauses).count()).sum)
    }
    layer("q.substring.candidate_precision") = (subHits.toDouble / math.max(1L, subCands), "ratio")
    layer("q.regex.candidate_precision") = (reHits.toDouble / math.max(1L, reCands), "ratio")
  }
}

object ReadWorkload {
  val Docs = 4000
}

/** `ingest`: the initial build of the word, trigram and numeric indexes,
  * then refresh slices into all three, each followed by the tiered
  * compaction policy, while `seconds` last and for at least one tiered
  * period. Set-up first runs the same calls once over a small prefix, so
  * JIT and code generation are not timed. */
final class IngestWorkload(run: Run) {
  import Common._
  import IngestWorkload.{WarmDocs, WarmSlice}
  import run.spark
  import spark.implicits._

  private val args = run.args
  private val n = args.docs.getOrElse(IngestWorkload.Docs)
  private val sliceDocs = math.max(1, n / 20)
  private val slices = IngestWorkload.Slices
  private val cfg = wordConfig(run, n)
  private val triCfg = triConfig(run)
  /** Slices per tiered period: the build leaves one generation, so the
    * policy first folds on slice `maxGenerations`. */
  private val period = cfg.maxGenerations

  def execute(): Result = {
    val e2e = mutable.LinkedHashMap.empty[String, (Double, String)]
    val layer = mutable.LinkedHashMap.empty[String, (Double, String)]

    val window = Window(args.seed)
    val ((base, sliceTables), corpusS) = timed(run.span("setup.corpus") {
      writeCorpus(run, window, 0, n, run.path("corpus/base"))
      // one range partition, hence one part file, per slice
      val dir = run.path("corpus/slices")
      writeCorpus(run, window, n, n + slices.toLong * sliceDocs, dir, parts = slices)
      val files = Option(new java.io.File(dir).list()).getOrElse(Array.empty[String])
        .filter(f => f.startsWith("part-") && f.endsWith(".parquet")).sorted
      require(files.length == slices, s"expected $slices slice files, found ${files.length}")
      (spark.read.parquet(run.path("corpus/base")),
        files.toSeq.map(f => spark.read.parquet(s"$dir/$f")))
    })
    val (_, warmS) = timed(warmUp(base))
    val docs = (0L until n + slices.toLong * sliceDocs).map(window.doc)
    // content indexed at the end of the first tiered period
    val contentBytes = docs.iterator.take(n + period * sliceDocs)
      .map(_.content.getBytes("UTF-8").length.toLong).sum
    val setupS = run.sinceStart
    run.log(f"setup $setupS%.1f s: corpus $corpusS%.1f s, warm-up $warmS%.1f s, " +
      f"session at ${run.sessionS}%.1f s")
    e2e("setup_s") = (setupS, "s")

    // timed phase; when tracing, half of it untraced, then half traced
    val seconds = if (args.trace) args.seconds / 2.0 else args.seconds.toDouble
    val untraced = if (args.trace) {
      run.tracer.disable()
      val p = phase(base, sliceTables, "untraced", seconds)
      run.tracer.enable()
      IndexBuild.TableIO.rmrf(spark, p.root)
      Some(p)
    } else None
    Probes.resetHeapPeak()
    val gc0 = Probes.gcMillis
    val p = phase(base, sliceTables, "timed", seconds)
    val gcMs = Probes.gcMillis - gc0
    val heapMb = Probes.heapPeakMb
    run.log(f"build ${p.buildS}%.2f s, slices " + p.sliceS.map(x => f"$x%.2f").mkString(" "))

    e2e("op_p50_ms") = (Metrics.median(p.sliceS.toSeq) * 1000.0, "ms")
    // the build and the first tiered period: the same work in every run
    e2e("ops_per_s") = ((1 + period) / (p.buildS + p.sliceS.take(period).sum), "1/s")
    e2e("index_bytes_per_input_byte") = (p.indexBytes.values.sum.toDouble / contentBytes, "ratio")

    val all = Seq(p) ++ untraced
    val attempted = all.map(_.ops).sum
    val failed = all.map(_.failed).sum

    if (args.trace) {
      run.tracer.drain()
      layer("trace.overhead_ratio") =
        (Metrics.median(p.sliceS.toSeq) / Metrics.median(untraced.get.sliceS.toSeq), "ratio")
      layer("op.samples") = (p.sliceS.size.toDouble, "count")
      layer("error_rate") = (failed.toDouble / attempted, "ratio")
      layer("corpus.write_s") = (corpusS, "s")
      Metrics.Indexes.foreach { i =>
        val b = run.tracer.named(s"build.$i")
        layer(s"build.$i.s") = (secondsOf(b.wallNs), "s")
        layer(s"build.$i.jobs") = (b.jobs.toDouble, "count")
        layer(s"build.$i.shuffle_write_bytes") = (b.shuffleWriteBytes.toDouble, "bytes")
        layer(s"build.$i.spill_bytes") = (b.spillBytes.toDouble, "bytes")
        layer(s"build.$i.executor_cpu_s") = (secondsOf(b.cpuNs), "s")
      }
      Metrics.Indexes.foreach { i =>
        val r = run.tracer.named(s"refresh.$i")
        val calls = math.max(1L, r.calls).toDouble
        layer(s"refresh.$i.s") = (secondsOf(r.wallNs) / calls, "s")
        layer(s"refresh.$i.jobs") = (r.jobs / calls, "count")
      }
      // compaction per tiered period: the policy folds once per period
      val periods = p.sliceS.size.toDouble / period
      Metrics.Indexes.foreach { i =>
        val k = run.tracer.named(s"compact.$i")
        layer(s"compact.$i.s") = (secondsOf(k.wallNs) / periods, "s")
        layer(s"compact.$i.bytes_rewritten") = (k.outputBytes / periods, "bytes")
      }
      Metrics.Indexes.foreach(i => layer(s"index.$i.bytes") = (p.indexBytes(i).toDouble, "bytes"))
      layer("index.generations_max") = (all.map(_.generationsMax).max.toDouble, "count")
      zero(layer, Seq("q."))
      runtimeLayer(run, layer, p.sliceS.size + 1L,
        s => Seq("build.", "refresh.", "compact.").exists(s.startsWith), gcMs, heapMb)
      layerLoops(run, docs, p.wordDir, layer)
      run.tracer.drain()
      layer("spark.unattributed_jobs") = (run.tracer.unattributedJobs.toDouble, "count")
    }
    new Result(attempted, failed, e2e, layer)
  }

  /** Index directories of one phase, with what the phase measured. */
  private final class Phase(val root: String) {
    val wordDir = s"$root/word"
    val colsRoot = s"$root/columns"
    val triDir: String = QueryParser.triDir(colsRoot, "content")
    var buildS = 0.0
    val sliceS = mutable.ArrayBuffer.empty[Double]
    var indexBytes = Map.empty[String, Long]
    var ops = 0L
    var failed = 0L
    var generationsMax = 0
  }

  /** Build, refresh and compaction calls of one phase; spans are named
    * `<prefix>build.word`, `<prefix>refresh.word`, ... */
  private final class Calls(p: Phase, cfg: IndexBuild.BuildConfig, triCfg: TrigramIndex.TriConfig,
                            prefix: String) {
    private def span(name: String)(f: => Unit): Unit = run.span(prefix + name)(f)

    def build(table: DataFrame): Unit = {
      span("build.word")(IndexBuild.build(spark, asDocs(table), p.wordDir, cfg))
      span("build.trigram")(TrigramIndex.build(spark, table, "doc_id", "content", p.triDir, triCfg))
      span("build.numeric")(NumericIndex.build(spark, table, "doc_id", "size", p.colsRoot, run.cores))
    }

    /** Slice `k` into all three indexes, then the compaction policy on each. */
    def refresh(slice: DataFrame, k: Int): Unit = {
      span("refresh.word")(
        IndexBuild.ingestBatch(spark, asDocs(slice), p.wordDir, cfg.numBatches + k, cfg))
      span("refresh.trigram")(
        TrigramIndex.ingestBatch(spark, slice, "doc_id", "content", p.triDir, 1 + k, triCfg))
      span("refresh.numeric")(
        NumericIndex.ingestBatch(spark, slice, "doc_id", "size", p.colsRoot, 1 + k, run.cores))
      span("compact.word")(IndexBuild.compactTiered(spark, p.wordDir, cfg))
      span("compact.trigram")(TrigramIndex.compactTiered(spark, p.triDir, triCfg))
      span("compact.numeric")(NumericIndex.compactTiered(spark, p.colsRoot, "size",
        maxGenerations = cfg.maxGenerations, numBuckets = run.cores))
    }
  }

  /** Untimed: build over the first `WarmDocs` docs, then two slices with
    * the policy bound at 2, so the second slice runs a fold, in scratch
    * directories removed afterwards. */
  private def warmUp(base: DataFrame): Unit = {
    val p = new Phase(run.path("ingest/warm"))
    val calls = new Calls(p, wordConfig(run, WarmDocs).copy(maxGenerations = 2),
      triCfg.copy(maxGenerations = 2), "warm.")
    calls.build(base.filter($"doc_id" < WarmDocs))
    (0 until 2).foreach { k =>
      val lo = WarmDocs + k * WarmSlice
      calls.refresh(base.filter($"doc_id" >= lo && $"doc_id" < lo + WarmSlice), k)
    }
    IndexBuild.TableIO.rmrf(spark, p.root)
  }

  /** One timed phase into fresh directories: the build, then slices until
    * `seconds` have passed and at least one tiered period has run. The
    * index size is taken at the end of the first period. */
  private def phase(base: DataFrame, sliceTables: Seq[DataFrame], name: String,
                    seconds: Double): Phase = {
    val p = new Phase(run.path(s"ingest/$name"))
    val calls = new Calls(p, cfg, triCfg, "")
    // one operation: run it, then check every index covers `expect` rows
    def op(expect: Long)(f: => Unit): Double = {
      p.ops += 1
      val (_, s) = timed {
        try f
        catch { case e: Exception => p.failed += 1; run.log(s"EXCEPTION ingest: $e") }
      }
      if (!countsMatch(p, expect)) p.failed += 1
      s
    }
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    p.buildS = op(n)(calls.build(base))
    var k = 0
    // start another slice only if it is expected to end before the deadline
    while (k < slices && (k < period ||
      System.nanoTime() + (Metrics.median(p.sliceS.toSeq) * 1e9 / 2).toLong < deadline)) {
      p.sliceS += op(n + (k + 1L) * sliceDocs)(calls.refresh(sliceTables(k), k))
      k += 1
      if (k == period) p.indexBytes = Map("word" -> run.diskBytes(p.wordDir),
        "trigram" -> run.diskBytes(p.triDir),
        "numeric" -> run.diskBytes(NumericIndex.colDir(p.colsRoot, "size")))
    }
    p
  }

  /** Indexed doc counts equal the corpus rows ingested so far; also
    * records the generation high-water mark. */
  private def countsMatch(p: Phase, expect: Long): Boolean = run.span("check") {
    val gens = Seq(IndexBuild.generations(spark, p.wordDir).size,
      TrigramIndex.generations(spark, p.triDir).size,
      NumericIndex.generations(spark, p.colsRoot, "size").size)
    p.generationsMax = math.max(p.generationsMax, gens.max)
    val got = Seq(new Bm25Index(spark, p.wordDir).stats.n_docs,
      TrigramIndex.statsMerged(spark, p.triDir).map(_.n_rows).getOrElse(-1L),
      NumericIndex.stats(spark, p.colsRoot, "size").map(_.n_rows).getOrElse(-1L))
    val want = if (args.injectWrong) expect + 1 else expect
    val ok = got.forall(_ == want)
    if (!ok) run.log(s"WRONG COUNT after ingest: expected $want, indexes hold ${got.mkString(", ")}")
    ok
  }
}

object IngestWorkload {
  val Docs = 4000
  /** Docs of the untimed warm-up build, and of each of its refresh slices. */
  val WarmDocs = 300L
  val WarmSlice = 50L
  /** Slices written in set-up; a phase stops early when they run out. */
  val Slices = 16
}
