package vfsidx.build

import vfsidx.SparkTestBase
import vfsidx.corpus.{Ingest, Synth}
import vfsidx.query.{Bm25Index, Oracle}

/** Incremental indexing (the reference's re-Regist story) and JSON/CSV
  * ingestion parity. */
class IncrementalSpec extends SparkTestBase {
  import spark.implicits._

  private val cfg = IndexBuild.BuildConfig(
    numBatches = 2, numBuckets = 4, saltThreshold = 150, shardSize = 128)

  test("ingested batch is queryable WITHOUT remerge; remerge == fresh build (identical segments)") {
    val base = Synth.corpus(spark, 500, partitions = 4).cache()
    val extra = Synth.corpus(spark, 650, partitions = 4)
      .filter($"doc_id" >= 500).as[vfsidx.corpus.SourceFile].cache()
    val union = Synth.corpus(spark, 650, partitions = 4).cache()

    val dInc = tmpDir("inc_a")
    IndexBuild.build(spark, base, dInc, cfg)
    IndexBuild.ingestBatch(spark, extra, dInc, batchId = cfg.numBatches, cfg)
    // two generations, NO remerge — BM25 must already be exact over the
    // union (idf/avgdl derive from merged generation stats)
    assert(IndexBuild.generations(spark, dInc) == Seq((0, 1), (2, 2)))
    def checkRanks(): Unit = {
      val idx = new Bm25Index(spark, dInc)
      for (q <- Seq("index merge search", "the", "needle_600")) {
        val got = idx.topKOr(q, 10).as[(Long, Double)].collect().toSeq
        val want = Oracle.topKOr(spark, union, q, 10).as[(Long, Double)].collect().toSeq
        assert(got == want, s"query: $q")
      }
      assert(idx.topKOr("needle_600", 5).as[(Long, Double)].collect().map(_._1).toSeq == Seq(600L))
    }
    checkRanks()

    // lineage audit: the refresh shuffled ONLY the new batch's postings
    val linSeg = spark.read.parquet(IndexBuild.lineageDir(dInc))
      .filter($"stage" === "segments").as[LineageRow].collect()
    val newPost = linSeg.filter(_.gen == "2_2").map(_.n_postings).sum
    val basePost = linSeg.filter(_.gen == "0_1").map(_.n_postings).sum
    assert(newPost > 0 && basePost > 0 && newPost < basePost / 2,
      s"refresh shuffled $newPost postings vs base $basePost")

    // full compaction: rank-identity preserved AND derived tables identical
    // (same (term, shard) postings bytes) to a fresh build over the union
    IndexBuild.remerge(spark, dInc, cfg)
    assert(IndexBuild.generations(spark, dInc) == Seq((0, 2)))
    checkRanks()
    val dFresh = tmpDir("inc_fresh")
    IndexBuild.build(spark, union, dFresh, cfg.copy(numBatches = 3))
    def fingerprint(dir: String) = IndexBuild.readSegments(spark, dir)
      .select($"term", $"shard", $"count",
        org.apache.spark.sql.functions.md5(
          org.apache.spark.sql.functions.hex($"postings")).as("h"))
      .as[(String, Int, Int, String)].collect().toSeq.sorted
    assert(fingerprint(dInc) == fingerprint(dFresh))
  }

  test("ADVERSARIAL avgdl drift: short-doc base + long-doc generation stays rank-exact under pruning") {
    // generation A's block_max_norm bounds were computed with a SMALL
    // avgdl; after ingesting much longer docs the global avgdl grows, and
    // an uncorrected bound would under-estimate (norm rises with avgdl) —
    // exactly the case the max(1, avgdl_glob/avgdl_gen) factor covers.
    // Rank-identity against the naive scorer and the brute-force oracle
    // over the union pins it, at several k (small k = aggressive pruning).
    import vfsidx.corpus.SourceFile
    val rng = new scala.util.Random(77)
    val vocab = Vector("alpha", "beta", "gamma", "delta", "merge", "index",
      "query", "scan", "drift", "bound")
    def doc(id: Long, len: Int): SourceFile = {
      val text = Seq.fill(len)(vocab(rng.nextInt(vocab.size))).mkString(" ")
      SourceFile(id, "drift", s"d/$id", "", "", text, Synth.sha256Hex(text))
    }
    val short = (0L until 300L).map(doc(_, 4 + rng.nextInt(4)))     // dl ~ 5
    val long = (300L until 500L).map(doc(_, 40 + rng.nextInt(30)))  // dl ~ 55
    val base = spark.createDataset(short).cache()
    val extra = spark.createDataset(long).cache()
    val union = spark.createDataset(short ++ long).cache()
    val d = tmpDir("drift")
    IndexBuild.build(spark, base, d, cfg)
    IndexBuild.ingestBatch(spark, extra, d, batchId = cfg.numBatches, cfg)
    val idx = new Bm25Index(spark, d)
    for (q <- Seq("merge index", "alpha beta gamma", "drift bound query scan", "merge");
         k <- Seq(3, 10)) {
      val pruned = idx.topKOr(q, k).as[(Long, Double)].collect().toSeq
      val naive = idx.topKOrNaive(q, k).as[(Long, Double)].collect().toSeq
      val want = Oracle.topKOr(spark, union, q, k).as[(Long, Double)].collect().toSeq
      assert(pruned == naive, s"pruned != naive: '$q' k=$k")
      assert(naive == want, s"naive != oracle: '$q' k=$k")
    }
  }

  test("ingestBatch is idempotent (re-run skipped via _SUCCESS)") {
    val docs = Synth.corpus(spark, 100, partitions = 2).cache()
    val d = tmpDir("inc_b")
    IndexBuild.build(spark, docs, d, cfg.copy(numBatches = 1))
    val extra = Synth.corpus(spark, 120, partitions = 2)
      .filter($"doc_id" >= 100).as[vfsidx.corpus.SourceFile]
    IndexBuild.ingestBatch(spark, extra, d, 1)
    val lin1 = spark.read.parquet(IndexBuild.lineageDir(d)).count()
    IndexBuild.ingestBatch(spark, extra, d, 1)
    assert(spark.read.parquet(IndexBuild.lineageDir(d)).count() == lin1)
  }

  test("JSON-lines ingestion assigns dense deterministic doc_ids + sha256") {
    val dir = tmpDir("ingest_json")
    val rows = Seq(
      """{"id": 10435, "title": "t1", "content": "alpha beta gamma"}""",
      """{"id": 132763, "title": "t2", "content": "delta epsilon"}""",
      """{"id": 1, "title": "t3", "content": "alpha zeta"}""")
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/test.json"),
      rows.mkString("\n").getBytes("UTF-8"))
    val corpus = Ingest.json(spark, dir, "content").collect().sortBy(_.doc_id)
    assert(corpus.map(_.doc_id).toSeq == Seq(0L, 1L, 2L))
    assert(corpus.map(_.content).toSet ==
      Set("alpha beta gamma", "delta epsilon", "alpha zeta"))
    corpus.foreach(c => assert(c.sha256 == Synth.sha256Hex(c.content)))
    // deterministic across re-reads
    val again = Ingest.json(spark, dir, "content").collect().sortBy(_.doc_id)
    assert(corpus.map(c => (c.doc_id, c.sha256)).toSeq ==
      again.map(c => (c.doc_id, c.sha256)).toSeq)
  }

  test("directory refresh indexes only NEW files and extends doc_ids (reference re-Regist)") {
    val data = tmpDir("refresh_data")
    val idx = tmpDir("refresh_idx")
    def writeFile(name: String, words: Seq[String]): Unit =
      java.nio.file.Files.write(java.nio.file.Paths.get(s"$data/$name"),
        words.map(w => s"""{"content": "$w shared corpus"}""").mkString("\n").getBytes("UTF-8"))
    writeFile("a.json", Seq("alpha", "beta"))
    writeFile("b.json", Seq("gamma"))
    val (f1, d1) = Ingest.refreshJson(spark, idx, data, "content", cfg)
    assert(f1 == 2 && d1 == 3)
    // no new files -> no-op
    assert(Ingest.refreshJson(spark, idx, data, "content", cfg) == ((0, 0L)))
    // add a file -> only it is ingested; ids continue past the old corpus
    writeFile("c.json", Seq("delta", "epsilon"))
    val (f2, d2) = Ingest.refreshJson(spark, idx, data, "content", cfg)
    assert(f2 == 1 && d2 == 2)
    val ids = spark.read.parquet(IndexBuild.docStatsDir(idx))
      .select($"doc_id").as[Long].collect().sorted.toSeq
    assert(ids == (0L until 5L))
    // every doc findable through the merged index
    val idx2 = new Bm25Index(spark, idx)
    for ((w, expected) <- Seq("alpha" -> 1, "gamma" -> 1, "epsilon" -> 1, "shared" -> 5))
      assert(idx2.topKOr(w, 10).count() == expected, s"term $w")
  }

  test("repeated refreshes: bounded generation count via auto-compaction, queries stay exact") {
    val data = tmpDir("refresh_many")
    val idx = tmpDir("refresh_many_idx")
    val tight = cfg.copy(numBatches = 1, maxGenerations = 2)
    def writeFile(name: String, words: Seq[String]): Unit =
      java.nio.file.Files.write(java.nio.file.Paths.get(s"$data/$name"),
        words.map(w => s"""{"content": "$w shared corpus"}""").mkString("\n").getBytes("UTF-8"))
    writeFile("f0.json", Seq("w0a", "w0b"))
    Ingest.refreshJson(spark, idx, data, "content", tight)
    for (i <- 1 to 5) {
      writeFile(s"f$i.json", Seq(s"w${i}a", s"w${i}b"))
      Ingest.refreshJson(spark, idx, data, "content", tight)
      // the policy folds the tail whenever count exceeds maxGenerations,
      // so it never stays above maxGenerations + 1 after a refresh
      val gens = IndexBuild.generations(spark, idx)
      assert(gens.size <= tight.maxGenerations + 1, s"after refresh $i: $gens")
    }
    val bm = new Bm25Index(spark, idx)
    for (i <- 0 to 5)
      assert(bm.topKOr(s"w${i}a", 5).count() == 1, s"term w${i}a")
    assert(bm.topKOr("shared", 20).count() == 12)
    // doc ids stayed dense across refreshes
    val ids = spark.read.parquet(IndexBuild.docStatsDir(idx))
      .select($"doc_id").as[Long].collect().sorted.toSeq
    assert(ids == (0L until 12L))
  }

  test("STREAMING index maintenance: each micro-batch becomes a sealed generation; restart ingests only new files") {
    val data = tmpDir("stream_ing")
    val idx = tmpDir("stream_ing_idx")
    val ckpt = tmpDir("stream_ing_ckpt")
    def writeFile(name: String, words: Seq[String]): Unit =
      java.nio.file.Files.write(java.nio.file.Paths.get(s"$data/$name"),
        words.map(w => s"""{"content": "$w streamed corpus"}""").mkString("\n").getBytes("UTF-8"))
    writeFile("s0.json", Seq("sw0a", "sw0b"))
    writeFile("s1.json", Seq("sw1a"))
    // maxFilesPerTrigger=1 -> each file is its own micro-batch/generation
    Ingest.streamJson(spark, idx, data, "content", ckpt, cfg.copy(numBatches = 1))
    assert(IndexBuild.generations(spark, idx).size == 2)
    val bm1 = new Bm25Index(spark, idx)
    assert(bm1.topKOr("sw0a", 5).count() == 1)
    assert(bm1.topKOr("sw1a", 5).count() == 1)
    assert(bm1.topKOr("streamed", 10).count() == 3)
    // restart with one NEW file: the checkpoint skips processed files, the
    // new epoch lands in the next monotone slot
    writeFile("s2.json", Seq("sw2a", "sw2b"))
    Ingest.streamJson(spark, idx, data, "content", ckpt, cfg.copy(numBatches = 1))
    val bm2 = new Bm25Index(spark, idx)
    assert(bm2.topKOr("sw2a", 5).count() == 1)
    assert(bm2.topKOr("streamed", 10).count() == 5)
    // ids stayed dense across micro-batches and restarts
    val ids = spark.read.parquet(IndexBuild.docStatsDir(idx))
      .select($"doc_id").as[Long].collect().sorted.toSeq
    assert(ids == (0L until 5L))
    // a full compaction over streamed generations is still exact; with
    // reclaim deferred the folded inputs survive on disk (readers keep
    // their files) until an explicit vacuum
    IndexBuild.remerge(spark, idx, cfg, reclaim = false)
    assert(IndexBuild.generations(spark, idx).size == 1)
    assert(new Bm25Index(spark, idx).topKOr("streamed", 10).count() == 5)
    assert(IndexBuild.vacuum(spark, idx) >= 2)
    assert(IndexBuild.vacuum(spark, idx) == 0)   // idempotent
    assert(new Bm25Index(spark, idx).topKOr("streamed", 10).count() == 5)
  }

  test("STREAMING CSV ingest mirrors JSON (streamCsv), including crash replay") {
    val data = tmpDir("stream_csv")
    val idx = tmpDir("stream_csv_idx")
    val ckpt = tmpDir("stream_csv_ckpt")
    def writeFile(name: String, words: Seq[String]): Unit =
      java.nio.file.Files.write(java.nio.file.Paths.get(s"$data/$name"),
        ("content" +: words.map(w => s"$w csvstreamed corpus")).mkString("\n")
          .getBytes("UTF-8"))
    writeFile("c0.csv", Seq("cw0a", "cw0b"))
    writeFile("c1.csv", Seq("cw1a"))
    Ingest.streamCsv(spark, idx, data, "content", ckpt, cfg.copy(numBatches = 1))
    assert(IndexBuild.generations(spark, idx).size == 2)
    val bm1 = new Bm25Index(spark, idx)
    assert(bm1.topKOr("cw0a", 5).count() == 1)
    assert(bm1.topKOr("csvstreamed", 10).count() == 3)
    // crash replay: drop the last commit-log entry (and its checksum
    // sidecar) so the restart re-delivers the epoch — the recorded slot +
    // _SUCCESS gates must skip it, never double-ingest
    val commits = new java.io.File(s"$ckpt/commits").listFiles()
      .filter(_.getName.forall(_.isDigit)).sortBy(_.getName.toInt)
    val last = commits.last
    new java.io.File(last.getParent, s".${last.getName}.crc").delete()
    assert(last.delete())
    Ingest.streamCsv(spark, idx, data, "content", ckpt, cfg.copy(numBatches = 1))
    val bm2 = new Bm25Index(spark, idx)
    assert(bm2.topKOr("csvstreamed", 10).count() == 3)
    val ids = spark.read.parquet(IndexBuild.docStatsDir(idx))
      .select($"doc_id").as[Long].collect().sorted.toSeq
    assert(ids == (0L until 3L))
  }

  test("a CUSTOM registered ContentDecoder refreshes through the same machinery") {
    // the reference's extension point (per-extension Decoder registry,
    // /root/reference/util.go:240-255): a new on-disk format is a
    // registration, not an engine edit — here, plain text lines where the
    // whole line is the content
    object TextLines extends vfsidx.corpus.ContentDecoder {
      val name = "textlines"
      val extensions = Seq(".txt")
      def read(s: org.apache.spark.sql.SparkSession, files: Seq[String]) =
        s.read.text(files.toIndexedSeq: _*).withColumnRenamed("value", "content")
      def inferSchema(s: org.apache.spark.sql.SparkSession, dir: String) =
        new org.apache.spark.sql.types.StructType()
          .add("content", org.apache.spark.sql.types.StringType)
      def readStream(s: org.apache.spark.sql.SparkSession,
                     schema: org.apache.spark.sql.types.StructType,
                     dir: String, maxFilesPerTrigger: Int) =
        s.readStream.schema(schema).option("maxFilesPerTrigger", maxFilesPerTrigger)
          .text(dir).withColumnRenamed("value", "content")
    }
    vfsidx.corpus.ContentDecoder.register(TextLines)
    val data = tmpDir("txt_data")
    val idx = tmpDir("txt_idx")
    def writeFile(name: String, words: Seq[String]): Unit =
      java.nio.file.Files.write(java.nio.file.Paths.get(s"$data/$name"),
        words.map(w => s"$w textline corpus").mkString("\n").getBytes("UTF-8"))
    writeFile("t0.txt", Seq("tw0a", "tw0b"))
    assert(Ingest.refresh(spark, idx, data, "content", "textlines",
      cfg.copy(numBatches = 1)) == ((1, 2L)))
    // second refresh ingests ONLY the new file — dirty detection is
    // format-agnostic
    writeFile("t1.txt", Seq("tw1a"))
    assert(Ingest.refresh(spark, idx, data, "content", "textlines",
      cfg.copy(numBatches = 1)) == ((1, 1L)))
    val bm = new Bm25Index(spark, idx)
    assert(bm.topKOr("tw1a", 5).count() == 1)
    assert(bm.topKOr("textline", 10).count() == 3)
    // an unregistered format is a loud error naming what IS registered
    val e = intercept[IllegalArgumentException](
      Ingest.refresh(spark, idx, data, "content", "protobuf", cfg))
    assert(e.getMessage.contains("textlines"))
  }

  /** One generational index kind, as the REPLAYED-epoch scenario drives
    * it: `slotDir` is the dir whose mkdir reserves a slot, `ingest` seals
    * docs [lo, hi) at a slot, `compact` is the kind's tiered policy with
    * maxGenerations = 2, `foldAll` its full compaction, and `finds` asks
    * the index for a doc of the replayed epoch. */
  private case class IndexKind(
      slotDir: (String, Int) => String,
      ingest: (String, Int, Long, Long) => Unit,
      generations: String => Seq[(Int, Int)],
      compact: String => Boolean,
      foldAll: String => Unit,
      finds: String => Boolean)

  private def slice(lo: Long, hi: Long) =
    Synth.corpus(spark, hi, partitions = 2).filter($"doc_id" >= lo)

  private val wordKind = {
    val tight = cfg.copy(numBatches = 1, maxGenerations = 2)
    IndexKind(IndexBuild.runsDir,
      (idx, i, lo, hi) => IndexBuild.ingestBatch(spark,
        slice(lo, hi).as[vfsidx.corpus.SourceFile], idx, batchId = i, tight),
      IndexBuild.generations(spark, _),
      IndexBuild.compactTiered(spark, _, tight),
      IndexBuild.remerge(spark, _, tight),
      // the replayed docs are queryable
      idx => new Bm25Index(spark, idx).topKOr("needle_220", 5).count() == 1)
  }

  private val trigramKind = {
    val tri = TrigramIndex.TriConfig(numBuckets = 4, saltThreshold = 150, shardSize = 128,
      maxGenerations = 2)
    IndexKind(TrigramIndex.runsBatchDir,
      (d, i, lo, hi) => TrigramIndex.ingestBatch(spark, slice(lo, hi).toDF(),
        "doc_id", "content", d, batchId = i, tri),
      TrigramIndex.generations(spark, _),
      TrigramIndex.compactTiered(spark, _, tri),
      TrigramIndex.remerge(spark, _, tri),
      d => TrigramIndex.searchCandidates(spark, d, "needle_220")
        .as[Long].collect().contains(220L))
  }

  private val numericKind =
    IndexKind((root, b) => NumericIndex.dataGenDir(root, "n", b, b),
      (root, i, lo, hi) => NumericIndex.ingestBatch(spark,
        slice(lo, hi).withColumn("n", $"doc_id" * 3), "doc_id", "n", root, batchId = i),
      NumericIndex.generations(spark, _, "n"),
      NumericIndex.compactTiered(spark, _, "n", maxGenerations = 2),
      // no public remerge: the tiered policy with a bound of 1 folds every
      // contiguous group down to one generation
      root => while (NumericIndex.compactTiered(spark, root, "n", maxGenerations = 1)) (),
      root => NumericIndex.point(spark, root, "n", 660L).as[Long].collect().toSeq == Seq(220L))

  /** A streaming epoch reserves its slot (mkdir) BEFORE recording it in the
    * checkpoint; if it crashes there, later compactions must not commit a
    * generation range spanning that slot — else the replayed epoch's
    * gen=slot_slot would be hidden by containment and vacuumed (silent
    * data loss). Simulate: gens 0,1, reserved slot 2, gens 3,4,5. */
  private def replayedEpochNeverBuried(k: IndexKind, dir: String): Unit = {
    k.ingest(dir, 0, 0, 40); k.ingest(dir, 1, 40, 80)
    // epoch reserves slot 2 and crashes before ingesting anything
    new java.io.File(k.slotDir(dir, 2)).mkdirs()
    k.ingest(dir, 3, 80, 120); k.ingest(dir, 4, 120, 160); k.ingest(dir, 5, 160, 200)
    assert(k.generations(dir) == Seq((0, 0), (1, 1), (3, 3), (4, 4), (5, 5)))
    // compaction (any number of rounds) must never produce a gen spanning 2
    var folded = true
    while (folded) folded = k.compact(dir)
    k.foldAll(dir)
    val gens = k.generations(dir)
    assert(gens.forall { case (l, h) => h < 2 || l > 2 }, s"a gen spans slot 2: $gens")
    // the epoch replays: its generation seals at slot 2 and SURVIVES
    k.ingest(dir, 2, 200, 240)
    assert(k.generations(dir).contains((2, 2)))
    assert(k.finds(dir))
    // with the gap closed, full compaction folds to ONE generation
    k.foldAll(dir)
    assert(k.generations(dir) == Seq((0, 5)))
    assert(k.finds(dir))
  }

  test("REPLAYED stream epoch is never buried: folds refuse to span a reserved slot") {
    replayedEpochNeverBuried(wordKind, tmpDir("buried_idx"))
  }

  test("REPLAYED stream epoch is never buried (trigram index)") {
    replayedEpochNeverBuried(trigramKind, tmpDir("buried_tri"))
  }

  test("REPLAYED stream epoch is never buried (numeric index)") {
    replayedEpochNeverBuried(numericKind, tmpDir("buried_num"))
  }

  test("SIZE-TIERED compaction: per-fold shuffled postings stay bounded by the tier, not the total") {
    val data = tmpDir("tier_data")
    val idx = tmpDir("tier_idx")
    val tight = cfg.copy(numBatches = 1, maxGenerations = 3, tierFanout = 3)
    def writeFile(name: String, n: Int): Unit =
      java.nio.file.Files.write(java.nio.file.Paths.get(s"$data/$name"),
        (0 until n).map(j => s"""{"content": "${name.stripSuffix(".json")}w$j shared tier corpus"}""")
          .mkString("\n").getBytes("UTF-8"))
    // large base, then 12 same-sized small refreshes
    writeFile("base.json", 200)
    Ingest.refreshJson(spark, idx, data, "content", tight)
    for (i <- 1 to 12) {
      writeFile(s"f$i.json", 10)
      Ingest.refreshJson(spark, idx, data, "content", tight)
      assert(IndexBuild.generations(spark, idx).size <= tight.maxGenerations + 1)
    }
    // lineage audit: the base generation is NEVER re-folded (no gen range
    // starts at 0 except the base itself), every fold shuffles strictly
    // less than the base, and the majority of folds are small-tier — the
    // bounded-amortized-work signature of size-tiering (the old policy
    // refolded the WHOLE tail every time)
    val lin = spark.read.parquet(IndexBuild.lineageDir(idx))
      .filter($"stage" === "segments").as[LineageRow].collect()
    val byGen = lin.groupBy(_.gen).map { case (g, rs) => g -> rs.map(_.n_postings).sum }
    val basePost = byGen("0_0")
    assert(byGen.keys.forall(g => g == "0_0" || !g.startsWith("0_")),
      s"the base generation was re-folded: ${byGen.keys}")
    // folds = multi-batch gens other than the base (single-batch gens are
    // the refreshes' own ingest generations)
    val folds = byGen.collect {
      case (g, p) if g != "0_0" && g.split('_') (0) != g.split('_') (1) => p
    }.toSeq
    assert(folds.nonEmpty)
    assert(folds.forall(_ < basePost), s"a fold re-shuffled base volume: $byGen")
    assert(folds.count(_ <= basePost / 4) * 2 >= folds.size,
      s"folds are not tier-bounded: $byGen")
    // correctness after all that folding
    val bm = new Bm25Index(spark, idx)
    assert(bm.topKOr("f7w3", 5).count() == 1)
    assert(bm.topKOr("shared", 500).count() == 320)
  }

  test("maxFoldDocs caps the fold window: oversized cheapest window is skipped, query answers") {
    // pickTieredWindow unit behavior: cap below the cheapest pair -> None;
    // cap mid-growth -> growth stops at the bound instead of reaching fanout
    val gens = Seq((0, 0), (1, 1), (2, 2), (3, 3))
    val sizes = Map((0, 0) -> 1000L, (1, 1) -> 10L, (2, 2) -> 10L, (3, 3) -> 10L)
    val groups = Generations.contiguousGroups(gens)
    assert(Generations.pickTieredWindow(groups, sizes, 4) ==
      Some(Seq((1, 1), (2, 2), (3, 3))))
    assert(Generations.pickTieredWindow(groups, sizes, 4, maxDocs = 25L) ==
      Some(Seq((1, 1), (2, 2))))
    assert(Generations.pickTieredWindow(groups, sizes, 4, maxDocs = 15L) == None)

    // integration: a merge-on-search fold with a too-small cap leaves the
    // generation count unchanged and the query still answers exactly
    val dir = tmpDir("foldcap_idx")
    val tiny = cfg.copy(numBatches = 1, maxGenerations = 1, tierFanout = 4)
    val docs = Synth.corpus(spark, 90, partitions = 2).cache()
    IndexBuild.build(spark, docs.filter($"doc_id" < 30).as[vfsidx.corpus.SourceFile],
      dir, tiny)
    for (b <- 1 to 2)
      IndexBuild.ingestBatch(spark,
        docs.filter($"doc_id" >= b * 30 && $"doc_id" < (b + 1) * 30)
          .as[vfsidx.corpus.SourceFile], dir, b, tiny)
    assert(IndexBuild.generations(spark, dir).size == 3)
    // capped below the cheapest pair (30+30 docs): no fold happens
    assert(!IndexBuild.compactTiered(spark, dir, tiny.copy(maxFoldDocs = 59L),
      reclaim = false))
    assert(IndexBuild.generations(spark, dir).size == 3)
    // a Bm25Index with capped merge-on-search still answers over 3 gens
    val bm = new Bm25Index(spark, dir,
      mergeOnSearch = Some(tiny.copy(maxFoldDocs = 59L)))
    assert(bm.topKAnd("needle_42 the", 5).count() == 1)
    assert(IndexBuild.generations(spark, dir).size == 3)
    // raising the cap folds (the pair fits) — same query, fewer generations
    assert(IndexBuild.compactTiered(spark, dir, tiny.copy(maxFoldDocs = 60L),
      reclaim = false))
    assert(IndexBuild.generations(spark, dir).size == 2)
    assert(new Bm25Index(spark, dir).topKAnd("needle_42 the", 5).count() == 1)
  }

  test("stale or truncated refresh intent is cleared, not wedging refreshes") {
    val data = tmpDir("stale_intent_data")
    val idx = tmpDir("stale_intent_idx")
    def writeFile(name: String, words: Seq[String]): Unit =
      java.nio.file.Files.write(java.nio.file.Paths.get(s"$data/$name"),
        words.map(w => s"""{"content": "$w intent corpus"}""").mkString("\n").getBytes("UTF-8"))
    writeFile("a.json", Seq("ia", "ib"))
    assert(Ingest.refreshJson(spark, idx, data, "content", cfg) == ((1, 2L)))
    // truncated intent (only a slot line) — must be treated as stale
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$idx/refresh_intent"),
      "7".getBytes("UTF-8"))
    writeFile("b.json", Seq("ic"))
    assert(Ingest.refreshJson(spark, idx, data, "content", cfg) == ((1, 1L)))
    // empty intent likewise
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$idx/refresh_intent"),
      Array.empty[Byte])
    assert(Ingest.refreshJson(spark, idx, data, "content", cfg) == ((0, 0L)))
    assert(new Bm25Index(spark, idx).topKOr("intent", 10).count() == 3)
  }

  test("crashed refresh (intent left, catalog append lost) recovers exactly-once") {
    val data = tmpDir("wal_data")
    val idx = tmpDir("wal_idx")
    def writeFile(name: String, words: Seq[String]): Unit =
      java.nio.file.Files.write(java.nio.file.Paths.get(s"$data/$name"),
        words.map(w => s"""{"content": "$w wal corpus"}""").mkString("\n").getBytes("UTF-8"))
    writeFile("a.json", Seq("wla", "wlb"))
    assert(Ingest.refreshJson(spark, idx, data, "content", cfg) == ((1, 2L)))
    writeFile("b.json", Seq("wlc"))
    assert(Ingest.refreshJson(spark, idx, data, "content", cfg) == ((1, 1L)))
    // simulate the crash window: batch 1 fully ingested but the catalog
    // append lost — rebuild that state by removing b.json's catalog rows
    // and restoring the intent file the crashed run would have left
    val catRows = spark.read.parquet(Ingest.catalogDir(idx))
      .filter(!$"file_path".contains("b.json"))
      .collect()
    val catDf = spark.createDataFrame(
      spark.sparkContext.parallelize(catRows.toIndexedSeq),
      spark.read.parquet(Ingest.catalogDir(idx)).schema)
    catDf.write.mode("overwrite").parquet(s"$idx/cat_tmp")
    def rmrf(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(rmrf); f.delete()
    }
    rmrf(new java.io.File(Ingest.catalogDir(idx)))
    spark.read.parquet(s"$idx/cat_tmp").write.parquet(Ingest.catalogDir(idx))
    // the intent stores the same fully-qualified form the catalog uses
    // (v2 layout: version, slot, base, per-column slots, files)
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$idx/refresh_intent"),
      s"v2\n1\n2\n-\nfile:$data/b.json".getBytes("UTF-8"))
    // re-run: recovery must re-derive slot 1 / base 2, hit the _SUCCESS
    // gates (no duplicate ingest), and complete the catalog append; the
    // run itself then finds nothing new
    assert(Ingest.refreshJson(spark, idx, data, "content", cfg) == ((0, 0L)))
    assert(IndexBuild.maxRunsBatch(spark, idx) == 1)   // no fresh slot
    val bm = new Bm25Index(spark, idx)
    for ((t, n) <- Seq("wla" -> 1, "wlc" -> 1, "wal" -> 3))
      assert(bm.topKOr(t, 10).count() == n, s"term $t")
    // ids dense, no duplicates
    val ids = spark.read.parquet(IndexBuild.docStatsDir(idx))
      .select($"doc_id").as[Long].collect().sorted.toSeq
    assert(ids == (0L until 3L))
  }

  test("batch refresh AFTER a streaming run allocates non-colliding slots and doc_ids") {
    // two feeds (a batch-refreshed dir, a streamed dir) into ONE index —
    // each flow tracks ITS OWN directory (catalog vs checkpoint); the
    // index-side slot and doc_id allocation must never collide
    val dataA = tmpDir("mix_data_a")
    val dataB = tmpDir("mix_data_b")
    val idx = tmpDir("mix_idx")
    val ckpt = tmpDir("mix_ckpt")
    def writeFile(dir: String, name: String, words: Seq[String]): Unit =
      java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/$name"),
        words.map(w => s"""{"content": "$w mixed corpus"}""").mkString("\n").getBytes("UTF-8"))
    // refresh initiates the index (catalog batch 0, slot 0) ...
    writeFile(dataA, "a.json", Seq("mxa"))
    assert(Ingest.refreshJson(spark, idx, dataA, "content", cfg) == ((1, 1L)))
    // ... a stream ingests its own feed into the next slot (catalog unaware) ...
    writeFile(dataB, "b.json", Seq("mxb", "mxc"))
    Ingest.streamJson(spark, idx, dataB, "content", ckpt, cfg.copy(numBatches = 1))
    val slotsAfterStream = IndexBuild.maxRunsBatch(spark, idx)
    assert(slotsAfterStream == 1)
    // ... and a later batch refresh must skip PAST the stream's slot
    // instead of colliding with it (a collision would silently record the
    // new files as indexed without ever tokenizing them)
    writeFile(dataA, "c.json", Seq("mxd"))
    assert(Ingest.refreshJson(spark, idx, dataA, "content", cfg) == ((1, 1L)))
    assert(IndexBuild.maxRunsBatch(spark, idx) == 2)
    val bm = new Bm25Index(spark, idx)
    for (t <- Seq("mxa", "mxb", "mxc", "mxd"))
      assert(bm.topKOr(t, 5).count() == 1, s"term $t")
    // doc_ids stayed dense across the mixed flows
    val ids = spark.read.parquet(IndexBuild.docStatsDir(idx))
      .select($"doc_id").as[Long].collect().sorted.toSeq
    assert(ids == (0L until 4L))
  }

  test("refresh into a pre-catalog index dir fails fast (no silent data loss)") {
    val data = tmpDir("refresh_guard")
    val idx = tmpDir("refresh_guard_idx")
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$data/a.json"),
      """{"content": "alpha beta"}""".getBytes("UTF-8"))
    // an index built OUTSIDE the refresh flow already occupies runs/batch=0
    IndexBuild.build(spark, Synth.corpus(spark, 50, partitions = 2),
      idx, cfg.copy(numBatches = 1))
    intercept[IllegalStateException] {
      Ingest.refreshJson(spark, idx, data, "content", cfg)
    }
  }

  test("LZ4-compressed JSON-lines ingest transparently (reference S3)") {
    // the reference decompresses .lz4 JSON before indexing
    // (/root/reference/util.go:174-212); Spark's text readers do the same
    // via the Hadoop codec inferred from the file extension.
    val dir = tmpDir("ingest_lz4")
    val codec = new org.apache.hadoop.io.compress.Lz4Codec()
    codec.setConf(spark.sparkContext.hadoopConfiguration)
    val out = codec.createOutputStream(
      new java.io.FileOutputStream(s"$dir/data.json.lz4"))
    val rows = (0 until 40).map(i => s"""{"content": "lzword$i alpha beta"}""")
    out.write(rows.mkString("\n").getBytes("UTF-8"))
    out.close()
    val corpus = Ingest.json(spark, dir, "content").collect().sortBy(_.doc_id)
    assert(corpus.length == 40)
    assert(corpus.map(_.content).toSet == (0 until 40).map(i => s"lzword$i alpha beta").toSet)
  }

  test("CSV directory refresh mirrors the JSON one") {
    val data = tmpDir("refresh_csv")
    val idx = tmpDir("refresh_csv_idx")
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$data/a.csv"),
      "id,content\n1,alpha beta\n2,gamma beta\n".getBytes("UTF-8"))
    assert(Ingest.refreshCsv(spark, idx, data, "content", cfg) == ((1, 2L)))
    assert(Ingest.refreshCsv(spark, idx, data, "content", cfg) == ((0, 0L)))
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$data/b.csv"),
      "id,content\n3,delta beta\n".getBytes("UTF-8"))
    assert(Ingest.refreshCsv(spark, idx, data, "content", cfg) == ((1, 1L)))
    assert(new Bm25Index(spark, idx).topKOr("beta", 10).count() == 3)
  }

  test("CSV ingestion with header sniffing (reference S2)") {
    val dir = tmpDir("ingest_csv")
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/test.1.csv"),
      "id,title,content\n1245676,top,\"alpha beta, quoted\"\n7,second,gamma\n".getBytes("UTF-8"))
    val corpus = Ingest.csv(spark, dir, "content").collect().sortBy(_.doc_id)
    assert(corpus.length == 2)
    assert(corpus.map(_.content).toSet == Set("alpha beta, quoted", "gamma"))
  }

  test("an ingested JSON corpus is end-to-end indexable and queryable") {
    val dir = tmpDir("ingest_e2e")
    val lines = (0 until 60).map(i =>
      s"""{"content": "term$i shared common word${i % 5}"}""")
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/data.json"),
      lines.mkString("\n").getBytes("UTF-8"))
    val corpus = Ingest.json(spark, dir, "content").cache()
    val idxDir = tmpDir("ingest_idx")
    IndexBuild.build(spark, corpus, idxDir, cfg.copy(numBatches = 1))
    val idx = new Bm25Index(spark, idxDir)
    val got = idx.topKOr("term7 shared", 5).as[(Long, Double)].collect().toSeq
    val want = Oracle.topKOr(spark, corpus, "term7 shared", 5)
      .as[(Long, Double)].collect().toSeq
    assert(got == want && got.nonEmpty)
  }
}
