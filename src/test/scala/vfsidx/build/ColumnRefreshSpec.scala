package vfsidx.build

import org.apache.spark.sql.functions._
import vfsidx.SparkTestBase
import vfsidx.corpus.Ingest
import vfsidx.query.QueryParser

/** Per-column (trigram/numeric) index REFRESH — the round-3 verdict's one
  * latent correctness hazard: a `regist`-ed index on a growing table must
  * either be refreshed (re-regist seals only the new rows as a generation)
  * or be detected STALE by queryIndexed (scan fallback), never silently
  * drop rows the index has not seen. */
class ColumnRefreshSpec extends SparkTestBase {
  import spark.implicits._

  private def mkTable(n: Int) =
    (0 until n).map { i =>
      (i.toLong, s"title item$i ${if (i % 3 == 0) "alpha" else "beta"} tail", (i % 40).toLong)
    }.toDF("doc_id", "title", "n")

  private val exprs = Seq(
    """title.search("item12")""",
    """title.search("alpha") && n >= 10 && n < 20""",
    "n == 7",
    """title.search("beta") && n < 5 || title.search("item140")""")

  private def checkIdentical(root: String, df: org.apache.spark.sql.DataFrame): Unit =
    for (e <- exprs) {
      val a = QueryParser.queryIndexed(spark, df, "doc_id", root, e)
        .select($"doc_id").as[Long].collect().sorted.toSeq
      val b = QueryParser.query(df, e)
        .select($"doc_id").as[Long].collect().sorted.toSeq
      assert(a == b, s"expr: $e -> indexed $a vs scan $b")
    }

  test("re-regist on a grown table seals ONLY the new rows; queryIndexed row-identical") {
    val root = tmpDir("colref_root")
    val t0 = mkTable(100).cache()
    val t1 = mkTable(150).cache()
    val triCfg = TrigramIndex.TriConfig(numBuckets = 4, saltThreshold = 100, shardSize = 64)
    QueryParser.buildIndexes(spark, t0, "doc_id", Seq("title"), Seq("n"), root, triCfg)
    assert(TrigramIndex.generations(spark, QueryParser.triDir(root, "title")) == Seq((0, 0)))
    assert(NumericIndex.generations(spark, root, "n") == Seq((0, 0)))
    checkIdentical(root, t0)

    // table grows; re-running regist = the reference's re-Regist refresh
    QueryParser.buildIndexes(spark, t1, "doc_id", Seq("title"), Seq("n"), root, triCfg)
    assert(TrigramIndex.generations(spark, QueryParser.triDir(root, "title")) ==
      Seq((0, 0), (1, 1)))
    assert(NumericIndex.generations(spark, root, "n") == Seq((0, 0), (1, 1)))
    // watermark advanced to the table's max id
    assert(TrigramIndex.statsMerged(spark, QueryParser.triDir(root, "title")).map(_.max_doc_id)
      .contains(149L))
    assert(NumericIndex.stats(spark, root, "n").get.max_doc_id == 149L)
    checkIdentical(root, t1)
    // idempotent: nothing new -> no new generation
    QueryParser.buildIndexes(spark, t1, "doc_id", Seq("title"), Seq("n"), root, triCfg)
    assert(TrigramIndex.generations(spark, QueryParser.triDir(root, "title")).size == 2)
  }

  test("STALE index (table grew, no refresh) falls back to scan - row-identical, never drops rows") {
    val root = tmpDir("colref_stale")
    val t0 = mkTable(100).cache()
    val t1 = mkTable(150).cache()
    QueryParser.buildIndexes(spark, t0, "doc_id", Seq("title"), Seq("n"), root,
      TrigramIndex.TriConfig(numBuckets = 4, saltThreshold = 100, shardSize = 64))
    // the index really is behind the table ...
    assert(TrigramIndex.statsMerged(spark, QueryParser.triDir(root, "title")).map(_.max_doc_id)
      .exists(_ < 149L))
    // ... and item140 lives ONLY in the unseen rows: an un-guarded indexed
    // path would return nothing for it
    checkIdentical(root, t1)
    // the fresh part of the table still answers identically too
    checkIdentical(root, t0)
  }

  test("gap-filling append BELOW the watermark forces a column rebuild on re-regist") {
    val root = tmpDir("colref_gapfill")
    val full = mkTable(150).cache()
    // ids 0..49 and 100..149 first: the index's watermark lands at 149
    val gappy = full.filter($"doc_id" < 50 || $"doc_id" >= 100).cache()
    val triCfg = TrigramIndex.TriConfig(numBuckets = 4, saltThreshold = 100, shardSize = 64)
    QueryParser.buildIndexes(spark, gappy, "doc_id", Seq("title"), Seq("n"), root, triCfg)
    assert(TrigramIndex.statsMerged(spark, QueryParser.triDir(root, "title"))
      .contains(TriStats(100L, 149L)))
    // the gap fills (ids 50..99 appear, all below the covered watermark):
    // a watermark-based refresh can never see them — re-regist must REBUILD
    QueryParser.buildIndexes(spark, full, "doc_id", Seq("title"), Seq("n"), root, triCfg)
    assert(TrigramIndex.statsMerged(spark, QueryParser.triDir(root, "title"))
      .contains(TriStats(150L, 149L)), "trigram column was not rebuilt over the filled gap")
    assert(NumericIndex.stats(spark, root, "n").exists(_.n_rows == 150L),
      "numeric column was not rebuilt over the filled gap")
    // rebuilt = fresh again: indexed answers row-identical, including a
    // needle that lives ONLY in the gap rows
    checkIdentical(root, full)
    assert(QueryParser.queryIndexed(spark, full, "doc_id", root,
      """title.search("item77")""").count() == 1L)
  }

  test("table watermark is cached for file-backed tables; appends invalidate the token") {
    val root = tmpDir("colref_wmcache")
    val tableDir = tmpDir("colref_wmtable")
    mkTable(100).write.mode("overwrite").parquet(tableDir)
    val triCfg = TrigramIndex.TriConfig(numBuckets = 4, saltThreshold = 100, shardSize = 64)
    QueryParser.buildIndexes(spark, spark.read.parquet(tableDir), "doc_id",
      Seq("title"), Seq("n"), root, triCfg)
    def q(): Seq[Long] =
      QueryParser.queryIndexed(spark, spark.read.parquet(tableDir), "doc_id", root,
        """title.search("item12") || n == 7""")
        .select($"doc_id").as[Long].collect().sorted.toSeq
    val r1 = q()
    val runsAfterFirst = QueryParser.TableWatermark.aggRuns.get()
    // second query over the UNCHANGED table: the watermark must come from
    // the token-validated cache — zero additional agg jobs
    assert(q() == r1)
    assert(QueryParser.TableWatermark.aggRuns.get() == runsAfterFirst,
      "a second query over an unchanged table re-ran the watermark agg")
    // the table grows (file listing changes -> token invalidates): the
    // recomputed watermark sees the new rows and the guard degrades the
    // now-stale index to a scan — row-identical, never dropping matches
    mkTable(150).filter($"doc_id" >= 100).write.mode("append").parquet(tableDir)
    val grown = spark.read.parquet(tableDir)
    val expected = QueryParser.query(grown,
      """title.search("item12") || n == 7""")
      .select($"doc_id").as[Long].collect().sorted.toSeq
    val got = QueryParser.queryIndexed(spark, grown, "doc_id", root,
      """title.search("item12") || n == 7""")
      .select($"doc_id").as[Long].collect().sorted.toSeq
    assert(got == expected, "stale-table differential broke after the append")
    assert(QueryParser.TableWatermark.aggRuns.get() > runsAfterFirst,
      "the grown table did not invalidate the watermark cache")
  }

  test("directory refresh (Ingest) keeps registered per-column indexes fresh; bounded generations") {
    val data = tmpDir("colref_data")
    val idx = tmpDir("colref_idx")
    val cfg = IndexBuild.BuildConfig(numBatches = 1, numBuckets = 4,
      saltThreshold = 100, shardSize = 64, maxGenerations = 2)
    def writeFile(name: String, rows: Seq[(String, String, Int)]): Unit =
      java.nio.file.Files.write(java.nio.file.Paths.get(s"$data/$name"),
        rows.map { case (c, t, n) =>
          s"""{"content": "$c", "title": "$t", "n": $n}"""
        }.mkString("\n").getBytes("UTF-8"))
    writeFile("a.json", Seq(("alpha body", "first doc", 5), ("beta body", "second doc", 6)))
    assert(Ingest.refreshJson(spark, idx, data, "content", cfg) == ((1, 2L)))
    // register per-column indexes over the ingested corpus (ids re-derived
    // with the same deterministic assignment the refresh used)
    Ingest.withDocIds(
      spark.read.json(s"$data/a.json").select($"title", $"n"), "doc_id", 0L) {
      (first, _) =>
        TrigramIndex.build(spark, first, "doc_id", "title", s"$idx/tri/title",
          TrigramIndex.TriConfig(numBuckets = 2, saltThreshold = 100, shardSize = 64))
        NumericIndex.build(spark, first, "doc_id", "n", idx, numBuckets = 2)
    }
    assert(Ingest.registeredCols(spark, idx) == ((Seq("title"), Seq("n"))))

    // refresh with new files: word AND per-column indexes advance together
    writeFile("b.json", Seq(("gamma body", "third doc", 7)))
    assert(Ingest.refreshJson(spark, idx, data, "content", cfg) == ((1, 1L)))
    val triD = QueryParser.triDir(idx, "title")
    assert(TrigramIndex.statsMerged(spark, triD).map(_.max_doc_id).contains(2L))
    assert(NumericIndex.stats(spark, idx, "n").get.max_doc_id == 2L)
    // the new doc is findable through BOTH refreshed per-column indexes
    val hit = TrigramIndex.searchCandidates(spark, triD, "third")
      .as[Long].collect().toSeq
    assert(hit == Seq(2L))
    assert(NumericIndex.point(spark, idx, "n", 7L).as[Long].collect().toSeq == Seq(2L))

    // repeated refreshes: per-column generation count stays policy-bounded
    for (i <- 2 to 7) {
      writeFile(s"f$i.json", Seq((s"body$i", s"extra doc$i", 10 + i)))
      Ingest.refreshJson(spark, idx, data, "content", cfg)
      assert(TrigramIndex.generations(spark, triD).size <= cfg.maxGenerations + 1,
        s"after refresh $i")
      assert(NumericIndex.generations(spark, idx, "n").size <= cfg.maxGenerations + 1)
    }
    // everything ingested across all refreshes is still exactly indexed
    for (i <- 2 to 7) {
      assert(TrigramIndex.searchCandidates(spark, triD, s"doc$i").count() == 1L)
      assert(NumericIndex.point(spark, idx, "n", 10L + i).count() == 1L)
    }

    // a file lacking a registered column fails after the intent is durable:
    // its bytes (v2: version, slot, doc base, sorted per-column slots, files)
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$data/g.json"),
      """{"content": "delta body", "title": "no n"}""".getBytes("UTF-8"))
    intercept[IllegalArgumentException](Ingest.refreshJson(spark, idx, data, "content", cfg))
    assert(new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$idx/refresh_intent")), "UTF-8") ==
      s"v2\n8\n9\nnum:n=8,tri:title=8\nfile:$data/g.json")
  }

  test("REPLAYED epoch (crash after ingest, before commit log) re-stamps identical ids") {
    // the exact crash window the recorded-base fix covers: foreachBatch
    // completed (word + per-column generations committed), but the stream
    // died before writing the epoch's commit-log entry — on restart the
    // epoch REPLAYS. docCount now includes the epoch's own docs, so a
    // re-derived base would shift every per-column rewrite by nDocs; the
    // epoch file's recorded base keeps the re-stamp byte-identical.
    val data = tmpDir("replay_data")
    val idx = tmpDir("replay_idx")
    val ckpt = tmpDir("replay_ckpt")
    val cfg = IndexBuild.BuildConfig(numBatches = 1, numBuckets = 2,
      saltThreshold = 100, shardSize = 64)
    def writeFile(name: String, rows: Seq[(String, String, Int)]): Unit =
      java.nio.file.Files.write(java.nio.file.Paths.get(s"$data/$name"),
        rows.map { case (c, t, n) =>
          s"""{"content": "$c", "title": "$t", "n": $n}"""
        }.mkString("\n").getBytes("UTF-8"))
    writeFile("r0.json", Seq(("alpha body", "replay first", 3)))
    Ingest.withDocIds(
      spark.read.json(s"$data/r0.json").select($"title", $"n").limit(0), "doc_id", 0L) {
      (empty, _) =>
        TrigramIndex.build(spark, empty, "doc_id", "title", s"$idx/tri/title",
          TrigramIndex.TriConfig(numBuckets = 2, saltThreshold = 100, shardSize = 64))
        NumericIndex.build(spark, empty, "doc_id", "n", idx, numBuckets = 2)
    }

    Ingest.streamJson(spark, idx, data, "content", ckpt, cfg)
    // simulate the crash window: drop the commit-log entry for the last
    // epoch (offsets survive), so the restart replays it with the SAME files
    val commits = new java.io.File(s"$ckpt/commits").listFiles()
      .filter(_.getName.forall(_.isDigit)).sortBy(_.getName.toInt)
    assert(commits.nonEmpty)
    val crc = new java.io.File(commits.last.getParent, s".${commits.last.getName}.crc")
    assert(commits.last.delete())
    if (crc.exists()) crc.delete()   // stale checksum would break the replay's rename
    writeFile("r1.json", Seq(("beta body", "replay second", 4)))
    Ingest.streamJson(spark, idx, data, "content", ckpt, cfg)

    // no duplicate ids anywhere: corpus ids dense, per-column watermarks
    // advanced exactly once
    val ids = spark.read.parquet(IndexBuild.docStatsDir(idx))
      .select($"doc_id").as[Long].collect().sorted.toSeq
    assert(ids == (0L until 2L))
    val triD = vfsidx.query.QueryParser.triDir(idx, "title")
    assert(TrigramIndex.statsMerged(spark, triD).map(_.max_doc_id).contains(1L))
    assert(TrigramIndex.statsMerged(spark, triD).get.n_rows == 2L)
    assert(TrigramIndex.searchCandidates(spark, triD, "first")
      .as[Long].collect().toSeq == Seq(0L))
    assert(TrigramIndex.searchCandidates(spark, triD, "second")
      .as[Long].collect().toSeq == Seq(1L))
    assert(NumericIndex.point(spark, idx, "n", 3L).as[Long].collect().toSeq == Seq(0L))
    assert(NumericIndex.stats(spark, idx, "n").get.n_rows == 2L)
  }

  test("STREAMING ingest maintains registered per-column indexes per epoch") {
    val data = tmpDir("colref_sdata")
    val idx = tmpDir("colref_sidx")
    val ckpt = tmpDir("colref_sckpt")
    val cfg = IndexBuild.BuildConfig(numBatches = 1, numBuckets = 2,
      saltThreshold = 100, shardSize = 64)
    def writeFile(name: String, rows: Seq[(String, String, Int)]): Unit =
      java.nio.file.Files.write(java.nio.file.Paths.get(s"$data/$name"),
        rows.map { case (c, t, n) =>
          s"""{"content": "$c", "title": "$t", "n": $n}"""
        }.mkString("\n").getBytes("UTF-8"))
    writeFile("s0.json", Seq(("alpha body", "streamed first", 3)))
    // register BEFORE any stream so gen 0 covers the (empty) start
    Ingest.withDocIds(
      spark.read.json(s"$data/s0.json").select($"title", $"n").limit(0), "doc_id", 0L) {
      (empty, _) =>
        TrigramIndex.build(spark, empty, "doc_id", "title", s"$idx/tri/title",
          TrigramIndex.TriConfig(numBuckets = 2, saltThreshold = 100, shardSize = 64))
        NumericIndex.build(spark, empty, "doc_id", "n", idx, numBuckets = 2)
    }

    Ingest.streamJson(spark, idx, data, "content", ckpt, cfg)
    writeFile("s1.json", Seq(("beta body", "streamed second", 4)))
    Ingest.streamJson(spark, idx, data, "content", ckpt, cfg)

    val triD = QueryParser.triDir(idx, "title")
    assert(TrigramIndex.statsMerged(spark, triD).map(_.max_doc_id).contains(1L))
    assert(TrigramIndex.searchCandidates(spark, triD, "second")
      .as[Long].collect().toSeq == Seq(1L))
    assert(NumericIndex.point(spark, idx, "n", 4L).as[Long].collect().toSeq == Seq(1L))
    // the word index advanced in lockstep
    assert(new vfsidx.query.Bm25Index(spark, idx).topKOr("beta", 5).count() == 1)
    // each epoch's durable slot file: word slot, sorted per-column slots, doc base
    def epochFile(e: Int) = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$ckpt/graft_slots/epoch-$e")), "UTF-8")
    assert(epochFile(0) == "0\nnum:n=1,tri:title=1\n0")
    assert(epochFile(1) == "1\nnum:n=2,tri:title=2\n1")
  }

  test("merge-on-search folds per-column generations at query time (reference MergeOnSearch)") {
    val root = tmpDir("colref_mos")
    val triCfg = TrigramIndex.TriConfig(numBuckets = 2, saltThreshold = 100, shardSize = 64)
    val triD = QueryParser.triDir(root, "title")
    // a refresh driver that never compacts: 8 single-batch generations
    for (k <- 0 until 8) {
      val slice = mkTable((k + 1) * 30).filter($"doc_id" >= k * 30)
      TrigramIndex.ingestBatch(spark, slice, "doc_id", "title", triD, k, triCfg)
      NumericIndex.ingestBatch(spark, slice, "doc_id", "n", root, k, numBuckets = 2)
    }
    assert(TrigramIndex.generations(spark, triD).size == 8)
    assert(NumericIndex.generations(spark, root, "n").size == 8)
    val df = mkTable(240).cache()
    def run(e: String): Seq[Long] = {
      val a = QueryParser.queryIndexed(spark, df, "doc_id", root, e,
          mergeOnSearch = Some(triCfg))
        .select($"doc_id").as[Long].collect().sorted.toSeq
      assert(a == QueryParser.query(df, e).select($"doc_id").as[Long]
        .collect().sorted.toSeq, s"expr: $e")
      a
    }
    // a predicate the planner does NOT consult (range fails the
    // selectivity gate: ~10/40 + sketch padding > 0.25) must NOT fold its
    // index — merge-on-search pays a re-shuffle only for candidate sets
    // the query actually reads
    run("""n >= 10 && n < 20""")
    assert(NumericIndex.generations(spark, root, "n").size == 8)
    // a CONSULTED selective RANGE folds one tiered window per touched
    // column; retirees kept on disk for concurrent readers (reclaim
    // deferred to regist / CLI clean)
    run("""title.search("alpha") && n >= 1 && n < 3""")
    val triAfter1 = TrigramIndex.generations(spark, triD).size
    val numAfter1 = NumericIndex.generations(spark, root, "n").size
    assert(triAfter1 < 8 && numAfter1 < 8)
    // a consulted EQUALITY folds again while still above the threshold
    run("""title.search("beta") && n == 7""")
    assert(TrigramIndex.generations(spark, triD).size < triAfter1)
    assert(NumericIndex.generations(spark, root, "n").size < numAfter1)
  }

  test("doc ids are (file rank, row-in-file) — identical under different split configs") {
    // The round-4 advisor's id-alignment hazard: recovery re-stamping ids
    // under CHANGED Spark config (maxPartitionBytes / parallelism) must
    // produce byte-identical ids, or committed word runs and recomputed
    // per-column rewrites silently disagree. withDocIds pins whole-file
    // reads internally, so the assignment is a pure function of
    // (file path rank, row position) regardless of session split settings.
    val data = tmpDir("idstamp_data")
    def writeFile(name: String, rows: Seq[String]): Unit =
      java.nio.file.Files.write(java.nio.file.Paths.get(s"$data/$name"),
        rows.map(r => s"""{"t": "$r"}""").mkString("\n").getBytes("UTF-8"))
    // three files, deliberately written out of lexicographic order and with
    // different sizes so size-ordered split planning would disagree with
    // path-ranked id order
    writeFile("c.json", (0 until 7).map(i => s"cc$i"))
    writeFile("a.json", (0 until 50).map(i => s"aa$i " + ("x" * 200)))
    writeFile("b.json", (0 until 3).map(i => s"bb$i"))
    def stamp(): Seq[(Long, String)] =
      Ingest.withDocIds(spark.read.json(data).select($"t"), "doc_id", 10L) {
        (ids, parts) =>
          // per-file ranges follow sorted path order with dense bases
          assert(parts.map(p => (p.path.split('/').last, p.n_docs)) ==
            Seq(("a.json", 50L), ("b.json", 3L), ("c.json", 7L)))
          assert(parts.map(_.base) == Seq(10L, 60L, 63L))
          ids.select($"doc_id", $"t").as[(Long, String)].collect().sortBy(_._1).toSeq
      }
    val conf = spark.conf
    val prev = conf.get("spark.sql.files.maxPartitionBytes")
    val stamped =
      try { conf.set("spark.sql.files.maxPartitionBytes", "1024"); stamp() }
      finally conf.set("spark.sql.files.maxPartitionBytes", prev)
    val stamped2 =
      try { conf.set("spark.sql.files.maxPartitionBytes", "134217728"); stamp() }
      finally conf.set("spark.sql.files.maxPartitionBytes", prev)
    assert(stamped == stamped2)
    // dense, file-ordered: first row of b.json right after the last of a.json
    assert(stamped.map(_._1) == (10L until 70L))
    assert(stamped.filter(_._2.startsWith("bb")).map(_._1) == Seq(60L, 61L, 62L))
    // the split-pin is restored after the loan
    assert(conf.get("spark.sql.files.maxPartitionBytes") == prev)
  }
}
