package vfsidx.build

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions.{countDistinct, length}
import scala.collection.mutable.ArrayBuffer
import vfsidx.SparkTestBase
import vfsidx.codec.VarByte
import vfsidx.corpus.{SourceFile, Synth}
import vfsidx.query.{Bm25Index, Oracle, QueryParser, RegexTrigram}
import vfsidx.tokenize.Tokenizer

/** A fold reads the window's segments back, not its runs: a committed
  * generation is the only copy of its postings, its batches' run data is
  * purged, and no dictionary table is written. Folded segment rows must be
  * the rows a build over the same docs writes, block maxima included, and
  * an index written with runs and dictionaries must answer, fold and
  * shrink. */
class FoldSpec extends SparkTestBase {
  import spark.implicits._

  // ---- the codecs' way back: decode + pack ----

  private def fp(r: SegmentRow) = (r.bucket, r.term, r.shard, r.count, r.tf_sum, r.postings.toSeq,
    r.block_first.toSeq, r.block_last.toSeq, r.block_off.toSeq, r.block_max_norm.toSeq)
  private def fp(r: TriSegmentRow) = (r.bucket, r.key, r.shard, r.count, r.postings.toSeq,
    r.block_first.toSeq, r.block_last.toSeq, r.block_off.toSeq)
  private def chunk[K](c: (K, Long, Int, Array[Byte])) = (c._1, c._2, c._3, c._4.toSeq)

  test("rechunk: segment rows decode to the pre_shard chunks they were merged from") {
    val rng = new scala.util.Random(5)
    val ids = (0L until 300L).filter(_ => rng.nextInt(3) > 0).toArray
    val tfs = ids.map(_ => 1 + rng.nextInt(4))
    val dls = ids.map(_ => 5 + rng.nextInt(30))
    val (preShard, salt, shardSize) = (64L, 20L, 8L)
    /** The map side's chunks of one key: one per pre_shard range. */
    def chunks[K](key: K, pack: (Int, Int) => Array[Byte]) = {
      val out = ArrayBuffer.empty[(K, Long, Int, Array[Byte])]
      Spimi.splitByRange(ids, ids.length, preShard)((i, j, ps) => out += ((key, ps, j - i, pack(i, j))))
      out.toList
    }

    val word = new IndexBuild.WordCodec(12.5)
    val wChunks = chunks("t", VarByte.packPostings(ids, tfs, dls, _, _))
    assert(wChunks.size == 5)
    val wRows = Spimi.merge(wChunks.iterator, word, salt, shardSize).toList
    assert(wRows.map(_.shard).distinct.size > 10, "the key splits into doc-range shards")
    // every shard row re-chunks within its pre_shard; merging them again
    // seals the same rows
    val wBack = Spimi.rechunk(wRows.iterator, word, preShard).toList
    assert(wBack.map(_._3).sum == ids.length && wBack.size == wRows.size)
    assert(Spimi.merge(wBack.iterator, word, salt, shardSize).map(fp).toList == wRows.map(fp))
    // one row spanning every pre_shard splits into exactly the map side's
    // chunks, payload bytes included
    val whole = word.encode(0, "t", 0, (ids, tfs, dls), 0, ids.length)
    assert(Spimi.rechunk(Iterator(whole), word, preShard).map(chunk).toList == wChunks.map(chunk))

    val tri = TrigramIndex.TriCodec
    val tChunks = chunks(7L, VarByte.packIds(ids, _, _))
    val tRows = Spimi.merge(tChunks.iterator, tri, salt, shardSize).toList
    assert(tRows.map(_.shard).distinct.size > 10)
    val tBack = Spimi.rechunk(tRows.iterator, tri, preShard).toList
    assert(Spimi.merge(tBack.iterator, tri, salt, shardSize).map(fp).toList == tRows.map(fp))
    val tWhole = tri.encode(0, 7L, 0, ids.clone(), 0, ids.length)
    assert(Spimi.rechunk(Iterator(tWhole), tri, preShard).map(chunk).toList == tChunks.map(chunk))
  }

  // ---- folds == fresh builds ----

  /** 660 docs; those from 400 on repeat their content 2 (to 530) or 3
    * times, so each later generation's avgdl drifts above the base's. */
  private lazy val corpus: Dataset[SourceFile] = {
    val all = Synth.corpus(spark, 660, partitions = 4)
    def times(n: Int)(d: SourceFile) = d.copy(content = Seq.fill(n)(d.content).mkString("\n"))
    all.filter($"doc_id" < 400)
      .union(all.filter($"doc_id" >= 400 && $"doc_id" < 530).map(times(2)))
      .union(all.filter($"doc_id" >= 530).map(times(3)))
      .cache()
  }
  private def docs(lo: Long, hi: Long): Dataset[SourceFile] =
    corpus.filter($"doc_id" >= lo && $"doc_id" < hi)

  /** Every column of every row of one generation's segments, sorted. */
  private def rows(dir: String): Seq[String] =
    spark.read.parquet(dir).collect().map(_.toSeq.map {
      case b: Array[Byte] => b.mkString(",")
      case s: scala.collection.Seq[_] => s.mkString("[", ",", "]")
      case x => String.valueOf(x)
    }.mkString("|")).toSeq.sorted

  private def isEmptyDir(dir: String): Boolean = {
    val f = new java.io.File(dir)
    f.isDirectory && f.list().isEmpty
  }

  private val cfg = IndexBuild.BuildConfig(numBatches = 2, numBuckets = 4, saltThreshold = 60,
    shardSize = 32, maxGenerations = 2)

  /** BM25 OR/AND and count/first/last on `dir` with the cost-gate floor at
    * 0 and at its default equal the brute force over `docs`. */
  private def checkBm25(dir: String, docs: Dataset[SourceFile]): Unit = {
    def hits(df: DataFrame) = df.as[(Long, Double)].collect().toSeq
    for (floor <- Seq(0L, Bm25Index.DirectFloor)) {
      val idx = new Bm25Index(spark, dir, directFloor = floor)
      for (q <- Seq("index merge search the", "int val needle_610", "the")) {
        assert(hits(idx.topKOr(q, 10)) == hits(Oracle.topKOr(spark, docs, q, 10)), s"OR $q @ $floor")
        assert(hits(idx.topKAnd(q, 10)) == hits(Oracle.topKAnd(spark, docs, q, 10)),
          s"AND $q @ $floor")
      }
      for (q <- Seq("index merge the", "return if needle_420")) {
        val terms = Tokenizer.codeTokens(q).distinct
        val all = Oracle.postings(docs).filter($"term".isin(terms: _*)).groupBy($"doc_id")
          .agg(countDistinct($"term").as("n")).filter($"n" === terms.size)
          .select($"doc_id").as[Long].collect()
        val want = (all.length.toLong, all.minOption, all.maxOption)
        val got = idx.countFirstLastAnd(q).collect().head
        assert((got.getLong(0), Option(got.get(1)), Option(got.get(2))) == want, s"count $q @ $floor")
      }
    }
  }

  test("word folds from segments seal a fresh build's rows: salted shards, avgdl drift, 4 buckets") {
    val d = tmpDir("fold_word")
    IndexBuild.build(spark, docs(0, 400), d, cfg)
    IndexBuild.ingestBatch(spark, docs(400, 530), d, 2, cfg)
    IndexBuild.ingestBatch(spark, docs(530, 660), d, 3, cfg)
    // committed generations keep no run data and no dictionary
    (0 to 3).foreach(b => assert(isEmptyDir(IndexBuild.runsDir(d, b)), s"batch=$b"))
    assert(!new java.io.File(s"$d/dictionary").exists())

    // the tiered policy folds the two slices: the rows of one generation
    // sealed from both slices' docs
    assert(IndexBuild.compactTiered(spark, d, cfg))
    assert(IndexBuild.generations(spark, d) == Seq((0, 1), (2, 3)))
    val ref = tmpDir("fold_word_ref")
    assert(IndexBuild.ingestBuckets(260, cfg.numBuckets, cfg.shardSize) == cfg.numBuckets)
    IndexBuild.ingestBatch(spark, docs(400, 660), ref, 0, cfg)
    val folded = rows(IndexBuild.segmentsGenDir(d, 2, 3))
    assert(spark.read.parquet(IndexBuild.segmentsGenDir(d, 2, 3)).filter($"shard" > 0).count() > 0)
    assert(folded == rows(IndexBuild.segmentsGenDir(ref, 0, 0)))
    checkBm25(d, docs(0, 660))

    // fold everything: a fresh build over the union
    IndexBuild.remerge(spark, d, cfg)
    assert(IndexBuild.generations(spark, d) == Seq((0, 3)))
    val fresh = tmpDir("fold_word_fresh")
    IndexBuild.build(spark, docs(0, 660), fresh, cfg)
    assert(rows(IndexBuild.segmentsGenDir(d, 0, 3)) == rows(IndexBuild.segmentsGenDir(fresh, 0, 1)))
    checkBm25(d, docs(0, 660))
  }

  test("trigram folds from segments seal a fresh build's rows") {
    val tri = TrigramIndex.TriConfig(numBuckets = 4, saltThreshold = 60, shardSize = 32,
      maxGenerations = 2)
    def table(lo: Long, hi: Long) = docs(lo, hi).toDF()
    val d = tmpDir("fold_tri")
    TrigramIndex.build(spark, table(0, 400), "doc_id", "content", d, tri)
    TrigramIndex.ingestBatch(spark, table(400, 530), "doc_id", "content", d, 1, tri)
    TrigramIndex.ingestBatch(spark, table(530, 660), "doc_id", "content", d, 2, tri)
    (0 to 2).foreach(b => assert(isEmptyDir(TrigramIndex.runsBatchDir(d, b)), s"batch=$b"))
    assert(!new java.io.File(s"$d/tri_dict").exists())

    assert(TrigramIndex.compactTiered(spark, d, tri))
    assert(TrigramIndex.generations(spark, d) == Seq((0, 0), (1, 2)))
    val ref = tmpDir("fold_tri_ref")
    TrigramIndex.ingestBatch(spark, table(400, 660), "doc_id", "content", ref, 0, tri)
    assert(spark.read.parquet(TrigramIndex.segmentsGenDir(d, 1, 2)).filter($"shard" > 0).count() > 0)
    assert(rows(TrigramIndex.segmentsGenDir(d, 1, 2)) == rows(TrigramIndex.segmentsGenDir(ref, 0, 0)))

    TrigramIndex.remerge(spark, d, tri)
    assert(TrigramIndex.generations(spark, d) == Seq((0, 2)))
    val fresh = tmpDir("fold_tri_fresh")
    TrigramIndex.build(spark, table(0, 660), "doc_id", "content", fresh, tri)
    assert(rows(TrigramIndex.segmentsGenDir(d, 0, 2)) == rows(TrigramIndex.segmentsGenDir(fresh, 0, 0)))
    for (floor <- Seq(0L, TrigramIndex.SearchDirectFloor); needle <- Seq("merge the", "needle_600")) {
      def ids(dir: String) = TrigramIndex.searchCandidates(spark, dir, needle, floor)
        .as[Long].collect().sorted.toSeq
      assert(ids(d) == ids(fresh), s"$needle @ $floor")
    }
  }

  // ---- an index written with runs and dictionaries ----

  test("legacy dictionaries and leftover runs: answers unchanged, folds work, the bytes go") {
    val (d, root) = (tmpDir("legacy_word"), tmpDir("legacy_root"))
    def table(hi: Long) = docs(0, hi).withColumn("size", length($"content"))
      .select($"doc_id", $"content", $"size")
    IndexBuild.build(spark, docs(0, 400), d, cfg)
    IndexBuild.ingestBatch(spark, docs(400, 530), d, 2, cfg)
    QueryParser.buildIndexes(spark, table(400), "doc_id", Seq("content"), Seq("size"), root)
    QueryParser.buildIndexes(spark, table(530), "doc_id", Seq("content"), Seq("size"), root)
    val tri = QueryParser.triDir(root, "content")
    assert(TrigramIndex.generations(spark, tri) == Seq((0, 0), (1, 1)))

    // one answer per query family
    def answers(): Seq[Any] = {
      def hits(df: DataFrame) = df.collect().map(_.toSeq).toSeq
      def ids(df: DataFrame) = df.select($"doc_id").as[Long].collect().sorted.toSeq
      val t = table(530)
      Seq(0L, Bm25Index.DirectFloor).flatMap { floor =>
        val idx = new Bm25Index(spark, d, directFloor = floor)
        Seq(hits(idx.topKOr("index merge search the", 10)),
          hits(idx.topKAnd("index merge the", 10)),
          hits(idx.countFirstLastAnd("index merge the")),
          ids(TrigramIndex.searchCandidates(spark, tri, "merge the", floor)),
          hits(TrigramIndex.nears(spark, tri, "index merge search", 5, prunedFloor = floor)))
      } ++ Seq(
        hits(new Bm25Index(spark, d).dictionary.orderBy($"df".desc, $"term").limit(20)),
        ids(RegexTrigram.searchRegex(spark, tri, t, "doc_id", "content", "merge +the")),
        ids(QueryParser.queryIndexed(spark, t, "doc_id", root,
          """content.search("merge the") && size >= 300 || content.regex("index +int")""")))
    }
    val before = answers()

    // what an index written before runs were purged also holds: a
    // dictionary per generation (these rows are not what the segments say,
    // so any read of them would show) and every batch's committed runs
    Seq("0_1", "2_2").foreach(g =>
      Seq(("the", 1L, 1L)).toDF("term", "df", "tf_sum").write.parquet(s"$d/dictionary/gen=$g"))
    Seq("0_0", "1_1").foreach(g =>
      Seq((7L, 1L)).toDF("key", "df").write.parquet(s"$tri/tri_dict/gen=$g"))
    Seq((0, 0L, 200L), (1, 200L, 400L), (2, 400L, 530L)).foreach { case (b, lo, hi) =>
      IndexBuild.writeRuns(docs(lo, hi), d, b, hi - lo, cfg)
    }
    Seq((0, 0L, 400L), (1, 400L, 530L)).foreach { case (b, lo, hi) =>
      TrigramIndex.writeRuns(docs(lo, hi).toDF(), "doc_id", "content",
        TrigramIndex.runsBatchDir(tri, b), TrigramIndex.TriConfig())
    }
    assert(!isEmptyDir(IndexBuild.runsDir(d, 2)) && !isEmptyDir(TrigramIndex.runsBatchDir(tri, 1)))
    assert(answers() == before)

    // the word index's next fold, and the CLI clean of the regist root,
    // purge the runs and delete the dictionaries
    IndexBuild.remerge(spark, d, cfg, reclaim = false)
    assert(IndexBuild.generations(spark, d) == Seq((0, 2)))
    vfsidx.Main.dispatch(spark, Array("clean", root), "plain", None)
    for ((gone, runs) <- Seq(s"$d/dictionary" -> (0 to 2).map(IndexBuild.runsDir(d, _)),
                             s"$tri/tri_dict" -> (0 to 1).map(TrigramIndex.runsBatchDir(tri, _)))) {
      assert(!new java.io.File(gone).exists(), gone)
      runs.foreach(r => assert(isEmptyDir(r), r))
    }
    assert(TrigramIndex.compactTiered(spark, tri, TrigramIndex.TriConfig(maxGenerations = 1)))
    assert(TrigramIndex.generations(spark, tri) == Seq((0, 1)))
    assert(answers() == before)
  }

  test("steady-state purge lists no runs slot: vacuum listings stay flat over 8 ingest rounds") {
    vfsidx.ListingCounter.register(spark)
    val (word, tri) = (tmpDir("purge_word"), tmpDir("purge_tri"))
    val (wordC, triC) = (vfsidx.ListingCounter.counted(word), vfsidx.ListingCounter.counted(tri))
    val triCfg = TrigramIndex.TriConfig(numBuckets = 2)
    IndexBuild.build(spark, docs(0, 40), wordC, cfg)
    TrigramIndex.build(spark, docs(0, 40).toDF(), "doc_id", "content", triC, triCfg)
    // listings of each index's runs parent, its slots and its generations
    // while it vacuums, after each ingest+vacuum round
    val perRound = (1 to 8).map { k =>
      val slice = docs(40 + 20 * (k - 1), 40 + 20 * k)
      IndexBuild.ingestBatch(spark, slice, wordC, cfg.numBatches + k, cfg)
      TrigramIndex.ingestBatch(spark, slice.toDF(), "doc_id", "content", triC, k, triCfg)
      val dirs = Seq(s"$word/runs", s"$word/segments", s"$tri/tri_runs", s"$tri/tri_segments") ++
        (0 to cfg.numBatches + k).map(IndexBuild.runsDir(word, _)) ++
        (0 to k).map(TrigramIndex.runsBatchDir(tri, _))
      vfsidx.ListingCounter.of(dirs: _*) {
        IndexBuild.vacuum(spark, wordC)
        TrigramIndex.vacuum(spark, triC)
      }.sum
    }
    assert(perRound.distinct.size == 1, s"listings per round: $perRound")
    // a replay of a covered batch purges the run data a cut-short seal
    // left in its slot
    TrigramIndex.writeRuns(docs(40, 60).toDF(), "doc_id", "content",
      TrigramIndex.runsBatchDir(tri, 1), triCfg)
    assert(!isEmptyDir(TrigramIndex.runsBatchDir(tri, 1)))
    TrigramIndex.ingestBatch(spark, docs(40, 60).toDF(), "doc_id", "content", triC, 1, triCfg)
    assert(isEmptyDir(TrigramIndex.runsBatchDir(tri, 1)))
  }
}
