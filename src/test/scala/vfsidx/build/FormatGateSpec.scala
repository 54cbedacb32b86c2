package vfsidx.build

import vfsidx.SparkTestBase
import vfsidx.corpus.SourceFile

/** The round-4 on-disk format migration gate: indexes persisted by a
  * pre-chunk-format build (word segments lacking `tf_sum`; runs/tri_runs
  * holding raw posting rows instead of chunks) must be refused UP FRONT
  * with a rebuild instruction — before a query fails deep in an encoder and
  * before a refresh seals new generations into a doomed index. */
class FormatGateSpec extends SparkTestBase {

  import org.apache.spark.sql.SaveMode

  /** Craft a committed word generation WITHOUT the tf_sum segment column —
    * exactly what a pre-chunk-format build left behind. */
  private def writeOldWordIndex(dir: String): Unit = {
    import spark.implicits._
    Seq((0, "the", 0, 2, Array[Byte](1, 1, 5, 1, 1, 7),
      Array(1L), Array(2L), Array(0), Array(1.0f)))
      .toDF("bucket", "term", "shard", "count", "postings",
        "block_first", "block_last", "block_off", "block_max_norm")
      .write.mode(SaveMode.Overwrite).parquet(IndexBuild.segmentsGenDir(dir, 0, 0))
    Seq(("the", 2L, 2L)).toDF("term", "df", "tf_sum")
      .write.mode(SaveMode.Overwrite).parquet(s"$dir/dictionary/gen=0_0")
    Seq(CorpusStats(2L, 2L, 1.0)).toDF()
      .write.mode(SaveMode.Overwrite).parquet(IndexBuild.statsGenDir(dir, 0, 0))
  }

  test("generations() refuses a pre-chunk-format word index loudly") {
    val dir = tmpDir("fmtgate_gen")
    writeOldWordIndex(dir)
    val e = intercept[IllegalArgumentException](IndexBuild.generations(spark, dir))
    assert(e.getMessage.contains("pre-chunk-format"))
    assert(e.getMessage.contains("rebuild"))
  }

  test("ingestBatch refuses a pre-chunk-format index BEFORE sealing anything") {
    import spark.implicits._
    val dir = tmpDir("fmtgate_ingest")
    writeOldWordIndex(dir)
    val docs = Seq(SourceFile(100L, "r", "p", "", "", "new doc text", "aa")).toDS()
    intercept[IllegalArgumentException](
      IndexBuild.ingestBatch(spark, docs, dir, batchId = 5))
    // nothing of the refused batch may exist: the operator rebuilds an index
    // that never ingested the new data, not one that silently swallowed it
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(IndexBuild.runsDir(dir, 5))))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(
      IndexBuild.segmentsGenDir(dir, 5, 5))))
  }

  test("build() resume over pre-chunk-format runs fails per-batch, before any write") {
    import spark.implicits._
    val dir = tmpDir("fmtgate_runs")
    // a committed runs batch in the OLD raw-posting layout
    Seq(Posting("the", 1L, 1, 5), Posting("the", 2L, 1, 7)).toDF()
      .write.mode(SaveMode.Overwrite).parquet(IndexBuild.runsDir(dir, 0))
    val docs = Seq(
      SourceFile(0L, "r", "p0", "", "", "the cat", "h0"),
      SourceFile(1L, "r", "p1", "", "", "the dog", "h1")).toDS()
    val e = intercept[IllegalArgumentException](
      IndexBuild.build(spark, docs, dir,
        IndexBuild.BuildConfig(numBatches = 1, numBuckets = 2)))
    assert(e.getMessage.contains("batch=0") && e.getMessage.contains("pre-chunk-format"))
    // the gate must fire before the generation wrote any table
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(IndexBuild.statsGenDir(dir, 0, 0))))
  }

  test("trigram build resume over pre-chunk-format tri_runs fails before any write") {
    import spark.implicits._
    val dir = tmpDir("fmtgate_tri")
    // old layout: raw (key, doc_id) posting rows
    Seq((7L, 1L), (7L, 2L)).toDF("key", "doc_id")
      .write.mode(SaveMode.Overwrite).parquet(TrigramIndex.runsBatchDir(dir, 0))
    val df = Seq((1L, "abcdef"), (2L, "bcdefg")).toDF("doc_id", "text")
    val e = intercept[IllegalArgumentException](
      TrigramIndex.build(spark, df, "doc_id", "text", dir,
        TrigramIndex.TriConfig(numBuckets = 2)))
    assert(e.getMessage.contains("pre-chunk-format"))
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(TrigramIndex.statsGenDir(dir, 0, 0))))
  }

  test("tri_runs carrying the retired first_doc/last_doc columns seal through the pinned schema") {
    import spark.implicits._
    val df = Seq((1L, "abcdef"), (2L, "bcdefg"), (3L, "xbcdy")).toDF("doc_id", "text")
    val (old, fresh) = (tmpDir("fmt_oldruns"), tmpDir("fmt_newruns"))
    // committed runs in the layout that still wrote each chunk's first and
    // last doc id
    TrigramIndex.chunkPartition(df.as[(Long, String)].collect().iterator.flatMap { case (id, s) =>
      vfsidx.tokenize.Tokenizer.distinctTriKeys(s).map(k => (k, id))
    }, 1L << 20, Spimi.FlushPostings).toSeq.map { case (k, ps, n, bytes) =>
      val ids = new Array[Long](n)
      vfsidx.codec.VarByte.unpackIds(bytes, n, ids, 0)
      (k, ps, ids.head, ids.last, n, bytes)
    }.toDF("key", "pre_shard", "first_doc", "last_doc", "count", "bytes")
      .write.mode(SaveMode.Overwrite).parquet(TrigramIndex.runsBatchDir(old, 0))
    val cfg = TrigramIndex.TriConfig(numBuckets = 2)
    Seq(old, fresh).foreach(TrigramIndex.build(spark, df, "doc_id", "text", _, cfg))
    def cands(d: String) =
      TrigramIndex.searchCandidates(spark, d, "bcd").as[Long].collect().sorted.toSeq
    assert(cands(old) == Seq(1L, 2L, 3L) && cands(fresh) == cands(old))
  }
}
