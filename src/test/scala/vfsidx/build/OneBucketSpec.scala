package vfsidx.build

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, hex, md5, monotonically_increasing_id, sum, xxhash64}
import vfsidx.SparkTestBase
import vfsidx.corpus.Synth

/** A one-bucket generation skips the merge exchange (its runs are
  * coalesced into one partition) and the numeric stats come off the data
  * write: neither may change what is written. */
class OneBucketSpec extends SparkTestBase {
  import spark.implicits._

  private def listFiles(dir: String): Seq[String] =
    new java.io.File(dir).listFiles().map(_.getPath).filter(_.endsWith(".parquet")).toSeq

  /** The rows of the only data file under `dir`, in file order. */
  private def oneFile(dir: String): DataFrame = {
    val files = listFiles(dir)
    assert(files.size == 1, s"$dir holds ${files.size} data files")
    spark.read.parquet(files.head).withColumn("pos", monotonically_increasing_id())
  }

  /** Segment rows without `bucket`, the postings as a digest, sorted. */
  private def rows(segs: DataFrame, key: String): Seq[String] =
    segs.select(col(key).cast("string"), $"shard", $"count", md5(hex($"postings")),
        $"block_first".cast("string"), $"block_last".cast("string"), $"block_off".cast("string"))
      .collect().map(_.mkString("|")).toSeq.sorted

  private lazy val corpus = Synth.corpus(spark, 600, partitions = 4).cache()

  test("word and trigram: one bucket seals the 4-bucket rows, in shuffle-key order") {
    val cfg = IndexBuild.BuildConfig(numBatches = 2, saltThreshold = 150, shardSize = 128)
    val (w1, w4) = (tmpDir("one_w1"), tmpDir("one_w4"))
    IndexBuild.build(spark, corpus, w1, cfg.copy(numBuckets = 1))
    IndexBuild.build(spark, corpus, w4, cfg.copy(numBuckets = 4))
    val seg1 = IndexBuild.readSegments(spark, w1)
    assert(seg1.filter($"shard" > 0).count() > 0, "the corpus has salted head terms")
    assert(seg1.filter($"bucket" =!= 0).isEmpty)
    assert(rows(seg1, "term") == rows(IndexBuild.readSegments(spark, w4), "term"))
    def dict(d: String) = new vfsidx.query.Bm25Index(spark, d).dictionary
      .select($"term", $"df", $"tf_sum").as[(String, Long, Long)].collect().sortBy(_._1).toSeq
    assert(dict(w1) == dict(w4))
    // the merge's sort order: (xxhash64(term), pre_shard, term); shards of
    // one term come out ascending
    val order = oneFile(IndexBuild.segmentsGenDir(w1, 0, 1))
      .select(xxhash64($"term"), $"term", $"shard", $"pos")
      .as[(Long, String, Int, Long)].collect().sortBy(_._4).toSeq
    assert(order == order.sortBy(r => (r._1, r._2, r._3)))

    val tri = TrigramIndex.TriConfig(saltThreshold = 150, shardSize = 128)
    val (t1, t4) = (tmpDir("one_t1"), tmpDir("one_t4"))
    TrigramIndex.build(spark, corpus.toDF(), "doc_id", "content", t1, tri.copy(numBuckets = 1))
    TrigramIndex.build(spark, corpus.toDF(), "doc_id", "content", t4, tri.copy(numBuckets = 4))
    val tseg1 = TrigramIndex.snapshot(spark, t1).segments
    assert(tseg1.filter($"shard" > 0).count() > 0)
    assert(tseg1.filter($"bucket" =!= 0).isEmpty)
    assert(rows(tseg1, "key") == rows(TrigramIndex.snapshot(spark, t4).segments, "key"))
    def triDict(d: String) = TrigramIndex.snapshot(spark, d).segments
      .groupBy($"key").agg(sum($"count").cast("long")).as[(Long, Long)].collect().sortBy(_._1).toSeq
    assert(triDict(t1) == triDict(t4))
    val korder = oneFile(TrigramIndex.segmentsGenDir(t1, 0, 0))
      .select($"key", $"shard", $"pos").as[(Long, Int, Long)].collect().sortBy(_._3).toSeq
    assert(korder == korder.sortBy(r => (r._1, r._2)))
  }

  test("numeric: a one-bucket generation is one file sorted by (value, doc_id); " +
    "observed stats equal the written data's; a resumed refresh recomputes them") {
    val t = corpus.select($"doc_id", ($"doc_id" % 37).as("v"))
    val root = tmpDir("one_num")
    def statsOf(l: Int, h: Int): (Long, Long) = spark.read.parquet(
      NumericIndex.statsGenDir(root, "v", l, h)).as[NumStats].collect().toSeq match {
      case Seq(s) => (s.n_rows, s.max_doc_id)
    }
    def written(l: Int, h: Int): (Long, Long) = IndexBuild.countAndMax(
      spark.read.parquet(NumericIndex.dataGenDir(root, "v", l, h)), "doc_id")

    NumericIndex.build(spark, t.filter($"doc_id" < 400), "doc_id", "v", root, numBuckets = 4)
    NumericIndex.ingestBatch(spark, t.filter($"doc_id" >= 400 && $"doc_id" < 500),
      "doc_id", "v", root, 1, numBuckets = 4)
    NumericIndex.ingestBatch(spark, t.filter($"doc_id" >= 500), "doc_id", "v", root, 2,
      numBuckets = 4)
    val pairs = oneFile(NumericIndex.dataGenDir(root, "v", 1, 1))
      .select($"value", $"doc_id", $"pos").as[(Long, Long, Long)].collect().sortBy(_._3)
      .map(r => (r._1, r._2)).toSeq
    assert(pairs.size == 100 && pairs == pairs.sorted)
    val want = Map((0, 0) -> (400L, 399L), (1, 1) -> (100L, 499L), (2, 2) -> (100L, 599L),
      (1, 2) -> (200L, 599L))
    def check(l: Int, h: Int): Unit = {
      assert(statsOf(l, h) == want((l, h)), s"gen=${l}_$h")
      assert(written(l, h) == want((l, h)), s"gen=${l}_$h")
    }
    check(0, 0); check(1, 1); check(2, 2)
    // data committed, stats missing: the resumed refresh reads them back
    val data1 = listFiles(NumericIndex.dataGenDir(root, "v", 1, 1))
    IndexBuild.TableIO.rmrf(spark, NumericIndex.statsGenDir(root, "v", 1, 1))
    NumericIndex.ingestBatch(spark, t.filter($"doc_id" >= 400 && $"doc_id" < 500),
      "doc_id", "v", root, 1, numBuckets = 4)
    assert(listFiles(NumericIndex.dataGenDir(root, "v", 1, 1)) == data1)
    check(1, 1)
    assert(NumericIndex.compactTiered(spark, root, "v", maxGenerations = 2, numBuckets = 4))
    assert(NumericIndex.generations(spark, root, "v") == Seq((0, 0), (1, 2)))
    check(1, 2)
  }
}
