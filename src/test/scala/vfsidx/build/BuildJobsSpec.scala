package vfsidx.build

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.length
import vfsidx.{JobCounter, SparkTestBase}
import vfsidx.corpus.{SourceFile, Synth}

/** The Spark jobs each build-side call issues: the initial build, a
  * one-bucket refresh and a multi-bucket tiered fold, for the word,
  * trigram and numeric indexes over parquet tables (the shape a
  * materialized corpus has); and the job-free row count those builds
  * start from. */
class BuildJobsSpec extends SparkTestBase {
  import spark.implicits._

  /** Docs [from, until) as a parquet table with a derived `size` column. */
  private def table(from: Long, until: Long): DataFrame = {
    val d = s"${tmpDir("jobs_corpus")}/t"
    Synth.corpus(spark, until, partitions = 4).filter($"doc_id" >= from)
      .withColumn("size", length($"content")).write.parquet(d)
    spark.read.parquet(d)
  }

  private def docs(t: DataFrame) = t.drop("size").as[SourceFile]

  test("fastCount: projections over a parquet scan take 0 jobs; a filter or an in-memory source counts") {
    val t = table(0, 300)
    JobCounter.around(spark) { jobs =>
      var got = -1L
      for (ds <- Seq(t, t.drop("size"), t.select($"doc_id", $"content"), docs(t),
             t.select(($"doc_id" + 1).as("x")).select($"x"))) {
        assert(jobs.of { got = IndexBuild.fastCount(ds) } == 0, ds.queryExecution.analyzed)
        assert(got == 300)
      }
      assert(jobs.of { got = IndexBuild.fastCount(t.filter($"doc_id" < 100)) } >= 1)
      assert(got == 100)
      assert(jobs.of { got = IndexBuild.fastCount((0 until 7).toDF("x").select($"x")) } >= 1)
      assert(got == 7)
    }
  }

  test("Spark jobs of build, one-bucket refreshes and a multi-bucket fold, per index kind") {
    val (base, s1, s2) = (table(0, 400), table(400, 450), table(450, 500))
    val cfg = IndexBuild.BuildConfig(numBatches = 2, numBuckets = 4, saltThreshold = 100,
      shardSize = 128, maxGenerations = 2)
    val tri = TrigramIndex.TriConfig(numBuckets = 4, saltThreshold = 100, shardSize = 128,
      maxGenerations = 2)
    val (word, triDir, cols) = (tmpDir("jobs_b_word"), tmpDir("jobs_b_tri"), tmpDir("jobs_b_num"))
    // a 50-doc slice is one bucket for every kind
    assert(IndexBuild.ingestBuckets(50, cfg.numBuckets, cfg.shardSize) == 1)
    val calls: Seq[(String, () => Any)] = Seq(
      "word build" -> (() => IndexBuild.build(spark, docs(base), word, cfg)),
      "word refresh 1" -> (() => IndexBuild.ingestBatch(spark, docs(s1), word, 2, cfg)),
      "word refresh 2" -> (() => IndexBuild.ingestBatch(spark, docs(s2), word, 3, cfg)),
      "word fold" -> (() => assert(IndexBuild.compactTiered(spark, word, cfg))),
      "trigram build" -> (() => TrigramIndex.build(spark, base, "doc_id", "content", triDir, tri)),
      "trigram refresh 1" -> (() =>
        TrigramIndex.ingestBatch(spark, s1, "doc_id", "content", triDir, 1, tri)),
      "trigram refresh 2" -> (() =>
        TrigramIndex.ingestBatch(spark, s2, "doc_id", "content", triDir, 2, tri)),
      "trigram fold" -> (() => assert(TrigramIndex.compactTiered(spark, triDir, tri))),
      "numeric build" -> (() => NumericIndex.build(spark, base, "doc_id", "size", cols, 4)),
      "numeric refresh 1" -> (() =>
        NumericIndex.ingestBatch(spark, s1, "doc_id", "size", cols, 1, 4)),
      "numeric refresh 2" -> (() =>
        NumericIndex.ingestBatch(spark, s2, "doc_id", "size", cols, 2, 4)),
      "numeric fold" -> (() => assert(NumericIndex.compactTiered(spark, cols, "size",
        maxGenerations = 2, numBuckets = 4))))
    val got = JobCounter.around(spark)(jobs => calls.map { case (name, f) => name -> jobs.of(f()) })
    info(got.map { case (n, j) => s"$n: $j" }.mkString(", "))
    // the folds took the two refresh generations
    assert(IndexBuild.generations(spark, word) == Seq((0, 1), (2, 3)))
    assert(TrigramIndex.generations(spark, triDir) == Seq((0, 0), (1, 2)))
    assert(NumericIndex.generations(spark, cols, "size") == Seq((0, 0), (1, 2)))
    // format gates and counts read footers on the driver; the numeric count
    // and max id come off the data write; a one-bucket generation plans no
    // exchange; no dictionary is written (a multi-bucket generation's
    // dictionary aggregate was two jobs, a one-bucket one's one)
    val expected = Seq(
      "word build" -> 7,
      "word refresh 1" -> 5,
      "word refresh 2" -> 5,
      "word fold" -> 5,
      "trigram build" -> 5,
      "trigram refresh 1" -> 4,
      "trigram refresh 2" -> 4,
      "trigram fold" -> 5,
      "numeric build" -> 6,
      "numeric refresh 1" -> 4,
      "numeric refresh 2" -> 4,
      "numeric fold" -> 7)
    assert(got == expected)
  }
}
