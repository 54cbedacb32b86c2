package vfsidx.build

import org.apache.spark.sql.types.StructType
import vfsidx.SparkTestBase
import vfsidx.corpus.Synth

/** Index-table reads pin each table's schema instead of inferring it from
  * the parquet footers ([[Generations.Snapshot.read]]). A pinned schema that
  * drifts from its writer would read a renamed or retyped column as nulls
  * without notice, so every pinned schema must equal the schema inferred
  * from a freshly built generation: names, types and order. */
class PinnedSchemaSpec extends SparkTestBase {
  import spark.implicits._

  /** Names and types in order; nullability is not part of the contract
    * (Spark reads every file column as nullable). */
  private def shape(s: StructType): Seq[(String, String)] =
    s.fields.toSeq.map(f => f.name -> f.dataType.catalogString)

  private def assertPinned(table: String, dir: String, pinned: StructType): Unit =
    assert(shape(spark.read.parquet(dir).schema) == shape(pinned), s"table $table at $dir")

  test("every pinned schema equals the inferred schema of a freshly built generation") {
    val docs = Synth.corpus(spark, 300, partitions = 2).cache()
    val (word, tri, num) = (tmpDir("pin_word"), tmpDir("pin_tri"), tmpDir("pin_num"))
    IndexBuild.build(spark, docs, word,
      IndexBuild.BuildConfig(numBatches = 1, numBuckets = 2, saltThreshold = 100, shardSize = 64))
    TrigramIndex.build(spark, docs.toDF(), "doc_id", "content", tri,
      TrigramIndex.TriConfig(numBuckets = 2, saltThreshold = 100, shardSize = 64))
    NumericIndex.build(spark, docs.select($"doc_id", $"doc_id" % 17 as "n"), "doc_id", "n", num,
      numBuckets = 2)
    // a committed generation's runs are purged: write one more batch of each
    IndexBuild.writeRuns(docs, word, 1, 300L, IndexBuild.BuildConfig())
    TrigramIndex.writeRuns(docs.toDF(), "doc_id", "content", TrigramIndex.runsBatchDir(tri, 1),
      TrigramIndex.TriConfig())

    Seq(
      ("runs", IndexBuild.runsDir(word, 1), IndexBuild.RunsSchema),
      ("segments", IndexBuild.segmentsGenDir(word, 0, 0), IndexBuild.SegmentSchema),
      ("stats", IndexBuild.statsGenDir(word, 0, 0), IndexBuild.StatsSchema),
      ("tri_runs", TrigramIndex.runsBatchDir(tri, 1), TrigramIndex.RunsSchema),
      ("tri_segments", TrigramIndex.segmentsGenDir(tri, 0, 0), TrigramIndex.SegmentSchema),
      ("tri_stats", TrigramIndex.statsGenDir(tri, 0, 0), TrigramIndex.StatsSchema),
      ("num data", NumericIndex.dataGenDir(num, "n", 0, 0), NumericIndex.DataSchema),
      ("num stats", NumericIndex.statsGenDir(num, "n", 0, 0), NumericIndex.StatsSchema)
    ).foreach { case (t, d, s) => assertPinned(t, d, s) }
  }
}
