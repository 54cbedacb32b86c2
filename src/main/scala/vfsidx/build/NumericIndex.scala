package vfsidx.build

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Per-generation statistics for one numeric secondary index, persisted
  * beside the projection so the query planner NEVER runs a counting job:
  *  - `n_rows` answers "what fraction of the table would this candidate set
  *    be" (the projection has one row per covered table row);
  *  - `integral` records whether the source column was an exact integer
  *    type — fractional sources are cast (truncated toward zero) into the
  *    index, so range walks over them must widen strict bounds (see
  *    [[NumericIndex.range]]);
  *  - `quantiles` is a 129-point equi-probability sketch of `value`, the
  *    selectivity estimator standing in for the reference's per-file key
  *    ranges when deciding index-vs-scan;
  *  - `max_doc_id` is the staleness watermark: the highest id this
  *    generation has seen (a table whose max id exceeds every generation's
  *    watermark has rows the index never saw — QueryParser.queryIndexed
  *    then falls back to the scan predicate).
  */
final case class NumStats(n_rows: Long, integral: Boolean,
                          quantiles: Array[Double], max_doc_id: Long)

/** Secondary point/range index for a numeric column on an UNSORTED table —
  * the reference's merged uint64-key segments with [first,last] file pruning
  * (/root/reference/index_file.go:937-1058,1208-1422), re-expressed
  * columnar AND log-structured: per-generation (value, doc_id) projections,
  * each range-partitioned and sorted by value. Parquet row-group min/max
  * statistics on `value` then play the role of the reference's per-file key
  * ranges — a point or range lookup reads only the row groups whose
  * [min,max] intersects the predicate (`.explain` shows the pushed filter;
  * PLANS.md carries the audit).
  *
  * Incremental refresh (the reference's re-`Regist`) appends a generation
  * per ingested batch ([[ingestBatch]]) — O(new data); lookups read the
  * union of the survivor generations (each still pruned); the tiered
  * policy ([[compactTiered]]) folds accumulated small generations. Same
  * generation lifecycle ([[Generations]]) as the word and trigram
  * indexes: `_SUCCESS`-gated commits, containment-rule retirement, deferred
  * vacuum.
  *
  * At 100 TB the projection is a tiny fraction of the table (two int64
  * columns), the single `repartitionByRange` shuffle per generation is the
  * build cost, and every lookup after that is a pruned scan of O(matching
  * row groups) — no full-table scan, no driver-side structure.
  */
object NumericIndex {

  import IndexBuild.TableIO

  def colDir(root: String, col: String) = s"$root/num/$col"
  def dataGenDir(root: String, col: String, lo: Int, hi: Int) =
    s"${colDir(root, col)}/data/gen=${lo}_$hi"
  def statsGenDir(root: String, col: String, lo: Int, hi: Int) =
    s"${colDir(root, col)}/stats/gen=${lo}_$hi"

  /** The numeric index's generation lifecycle ([[Generations]]): it has
    * no runs stage, so its data gen dirs list the generations AND serve as
    * the slots; the stats fold as Σ n_rows / all integral. */
  private def lifecycle(spark: SparkSession, root: String, column: String) =
    new Generations(spark, s"${colDir(root, column)}/data",
      (l, h) => Seq(dataGenDir(root, column, l, h), statsGenDir(root, column, l, h)),
      b => dataGenDir(root, column, b, b), statsGenDir(root, column, _, _),
      Seq("n_rows" -> Generations.Sum, "integral" -> Generations.All),
      _ => ())

  /** Fold seal: re-range-partition the union of the window's projections
    * into one generation (integral only if every input was). */
  private def seal(spark: SparkSession, root: String, column: String,
                   numBuckets: Int): Generations.Seal =
    (win, totals) =>
      buildGeneration(spark,
        spark.read.parquet(win.map { case (l, h) => dataGenDir(root, column, l, h) }: _*),
        totals(1) != 0L, root, column, win.head._1, win.last._2, numBuckets, force = false)

  /** Committed, non-retired generations, sorted ([[Generations]]). */
  def generations(spark: SparkSession, root: String, column: String): Seq[(Int, Int)] =
    lifecycle(spark, root, column).generations

  /** Reclaim retired generations ([[Generations.vacuum]]); returns the count. */
  def vacuum(spark: SparkSession, root: String, column: String): Int =
    lifecycle(spark, root, column).vacuum

  def exists(spark: SparkSession, root: String, column: String): Boolean =
    generations(spark, root, column).nonEmpty

  /** Highest generation slot present on disk (committed or reserved), -1
    * for none; [[reserveSlot]] mkdirs a data gen dir before it is durably
    * recorded. */
  def maxBatch(spark: SparkSession, root: String, column: String): Int =
    lifecycle(spark, root, column).maxBatch

  def reserveSlot(spark: SparkSession, root: String, column: String, batch: Int): Unit =
    lifecycle(spark, root, column).reserveSlot(batch)

  private def isIntegral(dt: DataType): Boolean = dt match {
    case ByteType | ShortType | IntegerType | LongType => true
    case _ => false
  }

  val QuantilePoints = 128

  /** Initial build: one generation (gen=0_0) over the whole table. No-op if
    * any generation is already committed — incremental callers use
    * [[ingestBatch]] for new rows instead. */
  def build(spark: SparkSession, df: DataFrame, idCol: String, numCol: String,
            root: String, numBuckets: Int = 32): Unit =
    if (!exists(spark, root, numCol))
      buildGeneration(spark,
        df.select(col(numCol).cast("long").as("value"), col(idCol).cast("long").as("doc_id")),
        isIntegral(df.schema(numCol).dataType), root, numCol, 0, 0, numBuckets,
        force = false)

  /** Rows per range bucket for a freshly-ingested generation: the
    * projection is two longs per row (~16 B), so 256k rows ≈ 4 MB files. */
  private val IngestRowsPerBucket = 1L << 18

  /** Seal `newRows` as generation `batchId_batchId` — O(new data).
    * `overwrite` bypasses the `_SUCCESS` gates for recovery-style callers
    * that recompute `newRows` freshly per attempt (writes are
    * Overwrite-mode, so this stays idempotent). The generation's bucket
    * count is sized to ITS row count (capped at `numBuckets`): a small
    * re-regist or stream epoch must not fan a tiny projection into 32
    * near-empty parquet files that every later lookup then opens. */
  def ingestBatch(spark: SparkSession, newRows: DataFrame, idCol: String,
                  numCol: String, root: String, batchId: Int,
                  numBuckets: Int = 32, overwrite: Boolean = false): Unit = {
    if (!overwrite && lifecycle(spark, root, numCol).isCommitted(batchId, batchId)) return
    val proj = newRows.select(
      col(numCol).cast("long").as("value"), col(idCol).cast("long").as("doc_id"))
    val buckets = IndexBuild.ingestBuckets(proj.count(), numBuckets, IngestRowsPerBucket)
    buildGeneration(spark, proj,
      isIntegral(newRows.schema(numCol).dataType), root, numCol,
      batchId, batchId, buckets, force = overwrite)
  }

  /** Write one generation from a (value, doc_id) projection: the single
    * range-partitioning shuffle, then stats off the written parquet: one
    * job for the row count and max id, one sketch pass over the tiny
    * projection. */
  private def buildGeneration(spark: SparkSession, proj: DataFrame, integral: Boolean,
                              root: String, col0: String, lo: Int, hi: Int,
                              numBuckets: Int, force: Boolean): Unit = {
    import spark.implicits._
    val out = dataGenDir(root, col0, lo, hi)
    if (force || !TableIO.done(spark, out)) {
      TableIO.write(
        proj.repartitionByRange(numBuckets, col("value"))
          .sortWithinPartitions(col("value"), col("doc_id")), out)
    }
    val stDir = statsGenDir(root, col0, lo, hi)
    if (force || !TableIO.done(spark, stDir)) {
      val written = spark.read.parquet(out)
      val (nRows, maxId) = IndexBuild.countAndMax(written, "doc_id")
      val probs = (0 to QuantilePoints).map(_.toDouble / QuantilePoints).toArray
      val qs =
        if (nRows == 0) Array.empty[Double]
        else written.stat.approxQuantile("value", probs, 0.001)
      TableIO.write(Seq(NumStats(nRows, integral, qs, maxId)).toDF(), stDir)
    }
  }

  /** [[Generations.compactTiered]] with these policy bounds. */
  def compactTiered(spark: SparkSession, root: String, column: String,
                    maxGenerations: Int = 4, tierFanout: Int = 4,
                    numBuckets: Int = 32, reclaim: Boolean = true,
                    maxFoldDocs: Long = Long.MaxValue): Boolean =
    lifecycle(spark, root, column).compactTiered(maxGenerations, tierFanout,
      maxFoldDocs, reclaim)(seal(spark, root, column, numBuckets))

  /** Per-column merged-stats cache (shared token-validated machinery:
    * [[IndexBuild.StatsCache]]): a rebuilt or refreshed index at the same
    * path can never serve stale cached stats — a stale `integral=true`
    * would keep range walks strict on a now-fractional source and silently
    * drop boundary rows. */
  private val statsCache = new IndexBuild.StatsCache[NumStats]

  /** Merged persisted build stats; None while no generation is committed
    * (e.g. a build crash-resumed between the data and stats commits).
    * n_rows and max_doc_id merge additively/by max; quantile sketches merge
    * by n_rows-weighted pooling (an ESTIMATE — only the index-vs-scan gate
    * consumes it); `integral` must hold for every generation. */
  def stats(spark: SparkSession, root: String, column: String): Option[NumStats] = {
    import spark.implicits._
    val gens = generations(spark, root, column)
    if (gens.isEmpty) return None
    val dirs = gens.map { case (l, h) => statsGenDir(root, column, l, h) }
    val key = colDir(root, column)
    Some(statsCache.getOrCompute(key, statsCache.token(spark, dirs)) {
      val rows = spark.read.parquet(dirs: _*).as[NumStats].collect()
      NumStats(
        rows.map(_.n_rows).sum,
        rows.forall(_.integral),
        mergeQuantiles(rows.map(r => (r.n_rows, r.quantiles)).toSeq),
        if (rows.isEmpty) -1L else rows.map(_.max_doc_id).max)
    })
  }

  /** n-weighted pooling of per-generation equi-probability sketches into
    * one (QuantilePoints+1)-point sketch. */
  private[build] def mergeQuantiles(gens: Seq[(Long, Array[Double])]): Array[Double] = {
    val pts = gens.filter { case (n, qs) => n > 0 && qs.nonEmpty }
      .flatMap { case (n, qs) => val w = n.toDouble / qs.length; qs.map((_, w)) }
      .sortBy(_._1)
    if (pts.isEmpty) return Array.empty
    val total = pts.map(_._2).sum
    val cum = pts.scanLeft(0.0)(_ + _._2).tail   // cumulative weight at each point
    (0 to QuantilePoints).map { i =>
      val target = total * i / QuantilePoints
      val j = cum.indexWhere(_ >= target)
      pts(if (j < 0) pts.length - 1 else j)._1
    }.toArray
  }

  /** Estimated fraction of rows with value in the (index-walk, i.e. widened)
    * bounds, from the quantile sketch: the share of equi-probability cut
    * points strictly inside the interval, padded by one sketch step on each
    * side. An ESTIMATE — only used to decide index-vs-scan; exactness comes
    * from re-applying the predicates either way. */
  def estimateFraction(st: NumStats, lo: Option[Long], hi: Option[Long]): Double = {
    if (st.n_rows == 0 || st.quantiles.isEmpty) return 0.0
    val inside = st.quantiles.count(q =>
      lo.forall(q >= _.toDouble) && hi.forall(q <= _.toDouble))
    math.min(1.0, inside.toDouble / st.quantiles.length + 2.0 / st.quantiles.length)
  }

  private def read(spark: SparkSession, root: String, column: String): DataFrame =
    lifecycle(spark, root, column).read(dataGenDir(root, column, _, _))

  /** doc_ids with value == v (reference P2 as an index lookup). Exact even
    * for fractional sources: only x == v.0 truncates to v AND satisfies the
    * re-applied equality. */
  def point(spark: SparkSession, root: String, column: String, v: Long): DataFrame =
    read(spark, root, column).filter(col("value") === v).select(col("doc_id"))

  /** CANDIDATE doc_ids with value in [lo, hi) / (lo, hi] etc. —
    * strict/inclusive per flag (reference P4; its all-inclusive bug
    * consciously fixed, see SURVEY.md §2.2).
    *
    * For a NON-integral source column the stored value is cast("long")
    * (truncated toward zero), so strict bounds on the stored value would
    * silently drop boundary rows (x = 44.5 satisfies `x > 44` but its index
    * value 44 fails `value > 44`). The walk therefore widens strict bounds
    * to inclusive ones — for any real x and integer v, x > v implies
    * trunc(x) >= v and x < v implies trunc(x) <= v — and callers
    * (QueryParser.queryIndexed) re-apply the exact predicate on the
    * original column, restoring row-identical results. Integral sources
    * keep the exact strict walk. */
  def range(spark: SparkSession, root: String, column: String,
            lo: Option[Long], hi: Option[Long],
            loInclusive: Boolean = true, hiInclusive: Boolean = false): DataFrame = {
    // UNKNOWN integrality (stats table absent — e.g. mid-resume) must widen:
    // staying strict on a fractional source silently DROPS boundary rows,
    // while widening only admits candidates the re-applied predicate filters
    val integral = stats(spark, root, column).exists(_.integral)
    var d = read(spark, root, column)
    lo.foreach(v => d = d.filter(
      if (loInclusive || !integral) col("value") >= v else col("value") > v))
    hi.foreach(v => d = d.filter(
      if (hiInclusive || !integral) col("value") <= v else col("value") < v))
    d.select(col("doc_id"))
  }
}
