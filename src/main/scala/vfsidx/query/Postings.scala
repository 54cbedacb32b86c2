package vfsidx.query

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions.col
import vfsidx.build.TrigramIndex
import vfsidx.codec.VarByte

/** The query mechanics the BM25 and trigram families share: the small-index
  * cost gate, the bounded rarest-key block-range collect, the block-skip
  * predicate, the ids-only block decode, and the bounded candidate
  * prefilter. Each exact query path picks between a direct decode and a
  * pruned plan with these; both sides of every gate return the same rows. */
object Postings {
  /** Block layout common to word ([[vfsidx.build.SegmentRow]]) and trigram
    * ([[vfsidx.build.TriSegmentRow]]) segment rows: `count` postings split
    * into blocks starting at `block_off`, each spanning the doc ids
    * [`block_first`, `block_last`]. */
  trait Blocks {
    def count: Int
    def postings: Array[Byte]
    def block_first: Array[Long]
    def block_last: Array[Long]
    def block_off: Array[Int]
  }

  /** Small-index cost-gate floor: a query whose postings bound is at or
    * under this decodes outright instead of paying the pruned plan's driver
    * round-trips (BM25 θ, maxUb and ranges jobs; the trigram dictionary
    * probe and ranges collect; the nears df probe, partials and candidate
    * jobs). Decoding ≤4M postings across the cluster is cheaper than those
    * 2-3 jobs. At production scale the bound dwarfs the floor and the
    * pruned paths engage. */
  val DirectFloor: Long = 4L << 20

  /** Driver-side cap on a rarest-key block-range collect (block metadata is
    * 1/128th of the postings); over it the caller decodes every block. */
  private[vfsidx] val RangeCap = 200000

  /** Bounded-collect threshold of [[prefilter]]'s `In`-literal path. */
  val IsinCap = 5000

  /** The small-index cost gate: take the direct decode when `postings`, an
    * upper bound on what the query decodes, is at or under `floor`. */
  private[vfsidx] def direct(postings: Long, floor: Long): Boolean = postings <= floor

  /** Zero-job postings bound for `nKeys` trigram keys: |keys| × n_rows off
    * the token-validated stats cache; Long.MaxValue (never direct) for an
    * index without stats. */
  private[vfsidx] def trigramBound(spark: SparkSession, dir: String, nKeys: Int): Long =
    TrigramIndex.statsMerged(spark, dir).fold(Long.MaxValue)(nKeys.toLong * _.n_rows)

  /** The coalesced block [first, last] ranges of the filtered segment rows
    * `rows` — the candidate doc ranges that drive block skipping on the
    * other keys' lists — or None when there are more than `cap` blocks (the
    * caller then decodes every block: exact either way, and the driver stays
    * bounded). Only `block_first`/`block_last` are selected, so the scan
    * never reads the `postings` blob. One job over every partition (a
    * `limit(cap + 1)` take adds a job for each scale-up round on a
    * multi-file scan); each task ships at most `cap + 1` ranges, and the
    * driver keeps none past the cap. */
  private[vfsidx] def blockRanges(rows: Dataset[_], cap: Int): Option[Array[(Long, Long)]] = {
    import rows.sparkSession.implicits._
    val bounds = rows.select(col("block_first"), col("block_last")).as[(Array[Long], Array[Long])]
    val kept = Array.newBuilder[(Long, Long)]
    var n = 0L
    rows.sparkSession.sparkContext.runJob(bounds.rdd,
      (it: Iterator[(Array[Long], Array[Long])]) =>
        it.flatMap { case (f, l) => f.zip(l) }.take(cap + 1).toArray,
      (_: Int, part: Array[(Long, Long)]) => { n += part.length; if (n <= cap) kept ++= part })
    if (n > cap) None else Some(coalesce(kept.result()))
  }

  /** Which blocks of `s` to decode: every block when `protect` or without
    * `ranges`; otherwise those whose [first, last] overlaps a range. */
  private[vfsidx] def keep(s: Blocks, ranges: Option[Array[(Long, Long)]], protect: Boolean): Int => Boolean =
    if (protect || ranges.isEmpty) All
    else {
      val r = ranges.get
      bi => overlaps(r, s.block_first(bi), s.block_last(bi))
    }

  /** Decode every block. */
  private[vfsidx] val All: Int => Boolean = _ => true

  /** Decode the doc ids of each ids-only block of `s` that `keepBlock`
    * accepts, in posting order. */
  private[vfsidx] def decodeIds(s: Blocks, keepBlock: Int => Boolean)(emit: Long => Unit): Unit = {
    var bi = 0
    while (bi < s.block_off.length) {
      if (keepBlock(bi)) {
        val ids = VarByte.decodeIdsBlock(
          s.postings, s.block_off(bi), VarByte.blockCount(s.count, bi))
        var i = 0
        while (i < ids.length) { emit(ids(i)); i += 1 }
      }
      bi += 1
    }
  }

  /** Rows of `docs` whose `idCol` is among the one-column `doc_id`
    * candidates `cand` — the reference's by-address record fetch
    * (search_finder.go:200-240) for a columnar table. Up to
    * [[IsinCap]] candidates are inlined as an `In` literal, pushed to the
    * parquet scan so a doc_id-ordered table reads only the row groups
    * holding them; larger sets fall back to a distributed semi-join (never
    * collected). */
  private[vfsidx] def prefilter(docs: DataFrame, idCol: String, cand: DataFrame): DataFrame = {
    import cand.sparkSession.implicits._
    val capped = cand.limit(IsinCap + 1).as[Long].collect()
    if (capped.length <= IsinCap) docs.filter(col(idCol).isin(capped.toIndexedSeq: _*))
    else docs.join(cand.withColumnRenamed("doc_id", idCol), idCol)
  }

  /** Sort by start and merge overlapping/nested intervals so the binary
    * search in [[overlaps]] sees disjoint ranges. Ranges pooled from several
    * terms' blocks interleave and nest; searching them un-merged can falsely
    * report "no overlap" (a probe landing inside a wide interval whose
    * neighbors sort after it). Single-term block ranges are already disjoint
    * and sorted, so coalescing is a cheap no-op there. */
  def coalesce(ranges: Array[(Long, Long)]): Array[(Long, Long)] = {
    if (ranges.length <= 1) return ranges
    val sorted = ranges.sortBy(_._1)
    val out = Array.newBuilder[(Long, Long)]
    var (cf, cl) = sorted(0)
    var i = 1
    while (i < sorted.length) {
      val (f, l) = sorted(i)
      if (f <= cl) { if (l > cl) cl = l }
      else { out += ((cf, cl)); cf = f; cl = l }
      i += 1
    }
    out += ((cf, cl))
    out.result()
  }

  /** Does [first,last] overlap any of the sorted DISJOINT candidate ranges?
    * (Callers must [[coalesce]] first.) */
  def overlaps(ranges: Array[(Long, Long)], first: Long, last: Long): Boolean = {
    var lo = 0
    var hi = ranges.length - 1
    while (lo <= hi) {
      val mid = (lo + hi) >>> 1
      val (f, l) = ranges(mid)
      if (l < first) lo = mid + 1
      else if (f > last) hi = mid - 1
      else return true
    }
    false
  }
}
