package vfsidx.query

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{array_max, col, lit}
import vfsidx.build.TrigramIndex
import vfsidx.codec.VarByte

/** The query mechanics the BM25 and trigram families share: the small-index
  * cost gate, the one-job segment-metadata probe (term statistics, upper
  * bounds, bounded block ranges), the block-skip predicate, the ids-only
  * block decode, and the bounded candidate prefilter. Each exact query path
  * picks between a direct decode and a pruned plan with these; both sides
  * of every gate return the same rows. */
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
    * round-trips (the BM25 θ job; the trigram segment-metadata probe; the
    * nears metadata probe, partials and candidate jobs; the regex presence
    * probe). Term statistics, upper bounds and block ranges all come off
    * one [[termMeta]] job, so the pruned plans cost 1-2 jobs more than the
    * direct ones; decoding ≤4M postings across the cluster is cheaper than
    * that. At production scale the bound dwarfs the floor and the pruned
    * paths engage. */
  val DirectFloor: Long = 4L << 20

  /** Driver-side cap on the block ranges [[termMeta]] keeps for a key set
    * (block metadata is 1/128th of the postings); over it the caller
    * decodes every block. */
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

  /** One key's segment metadata, reduced over its (generation, shard) rows
    * by [[termMeta]] (in each task, then across tasks on the driver):
    * `df` = Σ `count` (a doc lives in one generation and one shard), the
    * max `block_max_norm` (word rows; -∞ for trigram rows), its block
    * count, and its block [first, last] ranges (uncoalesced; empty once
    * `blocks` is over the range cap). */
  private[vfsidx] final class KeyMeta extends Serializable {
    var df = 0L
    var maxNorm = Float.NegativeInfinity
    var blocks = 0L
    val ranges = mutable.ArrayBuffer.empty[(Long, Long)]

    /** Fold in `n` postings over `nBlocks` blocks with block ranges `rs`
      * (a segment row, or another task's reduction). */
    private[Postings] def add(n: Long, norm: Float, nBlocks: Long,
                              rs: => IterableOnce[(Long, Long)], cap: Int): Unit = {
      df += n
      maxNorm = math.max(maxNorm, norm)
      blocks += nBlocks
      if (blocks <= cap) ranges ++= rs else ranges.clear()
    }
  }

  /** The metadata of the present keys of one query, off [[termMeta]]'s one
    * job; keys absent from the index have no entry. */
  private[vfsidx] final class TermMeta[K](val keys: Map[K, KeyMeta], cap: Int) {
    def df: Map[K, Long] = keys.map { case (k, m) => k -> m.df }

    /** The coalesced block ranges of the present keys `ks` — the candidate
      * doc ranges that drive block skipping on the other keys' lists — or
      * None when they hold more than `cap` blocks together (the caller then
      * decodes every block: exact either way, and the driver stays
      * bounded). */
    def ranges(ks: Seq[K]): Option[Array[(Long, Long)]] =
      if (ks.map(keys(_).blocks).sum > cap) None
      else Some(coalesce(ks.flatMap(keys(_).ranges).toArray))
  }

  /** Per-key segment metadata of `keys` in ONE job: df, max block norm,
    * block count and block ranges — everything a query plans with, in place
    * of dictionary, upper-bound and range-collect round-trips. The scan
    * selects `keyCol`, `count`, `block_first`, `block_last` and, when `segs`
    * has it, `array_max(block_max_norm)`; it never reads the `postings`
    * blob. Each task reduces its rows per key and ships at most `cap`
    * ranges per key (none for a key over `cap` in that task); the driver
    * sums the rest and keeps a key's ranges only while its total block
    * count is within `cap`. Without `withRanges` no range is shipped and
    * [[TermMeta.ranges]] is always None. */
  private[vfsidx] def termMeta[K](segs: DataFrame, keyCol: String, keys: Seq[K],
                                  withRanges: Boolean = true,
                                  cap: Int = RangeCap): TermMeta[K] = {
    val c = if (withRanges) cap else -1
    val norm =
      if (segs.columns.contains("block_max_norm")) array_max(col("block_max_norm"))
      else lit(Float.NegativeInfinity)
    val rows = segs.filter(col(keyCol).isin(keys: _*))
      .select(col(keyCol), col("count"), col("block_first"), col("block_last"), norm)
      .rdd
    val reduce = (it: Iterator[Row]) => {
      val acc = mutable.HashMap.empty[Any, KeyMeta]
      it.foreach { r =>
        val (first, last) = (r.getSeq[Long](2), r.getSeq[Long](3))
        acc.getOrElseUpdate(r.get(0), new KeyMeta).add(r.getInt(1), r.getFloat(4), first.size,
          first.iterator.zip(last.iterator), c)
      }
      acc.toArray
    }
    val merged = mutable.HashMap.empty[Any, KeyMeta]
    segs.sparkSession.sparkContext.runJob(rows, reduce, (_: Int, part: Array[(Any, KeyMeta)]) =>
      part.foreach { case (k, m) =>
        merged.getOrElseUpdate(k, new KeyMeta).add(m.df, m.maxNorm, m.blocks, m.ranges, c) })
    new TermMeta(merged.map { case (k, m) => k.asInstanceOf[K] -> m }.toMap, c)
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
