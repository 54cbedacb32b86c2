package vfsidx.query

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.Partitioner
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.rdd.{RDD, ShuffledRDD}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions.{array_max, col, lit}
import org.apache.spark.sql.types.{DoubleType, LongType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String
import vfsidx.build.{IndexBuild, TrigramIndex}
import vfsidx.codec.VarByte

/** The query mechanics the BM25 and trigram families share: the small-index
  * cost gate, the one-job segment-metadata probe (term statistics, upper
  * bounds, bounded block ranges), the block-skip predicate, the ids-only
  * block decode, the bounded candidate prefilter, and [[perDoc]], the one
  * operator every query family aggregates decoded postings with. Each exact
  * query path picks between a direct decode and a pruned plan with these;
  * both sides of every gate return the same rows.
  *
  * A query's only Catalyst plan is its segment scan ([[scan]]: a pushed `In`
  * filter over pinned-schema segment tables). Everything after the scan
  * (decode, per-doc sum and key set, the all-keys test, top-k,
  * count/min/max, candidate sets and overlaps) runs in [[perDoc]] on plain
  * RDD operations, which generate no code: a query shape compiled once stays
  * compiled, and each result is one Spark job, not one per adaptive stage.
  * The reference merges posting lists in its own code the same way
  * (search_finder.go:120-193). */
object Postings {
  /** Block layout common to word ([[vfsidx.build.SegmentRow]]) and trigram
    * ([[vfsidx.build.TriSegmentRow]]) segment rows, as [[perDoc]] reads it
    * off a [[scan]] row: `count` postings split into blocks starting at
    * `block_off`, each spanning the doc ids [`block_first`, `block_last`]. */
  private final class Blocks(val count: Int, val postings: Array[Byte],
                             val block_first: Array[Long], val block_last: Array[Long],
                             val block_off: Array[Int])

  /** Small-index cost-gate floor: a query whose postings bound is at or
    * under this decodes outright instead of paying the pruned plan's driver
    * round-trips (the BM25 θ job; the trigram segment-metadata probe; the
    * nears metadata probe, partials and candidate jobs; the regex presence
    * probe). Term statistics, upper bounds and block ranges all come off
    * one [[termMeta]] job, so the pruned plans cost 0-1 jobs more than the
    * direct ones, and nears 4 more (`PostingsSpec` pins both); decoding ≤4M
    * postings across the cluster is cheaper than that. At production scale
    * the bound dwarfs the floor and the pruned paths engage. */
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
    * the snapshot's stats (token-validated cache); Long.MaxValue (never
    * direct) for an index without stats. */
  private[vfsidx] def trigramBound(snap: TrigramIndex.Snapshot, nKeys: Int): Long =
    snap.stats.fold(Long.MaxValue)(nKeys.toLong * _.n_rows)

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
  private def keep(s: Blocks, ranges: Option[Array[(Long, Long)]], protect: Boolean): Int => Boolean =
    if (protect || ranges.isEmpty) _ => true
    else {
      val r = ranges.get
      bi => overlaps(r, s.block_first(bi), s.block_last(bi))
    }

  /** Decode the doc ids of each ids-only block of `s` that `keepBlock`
    * accepts, in posting order. */
  private def decodeIds(s: Blocks, keepBlock: Int => Boolean)(emit: Long => Unit): Unit = {
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

  // ---- the posting aggregator ----

  /** The segment scan [[perDoc]] decodes: the rows of `segs` whose `keyCol`
    * is among `keys`, an `In` filter pushed to parquet (segments are written
    * key-sorted, so row groups without a key are skipped), projected to the
    * key and block columns. It is a query's only Catalyst plan; the plan
    * audit of `graft.Measure` reads it through the same accessor. */
  def scan(segs: DataFrame, keyCol: String, keys: Seq[Any]): DataFrame =
    segs.filter(col(keyCol).isin(keys: _*)).select(col(keyCol), col("count"),
      col("postings"), col("block_first"), col("block_last"), col("block_off"))

  /** BM25 posting weights for [[perDoc]]: a posting of query key `i` with
    * term frequency `tf` in a doc of length `dl` weighs
    * `idf(i) · bm25Norm(tf, dl, avgdl)`. */
  private[vfsidx] final case class Bm25(idf: Array[Double], avgdl: Double)

  /** Decoded postings of the query `keys`, aggregated per doc: the sum of
    * their weights ([[Bm25]]; none for ids-only postings) and the set of
    * query keys the doc holds. `scan` is the [[scan]] of `keys`: the one
    * [[segments]] source of an [[aggregate]]. */
  private[vfsidx] def perDoc(scan: DataFrame, keys: Seq[Any], bm25: Option[Bm25] = None,
                             ranges: Option[Array[(Long, Long)]] = None,
                             protect: Set[Int] = Set.empty,
                             within: Option[Broadcast[Array[Long]]] = None): PerDoc =
    aggregate(scan.sparkSession, Seq(segments(scan, keys, 0, bm25, ranges, protect, within)),
      keys.size, bm25.isDefined)

  /** The map side of one [[aggregate]] input: the rows of a Catalyst plan,
    * each folded into its map task's [[DocMap]]. */
  private[query] final class Source(val rows: RDD[InternalRow],
                                    val fold: (InternalRow, DocMap) => Unit)

  /** The rows of `scan` (a [[scan]] of `keys`) as a source: a posting of
    * key `keys(i)` sets bit `offset + i` of its doc and adds its weight.
    *
    * Block skipping: with `within` (sorted doc ids), a block decodes only
    * when a listed doc lies in its [first, last] range and only listed docs
    * count; otherwise every key outside `protect` (key indexes) decodes only
    * the blocks [[keep]] accepts for `ranges`. */
  private[query] def segments(scan: DataFrame, keys: Seq[Any], offset: Int,
                              bm25: Option[Bm25] = None,
                              ranges: Option[Array[(Long, Long)]] = None,
                              protect: Set[Int] = Set.empty,
                              within: Option[Broadcast[Array[Long]]] = None): Source = {
    val index: Map[Any, Int] = keys.zipWithIndex.toMap
    val keyType = scan.schema.head.dataType
    new Source(scan.queryExecution.toRdd, (r, acc) => {
      val ki = index(r.get(0, keyType) match {
        case u: UTF8String => u.toString
        case k => k
      })
      val bit = offset + ki
      val s = new Blocks(r.getInt(1), r.getBinary(2), r.getArray(3).toLongArray(),
        r.getArray(4).toLongArray(), r.getArray(5).toIntArray())
      bm25 match {
        case Some(w) =>
          val idf = w.idf(ki)
          val keepBlock = keep(s, ranges, protect(ki))
          var bi = 0
          while (bi < s.block_off.length) {
            if (keepBlock(bi)) {
              val cnt = VarByte.blockCount(s.count, bi)
              val (ids, tfs, dls) = VarByte.decodeBlock(s.postings, s.block_off(bi), cnt)
              var i = 0
              while (i < cnt) {
                acc.add(ids(i), bit,
                  idf * VarByte.bm25Norm(tfs(i), dls(i), w.avgdl, IndexBuild.K1, IndexBuild.B))
                i += 1
              }
            }
            bi += 1
          }
        case None => within.map(_.value) match {
          case Some(docs) =>
            decodeIds(s, bi => {
              var p = java.util.Arrays.binarySearch(docs, s.block_first(bi))
              if (p < 0) p = -p - 1
              p < docs.length && docs(p) <= s.block_last(bi)
            })(id => if (java.util.Arrays.binarySearch(docs, id) >= 0) acc.add(id, bit, 0.0))
          case None => decodeIds(s, keep(s, ranges, protect(ki)))(acc.add(_, bit, 0.0))
        }
      }
    })
  }

  /** The one-column `doc_id` rows of `ids` as a source: each sets `bit` of
    * its doc. */
  private[query] def docs(ids: DataFrame, bit: Int): Source =
    new Source(ids.queryExecution.toRdd, (r, acc) => acc.add(r.getLong(0), bit, 0.0))

  /** The per-doc aggregate of `sources` over `bits` key bits: one shuffle
    * and merge shared by every source.
    *
    * Each map task folds its rows into a primitive open-addressing table
    * ([[DocMap]]: doc id → sum, key bitmask) and ships one record per
    * reducer, parallel primitive arrays of its docs; never a record per
    * posting. There are `spark.sql.shuffle.partitions` reducers, capped by
    * the sources' partition count. Each reducer merges its records into one
    * table: sums add, key sets union, so a (key, doc) posting present in
    * two generations still counts one key. Nothing runs until a finisher of
    * [[PerDoc]] does; a second finisher re-reads the shuffle output, not
    * the sources. */
  private[query] def aggregate(spark: SparkSession, sources: Seq[Source], bits: Int,
                               weighted: Boolean): PerDoc = {
    val words = (bits + 63) >>> 6
    val reducers = math.max(1, math.min(sources.map(_.rows.getNumPartitions).sum,
      spark.conf.get("spark.sql.shuffle.partitions").toInt))
    val chunks = sources.map { src =>
      val fold = src.fold
      src.rows.mapPartitions { it =>
        val acc = new DocMap(words, weighted)
        it.foreach(fold(_, acc))
        acc.split(reducers)
      }
    }
    val mapped = if (chunks.size == 1) chunks.head else spark.sparkContext.union(chunks)
    new PerDoc(new ShuffledRDD[Int, DocChunk, DocChunk](mapped, new Reducers(reducers))
      .mapPartitions(it => {
        val merged = new DocMap(words, weighted)
        it.foreach(kv => merged.merge(kv._2))
        Iterator.single(merged)
      }))
  }

  /** Spark's `round(x, 9)` on a double, bit for bit: HALF_UP on the
    * shortest decimal form; NaN and infinities pass through. Scores are
    * rounded before ranking so that summation order (doubles are not
    * associative) cannot flip a tie between the engine and the oracle. */
  def round9(d: Double): Double =
    if (d.isNaN || d.isInfinite) d
    else java.math.BigDecimal.valueOf(d).setScale(9, java.math.RoundingMode.HALF_UP).doubleValue()

  /** The key bitmask of the key indexes `keys` among `n` query keys, as
    * [[Doc.holds]] takes it. */
  def mask(n: Int, keys: Iterable[Int]): Array[Long] = {
    val m = new Array[Long]((n + 63) >>> 6)
    keys.foreach(k => m(k >>> 6) |= 1L << (k & 63))
    m
  }

  /** One doc of a [[perDoc]] aggregate, as a finisher sees it: its id, its
    * summed weight and the query keys it holds. The object is reused from
    * doc to doc; read it, never keep it. */
  final class Doc private[Postings] (words: Int) {
    var id = 0L
    var sum = 0.0
    private[Postings] var masks: Array[Long] = _
    private[Postings] var off = 0

    /** How many distinct query keys the doc holds. */
    def keys: Int = {
      var c = 0
      var w = 0
      while (w < words) { c += java.lang.Long.bitCount(masks(off + w)); w += 1 }
      c
    }

    /** Does the doc hold every key of `need` (a [[mask]])? */
    def holds(need: Array[Long]): Boolean = {
      var w = 0
      while (w < words) {
        if ((masks(off + w) & need(w)) != need(w)) return false
        w += 1
      }
      true
    }
  }

  /** The finishers of a [[perDoc]] aggregate. Each is ONE Spark job over
    * the reducers' tables; what a task ships to the driver is bounded by
    * the finisher (k, a cap, or three numbers), never by the postings. */
  final class PerDoc private[Postings] (docs: RDD[DocMap]) {
    private def over[U: scala.reflect.ClassTag](f: Iterator[DocMap] => U): Array[U] =
      docs.sparkContext.runJob(docs, f)

    /** The top `k` docs passing `keep` by (score desc, doc id asc): a bounded
      * heap per task, merged on the driver. */
    def topK(k: Int, keep: Doc => Boolean, score: Doc => Double): Array[(Long, Double)] =
      if (k <= 0) Array.empty
      else top(k, over { it =>
        val heap = new TopK(k)
        it.foreach(_.foreach(d => if (keep(d)) heap.offer(d.id, score(d))))
        heap.result
      }.flatten)

    /** Count, min and max doc id of the docs passing `keep`. */
    def countMinMax(keep: Doc => Boolean): (Long, Option[Long], Option[Long]) = {
      val parts = over { it =>
        var (n, lo, hi) = (0L, Long.MaxValue, Long.MinValue)
        it.foreach(_.foreach(d => if (keep(d)) {
          n += 1; lo = math.min(lo, d.id); hi = math.max(hi, d.id)
        }))
        (n, lo, hi)
      }
      val n = parts.map(_._1).sum
      if (n == 0) (0L, None, None)
      else (n, Some(parts.map(_._2).min), Some(parts.map(_._3).max))
    }

    /** (doc id, `value`) of the docs passing `keep`, or None when there are
      * more than `cap` of them; each task ships at most `cap` + 1. */
    def collect(keep: Doc => Boolean, cap: Int, value: Doc => Long): Option[Array[(Long, Long)]] = {
      val got = over { it =>
        val out = mutable.ArrayBuffer.empty[(Long, Long)]
        it.foreach(_.foreach(d => if (out.length <= cap && keep(d)) out += ((d.id, value(d)))))
        out.toArray
      }.flatten
      if (got.length > cap) None else Some(got)
    }

    /** The one-column `doc_id` candidate set of the docs passing `keep`. At
      * or under [[IsinCap]] ids it is a local DataFrame (Catalyst can
      * broadcast it, and [[prefilter]] reads it without a job); over the cap
      * it is a DataFrame over this aggregate's shuffle output, so the map
      * side does not run again. */
    def ids(spark: SparkSession, keep: Doc => Boolean): DataFrame =
      collect(keep, IsinCap, _ => 0L) match {
        case Some(got) => local(spark, IdSchema, got.map(g => Row(g._1)))
        case None => spark.createDataFrame(docs.mapPartitions { it =>
          val out = mutable.ArrayBuffer.empty[Row]
          it.foreach(_.foreach(d => if (keep(d)) out += Row(d.id)))
          out.iterator
        }, IdSchema)
      }
  }

  /** The `k` best of `rows` by (score desc, doc id asc). */
  private[vfsidx] def top(k: Int, rows: Array[(Long, Double)]): Array[(Long, Double)] =
    rows.sortWith((a, b) => before(a._2, a._1, b._2, b._1)).take(k)

  @inline private def before(s: Double, id: Long, s2: Double, id2: Long): Boolean =
    s > s2 || (s == s2 && id < id2)

  /** Bounded top-k: a heap whose head is the worst kept doc. */
  private final class TopK(k: Int) {
    private val heap = new java.util.PriorityQueue[(Long, Double)](math.min(k, 1024),
      (a: (Long, Double), b: (Long, Double)) =>
        if (before(b._2, b._1, a._2, a._1)) -1 else if (before(a._2, a._1, b._2, b._1)) 1 else 0)

    def offer(id: Long, s: Double): Unit =
      if (heap.size < k) heap.add((id, s))
      else if (before(s, id, heap.peek._2, heap.peek._1)) { heap.poll(); heap.add((id, s)) }

    def result: Array[(Long, Double)] = heap.asScala.toArray
  }

  /** One map task's docs for one reducer: parallel arrays of ids, summed
    * weights (null for ids-only postings) and key bitmasks (`words` longs
    * per doc). */
  private[query] final class DocChunk(val ids: Array[Long], val sums: Array[Double],
                                      val masks: Array[Long]) extends Serializable

  /** Routes each chunk to the reducer its key names. */
  private final class Reducers(n: Int) extends Partitioner {
    def numPartitions: Int = n
    def getPartition(key: Any): Int = key.asInstanceOf[Int]
  }

  /** Primitive open-addressing table doc id → (Σ weight, key bitmask of
    * `words` longs), in the manner of the trigram build's `LongListMap`: a
    * boxed map would allocate per posting. */
  private[query] final class DocMap(words: Int, weighted: Boolean) {
    private var cap = 256
    private var used = new Array[Boolean](cap)
    private var ids = new Array[Long](cap)
    private var sums = if (weighted) new Array[Double](cap) else null
    private var masks = new Array[Long](cap * words)
    private var n = 0

    private def hash(id: Long): Long = scala.util.hashing.byteswap64(id)

    private def slot(id: Long): Int = {
      var i = (hash(id) & (cap - 1)).toInt
      while (used(i) && ids(i) != id) i = (i + 1) & (cap - 1)
      if (!used(i)) {
        if ((n + 1) * 10 > cap * 7) { grow(); return slot(id) }
        used(i) = true; ids(i) = id; n += 1
      }
      i
    }

    private def grow(): Unit = {
      val (ou, oi, os, om) = (used, ids, sums, masks)
      cap <<= 1
      used = new Array[Boolean](cap); ids = new Array[Long](cap)
      sums = if (weighted) new Array[Double](cap) else null
      masks = new Array[Long](cap * words)
      n = 0
      var i = 0
      while (i < ou.length) {
        if (ou(i)) {
          val s = slot(oi(i))
          if (weighted) sums(s) = os(i)
          System.arraycopy(om, i * words, masks, s * words, words)
        }
        i += 1
      }
    }

    def add(id: Long, key: Int, w: Double): Unit = {
      val s = slot(id)
      if (weighted) sums(s) += w
      masks(s * words + (key >>> 6)) |= 1L << (key & 63)
    }

    def merge(c: DocChunk): Unit = {
      var i = 0
      while (i < c.ids.length) {
        val s = slot(c.ids(i))
        if (weighted) sums(s) += c.sums(i)
        var w = 0
        while (w < words) { masks(s * words + w) |= c.masks(i * words + w); w += 1 }
        i += 1
      }
    }

    /** The docs split by reducer (the high hash bits mod `r`), one chunk
      * per non-empty reducer. */
    def split(r: Int): Iterator[(Int, DocChunk)] = {
      def reducer(id: Long) = ((hash(id) >>> 33) % r).toInt
      val sizes = new Array[Int](r)
      var i = 0
      while (i < cap) { if (used(i)) sizes(reducer(ids(i))) += 1; i += 1 }
      val out = Array.tabulate(r)(p => new DocChunk(new Array[Long](sizes(p)),
        if (weighted) new Array[Double](sizes(p)) else null, new Array[Long](sizes(p) * words)))
      val fill = new Array[Int](r)
      i = 0
      while (i < cap) {
        if (used(i)) {
          val p = reducer(ids(i))
          val (c, j) = (out(p), fill(p))
          c.ids(j) = ids(i)
          if (weighted) c.sums(j) = sums(i)
          System.arraycopy(masks, i * words, c.masks, j * words, words)
          fill(p) = j + 1
        }
        i += 1
      }
      out.iterator.zipWithIndex.collect { case (c, p) if c.ids.nonEmpty => p -> c }
    }

    def foreach(f: Doc => Unit): Unit = {
      val d = new Doc(words)
      d.masks = masks
      var i = 0
      while (i < cap) {
        if (used(i)) {
          d.id = ids(i)
          d.sum = if (weighted) sums(i) else 0.0
          d.off = i * words
          f(d)
        }
        i += 1
      }
    }
  }

  /** Schemas of the finished results, as the Catalyst plans they replace
    * produced them. */
  private[vfsidx] val IdSchema = StructType(Seq(StructField("doc_id", LongType, nullable = false)))
  private[vfsidx] val HitSchema = StructType(Seq(StructField("doc_id", LongType, nullable = false),
    StructField("score", DoubleType)))
  private[vfsidx] val OverlapSchema = StructType(Seq(
    StructField("doc_id", LongType, nullable = false),
    StructField("overlap", LongType, nullable = false)))
  private[vfsidx] val CountSchema = StructType(Seq(StructField("n", LongType, nullable = false),
    StructField("first_id", LongType), StructField("last_id", LongType)))

  /** A driver-side result as a local DataFrame: planned as a
    * `LocalTableScan`, collected without a job. */
  private[vfsidx] def local(spark: SparkSession, schema: StructType, rows: Seq[Row]): DataFrame =
    spark.createDataFrame(rows.asJava, schema)

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
