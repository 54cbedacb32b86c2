package vfsidx.build

import org.apache.spark.sql.{Column, DataFrame, Encoder, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.StructType
import scala.collection.mutable.ArrayBuffer

/** The SPIMI seal shared by the word ([[IndexBuild]]) and trigram
  * ([[TrigramIndex]]) index builds — the reference's one segment-merge path
  * for every column kind, which writes key-sorted `KeyRecord` segments
  * (reference column.go:538-584). Both builds move data identically:
  *
  *  - map side: [[chunks]] accumulates per-partition partial posting lists
  *    in bounded memory and emits compressed chunks, split at `pre_shard`
  *    doc ranges; they are persisted as the batch's runs until the batch's
  *    generation commits, and then purged;
  *  - [[seal]]: the per-batch runs-format gate (one footer read on the
  *    driver, [[IndexBuild.footerHas]]), the `_SUCCESS` need-gates
  *    (bypassed by `force`), the stats table as a side job
  *    ([[withSideJobs]]), the one `(key, pre_shard)` hash shuffle sorted
  *    within partitions, the reduce side, the per-bucket observation
  *    ([[observeBuckets]]) and the segments write, whose bucket stats come
  *    back as lineage rows. A fold seals from the window's segments instead
  *    ([[rechunk]]), so a committed generation is the only copy of its
  *    postings;
  *  - reduce side: [[merge]] pools each (key, pre_shard) group, sorts it by
  *    doc id, splits it above `saltThreshold` into doc-range shards and
  *    encodes each shard.
  *
  * A kind supplies only what differs: its tables and shuffle key
  * ([[Kind]]), its stats row, and the payload [[Codec]] — scored (id, tf,
  * dl) triples with block-max bounds for words, ids only for trigrams. The
  * map-side accumulators stay per kind: word keys come from the tokenizer's
  * `String` term map and trigram keys live in a primitive long map, which
  * one generic map would box.
  *
  * Memory bound: [[chunks]] drains emitted chunks to its consumer BEFORE
  * pulling more input, so a task holds at most the accumulator
  * (≤ `flushPostings` postings) plus the chunks of one flush — the
  * partition's full chunk output never materializes, regardless of the
  * input split size (scan splits are sized by
  * `spark.sql.files.maxPartitionBytes`, which library callers don't
  * control).
  */
private[build] object Spimi {

  /** Map-side flush bound on POSTINGS: postings accumulated per task before
    * the partial lists are emitted as chunks. 4M scored postings ≈ 64 MB of
    * parallel (id, tf, dl) arrays — inside an executor-core's working share.
    * Flushed partial lists of one key merge on the reduce side like any
    * other chunks, so the bound only trades chunk count for memory. */
  val FlushPostings: Int = 4 << 20

  /** Map-side flush bound on DISTINCT KEYS. The postings bound alone does
    * not cap residency: a tail-heavy partition (e.g. ~10^6 df=1 terms) can
    * hold millions of map entries at the postings flush point, each costing
    * ~200-300 B (entry + key + min-capacity arrays) — up to ~1 GB per task.
    * Flushing at 512k distinct keys caps that overhead term at ~130 MB. */
  val FlushKeys: Int = 1 << 19

  /** Doc range of one `pre_shard`, in output shards: chunks split at
    * `shardSize * PreShard` doc boundaries, on the map side and when a
    * fold re-chunks segments, so both give the merge the same groups. */
  val PreShard: Long = 1024

  /** Map-side state for one task: consumes inputs, accumulates per-key
    * posting lists, emits chunks into a caller-supplied buffer. */
  trait Accumulator[I, C] {
    /** Consume one input. Order-break chunks (an id that would break a
      * buffered run's monotonicity cuts the run as its own chunk) are
      * appended to `out`. Returns the NET change in buffered posting count
      * (appended minus emitted). */
    def add(input: I, out: ArrayBuffer[C]): Int

    /** Emit every buffered list as chunks into `out` and clear the state. */
    def flushAll(out: ArrayBuffer[C]): Unit

    /** Distinct keys currently buffered — the [[FlushKeys]] trigger input. */
    def keyCount: Int
  }

  /** Lazy bounded-memory chunk driver: pull inputs, flush at
    * `flushPostings`, and YIELD emitted chunks to the consumer as soon as
    * they exist instead of accumulating the partition's whole output.
    * Exactly the chunks the eager loop would produce, in the same order. */
  def chunks[I, C](input: Iterator[I], acc: Accumulator[I, C],
                   flushPostings: Int = FlushPostings,
                   flushKeys: Int = FlushKeys): Iterator[C] =
    new Iterator[C] {
      private val out = ArrayBuffer.empty[C]
      private var pos = 0
      private var nBuffered = 0
      private var finished = false
      private def fill(): Unit = {
        if (pos < out.length) return
        out.clear(); pos = 0
        while (out.isEmpty && input.hasNext) {
          nBuffered += acc.add(input.next(), out)
          if (nBuffered >= flushPostings || acc.keyCount >= flushKeys) {
            acc.flushAll(out); nBuffered = 0
          }
        }
        if (out.isEmpty && !finished) { acc.flushAll(out); finished = true }
      }
      def hasNext: Boolean = { fill(); pos < out.length }
      def next(): C = {
        if (!hasNext) throw new NoSuchElementException("chunks exhausted")
        val c = out(pos); pos += 1; c
      }
    }

  /** Reduce side of the SPIMI merge: pool consecutive rows belonging to the
    * same (key, pre_shard) group — `same` compares a row against the group's
    * first row — and hand each pooled group to `emitGroup`, streaming its
    * segment rows out lazily. Rows arrive grouped because the shuffle
    * partitioned on (key, pre_shard) and sorted within partitions. */
  def mergeGroups[C, R](rows: Iterator[C], same: (C, C) => Boolean,
                        emitGroup: ArrayBuffer[C] => List[R]): Iterator[R] = {
    val buf = rows.buffered
    new Iterator[R] {
      private var pending: List[R] = Nil
      private def refill(): Unit =
        while (pending.isEmpty && buf.hasNext) {
          val head = buf.head
          val group = ArrayBuffer.empty[C]
          while (buf.hasNext && same(head, buf.head)) group += buf.next()
          pending = emitGroup(group)
        }
      def hasNext: Boolean = { if (pending.isEmpty) refill(); pending.nonEmpty }
      def next(): R = {
        if (!hasNext) throw new NoSuchElementException("merge exhausted")
        val h = pending.head; pending = pending.tail; h
      }
    }
  }

  /** The payload half of an index kind, run by [[merge]] on the executors:
    * pool a group's chunk payloads into parallel arrays, sort them by doc
    * id, and encode one shard's segment row — and, for a fold, the way
    * back ([[rechunk]]). */
  trait Codec[K, R] extends Serializable {
    /** Parallel arrays holding one pooled group. */
    type Pool
    def pool(n: Int): Pool
    /** Unpack one chunk's `n` postings into `p` at offset `off`. */
    def unpack(bytes: Array[Byte], n: Int, p: Pool, off: Int): Unit
    /** Postings [from, until) of `p` as one chunk payload (the inverse of
      * [[unpack]]). */
    def pack(p: Pool, from: Int, until: Int): Array[Byte]
    /** Sort the pooled postings by doc id; returns the sorted ids. */
    def sort(p: Pool): Array[Long]
    /** The segment row of postings [from, until) of `p` as (key, shard). */
    def encode(bucket: Int, key: K, shard: Int, p: Pool, from: Int, until: Int): R
    /** A segment row's key and postings, decoded into a pool of its count,
      * with the pool's ids (the inverse of [[encode]]). */
    def decode(row: R): (K, Pool, Array[Long])
  }

  /** A fold's chunks: every segment row of the folded generations decoded
    * back to its postings and split at `preShardDocs` doc boundaries into
    * (key, pre_shard, count, payload) chunk rows — the rows the map side
    * wrote as runs, so [[merge]] pools the same groups. */
  def rechunk[K, R](rows: Iterator[R], codec: Codec[K, R],
                    preShardDocs: Long): Iterator[(K, Long, Int, Array[Byte])] =
    rows.flatMap { r =>
      val (key, p, ids) = codec.decode(r)
      val out = ArrayBuffer.empty[(K, Long, Int, Array[Byte])]
      splitByRange(ids, ids.length, preShardDocs)((i, j, ps) =>
        out += ((key, ps, j - i, codec.pack(p, i, j))))
      out
    }

  /** Reduce side of the SPIMI merge over (key, pre_shard, count, payload)
    * chunk rows: pool each group's chunks at their offsets and sort them
    * by doc id (chunk ranges may overlap — a scan partition can pack files
    * out of doc order — and a per-group primitive sort is far cheaper than
    * a wide-row posting sort). A group above `saltThreshold` postings
    * splits into doc-range shards (shard = doc / shardSize) so no parquet
    * row or query task owns an unbounded list; smaller groups emit one
    * shard-0 row. */
  def merge[K, R](rows: Iterator[(K, Long, Int, Array[Byte])], codec: Codec[K, R],
                  saltThreshold: Long, shardSize: Long): Iterator[R] = {
    val bucket = org.apache.spark.TaskContext.getPartitionId()
    mergeGroups[(K, Long, Int, Array[Byte]), R](rows, (a, b) => a._1 == b._1 && a._2 == b._2,
      group => {
        var total = 0
        group.foreach(total += _._3)
        val p = codec.pool(total)
        var off = 0
        group.foreach { c => codec.unpack(c._4, c._3, p, off); off += c._3 }
        val ids = codec.sort(p)
        val key = group(0)._1
        if (total <= saltThreshold) List(codec.encode(bucket, key, 0, p, 0, total))
        else {
          val out = List.newBuilder[R]
          splitByRange(ids, total, shardSize)((i, j, s) =>
            out += codec.encode(bucket, key, s.toInt, p, i, j))
          out.result()
        }
      })
  }

  /** Walk `ids[0, n)` (sorted ascending) splitting at `div`-sized doc-range
    * boundaries: `emit(from, until, range)` once per maximal run with
    * `ids(i) / div == range`. Used for the map-side `pre_shard` chunk split
    * and the reduce-side head-key doc-range shard split. */
  def splitByRange(ids: Array[Long], n: Int, div: Long)
                  (emit: (Int, Int, Long) => Unit): Unit = {
    var i = 0
    while (i < n) {
      val r = ids(i) / div
      var j = i
      while (j < n && ids(j) / div == r) j += 1
      emit(i, j, r)
      i = j
    }
  }

  /** Per-bucket lineage stats of one segment write: key range + posting and
    * byte totals of the rows a shuffle partition emitted. */
  final case class BucketStat(first: String, last: String, nPostings: Long, bytes: Long)

  /** LAST-WRITE-WINS per-partition accumulator for [[BucketStat]]s, so the
    * per-bucket lineage rows come off the segment WRITE action itself instead
    * of a post-write re-read of the freshly-written segments (a full O(index)
    * read whose only product was ~numBuckets audit rows). Exactness under
    * task retry and speculation: a partition's content is a deterministic
    * function of the hash-partitioned, sorted shuffle input, so a duplicate
    * attempt re-puts the identical value — keyed replacement can never
    * double-count the way an additive accumulator would. */
  final class BucketStatsAcc
      extends org.apache.spark.util.AccumulatorV2[(Int, BucketStat), Map[Int, BucketStat]] {
    private val m = new java.util.concurrent.ConcurrentHashMap[Int, BucketStat]()
    override def isZero: Boolean = m.isEmpty
    override def copy(): BucketStatsAcc = {
      val a = new BucketStatsAcc; a.m.putAll(m); a
    }
    override def reset(): Unit = m.clear()
    override def add(v: (Int, BucketStat)): Unit = m.put(v._1, v._2)
    override def merge(
        other: org.apache.spark.util.AccumulatorV2[(Int, BucketStat), Map[Int, BucketStat]]): Unit =
      other.value.foreach { case (k, v) => m.put(k, v) }
    override def value: Map[Int, BucketStat] = {
      import scala.jdk.CollectionConverters._
      m.asScala.toMap
    }
  }

  /** Pass-through iterator that folds each emitted segment row into this
    * partition's [[BucketStat]] and registers it in `acc` when the task
    * succeeds — whether or not the consumer made a final `hasNext` call —
    * or, outside a task, once the stream is exhausted (empty partitions
    * register nothing — same as the former groupBy(bucket), which had no row
    * for an empty bucket). The key ordering is the CALLER's (`ord`): the
    * trigram build compares raw Long
    * keys — exactly the former numeric min($"key")/max($"key"), which a
    * formatted-hex comparison would get wrong above 2^48 (supplementary-
    * plane trigrams parse to 13-16 hex digits, so f"%012x" is variable-
    * width) — and only formats the winners; the word build compares terms
    * in [[Utf8Order]], the byte order of the former min($"term")/max($"term"). */
  def observeBuckets[R, K](it: Iterator[R], acc: BucketStatsAcc)(
      key: R => K, fmt: K => String, np: R => Long, bytes: R => Long)(
      implicit ord: Ordering[K]): Iterator[R] =
    new Iterator[R] {
      private val pid = org.apache.spark.TaskContext.getPartitionId()
      private var hasAny = false
      private var first: K = _
      private var last: K = _
      private var n = 0L
      private var b = 0L
      private var flushed = false
      private def flush(): Unit = if (!flushed) {
        if (hasAny) acc.add((pid, BucketStat(fmt(first), fmt(last), n, b)))
        flushed = true
      }
      private val task = Option(org.apache.spark.TaskContext.get())
      task.foreach(_.addTaskCompletionListener[Unit](ctx => if (!ctx.isFailed()) flush()))
      def hasNext: Boolean = {
        val h = it.hasNext
        if (!h && task.isEmpty) flush()
        h
      }
      def next(): R = {
        val r = it.next()
        val k = key(r)
        if (!hasAny) { first = k; last = k; hasAny = true }
        else {
          if (ord.lt(k, first)) first = k
          if (ord.gt(k, last)) last = k
        }
        n += np(r)
        b += bytes(r)
        r
      }
    }

  /** Strings in UTF-8 byte order — code-point order, the order Spark SQL
    * compares strings in — without encoding them. The first differing
    * UTF-16 units decide, except that a surrogate (half of a code point
    * above U+FFFF) ranks above every unit from U+E000 up. */
  object Utf8Order extends Ordering[String] {
    private def rank(c: Char): Int = if (c >= 0xe000) c - 0x800 else c + 0x2000
    def compare(a: String, b: String): Int = {
      val n = math.min(a.length, b.length)
      var i = 0
      while (i < n) {
        val x = a.charAt(i)
        val y = b.charAt(i)
        if (x != y) return if (x >= 0xd800 && y >= 0xd800) rank(x) - rank(y) else x - y
        i += 1
      }
      a.length - b.length
    }
  }

  /** What an index kind supplies to [[seal]] besides its stats and codec:
    *  - `prefix` names its build stages, lineage stage and accumulator
    *    ("" for the word index, "tri_" for the trigram index);
    *  - `runs(b)` and `segments` / `stats(lo, hi)`: its table dirs, and
    *    `runsSchema` the pinned schema of its runs;
    *  - `key`: the key column of its chunks and segments;
    *  - `keyHash`: a packed-long hash to shuffle and sort on in place of a
    *    variable-width key, which then sorts as the tiebreak (None shuffles
    *    on the key itself);
    *  - `observe`: [[observeBuckets]] with its segment rows' key ordering. */
  final case class Kind[K, R](prefix: String, runs: Int => String, runsSchema: StructType,
      segments: (Int, Int) => String, stats: (Int, Int) => String, key: String,
      keyHash: Option[Column], observe: (Iterator[R], BucketStatsAcc) => Iterator[R])

  /** What a seal reads its postings from, and the `gen=<lo>_<hi>` it seals. */
  sealed trait Source {
    def lo: Int
    def hi: Int
  }

  /** A build or refresh: the chunk runs of `batches` (the range may have
    * gaps when streaming epochs skipped slots; only the listed batches are
    * read). They are purged once the generation commits. */
  final case class Runs(batches: Seq[Int]) extends Source {
    def lo: Int = batches.min
    def hi: Int = batches.max
  }

  /** A fold: the segments of the committed, contiguous generations
    * `window`, decoded and re-chunked ([[rechunk]]). */
  final case class Fold(window: Seq[(Int, Int)]) extends Source {
    def lo: Int = window.head._1
    def hi: Int = window.last._2
  }

  /** Seal one generation `gen=<lo>_<hi>` of `kind` from `source`. Each
    * table is `_SUCCESS`-gated for resume, or rewritten when `force`; the
    * generation is committed once its segments and stats are, and then the
    * runs a [[Runs]] source read are purged (their dirs stay as slot
    * markers).
    *
    * `stats(input)` computes the generation's stats row from the runs, or
    * a fold's segments, called only when the stats table is missing (a
    * resume reads the committed row back, and only if `codec` uses it).
    * The stats write runs concurrently with the segments write.
    *
    * The one data shuffle HASH-partitions chunks on (shuffle key,
    * pre_shard) — range partitioning needs a sampling pass, and
    * lexicographically adjacent key families (e.g. 10^6 df=1 `needle_*`
    * terms) would all land in one reducer — and sorts within partitions,
    * so every group arrives contiguous and a long-keyed segment file is
    * key-ordered (parquet row-group pruning on the key). Only chunk rows
    * move, an order of magnitude fewer rows than raw postings, carrying
    * only the columns the sort and reducer read; `pre_shard` bounds every
    * reducer group without knowing df before the shuffle. A variable-width
    * key shuffles on its hash: Tungsten's 8-byte sort prefix resolves long
    * keys outright, while common-prefix term families degenerate every
    * string-prefix comparison into a full-record compare. Hash collisions
    * are harmless — the key is the next sort column, so a colliding key is
    * adjacent but never pooled. A fold's chunks are its segment rows
    * re-chunked at the same `pre_shard` boundaries, so it pools exactly the
    * groups a build over the same docs would.
    *
    * A ONE-bucket generation (every refresh under `shardSize` docs) skips
    * that shuffle: its chunks are coalesced into one partition and sorted
    * there, which yields the rows, the order and the `bucket = 0` the
    * one-partition exchange would. Multi-bucket builds and folds keep the
    * hash exchange.
    *
    * Returns the lineage rows of the segments write, one per non-empty
    * bucket (none when the segments were already committed), for the
    * caller to append to its lineage table. */
  def seal[K, R, S](spark: SparkSession, kind: Kind[K, R], source: Source,
                    numBuckets: Int, saltThreshold: Long, shardSize: Long,
                    force: Boolean)(stats: DataFrame => S)(codec: (=> S) => Codec[K, R])(
      implicit chunkEnc: Encoder[(K, Long, Int, Array[Byte])], rowEnc: Encoder[R],
      statsEnc: Encoder[S]): Seq[LineageRow] = {
    import IndexBuild.{TableIO, timed}
    val gen = s"${source.lo}_${source.hi}"
    val p = kind.prefix
    val (segDir, statsDir) = (kind.segments(source.lo, source.hi), kind.stats(source.lo, source.hi))
    def need(d: String) = force || !TableIO.done(spark, d)
    val (needSegs, needStats) = (need(segDir), need(statsDir))
    var lineage = Seq.empty[LineageRow]
    if (needSegs || needStats) {
      val input = source match {
        case Runs(batches) =>
          // migration gate, before the generation's first write: runs
          // written by a pre-chunk-format build must fail with an
          // instruction, not mid-merge. Checked PER batch dir — a
          // merged-read schema samples one footer and would let a mixed
          // old/new set through.
          batches.foreach { b =>
            require(IndexBuild.footerHas(spark, kind.runs(b), "pre_shard"),
              s"${kind.runs(b)} was written by a pre-chunk-format build (raw posting " +
                "rows): delete the index directory and rebuild")
          }
          spark.read.schema(kind.runsSchema).parquet(batches.map(kind.runs): _*)
        case Fold(window) =>
          spark.read.schema(rowEnc.schema).parquet(window.map(kind.segments.tupled): _*)
      }
      lazy val st: S =
        if (needStats) stats(input)
        else spark.read.schema(statsEnc.schema).parquet(statsDir).as[S].head()

      val sideJobs =
        if (!needStats) Nil
        else Seq(() => timed(s"${p}stats:$gen")(
          TableIO.write(spark.createDataset(Seq(st)).toDF(), statsDir)))
      withSideJobs(needSegs, sideJobs) { timed(s"${p}segments:$gen") {
        val t0 = System.currentTimeMillis()
        val acc = new BucketStatsAcc
        spark.sparkContext.register(acc, s"${p}segstats:$gen")
        val (c, observe) = (codec(st), kind.observe)
        val cols = Seq(kind.key, "pre_shard", "count", "bytes")
        val chunks = source match {
          case Runs(_) => input.select(cols.map(col): _*)
          case Fold(_) => input.as[R].mapPartitions(rechunk(_, c, shardSize * PreShard))
            .toDF(cols: _*)
        }
        // one bucket: a single partition already satisfies the merge's
        // clustering, so it plans no exchange
        val one = if (numBuckets == 1) chunks.coalesce(1) else chunks
        val (keyed, order) = kind.keyHash match {
          case Some(h) =>
            (one.withColumn("key_hash", h), Seq(col("key_hash"), col("pre_shard"), col(kind.key)))
          case None => (one, Seq(col(kind.key), col("pre_shard")))
        }
        val segs = (if (numBuckets == 1) keyed else keyed.repartition(numBuckets, order.take(2): _*))
          .sortWithinPartitions(order: _*)
          .select(cols.map(col): _*)
          .as[(K, Long, Int, Array[Byte])]
          .mapPartitions(it => observe(merge(it, c, saltThreshold, shardSize), acc))
        TableIO.write(segs.toDF(), segDir)
        lineage = acc.value.toSeq.sortBy(_._1).map { case (pid, s) =>
          LineageRow(s"${p}segments", gen, pid, s.first, s.last, 0L, s.nPostings,
            s.bytes, System.currentTimeMillis() - t0)
        }
      }}
    }
    source match {
      case Runs(batches) => batches.foreach(b => TableIO.purge(spark, kind.runs(b)))
      case Fold(_) => ()
    }
    lineage
  }

  /** Run `main` while `sideJobs` (small independent Spark jobs: the
    * generation's 1-row stats write, a refresh's doc_stats) execute on a
    * concurrent pool, joining them afterwards — or run everything inline
    * when there is no `main` work (a resume where only side tables are
    * missing). Side-job failures surface on join. A `main` failure stops
    * the side jobs (`shutdownNow` interrupts the running ones and drops any
    * not yet started), joins them, and rethrows with their failures
    * attached via `addSuppressed` — none keeps running past the call, and
    * no side error is lost (the generation stays uncommitted either way;
    * resume redoes the rest). */
  def withSideJobs(needMain: Boolean, sideJobs: Seq[() => Unit])(main: => Unit): Unit = {
    if (!needMain || sideJobs.isEmpty) {
      if (needMain) main
      sideJobs.foreach(_())
      return
    }
    val pool = java.util.concurrent.Executors.newFixedThreadPool(sideJobs.size)
    val futures = sideJobs.map(f =>
      pool.submit(new java.util.concurrent.Callable[Unit] { def call(): Unit = f() }))
    try main
    catch {
      case e: Throwable =>
        // never-started jobs are dropped (their futures stay not-done)
        pool.shutdownNow()
        pool.awaitTermination(Long.MaxValue, java.util.concurrent.TimeUnit.NANOSECONDS)
        futures.filter(_.isDone).foreach { f =>
          try f.get()
          catch { case x: java.util.concurrent.ExecutionException => e.addSuppressed(x.getCause) }
        }
        throw e
    } finally pool.shutdown()
    futures.foreach(_.get())
  }
}
