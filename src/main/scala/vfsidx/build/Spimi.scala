package vfsidx.build

import scala.collection.mutable.ArrayBuffer

/** Shared SPIMI machinery for the word ([[IndexBuild]]) and trigram
  * ([[TrigramIndex]]) index builds. The two pipelines move data identically —
  * map-side accumulate-and-flush into compressed chunks, one (key, pre_shard)
  * shuffle, reduce-side group pooling, doc-range shard splitting — and only
  * the payload codec differs (scored (id, tf, dl) triples vs ids-only). The
  * data movement lives here ONCE so a fix to the flush policy, the group
  * iterator, or the shard split can never silently diverge between the two
  * indexes; the payload-specific pack/unpack/sort/encode stays at the call
  * sites.
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
    * partition's [[BucketStat]] and registers it in `acc` once the stream is
    * exhausted (empty partitions register nothing — same as the former
    * groupBy(bucket), which had no row for an empty bucket). The key
    * ordering is the CALLER's (`ord`): the trigram build compares raw Long
    * keys — exactly the former numeric min($"key")/max($"key"), which a
    * formatted-hex comparison would get wrong above 2^48 (supplementary-
    * plane trigrams parse to 13-16 hex digits, so f"%012x" is variable-
    * width) — and only formats the winners; the word build compares terms
    * as Strings (UTF-16 order, vs the former UTF8String byte order — they
    * differ only on supplementary-plane characters, an audit-trail nuance,
    * not query data). */
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
      def hasNext: Boolean = {
        val h = it.hasNext
        if (!h && !flushed) {
          if (hasAny) acc.add((pid, BucketStat(fmt(first), fmt(last), n, b)))
          flushed = true
        }
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

  /** Run `main` while `sideJobs` (small independent Spark jobs: the
    * generation's dictionary agg and 1-row stats write) execute on a
    * concurrent pool, joining them afterwards — or run everything inline
    * when there is no `main` work (a resume where only side tables are
    * missing). Side-job failures surface on join. A `main` failure stops
    * the side jobs (`shutdownNow` interrupts the running ones and drops any
    * not yet started), joins them, and rethrows with their failures
    * attached via `addSuppressed` — none keeps running past the call, and
    * no side error is lost (the generation stays uncommitted either way;
    * resume redoes the rest). Shared by the word and trigram
    * buildGenerations so the concurrency/error contract cannot diverge
    * between them. */
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
