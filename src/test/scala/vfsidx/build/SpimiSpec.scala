package vfsidx.build

import org.scalatest.funsuite.AnyFunSuite
import scala.collection.mutable.ArrayBuffer
import vfsidx.codec.VarByte

/** Direct unit coverage for the SPIMI map-side machinery — the components
  * where a silent bug corrupts index CONTENTS rather than crashing: the
  * bounded-memory chunk driver, the LongListMap grow/order-break paths
  * (grow only triggers above ~45,875 distinct keys in one task, a scale no
  * integration spec reaches), and the range-split / group-pool helpers. */
class SpimiSpec extends AnyFunSuite {

  /** Decode every chunk back to (key, id) pairs. */
  private def decodeAll(chunks: Seq[(Long, Long, Long, Long, Int, Array[Byte])]): Seq[(Long, Long)] =
    chunks.flatMap { case (key, _, first, last, cnt, bytes) =>
      val ids = new Array[Long](cnt)
      VarByte.unpackIds(bytes, cnt, ids, 0)
      assert(ids.head == first && ids.last == last, s"chunk metadata mismatch for key $key")
      var i = 1
      while (i < cnt) { assert(ids(i - 1) < ids(i), "chunk ids not strictly ascending"); i += 1 }
      ids.map(key -> _).toSeq
    }

  test("chunkPartition: 50k distinct keys exercises LongListMap.grow without losing a posting") {
    // 50,000 distinct keys > the 0.7 * 2^16 grow threshold (~45,875)
    val input = (0 until 50000).map(k => (k.toLong * 131 + 7, k.toLong))
    val chunks = TrigramIndex.chunkPartition(input.iterator, preShardDocs = 1 << 20,
      flushPostings = Int.MaxValue).toSeq
    assert(decodeAll(chunks).sorted == input.sorted)
  }

  test("chunkPartition: order breaks (out-of-order file packing) cut chunks, lose nothing") {
    // two 'files' with disjoint doc ranges arriving high-range first: every
    // key's second id breaks monotonicity and must cut the first run
    val keys = (0L until 10L).toVector
    val fileB = keys.map(k => (k, 1000L + k)) // high range first
    val fileA = keys.map(k => (k, k))         // then low range
    val chunks = TrigramIndex.chunkPartition((fileB ++ fileA).iterator,
      preShardDocs = 1 << 20, flushPostings = Int.MaxValue).toSeq
    assert(chunks.size == 20, "each key should cut exactly two chunks")
    assert(decodeAll(chunks).sorted == (fileA ++ fileB).sorted)
  }

  test("chunkPartition: no chunk spans a pre_shard boundary; flushed partials stay exact") {
    val rng = new scala.util.Random(53)
    val input = Vector.tabulate(20000) { i =>
      (rng.nextInt(40).toLong, i.toLong) // 40 keys, ascending ids
    }
    val preShard = 1000L
    val chunks = TrigramIndex.chunkPartition(input.iterator, preShard,
      flushPostings = 500).toSeq // tiny flush bound -> many partial lists
    chunks.foreach { case (_, ps, first, last, _, _) =>
      assert(first / preShard == ps && last / preShard == ps,
        "chunk spans a pre_shard boundary")
    }
    assert(decodeAll(chunks).sorted == input.sorted)
  }

  test("chunks flushes on distinct-key count, not only postings count") {
    // a tail-heavy partition (millions of df=1 keys) must flush before the
    // postings bound: key-entry overhead, not posting count, is what OOMs
    final class Acc extends Spimi.Accumulator[(Long, Long), (Long, Int)] {
      val map = scala.collection.mutable.LinkedHashMap.empty[Long, Int]
      var maxKeys = 0
      def add(kv: (Long, Long), out: ArrayBuffer[(Long, Int)]): Int = {
        map(kv._1) = map.getOrElse(kv._1, 0) + 1
        maxKeys = math.max(maxKeys, map.size)
        1
      }
      def flushAll(out: ArrayBuffer[(Long, Int)]): Unit = {
        map.foreach { case (k, c) => out += ((k, c)) }
        map.clear()
      }
      def keyCount: Int = map.size
    }
    val acc = new Acc
    val input = (0 until 100).map(i => (i.toLong, i.toLong))
    val chunks = Spimi.chunks(input.iterator, acc,
      flushPostings = Int.MaxValue, flushKeys = 8).toSeq
    assert(acc.maxKeys <= 8, s"accumulator held ${acc.maxKeys} keys past the flush bound")
    assert(chunks.map(_._2).sum == 100)
    assert(chunks.map(_._1).distinct.sorted == (0L until 100L))
  }

  test("chunk driver is lazy: chunks drain before the input is exhausted") {
    var consumed = 0
    val n = 10000
    val input = Iterator.tabulate(n) { i => consumed = i + 1; (i.toLong % 5, i.toLong) }
    val it = TrigramIndex.chunkPartition(input, preShardDocs = 1 << 20, flushPostings = 100)
    assert(it.hasNext)
    val consumedAtFirstChunk = consumed
    assert(consumedAtFirstChunk < n,
      "first chunk should be available after ~flushPostings inputs, not after the whole partition")
    val all = decodeAll(it.toSeq) // drain the rest
    assert(all.size == n && all.toSet == (0 until n).map(i => (i.toLong % 5, i.toLong)).toSet)
    assert(consumed == n)
  }

  test("splitByRange emits maximal runs with exact boundaries") {
    val ids = Array(0L, 1L, 9L, 10L, 11L, 25L, 99L, 100L)
    val out = ArrayBuffer.empty[(Int, Int, Long)]
    Spimi.splitByRange(ids, ids.length, 10L)((i, j, r) => out += ((i, j, r)))
    assert(out.toSeq == Seq((0, 3, 0L), (3, 5, 1L), (5, 6, 2L), (6, 7, 9L), (7, 8, 10L)))
    out.clear()
    Spimi.splitByRange(ids, 0, 10L)((i, j, r) => out += ((i, j, r)))
    assert(out.isEmpty)
  }

  test("mergeGroups pools consecutive equal groups and survives empty emissions") {
    val rows = Seq(("a", 1), ("a", 2), ("b", 3), ("c", 4), ("c", 5), ("c", 6))
    val merged = Spimi.mergeGroups[(String, Int), String](
      rows.iterator, (x, y) => x._1 == y._1,
      g => if (g(0)._1 == "b") Nil // a group may legally emit nothing
      else List(s"${g(0)._1}:${g.map(_._2).sum}")).toSeq
    assert(merged == Seq("a:3", "c:15"))
    assert(Spimi.mergeGroups[Int, Int](Iterator.empty, (_, _) => true, _ => Nil).isEmpty)
  }

  test("chunk driver: empty input and all-emitting flush behave") {
    val none = TrigramIndex.chunkPartition(Iterator.empty, 1L << 20, 100)
    assert(!none.hasNext)
    intercept[NoSuchElementException](none.next())
  }

  test("observeBuckets: numeric key ordering above 2^48, totals, empty stream") {
    // keys straddling 2^48: hex widths 12 and 13+ — numeric ordering must
    // pick min/max by VALUE (a string compare would rank "1000000000000"
    // below "f00000000000")
    val rows = Seq(
      (0xf00000000000L, 3L, 10L),   // 12 hex digits
      (0x1000000000000L, 2L, 20L),  // 13 hex digits, numerically larger
      (0x000000000abcL, 5L, 30L))
    val acc = new Spimi.BucketStatsAcc
    val out = Spimi.observeBuckets(rows.iterator, acc)(
      _._1, (k: Long) => f"$k%012x", _._2, _._3).toList
    assert(out == rows.toList) // pass-through, order preserved
    val st = acc.value(org.apache.spark.TaskContext.getPartitionId())
    assert(st.first == "000000000abc")
    assert(st.last == "1000000000000")
    assert(st.nPostings == 10L && st.bytes == 60L)

    // empty stream registers nothing (matches the former groupBy(bucket))
    val acc2 = new Spimi.BucketStatsAcc
    assert(Spimi.observeBuckets(Iterator.empty[(Long, Long, Long)], acc2)(
      _._1, (k: Long) => f"$k%012x", _._2, _._3).isEmpty)
    assert(acc2.value.isEmpty)
  }

  test("observeBuckets: a task that reads every row with next() alone still records its bucket") {
    val sc = vfsidx.SparkTestBase.spark.sparkContext
    val acc = new Spimi.BucketStatsAcc
    sc.register(acc)
    val rows = Seq((5L, 1L, 10L), (3L, 2L, 20L), (9L, 4L, 30L))
    val keys = sc.parallelize(rows, 1).mapPartitions { it =>
      val o = Spimi.observeBuckets(it, acc)(_._1, (k: Long) => k.toString, _._2, _._3)
      Iterator.fill(3)(o.next()._1).toList.iterator // no trailing hasNext on `o`
    }.collect()
    assert(keys.toSeq == Seq(5L, 3L, 9L))
    assert(acc.value == Map(0 -> Spimi.BucketStat("3", "9", 7L, 60L)))
  }

  test("BucketStatsAcc: keyed replacement, never additive (retry/speculation-safe)") {
    val acc = new Spimi.BucketStatsAcc
    acc.add((3, Spimi.BucketStat("a", "z", 100L, 1000L)))
    // a speculative duplicate / stage-retry attempt re-puts the identical
    // deterministic value — the entry must replace, not accumulate
    acc.add((3, Spimi.BucketStat("a", "z", 100L, 1000L)))
    assert(acc.value == Map(3 -> Spimi.BucketStat("a", "z", 100L, 1000L)))
    // driver-side merge of task copies is also keyed replacement
    val other = new Spimi.BucketStatsAcc
    other.add((3, Spimi.BucketStat("a", "z", 100L, 1000L)))
    other.add((4, Spimi.BucketStat("b", "c", 1L, 2L)))
    acc.merge(other)
    assert(acc.value.keySet == Set(3, 4))
    assert(acc.value(3).nPostings == 100L)
  }

  test("withSideJobs: a failing main stops the side jobs and keeps their errors") {
    // side job 1 fails on its own; side job 2 would run for a minute. main
    // fails once job 1 has thrown: the call must rethrow main's error with
    // job 1's failure suppressed on it, after interrupting job 2.
    val failed = new java.util.concurrent.CountDownLatch(1)
    val sideError = new IllegalStateException("side write failed")
    val t0 = System.nanoTime()
    val e = intercept[RuntimeException] {
      Spimi.withSideJobs(needMain = true, Seq(
        () => try throw sideError finally failed.countDown(),
        () => Thread.sleep(60000))) {
        failed.await()
        throw new RuntimeException("segments write failed")
      }
    }
    assert(e.getMessage == "segments write failed")
    assert(e.getSuppressed.contains(sideError))
    assert(e.getSuppressed.exists(_.isInstanceOf[InterruptedException]))
    assert((System.nanoTime() - t0) / 1e9 < 30, "the sleeping side job was not interrupted")
  }

  test("withSideJobs: side-job failures surface when main succeeds; no main runs them inline") {
    val e = intercept[java.util.concurrent.ExecutionException](
      Spimi.withSideJobs(needMain = true,
        Seq(() => throw new IllegalStateException("dict")))(()))
    assert(e.getCause.getMessage == "dict")
    var ran = 0
    Spimi.withSideJobs(needMain = false, Seq(() => ran += 1, () => ran += 1))(
      fail("main must not run"))
    assert(ran == 2)
  }

  // ---- the one reducer (Spimi.merge) under both payload codecs ----

  private val salt = 10L
  private val shardSize = 4L
  private def tfOf(id: Long) = (id % 3 + 1).toInt
  private def dlOf(id: Long) = (id + 10).toInt

  /** One word chunk row: postings of `ids` (ascending) with tf/dl derived from the id. */
  private def wordChunk(ids: Seq[Long]): (String, Long, Int, Array[Byte]) =
    ("t", 0L, ids.size, VarByte.packPostings(ids.toArray, ids.map(tfOf).toArray,
      ids.map(dlOf).toArray, 0, ids.size))
  private def triChunk(ids: Seq[Long]): (Long, Long, Int, Array[Byte]) =
    (7L, 0L, ids.size, VarByte.packIds(ids.toArray, 0, ids.size))

  private def mergeWord(chunks: Seq[Seq[Long]]): List[SegmentRow] =
    Spimi.merge(chunks.map(wordChunk).iterator, new IndexBuild.WordCodec(20.0), salt, shardSize)
      .toList
  private def mergeTri(chunks: Seq[Seq[Long]]): List[TriSegmentRow] =
    Spimi.merge(chunks.map(triChunk).iterator, TrigramIndex.TriCodec, salt, shardSize).toList

  private def wordIds(r: SegmentRow): Seq[Long] = VarByte.decode(r.postings, r.count)._1.toSeq
  private def triIds(r: TriSegmentRow): Seq[Long] =
    r.block_off.indices.flatMap(b =>
      VarByte.decodeIdsBlock(r.postings, r.block_off(b), VarByte.blockCount(r.count, b)))

  test("merge: a group of exactly saltThreshold postings emits one shard-0 row (both codecs)") {
    val ids = (0L until salt).map(_ * 3)   // spans several shardSize doc ranges
    val w = mergeWord(Seq(ids))
    assert(w.map(r => (r.term, r.shard, r.count)) == List(("t", 0, salt.toInt)))
    assert(wordIds(w.head) == ids)
    val t = mergeTri(Seq(ids))
    assert(t.map(r => (r.key, r.shard, r.count)) == List((7L, 0, salt.toInt)))
    assert(triIds(t.head) == ids)
  }

  test("merge: saltThreshold + 1 postings split into doc / shardSize shards (both codecs)") {
    val ids = (0L to salt).map(_ * 3)      // 0, 3, ..., 30: 11 postings
    val expected = ids.groupBy(_ / shardSize).toSeq.sortBy(_._1)
      .map { case (s, g) => (s.toInt, g.sorted) }
    val w = mergeWord(Seq(ids))
    assert(w.map(r => (r.shard, wordIds(r))) == expected)
    val t = mergeTri(Seq(ids))
    assert(t.map(r => (r.shard, triIds(r))) == expected)
  }

  test("merge: chunks with overlapping doc ranges encode to the bytes of one sorted chunk") {
    // two runs of one key cut by an out-of-order file boundary: each is
    // ascending, but their doc ranges interleave
    val a = Seq(0L, 2L, 4L, 6L, 30L)
    val b = Seq(1L, 3L, 5L, 7L)
    val sorted = (a ++ b).sorted
    def word(rs: List[SegmentRow]) = rs.map(r => (r.shard, r.count, r.tf_sum, r.postings.toSeq,
      r.block_first.toSeq, r.block_last.toSeq, r.block_off.toSeq, r.block_max_norm.toSeq))
    def tri(rs: List[TriSegmentRow]) = rs.map(r => (r.shard, r.count, r.postings.toSeq,
      r.block_first.toSeq, r.block_last.toSeq, r.block_off.toSeq))
    assert(word(mergeWord(Seq(a, b))) == word(mergeWord(Seq(sorted))))
    assert(word(mergeWord(Seq(b, a))) == word(mergeWord(Seq(sorted))))
    assert(tri(mergeTri(Seq(a, b))) == tri(mergeTri(Seq(sorted))))
    assert(tri(mergeTri(Seq(b, a))) == tri(mergeTri(Seq(sorted))))
  }

  test("merge: each word shard's tf_sum equals the sum of its postings' tf") {
    for (ids <- Seq((0L until salt).map(_ * 3), (0L to salt).map(_ * 3))) {
      val rows = mergeWord(Seq(ids.filter(_ % 2 == 0), ids.filter(_ % 2 == 1)))
      assert(rows.map(_.count).sum == ids.size)
      rows.foreach { r =>
        val (rIds, tfs, _) = VarByte.decode(r.postings, r.count)
        assert(r.tf_sum == tfs.map(_.toLong).sum)
        assert(r.tf_sum == rIds.map(tfOf(_).toLong).sum)
      }
    }
  }

  test("word lineage orders terms by UTF-8 bytes: U+FF5A first, U+20BB7 last") {
    def row(term: String) = SegmentRow(0, term, 0, 1, 1L, Array[Byte](1), Array(1L), Array(1L),
      Array(0), Array(1.0f))
    val z = "\uff5a"                                   // ｚ, 3 UTF-8 bytes
    val kanji = new String(Character.toChars(0x20bb7))  // 𠮷, 4 UTF-8 bytes
    for (terms <- Seq(Seq(z, kanji), Seq(kanji, z))) {
      val acc = new Spimi.BucketStatsAcc
      IndexBuild.kind("unused").observe(terms.map(row).iterator, acc).foreach(_ => ())
      val st = acc.value(org.apache.spark.TaskContext.getPartitionId())
      assert(st.first == z && st.last == kanji)
    }
    // the ordering agrees with an unsigned byte compare of the UTF-8 encodings
    val rng = new scala.util.Random(7)
    val alphabet = Seq(0x41, 0x7a, 0xe9, 0x3042, 0xd7ff, 0xe000, 0xff5a, 0xffff,
      0x10000, 0x1f600, 0x20bb7).map(cp => new String(Character.toChars(cp)))
    def utf8(s: String) = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    for (_ <- 0 until 2000) {
      val (x, y) = (Seq.fill(rng.nextInt(4))(alphabet(rng.nextInt(alphabet.size))).mkString,
        Seq.fill(rng.nextInt(4))(alphabet(rng.nextInt(alphabet.size))).mkString)
      assert(Integer.signum(Spimi.Utf8Order.compare(x, y)) ==
        Integer.signum(java.util.Arrays.compareUnsigned(utf8(x), utf8(y))), s"'$x' vs '$y'")
    }
  }
}
