package vfsidx.build

import org.apache.spark.sql.functions._
import vfsidx.SparkTestBase
import vfsidx.query.QueryParser
import vfsidx.tokenize.Tokenizer

/** The persisted trigram index must answer substring search identically to
  * a full-scan `contains` filter — including on the reference's Japanese
  * fixture strings and its <3-rune silent-drop rule
  * (/root/reference/vfsindex_test.go:149-159) — and `queryIndexed` must be
  * row-identical to the brute-force `query` path on every expression. */
class TrigramIndexSpec extends SparkTestBase {
  import spark.implicits._

  // mixed corpus: ASCII code-ish lines, Japanese titles (reference fixture
  // vocabulary), planted needles, an empty string, a supplementary-plane rune
  private lazy val rows: Seq[(Long, String, Long)] = {
    val rng = new scala.util.Random(1234)
    val words = Vector("index", "merge", "search", "batch", "the", "data",
      "query", "record", "val", "int", "return", "if")
    val base = (0L until 400L).map { i =>
      val n = 5 + rng.nextInt(20)
      val text = Seq.fill(n)(words(rng.nextInt(words.size))).mkString(" ")
      (i, text, (i * 7) % 100)
    }
    base ++ Seq(
      (400L, "鬼滅の刃 吾峠呼世晴による日本の漫画作品", 400L),
      (401L, "警視庁 日本の警察組織のひとつ", 401L),
      (402L, "桶狭間の戦い 戦国時代の合戦", 402L),
      (403L, "", 403L),
      (404L, "emoji 😀 in the middle of the batch", 404L),
      (405L, "ab", 405L))
  }

  private lazy val df = rows.toDF("doc_id", "text", "num").cache()

  private lazy val root = {
    val d = tmpDir("triidx")
    QueryParser.buildIndexes(spark, df, "doc_id",
      strCols = Seq("text"), numCols = Seq("num"), root = d,
      TrigramIndex.TriConfig(numBuckets = 4, saltThreshold = 100, shardSize = 64))
    d
  }
  private def triDir = QueryParser.triDir(root, "text")

  private def indexed(needle: String): Seq[Long] =
    TrigramIndex.searchExact(spark, triDir, df, "doc_id", "text", needle)
      .select($"doc_id").as[Long].collect().sorted.toSeq

  private def scanned(needle: String): Seq[Long] =
    df.filter($"text".contains(needle)).select($"doc_id").as[Long].collect().sorted.toSeq

  test("distinctTriKeys == triKeys.distinct on random unicode (parity property)") {
    val rng = new scala.util.Random(99)
    val alphabets = Array("abc xyz_09", "鬼滅の刃警視庁", "😀😁a ")
    for (_ <- 0 until 500) {
      val alpha = alphabets(rng.nextInt(alphabets.length))
      val cps = alpha.codePoints().toArray
      val n = rng.nextInt(12)
      val sb = new StringBuilder
      for (_ <- 0 until n) sb.appendAll(Character.toChars(cps(rng.nextInt(cps.length))))
      val s = sb.toString
      assert(Tokenizer.distinctTriKeys(s).toSeq == Tokenizer.triKeys(s).distinct,
        s"mismatch on '$s'")
    }
  }

  test("indexed substring search == full-scan contains on ASCII needles") {
    for (needle <- Seq("the batch", "merge", "index merge", "data query", "zzz_nowhere"))
      assert(indexed(needle) == scanned(needle), s"needle '$needle'")
  }

  test("pruned candidates (directFloor=0) == direct candidates (default floor)") {
    // the round-6 small-index gate picks between two exact paths: the
    // dictionary-probe + rarest-ranges pruned plan and the direct decode.
    // Both must yield the same candidate sets (and match the scan truth).
    for (needle <- Seq("the batch", "merge", "data query", "鬼滅の", "zzz_nowhere")) {
      val pruned = TrigramIndex.searchCandidates(spark, triDir, needle, directFloor = 0L)
        .as[Long].collect().sorted.toSeq
      val direct = TrigramIndex.searchCandidates(spark, triDir, needle)
        .as[Long].collect().sorted.toSeq
      assert(pruned == direct, s"needle '$needle'")
    }
  }

  test("indexed substring search == full-scan contains on Japanese needles") {
    for (needle <- Seq("鬼滅の", "日本の", "戦国時代", "警視庁 日本"))
      assert(indexed(needle) == scanned(needle), s"needle '$needle'")
  }

  test("needles under 3 runes match NOTHING (reference silent-drop rule)") {
    // scan would match these; the index path pins the reference semantics
    assert(scanned("ab").nonEmpty)
    assert(indexed("ab").isEmpty)
    assert(indexed("の").isEmpty)
    assert(indexed("").isEmpty)
  }

  test("supplementary-plane runes round-trip through the key encoding") {
    assert(indexed("😀 in") == Seq(404L))
  }

  test("hot trigram keys were sharded (skew handling exercised)") {
    val segs = TrigramIndex.readSegments(spark, triDir)
    assert(segs.groupBy("key").count().filter($"count" > 1).count() > 0,
      "expected at least one head key split into doc-range shards")
  }

  private def bruteNears(needle: String, k: Int): Seq[(Long, Long)] = {
    val nd = Tokenizer.triKeys(needle).distinct.toSet
    rows.map { case (id, text, _) =>
      (id, Tokenizer.distinctTriKeys(text).count(nd.contains).toLong)
    }.filter(_._2 > 0)
      .sortBy { case (id, ov) => (-ov, id) }
      .take(k)
  }

  test("nears overlap ranking matches brute force (default cost gate: full decode)") {
    val needle = "merge the data"
    val got = TrigramIndex.nears(spark, triDir, needle, 10)
      .as[(Long, Long)].collect().toSeq
    assert(got == bruteNears(needle, 10))
  }

  test("block-pruned nears matches brute force across needles and k") {
    // prunedFloor=0 forces the pruned plan on this tiny index; the sweep
    // covers its regimes — rare-prefix convergence with a candidate+hits
    // pass, m==kTotal full decode (θ never clears the common-suffix
    // size), tiny-k tight θ, and the single-key short-circuit
    val cases = Seq(
      ("merge the data", 1), ("merge the data", 3), ("merge the data", 50),
      ("index merge search", 25), ("the data query record", 5),
      ("鬼滅の刃", 5),            // planted once: fewer than k matches
      ("batch", 100),             // k larger than the match set
      ("return if val int", 10),
      ("the", 10),                // single trigram, high df
      ("zzz_nowhere", 10))        // keys absent from the index
    for ((needle, k) <- cases) {
      val got = TrigramIndex.nears(spark, triDir, needle, k, prunedFloor = 0L)
        .as[(Long, Long)].collect().toSeq
      assert(got == bruteNears(needle, k), s"needle '$needle' k=$k")
    }
  }

  test("block-pruned nears matches brute force on random needles (property)") {
    val rng = new scala.util.Random(4242)
    val words = Vector("index", "merge", "search", "batch", "the", "data",
      "query", "record", "val", "int", "return", "if", "日本の", "戦い")
    for (i <- 0 until 12) {
      val n = 1 + rng.nextInt(5)
      val needle = Seq.fill(n)(words(rng.nextInt(words.size))).mkString(" ")
      val k = 1 + rng.nextInt(30)
      val got = TrigramIndex.nears(spark, triDir, needle, k, prunedFloor = 0L)
        .as[(Long, Long)].collect().toSeq
      assert(got == bruteNears(needle, k), s"rep $i needle '$needle' k=$k")
    }
  }

  test("nears iteration-cap fallback stays exact (bounded convergence jobs)") {
    // maxIters=1 trips the round-6 convergence cap on needles that need a
    // second growth round — the fallback is the full decode, identical rows
    for ((needle, k) <- Seq(("merge the data", 3), ("index merge search", 25),
        ("the data query record", 5))) {
      val got = TrigramIndex.nears(spark, triDir, needle, k,
        prunedFloor = 0L, maxIters = 1)
        .as[(Long, Long)].collect().toSeq
      assert(got == bruteNears(needle, k), s"needle '$needle' k=$k")
    }
  }

  test("nears candidate-cap fallback stays exact") {
    // candidateCap=1 trips the over-cap fallback (full decode) on any
    // needle whose candidate set exceeds one doc
    val needle = "merge the data"
    val got = TrigramIndex.nears(spark, triDir, needle, 10,
      prunedFloor = 0L, candidateCap = 1)
      .as[(Long, Long)].collect().toSeq
    assert(got == bruteNears(needle, 10))
  }

  test("queryIndexed == brute-force query on mixed expressions") {
    val exprs = Seq(
      """text.search("the batch")""",
      """text.search("the batch") && num >= 30 && num < 80""",
      """text.search("鬼滅の") && doc_id == 400""",
      """num == 44""",
      """doc_id >= 100 && doc_id < 120""",
      """num >= 0""",            // non-selective: the cost gate must skip the index
      """num >= 0 && text.search("merge")""",
      """num >= 30 && num >= 44 && num < 80""",   // redundant lower bounds merge
      """num > 44 && num <= 44""",                // empty range
      """num == 44 && num == 45""",               // contradictory equalities
      """num == 44 && num >= 30 && text.search("the batch")""",
      """text.search("ab")""",   // <3 runes -> empty on BOTH paths
      // || groups: candidate sets union, semi-join dedups, OR re-applied
      """text.search("the batch") || num == 44""",
      """text.search("the batch") && num < 50 || text.search("data merge") && num >= 90""",
      """num == 44 || num == 45 || num == 46""",
      """text.search("zz_nowhere") || num == 44""",   // one empty group
      // string ordering comparisons stay scan predicates over the candidates
      """text >= "emoji" && text < "emojj"""",
      """text.search("the batch") && text > "a"""",
      // string == is containment (reference semantics) and consults the
      // trigram index like .search()
      """text == "the batch" && num < 50""",
      """text == "鬼滅の刃"""",
      // common-conjunct hoisting: the repeated search is common to every
      // DNF group and must be planned once above the union
      """text.search("the batch") && (num == 44 || num >= 90)""",
      // one group's candidates are ALL common -> residual-empty path
      """text.search("the batch") && (num == 44 || num == 45) || text.search("the batch")""",
      // common numeric conjunct across groups
      """num == 44 && text.search("the batch") || num == 44 && text.search("merge")""",
      // partially-overlapping (NOT common to all three) stays per-group
      """text.search("the batch") && num == 44 || text.search("merge") && num == 44 || num == 45""",
      // regex atoms: indexed via RegexTrigram CNF clauses when possible,
      // scan predicate otherwise — rows identical either way
      """text.regex("the (batch|merge)")""",
      """text.regex("quer(y|ies)") && num < 80""",
      """text.regex("[a-z]+") && num == 44""",      // opaque -> scan predicate
      """text.regex("the .* merge") || num == 45""",
      // negation: never indexable itself, rides the re-applied predicate
      // next to indexed positive conjuncts; De Morgan shapes included
      """text.search("merge") && !text.search("the batch")""",
      """!text.search("merge") && num < 60""",
      """!(text.search("the batch") || num >= 50) && text.search("merge")""",
      """!(num == 44 && text.search("merge")) && num < 55""")
    for (e <- exprs) {
      val a = QueryParser.queryIndexed(spark, df, "doc_id", root, e)
        .orderBy($"doc_id").collect().toSeq
      val b = QueryParser.query(df, e).orderBy($"doc_id").collect().toSeq
      assert(a == b, s"expr: $e")
    }
  }

  test("seeded fuzz: 30 random substrings of real docs, indexed == scan") {
    val texts = df.filter(length($"text") > 10)
      .select($"text").as[String].collect()
    val rng = new scala.util.Random(4242)
    for (_ <- 0 until 30) {
      val t = texts(rng.nextInt(texts.length))
      val len = 1 + rng.nextInt(12)   // includes <3-char needles
      val off = rng.nextInt(math.max(1, t.length - len))
      val needle = t.substring(off, math.min(t.length, off + len))
      val got = indexed(needle)
      val want = if (needle.codePointCount(0, needle.length) < 3) Seq.empty
                 else scanned(needle)
      assert(got == want, s"needle '$needle'")
    }
  }

  test("incremental: ingest new docs + remerge == fresh build over the union") {
    val d = tmpDir("triinc")
    val half = df.filter($"doc_id" < 200)
    val rest = df.filter($"doc_id" >= 200)
    val cfg = TrigramIndex.TriConfig(numBuckets = 4, saltThreshold = 100, shardSize = 64)
    TrigramIndex.build(spark, half, "doc_id", "text", d, cfg)
    TrigramIndex.ingestBatch(spark, rest, "doc_id", "text", d, batchId = 1)
    TrigramIndex.remerge(spark, d, cfg)
    for (needle <- Seq("the batch", "鬼滅の", "😀 in", "merge")) {
      val inc = TrigramIndex.searchExact(spark, d, df, "doc_id", "text", needle)
        .select($"doc_id").as[Long].collect().sorted.toSeq
      assert(inc == scanned(needle), s"needle '$needle'")
    }
    // idempotent re-ingest: same batch id is skipped, remerge output identical
    val before = TrigramIndex.readSegments(spark, d)
      .agg(count(lit(1)), sum(length($"postings"))).collect().toSeq
    TrigramIndex.ingestBatch(spark, rest, "doc_id", "text", d, batchId = 1)
    TrigramIndex.remerge(spark, d, cfg)
    val after = TrigramIndex.readSegments(spark, d)
      .agg(count(lit(1)), sum(length($"postings"))).collect().toSeq
    assert(before == after)
  }

  test("ingested batch is queryable WITHOUT remerge (generations union)") {
    val d = tmpDir("trigen")
    val half = df.filter($"doc_id" < 200)
    val rest = df.filter($"doc_id" >= 200)
    val cfg = TrigramIndex.TriConfig(numBuckets = 4, saltThreshold = 100, shardSize = 64)
    TrigramIndex.build(spark, half, "doc_id", "text", d, cfg)
    TrigramIndex.ingestBatch(spark, rest, "doc_id", "text", d, batchId = 1, cfg)
    assert(TrigramIndex.generations(spark, d) == Seq((0, 0), (1, 1)))
    for (needle <- Seq("the batch", "鬼滅の", "😀 in", "merge"))
      assert(TrigramIndex.searchExact(spark, d, df, "doc_id", "text", needle)
        .select($"doc_id").as[Long].collect().sorted.toSeq == scanned(needle),
        s"needle '$needle'")
  }

  test("compactTail folds tail generations; results and segment bytes identical to fresh") {
    val d = tmpDir("tricompact")
    val cfg = TrigramIndex.TriConfig(numBuckets = 4, saltThreshold = 100, shardSize = 64)
    val slices = Seq(
      df.filter($"doc_id" < 150),
      df.filter($"doc_id" >= 150 && $"doc_id" < 250),
      df.filter($"doc_id" >= 250 && $"doc_id" < 350),
      df.filter($"doc_id" >= 350))
    TrigramIndex.build(spark, slices.head, "doc_id", "text", d, cfg)
    slices.tail.zipWithIndex.foreach { case (s, i) =>
      TrigramIndex.ingestBatch(spark, s, "doc_id", "text", d, batchId = i + 1, cfg)
    }
    assert(TrigramIndex.generations(spark, d).size == 4)
    assert(TrigramIndex.compactTail(spark, d, cfg))
    assert(TrigramIndex.generations(spark, d) == Seq((0, 0), (1, 3)))
    for (needle <- Seq("the batch", "鬼滅の", "merge"))
      assert(TrigramIndex.searchExact(spark, d, df, "doc_id", "text", needle)
        .select($"doc_id").as[Long].collect().sorted.toSeq == scanned(needle),
        s"after compactTail: '$needle'")
    // full compaction == fresh single-generation build over everything
    TrigramIndex.remerge(spark, d, cfg)
    assert(TrigramIndex.generations(spark, d) == Seq((0, 3)))
    val fresh = tmpDir("trifresh")
    TrigramIndex.build(spark, df, "doc_id", "text", fresh, cfg)
    def fingerprint(dir: String) = TrigramIndex.readSegments(spark, dir)
      .select($"key", $"shard", $"count", md5(hex($"postings")).as("h"))
      .as[(Long, Int, Int, String)].collect().toSeq.sorted
    // same postings per (key, shard) — compaction re-derives exactly what a
    // fresh build over the union produces (bucket ids may differ: the fresh
    // build shuffles ONE batch where compaction shuffles four)
    assert(fingerprint(d) == fingerprint(fresh))
    // per-generation lineage rows were recorded (north_rule audit trail):
    // one batch of rows per generation built, keyed by its gen tag
    val lin = spark.read.parquet(TrigramIndex.lineageDir(d))
    val gens = lin.select($"gen").as[String].collect().toSet
    assert(Set("0_0", "1_3", "0_3").subsetOf(gens), s"lineage gens: $gens")
    assert(lin.filter($"stage" === "tri_segments").count() > 0)
  }

  test("resume: rebuilding over existing _SUCCESS dirs is a no-op (identical segments)") {
    val before = TrigramIndex.readSegments(spark, triDir)
      .agg(count(lit(1)), sum(length($"postings"))).collect().toSeq
    TrigramIndex.build(spark, df, "doc_id", "text", triDir,
      TrigramIndex.TriConfig(numBuckets = 4, saltThreshold = 100, shardSize = 64))
    val after = TrigramIndex.readSegments(spark, triDir)
      .agg(count(lit(1)), sum(length($"postings"))).collect().toSeq
    assert(before == after)
  }

  test("stats count every source row; max_doc_id is the highest id even without trigrams") {
    val d = tmpDir("tristats")
    val cfg = TrigramIndex.TriConfig(numBuckets = 2)
    def genStats(l: Int, h: Int) =
      spark.read.parquet(TrigramIndex.statsGenDir(d, l, h)).as[TriStats].collect().toSeq
    // highest id holds an under-3-rune string: no trigram, still a source row
    TrigramIndex.build(spark,
      Seq((1L, "alpha beta"), (2L, "gamma"), (3L, "ab")).toDF("doc_id", "text"),
      "doc_id", "text", d, cfg)
    assert(genStats(0, 0) == Seq(TriStats(3L, 3L)))
    // highest id holds a null string
    TrigramIndex.ingestBatch(spark,
      Seq((4L, "delta epsilon"), (5L, "xy"), (6L, null)).toDF("doc_id", "text"),
      "doc_id", "text", d, batchId = 1, cfg)
    assert(genStats(1, 1) == Seq(TriStats(3L, 6L)))
    assert(TrigramIndex.statsMerged(spark, d).contains(TriStats(6L, 6L)))
    assert(TrigramIndex.searchExact(spark, d,
      Seq((4L, "delta epsilon"), (1L, "alpha beta")).toDF("doc_id", "text"),
      "doc_id", "text", "epsilon").select($"doc_id").as[Long].collect().toSeq == Seq(4L))
  }
}
