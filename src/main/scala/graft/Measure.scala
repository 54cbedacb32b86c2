package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.ExplainMode
import vfsidx.build.{IndexBuild, TrigramIndex}
import vfsidx.corpus.SourceFile
import vfsidx.query.{Bm25Index, QueryParser}
import vfsidx.tokenize.Tokenizer

/** Measurement mains beside the frozen driver contract (`Bench`, `Verify`):
  * evidence for optimization and scaling notes, never the driver metric.
  *
  * Usage (`runMain graft.Measure <subcommand> ...`):
  *   time <sfDir> <noop|collect> <reps> [query ...]
  *       time declared queries (the headliners when none are named) under
  *       the bench session; one JSON line, a tmpfs probe around each entry
  *       and the classes Spark compiled for it (`compiles`, `compile_ms`)
  *   plans <sfDir> <outDir> <tag> [query ...]
  *       `explain("formatted")` of declared queries (all when none are
  *       named) into `<outDir>/<query>_<tag>.txt`
  *   audit <sfDir> [out.md]
  *       check the physical-plan properties in [[audits]] and write them
  *       with their plan extracts (default PLANS.md); exits 1 if any fails
  *   scale build|trigram|refresh <cores> <nDocs> [newDocs]
  *       one scaling leg at `cores` executors; one JSON line
  *       (tools/run_scaling.sh runs interleaved N / 4N pairs)
  */
object Measure {

  def main(args: Array[String]): Unit = args.toList match {
    case "time" :: sfDir :: sink :: reps :: names if Set("noop", "collect")(sink) =>
      val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
      val spark = session(s"local[$cpus]", cpus,
        "spark.sql.files.maxPartitionBytes" -> (8 << 20).toString,
        "spark.sql.files.openCostInBytes" -> (128 << 10).toString)
      try println(time(spark, sfDir, sink, reps.toInt, if (names.isEmpty) Headliners else names))
      finally spark.stop()
    case "plans" :: sfDir :: outDir :: tag :: names =>
      withPlanSession { spark =>
        Files.createDirectories(Paths.get(outDir))
        for (name <- if (names.isEmpty) SparkEntry.queries.keys.toSeq.sorted else names) {
          try {
            val out = Paths.get(outDir, s"${name}_$tag.txt")
            Files.writeString(out, explain(spark, sfDir, name))
            println(s"wrote $out")
          } catch { case e: Throwable => println(s"SKIP $name: ${e.getMessage}") }
        }
      }
    case "audit" :: sfDir :: rest =>
      val results = withPlanSession(audit(_, sfDir))
      val out = rest.headOption.getOrElse("PLANS.md")
      Files.writeString(Paths.get(out), auditReport(sfDir, results))
      results.foreach { case (a, _, ok) => println(s"${if (ok) "holds" else "FAILS"} ${a.name}") }
      println(s"wrote $out")
      if (results.exists(!_._3)) sys.exit(1)
    case "scale" :: leg :: cores :: nDocs :: rest
        if Set("build", "trigram", "refresh")(leg) && rest.size == (if (leg == "refresh") 1 else 0) =>
      println(scale(leg, cores.toInt, nDocs.toLong, rest.headOption.fold(0L)(_.toLong)))
    case _ =>
      System.err.println("usage: Measure time <sfDir> <noop|collect> <reps> [query ...]\n" +
        "       Measure plans <sfDir> <outDir> <tag> [query ...]\n" +
        "       Measure audit <sfDir> [out.md]\n" +
        "       Measure scale build|trigram|refresh <cores> <nDocs> [newDocs (refresh only)]")
      sys.exit(2)
  }

  /** A local session with the settings every measurement shares, plus
    * `conf`. */
  private def session(master: String, partitions: Int, conf: (String, String)*): SparkSession = {
    val b = SparkSession.builder().master(master).appName("graft-measure")
      .config("spark.sql.shuffle.partitions", partitions.toLong)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    conf.foreach { case (k, v) => b.config(k, v) }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  private def withPlanSession[A](f: SparkSession => A): A = {
    val spark = session("local[4]", 4)
    try f(spark) finally spark.stop()
  }

  private def seconds(f: => Any): Double = {
    val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
  }

  /** Sequential write+read of 256 MB against tmpfs, in MB/s. The host's
    * tmpfs bandwidth has swung 14 MB/s–2.25 GB/s between windows; a probe
    * beside each number makes its window's health part of the record. */
  def bwProbe(): Double = {
    val f = Files.createTempFile(Paths.get("/dev/shm"), "bwprobe_", ".bin")
    try {
      val buf = new Array[Byte](4 << 20)
      2.0 * 256 / seconds {
        val out = Files.newOutputStream(f)
        try { var i = 0; while (i < 64) { out.write(buf); i += 1 } } finally out.close()
        val in = Files.newInputStream(f)
        try { while (in.read(buf) > 0) () } finally in.close()
      }
    } finally Files.deleteIfExists(f)
  }

  // ---- time ----

  val Headliners: Seq[String] = Seq(
    "q1_agg", "q2_filter", "q4_join_multi", "q9_window", "q13_sessionize",
    "ft_bm25_topk", "ft_trigram_search", "ft_query_lang", "ft_query_or",
    "ft_query_paren", "ft_nears", "num_index_range", "ft_count_term",
    "ft_count_and", "ft_regex_search", "ft_query_not",
    "dedup_minhash_lsh", "dedup_simhash", "ann_cosine_topk",
    "text_quality")

  /** `reps` timed runs of each named query through the `noop` sink (every
    * column of every row computed, nothing shipped to the driver) or
    * `collect`, with a tmpfs probe before and after each entry. Returns one
    * JSON line: per query {min, reps[], compiles, compile_ms, pre_mbps,
    * post_mbps}, where `compiles` and `compile_ms` count the classes Spark
    * generated and compiled over the entry's reps (driver and executors). */
  def time(spark: SparkSession, sfDir: String, sink: String, reps: Int,
           names: Seq[String]): String = {
    // loud on failure (the frozen Bench warm-up is silent): a failed index
    // build would leave every ft_* entry timing a cold or half-built index
    val warmErr =
      try { ops.FullText.indexRoot(spark, sfDir); None }
      catch { case e: Throwable =>
        System.err.println(s"Measure time: index warm-up FAILED - ft numbers measure a cold/half-built cache: $e")
        Some(e.toString.take(200))
      }
    val entries = names.map { name =>
      val query = SparkEntry.queries(name)
      val pre = bwProbe()
      spark.sparkContext.setJobDescription(s"measure: $name")
      val (compiles0, compileNs0) = (CodegenMetrics.METRIC_COMPILATION_TIME.getCount,
        CodeGenerator.compileTime)
      val times = (1 to reps).map { _ =>
        seconds {
          val df = query(spark, sfDir)
          if (sink == "noop") df.write.format("noop").mode("overwrite").save() else df.collect()
        }
      }
      val compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiles0
      val compileMs = (CodeGenerator.compileTime - compileNs0) / 1e6
      spark.sparkContext.setJobDescription(null)
      val post = bwProbe()
      f""""$name":{"min":${times.min}%.3f,"reps":[${times.map(r => f"$r%.3f").mkString(",")}],""" +
        f""""compiles":$compiles,"compile_ms":$compileMs%.1f,"pre_mbps":$pre%.0f,"post_mbps":$post%.0f}"""
    }
    s"""{"time":{${entries.mkString(",")}},"sf":"$sfDir","sink":"$sink","warm_error":${warmErr.map("\"" + _ + "\"").getOrElse("null")}}"""
  }

  // ---- plans and audit ----

  def explain(spark: SparkSession, sfDir: String, name: String): String =
    formatted(SparkEntry.queries(name)(spark, sfDir))

  private def formatted(df: DataFrame): String =
    stable(df.queryExecution.explainString(ExplainMode.fromString("formatted")))

  /** `plan` without its per-run parts: expression ids (`#1202`) read `#N`
    * and the temp index root of [[ops.FullText.indexRoot]] reads `<index>`,
    * so a regenerated PLANS.md differs only where a plan does. */
  private[graft] def stable(plan: String): String =
    plan.replaceAll("#\\d+", "#N").replaceAll("(?:file:)?[^\\s\\[,]*graft_ftidx_\\d+", "<index>")

  /** A physical-plan property of query `name`: it holds when the formatted
    * plan contains every `all` marker, at least one `anyOf` marker (the
    * alternatives, when there are any) and no `none` marker. With `scan`,
    * the plan checked is the query's result plan followed by the plan of
    * the segment scan its [[vfsidx.query.Postings.perDoc]] operator decodes
    * (the accessor the operator itself calls). */
  final case class Audit(name: String, what: String, all: Seq[String],
                         anyOf: Seq[String] = Nil, none: Seq[String] = Nil,
                         scan: Option[(SparkSession, String) => DataFrame] = None) {
    def holds(plan: String): Boolean =
      all.forall(plan.contains) && (anyOf.isEmpty || anyOf.exists(plan.contains)) &&
        !none.exists(plan.contains)
    def markers: Seq[String] = all ++ anyOf ++ none
  }

  val audits: Seq[Audit] = Seq(
    Audit("q2_filter", "filter + projection pushdown to parquet",
      Seq("PushedFilters", "GreaterThan(l_quantity", "ReadSchema")),
    Audit("q3_join_broadcast", "broadcast hash join of dim table",
      Seq("BroadcastHashJoin", "BroadcastExchange")),
    Audit("q5_semijoin", "left-semi join (EXISTS)", Seq("Join", "LeftSemi")),
    Audit("q7_topk", "top-k planned as TakeOrderedAndProject (bounded heap, no full sort)",
      Seq("TakeOrderedAndProject")),
    Audit("q1_agg", "partial (map-side) aggregation before the shuffle",
      Seq("HashAggregate", "Exchange")),
    Audit("ft_bm25_topk", "the indexed BM25 path: a pruned segment scan (In(term) pushed to parquet) decoded, summed and top-k'd by Postings.perDoc; the result is a local relation",
      Seq("LocalTableScan", "PushedFilters", "In(term"), scan = Some(bm25Scan _)),
    Audit("ft_trigram_search", "indexed substring search: the trigram candidates inline as In(doc_id, ...) pushed to the documents scan, containment re-checked on those rows only (no corpus re-tokenization)",
      Seq("PushedFilters", "In(doc_id", "StringContains(text")),
    Audit("num_index_range", "range predicate pushed to the value-sorted secondary projection (row-group [min,max] pruning)",
      Seq("PushedFilters", "GreaterThanOrEqual(value", "LessThan(value")),
    Audit("ft_nears", "overlap scoring: a pruned key scan (In(key) pushed to parquet) aggregated and top-k'd by Postings.perDoc; the result is a local relation",
      Seq("LocalTableScan", "PushedFilters", "In(key"), scan = Some(nearsScan _)),
    Audit("ft_query_lang", "query language via indexes: semi-join of candidate ids, predicates re-applied",
      Seq("PushedFilters", "Join")),
    Audit("ft_count_term", "Count answered from the index dictionary view: the term's segment counts (a pruned metadata scan; documents NEVER scanned)",
      Seq("PushedFilters", "EqualTo(term", "segments/gen="), none = Seq("documents.parquet")),
    Audit("ft_first_last", "First/Last from segment block metadata (postings blob not in ReadSchema; no corpus scan)",
      Seq("ReadSchema", "EqualTo(term", "block_first"),
      none = Seq("postings:binary", "documents.parquet")),
    Audit("ft_query_or", "|| groups: one Postings.perDoc pass over every group's conjuncts yields one local candidate set (no per-group sets, no union), one semi-join, OR re-applied",
      Seq("LeftSemi", "LocalTableScan"), none = Seq("Union")),
    Audit("ft_count_and", "Count/First/Last over a composed AND: Postings.perDoc intersects and aggregates the pruned segment rows (In(term) pushed to parquet) into a local relation — the documents table is ABSENT from both plans",
      Seq("LocalTableScan", "PushedFilters", "In(term"), none = Seq("documents.parquet"),
      scan = Some(countAndScan _)),
    Audit("ft_query_paren", "parenthesized groups normalize to DNF; the search both groups repeat is one conjunct of the one Postings.perDoc pass (its keys read once), whose local candidate set is broadcast into one semi-join, no union; predicate re-applied",
      Seq("LeftSemi", "BroadcastHashJoin", "LocalTableScan"), none = Seq("Union")),
    Audit("ft_regex_search", "regex compiled to trigram CNF clauses: the clause candidates inline as In(doc_id, ...) pushed to the documents scan, RLIKE only on those rows (no full-corpus regex scan)",
      Seq("PushedFilters", "In(doc_id", "RLIKE(text")),
    Audit("ft_query_not", "negated conjunct rides the re-applied predicate (NOT Contains) while the positive search's candidates bound the rows: one semi-join, no complement scan",
      Seq("LeftSemi", "NOT Contains")),
    Audit("dedup_minhash_lsh", "band buckets bounded: a row_number cap inside each (band,bkey) bucket, planned as WindowGroupLimit; candidates verified through a join whose kind AQE picks by size",
      Seq("WindowGroupLimit", "row_number()"),
      anyOf = Seq("SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin")))

  /** The segment scans the audited BM25, count/first/last and nears
    * queries decode, through the accessors their operators call. */
  private def bm25Scan(s: SparkSession, sfDir: String): DataFrame =
    ops.FullText.index(s, sfDir).segmentScan(Tokenizer.codeTokens(ops.FullText.Bm25Query).distinct)
  private def countAndScan(s: SparkSession, sfDir: String): DataFrame =
    ops.FullText.index(s, sfDir)
      .segmentScan(Tokenizer.codeTokens(ops.FullText.CountAndQuery).distinct)
  private def nearsScan(s: SparkSession, sfDir: String): DataFrame =
    TrigramIndex.segmentScan(s, QueryParser.triDir(ops.FullText.indexRoot(s, sfDir), "text"),
      Tokenizer.triKeys(ops.FullText.NearsNeedle).distinct)

  private val ScanHeader = "== Segment scan decoded by Postings.perDoc =="

  /** Each audit with its query's formatted plan (and its segment scan's,
    * for an audit with one) and whether it holds. */
  def audit(spark: SparkSession, sfDir: String): Seq[(Audit, String, Boolean)] =
    audits.map { a =>
      val plan = explain(spark, sfDir, a.name) + a.scan.fold("")(scan =>
        s"\n$ScanHeader\n" + formatted(scan(spark, sfDir)))
      (a, plan, a.holds(plan))
    }

  private def auditReport(sfDir: String, results: Seq[(Audit, String, Boolean)]): String = {
    val sb = new StringBuilder
    sb.append("# PLANS — physical-plan audit of key operators\n\n")
    sb.append(s"Generated by `graft.Measure audit` on `$sfDir`. For each operator: the\n")
    sb.append("property audited and the relevant `explain(formatted)` lines proving it.\n")
    sb.append("A property holds when every required marker appears, at least one\n")
    sb.append("alternative does (if any are listed), and no forbidden marker does.\n")
    sb.append("An entry with a segment scan checks the result plan followed by the plan\n")
    sb.append("of the segment scan its `Postings.perDoc` operator decodes.\n")
    for ((a, plan, ok) <- results) {
      val lines = plan.linesIterator.toSeq
      sb.append(s"\n## ${a.name} — ${a.what}\n\n```\n")
      // the operator tree of each plan (before its detail sections), then
      // marker lines
      sb.append(plan.split(ScanHeader).map(_.linesIterator.dropWhile(_.isEmpty)
        .takeWhile(_.nonEmpty).mkString("\n")).mkString(s"\n$ScanHeader\n"))
      sb.append("\n...\n")
      sb.append(lines.filter(l => a.markers.exists(l.contains)).map(_.trim).distinct.take(12).mkString("\n"))
      sb.append("\n```\n\n")
      sb.append(s"Required: ${a.all.mkString(", ")}")
      if (a.anyOf.nonEmpty) sb.append(s"; one of: ${a.anyOf.mkString(", ")}")
      if (a.none.nonEmpty) sb.append(s"; forbidden: ${a.none.mkString(", ")}")
      sb.append(s" — ${if (ok) "holds" else "FAILS"}\n")
    }
    sb.toString
  }

  // ---- scale ----

  /** One SparkSession per leg, plan held constant across parallelism levels
    * (same shuffle partition count, same buckets, same input splits): only
    * the number of executors varies. GRAFT_SCALE_MODE=cluster uses
    * local-cluster mode: cores/GRAFT_EXEC_CORES separate executor JVMs, the
    * closest sandbox analog of "N executors vs 4N executors" (separate heaps
    * isolate per-executor GC and allocation, as on a real cluster; a single
    * 32-thread JVM is not how Spark deploys). */
  private def scalingSession(cores: Int): SparkSession = {
    val execCores = sys.env.getOrElse("GRAFT_EXEC_CORES", "4").toInt
    val master =
      if (sys.env.get("GRAFT_SCALE_MODE").contains("cluster") && cores >= execCores)
        s"local-cluster[${cores / execCores},$execCores,6144]"
      else s"local[$cores]"
    session(master, 32,
      "spark.executor.memory" -> "6g",
      "spark.executor.extraClassPath" -> new java.io.File("target/scala-2.13/classes").getAbsolutePath,
      // cap GC parallelism to the executor's core share: each JVM defaults
      // to ~23 GC threads on a 32-core box, so 8 executors GC-ing together
      // would schedule ~180 runnable threads, a context-switch storm a real
      // cluster never sees (one executor per node sizes GC to the node).
      // Same for the JIT compiler.
      "spark.executor.extraJavaOptions" ->
        ("-XX:ParallelGCThreads=4 -XX:ConcGCThreads=1 -XX:CICompilerCount=2 " +
          Seq("java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
            "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
            "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")
            .map(p => s"--add-opens=java.base/$p=ALL-UNNAMED").mkString(" ")),
      "spark.sql.adaptive.enabled" -> "true",
      // input splits sized to the corpus: small enough that scans use all
      // cores, large enough that per-file serial costs (commit renames,
      // footer reads) stay negligible
      "spark.sql.files.maxPartitionBytes" ->
        (sys.env.getOrElse("GRAFT_MAX_SPLIT_MB", "4").toInt << 20).toString,
      "spark.sql.files.openCostInBytes" -> (128 << 10).toString,
      // GRAFT_SCALE_TMP=/dev/shm puts index tables + shuffle on tmpfs: a
      // real N-node cluster has N disks' aggregate bandwidth, so the
      // sandbox's single disk would otherwise impose a serial floor that no
      // amount of cores can beat
      "spark.local.dir" -> scaleTmp)
  }

  private def scaleTmp: String = sys.env.getOrElse("GRAFT_SCALE_TMP", "/tmp")

  /** The corpus table for a leg: GRAFT_CORPUS_DIR (shared across interleaved
    * legs; materialized on first use — the generator is deterministic, so
    * sharing is byte-identical to regenerating) or a per-leg table at
    * `fallback`. */
  private def corpusTable(spark: SparkSession, nDocs: Long, fallback: String): String = {
    val target = sys.env.get("GRAFT_CORPUS_DIR").fold(fallback)(d => s"$d/corpus_$nDocs")
    val p = new org.apache.hadoop.fs.Path(target)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(new org.apache.hadoop.fs.Path(target, "_SUCCESS"))) {
      // write-then-rename, so two legs racing on a shared GRAFT_CORPUS_DIR
      // never corrupt each other: each stages into its own temp sibling and
      // the loser of the rename discards its (byte-identical) copy
      val tmp = new org.apache.hadoop.fs.Path(
        s"${target}_tmp_${java.util.UUID.randomUUID().toString.take(8)}")
      vfsidx.corpus.Synth.corpus(spark, nDocs, 64).write.mode("overwrite").parquet(tmp.toString)
      if (!fs.rename(tmp, p)) {
        require(fs.exists(new org.apache.hadoop.fs.Path(target, "_SUCCESS")),
          s"rename $tmp -> $target failed and no committed corpus exists")
        fs.delete(tmp, true)
      }
    }
    target
  }

  /** One scaling leg in its own session: a temp dir, the corpus table
    * (materialized untimed: the build reads a table, it does not run the
    * generator), an executor warm-up, the timed step, one warm query, then
    * the mean time of the timed queries. The timed step is the full word
    * (`build`) or trigram (`trigram`) index build over `nDocs`, or
    * (`refresh`) the one-generation ingest of `newDocs` on top of an
    * untimed `nDocs` base build, with queries across both generations.
    * The temp dir is removed at the end. Returns one JSON line, with a tmpfs
    * probe before and after. */
  def scale(leg: String, cores: Int, nDocs: Long, newDocs: Long): String = {
    val pre = bwProbe()
    val spark = scalingSession(cores)
    val dir = Files.createTempDirectory(Paths.get(scaleTmp), s"scale_${leg}_${cores}_").toString
    val (stepSec, stepDocs, querySec) = try {
      import spark.implicits._
      val corpus = spark.read.parquet(corpusTable(spark, nDocs + newDocs, s"$dir/corpus"))
        .as[SourceFile]
      // executor registration + first codegen happen before the clock starts
      spark.range(0, 1000000, 1, 64).selectExpr("sum(id)").collect()
      val cfg = IndexBuild.BuildConfig(numBatches = 1,
        // identical across legs (plan constant); GRAFT_SCALE_BUCKETS=128
        // gives 2-4 small reduce waves per leg, so a steal burst delays a
        // sliver of a wave instead of gating all of it
        numBuckets = sys.env.getOrElse("GRAFT_SCALE_BUCKETS", "32").toInt,
        saltThreshold = nDocs / 10, shardSize = 4096)
      lazy val bm25 = new Bm25Index(spark, dir)
      val (docs, step, queries) = leg match {
        case "build" =>
          (nDocs, () => IndexBuild.build(spark, corpus, dir, cfg),
            Seq(() => bm25.topKOr("index merge", 10),
              () => bm25.topKOr("index merge search query", 10),
              () => bm25.topKAnd("index merge search", 10),
              () => bm25.topKOr("the int val", 10)))
        case "trigram" =>
          val text = corpus.select("doc_id", "content")
          (nDocs, () => TrigramIndex.build(spark, text, "doc_id", "content", dir,
            TrigramIndex.TriConfig(numBuckets = cfg.numBuckets,
              saltThreshold = cfg.saltThreshold, shardSize = cfg.shardSize)),
            Seq("merge(", "def tokenize", "needle_17", "return count").map { needle =>
              () => TrigramIndex.searchExact(spark, dir, text, "doc_id", "content", needle)
            })
        case "refresh" =>
          IndexBuild.build(spark, corpus.filter($"doc_id" < nDocs).as[SourceFile], dir, cfg)
          (newDocs, () => IndexBuild.ingestBatch(spark,
            corpus.filter($"doc_id" >= nDocs).as[SourceFile], dir, batchId = 1, cfg),
            Seq.fill(2)(() => bm25.topKOr("index merge search query", 10)))
      }
      val stepSec = seconds(step())
      queries.head().collect()
      (stepSec, docs, seconds(queries.tail.foreach(_().collect())) / queries.tail.size)
    } finally {
      spark.stop()
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
    val post = bwProbe()
    f"""{"leg":"$leg","cores":$cores,"docs":$stepDocs,"build_sec":$stepSec%.2f,""" +
      f""""docs_per_sec":${stepDocs / stepSec}%.0f,"query_sec":$querySec%.4f,""" +
      f""""pre_mbps":$pre%.0f,"post_mbps":$post%.0f}"""
  }
}
