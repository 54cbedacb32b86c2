package vfsidx

import org.apache.spark.sql.SparkSession
import vfsidx.build.IndexBuild
import vfsidx.corpus.Synth
import vfsidx.query.Bm25Index

/** spark-submit entry point for the index engine (the reference's CLI
  * equivalent: `vfs-index index` / `vfs-index search`,
  * /root/reference/cmd/vfs-index/main.go:332-345,536-597).
  *
  * Usage:
  *   vfsidx.Main build <indexDir> [nDocs]          synthesize corpus + build index
  *   vfsidx.Main search <indexDir> <query...>      BM25 top-10 (OR)
  *   vfsidx.Main searchand <indexDir> <query...>   BM25 top-10 (AND intersection)
  *   vfsidx.Main regist <table> <root> <idCol> <strCols> <numCols>
  *                                                 build per-column trigram/numeric
  *                                                 indexes (comma-separated cols)
  *   vfsidx.Main query <parquetTable> <expr>       reference query language, e.g.
  *                                                 'title.search("x") && id == 3'
  *   vfsidx.Main indexjson <dir> <dataDir> [field] dir refresh: ingests only NEW
  *                                                 files as a sealed generation
  *   vfsidx.Main compact <indexDir> [full]         fold segment generations
  *                                                 (tail by default, all with `full`)
  *   vfsidx.Main info <dir>                        index status + per-key posting
  *                                                 counts (reference `vfs-index info`,
  *                                                 /root/reference/cmd/vfs-index/main.go:85-96)
  *   vfsidx.Main clean <dir>                       reclaim retired generation dirs
  *                                                 (reference `vfs-index clean` ->
  *                                                 Column.CleanDirs,
  *                                                 /root/reference/column.go:638-641)
  *
  * Global flags:
  *   --output=json|csv    stream results as JSON lines / RFC-4180 CSV
  *                        (reference S9, /root/reference/search_finder.go:426-488)
  *   --index=<root>       `query` executes against the indexes under <root>
  *                        (built with `regist`) instead of a full scan
  *   --keys=<n>           `info`: how many per-key rows to print (default 10)
  *   --merge=true         `query --index`: fold touched columns' accumulated
  *                        generations before searching (the reference's
  *                        MergeOnSearch, /root/reference/config.go:62-66)
  */
object Main {
  def main(args: Array[String]): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val spark = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_MASTER", s"local[$cpus]"))
      .appName("vfsidx")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try run(spark, args) finally spark.stop()
  }

  private def flag(args: Array[String], name: String): Option[String] =
    args.collectFirst { case s if s.startsWith(s"--$name=") => s.stripPrefix(s"--$name=") }

  /** Only RECOGNIZED flags are stripped from the positional arguments, and
    * an unrecognized `--*` token is a usage error — a misspelled flag (e.g.
    * `--ouput=json`) must not be silently ignored, and the error names the
    * token so a needle that genuinely starts with `--` is at least loud
    * (quote-free CLI parsing can't distinguish the two). */
  private val knownFlags = Set("output", "index", "id", "keys", "merge")

  /** Flags each verb actually READS — a recognized flag passed to a verb
    * that ignores it is a usage error, not a silent no-op (same contract
    * as unknown flags: `search ... --merge=true` exiting 0 without folding
    * would leave the user believing MergeOnSearch ran). */
  private val verbFlags: Map[String, Set[String]] = Map(
    "build" -> Set.empty, "regist" -> Set.empty, "compact" -> Set.empty,
    "indexjson" -> Set.empty, "clean" -> Set.empty,
    "search" -> Set("output"), "searchand" -> Set("output"),
    "nears" -> Set("output"),
    "info" -> Set("keys"),
    "query" -> Set("output", "index", "id", "merge"))

  /** First flag-contract violation in the raw args, None when clean —
    * public so the rejection logic is unit-testable (the CLI path itself
    * prints and sys.exits, which a test cannot intercept). */
  def flagErrors(allArgs: Array[String]): Option[String] = {
    val isKnown = (s: String) => knownFlags.exists(k => s.startsWith(s"--$k="))
    allArgs.find(a => a.startsWith("--") && !isKnown(a))
      .map(bad => s"unknown flag: $bad (recognized: --output=json|csv, " +
        "--index=<root>, --id=<col>, --keys=<n>, --merge=true)")
      .orElse {
        val args = allArgs.filterNot(isKnown)
        val provided = knownFlags.filter(k => allArgs.exists(_.startsWith(s"--$k=")))
        args.headOption.flatMap(verbFlags.get).flatMap(allowed =>
          (provided -- allowed).toSeq.sorted.headOption.map(f =>
            s"flag --$f does not apply to '${args.head}'"))
      }
  }

  def run(spark: SparkSession, allArgs: Array[String]): Unit = {
    flagErrors(allArgs).foreach { msg =>
      System.err.println(msg)
      sys.exit(2)
    }
    val isKnown = (s: String) => knownFlags.exists(k => s.startsWith(s"--$k="))
    dispatch(spark, allArgs.filterNot(isKnown),
      flag(allArgs, "output").getOrElse("plain"), flag(allArgs, "index"),
      flag(allArgs, "id"), flag(allArgs, "keys"), flag(allArgs, "merge"))
  }

  def dispatch(spark: SparkSession, args: Array[String], output: String,
               indexRoot: Option[String], idFlag: Option[String] = None,
               keysFlag: Option[String] = None,
               mergeFlag: Option[String] = None): Unit = args.toList match {
    case "build" :: dir :: rest =>
      val n = rest.headOption.map(_.toLong).getOrElse(10000L)
      val t0 = System.nanoTime()
      val docs = Synth.corpus(spark, n)
      IndexBuild.build(spark, docs, dir)
      val secs = (System.nanoTime() - t0) / 1e9
      val nSegs = IndexBuild.readSegments(spark, dir).count()
      println(f"built index over $n docs in $secs%.1f s (${n / secs}%.0f docs/s), $nSegs segment rows -> $dir")
    case mode :: dir :: qparts if (mode == "search" || mode == "searchand") && qparts.nonEmpty =>
      val q = qparts.mkString(" ")
      val idx = new Bm25Index(spark, dir)
      val t0 = System.nanoTime()
      val res = if (mode == "search") idx.topKOr(q, 10) else idx.topKAnd(q, 10)
      if (output == "plain") {
        val hits = res.collect()
        val ms = (System.nanoTime() - t0) / 1e6
        println(f"query [$q] (${mode.stripPrefix("search")}) -> ${hits.length} hits in $ms%.0f ms")
        hits.foreach(r => println(f"  doc=${r.getLong(0)}%-8d score=${r.getDouble(1)}%.6f"))
      } else vfsidx.query.ResultEncoder.emit(res, output)
    case "nears" :: root :: colName :: needleParts if needleParts.nonEmpty =>
      // reference `Nears` (trigram-overlap similarity) over a regist-ed index
      val needle = needleParts.mkString(" ")
      val res = vfsidx.build.TrigramIndex.nears(spark,
        vfsidx.query.QueryParser.triDir(root, colName), needle, 15)
      if (output == "plain") {
        val rows = res.collect()
        println(s"nears [$needle] on $colName -> ${rows.length} docs")
        rows.foreach(r => println(f"  doc=${r.getLong(0)}%-8d overlap=${r.getLong(1)}"))
      } else vfsidx.query.ResultEncoder.emit(res, output)
    case "regist" :: table :: root :: idCol :: strCols :: numCols :: Nil =>
      val df = spark.read.parquet(table)
      def cols(s: String) = s.split(',').toSeq.map(_.trim).filter(_.nonEmpty)
      vfsidx.query.QueryParser.buildIndexes(spark, df, idCol, cols(strCols), cols(numCols), root)
      println(s"registered indexes for $table -> $root (tri: $strCols, num: $numCols)")
    case "compact" :: dir :: rest =>
      // fold accumulated segment generations (the reference's explicit
      // merge trigger; `full` folds everything, default folds the tail —
      // bounded work like the reference's mergeDuration deadline)
      val before = IndexBuild.generations(spark, dir)
      // CLI compaction is an offline maintenance op — the default
      // reclaim=true vacuums retired inputs immediately; it also sweeps
      // any retirees a deferred-reclaim policy run left behind
      if (rest.headOption.contains("full")) IndexBuild.remerge(spark, dir)
      else { IndexBuild.compactTail(spark, dir); IndexBuild.vacuum(spark, dir) }
      val after = IndexBuild.generations(spark, dir)
      println(s"compacted $dir: generations ${before.size} -> ${after.size} " +
        after.map { case (l, h) => s"gen=${l}_$h" }.mkString("[", " ", "]"))
    case "indexjson" :: dir :: dataDir :: rest =>
      // the reference's `vfs-index index --data=<dir>` over JSON files;
      // re-running diffs the directory against the ingest catalog and
      // indexes only NEW files (dirty-detection refresh, M1/M2)
      val contentField = rest.headOption.getOrElse("content")
      val t0 = System.nanoTime()
      val (nFiles, nNew) = vfsidx.corpus.Ingest.refreshJson(spark, dir, dataDir, contentField)
      val n = vfsidx.build.IndexBuild.docCount(spark, dir)
      val gens = IndexBuild.generations(spark, dir).size
      println(f"refreshed: $nFiles new files / $nNew new docs from $dataDir in ${(System.nanoTime() - t0) / 1e9}%.1f s; index now covers $n docs in $gens generation(s) -> $dir")
    case "info" :: dir :: Nil =>
      // the reference's `vfs-index info` dumps per-key posting counts of an
      // index file (key=0x… count=…, /root/reference/cmd/vfs-index/main.go:
      // info()); ours reports every index under <dir> — the word/BM25 index
      // and regist-ed per-column trigram/numeric indexes — with generation
      // layout, coverage stats, and the top-df dictionary rows in the
      // reference's key=…/count=… form
      import org.apache.spark.sql.functions.{asc, desc, sum => sqlSum}
      val topN = keysFlag.map(v => v.toIntOption.filter(_ > 0).getOrElse {
        System.err.println(s"--keys=$v: expected a positive integer")
        sys.exit(2)
      }).getOrElse(10)
      val fs = new org.apache.hadoop.fs.Path(dir)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      val (triCols, numCols) = vfsidx.corpus.Ingest.registeredCols(spark, dir)
      val segmentsExist = fs.exists(new org.apache.hadoop.fs.Path(s"$dir/segments"))
      var any = false
      if (segmentsExist) {
        any = true
        val gens = IndexBuild.generations(spark, dir)
        if (gens.isEmpty)
          // crash window between a partial write and its _SUCCESS gates —
          // report it like the tri/num branches do, don't stack-trace
          println("word index: no committed generations")
        else {
          // ONE generation listing; the stats/dict tables are read by
          // explicit gen dirs rather than via readStatsRaw/readDictRaw,
          // which would each re-run the listing + _SUCCESS probes
          val st = spark.read.parquet(gens.map { case (l, h) =>
              IndexBuild.statsGenDir(dir, l, h) }: _*)
            .agg(sqlSum("n_docs"), sqlSum("tf_sum")).head()
          val n = st.getLong(0)
          val tf = st.getLong(1)
          println(f"word index: $n docs, avgdl=${if (n == 0) 0.0 else tf.toDouble / n}%.1f, " +
            s"${gens.size} generation(s) " +
            gens.map { case (l, h) => s"gen=${l}_$h" }.mkString("[", " ", "]"))
          spark.read.parquet(gens.map { case (l, h) =>
              IndexBuild.dictGenDir(dir, l, h) }: _*)
            .groupBy("term").agg(sqlSum("df").as("df"))
            .orderBy(desc("df"), asc("term")).limit(topN).collect()
            .foreach(r => println(s"  term=${r.getString(0)} count=${r.getLong(1)}"))
        }
      }
      triCols.foreach { c =>
        any = true
        val d = vfsidx.query.QueryParser.triDir(dir, c)
        vfsidx.build.TrigramIndex.statsMerged(spark, d) match {
          case None => println(s"tri/$c: no committed generations")
          case Some(st) =>
            println(s"tri/$c: ${st.n_rows} rows, max_doc_id=${st.max_doc_id}, " +
              s"${vfsidx.build.TrigramIndex.generations(spark, d).size} generation(s)")
            vfsidx.build.TrigramIndex.readDictRaw(spark, d)
              .groupBy("key").agg(sqlSum("df").as("df"))
              .orderBy(desc("df"), asc("key")).limit(topN).collect()
              .foreach(r => println(f"  key=0x${r.getLong(0)}%012x count=${r.getLong(1)}"))
        }
      }
      numCols.foreach { c =>
        any = true
        vfsidx.build.NumericIndex.stats(spark, dir, c) match {
          case Some(st) =>
            val gens = vfsidx.build.NumericIndex.generations(spark, dir, c)
            println(s"num/$c: ${st.n_rows} rows, max_doc_id=${st.max_doc_id}, " +
              s"integral=${st.integral}, ${gens.size} generation(s)")
          case None => println(s"num/$c: no committed generations")
        }
      }
      if (!any) println(s"no index found under $dir")
    case "clean" :: dir :: Nil =>
      // the reference's `vfs-index clean` -> Column.CleanDirs (reclaim
      // stale index dirs, /root/reference/column.go:638-641): vacuum every
      // index under <dir> — deletes RETIRED generations (folded into a
      // wider committed one), the expire-snapshots analogue
      val cnt = vfsidx.corpus.Ingest.vacuumAll(spark, dir)
      println(s"cleaned $dir: reclaimed $cnt retired generation(s)")
    case "query" :: table :: exprParts if exprParts.nonEmpty =>
      val expr = exprParts.mkString(" ")
      // validate --merge BEFORE doing any work: a silently-ignored value
      // ("--merge=ture") or a merge request with no index to fold would
      // leave the user believing MergeOnSearch ran
      val mergeOn = mergeFlag.map {
        case "true" | "1" => true
        case "false" | "0" => false
        case v =>
          System.err.println(s"--merge=$v: expected true|false")
          sys.exit(2); false
      }.getOrElse(false)
      if (mergeOn && indexRoot.isEmpty) {
        System.err.println("--merge=true requires --index=<root> (no index to fold on a scan query)")
        sys.exit(2)
      }
      if (idFlag.nonEmpty && indexRoot.isEmpty) {
        System.err.println("--id=<col> requires --index=<root> (the id column only binds index candidates)")
        sys.exit(2)
      }
      val df = spark.read.parquet(table)
      val t0 = System.nanoTime()
      val res = indexRoot match {
        case Some(root) =>
          // the id column binds result rows to index candidates — it must
          // be explicit (--id=<col>) or the conventional doc_id; guessing
          // (e.g. columns.head) would silently join on the wrong column
          val idCol = idFlag.orElse(
            if (df.columns.contains("doc_id")) Some("doc_id") else None)
            .getOrElse(throw new IllegalArgumentException(
              s"query --index needs an id column: table $table has no doc_id " +
                "column; pass --id=<col> (the column regist keyed the indexes on)"))
          if (!df.columns.contains(idCol))
            throw new IllegalArgumentException(
              s"--id=$idCol: no such column in $table (has: ${df.columns.mkString(", ")})")
          // --merge=true is the reference's MergeOnSearch: fold touched
          // columns' accumulated generations before consulting candidates
          // (default TriConfig — the layout CLI `regist` builds with). The
          // query path caps the fold window (maxFoldDocs): a search must
          // never block behind compacting a giant tier — the reference
          // bounds the same work by wall-clock (mergeDuration, default
          // 1 min, /root/reference/config.go:5-9); an oversized window is
          // simply left for an offline `compact`.
          vfsidx.query.QueryParser.queryIndexed(spark, df, idCol, root, expr,
            mergeOnSearch =
              if (mergeOn) Some(vfsidx.build.TrigramIndex.TriConfig(
                maxFoldDocs = 1L << 22)) else None)
        case None => vfsidx.query.QueryParser.query(df, expr)
      }
      if (output == "plain") {
        val rows = res.limit(20).collect()
        val ms = (System.nanoTime() - t0) / 1e6
        println(f"query [$expr] -> ${rows.length} rows in $ms%.0f ms" +
          indexRoot.fold("")(r => s" (indexed via $r)"))
        rows.foreach(r => println("  " + r.mkString(" | ").take(120)))
      } else vfsidx.query.ResultEncoder.emit(res, output)
    case _ =>
      System.err.println("usage: build <dir> [nDocs] | search <dir> <query...> | searchand <dir> <query...> | regist <table> <root> <idCol> <strCols> <numCols> | indexjson <dir> <dataDir> [contentField] | compact <dir> [full] | info <dir> [--keys=<n>] | clean <dir> | nears <root> <col> <needle...> | query <table> <expr> [--index=<root>] [--id=<col>] [--merge=true] [--output=json|csv]")
      sys.exit(2)
  }
}
