package vfsidx.corpus

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Corpus ingestion from the reference's source formats.
  *
  * The reference registers a *directory* of JSON / JSONL / CSV files
  * (S1/S2, /root/reference/util.go:174-212, /root/reference/indexer.go:217-248)
  * and identifies rows by (file inode, byte offset). Spark-first restatement:
  * `spark.read.json/csv` (which also handles compressed input transparently
  * — the reference's `.lz4` path, S3) plus a deterministic dense docID.
  *
  * docID assignment at 10^12-row scale cannot be a global sort or a driver
  * collect: [[withDocIds]] stamps ids as a pure function of
  * (file rank, row position in file) — per-file counts plus a narrow
  * ordinal map, no shuffle — which is deterministic across Spark
  * configurations, sessions and crash-recovery replays. [[toCorpus]] (the
  * one-shot corpus readers) keeps the lighter partition-offset scheme:
  * deterministic for a fixed file listing and session config, which is all
  * a one-shot read needs — durable incremental indexes go through the
  * refresh/stream paths and get the file-ordinal ids.
  */
object Ingest {

  /** Attach dense doc_id + sha256(content) to any (content-bearing) frame,
    * starting at `idOffset` (0 for a fresh corpus; the current doc count for
    * incremental refresh batches). Typed Dataset transforms only (no RDD):
    * both passes run over the same deterministic file-scan plan, so
    * partition ids line up. */
  def toCorpus(df: DataFrame, contentCol: String,
               repo: String = "ingest", idOffset: Long = 0L): Dataset[SourceFile] = {
    val spark = df.sparkSession
    import spark.implicits._
    val contents = df.select(col(contentCol).cast("string")).as[String]
    // Counting pass projects ZERO source columns: for columnar sources this
    // is row-group metadata only, for JSON/CSV it skips value decode — the
    // expensive content materialization happens once, in the id-assigning
    // pass below. File-split planning depends only on (files,
    // maxPartitionBytes), never on the projection, so partition ids line up
    // across the two plans.
    val counts = df.select(lit(1).as("one")).as[Int].mapPartitions { it =>
      Iterator.single((org.apache.spark.TaskContext.getPartitionId(), it.size.toLong))
    }.collect().sortBy(_._1).map(_._2)
    val offsets = counts.scanLeft(idOffset)(_ + _)
    val bc = spark.sparkContext.broadcast(offsets)
    contents.mapPartitions { it =>
      val pid = org.apache.spark.TaskContext.getPartitionId()
      val base = bc.value(pid)
      it.zipWithIndex.map { case (content0, j) =>
        val content = Option(content0).getOrElse("")
        SourceFile(base + j, repo, s"$repo/part=$pid/row=$j", "", "", content,
          Synth.sha256Hex(content))
      }
    }
  }

  /** One ingested file's id range: `base` is the dense doc_id of its first
    * row, rows are numbered `base until base + n_docs` in file byte order. */
  final case class FilePart(path: String, n_docs: Long, base: Long)

  /** Internal file column attached while stamping ids. */
  private val FileCol = "__vfs_file"

  /** Split-planning pin: while stamping ids, every input file is read WHOLE
    * by exactly one task (`maxSplitBytes` = `openCostInBytes` =
    * `maxPartitionBytes` = 4 TB ⇒ no file is ever split and every bin
    * closes after one file). A single data file above 4 TB is outside the
    * design envelope (the reference reads and mmaps whole files too,
    * /root/reference/record.go:155-192) and is rejected loudly below. */
  private val SplitPin = 1L << 42

  /** Attach a dense doc_id column (named `idCol`) to `df`, starting at
    * `idOffset`, and hand the stamped frame (plus the per-file id ranges)
    * to `use` — a loan: an internal persist backs every pass and consumer
    * action, and is dropped when `use` returns.
    *
    * The id is a pure function of **(data file, row position in the file)**
    * — the Spark restatement of the reference's `(inode, offset)` row
    * identity (/root/reference/record.go:18-23): files are ranked by path,
    * rows numbered in file byte order. Crucially the assignment is
    * CONFIG-INDEPENDENT: it does not vary with
    * `spark.sql.files.maxPartitionBytes`, parallelism, or AQE decisions, so
    * a crash-recovery re-run under different Spark settings re-stamps
    * byte-identical ids — committed word runs and re-derived per-column
    * rewrites can never drift apart. Mechanics:
    *
    *   pass 1: per-file row counts (`groupBy(input_file_name)`) — counts
    *           are split-independent by definition; file ranks = sorted
    *           paths, bases = prefix sums (one tiny driver array).
    *   pass 2: a narrow per-partition map assigns `base(file) + ordinal`.
    *           Correct because the split-planning pin (see [[SplitPin]])
    *           guarantees each file is read whole by one task, so a
    *           partition holds each file's rows contiguously in byte order.
    *
    * No shuffle, no RDD (north_rule), no dependence on partition ids across
    * jobs. Requirements: `df` must be file-backed (JSON/CSV/parquet scans;
    * a fully in-memory frame falls back to a partition-offset scheme that is
    * deterministic only within this loan — fine for tests, not for durable
    * indexes) and must not read the same file twice (no self-unions). */
  def withDocIds[A](df: DataFrame, idCol: String, idOffset: Long)
                   (use: (DataFrame, Seq[FilePart]) => A): A = {
    val spark = df.sparkSession
    val conf = spark.conf
    val prevMax = conf.getOption("spark.sql.files.maxPartitionBytes")
    val prevCost = conf.getOption("spark.sql.files.openCostInBytes")
    def restore(key: String, v: Option[String]): Unit =
      v match { case Some(s) => conf.set(key, s); case None => conf.unset(key) }
    // files a pinned read cannot keep whole are rejected up front (driver
    // metadata, one stat per input file — the same order of FS calls the
    // refresh's own directory listing already pays)
    val inputs = df.inputFiles
    if (inputs.nonEmpty && inputs.length <= 50000) {
      val hconf = spark.sparkContext.hadoopConfiguration
      inputs.foreach { p =>
        val hp = new org.apache.hadoop.fs.Path(p)
        val len = hp.getFileSystem(hconf).getFileStatus(hp).getLen
        require(len < SplitPin,
          s"$p is $len bytes — larger than the ${SplitPin}B whole-file ingest " +
            "bound; split the file (ids are per-file, a file must fit one task)")
      }
    }
    conf.set("spark.sql.files.maxPartitionBytes", SplitPin.toString)
    conf.set("spark.sql.files.openCostInBytes", SplitPin.toString)
    val keyed = df.withColumn(FileCol, input_file_name())
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // pass 1 — ALSO the cache materialization, so the whole-file pin is
      // frozen into the cached partitioning before any conf restore
      val counts: Array[(String, Long)] = {
        import spark.implicits._
        keyed.groupBy(col(FileCol)).count().as[(String, Long)].collect()
      }
      val fileBacked = counts.forall(_._1.nonEmpty)
      val (stamped, parts) =
        if (fileBacked) {
          val ranked = counts.sortBy(_._1)
          val bases = ranked.scanLeft(idOffset)(_ + _._2)
          val parts = ranked.zip(bases).map { case ((p, n), b) => FilePart(p, n, b) }
          val baseMap = parts.map(fp => fp.path -> fp.base).toMap
          val bc = spark.sparkContext.broadcast(baseMap)
          val outSchema = df.schema.add(idCol,
            org.apache.spark.sql.types.LongType, nullable = false)
          val enc = org.apache.spark.sql.Encoders.row(outSchema)
          val nCols = df.schema.size
          val out = keyed.mapPartitions { it =>
            // rows of one file are contiguous and in byte order (whole-file
            // reads); a partition may still hold several small files
            var cur: String = null
            var base = 0L
            var ord = 0L
            it.map { r =>
              val f = r.getString(nCols)
              if (f != cur) { cur = f; base = bc.value(f); ord = 0L }
              val id = base + ord
              ord += 1L
              org.apache.spark.sql.Row.fromSeq(
                (0 until nCols).map(r.get) :+ id)
            }
          }(enc)
          (out, parts.toSeq)
        } else {
          // in-memory fallback: partition offsets over the (frozen) cache —
          // deterministic for the lifetime of this loan only
          require(counts.forall(_._1.isEmpty),
            "withDocIds input mixes file-backed and in-memory rows — ids " +
              "would not be stable; ingest from files only")
          import spark.implicits._
          val pc = keyed.select(lit(1).as("one")).as[Int].mapPartitions { it =>
            Iterator.single((org.apache.spark.TaskContext.getPartitionId(), it.size.toLong))
          }.collect().sortBy(_._1).map(_._2)
          val offsets = pc.scanLeft(idOffset)(_ + _)
          val bc = spark.sparkContext.broadcast(offsets)
          val outSchema = df.schema.add(idCol,
            org.apache.spark.sql.types.LongType, nullable = false)
          val enc = org.apache.spark.sql.Encoders.row(outSchema)
          val nCols = df.schema.size
          val out = keyed.mapPartitions { it =>
            val base = bc.value(org.apache.spark.TaskContext.getPartitionId())
            it.zipWithIndex.map { case (r, j) =>
              org.apache.spark.sql.Row.fromSeq(
                (0 until nCols).map(r.get) :+ (base + j))
            }
          }(enc)
          (out, Seq.empty[FilePart])
        }
      // the pin only needs to cover the cache materialization above;
      // restore before running the caller's (possibly heavy) consumers
      restore("spark.sql.files.maxPartitionBytes", prevMax)
      restore("spark.sql.files.openCostInBytes", prevCost)
      use(stamped, parts)
    } finally {
      restore("spark.sql.files.maxPartitionBytes", prevMax)
      restore("spark.sql.files.openCostInBytes", prevCost)
      keyed.unpersist()
    }
  }

  /** JSON or JSONL directory/file (the reference's primary format, S1). */
  def json(spark: SparkSession, path: String, contentCol: String): Dataset[SourceFile] =
    toCorpus(spark.read.option("multiLine", "false").json(path), contentCol)

  /** CSV with header sniffing (reference S2, /root/reference/indexer.go:225-233). */
  def csv(spark: SparkSession, path: String, contentCol: String): Dataset[SourceFile] =
    toCorpus(spark.read.option("header", "true").csv(path), contentCol)

  // ---- incremental directory refresh (the reference's re-Regist, M1/M2) --

  def catalogDir(indexDir: String) = s"$indexDir/ingest_catalog"

  final case class CatalogRow(file_path: String, batch_id: Int,
                              n_docs: Long, doc_id_base: Long)

  /** Re-register a JSON/JSONL data directory against an index: list the
    * directory, diff against the ingest catalog, tokenize ONLY the new files
    * as a fresh postings batch (doc_ids continue after the existing corpus),
    * remerge, and record them — the reference's dirty-detection refresh
    * (`vfs-index index -data=<dir>` re-run, /root/reference/indexer.go:77-93,
    * /root/reference/column.go:167-176). Idempotent: no new files = no work.
    * Returns (newFiles, newDocs). */
  def refreshJson(spark: SparkSession, indexDir: String, dataDir: String,
                  contentCol: String,
                  cfg: vfsidx.build.IndexBuild.BuildConfig = vfsidx.build.IndexBuild.BuildConfig(numBatches = 1, numBuckets = 8)): (Int, Long) =
    refresh(spark, indexDir, dataDir, contentCol, "json", cfg)

  def refreshCsv(spark: SparkSession, indexDir: String, dataDir: String,
                 contentCol: String,
                 cfg: vfsidx.build.IndexBuild.BuildConfig = vfsidx.build.IndexBuild.BuildConfig(numBatches = 1, numBuckets = 8)): (Int, Long) =
    refresh(spark, indexDir, dataDir, contentCol, "csv", cfg)

  /** CONTINUOUS index maintenance (Structured Streaming over the ingest
    * directory): every micro-batch of new JSON files becomes one postings
    * batch sealed as its own immediately-queryable generation — the
    * streaming twin of [[refreshJson]], enabled by the log-structured
    * generation design (the reference's closest analog is re-running
    * `vfs-index index -data=<dir>` in a loop,
    * /root/reference/indexer.go:77-93).
    *
    * Mechanics: the file source tracks processed files in the checkpoint, so
    * restarts ingest only NEW files; each epoch is durably mapped to a
    * runs-batch slot (a per-epoch file under the checkpoint, committed
    * BEFORE ingesting), and [[vfsidx.build.IndexBuild.ingestBatch]] is
    * idempotent per slot (`_SUCCESS`-gated) — a redelivered epoch after a
    * crash re-reads its original slot and is skipped, never re-ingested as
    * duplicates. doc_ids continue densely from the persisted corpus size.
    * Auto-compaction bounds the generation count exactly as in the batch
    * refresh path; batch `indexjson` refreshes may alternate with stream
    * runs (slots are allocated off the shared runs listing) but must not
    * run CONCURRENTLY with an active stream.
    *
    * Runs with `Trigger.AvailableNow` for a bounded replay (tests/backfill);
    * drop the trigger for an unbounded production stream. */
  def streamJson(spark: SparkSession, indexDir: String, dataDir: String,
                 contentCol: String, checkpointDir: String,
                 cfg: vfsidx.build.IndexBuild.BuildConfig =
                   vfsidx.build.IndexBuild.BuildConfig(numBatches = 1, numBuckets = 8),
                 maxFilesPerTrigger: Int = 1,
                 schemaHint: Option[org.apache.spark.sql.types.StructType] = None): Unit =
    stream(spark, indexDir, dataDir, contentCol, checkpointDir, "json", cfg,
      maxFilesPerTrigger, schemaHint)

  /** CSV twin of [[streamJson]] — the reference treats the two formats
    * symmetrically everywhere (/root/reference/indexer.go:192-248); the
    * epoch/slot protocol is format-agnostic so this is just the csv
    * [[ContentDecoder]] plugged into [[stream]]. */
  def streamCsv(spark: SparkSession, indexDir: String, dataDir: String,
                contentCol: String, checkpointDir: String,
                cfg: vfsidx.build.IndexBuild.BuildConfig =
                  vfsidx.build.IndexBuild.BuildConfig(numBatches = 1, numBuckets = 8),
                maxFilesPerTrigger: Int = 1,
                schemaHint: Option[org.apache.spark.sql.types.StructType] = None): Unit =
    stream(spark, indexDir, dataDir, contentCol, checkpointDir, "csv", cfg,
      maxFilesPerTrigger, schemaHint)

  /** Format-generic continuous index maintenance: any registered
    * [[ContentDecoder]] format streams through the same epoch/slot
    * protocol. See [[streamJson]] for the full mechanics. */
  def stream(spark: SparkSession, indexDir: String, dataDir: String,
             contentCol: String, checkpointDir: String, format: String,
             cfg: vfsidx.build.IndexBuild.BuildConfig =
               vfsidx.build.IndexBuild.BuildConfig(numBatches = 1, numBuckets = 8),
             maxFilesPerTrigger: Int = 1,
             schemaHint: Option[org.apache.spark.sql.types.StructType] = None): Unit = {
    import vfsidx.build.IndexBuild
    val decoder = ContentDecoder.forFormat(format)
    // Schema: caller-supplied, else the one persisted by a previous start,
    // else ONE batch inference — whose result is persisted under the
    // checkpoint so restarts never re-scan the (ever-growing) ingest
    // directory just to re-infer what is already known.
    val ckFs = new org.apache.hadoop.fs.Path(checkpointDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val schemaPath = new org.apache.hadoop.fs.Path(checkpointDir, "graft_schema.json")
    val schema: org.apache.spark.sql.types.StructType = schemaHint.getOrElse {
      if (ckFs.exists(schemaPath)) {
        org.apache.spark.sql.types.DataType.fromJson(readText(ckFs, schemaPath))
          .asInstanceOf[org.apache.spark.sql.types.StructType]
      } else {
        val inferred = decoder.inferSchema(spark, dataDir)
        require(inferred.nonEmpty,
          s"cannot infer a $format schema from $dataDir (empty or no valid " +
            "data yet); pass schemaHint or start the stream after the first " +
            "file lands")
        writeAtomic(ckFs, schemaPath, inferred.json)
        inferred
      }
    }
    // reclaim generations retired by earlier auto-compactions: by the next
    // stream start, any reader that planned against them is long gone
    vacuumAll(spark, indexDir)
    val (triCols, numCols) = registeredCols(spark, indexDir)
    val needed = (contentCol +: (triCols ++ numCols)).distinct
    val missingCols = needed.filterNot(f => schema.fieldNames.contains(f))
    require(missingCols.isEmpty,
      s"stream schema lacks column(s) ${missingCols.mkString(", ")} required by " +
        "the content field or a registered per-column index")
    // Durable epoch -> runs-slot map (one tiny file per epoch under the
    // checkpoint, written via temp+rename BEFORE ingesting): a REPLAYED
    // epoch — crash after foreachBatch, before the offset-log commit —
    // re-reads its original slot and the `_SUCCESS` gates skip the work,
    // instead of re-ingesting the same files into a fresh slot as duplicate
    // docs. A NEW epoch allocates max(existing runs batch)+1, so slots stay
    // monotone even if a batch `indexjson` refresh ran between stream runs.
    // (Do NOT run a batch refresh CONCURRENTLY with an active stream on the
    // same index — slot allocation is first-committed-wins, not locked.)
    /** (word slot, per-column slots, doc_id base) for this epoch — read
      * back from the durable per-epoch file on replay. The BASE must be
      * recorded too: a replayed epoch whose word ingest already committed
      * would re-derive a base from a docCount that now INCLUDES its own
      * docs, and the per-column rewrites would stamp the replayed rows with
      * shifted ids. The recorded base makes the recomputed id assignment
      * byte-identical to the original attempt. */
    def slotFor(epochId: Long, freshBase: => Long): (Int, Map[String, Int], Option[Long]) = {
      val f = new org.apache.hadoop.fs.Path(checkpointDir, s"graft_slots/epoch-$epochId")
      if (ckFs.exists(f)) {
        val lines = readText(ckFs, f).split("\n").toSeq
        val colSlots = lines.lift(1).fold(Map.empty[String, Int])(decodeSlots)
        // a pre-upgrade (v1) epoch file has no recorded base: the word
        // ingest is still replay-safe (_SUCCESS gates skip before ids
        // matter), but per-column ingest MUST NOT run — a freshly-derived
        // base could be shifted if the word ingest already committed.
        // Signalled by base = None.
        (lines.head.trim.toInt, colSlots,
          if (lines.size < 3) Option.empty[Long] else Some(lines(2).trim.toLong))
      } else {
        val slot = IndexBuild.maxRunsBatch(spark, indexDir) + 1
        // RESERVE every slot in the index itself (create the marker dirs)
        // before recording them in the checkpoint: max-batch-based
        // allocators (a later batch refresh, another stream start) then see
        // them and skip past, even if this epoch crashes before writing any
        // data — otherwise a refresh could claim a slot and the replayed
        // epoch would be _SUCCESS-skipped over the refresh's data, silently
        // dropping this epoch's files.
        IndexBuild.reserveSlot(spark, indexDir, slot)
        val colSlots = allocateColSlots(spark, indexDir, triCols, numCols)
        val base = freshBase
        writeAtomic(ckFs, f, s"$slot\n${encodeSlots(colSlots)}\n$base")
        (slot, colSlots, Some(base))
      }
    }
    val streamDf = decoder.readStream(spark, schema, dataDir, maxFilesPerTrigger)
    val q = streamDf.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (df: DataFrame, epochId: Long) =>
        // an empty epoch allocates no slot — safe: slot allocation stays
        // monotone and compaction reads only existing batches
        if (df.isEmpty) ()
        else {
        // reclaim generations retired by PREVIOUS epochs' compactions —
        // one epoch is the in-stream grace period, so an unbounded stream
        // never accumulates retired dirs
        vacuumAll(spark, indexDir)
        // ids continue after the persisted corpus (docCount reads only
        // COMMITTED doc_stats partitions); on replay the RECORDED base
        // wins — see slotFor's Scaladoc
        val (slot, colSlots, baseOpt) =
          slotFor(epochId, IndexBuild.docCount(spark, indexDir))
        val base = baseOpt.getOrElse(IndexBuild.docCount(spark, indexDir))
        // the loan persists the micro-batch parse once; every consumer
        // re-runs only the cached-scan + id map (see refresh ingestFiles)
        withDocIds(df.select(needed.map(col): _*), IdCol, base) { (rawIds, _) =>
          val corpus = corpusFromIds(rawIds, contentCol, repo = s"stream/batch=$slot")
          IndexBuild.ingestBatch(spark, corpus, indexDir, slot, cfg)
          // size-tiered auto-fold: bounded work (one small window), never
          // spans a reserved slot, reclaim deferred to a later vacuum
          IndexBuild.compactTiered(spark, indexDir, cfg, reclaim = false)
          // registered per-column indexes ride the same epoch/slot protocol;
          // a legacy (v1, base-less) replayed epoch skips them — its base
          // cannot be trusted for a rewrite (word gates are id-safe)
          if (baseOpt.isDefined)
            ingestColumns(spark, indexDir, rawIds, triCols, numCols, colSlots, cfg)
          else if (triCols.nonEmpty || numCols.nonEmpty)
            System.err.println(s"vfsidx: epoch $epochId replayed from a " +
              "pre-upgrade slot file (no recorded base) - per-column indexes " +
              "skipped for this epoch; run regist to refresh them")
        }
        ()
        }
      }
      .start()
    q.awaitTermination()
  }

  /** Per-column indexes registered under the index dir — the columns the
    * incremental drivers must keep fresh alongside the word index
    * (the reference re-`Regist`s every registered column,
    * /root/reference/indexer.go:77-93): (trigram columns, numeric columns),
    * discovered from the tri/<col> and num/<col> directories that
    * `QueryParser.buildIndexes` lays down. */
  def registeredCols(spark: SparkSession, indexDir: String): (Seq[String], Seq[String]) = {
    def subdirs(p: String): Seq[String] = {
      val path = new org.apache.hadoop.fs.Path(p)
      val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (!fs.exists(path)) Seq.empty
      else fs.listStatus(path).filter(_.isDirectory).map(_.getPath.getName).toSeq.sorted
    }
    (subdirs(s"$indexDir/tri"), subdirs(s"$indexDir/num"))
  }

  /** Reclaim the retired generations of the word index and of every
    * registered per-column index under `indexDir` (each index's
    * [[vfsidx.build.Generations.vacuum]]); returns how many were reclaimed. */
  def vacuumAll(spark: SparkSession, indexDir: String): Int = {
    import vfsidx.build.{IndexBuild, NumericIndex, TrigramIndex}
    val (triCols, numCols) = registeredCols(spark, indexDir)
    IndexBuild.vacuum(spark, indexDir) +
      triCols.map(c => TrigramIndex.vacuum(spark, s"$indexDir/tri/$c")).sum +
      numCols.map(c => NumericIndex.vacuum(spark, indexDir, c)).sum
  }

  private def triCfgOf(cfg: vfsidx.build.IndexBuild.BuildConfig) =
    vfsidx.build.TrigramIndex.TriConfig(
      numBuckets = cfg.numBuckets, saltThreshold = cfg.saltThreshold,
      shardSize = cfg.shardSize, maxGenerations = cfg.maxGenerations,
      tierFanout = cfg.tierFanout)

  /** Write `text` to `path` through a `.<name>.tmp` sibling and a rename,
    * so a reader sees the previous file or the whole new one, never a torn
    * write. */
  private def writeAtomic(fs: org.apache.hadoop.fs.FileSystem, path: org.apache.hadoop.fs.Path,
                          text: String): Unit = {
    val tmp = new org.apache.hadoop.fs.Path(path.getParent, s".${path.getName}.tmp")
    val out = fs.create(tmp, true)
    try out.write(text.getBytes("UTF-8")) finally out.close()
    if (fs.exists(path)) fs.delete(path, false)
    require(fs.rename(tmp, path), s"rename $tmp -> $path failed")
  }

  private def readText(fs: org.apache.hadoop.fs.FileSystem, path: org.apache.hadoop.fs.Path): String = {
    val in = fs.open(path)
    try new String(in.readAllBytes(), "UTF-8") finally in.close()
  }

  /** The per-column slot line of an epoch file or refresh intent: `k=v`
    * pairs sorted by key and joined by `,`, or `-` when there are none. */
  private def encodeSlots(slots: Map[String, Int]): String =
    if (slots.isEmpty) "-" else slots.toSeq.sorted.map { case (k, v) => s"$k=$v" }.mkString(",")

  private def decodeSlots(line: String): Map[String, Int] =
    if (line.trim == "-") Map.empty
    else line.trim.split(',').map { kv => val Array(k, v) = kv.split('='); k -> v.toInt }.toMap

  /** Internal name for the dense id column attached to raw ingested rows —
    * reserved so it can never collide with a source column. */
  private val IdCol = "__vfs_doc_id"

  /** Allocate-and-RESERVE the per-column index slots for one ingest unit:
    * slot = next past everything present, then mkdir the slot's marker dir
    * so other allocators (a stream start, another refresh) skip past even
    * if we crash before durably recording the allocation. Returned map is
    * keyed "tri:<col>" / "num:<col>" for the WAL / epoch file. */
  private def allocateColSlots(spark: SparkSession, indexDir: String,
                               triCols: Seq[String], numCols: Seq[String]): Map[String, Int] = {
    import vfsidx.build.{NumericIndex, TrigramIndex}
    val tri = triCols.map { c =>
      val d = s"$indexDir/tri/$c"
      val slot = TrigramIndex.maxBatch(spark, d) + 1
      TrigramIndex.reserveSlot(spark, d, slot)
      s"tri:$c" -> slot
    }
    val num = numCols.map { c =>
      val slot = NumericIndex.maxBatch(spark, indexDir, c) + 1
      NumericIndex.reserveSlot(spark, indexDir, c, slot)
      s"num:$c" -> slot
    }
    (tri ++ num).toMap
  }

  /** Ingest the id-stamped batch into every registered per-column index at
    * the recorded slots (overwrite-mode: recovery recomputes the same rows,
    * so rewriting a partially-ingested slot is idempempotent), then fold via
    * the tiered policy with reclaim deferred (concurrent readers). */
  private def ingestColumns(spark: SparkSession, indexDir: String, rawIds: DataFrame,
                            triCols: Seq[String], numCols: Seq[String],
                            colSlots: Map[String, Int],
                            cfg: vfsidx.build.IndexBuild.BuildConfig): Unit = {
    import vfsidx.build.{NumericIndex, TrigramIndex}
    triCols.foreach { c =>
      val d = s"$indexDir/tri/$c"
      val slot = colSlots.getOrElse(s"tri:$c", TrigramIndex.maxBatch(spark, d) + 1)
      TrigramIndex.ingestBatch(spark, rawIds, IdCol, c, d, slot,
        triCfgOf(cfg), overwrite = true)
      TrigramIndex.compactTiered(spark, d, triCfgOf(cfg), reclaim = false)
    }
    numCols.foreach { c =>
      val slot = colSlots.getOrElse(s"num:$c", NumericIndex.maxBatch(spark, indexDir, c) + 1)
      NumericIndex.ingestBatch(spark, rawIds, IdCol, c, indexDir, slot,
        cfg.numBuckets, overwrite = true)
      NumericIndex.compactTiered(spark, indexDir, c,
        cfg.maxGenerations, cfg.tierFanout, cfg.numBuckets, reclaim = false)
    }
  }

  /** Raw batch -> SourceFile corpus off an id-stamped frame. */
  private def corpusFromIds(rawIds: DataFrame, contentCol: String,
                            repo: String): Dataset[SourceFile] = {
    val spark = rawIds.sparkSession
    import spark.implicits._
    rawIds.select(col(IdCol), col(contentCol).cast("string"))
      .as[(Long, String)]
      .map { case (id, c0) =>
        val c = Option(c0).getOrElse("")
        SourceFile(id, repo, s"$repo/row=$id", "", "", c, Synth.sha256Hex(c))
      }
  }

  /** Format-generic directory refresh: any registered [[ContentDecoder]]
    * format flows through the same catalog/WAL/slot machinery (see
    * [[refreshJson]] for the contract). */
  def refresh(spark: SparkSession, indexDir: String, dataDir: String,
              contentCol: String, format: String,
              cfg: vfsidx.build.IndexBuild.BuildConfig): (Int, Long) = {
    import spark.implicits._
    import vfsidx.build.IndexBuild
    val decoder = ContentDecoder.forFormat(format)
    val exts = decoder.extensions
    val hconf = spark.sparkContext.hadoopConfiguration
    val dataPath = new org.apache.hadoop.fs.Path(dataDir)
    val fs = dataPath.getFileSystem(hconf)
    val files = fs.listStatus(dataPath)
      .filter(_.isFile)
      .map(_.getPath.toString)
      .filter(p => exts.exists(p.endsWith))
      .sorted
    val catPath = new org.apache.hadoop.fs.Path(catalogDir(indexDir))
    val catFs = catPath.getFileSystem(hconf)
    val (triCols, numCols) = registeredCols(spark, indexDir)
    // reclaim generations retired by the PREVIOUS refresh's compaction -
    // one full refresh cycle is the grace period for in-flight readers
    if (catFs.exists(catPath)) vacuumAll(spark, indexDir)

    // ---- refresh intent WAL ------------------------------------------
    // (slot, doc base, per-column slots, file list) is persisted BEFORE
    // ingesting, cleared after the catalog append: a crash anywhere between
    // leaves an intent whose recovery below re-derives the SAME slots and
    // base, so the _SUCCESS gates (word index) and overwrite-mode rewrites
    // (per-column indexes) make the re-run exactly-once instead of
    // re-ingesting the same files into fresh slots as duplicate docs.
    val intentP = new org.apache.hadoop.fs.Path(s"$indexDir/refresh_intent")
    /** None = no intent. A truncated/unparseable intent (which writeIntent's
      * temp+rename protocol can never produce, but a hand-edited or
      * foreign-version file could) parses to an EMPTY file list — recovery
      * then just clears it instead of wedging every future refresh. */
    def readIntent(): Option[(Int, Long, Map[String, Int], Seq[String])] =
      if (!catFs.exists(intentP)) None
      else {
        val lines = readText(catFs, intentP).split("\n").toSeq
        scala.util.Try {
          if (lines.head.trim == "v2") {
            (lines(1).trim.toInt, lines(2).trim.toLong, decodeSlots(lines(3)),
              lines.drop(4).filter(_.nonEmpty))
          } else {
            // v1 layout (slot, base, files): recover with no recorded
            // per-column slots — v1 refreshes never ingested per-column
            // indexes, and the recorded base keeps any NEWLY-registered
            // columns' fresh-slot ingest id-correct
            (lines.head.trim.toInt, lines(1).trim.toLong,
              Map.empty[String, Int], lines.drop(2).filter(_.nonEmpty))
          }
        }.toOption.orElse(Some((0, 0L, Map.empty[String, Int], Seq.empty[String])))
      }
    def writeIntent(slot: Int, base: Long, colSlots: Map[String, Int],
                    fls: Seq[String]): Unit =
      writeAtomic(catFs, intentP,
        s"v2\n$slot\n$base\n${encodeSlots(colSlots)}\n" + fls.mkString("\n"))
    def clearIntent(): Unit =
      if (catFs.exists(intentP)) catFs.delete(intentP, false)

    /** Ingest one file batch at a fixed (slot, base, per-column slots) and
      * record it in the catalog; idempotent given the same arguments. */
    def ingestFiles(slot: Int, base: Long, colSlots: Map[String, Int],
                    fls: Seq[String], initial: Boolean): Long = {
      val raw = decoder.read(spark, fls)
      val needed = (contentCol +: (triCols ++ numCols)).distinct
      val missing = needed.filterNot(raw.columns.contains)
      require(missing.isEmpty,
        s"ingested files lack column(s) ${missing.mkString(", ")} required by " +
          s"the content field or a registered per-column index (have: " +
          s"${raw.columns.mkString(", ")})")
      // ONE id assignment feeds the corpus and every per-column index. The
      // loan's internal persist means the JSON/CSV parse happens exactly
      // once (the per-file count pass materializes the cache) and every
      // consumer — word tokenize, each per-column ingest, doc_stats —
      // re-runs only the cheap cached-scan + id map. Reference M1's single
      // tokenize pass over new files, /root/reference/column.go:139-176.
      withDocIds(raw.select(needed.map(col): _*), IdCol, base) { (rawIds, parts) =>
        val nNew = parts.map(_.n_docs).sum
        val corpus = corpusFromIds(rawIds, contentCol, repo = s"refresh/batch=$slot")
        if (initial) IndexBuild.build(spark, corpus, indexDir, cfg.copy(numBatches = 1))
        else {
          // O(new data): the batch seals its own queryable generation - no
          // remerge. Compaction only fires on accumulation; reclaim is
          // deferred to the NEXT refresh's vacuum so concurrent readers
          // keep their files.
          IndexBuild.ingestBatch(spark, corpus, indexDir, slot, cfg)
          IndexBuild.compactTiered(spark, indexDir, cfg, reclaim = false)
        }
        // registered per-column indexes stay fresh alongside the word index
        ingestColumns(spark, indexDir, rawIds, triCols, numCols, colSlots, cfg)
        // one catalog row per file would need per-file counts; the refresh
        // unit is the batch, so record the batch's files with batch totals
        IndexBuild.TableIO.append(
          fls.map(f => CatalogRow(f, slot, nNew, base)).toSeq.toDF(),
          catalogDir(indexDir))
        nNew
      }
    }

    // ---- recovery: finish a crashed refresh before planning a new one ----
    readIntent().foreach { case (slot, base, colSlots, fls) =>
      if (fls.nonEmpty) {
        val recorded = catFs.exists(catPath) &&
          spark.read.parquet(catalogDir(indexDir))
            .filter($"file_path" === fls.head).limit(1).count() > 0
        if (!recorded)
          ingestFiles(slot, base, colSlots, fls,
            initial = slot == 0 && !catFs.exists(catPath))
      }
      // an empty file list is a stale/foreign intent: clear, don't wedge
      clearIntent()
    }

    val catEmpty = !catFs.exists(catPath)
    // Diff listed files against the catalog as an ANTI-JOIN, never
    // collecting the catalog to the driver (at 10^7 ingested files the
    // catalog is a table, not a driver object). Only the NEW paths - the
    // refresh unit - come back.
    val newFiles: Seq[String] =
      if (catEmpty) files.toSeq
      else {
        val cat = spark.read.parquet(catalogDir(indexDir))
        files.toSeq.toDF("file_path")
          .join(cat.select($"file_path"), Seq("file_path"), "left_anti")
          .as[String].collect().toSeq.sorted
      }
    if (newFiles.isEmpty) return (0, 0L)
    // Batch slot and doc_id base come from the INDEX, not the catalog: a
    // streaming ingest (streamJson) occupies runs slots and doc_ids the
    // catalog never sees - deriving either from catalog sums would collide
    // with them (slot collision = new files silently recorded as indexed
    // without ever being tokenized). docCount reads only COMMITTED
    // doc_stats partitions, so a crashed write cannot shift the base.
    val batchId: Int =
      if (catEmpty) 0
      else {
        val maxBatch = spark.read.parquet(catalogDir(indexDir))
          .agg(max($"batch_id")).as[Int].head()
        math.max(maxBatch + 1, IndexBuild.maxRunsBatch(spark, indexDir) + 1)
      }
    val docBase = IndexBuild.docCount(spark, indexDir)
    // Guard against a catalog/index mismatch: an empty catalog (and no
    // intent - recovery ran above) means THIS is the initial build, which
    // will occupy runs/batch=0 - if that batch already holds docs (a prior
    // `build`/pre-catalog `indexjson` run: its runs committed, or purged
    // under a committed generation), silently skipping it would record the
    // new files as indexed without ever tokenizing them, with wrong doc_id
    // bases for every later refresh.
    if (catEmpty && IndexBuild.batchIngested(spark, indexDir, 0))
      throw new IllegalStateException(
        s"$indexDir already contains runs/batch=0 but has no ingest catalog: " +
          "it was built outside the refresh flow. Refresh into a fresh index " +
          "directory (or keep using the original build path).")
    // RESERVE every slot (mkdir its marker dir) before durably recording
    // the plan: a stream start between the intent write and the ingest
    // would otherwise allocate the same slots and the recovery's
    // _SUCCESS-gated re-run would silently skip over the stream's data.
    // (A crash in the reserve->writeIntent window orphans empty reserved
    // dirs: a permanent coverage gap that blocks folds across it — a
    // bounded performance wart, never a correctness one.)
    IndexBuild.reserveSlot(spark, indexDir, batchId)
    val colSlots = allocateColSlots(spark, indexDir, triCols, numCols)
    writeIntent(batchId, docBase, colSlots, newFiles)
    val nNew = ingestFiles(batchId, docBase, colSlots, newFiles, initial = catEmpty)
    clearIntent()
    (newFiles.length, nNew)
  }
}
