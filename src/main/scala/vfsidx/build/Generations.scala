package vfsidx.build

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The generation lifecycle of one index — ONE implementation shared by the
  * word, trigram and numeric indexes (the reference's single merge
  * lifecycle for every column kind, `baseMergeIndex`,
  * reference column.go:418-604, re-expressed log-structured).
  *
  * Each derived table of an index lives under `gen=<loBatch>_<hiBatch>`
  * directories. A generation is COMMITTED once every one of its tables
  * carries `_SUCCESS`; a committed generation contained in a wider
  * committed one is RETIRED (folded, not yet vacuumed) and hidden from
  * readers, so reads stay exact through the whole window between a fold
  * commit and its vacuum.
  *
  * An index kind supplies only the facts that differ:
  *  - `parent`: the dir whose `gen=lo_hi` children are listed;
  *  - `tables(l, h)`: every table dir a generation must have committed;
  *  - `slotDir(b)`: batch `b`'s slot dir, whose existence reserves the slot;
  *  - `statsDir(l, h)` and `statCols`: the generation's stats table and the
  *    columns compaction reads from it, each with its reduction across rows
  *    and generations. The FIRST column is the size measure tiered
  *    compaction balances;
  *  - `onList`: a check run on every survivor listing (the word index's
  *    format gate).
  * The kind's seal step (its buildGeneration over a fold window, given the
  * window's reduced stats) is passed per compaction call, because it
  * carries that call's build config. */
private[build] final class Generations(
    spark: SparkSession,
    parent: String,
    tables: (Int, Int) => Seq[String],
    slotDir: Int => String,
    statsDir: (Int, Int) => String,
    statCols: Seq[(String, Generations.Reduce)],
    onList: Seq[(Int, Int)] => Unit) {

  import Generations._
  import IndexBuild.TableIO

  private def fs(p: Path) = p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Has every table of generation (l, h) committed? */
  def isCommitted(l: Int, h: Int): Boolean = tables(l, h).forall(TableIO.done(spark, _))

  /** Every fully-committed generation, including RETIRED ones. */
  private def committed: Seq[(Int, Int)] = {
    val p = new Path(parent)
    if (!fs(p).exists(p)) return Seq.empty
    fs(p).listStatus(p).filter(_.isDirectory).toSeq.flatMap { st =>
      st.getPath.getName match {
        case genRe(lo, hi) if isCommitted(lo.toInt, hi.toInt) => Some((lo.toInt, hi.toInt))
        case _ => None
      }
    }
  }

  /** The generations queries should read: committed, not retired, sorted. */
  def generations: Seq[(Int, Int)] = {
    val gens = survivors(committed)
    onList(gens)
    gens
  }

  /** One table read across the survivor generations (explicit leaf dirs,
    * so no partition column is inferred); loud when none is committed. */
  def read(table: (Int, Int) => String): DataFrame = {
    val gens = generations
    require(gens.nonEmpty, s"no completed generations under $parent")
    spark.read.parquet(gens.map { case (l, h) => table(l, h) }: _*)
  }

  /** Delete RETIRED generation directories — the Iceberg/Delta
    * expire-snapshots pattern: compaction only COMMITS the combined
    * generation; reclaiming happens later, after a grace period longer than
    * any running query, so in-flight readers that planned their scans
    * before the compaction commit keep their files. Returns the number
    * reclaimed. */
  def vacuum: Int = {
    val all = committed
    val retired = all.filter(isRetired(all, _))
    retired.foreach { case (l, h) => tables(l, h).foreach(TableIO.rmrf(spark, _)) }
    retired.size
  }

  /** Highest batch slot PRESENT on disk (committed, in flight, or merely
    * reserved), -1 for none — the monotone slot allocator shared by the
    * batch refresh, re-regist and streaming paths, so their batch ids
    * never collide. */
  def maxBatch: Int = {
    val p = new Path(slotDir(0)).getParent
    if (!fs(p).exists(p)) -1
    else fs(p).listStatus(p).map(_.getPath.getName)
      .collect { case slotRe(b) => b.toInt }
      .foldLeft(-1)(math.max)
  }

  /** Reserve slot `batch` (mkdir its slot dir) BEFORE durably recording
    * it, so every other allocator skips past it even if the recording
    * actor crashes before writing any data. */
  def reserveSlot(batch: Int): Unit = {
    val p = new Path(slotDir(batch))
    fs(p).mkdirs(p)
  }

  /** Every requested stat column of every generation in `gens`, reduced
    * per generation, in ONE job: all the stats tables are read at once and
    * each row is mapped back to its `gen=lo_hi` dir via `input_file_name`
    * (one driver round-trip instead of one tiny job per generation). */
  private def statPerGen(gens: Seq[(Int, Int)]): Map[(Int, Int), Array[Long]] = {
    import spark.implicits._
    spark.read.parquet(gens.map { case (l, h) => statsDir(l, h) }: _*)
      .select(input_file_name().as("f"),
        array(statCols.map { case (c, _) => col(c).cast("long") }: _*).as("vals"))
      .as[(String, Seq[Long])]
      .collect()
      .groupBy { case (f, _) =>
        genRe.findFirstMatchIn(f) match {
          case Some(m) => (m.group(1).toInt, m.group(2).toInt)
          case None => throw new IllegalStateException(s"no gen= in stats path $f")
        }
      }
      .map { case (g, rows) => g -> reduce(rows.toSeq.map(_._2.toArray)) }
  }

  private def reduce(rows: Seq[Array[Long]]): Array[Long] =
    rows.reduce((a, b) => statCols.indices.map(i => statCols(i)._2(a(i), b(i))).toArray)

  /** Fold the CONTIGUOUS generations `win` into one covering their union
    * via the kind's `seal`, given the window's reduced stats. The folded
    * inputs are NOT deleted here: once the combined generation commits,
    * [[generations]] hides them (containment rule) so new readers never
    * see them, while readers already mid-scan keep their files;
    * [[vacuum]] reclaims them later.
    *
    * The window must be CONTIGUOUSLY covered: a gap in [min, max] is a
    * reserved-but-unsealed slot (a crashed streaming epoch awaiting
    * replay, Ingest.slotFor). Committing a combined range spanning it
    * would (a) bury the epoch's later-sealed gen=slot_slot via the
    * containment rule (vacuum would then delete it — silent data loss)
    * and (b) make a SECOND fold of the combined generation read the
    * foreign slot's runs. The policies below split at gaps
    * ([[Generations.contiguousGroups]]), so this guard is the backstop. */
  private def fold(win: Seq[(Int, Int)], st: Map[(Int, Int), Array[Long]])(seal: Seal): Unit = {
    require(win.size >= 2, "fold needs at least two generations")
    win.sliding(2).foreach {
      case Seq((_, h1), (l2, _)) =>
        require(l2 == h1 + 1,
          s"fold window under $parent spans a coverage gap between batch $h1 " +
            s"and $l2 (a reserved streaming slot); fold contiguous groups only")
      case _ => ()
    }
    seal(win, reduce(win.map(st)))
  }

  /** Fold every contiguous group of 2+ generations in `gens`, all groups'
    * stats read in one job. True when anything was folded. */
  private def foldGroups(gens: Seq[(Int, Int)])(seal: Seal): Boolean = {
    val groups = contiguousGroups(gens).filter(_.size >= 2)
    if (groups.nonEmpty) {
      val st = statPerGen(groups.flatten)
      groups.foreach(fold(_, st)(seal))
    }
    groups.nonEmpty
  }

  /** SIZE-TIERED bounded compaction — the refresh/stream auto-fold policy
    * (the reference's accumulated-write-file merge with a work bound
    * standing in for its `mergeDuration` deadline,
    * reference config.go:62-66). Triggers only above
    * `maxGenerations` survivors, then folds ONE window of 2..`tierFanout`
    * adjacent similar-sized generations — the cheapest one
    * ([[Generations.pickTieredWindow]]), never across a coverage gap. Work
    * per compaction is bounded by the folded tier's size, not the total
    * corpus: N same-sized refreshes cost O(N log N) total re-shuffled
    * postings instead of the O(N·corpus) a fold-everything policy pays.
    * `reclaim=false` is for callers serving CONCURRENT readers (the
    * refresh/stream policies), which vacuum on their own later schedule.
    * Returns true when a fold happened. */
  def compactTiered(maxGenerations: Int, tierFanout: Int, maxFoldDocs: Long,
                    reclaim: Boolean)(seal: Seal): Boolean = {
    val gens = generations
    if (gens.size <= maxGenerations) false
    else {
      // one stats job: the window choice's sizes AND the fold's totals
      val st = statPerGen(gens)
      pickTieredWindow(contiguousGroups(gens), st(_)(0), tierFanout, maxFoldDocs) match {
        case Some(win) =>
          fold(win, st)(seal)
          if (reclaim) vacuum
          true
        case None => false
      }
    }
  }

  /** Explicit tail compaction (CLI `compact`): fold every generation except
    * the (large) base — one pass per contiguous group. Heavier than
    * [[compactTiered]] (O(sum of tail sizes)), lighter than [[remerge]];
    * the base is only re-shuffled by an explicit remerge. */
  def compactTail(reclaim: Boolean)(seal: Seal): Boolean = {
    val gens = generations
    if (gens.size < 3) false
    else {
      val folded = foldGroups(gens.drop(1))(seal)
      if (reclaim) vacuum
      folded
    }
  }

  /** Full compaction: fold ALL generations into one per contiguous group
    * (reference M4/M8 — merge everything accumulated). Usually that is ONE
    * generation; a reserved-but-unsealed streaming slot splits coverage
    * until its epoch replays, leaving one generation per side of the gap. */
  def remerge(reclaim: Boolean)(seal: Seal): Unit = {
    val gens = generations
    require(gens.nonEmpty, s"no generations under $parent")
    if (gens.size >= 2) {
      foldGroups(gens)(seal)
      if (reclaim) vacuum
    }
  }
}

private[build] object Generations {

  /** How a stat column combines across rows and generations. */
  type Reduce = (Long, Long) => Long
  val Sum: Reduce = _ + _
  val Max: Reduce = math.max
  /** Logical AND over a boolean column (read as 0/1). */
  val All: Reduce = math.min

  /** A kind's seal step: build the generation covering a fold window from
    * that window's batches, given its reduced stats (in `statCols` order). */
  type Seal = (Seq[(Int, Int)], Array[Long]) => Unit

  private val genRe = """gen=(\d+)_(\d+)""".r
  /** A slot dir name: `batch=<b>` (runs) or `gen=<lo>_<b>` (a kind without
    * a runs stage reserves its generation dir itself). */
  private val slotRe = """(?:batch=|gen=\d+_)(\d+)""".r

  def isRetired(all: Seq[(Int, Int)], g: (Int, Int)): Boolean =
    all.exists(o => o != g && o._1 <= g._1 && g._2 <= o._2)

  /** Containment-filtered view: every generation not RETIRED, sorted. */
  def survivors(all: Seq[(Int, Int)]): Seq[(Int, Int)] =
    all.filterNot(isRetired(all, _)).sortBy(_._1)

  /** Split the sorted survivor generations into maximal CONTIGUOUSLY-
    * COVERED groups (adjacent gens with `l2 == h1 + 1`). A coverage gap
    * between generations is a batch slot that was reserved but never
    * sealed its generation — a crashed streaming epoch awaiting replay. No
    * fold window ever spans one (see [[Generations.fold]]); the gap closes
    * when the epoch replays, and later compactions fold across it. */
  def contiguousGroups(gens: Seq[(Int, Int)]): Seq[Seq[(Int, Int)]] =
    gens.foldLeft(Vector.empty[Vector[(Int, Int)]]) { (acc, g) =>
      acc.lastOption match {
        case Some(grp) if grp.last._2 + 1 == g._1 => acc.init :+ (grp :+ g)
        case _ => acc :+ Vector(g)
      }
    }

  /** Choose the cheapest fold window for SIZE-TIERED compaction: the run
    * of 2..`fanout` adjacent (contiguously-covered) generations minimizing
    * total size, grown greedily around the globally smallest adjacent pair
    * while the next neighbor stays similar-sized (≤ 2× the window mean).
    * Folding always merges similar-magnitude neighbors first, so a refresh
    * stream pays O(current tier) per compaction — never O(total ingested)
    * — and the base generation is only re-shuffled once smaller tiers have
    * accumulated to its own magnitude (LSM size-tiering; the reference's
    * single merge-everything pass, reference column.go:418-604,
    * replaced by bounded amortized work). None when no group has 2 gens.
    *
    * `maxDocs` bounds the WINDOW: growth stops before exceeding it, and if
    * even the cheapest adjacent pair is larger, no window is returned —
    * the work-bounded analogue of the reference's wall-clock
    * `MergeDuration` deadline (reference config.go:5-9,
    * reference column.go:157-163). Query-time merge-on-search passes
    * a finite cap so a search is never blocked behind folding a giant
    * tier; the refresh/stream policies keep it unbounded (skipping folds
    * there would let the generation count grow without limit). */
  def pickTieredWindow(groups: Seq[Seq[(Int, Int)]], size: ((Int, Int)) => Long,
                       fanout: Int,
                       maxDocs: Long = Long.MaxValue): Option[Seq[(Int, Int)]] = {
    val pairs = for (g <- groups if g.size >= 2; i <- 0 until g.size - 1)
      yield (g, i)
    if (pairs.isEmpty) return None
    val (grp, i0) = pairs.minBy { case (g, i) => size(g(i)) + size(g(i + 1)) }
    var lo = i0
    var hi = i0 + 1
    var total = size(grp(lo)) + size(grp(hi))
    if (total > maxDocs) return None
    var grown = true
    while (grown && hi - lo + 1 < math.max(2, fanout)) {
      grown = false
      val mean = total.toDouble / (hi - lo + 1)
      val cap = math.max(2.0 * mean, 1.0)
      val lSz = if (lo > 0) size(grp(lo - 1)) else Long.MaxValue
      val rSz = if (hi < grp.size - 1) size(grp(hi + 1)) else Long.MaxValue
      if ((lSz <= cap || rSz <= cap) && total + math.min(lSz, rSz) <= maxDocs) {
        if (lSz <= rSz) { lo -= 1; total += lSz } else { hi += 1; total += rSz }
        grown = true
      }
    }
    Some(grp.slice(lo, hi + 1))
  }
}
