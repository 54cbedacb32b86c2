package perfbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Entry point of the repository benchmark. Drives the engine from outside
  * through its public API, as a user would, and prints one JSON result as
  * the last line of stdout:
  *
  * {{{
  *   perfbench.Main --workload <ingest|search|search_pruned> --seed <n>
  *                  --seconds <s> --trace <0|1> --work <dir>
  *                  [--started-ms <epoch ms>] [--docs <n>] [--inject-wrong 1]
  * }}}
  *
  * `--trace 0` reports the end-to-end metrics with tracing off; `--trace 1`
  * runs the timed phase untraced and then traced, and reports the per-layer
  * metrics. `--docs` shrinks the corpus (the self-test and the build's
  * class-data run use it) and `--inject-wrong` corrupts one engine answer
  * per family inside the comparator (the self-test). */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
                        work: File, startedMs: Long, docs: Option[Int],
                        injectWrong: Boolean)

  val Workloads = Seq("ingest", "search", "search_pruned")

  def parse(argv: Array[String]): Args = {
    val kv = argv.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => throw new IllegalArgumentException(s"bad argument: ${other.mkString(" ")}")
    }.toMap
    val known = Set("workload", "seed", "seconds", "trace", "work", "started-ms", "docs",
      "inject-wrong")
    require(kv.keySet.subsetOf(known), s"unknown arguments: ${(kv.keySet -- known).mkString(", ")}")
    def need(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"--$k is required"))
    val w = need("workload")
    require(Workloads.contains(w), s"unknown workload '$w' (one of ${Workloads.mkString(", ")})")
    Args(w, need("seed").toLong, need("seconds").toInt, need("trace") == "1",
      new File(need("work")),
      kv.get("started-ms").map(_.toLong).getOrElse(
        java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime),
      kv.get("docs").map(_.toInt), kv.get("inject-wrong").contains("1"))
  }

  def main(argv: Array[String]): Unit = {
    val args = parse(argv)
    args.work.mkdirs()
    val stealAtStart = Probes.stealSeconds
    val bandwidthBefore = Probes.fileBandwidthMbps(args.work)
    val cores = Runtime.getRuntime.availableProcessors()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", new File(args.work, "spark-local").getAbsolutePath)
      .config("spark.sql.warehouse.dir", new File(args.work, "warehouse").getAbsolutePath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val tracer = new Tracer(spark.sparkContext)
    if (args.trace) tracer.enable()
    val run = new Run(spark, tracer, args)
    val result =
      try {
        if (args.workload == "ingest") new IngestWorkload(run).execute()
        else new ReadWorkload(run, pruned = args.workload == "search_pruned").execute()
      } finally spark.stop()

    if (args.trace) {
      val m = result.layer
      m("host.steal_s") = (Probes.stealSeconds - stealAtStart, "s")
      m("host.loadavg") = (Probes.loadAvg, "load")
      m("host.tmpfs_mbps") =
        (math.min(bandwidthBefore, Probes.fileBandwidthMbps(args.work)), "MB/s")
    }
    val metrics = if (args.trace) result.layer else result.e2e
    val expected = if (args.trace) Metrics.PerLayer else Metrics.EndToEnd
    val missing = expected.map(_._1).filterNot(metrics.contains)
    require(missing.isEmpty, s"metrics not measured: ${missing.mkString(", ")}")
    println(Metrics.json(result.failed == 0, result.attempted, result.failed,
      expected.map { case (name, unit) => name -> (metrics(name)._1, unit) }))
    System.out.flush()
  }
}

/** What one workload run measured. */
final class Result(val attempted: Long, val failed: Long,
                   val e2e: mutable.Map[String, (Double, String)],
                   val layer: mutable.Map[String, (Double, String)])

/** Shared state of one benchmark process. */
final class Run(val spark: SparkSession, val tracer: Tracer, val args: Main.Args) {
  val sessionS: Double = sinceStart
  val cores: Int = spark.sparkContext.defaultParallelism

  def span[A](name: String)(f: => A): A = tracer.span(name)(f)

  def path(name: String): String = new File(args.work, name).getAbsolutePath

  /** Seconds from process start to now. */
  def sinceStart: Double = (System.currentTimeMillis() - args.startedMs) / 1000.0

  /** Bytes of the regular files under `dir` (Spark's `.crc` side files
    * excluded: they are checksums of the index, not the index). */
  def diskBytes(dir: String): Long = {
    def walk(f: File): Long =
      if (f.isDirectory) Option(f.listFiles()).map(_.map(walk).sum).getOrElse(0L)
      else if (f.getName.endsWith(".crc")) 0L
      else f.length()
    walk(new File(dir))
  }

  def log(msg: String): Unit = System.err.println(s"perfbench: $msg")
}

object Metrics {
  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s",
    "op_p50_ms" -> "ms",
    "ops_per_s" -> "1/s",
    "index_bytes_per_input_byte" -> "ratio")

  val Indexes = Seq("word", "trigram", "numeric")

  val PerLayer: Seq[(String, String)] =
    Indexes.flatMap(i => Seq(s"build.$i.s" -> "s", s"build.$i.jobs" -> "count",
      s"build.$i.shuffle_write_bytes" -> "bytes", s"build.$i.spill_bytes" -> "bytes",
      s"build.$i.executor_cpu_s" -> "s")) ++
    Indexes.flatMap(i => Seq(s"refresh.$i.s" -> "s", s"refresh.$i.jobs" -> "count")) ++
    Indexes.flatMap(i => Seq(s"compact.$i.s" -> "s", s"compact.$i.bytes_rewritten" -> "bytes")) ++
    Indexes.map(i => s"index.$i.bytes" -> "bytes") ++
    Seq("index.generations_max" -> "count",
      "tokenize.code_tokens_per_s" -> "1/s", "tokenize.tri_keys_per_s" -> "1/s",
      "codec.encode_postings_per_s" -> "1/s", "codec.decode_postings_per_s" -> "1/s") ++
    Family.Round.flatMap(f => Seq(s"q.$f.p50_ms" -> "ms", s"q.$f.plan_s" -> "s",
      s"q.$f.jobs" -> "count", s"q.$f.exec_s" -> "s", s"q.$f.input_bytes" -> "bytes",
      s"q.$f.shuffle_bytes" -> "bytes", s"q.$f.executor_cpu_s" -> "s")) ++
    Seq("q.substring.candidate_precision" -> "ratio",
      "q.regex.candidate_precision" -> "ratio",
      "q.lang.rows_read_per_result" -> "ratio",
      "spark.scheduler_delay_s" -> "s", "spark.shuffle_fetch_wait_s" -> "s",
      "spark.unattributed_jobs" -> "count",
      "driver.gc_s" -> "s", "driver.heap_peak_mb" -> "MB",
      "corpus.write_s" -> "s", "trace.overhead_ratio" -> "ratio",
      "host.steal_s" -> "s", "host.loadavg" -> "load", "host.tmpfs_mbps" -> "MB/s",
      "error_rate" -> "ratio", "op.samples" -> "count")

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2.0
  }

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString

  private def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  def json(correct: Boolean, attempted: Long, failed: Long,
           metrics: Seq[(String, (Double, String))]): String =
    s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": {""" +
      metrics.map { case (n, (v, u)) => s"""${str(n)}: {"value": ${num(v)}, "unit": ${str(u)}}""" }
        .mkString(", ") + "}}"
}
