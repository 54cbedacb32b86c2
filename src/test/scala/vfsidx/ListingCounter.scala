package vfsidx

import java.net.URI
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicInteger

import org.apache.hadoop.fs.{FileStatus, Path, RawLocalFileSystem}
import org.apache.spark.sql.SparkSession

/** The local file system under the test-only scheme [[ListingCounter.Scheme]],
  * counting every `listStatus` per listed directory ([[ListingCounter]]). */
final class CountingFileSystem extends RawLocalFileSystem {
  override def getUri: URI = URI.create(s"${ListingCounter.Scheme}:///")
  override def getScheme: String = ListingCounter.Scheme
  override def listStatus(f: Path): Array[FileStatus] = {
    ListingCounter.record(f)
    super.listStatus(f)
  }
}

/** Makes directory listings countable as [[JobCounter]] makes Spark jobs
  * countable: a local dir `/x` addressed as `countfs:///x` is read through
  * [[CountingFileSystem]], which counts each listing of a directory by its
  * path. Register the scheme once per session with [[register]]. */
object ListingCounter {
  val Scheme = "countfs"

  private val counts = new ConcurrentHashMap[String, AtomicInteger]()

  private def key(p: Path): String = p.toUri.getPath.stripSuffix("/")

  private[vfsidx] def record(p: Path): Unit =
    counts.computeIfAbsent(key(p), _ => new AtomicInteger).incrementAndGet()

  def register(spark: SparkSession): Unit =
    spark.sparkContext.hadoopConfiguration.set(s"fs.$Scheme.impl",
      classOf[CountingFileSystem].getName)

  /** `dir` (a local path) addressed through the counting scheme. */
  def counted(dir: String): String = s"$Scheme://$dir"

  /** How many times `f` lists each of the local dirs `dirs`. */
  def of(dirs: String*)(f: => Any): Seq[Int] = {
    counts.clear()
    f
    dirs.map(d => Option(counts.get(key(new Path(d)))).fold(0)(_.get))
  }
}
