package vfsidx

import java.util.concurrent.{ConcurrentHashMap, CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** Counts the Spark jobs submitted while [[JobCounter.Tag]] is set;
  * [[drain]] waits on the asynchronous listener bus with a marker job (the
  * bus is FIFO). Register it with `addSparkListener` around the calls. */
final class JobCounter(spark: SparkSession) extends SparkListener {
  import JobCounter._

  private val counted = new AtomicInteger
  private val markerJob = new ConcurrentHashMap[Int, CountDownLatch]()
  @volatile private var latch: CountDownLatch = _

  override def onJobStart(js: SparkListenerJobStart): Unit =
    Option(js.properties).flatMap(p => Option(p.getProperty(Key))) match {
      case Some(Tag) => counted.incrementAndGet()
      case Some("marker") => markerJob.put(js.jobId, latch)
      case _ =>
    }

  override def onJobEnd(je: SparkListenerJobEnd): Unit =
    Option(markerJob.remove(je.jobId)).foreach(_.countDown())

  def drain(): Unit = {
    val sc = spark.sparkContext
    latch = new CountDownLatch(1)
    sc.setLocalProperty(Key, "marker")
    try sc.parallelize(Seq(1), 1).count()
    finally sc.setLocalProperty(Key, null)
    require(latch.await(60, TimeUnit.SECONDS), "listener bus did not drain")
  }

  /** Jobs `f` submits, from any thread that inherits its local properties. */
  def of(f: => Any): Int = {
    drain()
    counted.set(0)
    spark.sparkContext.setLocalProperty(Key, Tag)
    try f finally spark.sparkContext.setLocalProperty(Key, null)
    drain()
    counted.get
  }
}

object JobCounter {
  val Key = "vfsidx.test.jobs"
  val Tag = "counted"

  /** Run `body` with a fresh counter registered on the session's bus. */
  def around[A](spark: SparkSession)(body: JobCounter => A): A = {
    val c = new JobCounter(spark)
    spark.sparkContext.addSparkListener(c)
    try body(c) finally spark.sparkContext.removeSparkListener(c)
  }
}
