package graft

import java.util.UUID
import java.util.concurrent.{ConcurrentHashMap, CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger
import org.apache.hadoop.fs.Path
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** One shared local session for the whole test run (JVM startup dominates;
  * suites must not stop() it).
  */
object TestSession {
  lazy val spark: SparkSession = {
    val s = Session.local(4)
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSession.spark

  /** The directory of fixture scale factor `sf` ("sf0.001", "sf0.1"): a
    * sibling of the one `SparkEntry.entry` reads.
    */
  def fixtureDir(sf: String): String =
    new Path(SparkEntry.entry(spark).inputFiles.head).getParent.getParent.toString + "/" + sf

  /** Spark jobs submitted while `body` runs on this thread. A marker job
    * run after it flushes the listener bus: events arrive in order, so once
    * the marker's end is seen every job `body` started has been counted.
    */
  def jobsDuring(body: => Any): Int = {
    val sc = spark.sparkContext
    val (group, marker) = (s"count-${UUID.randomUUID}", s"flush-${UUID.randomUUID}")
    val jobs = new AtomicInteger
    val markerIds = ConcurrentHashMap.newKeySet[Int]()
    val flushed = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.jobGroup.id")) match {
          case Some(`group`) => jobs.incrementAndGet()
          case Some(`marker`) => markerIds.add(e.jobId)
          case _ =>
        }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        if (markerIds.contains(e.jobId)) flushed.countDown()
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "counted")
      try body finally sc.clearJobGroup()
      sc.setJobGroup(marker, "listener flush")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      assert(flushed.await(60, TimeUnit.SECONDS), "listener bus did not flush")
      jobs.get
    } finally sc.removeSparkListener(listener)
  }
}
