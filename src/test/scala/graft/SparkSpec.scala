package graft

import java.util.UUID
import java.util.concurrent.atomic.{AtomicBoolean, AtomicInteger}

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** One shared local session per suite. */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session

  /** Spark jobs `body` starts, counted by a listener; a tagged marker
    * job drains the listener bus before the count is read. */
  protected def jobsOf[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val (group, marker) = (UUID.randomUUID().toString, UUID.randomUUID().toString)
    val jobs = new AtomicInteger
    val drained = new AtomicBoolean
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.jobGroup.id")) match {
          case Some(`group`) => jobs.incrementAndGet()
          case Some(`marker`) => drained.set(true)
          case _ =>
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "counted jobs")
      val out = try body finally sc.clearJobGroup()
      sc.setJobGroup(marker, "listener drain")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      val deadline = System.nanoTime() + 30000000000L
      while (!drained.get && System.nanoTime() < deadline) Thread.sleep(5)
      assert(drained.get, "listener bus did not drain")
      (out, jobs.get)
    } finally sc.removeSparkListener(listener)
  }
}

object SparkSpec {
  lazy val session: SparkSession = {
    val wh = java.nio.file.Files.createTempDirectory("graft-warehouse").toString
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir", wh)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
