package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared session for all specs (one JVM-wide session, lazy). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  lazy val sf: String = "/root/testdata/sf0.001"

  /** Spark jobs started by `f` on this thread. Listener delivery is
    * asynchronous but ordered, so a sentinel job in another group marks
    * the point where every earlier job start has been seen. */
  def jobsDuring(f: => Unit): Int = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val group = "count-" + java.util.UUID.randomUUID()
    val sentinel = group + "-sentinel"
    val n = new java.util.concurrent.atomic.AtomicInteger(0)
    val seen = new java.util.concurrent.CountDownLatch(1)
    val l = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        Option(js.properties).map(_.getProperty("spark.jobGroup.id")) match {
          case Some(`group`) => n.incrementAndGet()
          case Some(`sentinel`) => seen.countDown()
          case _ => ()
        }
    }
    val sc = spark.sparkContext
    sc.addSparkListener(l)
    try {
      sc.setJobGroup(group, "counted block")
      try f finally sc.clearJobGroup()
      sc.setJobGroup(sentinel, "drain")
      try spark.range(1).rdd.count() finally sc.clearJobGroup()
      assert(seen.await(30, java.util.concurrent.TimeUnit.SECONDS))
      n.get()
    } finally sc.removeSparkListener(l)
  }
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = graft.core.Session.builder()
      .appName("graft-test")
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft-warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
