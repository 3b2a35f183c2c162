package graft

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** One shared local SparkSession for all suites (object = JVM singleton). */
object SparkTestBase {
  lazy val spark: SparkSession = {
    val s = GraftSession
      .builder(master = "local[4]", shufflePartitions = 4)
      .appName("graft-test")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** The Spark jobs `body` starts on the shared session. */
  def jobsDuring(body: => Unit): Long = {
    val jobs = new AtomicLong
    val counter = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = { jobs.incrementAndGet(); () }
    }
    spark.sparkContext.addSparkListener(counter)
    try body
    finally {
      // drain the async listener bus (private API, so reflective) first
      try {
        val bus = spark.sparkContext.getClass.getMethod("listenerBus").invoke(spark.sparkContext)
        bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
      } catch { case _: ReflectiveOperationException => Thread.sleep(500) }
      spark.sparkContext.removeSparkListener(counter)
    }
    jobs.get()
  }
}
