package org.apache.spark

/** The listener bus is package-private to Spark; the tracer needs to wait
  * for it to deliver every queued event before it reads what it recorded.
  */
object PerfbenchBus {
  def drain(spark: org.apache.spark.sql.SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()
}
