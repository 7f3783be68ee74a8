package org.apache.spark

import org.apache.spark.sql.SparkSession

/** Reaches the listener bus, which Spark keeps package-private, so that a
  * pass's counters are read only after every event of the pass has been
  * delivered. */
object PipebenchShim {
  def drain(spark: SparkSession): Unit = spark.sparkContext.listenerBus.waitUntilEmpty()
}
