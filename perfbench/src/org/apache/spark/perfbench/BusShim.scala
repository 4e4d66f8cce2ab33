package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Access to Spark's listener bus, which is package-private: the benchmark
  * waits for every event of an operation to be delivered before it reads
  * the operation's plan, task and job metrics. */
object BusShim {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
