package org.apache.spark.kgbench

import org.apache.spark.SparkContext

/** Access to the listener bus, which Spark keeps package-private: waiting
  * until it is empty makes every event of a finished action visible to
  * the benchmark's listeners before their counters are read.
  */
object BusBridge {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
