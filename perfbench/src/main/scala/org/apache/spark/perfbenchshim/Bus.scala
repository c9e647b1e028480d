package org.apache.spark.perfbenchshim

import org.apache.spark.SparkContext

/** Access to the listener bus's flush, which Spark keeps package-private:
  * the benchmark reads listener counters only after every event posted
  * so far has been handled.
  */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
