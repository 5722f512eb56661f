package org.apache.spark.lakebenchbridge

import org.apache.spark.SparkContext

/** Reaches the listener bus, which Spark keeps package-private: the
  * benchmark must see every stage-completed event of an operation before
  * it reads the per-operation metrics.
  */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
