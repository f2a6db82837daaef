package org.apache.spark.pipebench

import org.apache.spark.SparkContext

/** The listener bus is asynchronous and `waitUntilEmpty` is `private[spark]`;
  * this shim lives in Spark's namespace so the benchmark can read its
  * listener counters only after every event of a finished call arrived. */
object Drain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
