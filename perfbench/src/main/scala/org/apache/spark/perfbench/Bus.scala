package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** The listener bus delivers events asynchronously; a per-iteration counter
  * read is only complete once every event of that iteration has been
  * delivered. `waitUntilEmpty` is Spark-internal, hence this package. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
