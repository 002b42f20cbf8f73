package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** The one `private[spark]` call the harness needs: listener events are
  * delivered asynchronously, so per-operation counters are read only after
  * the bus has drained. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
