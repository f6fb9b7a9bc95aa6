package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** The one `private[spark]` call the harness needs: job, stage and task
  * events ride the asynchronous listener bus, so the traced counters and
  * the running-task count are read only after the bus has drained. */
object Bus {
  def flush(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000)
}
