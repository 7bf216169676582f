package org.apache.spark

/** Drains Spark's asynchronous listener bus. The traced run calls this at
  * the end of every op so that every job, task and query-execution event of
  * the op has reached the benchmark's listeners before the op's span closes.
  * Lives in this package because the bus is `private[spark]`.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
