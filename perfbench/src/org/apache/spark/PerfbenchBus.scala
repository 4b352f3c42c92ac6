package org.apache.spark

/** The listener bus delivers events asynchronously; a traced pass reads its
  * job records only after every event posted so far has been delivered.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
