package org.apache.spark

/** The one private Spark call the benchmark needs: listener events are
  * delivered asynchronously, so the span ledger is read only after the
  * listener bus has drained. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
