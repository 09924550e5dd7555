package org.apache.spark

/** The one scheduler hook the harness needs that Spark keeps package-private:
  * wait until every listener event posted so far has been delivered, so a
  * pass's records are complete before they are read. */
object GraftBenchBridge {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
