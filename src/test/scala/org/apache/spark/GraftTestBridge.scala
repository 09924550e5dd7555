package org.apache.spark

/** The one scheduler hook the specs need that Spark keeps package-private:
  * wait until every listener event posted so far has been delivered, so a
  * job count read from a listener is complete. */
object GraftTestBridge {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
