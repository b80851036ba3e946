package org.apache.spark

/** Test access to the listener bus, whose drain is package-private: a
  * job-counting spec waits here until every event of the jobs it just
  * ran has reached its listener.
  */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
