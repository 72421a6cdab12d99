package org.apache.spark

/** Test-side access to the listener bus's drain, which Spark keeps
  * package-private: job-counting specs wait for every queued event
  * before they read their listener, instead of sleeping. */
object GraftListenerBridge {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
