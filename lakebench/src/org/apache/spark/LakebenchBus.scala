package org.apache.spark

/** Waits until every event posted so far has reached every listener.
  * `LiveListenerBus` is private to Spark; this accessor lives in Spark's
  * package so the benchmark can attribute listener events to the
  * statement that caused them.
  */
object LakebenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
