package org.apache.spark.sql.graft

/** Test access to `private[spark]` API. Lives in the org.apache.spark
  * namespace solely for access. */
object TestBridge {

  /** Drain the listener bus — lets tests that meter driver-bound
    * task-result bytes observe every event of the jobs they just ran
    * before asserting. */
  def drainListenerBus(sc: org.apache.spark.SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty(30000)
}
