package org.apache.spark

/** Lets the benchmark wait until Spark's asynchronous listener bus has
  * delivered every event posted so far, so the counters read at the end
  * of a traced span include all of that span's jobs and tasks.
  */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
