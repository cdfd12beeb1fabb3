package org.apache.spark

/** The listener bus delivers events asynchronously; a metric read right
 * after an action must first wait until every task-end event of that
 * action has reached the benchmark's listener. */
object BenchBridge {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
