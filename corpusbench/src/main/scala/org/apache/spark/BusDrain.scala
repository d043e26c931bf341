package org.apache.spark

/** Waits until Spark's listener bus has delivered every posted event, so a
  * listener read right after a job sees all of that job's tasks. (The bus
  * is package-private, hence this package.) */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
