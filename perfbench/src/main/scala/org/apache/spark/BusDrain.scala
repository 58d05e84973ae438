package org.apache.spark

/** Waits until the listener bus has delivered every event posted so far,
  * so a traced operation's job and task figures are complete before they
  * are read. The bus is Spark-private; this one call is all the harness
  * needs from inside the package. */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
