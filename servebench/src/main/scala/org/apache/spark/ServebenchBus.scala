package org.apache.spark

/** The listener bus delivers events asynchronously; the traced run reads
  * its per-layer counts only after every event of the timed phase has been
  * delivered. `waitUntilEmpty` is package-private to Spark, hence this
  * one-line bridge in Spark's package. */
object ServebenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
