package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** The listener bus delivers events asynchronously; the benchmark waits for
  * it to drain before it reads what its listeners recorded. The bus is
  * `private[spark]`, hence this in-package bridge. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
