/* The listener bus is private[spark]; the harness drains it before it
 * reads any listener-fed counter, so the tail events of one operation
 * are never read as part of the next. */
package org.apache.spark.graftbench

import org.apache.spark.SparkContext

object Drain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
