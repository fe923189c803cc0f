package org.apache.spark.hmmbench

import org.apache.spark.SparkContext

/** The listener bus's drain is `private[spark]`; the traced run needs
  * it once, at the end, so every span is delivered before it is
  * written out. */
object Bus {
  def drain(sc: SparkContext): Unit =
    try sc.listenerBus.waitUntilEmpty(10000L)
    catch { case _: java.util.concurrent.TimeoutException => }
}
