package org.apache.spark.sql.graft

import org.apache.spark.SparkContext

/** Waits until the listener bus has delivered every posted event
  * (`LiveListenerBus` is `private[spark]`, as for [[ColumnBridge]]). */
object ListenerBridge {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
