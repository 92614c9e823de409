package org.apache.spark.sql.graftbridge

import org.apache.spark.SparkContext

/** The listener bus's drain, which Spark keeps `private[spark]`: a spec
  * that counts SparkListener events waits on it, so its count closes
  * only after every event of the measured actions was delivered.
  */
object ListenerBusBridge {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
