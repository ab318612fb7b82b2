package org.apache.spark.pipebench

import org.apache.spark.SparkContext

/** Access to the listener bus drain, which Spark keeps package-private:
  * counts are read only after every posted event has been delivered.
  */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
