package org.apache.spark

/** Listener-bus access for specs that assert on listener events. The bus
  * is asynchronous, so a spec drains it before reading what it recorded;
  * `waitUntilEmpty` is Spark-private, hence this shim in Spark's package.
  */
object TestListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
