package org.apache.spark

/** Listener-bus access for the benchmark's tracer. The bus is asynchronous;
  * a span may close only after every event its work posted was delivered,
  * so the tracer drains the bus at each span boundary. `waitUntilEmpty` is
  * Spark-private, hence this shim in Spark's package.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
