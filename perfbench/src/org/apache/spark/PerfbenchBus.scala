package org.apache.spark

/** Listener-bus drain for the benchmark's tracer. `waitUntilEmpty` is
  * package-private to Spark; this shim lives in Spark's package so the
  * tracer can wait until every event posted so far (job ends, SQL
  * execution ends, streaming progress) has been delivered before it reads
  * its counters. */
object PerfbenchBus {
  def drain(sc: SparkContext, timeoutMillis: Long = 60000L): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMillis)
}
