package org.apache.spark

/** The one package-private hook the benchmark needs: block until every
 * listener has seen the events posted so far, so a span's task metrics are
 * complete when the span closes. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
