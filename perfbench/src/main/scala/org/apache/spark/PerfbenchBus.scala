package org.apache.spark

/** The one engine-internal hook the benchmark needs: wait until every
  * listener event posted so far has been delivered, so per-run counters are
  * read after their own events and never leak into the next run. Lives in
  * `org.apache.spark` only because `listenerBus` is `private[spark]`. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
