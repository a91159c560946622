package org.apache.spark.graftbus

import org.apache.spark.SparkContext

/** Deterministic drain of the shared LiveListenerBus.
  *
  * `QueryExecutionListener` delivery rides the async SQL event queue, so
  * anything that ATTRIBUTES observed metrics to "the query that just ran"
  * (Bench's dropped-bucket / tombstone telemetry, the LayoutBucketingSpec
  * metric pins) must wait for the bus to empty before reading or re-keying
  * its accumulator — a fixed `Thread.sleep` is exactly wrong on a loaded
  * host, where late events land under the NEXT query's key (r15 ADVICE).
  *
  * `SparkContext.listenerBus` is `private[spark]`, hence this one-method
  * shim in an `org.apache.spark` subpackage (the standard pattern Spark's
  * own test utilities use for the same call). Nothing else lives here.
  */
object ListenerDrain {
  /** Block until every queued listener event has been delivered. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
