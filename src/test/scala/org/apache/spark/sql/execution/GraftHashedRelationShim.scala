package org.apache.spark.sql.execution

import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec

/** Bridge to the package-private `HashedRelation` for footprint tests: the
  * bytes a completed broadcast exchange's build-side relation holds on the
  * driver, which is what a cached plan keeps alive. Same shim pattern as
  * `org.apache.spark.sql.GraftDatasetShim`.
  */
object GraftHashedRelationShim {
  /** `estimatedSize` of the exchange's hash relation; None when the build is
    * not a hash relation (e.g. a nested-loop join's row array).
    */
  def estimatedSize(exchange: BroadcastExchangeExec): Option[Long] =
    exchange.executeBroadcast[Any]().value match {
      case h: joins.HashedRelation => Some(h.estimatedSize)
      case _ => None
    }
}
