package org.apache.spark.graft

import org.apache.spark.SparkContext
import scala.concurrent.Await
import scala.concurrent.duration.Duration

/** Cancel every active job tagged `tag` and return once the scheduler
  * has ended them, their job-end events posted to the listener bus.
  * `SparkContext.cancelJobsWithTag` only posts the request; the variant
  * that reports back is `private[spark]`. */
object CancelTagged {
  def apply(sc: SparkContext, tag: String): Unit =
    Await.result(sc.cancelJobsWithTagWithFuture(tag,
      "a sibling branch failed"), Duration.Inf)
}
