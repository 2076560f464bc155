package org.apache.spark.graft

import org.apache.spark.SparkContext
import org.apache.spark.util.Utils

/** Carries the active SparkContext's thread-local properties (job
  * description, job group, scheduler pool, …) across a thread hop.
  * Spark keeps the accessors package-private, hence this package. A
  * pooled thread otherwise keeps the properties it inherited from
  * whichever thread created it, so a reused thread labels a later
  * caller's jobs with a stale description.
  */
object LocalProperties {

  /** `body` bound to the calling thread's current local properties:
    * wherever it runs, it runs under a copy of them, and the running
    * thread gets its own properties back afterwards, on failure too.
    */
  def propagating[A](body: () => A): () => A = SparkContext.getActive match {
    case None => body
    case Some(sc) =>
      val captured = Utils.cloneProperties(sc.getLocalProperties)
      () => {
        val own = sc.getLocalProperties
        // a copy per run: SQL execution ids are written into the
        // thread's Properties object, so concurrent runs must not share it
        sc.setLocalProperties(Utils.cloneProperties(captured))
        try body() finally sc.setLocalProperties(own)
      }
  }
}
