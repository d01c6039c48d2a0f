package graft.core

import org.apache.spark.SparkContext

object Jobs {
  /** `body` with `description` as its jobs' description, cleared after
    * it: work submitted from reused threads (the [[Pools.io]] overlap
    * legs, a server's request threads) would otherwise tag later,
    * unrelated jobs on that thread with a stale label.
    */
  def labelled[T](sc: SparkContext, description: String)(body: => T): T = {
    sc.setJobDescription(description)
    try body finally sc.setJobDescription(null)
  }

  /** The calling thread's job description (null when none is set): what
    * work it hands to a [[Pools.io]] thread runs [[labelled]] with.
    */
  def description(sc: SparkContext): String =
    sc.getLocalProperty("spark.job.description")
}
