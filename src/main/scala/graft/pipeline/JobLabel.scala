package graft.pipeline

import org.apache.spark.SparkContext

/** Scoped Spark job descriptions: the jobs `body` starts on this thread
  * carry `label` in the UI, listener events and `JobLogProbe`, and the
  * caller's own description comes back afterwards. Descriptions are
  * thread-local (inherited by threads created later), so a label set and
  * never restored mis-attributes every later job of that thread; callers
  * that run jobs from a pool apply it per pool thread.
  */
private[graft] object JobLabel {
  def apply[T](sc: SparkContext, label: String)(body: => T): T = {
    val outer = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(label)
    try body finally sc.setJobDescription(outer)
  }
}
