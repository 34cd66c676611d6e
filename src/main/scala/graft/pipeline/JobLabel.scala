package graft.pipeline

import java.util.concurrent.{CountDownLatch, TimeUnit}
import scala.collection.concurrent.TrieMap
import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerTaskEnd}

/** Scoped Spark job descriptions: the jobs `body` starts on this thread
  * carry `label` in the UI, listener events and [[graft.Probe]], and the
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

/** A block's result and the jobs it starts, by id. Jobs are picked by a
  * local property the block's thread carries, and so every thread it
  * starts (a streaming query's too): other threads' jobs stay out. The
  * list is complete on return, since a marker job's end is awaited and a
  * listener receives events in posting order.
  */
private[graft] object JobLog {

  /** A job's innermost description, else its call site (whitespace
    * collapsed: streaming batch descriptions span lines), the tasks that
    * ended in its stages, and its wall ms on the scheduler's clock.
    */
  final case class Job(id: Int, description: String, tasks: Int, ms: Long)

  private val TagKey = "graft.jobLog"

  def apply[T](sc: SparkContext)(body: => T): (T, Seq[Job]) = {
    val tag = java.util.UUID.randomUUID().toString
    val marker = s"$tag marker"
    val drained = new CountDownLatch(1)
    val started = TrieMap.empty[Int, (String, Long)]
    val stageJob = TrieMap.empty[Int, Int]
    val tasks = TrieMap.empty[Int, Int]
    val ended = TrieMap.empty[Int, Job]
    @volatile var markerId = -1
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        val props = Option(j.properties)
        props.map(_.getProperty(TagKey)) match {
          case Some(`tag`) =>
            val description = props.flatMap(p => Option(p.getProperty("spark.job.description"))
              .orElse(Option(p.getProperty("callSite.short")))).getOrElse("")
            started(j.jobId) = (description.replaceAll("\\s+", " ").trim, j.time)
            j.stageIds.foreach(stageJob(_) = j.jobId)
          case Some(`marker`) => markerId = j.jobId
          case _ =>
        }
      }
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit =
        stageJob.get(t.stageId).foreach(id => tasks(id) = tasks.getOrElse(id, 0) + 1)
      override def onJobEnd(j: SparkListenerJobEnd): Unit =
        if (j.jobId == markerId) drained.countDown()
        else started.get(j.jobId).foreach { case (description, t0) =>
          ended(j.jobId) = Job(j.jobId, description, tasks.getOrElse(j.jobId, 0), j.time - t0)
        }
    }
    def tagged[R](value: String)(run: => R): R = {
      val outer = sc.getLocalProperty(TagKey)
      sc.setLocalProperty(TagKey, value)
      try run finally sc.setLocalProperty(TagKey, outer)
    }
    sc.addSparkListener(listener)
    try {
      val result = tagged(tag)(body)
      tagged(marker)(sc.parallelize(Seq(0), 1).count())
      require(drained.await(60, TimeUnit.SECONDS), "listener bus did not drain in 60 s")
      (result, ended.values.toSeq.sortBy(_.id))
    } finally sc.removeSparkListener(listener)
  }
}
