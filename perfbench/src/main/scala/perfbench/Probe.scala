package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.storage.BlockId

/** Task-level record of one finished task (times in ms, bytes in bytes). */
final case class TaskRec(stageId: Int, launch: Long, finish: Long, runMs: Long,
                         cpuNs: Long, gcMs: Long, inBytes: Long, inRecords: Long,
                         shuffleWrite: Long, spill: Long, outBytes: Long,
                         failed: Boolean)

final case class JobRec(id: Int, execId: Option[Long], start: Long, end: Long,
                        stageIds: Seq[Int])

final case class StageRec(id: Int, submit: Long, complete: Long)

/** The benchmark's own SparkListener.
  *
  * Always on: the Spark storage memory held by cached RDD blocks (current
  * and peak), and the fence that tells when the asynchronous listener bus
  * has delivered every event posted before it. With `traced`, it also
  * keeps every job, stage, task and SQL execution plan it sees, for the
  * per-layer attribution of one run; the untraced runs do not pay for
  * that bookkeeping.
  */
final class Probe(traced: Boolean) extends SparkListener {
  private val blocks = mutable.HashMap.empty[BlockId, Long]
  private var storageNow = 0L
  private var storagePeak = 0L

  private val fenceJobs = new ConcurrentHashMap[Int, String]()
  private val fencesSeen = ConcurrentHashMap.newKeySet[String]()
  private var fenceSeq = 0

  private val jobStarts = mutable.HashMap.empty[Int, (Option[Long], Long, Seq[Int])]
  private val jobs = mutable.ArrayBuffer.empty[JobRec]
  private val stages = mutable.ArrayBuffer.empty[StageRec]
  private val tasks = mutable.ArrayBuffer.empty[TaskRec]
  private val plans = mutable.HashMap.empty[Long, String]

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val info = e.blockUpdatedInfo
    if (info.blockId.isRDD) {
      val now = if (info.storageLevel.isValid) info.memSize else 0L
      storageNow += now - blocks.getOrElse(info.blockId, 0L)
      if (now > 0) blocks(info.blockId) = now else blocks.remove(info.blockId)
      storagePeak = math.max(storagePeak, storageNow)
    }
  }

  override def onUnpersistRDD(e: SparkListenerUnpersistRDD): Unit = synchronized {
    // unpersisting does not report the dropped blocks one by one
    blocks.keys.filter(_.asRDDId.exists(_.rddId == e.rddId)).toVector.foreach { b =>
      storageNow -= blocks.remove(b).getOrElse(0L)
    }
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val props = Option(e.properties)
    val desc = props.flatMap(p => Option(p.getProperty("spark.job.description")))
    desc.filter(_.startsWith(Probe.FencePrefix)) match {
      case Some(tag) => fenceJobs.put(e.jobId, tag)
      case None if traced => synchronized {
        val exec = props.flatMap(p => Option(p.getProperty("spark.sql.execution.id"))).map(_.toLong)
        jobStarts(e.jobId) = (exec, e.time, e.stageIds)
      }
      case None =>
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    val tag = fenceJobs.remove(e.jobId)
    if (tag != null) fencesSeen.add(tag)
    else if (traced) synchronized {
      jobStarts.remove(e.jobId).foreach { case (exec, start, stageIds) =>
        jobs += JobRec(e.jobId, exec, start, e.time, stageIds)
      }
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    if (traced) synchronized {
      val s = e.stageInfo
      for (a <- s.submissionTime; b <- s.completionTime) stages += StageRec(s.stageId, a, b)
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    if (traced) synchronized {
      val i = e.taskInfo
      val m = Option(e.taskMetrics)
      tasks += TaskRec(e.stageId, i.launchTime, i.finishTime,
        m.fold(0L)(_.executorRunTime), m.fold(0L)(_.executorCpuTime),
        m.fold(0L)(_.jvmGCTime), m.fold(0L)(_.inputMetrics.bytesRead),
        m.fold(0L)(_.inputMetrics.recordsRead),
        m.fold(0L)(_.shuffleWriteMetrics.bytesWritten),
        m.fold(0L)(_.diskBytesSpilled), m.fold(0L)(_.outputMetrics.bytesWritten),
        i.failed)
    }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart if traced => synchronized {
      plans(s.executionId) = s.physicalPlanDescription
    }
    case _ =>
  }

  /** Block until every event posted before this call has been delivered:
    * runs a one-task marker job and waits for the listener to see its end.
    */
  def fence(sc: SparkContext): Unit = {
    val tag = synchronized { fenceSeq += 1; s"${Probe.FencePrefix}$fenceSeq" }
    sc.setJobDescription(tag)
    try sc.parallelize(Seq(1), 1).count()
    finally sc.setJobDescription(null)
    val deadline = System.nanoTime() + 30L * 1000000000L
    while (!fencesSeen.contains(tag)) {
      require(System.nanoTime() < deadline, "listener bus did not drain within 30 s")
      Thread.sleep(2)
    }
  }

  /** Start a new storage window: the peak restarts from what is held now. */
  def resetStoragePeak(): Unit = synchronized { storagePeak = storageNow }
  def storagePeakBytes: Long = synchronized { storagePeak }

  /** Forget every traced record (call before the window to attribute). */
  def resetTrace(): Unit = synchronized {
    jobStarts.clear(); jobs.clear(); stages.clear(); tasks.clear(); plans.clear()
  }

  def snapshot: Probe.Trace = synchronized {
    Probe.Trace(jobs.toVector, stages.toVector, tasks.toVector, plans.toMap)
  }
}

object Probe {
  val FencePrefix = "perfbench-fence-"

  final case class Trace(jobs: Vector[JobRec], stages: Vector[StageRec],
                         tasks: Vector[TaskRec], plans: Map[Long, String])
}

/** Old-generation occupancy after each garbage collection, from the JVM's
  * GC notifications, stamped with the collection's end time in JVM uptime
  * milliseconds.
  */
final class GcWatch {
  import javax.management.{Notification, NotificationEmitter, NotificationListener}
  import javax.management.openmbean.CompositeData
  import com.sun.management.GarbageCollectionNotificationInfo

  private val samples = mutable.ArrayBuffer.empty[(Long, Long)]

  private val listener = new NotificationListener {
    override def handleNotification(n: Notification, handback: Any): Unit =
      if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
        val old = info.getGcInfo.getMemoryUsageAfterGc.asScala.collect {
          case (pool, u) if pool.contains("Old Gen") || pool.contains("Tenured") => u.getUsed
        }.sum
        GcWatch.this.synchronized { samples += ((info.getGcInfo.getEndTime, old)) }
      }
  }

  ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case e: NotificationEmitter => e.addNotificationListener(listener, null, null)
    case _ =>
  }

  def uptimeMs: Long = ManagementFactory.getRuntimeMXBean.getUptime

  /** Peak old-generation bytes after GC over `[fromMs, toMs]` of uptime.
    * The occupancy left by the last collection before the window counts
    * too: it is what the window started with.
    */
  def peakOld(fromMs: Long, toMs: Long): Long = synchronized {
    val before = samples.filter(_._1 < fromMs).lastOption.map(_._2).getOrElse(0L)
    (before +: samples.filter(s => s._1 >= fromMs && s._1 <= toMs).map(_._2).toSeq).max
  }
}

/** Host noise read the way the frozen `graft.Bench.cpuStat` reads it:
  * total and steal jiffies from the first line of /proc/stat, plus the
  * 1-minute load average. Zeros when the files are unreadable.
  */
object Host {
  def cpuStat(): (Long, Long) =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      try {
        val f = src.getLines().next().trim.split("\\s+").drop(1).map(_.toLong)
        (f.sum, f(7))
      } finally src.close()
    } catch { case _: Exception => (0L, 0L) }

  def load1(): Double =
    try {
      val src = scala.io.Source.fromFile("/proc/loadavg")
      try src.getLines().next().trim.split("\\s+")(0).toDouble
      finally src.close()
    } catch { case _: Exception => 0.0 }

  def stealPct(a: (Long, Long), b: (Long, Long)): Double =
    if (b._1 > a._1) 100.0 * (b._2 - a._2) / (b._1 - a._1) else 0.0
}
