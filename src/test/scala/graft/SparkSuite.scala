package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.{BeforeAndAfterAll, Suite}

/** One shared local SparkSession for all suites (cheap re-use; forked JVM
  * gets the JDK-17 add-opens from build.sbt).
  */
object SparkSuite {
  lazy val spark: SparkSession = graft.pipeline.Extraction.configureLocal(
    SparkSession.builder().master("local[4]").appName("graft-test"), 4)
    .getOrCreate()

  /** One job [[SparkSuite.jobsDuring]] saw: its description (the innermost
    * job description, else its call site), the tasks that ended in its
    * stages, and its wall milliseconds on the scheduler's clock.
    */
  final case class Job(description: String, tasks: Int, ms: Long)
}

trait SparkSuite extends BeforeAndAfterAll { this: Suite =>
  lazy val spark: SparkSession = {
    val s = SparkSuite.spark
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private val scratchDirs = new java.util.concurrent.ConcurrentLinkedQueue[java.io.File]()

  /** A fresh `graft-<name>…` directory under the temp dir, deleted with
    * everything in it when the suite ends.
    */
  def scratchDir(name: String): String = {
    val dir = java.nio.file.Files.createTempDirectory(s"graft-$name").toFile
    scratchDirs.add(dir)
    dir.toString
  }

  override def afterAll(): Unit =
    try scratchDirs.forEach(d => org.apache.commons.io.FileUtils.deleteDirectory(d))
    finally super.afterAll()

  /** Every job `body` starts, in job id order. Jobs are told apart from
    * other suites' by a local property `body`'s thread (and any thread it
    * starts) carries; the list is complete when this returns, since a
    * marker job's end is awaited and a listener queue delivers events in
    * posting order.
    */
  def jobsDuring(body: => Any): Seq[SparkSuite.Job] = {
    import org.apache.spark.scheduler._
    import scala.collection.concurrent.TrieMap
    val sc = spark.sparkContext
    val key = "graft.test.jobsDuring"
    val tag = java.util.UUID.randomUUID().toString
    val marker = s"$tag marker"
    val drained = new java.util.concurrent.CountDownLatch(1)
    val started = TrieMap.empty[Int, (String, Long)]
    val stageJob = TrieMap.empty[Int, Int]
    val tasks = TrieMap.empty[Int, Int]
    val ended = TrieMap.empty[Int, SparkSuite.Job]
    @volatile var markerId = -1
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        val props = Option(j.properties)
        props.map(_.getProperty(key)) match {
          case Some(`tag`) =>
            started(j.jobId) = (props.flatMap(p => Option(p.getProperty("spark.job.description"))
              .orElse(Option(p.getProperty("callSite.short")))).getOrElse(""), j.time)
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
          ended(j.jobId) = SparkSuite.Job(description, tasks.getOrElse(j.jobId, 0), j.time - t0)
        }
    }
    def tagged(value: String)(run: => Any): Unit = {
      val outer = sc.getLocalProperty(key)
      sc.setLocalProperty(key, value)
      try run finally sc.setLocalProperty(key, outer)
    }
    sc.addSparkListener(listener)
    try {
      tagged(tag)(body)
      tagged(marker)(sc.parallelize(Seq(0), 1).count())
      require(drained.await(60, java.util.concurrent.TimeUnit.SECONDS),
        "listener bus did not drain in 60 s")
    } finally sc.removeSparkListener(listener)
    ended.toSeq.sortBy(_._1).map(_._2)
  }

  /** Parquet file count of every directory matching the glob `dirs`
    * relative to `root`.
    */
  def parquetFilesPerDir(root: String, dirs: String): Map[String, Int] = {
    val base = new org.apache.hadoop.fs.Path(root)
    val fs = base.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.globStatus(new org.apache.hadoop.fs.Path(base, dirs)).map { d =>
      d.getPath.toString ->
        fs.listStatus(d.getPath).count(_.getPath.getName.endsWith(".parquet"))
    }.toMap
  }
}
