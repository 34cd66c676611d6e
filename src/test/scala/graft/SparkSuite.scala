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
