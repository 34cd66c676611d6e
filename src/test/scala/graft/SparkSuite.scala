package graft

import org.apache.spark.sql.SparkSession

/** One shared local SparkSession for all suites (cheap re-use; forked JVM
  * gets the JDK-17 add-opens from build.sbt).
  */
object SparkSuite {
  lazy val spark: SparkSession = graft.pipeline.Extraction.configureLocal(
    SparkSession.builder().master("local[4]").appName("graft-test"), 4)
    .getOrCreate()
}

trait SparkSuite {
  lazy val spark: SparkSession = {
    val s = SparkSuite.spark
    s.sparkContext.setLogLevel("WARN")
    s
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
