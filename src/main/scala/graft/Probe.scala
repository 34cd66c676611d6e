package graft

import scala.util.control.NonFatal
import org.apache.spark.sql.SparkSession
import graft.pipeline.{Extraction, JobLabel, JobLog}

/** Dev probe: times named [[SparkEntry.queries]] entries rep by rep with
  * [[Bench]]'s timed action (`.count()`; a query that throws is still
  * timed) and breaks each query's last rep down job by job. The write
  * path's per-layer numbers come from perfbench `--trace 1`.
  *
  * `sbt "runMain graft.Probe <query>..."`; env `SPARK_GRAFT_SF_DIR`
  * (default sf0.001), `SPARK_GRAFT_CPUS` (default 4), `PROBE_REPS`
  * (default 3). Under `spark-submit` it keeps the `--master` given there
  * (e.g. `local-cluster[2,2,2048]`: process-isolated executors), and
  * `SPARK_GRAFT_CPUS` only sizes the shuffle partitions.
  */
object Probe {

  /** A [[JobLog]] job's wall seconds and label (innermost [[JobLabel]], else the rep's). */
  final case class Job(id: Int, seconds: Double, label: String)

  /** Every rep's wall seconds, the last rep's jobs by id, the last error a
    * rep threw. Job seconds come from the scheduler's millisecond clock.
    */
  final case class Report(query: String, reps: Seq[Double], jobs: Seq[Job], error: Option[String])

  def run(spark: SparkSession, sfDir: String, names: Seq[String], reps: Int): Seq[Report] = {
    require(reps >= 1, s"reps must be at least 1, got $reps")
    val fns = names.map(n => n -> SparkEntry.queries.getOrElse(n,
      throw new IllegalArgumentException(s"unknown query $n")))
    val sc = spark.sparkContext
    fns.map { case (name, fn) =>
      var error = Option.empty[String]
      def rep(i: Int): Double = {
        val start = System.currentTimeMillis()
        JobLabel(sc, s"$name rep $i") {
          try fn(spark, sfDir).count()
          catch { case NonFatal(e) => error = Some(String.valueOf(e.getMessage)) }
        }
        (System.currentTimeMillis() - start) / 1e3
      }
      val times = (1 until reps).map(rep)
      val (last, jobs) = JobLog(sc)(rep(reps))
      Report(name, times :+ last, jobs.map(j => Job(j.id, j.ms / 1e3, j.description)), error)
    }
  }

  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: graft.Probe <query> [<query>...]")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    val reps = sys.env.getOrElse("PROBE_REPS", "3").toInt
    val builder = SparkSession.builder()
    // spark-submit hands its --master over as this system property
    if (!sys.props.contains("spark.master")) builder.master(s"local[$cpus]")
    val spark = Extraction.configureLocal(builder, cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try run(spark, sfDir, args.toSeq, reps).foreach { r =>
      println(f"PROBE ${r.query} best=${r.reps.min}%.3fs reps=${r.reps.map(t => f"$t%.3f").mkString(",")}")
      r.error.foreach(e => println(s"PROBE ${r.query} error: $e"))
      r.jobs.foreach(j => println(f"PROBE ${r.query} job=${j.id}%4d ${j.seconds}%7.3fs  ${j.label}"))
      println(f"PROBE ${r.query} jobs=${r.jobs.size} sum=${r.jobs.map(_.seconds).sum}%.3fs")
    } finally spark.stop()
  }
}
