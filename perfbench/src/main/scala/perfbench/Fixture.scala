package perfbench

import java.nio.file.{Files, Path, StandardCopyOption}
import java.sql.Timestamp
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.fixtures.PageGen
import graft.pipeline.{Checkpoint, Extraction}

/** One workload: how many generator rows, which of them the program gets,
  * and whether all but the newest `ts_day` start out committed.
  */
final case class Workload(name: String, rows: Long, pdfOnly: Boolean, resume: Boolean)

object Workload {
  /** PageGen payload boost: tens-of-KB pages, the shape `graft.Bench` uses. */
  val Boost = 4

  val all: Seq[Workload] = Seq(
    Workload("crawl_fresh", rows = 2000, pdfOnly = false, resume = false),
    Workload("crawl_resume", rows = 3000, pdfOnly = false, resume = true),
    Workload("pdf_only", rows = 5000, pdfOnly = true, resume = false))

  def named(n: String): Workload =
    all.find(_.name == n).getOrElse(
      throw new IllegalArgumentException(s"unknown workload '$n' (${all.map(_.name).mkString(", ")})"))
}

/** A workload's generated tables under `dir`:
  *  - `pages`: the program's only input, `(url, warc_ts, html)` written by
  *    [[Checkpoint.writePages]] (7 `ts_day` × 8 `url_bucket` partitions);
  *  - `truth`: the generator's ground-truth text per url, with the url's
  *    partition, kept apart from the program's input;
  *  - `docs`, `manifest`, `metrics`: the live tables a run writes;
  *  - `snapshot`: the committed state a `resume` workload restores.
  */
final class Fixture private (val workload: Workload, val seed: Long, dir: Path) {
  val pages: String = dir.resolve("pages").toString
  val truth: String = dir.resolve("truth").toString
  val docs: String = dir.resolve("docs").toString
  val manifest: String = dir.resolve("manifest").toString
  val metrics: String = dir.resolve("metrics").toString
  private val snapshot = dir.resolve("snapshot")
  private val live = Seq("docs", "manifest", "metrics")

  /** Rows the page table holds. */
  var pageRows: Long = 0L
  /** Rows a run must extract and commit from the restored state. */
  var todoRows: Long = 0L

  /** Put docs, manifest and metrics back to the workload's start state. */
  def restore(): Unit = live.foreach { t =>
    Fixture.delete(dir.resolve(t))
    if (workload.resume) Fixture.copy(snapshot.resolve(t), dir.resolve(t))
  }

  /** Parquet data files of the docs table: relative path → bytes. */
  def docFiles(): Map[String, Long] = Fixture.parquetFiles(dir.resolve("docs"))

  /** Every file of the metrics and manifest tables → (bytes, mtime). */
  def commitFiles(): Map[String, (Long, Long)] =
    Seq("metrics", "manifest").flatMap { t =>
      val s = Files.walk(dir.resolve(t))
      try s.iterator().asScala.filter(Files.isRegularFile(_)).map { p =>
        dir.relativize(p).toString -> (Files.size(p), Files.getLastModifiedTime(p).toMillis)
      }.toVector
      finally s.close()
    }.toMap
}

object Fixture {
  /** Commit time of the committed state a `resume` workload starts from. */
  val BaseTs: Timestamp = Timestamp.valueOf("2024-01-08 00:00:00")

  /** Generate the workload's tables from `seed` into a fresh `dir`. */
  def build(spark: SparkSession, w: Workload, seed: Long, dir: Path): Fixture = {
    delete(dir)
    Files.createDirectories(dir)
    val fx = new Fixture(w, seed, dir)
    val gen = PageGen.pagesDistributed(spark, w.rows, seed, Workload.Boost,
      partitions = 4 * spark.sparkContext.defaultParallelism).toDF()
    val rows = Checkpoint.withPartitionCols(
      if (w.pdfOnly) gen.where(Extraction.isPdf(col("html"))) else gen)
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      Checkpoint.writePages(rows.select("url", "warc_ts", "html"), fx.pages)
      rows.select("url", "text", "ts_day", "url_bucket").coalesce(4)
        .write.parquet(fx.truth)
      fx.pageRows = rows.count()
      if (w.resume) {
        // every partition but the newest day is committed by a base run
        // over exactly those rows; its tables become the snapshot
        val newest = rows.agg(max(col("ts_day"))).head().getDate(0)
        val basePages = dir.resolve("base_pages").toString
        Checkpoint.writePages(
          rows.where(col("ts_day") < lit(newest)).select("url", "warc_ts", "html"), basePages)
        Checkpoint.run(spark, basePages, fx.docs, fx.manifest, fx.metrics, "base", BaseTs)
        Seq("docs", "manifest", "metrics").foreach(t => copy(dir.resolve(t), fx.snapshot.resolve(t)))
        fx.todoRows = rows.where(col("ts_day") === lit(newest)).count()
      } else fx.todoRows = fx.pageRows
    } finally rows.unpersist()
    require(fx.todoRows > 0, s"workload ${w.name} generated no rows to extract")
    fx
  }

  def delete(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.iterator().asScala.toVector.reverse.foreach(Files.delete)
      finally s.close()
    }

  def copy(from: Path, to: Path): Unit = {
    val s = Files.walk(from)
    try s.iterator().asScala.foreach { src =>
      val dst = to.resolve(from.relativize(src).toString)
      if (Files.isDirectory(src)) Files.createDirectories(dst)
      else Files.copy(src, dst, StandardCopyOption.COPY_ATTRIBUTES)
    } finally s.close()
  }

  def parquetFiles(root: Path): Map[String, Long] =
    if (!Files.exists(root)) Map.empty
    else {
      val s = Files.walk(root)
      try s.iterator().asScala
        .filter(p => Files.isRegularFile(p) && p.getFileName.toString.endsWith(".parquet"))
        .map(p => root.relativize(p).toString -> Files.size(p)).toMap
      finally s.close()
    }
}
