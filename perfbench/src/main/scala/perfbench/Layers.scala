package perfbench

import java.security.MessageDigest
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.kernel.{CharsetSniff, Html, HtmlStream, Lang, Pdf}
import graft.pipeline.{Checkpoint, Extraction, RawDoc}

/** Per-layer numbers for the traced run.
  *
  * [[attribute]] splits one real `Checkpoint.run` into steps, stages and
  * task totals from the benchmark's listener; [[isolated]] times calls
  * into each pipeline layer's public functions on the same inputs;
  * [[kernels]] times the kernels single-threaded over the workload's own
  * payloads.
  */
object Layers {
  private val MB = 1e6
  val Steps = Seq("resume", "extract_write", "metrics", "manifest")

  /** The output path in a formatted plan's write node. */
  private val WritePath =
    """(?m)^\(\d+\) Execute InsertIntoHadoopFsRelationCommand\s*\nInput: .*\nArguments: ([^,\s]+)""".r

  /** Which step of `Checkpoint.run` a job belongs to: the table its SQL
    * execution writes, and `resume` for every job that writes nothing (the
    * page listing and the `todo` count).
    */
  private def stepOf(trace: Probe.Trace, fx: Fixture, j: JobRec): String =
    j.execId.flatMap(trace.plans.get).flatMap(p => WritePath.findFirstMatchIn(p)).map(_.group(1)) match {
      case Some(p) if p.endsWith(fx.docs) => "extract_write"
      case Some(p) if p.endsWith(fx.metrics) => "metrics"
      case Some(p) if p.endsWith(fx.manifest) => "manifest"
      case _ => "resume"
    }

  /** Total length of the union of `[start, end]` intervals. */
  private def covered(iv: Seq[(Double, Double)]): Double =
    iv.sortBy(_._1).foldLeft((0.0, Double.NegativeInfinity)) { case ((acc, reach), (a, b)) =>
      if (b <= reach) (acc, reach)
      else (acc + b - math.max(a, reach), b)
    }._1

  /** Step, stage and task metrics of the traced run. `runS` is its wall
    * time; the steps sum to it because `step.driver.s` is the remainder.
    */
  def attribute(trace: Probe.Trace, fx: Fixture, runS: Double, cores: Int,
                spans: Spans, runSpan: Int): Map[String, Double] = {
    val byStep = trace.jobs.groupBy(j => stepOf(trace, fx, j))
    require(byStep.contains("extract_write"),
      "traced run has no job writing the docs table; plans seen:\n" + trace.plans.values.mkString("\n"))
    val stepS = Steps.map { s =>
      val js = byStep.getOrElse(s, Vector.empty)
      if (js.nonEmpty) {
        val sid = spans.add(runSpan, s"step.$s", js.map(_.start).min.toDouble, js.map(_.end).max.toDouble)
        js.foreach(j => spans.add(sid, s"job.${j.id}", j.start.toDouble, j.end.toDouble))
      }
      s -> covered(js.map(j => (j.start.toDouble, j.end.toDouble))) / 1000.0
    }.toMap
    val driverS = runS - stepS.values.sum

    val stageIds = trace.jobs.flatMap(_.stageIds).toSet
    val tasks = trace.tasks.filter(t => stageIds(t.stageId))
    val byStage = tasks.groupBy(_.stageId)
    val writeStages = byStep("extract_write").flatMap(_.stageIds).toSet
    val stages = trace.stages.filter(s => writeStages(s.id))
    def stageSecs(pick: Vector[TaskRec] => Boolean): Double =
      stages.filter(s => pick(byStage.getOrElse(s.id, Vector.empty)))
        .map(s => (s.complete - s.submit) / 1000.0).sum
    val isExtract = (ts: Vector[TaskRec]) => ts.exists(_.shuffleWrite > 0)
    val isWrite = (ts: Vector[TaskRec]) => ts.exists(_.outBytes > 0)
    val extractTasks = stages.filter(s => isExtract(byStage.getOrElse(s.id, Vector.empty)))
      .flatMap(s => byStage(s.id)).filterNot(_.failed).map(t => (t.finish - t.launch).toDouble)
    val taskS = tasks.map(_.runMs).sum / 1000.0

    Steps.map(s => s"step.$s.s" -> stepS(s)).toMap ++ Map(
      "step.driver.s" -> driverS,
      "stage.extract_shuffle.s" -> stageSecs(isExtract),
      "stage.write.s" -> stageSecs(isWrite),
      "run.jobs" -> trace.jobs.size.toDouble,
      "run.tasks" -> tasks.size.toDouble,
      "run.task_failures" -> tasks.count(_.failed).toDouble,
      "run.task_s" -> taskS,
      "run.cpu_s" -> tasks.map(_.cpuNs).sum / 1e9,
      "run.gc_s" -> tasks.map(_.gcMs).sum / 1000.0,
      "run.slot_util" -> taskS / (runS * cores),
      "run.input_mb" -> tasks.map(_.inBytes).sum / MB,
      "run.shuffle_write_mb" -> tasks.map(_.shuffleWrite).sum / MB,
      "run.spill_mb" -> tasks.map(_.spill).sum / MB,
      "run.output_mb" -> tasks.map(_.outBytes).sum / MB,
      "extract.task_skew" ->
        (if (extractTasks.isEmpty) 0.0 else extractTasks.max / math.max(Stats.median(extractTasks), 1.0)))
  }

  /** On-disk bytes of the `columns` chunks in a Parquet table: what a
    * scan projecting those columns reads. Task input metrics and the
    * filesystem counters both miss most of it, because Parquet reads
    * column chunks through vectored IO that bypasses them.
    */
  def columnBytes(spark: SparkSession, dir: String, columns: Set[String]): Long = {
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import scala.jdk.CollectionConverters._
    val conf = spark.sparkContext.hadoopConfiguration
    Fixture.parquetFiles(java.nio.file.Paths.get(dir)).keys.toSeq.map { rel =>
      val r = ParquetFileReader.open(
        HadoopInputFile.fromPath(new org.apache.hadoop.fs.Path(dir, rel), conf))
      try r.getFooter.getBlocks.asScala.iterator.flatMap(_.getColumns.asScala)
        .filter(c => columns(c.getPath.toDotString)).map(_.getTotalSize).sum
      finally r.close()
    }.sum
  }

  /** Pages still to do in the fixture's restored state: the manifest
    * `Checkpoint.run` would anti-join against, then the resume itself.
    */
  private def todoOf(spark: SparkSession, fx: Fixture): DataFrame = {
    import spark.implicits._
    val manifest =
      if (fx.workload.resume) spark.read.parquet(fx.manifest)
      else Seq.empty[(java.sql.Date, Int)].toDF("ts_day", "url_bucket")
    Checkpoint.resume(spark.read.parquet(fx.pages), manifest)
  }

  /** Isolated calls into the scan, resume, cache, encoder and extraction
    * layers, each the median of `reps` timed calls, with the task metrics
    * of the last call. Expects the fixture in its restored state.
    */
  def isolated(spark: SparkSession, probe: Probe, fx: Fixture, spans: Spans,
               parent: Int, reps: Int): Map[String, Double] = {
    import spark.implicits._
    val sc = spark.sparkContext
    def measure(name: String)(job: => Any): (Double, Vector[TaskRec]) = {
      val secs = (1 to reps).map { _ =>
        probe.fence(sc); probe.resetTrace()
        spans.timed(parent, name)(job)._2.seconds
      }
      probe.fence(sc)
      (Stats.median(secs), probe.snapshot.tasks)
    }

    val (scanS, _) = measure("layer.scan") {
      spark.read.parquet(fx.pages).select(col("url"), col("html"))
        .agg(sum(length(col("url"))), sum(octet_length(col("html"))), count(lit(1))).head()
    }
    var kept = 0L
    val (resumeS, resumeTasks) = measure("layer.resume") { kept = todoOf(spark, fx).count() }

    val todo = todoOf(spark, fx).cache()
    spans.timed(parent, "layer.cache")(todo.count())
    val cachedBytes = sc.getRDDStorageInfo.map(_.memSize).sum
    try {
      val (encodeS, _) = measure("layer.encode") {
        todo.select(col("url"), col("html"), col("ts_day"), col("url_bucket"))
          .as[(String, Array[Byte], java.sql.Date, Int)]
          .mapPartitions(_.map(identity))
          .agg(sum(length(col("_1"))), sum(octet_length(col("_2"))), count(lit(1))).head()
      }
      val (extractS, extractTasks) = measure("layer.extract") {
        Checkpoint.extractParted(todo)
          .agg(sum(length(col("extracted_text"))), count(lit(1))).head()
      }
      Map(
        "scan.s" -> scanS,
        "scan.mb_read" -> columnBytes(spark, fx.pages, Set("url", "html")) / MB,
        "resume.s" -> resumeS,
        "resume.rows_read" -> resumeTasks.map(_.inRecords).sum.toDouble,
        "resume.kept_frac" -> kept.toDouble / fx.pageRows,
        "cache.mb" -> cachedBytes / MB,
        "encode.s" -> encodeS,
        "extract.s" -> extractS,
        "extract.cpu_s" -> extractTasks.map(_.cpuNs).sum / 1e9)
    } finally todo.unpersist(blocking = true)
  }

  /** The payloads a run of this fixture extracts, in url order. */
  def payloads(spark: SparkSession, fx: Fixture): Vector[RawDoc] = {
    import spark.implicits._
    todoOf(spark, fx).select(col("url"), col("html")).as[RawDoc].collect().sortBy(_.url).toVector
  }

  /** Written by [[kernels]] so the JIT cannot drop the kernels' results. */
  @volatile var blackhole = 0L

  private def isPdf(b: Array[Byte]): Boolean =
    b != null && b.length >= 5 && b(0) == '%' && b(1) == 'P' && b(2) == 'D' && b(3) == 'F' && b(4) == '-'

  /** Single-thread kernel timings over `docs`. Each kernel runs over the
    * docs in order until it has used `budgetNs` (at least one doc), and
    * reports nanoseconds per doc over the docs it reached.
    */
  def kernels(docs: Vector[RawDoc], budgetNs: Long, spans: Spans,
              parent: Int): Map[String, Double] = {
    var sink = 0L
    def loop[A](name: String, xs: IndexedSeq[A])(f: A => Int): (Int, Long) = {
      val (r, _) = spans.timed(parent, s"kernel.$name") {
        val t0 = System.nanoTime()
        var i = 0
        var acc = 0L
        while (i < xs.length && (i == 0 || System.nanoTime() - t0 < budgetNs)) {
          acc += f(xs(i)); i += 1
        }
        sink += acc
        (i, System.nanoTime() - t0)
      }
      r
    }
    def perDoc(r: (Int, Long)): Double = if (r._1 == 0) 0.0 else r._2.toDouble / r._1

    val (pdfs, htmls) = docs.partition(d => isPdf(d.html))
    val charset = loop("charset", htmls)(d => CharsetSniff.decode(d.html).length)
    val decoded = htmls.take(math.max(charset._1, 1)).map(d => CharsetSniff.decode(d.html))
    val segment = loop("html_segment", decoded)(s => HtmlStream.segmentStream(s).blocks.length)
    val html = loop("html", htmls)(d => Html.extract(d.html).text.length)
    var pdfBytes = 0L
    val pdf = loop("pdf", pdfs) { d => pdfBytes += d.html.length; Pdf.extractDocChunks(d.html).length }
    var failed = 0
    val texts = Vector.newBuilder[String]
    val doc = loop("extract_doc", docs) { d =>
      val r = Extraction.extractDoc(d)
      if (!r.ok) failed += 1
      texts += r.extracted_text
      r.extracted_text.length
    }
    val lang = loop("lang", texts.result())(t => Lang.detect(t).length)

    val seen = scala.collection.mutable.HashSet.empty[String]
    val dups = docs.count { d =>
      val h = MessageDigest.getInstance("SHA-256").digest(d.html)
      !seen.add(java.util.HexFormat.of().formatHex(h))
    }
    blackhole = sink
    Map(
      "kernel.charset.ns_per_doc" -> perDoc(charset),
      "kernel.html_segment.ns_per_doc" -> perDoc(segment),
      "kernel.html.ns_per_doc" -> perDoc(html),
      "kernel.lang.ns_per_doc" -> perDoc(lang),
      "kernel.pdf.ns_per_doc" -> perDoc(pdf),
      "kernel.pdf.mb_per_s" -> (if (pdf._2 == 0) 0.0 else pdfBytes / MB / (pdf._2 / 1e9)),
      "kernel.extract_doc.ns_per_doc" -> perDoc(doc),
      "kernel.failed" -> failed.toDouble,
      "kernel.dup_payload_frac" -> dups.toDouble / math.max(docs.size, 1))
  }
}
