package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.fixtures.PageGen
import graft.pipeline._
import java.sql.Timestamp
import java.nio.file.Files

final case class CacheResult(text: String, pages: Seq[PageMeta],
                             labels: Seq[Label], language: String)
final case class CacheEntry(content_hash: String, committed_ts: Timestamp,
                            result: CacheResult)

class PipelineSpec extends AnyFunSuite with SparkSuite {
  import spark.implicits._

  private lazy val fixture = PageGen.pages(300)
  private lazy val pagesDs = spark.createDataset(fixture)
  private lazy val docs = Extraction.extractAll(pagesDs.toDF()).cache()

  test("byte-identity: extracted text matches ground truth for every url") {
    val got = docs.select($"url", $"extracted_text").as[(String, String)].collect().toMap
    val truth = fixture.map(p => p.url -> p.text).toMap
    assert(got.size === truth.size)
    val mismatches = truth.collect {
      case (url, t) if got(url) != t => url
    }
    assert(mismatches.isEmpty,
      s"${mismatches.size} mismatches, first: ${mismatches.headOption
        .map(u => s"$u\nGOT [${got(u).take(200)}]\nWANT[${truth(u).take(200)}]")}")
  }

  test("every output row is ok and one row per input url") {
    assert(docs.where(!$"ok").count() === 0)
    assert(docs.count() === fixture.size)
  }

  test("pdf branch: multi-chunk docs merged in order with page metadata") {
    val pdfDocs = docs.where($"source_type" === "pdf")
    assert(pdfDocs.count() > 0)
    val multi = pdfDocs.where($"total_chunks" > 1)
    assert(multi.count() > 0, "fixtures must include >10-page PDFs")
    assert(multi.where($"chunks_processed" =!= $"total_chunks").count() === 0)
    // page metadata present and confidence rounded to 4dp == 1.0
    val badConf = pdfDocs.where(exists($"pages", p => p.getField("confidence") =!= 1.0))
    assert(badConf.count() === 0)
  }

  test("dedup by sha2: duplicate payloads share hashes and results") {
    // force byte-identical PDF payloads under distinct urls
    val onePdf = fixture.find(p => new String(p.html.take(5)) == "%PDF-").get
    val dupd = fixture ++ Seq(
      onePdf.copy(url = "https://dup.example.com/a"),
      onePdf.copy(url = "https://dup.example.com/b"))
    val pdfPages = spark.createDataset(dupd).where(Extraction.isPdf($"html")).as[Page]
    val chunks = Extraction.pdfChunks(pdfPages)
    val hashed = chunks.withColumn("content_hash", sha2($"payload", 256))
    val total = hashed.count()
    val uniq = hashed.select("content_hash").distinct().count()
    assert(uniq < total, s"expected duplicate chunks (uniq=$uniq total=$total)")
    // rejoin restores exactly one result per (url, chunk_idx)
    val res = Extraction.extractChunks(chunks)
    assert(res.count() === total)
    assert(res.groupBy("url", "chunk_idx").count().where($"count" > 1).count() === 0)
  }

  test("fused pdf branch == chunk-dataflow merge, full rows") {
    val pdfPages = pagesDs.where(Extraction.isPdf($"html")).as[Page]
    val cols = Seq("url", "extracted_text", "pages", "labels", "language",
      "chunks_processed", "total_chunks", "ok").map(col)
    val fused = Extraction.extractAll(pdfPages.toDF())
      .select(cols: _*).toJSON.collect().toSet
    val flow = Extraction.mergePdfDocs(
        Extraction.extractChunks(Extraction.pdfChunks(pdfPages)))
      .select(cols: _*).toJSON.collect().toSet
    assert(fused === flow)
    assert(fused.nonEmpty)
  }

  test("extractAll plans one Parquet scan of url + html and no union") {
    import org.apache.spark.sql.execution.{FileSourceScanExec, UnionExec}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    val dir = scratchDir("plan") + "/pages"
    Checkpoint.writePages(pagesDs.toDF(), dir)
    val out = Extraction.extractAll(spark.read.parquet(dir))
    assert(out.collect().length === fixture.size)
    object Plans extends AdaptiveSparkPlanHelper
    val nodes = Plans.collectWithSubqueries(out.queryExecution.executedPlan) { case n => n }
    val scans = nodes.collect { case s: FileSourceScanExec => s }
    val plan = out.queryExecution.executedPlan.treeString
    assert(scans.size === 1, plan)
    assert(scans.head.requiredSchema.fieldNames.toSet === Set("url", "html"), plan)
    assert(!nodes.exists(_.isInstanceOf[UnionExec]), plan)
  }

  test("null payload: one failed html row from extractAll and from the checkpointed run") {
    val nullPage = Page("https://null.example.com/a", new Timestamp(PageGen.EpochMs),
      null, "", "en")
    val pages = spark.createDataset(fixture.take(20) :+ nullPage).toDF()
    val extracted = Extraction.extractAll(pages)
    assert(extracted.count() === 21)
    assert(extracted.where($"url" === nullPage.url).select($"ok", $"source_type")
      .as[(Boolean, String)].collect().toSeq === Seq((false, "html")))

    val tmp = scratchDir("null")
    val (pagesDir, outDir, maniDir, metDir) =
      (s"$tmp/pages", s"$tmp/docs", s"$tmp/manifest", s"$tmp/metrics")
    Checkpoint.writePages(pages, pagesDir)
    assert(Checkpoint.run(spark, pagesDir, outDir, maniDir, metDir, "run1",
      new Timestamp(PageGen.EpochMs)) === 21)
    assert(spark.read.parquet(outDir).where($"url" === nullPage.url)
      .select($"ok", $"source_type").as[(Boolean, String)].collect().toSeq ===
      Seq((false, "html")))
    val m = spark.read.parquet(metDir)
    assert(m.agg(sum($"docs"), sum($"failed")).as[(Long, Long)].head() === ((21L, 1L)))
  }

  test("language prefix rule and html language detection") {
    val langs = docs.select($"url", $"language").as[(String, String)].collect().toMap
    val truthLang = fixture.map(p => p.url -> p.lang).toMap
    val agree = truthLang.count { case (u, l) => langs(u) == l }
    // heuristic: expect the vast majority to agree (mixed vocab rows may differ)
    assert(agree.toDouble / truthLang.size > 0.9, s"lang agreement $agree/${truthLang.size}")
  }

  test("classifier: technical PDFs labelled technical_drawing, others unknown") {
    val byType = docs.groupBy($"document_type").count().as[(String, Long)].collect().toMap
    assert(byType.contains("technical_drawing"))
    assert(byType("unknown") > byType("technical_drawing"))
    // every technical_drawing doc really has a qualifying label
    val bad = docs.where($"document_type" === "technical_drawing" &&
      !exists($"labels", l => l.getField("score") > 0.8 &&
        lower(l.getField("description")).rlike(Extraction.ClassifierRegex)))
    assert(bad.count() === 0)
  }

  test("salt invariance: output independent of input partitioning") {
    val repart = Extraction.extractAll(pagesDs.toDF().repartition(13, $"lang"))
    val a = docs.select($"url", $"extracted_text").as[(String, String)].collect().toMap
    val b = repart.select($"url", $"extracted_text").as[(String, String)].collect().toMap
    assert(a === b)
  }

  test("result cache: fresh entries reused, stale (>24h) recomputed") {
    val pdfPages = pagesDs.where(Extraction.isPdf($"html")).as[Page]
    val chunks = Extraction.pdfChunks(pdfPages).cache()
    val someHash = chunks.withColumn("h", sha2($"payload", 256))
      .select($"h").as[String].head()
    val asOf = new Timestamp(PageGen.EpochMs)
    def cacheWith(ts: Timestamp) = spark.createDataset(Seq(
      CacheEntry(someHash, ts, CacheResult("FROM_CACHE", Seq.empty, Seq.empty, "en")))).toDF()

    val fresh = Extraction.extractChunks(chunks,
      Some(cacheWith(new Timestamp(PageGen.EpochMs - 3600 * 1000))), Some(asOf))
    assert(fresh.where($"content_hash" === someHash && $"text" === "FROM_CACHE").count() > 0)

    val stale = Extraction.extractChunks(chunks,
      Some(cacheWith(new Timestamp(PageGen.EpochMs - 25L * 3600 * 1000))), Some(asOf))
    assert(stale.where($"text" === "FROM_CACHE").count() === 0)
    chunks.unpersist()
  }

  test("dedup invariance: duplicating input rows never changes any output") {
    val dups = fixture.take(40).map(p => p.copy(url = p.url + "?dup"))
    val withDups = Extraction.extractAll(
      spark.createDataset(fixture ++ dups).toDF())
      .select($"url", $"extracted_text").as[(String, String)].collect().toMap
    val baseline = docs.select($"url", $"extracted_text")
      .as[(String, String)].collect().toMap
    // original urls unaffected by the presence of duplicates
    baseline.foreach { case (u, t) => assert(withDups(u) === t, u) }
    // and each duplicate extracts to its source's exact bytes
    dups.foreach(d => assert(withDups(d.url) === baseline(d.url.stripSuffix("?dup"))))
  }

  test("oversized payloads fail in isolation, never crash the task") {
    val big = fixture.head
    val h = Extraction.htmlDocOne(RawDoc(big.url, big.html), limit = 10)
    assert(!h.ok && h.error.contains("exceeds limit"))
    val pdfFix = fixture.find(p => new String(p.html.take(5)) == "%PDF-").get
    val d = Extraction.pdfDocFused(RawDoc(pdfFix.url, pdfFix.html), limit = 10)
    assert(!d.ok && d.chunks_processed === 0 && d.total_chunks === 1)
    // under the default limit the same rows extract fine
    assert(Extraction.htmlDocOne(RawDoc(big.url, big.html)).ok ||
      new String(big.html.take(5)) == "%PDF-")
  }

  test("summary projection has the 4-line reference format") {
    val s = Extraction.summary(docs).as[(String, String)].head()._2
    assert(s.startsWith("Document Analysis Summary\n"))
    assert(s.contains("Filename: https://"))
    assert(s.contains("Total pages: "))
    assert(s.contains("Chunks processed: "))
    assert(s.contains("characters\n"))
  }

  test("checkpointed run: idempotent resume via manifest anti-join") {
    val tmp = scratchDir("run")
    val (pagesDir, outDir, maniDir, metDir) =
      (s"$tmp/pages", s"$tmp/docs", s"$tmp/manifest", s"$tmp/metrics")
    Checkpoint.writePages(pagesDs.toDF(), pagesDir)

    val t0 = new Timestamp(PageGen.EpochMs)
    val n1 = Checkpoint.run(spark, pagesDir, outDir, maniDir, metDir, "run1", t0)
    assert(n1 === fixture.size)
    // second run: everything committed → nothing to do
    val n2 = Checkpoint.run(spark, pagesDir, outDir, maniDir, metDir, "run2", t0)
    assert(n2 === 0)

    // outputs equal the direct pipeline, byte-for-byte
    val persisted = spark.read.parquet(outDir)
      .select($"url", $"extracted_text").as[(String, String)].collect().toMap
    val direct = fixture.map(p => p.url -> p.text).toMap
    assert(persisted === direct)

    // metrics reconcile with the page table, and carry per-partition
    // timing (B6 north-rule wording: docs/sec in the metrics table)
    val m = spark.read.parquet(metDir)
    assert(m.agg(sum($"docs")).as[Long].head() === fixture.size.toLong)
    assert(m.agg(sum($"failed")).as[Long].head() === 0L)
    assert(m.where($"bytes_in" <= 0 || $"bytes_out" <= 0).count() === 0)
    assert(m.where($"wall_ms" <= 0 || $"docs_per_sec" <= 0).count() === 0)
    // per partition, run1's input measures equal an independent rollup of
    // the page table and its output bytes the docs table's text bytes
    val keys = Seq("ts_day", "url_bucket").map(col)
    def byPart(df: org.apache.spark.sql.DataFrame): Map[(Any, Any), Seq[Any]] =
      df.collect().map(r => (r.get(0), r.get(1)) -> r.toSeq.drop(2)).toMap
    val run1 = m.where($"run_id" === "run1")
    assert(byPart(run1.select($"ts_day", $"url_bucket", $"docs", $"bytes_in")) ===
      byPart(Checkpoint.withPartitionCols(pagesDs.toDF()).groupBy(keys: _*)
        .agg(count(lit(1)), sum(octet_length($"html")).cast("long"))))
    assert(byPart(run1.select($"ts_day", $"url_bucket", $"bytes_out")) ===
      byPart(spark.read.parquet(outDir).groupBy(keys: _*)
        .agg(sum(octet_length($"extracted_text")).cast("long"))))
    // the instrumentation columns stay out of the document sink
    assert(!spark.read.parquet(outDir).columns.exists(Set("extract_ns", "bytes_in")))
    // directory clustering bounds the files every partition receives
    val filesPerDir = parquetFilesPerDir(outDir, "ts_day=*/url_bucket=*")
    assert(filesPerDir.nonEmpty)
    filesPerDir.foreach { case (d, n) => assert(n >= 1 && n <= 4, s"$n files in $d") }

    // partial-failure resume: drop the manifest rows of half the partitions
    // and re-run — exactly the complement is re-processed
    val mani = spark.read.parquet(maniDir)
    val keep = mani.where(pmod($"url_bucket", lit(2)) === 0)
    val tmp2 = s"$tmp/manifest2"
    keep.write.parquet(tmp2)
    val todo = Checkpoint.resume(spark.read.parquet(pagesDir), spark.read.parquet(tmp2))
    val expected = Checkpoint.withPartitionCols(pagesDs.toDF())
      .where(pmod($"url_bucket", lit(2)) === 1).count()
    assert(todo.count() === expected)
  }

  test("checkpointed run: raw payloads read once, steps labelled, caller label kept") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import org.apache.spark.sql.execution.command.DataWritingCommandExec
    import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
    import org.apache.spark.sql.util.QueryExecutionListener
    import scala.jdk.CollectionConverters._
    val tmp = scratchDir("onepass")
    val (pagesDir, outDir, maniDir, metDir) =
      (s"$tmp/pages", s"$tmp/docs", s"$tmp/manifest", s"$tmp/metrics")
    Checkpoint.writePages(pagesDs.toDF(), pagesDir)

    object Plans extends AdaptiveSparkPlanHelper {
      // every node of an executed plan (adaptive stages and subqueries
      // included); `intoCaches` also walks the plans that built the
      // cached relations it reads
      def nodes(p: SparkPlan, intoCaches: Boolean): Seq[SparkPlan] =
        collectWithSubqueries(p) { case n => n }.flatMap {
          case m: InMemoryTableScanExec if intoCaches => m +: nodes(m.relation.cachedPlan, true)
          case n => Seq(n)
        }
      def pageScans(p: SparkPlan, intoCaches: Boolean): Seq[FileSourceScanExec] =
        nodes(p, intoCaches).collect {
          case s: FileSourceScanExec
              if s.relation.location.rootPaths.exists(_.toString.endsWith(pagesDir)) => s
        }
      def writes(p: SparkPlan): Seq[String] = nodes(p, false).collect {
        case DataWritingCommandExec(c: InsertIntoHadoopFsRelationCommand, _) => c.outputPath.toString
      }
    }
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]()
    val labels = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val qeListener = new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = { plans.add(qe.executedPlan); () }
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    val jobListener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        Option(j.properties).flatMap(p => Option(p.getProperty("spark.job.description")))
          .foreach(labels.add)
    }
    val sc = spark.sparkContext
    spark.listenerManager.register(qeListener)
    sc.addSparkListener(jobListener)
    sc.setJobDescription("outer job")
    try {
      assert(Checkpoint.run(spark, pagesDir, outDir, maniDir, metDir, "run1",
        new Timestamp(PageGen.EpochMs)) === fixture.size)
      assert(sc.getLocalProperty("spark.job.description") === "outer job")
      // listener events arrive asynchronously; the manifest write is last
      val deadline = System.nanoTime() + 60L * 1000000000L
      while ((!plans.asScala.exists(Plans.writes(_).exists(_.endsWith(maniDir))) ||
              !labels.contains("checkpoint: manifest")) && System.nanoTime() < deadline)
        Thread.sleep(50)
    } finally {
      sc.setJobDescription(null)
      sc.removeSparkListener(jobListener)
      spark.listenerManager.unregister(qeListener)
    }

    // this run's plans: those reading the page table, directly or through a cache
    val mine = plans.asScala.toSeq.filter(Plans.pageScans(_, intoCaches = true).nonEmpty)
    val described = mine.map(p => s"${p.nodeName} writes=${Plans.writes(p)} scans=" +
      Plans.pageScans(p, intoCaches = false).map(_.requiredSchema.simpleString)).mkString("\n")
    assert(mine.exists(Plans.writes(_).exists(_.endsWith(maniDir))), described)
    // no raw-page cache: no executed plan reads a cached relation carrying html
    val cachedHtml = mine.flatMap(Plans.nodes(_, intoCaches = true)).collect {
      case m: InMemoryTableScanExec if m.relation.output.exists(_.name == "html") => m
    }
    assert(cachedHtml.isEmpty, described)
    // exactly one scan of the pages reads the payloads: the extraction's,
    // which fills the docs cache the docs write, metrics and manifest share
    val scans = mine.flatMap(Plans.pageScans(_, intoCaches = true)).distinct
    assert(scans.count(_.requiredSchema.fieldNames.contains("html")) === 1, described)
    // the todo count is a pruned scan of its own, reading no page payload
    val countScans = mine.filter(Plans.writes(_).isEmpty)
      .flatMap(Plans.pageScans(_, intoCaches = false))
    assert(countScans.nonEmpty, described)
    countScans.foreach(s => assert(
      s.requiredSchema.fieldNames.toSet.intersect(Set("html", "text", "lang")).isEmpty,
      s.requiredSchema.simpleString))
    // every commit step ran under its own label
    val seen = labels.asScala.toSet
    Seq("todo count", "extract+write", "metrics", "manifest").foreach(step =>
      assert(seen.contains(s"checkpoint: $step"), seen))
  }

  test("salt widths: one writer per fair share of the census, clamped to 1..FilesPerDir") {
    import Checkpoint.{saltWidths, FilesPerDir}
    assert(saltWidths(Map.empty, 4) === Map.empty)
    // uniform: 56 directories of 1/56 each, well under a writer's 1/4 share
    val uniform = (0 until 56).map(i => s"d$i" -> 36L).toMap
    assert(saltWidths(uniform, 4) === uniform.map { case (d, _) => d -> 1 })
    // exactly one fair share → one writer; just over it → a second one
    assert(saltWidths(Map("a" -> 250L, "b" -> 750L), 4) === Map("a" -> 1, "b" -> 3))
    assert(saltWidths(Map("a" -> 251L, "b" -> 749L), 4) === Map("a" -> 2, "b" -> 3))
    // one hot directory among small ones
    assert(saltWidths(Map("hot" -> 800L, "x" -> 100L, "y" -> 100L), 4) ===
      Map("hot" -> 4, "x" -> 1, "y" -> 1))
    // everything in one directory → the bound, however wide the shuffle
    assert(saltWidths(Map("all" -> 1000L), 4) === Map("all" -> FilesPerDir))
    assert(saltWidths(Map("all" -> 1000L), 200) === Map("all" -> FilesPerDir))
    // the clamp at 1: a sliver of the rows still gets one writer
    assert(saltWidths(Map("big" -> 1000000L, "tiny" -> 1L), 4) ===
      Map("big" -> FilesPerDir, "tiny" -> 1))
  }

  test("checkpointed run: only a hot directory is salted, every other one is one file") {
    val spread = PageGen.pages(120)
    // 360 more pages on 2024-01-01 whose urls fall in url_bucket 0 (the
    // partition spec's own hash picks them), so that one directory holds
    // more than 3/4 of the rows
    val hotTs = new Timestamp(PageGen.EpochMs + 3600L * 1000)
    val hotUrls = (0 until 4000).map(i => s"https://hot.example.com/p$i").toDF("url")
      .where(pmod(hash($"url"), lit(Checkpoint.NumBuckets)) === 0)
      .as[String].collect().take(360)
    assert(hotUrls.length === 360)
    val hot = hotUrls.zipWithIndex.map { case (u, i) =>
      spread(i % spread.size).copy(url = u, warc_ts = hotTs)
    }
    val pages = spark.createDataset(spread ++ hot).toDF()
    val n = spread.size + hot.size

    val tmp = scratchDir("hotdir")
    val (pagesDir, outDir, maniDir, metDir) =
      (s"$tmp/pages", s"$tmp/docs", s"$tmp/manifest", s"$tmp/metrics")
    Checkpoint.writePages(pages, pagesDir)
    // AQE merges a shuffle this small (< 1 MB a partition) into one task,
    // which would write the hot directory as one file too; with coalescing
    // off, the run's layout shows the salt's spread over writers
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    try assert(Checkpoint.run(spark, pagesDir, outDir, maniDir, metDir, "run1",
      new Timestamp(PageGen.EpochMs)) === n)
    finally spark.conf.unset("spark.sql.adaptive.coalescePartitions.enabled")

    val files = parquetFilesPerDir(outDir, "ts_day=*/url_bucket=*")
    val (hotDir, others) = files.partition(_._1.endsWith("/ts_day=2024-01-01/url_bucket=0"))
    assert(hotDir.size === 1, files)
    hotDir.foreach { case (d, k) =>
      assert(k >= 2 && k <= Checkpoint.FilesPerDir, s"$k files in hot $d") }
    assert(others.size > 1)
    others.foreach { case (d, k) => assert(k === 1, s"$k files in $d") }

    // the docs equal direct extraction, full rows
    val direct = Extraction.extractAll(pages)
    val persisted = spark.read.parquet(outDir).select(direct.columns.map(col): _*)
    assert(persisted.toJSON.collect().toSet === direct.toJSON.collect().toSet)
    assert(persisted.count() === n)
    assert(spark.read.parquet(metDir).agg(sum($"docs")).as[Long].head() === n.toLong)
    assert(spark.read.parquet(maniDir).agg(sum($"docs")).as[Long].head() === n.toLong)
  }

  test("snapshots: versioned runs time-travel via readAsOf; expire removes the horizon") {
    val tmp = scratchDir("snap")
    val (outDir, maniDir, metDir) = (s"$tmp/docs", s"$tmp/manifest", s"$tmp/metrics")
    val pagesV1 = PageGen.pages(120)
    val pagesDirV1 = s"$tmp/pagesV1"
    Checkpoint.writePages(spark.createDataset(pagesV1).toDF(), pagesDirV1)
    val t1 = new Timestamp(PageGen.EpochMs)
    val t2 = new Timestamp(PageGen.EpochMs + 3600L * 1000)

    val n1 = Checkpoint.runVersioned(spark, pagesDirV1, outDir, maniDir, metDir, "v1", t1)
    assert(n1 === pagesV1.size)
    // resume semantics hold across versioned runs too
    assert(Checkpoint.runVersioned(spark, pagesDirV1, outDir, maniDir, metDir, "v1b", t2) === 0)

    // the CONTENT changes under the same urls/timestamps (same
    // partitions); force publishes a full second snapshot
    val pagesV2 = pagesV1.zip(pagesV1.reverse).map { case (a, b) =>
      a.copy(html = b.html, text = b.text, lang = b.lang)
    }
    val pagesDirV2 = s"$tmp/pagesV2"
    Checkpoint.writePages(spark.createDataset(pagesV2).toDF(), pagesDirV2)
    val n2 = Checkpoint.runVersioned(spark, pagesDirV2, outDir, maniDir, metDir, "v2", t2,
      force = true)
    assert(n2 === pagesV2.size)

    // time travel: t1 sees snapshot v1's CONTENT, t2 sees v2's
    val truth1 = pagesV1.map(p => p.url -> p.text).toMap
    val truth2 = pagesV2.map(p => p.url -> p.text).toMap
    val at1 = Checkpoint.readAsOf(spark, outDir, maniDir, t1)
    assert(at1.select($"url").distinct().count() === pagesV1.size.toLong)
    assert(at1.select(countDistinct($"run_id")).as[Long].head() === 1L)
    at1.select($"url", $"extracted_text").as[(String, String)].collect()
      .foreach { case (u, x) => assert(x === truth1(u), s"t1 mismatch for $u") }
    val at2 = Checkpoint.readAsOf(spark, outDir, maniDir, t2)
    assert(at2.select($"url").distinct().count() === pagesV2.size.toLong)
    // every partition at t2 resolves to the newest commit (run v2)
    assert(at2.select(countDistinct($"run_id")).as[Long].head() === 1L)
    at2.select($"url", $"extracted_text").as[(String, String)].collect()
      .foreach { case (u, x) => assert(x === truth2(u), s"t2 mismatch for $u") }

    // expire to horizon t2: v1's partition versions vanish (dirs AND
    // manifest rows); t2 still reads; before-horizon travel is gone
    val expired = Checkpoint.expireSnapshots(spark, maniDir, t2)
    assert(expired > 0L)
    assert(Checkpoint.readAsOf(spark, outDir, maniDir, t2)
      .select($"url").distinct().count() === pagesV2.size.toLong)
    intercept[IllegalArgumentException](Checkpoint.readAsOf(spark, outDir, maniDir, t1))
    // idempotent: a second expiry finds nothing
    assert(Checkpoint.expireSnapshots(spark, maniDir, t2) === 0L)
  }

  test("snapshots: a reused run id fails and leaves snapshot, manifest and metrics unchanged") {
    val tmp = scratchDir("snap-reuse")
    val (pagesDir, outDir, maniDir, metDir) =
      (s"$tmp/pages", s"$tmp/docs", s"$tmp/manifest", s"$tmp/metrics")
    val pages = PageGen.pages(60)
    Checkpoint.writePages(spark.createDataset(pages).toDF(), pagesDir)
    val t1 = new Timestamp(PageGen.EpochMs)
    val t2 = new Timestamp(PageGen.EpochMs + 3600L * 1000)
    assert(Checkpoint.runVersioned(spark, pagesDir, outDir, maniDir, metDir, "v1", t1) ===
      pages.size)

    val snapDir = java.nio.file.Paths.get(s"$outDir/run_id=v1")
    def snapFiles(): Set[(String, Long, Long)] = {
      import scala.jdk.CollectionConverters._
      val walk = Files.walk(snapDir)
      try walk.iterator().asScala.filter(Files.isRegularFile(_))
        .map(f => (snapDir.relativize(f).toString, Files.size(f),
          Files.getLastModifiedTime(f).toMillis))
        .toSet
      finally walk.close()
    }
    val (files0, mani0, met0) =
      (snapFiles(), spark.read.parquet(maniDir).count(), spark.read.parquet(metDir).count())
    assert(files0.exists(_._1.endsWith(".parquet")))

    intercept[org.apache.spark.sql.AnalysisException] {
      Checkpoint.runVersioned(spark, pagesDir, outDir, maniDir, metDir, "v1", t2, force = true)
    }
    assert(snapFiles() === files0)
    assert(spark.read.parquet(maniDir).count() === mani0)
    assert(spark.read.parquet(metDir).count() === met0)
  }

  test("compaction: fragmented partitions rewrite to few files, content byte-identical") {
    val tmp = scratchDir("compact")
    val out = s"$tmp/docs"
    // fragment every partition: 6 separate appends of disjoint slices
    val parted = Checkpoint.withPartitionCols(pagesDs.toDF()).cache()
    (0 until 6).foreach { i =>
      parted.sample(withReplacement = false, 0.5, seed = i)
        .write.mode("append").partitionBy("ts_day", "url_bucket").parquet(out)
    }
    val before = spark.read.parquet(out)
      .select($"url", $"text").as[(String, String)].collect().sorted.toSeq
    val fsRoot = new org.apache.hadoop.fs.Path(out)
    val fs = fsRoot.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def fileCount(): Int =
      fs.globStatus(new org.apache.hadoop.fs.Path(out, "ts_day=*/url_bucket=*/*.parquet")).length
    val filesBefore = fileCount()
    val n = Checkpoint.compactPartitions(spark, out, maxFilesPerPartition = 2)
    assert(n > 0L)
    assert(fileCount() < filesBefore)
    val after = spark.read.parquet(out)
      .select($"url", $"text").as[(String, String)].collect().sorted.toSeq
    assert(after === before, "compaction changed table content")
    // idempotent below the threshold
    assert(Checkpoint.compactPartitions(spark, out, maxFilesPerPartition = 2) === 0L)
  }

  test("json results sink round-trips every document (document_saver.py:84-85 analog)") {
    val dir = scratchDir("json") + "/results"
    Checkpoint.writeJsonResults(docs, dir)
    val back = spark.read.json(dir)
    assert(back.count() === fixture.size)
    val got = back.select($"url", $"extracted_text").as[(String, String)].collect().toMap
    fixture.foreach(p => assert(got(p.url) === p.text, p.url))
  }

  test("cache expiry sweep compacts to live rows (cache_manager.py:95-116 analog)") {
    val dir = scratchDir("cache") + "/cache"
    val asOf = new Timestamp(PageGen.EpochMs)
    val fresh = new Timestamp(PageGen.EpochMs - 3600 * 1000)
    val stale = new Timestamp(PageGen.EpochMs - 25L * 3600 * 1000)
    spark.createDataset(Seq(
      CacheEntry("h1", fresh, CacheResult("a", Seq.empty, Seq.empty, "en")),
      CacheEntry("h2", stale, CacheResult("b", Seq.empty, Seq.empty, "en")),
      CacheEntry("h3", stale, CacheResult("c", Seq.empty, Seq.empty, "en"))))
      .toDF().write.parquet(dir)
    assert(Checkpoint.sweepExpired(spark, dir, asOf) === 2L)
    val left = spark.read.parquet(dir).select($"content_hash").as[String].collect().toSeq
    assert(left === Seq("h1"))
    // idempotent: nothing left to remove
    assert(Checkpoint.sweepExpired(spark, dir, asOf) === 0L)
  }

  test("invalidate(hash): exactly that hash recomputes, everything else cache-hits") {
    val dir = scratchDir("cache-inv") + "/cache"
    val pdfPages = pagesDs.where(Extraction.isPdf($"html")).as[Page]
    val chunks = Extraction.pdfChunks(pdfPages)
    val hashes = chunks.withColumn("content_hash", sha2($"payload", 256))
      .select($"content_hash").distinct().as[String].collect().toSeq.sorted
    assert(hashes.size > 2)
    val ts = new Timestamp(PageGen.EpochMs)
    // seed a cache entry for EVERY hash with sentinel text: any row whose
    // output text is not the sentinel must have gone through the kernel
    spark.createDataset(hashes.map(h =>
        CacheEntry(h, ts, CacheResult("CACHED", Seq.empty, Seq.empty, "en"))))
      .toDF().write.parquet(dir)
    // a NULL-hash row (however it got there) must survive every
    // invalidation — !isin() alone is NULL for it (three-valued logic)
    spark.createDataset(Seq((Option.empty[String], ts, "NULLROW")))
      .toDF("content_hash", "committed_ts", "junk")
      .select($"content_hash", $"committed_ts",
        struct(lit("NULLROW").as("text"),
          array().cast("array<struct<page_number:int,width:double,height:double,confidence:double>>").as("pages"),
          array().cast("array<struct<description:string,score:double,topicality:double>>").as("labels"),
          lit("en").as("language")).as("result"))
      .write.mode("append").parquet(dir)
    val victim = hashes.head
    assert(Checkpoint.invalidate(spark, dir, Seq(victim)) === 1L)
    // idempotent / absent keys: no-op
    assert(Checkpoint.invalidate(spark, dir, Seq(victim)) === 0L)
    assert(Checkpoint.invalidate(spark, dir, Seq("nope")) === 0L)
    assert(spark.read.parquet(dir).where($"content_hash".isNull).count() === 1L)
    val out = Extraction.extractChunks(chunks,
        cache = Some(spark.read.parquet(dir)), asOf = Some(ts))
      .select($"content_hash", $"text", $"ok")
      .as[(String, String, Boolean)].collect()
    val (vic, rest) = out.partition(_._1 == victim)
    assert(vic.nonEmpty && vic.forall(r => r._3 && r._2 != "CACHED"))
    assert(rest.nonEmpty && rest.forall(_._2 == "CACHED"))
  }

  test("response envelope: OCRResponse{success, data, error} + empty MapType metadata") {
    val env = Extraction.envelope(docs).cache()
    assert(env.where($"success").count() === fixture.size)
    assert(env.where($"success" && ($"data".isNull || $"error".isNotNull)).count() === 0)
    val one = env.where($"success")
      .select($"url", $"data.text", $"data.metadata.filename",
        map_keys($"data.metadata.visual_elements"),
        map_keys($"data.metadata.classifications"),
        $"data.metadata.processing_time")
      .as[(String, String, String, Seq[String], Seq[String], Double)].head()
    assert(one._1 === one._3)       // filename mirrors url
    assert(one._4.isEmpty && one._5.isEmpty) // open-keyed dicts always {} (ocr.py:205-206)
    assert(one._6 === 0.0)          // deterministic processing_time stand-in
    // failure rows: success=false, data null, error set (C5 isolation)
    val failedRow = Extraction.envelope(
      docs.limit(1).withColumn("ok", lit(false)))
      .select($"success", $"data".isNull, $"error").head()
    assert(failedRow.getBoolean(0) === false)
    assert(failedRow.getBoolean(1) === true)
    assert(failedRow.getString(2) === "extraction failed")
    env.unpersist()
  }

  test("corpus job funnel: monotone stages, WET output matches dedup survivors byte-exactly") {
    val tmp = scratchDir("corpusjob")
    val funnel = CorpusJob.run(spark, pagesDs.toDF(), s"$tmp/wet", maxBucket = 64)
      .orderBy($"ord").as[(Int, String, Long)].collect()
    assert(funnel.map(_._2).toSeq ===
      Seq("extracted", "quality_kept", "exact_unique", "neardup_survivors",
        "wet_records_written"))
    val Seq(nIn, nQ, nE, nD, nW) = funnel.map(_._3).toSeq
    assert(nIn === fixture.size.toLong)
    assert(nQ <= nIn && nE <= nQ && nD <= nE && nW === nD)
    assert(nD > 0, "funnel must not collapse to zero on the fixture corpus")
    info(s"funnel: $nIn -> $nQ -> $nE -> $nD")
    // WET archives parse back to exactly the surviving documents
    val back = graft.sources.Warc.readConversions(spark, s"$tmp/wet/*.warc.gz")
      .select($"url", $"text").as[(String, String)].collect().toMap
    assert(back.size.toLong === nD)
    val truth = docs.select($"url", $"extracted_text")
      .as[(String, String)].collect().toMap
    back.foreach { case (url, text) => assert(text === truth(url), url) }
  }

  test("full funnel: blocklist, decontamination, redaction and domain cap compose") {
    val tmp = scratchDir("fullfunnel")
    // eval set = verbatim copies of two fixture docs' truth text → the
    // decontamination stage must drop exactly their extracted twins
    val evalTexts = fixture.take(2).map(_.text)
    val evalDf = evalTexts.zipWithIndex.map { case (t, i) => (s"eval$i", t) }
      .toDF("id", "text")
    val emptyBl = Seq.empty[String].toDF("blocked")
    // the stage labels restore the caller's job description
    val sc = spark.sparkContext
    sc.setJobDescription("outer job")
    val funnel = try {
      val f = CorpusJob.runFull(spark, pagesDs.toDF(), s"$tmp/wet",
          evalDf, emptyBl, domainCap = 3, maxBucket = 64)
      assert(sc.getLocalProperty("spark.job.description") === "outer job")
      f.orderBy($"ord").as[(Int, String, Long)].collect()
    } finally sc.setJobDescription(null)
    assert(funnel.map(_._2).toSeq === Seq("extracted", "unblocked",
      "quality_kept", "decontaminated", "exact_unique", "neardup_survivors",
      "pii_redacted_docs", "domain_capped", "wet_records_written"))
    val byStage = funnel.map(t => t._2 -> t._3).toMap
    // empty blocklist: nothing blocked
    assert(byStage("unblocked") === byStage("extracted"))
    // decontamination dropped at least the two planted eval twins
    assert(byStage("decontaminated") < byStage("quality_kept"))
    // survivor stages are monotone and the cap binds per host
    assert(byStage("exact_unique") <= byStage("decontaminated"))
    assert(byStage("neardup_survivors") <= byStage("exact_unique"))
    assert(byStage("domain_capped") <= byStage("neardup_survivors"))
    assert(byStage("wet_records_written") === byStage("domain_capped"))
    assert(byStage("domain_capped") > 0)
    // per-host cap actually holds on the written corpus
    val perHost = graft.sources.Warc.readConversions(spark, s"$tmp/wet/*.warc.gz")
      .select(callUDF("parse_url", $"url", lit("HOST")).as("host"))
      .groupBy($"host").count().select($"count").as[Long].collect()
    assert(perHost.forall(_ <= 3), s"cap violated: ${perHost.max}")
    info(s"full funnel: ${funnel.map(t => s"${t._2}=${t._3}").mkString(", ")}")
  }

  test("manifest listing is newest-first") {
    val mani = Seq(
      (java.sql.Date.valueOf("2024-01-01"), 0, 5L, "r1", new Timestamp(1000), "p1"),
      (java.sql.Date.valueOf("2024-01-02"), 1, 5L, "r2", new Timestamp(2000), "p2"))
      .toDF("ts_day", "url_bucket", "docs", "run_id", "committed_ts", "path")
    assert(Checkpoint.listing(mani).select($"path").as[String].collect().toSeq === Seq("p2", "p1"))
  }
}
