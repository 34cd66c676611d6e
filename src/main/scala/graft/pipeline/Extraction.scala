package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.kernel.{Html, Lang, Pdf}

/** The extraction pipeline — Spark rendition of the reference's
  * `POST /process` lifecycle (`/root/reference/app/api/routes.py:14-42` →
  * `app/services/ocr.py:155-228`), re-architected as a declarative
  * DataFrame/Dataset plan:
  *
  * {{{
  * read pages (url, html) → mapPartitions(extractDoc), per row:
  *   payload sniff `%PDF-`
  *     ├─ HTML: tokenize → DOM → density-classify                    [J2]
  *     └─ PDF:  one parse → ≤10-page chunks [D1] → layout parse [J1]
  *              → ordered merge [B1/F1]
  * → label/keyword classification column [C3]
  * }}}
  *
  * That per-row stage is the pipeline: [[extractAll]] and the checkpointed
  * write path ([[Checkpoint.extractParted]]) both run it, one scan of
  * `url` + `html` and no shuffle. The chunk-level dataflow is the
  * content-hash memoization path and the differential oracle of the fused
  * PDF branch:
  *
  * {{{
  * pdfChunks: flatMap 10-page split [D1]
  * → extractChunks: sha2 dedup [B5] (+ 24 h result cache [C6])
  *   → mapPartitions(layout parse) [J1] → rejoin on hash
  * → mergePdfDocs: groupBy(url) ordered merge [B1/F1]
  * }}}
  *
  * The typed stages stay iterator-based inside `mapPartitions` to preserve
  * the reference's streaming memory profile (`pdf_splitter.py:72-107`); the
  * relational steps are Catalyst built-ins (the dedup-rejoin broadcasts
  * when small, AQE resizes the merge shuffle).
  */
object Extraction {

  /** Payload-sniff branch predicate: the reference accepts only `.pdf`
    * uploads (`routes.py:25-26`); at web scale the equivalent is a
    * magic-bytes test on the binary column (no kernel needed; [[extractDoc]]
    * makes the same test per row).
    */
  def isPdf(payload: Column): Column =
    substring(payload, 1, 5) === lit("%PDF-".getBytes(java.nio.charset.StandardCharsets.ISO_8859_1))

  /** Classifier keyword set + threshold — `vision_service.py:138-140`. */
  val ClassifierRegex = "schematic|diagram|technical|drawing"
  val ScoreThreshold = 0.8

  // ------------------------------------------------------------ HTML branch
  /** HTML kernel over a typed partition iterator (J2). Per-row failures are
    * tolerated with an empty result + error, mirroring `ocr.py:186-196`.
    */
  def htmlDocs(pages: Dataset[Page]): Dataset[HtmlDoc] = {
    import pages.sparkSession.implicits._
    pages.mapPartitions(_.map(p => htmlDocOne(RawDoc(p.url, p.html))))
  }

  /** Rows whose payload exceeds this fail in isolation (C5) instead of
    * risking task-level OOM from one pathological document (a multi-GB
    * "page" in a crawl); 256 MB is far above any real web payload.
    */
  val MaxPayloadBytes: Int = 256 << 20

  private[graft] def oversized(p: Array[Byte], limit: Int): Boolean =
    p != null && p.length > limit

  def htmlDocOne(p: RawDoc): HtmlDoc = htmlDocOne(p, MaxPayloadBytes)

  private[graft] def htmlDocOne(p: RawDoc, limit: Int): HtmlDoc =
    if (oversized(p.html, limit))
      HtmlDoc(p.url, "", "", Seq.empty, "und", 0L, 0L, ok = false,
        error = s"payload ${p.html.length} bytes exceeds limit $limit")
    else try {
      val ex = Html.extract(p.html)
      val labels = ex.headings.map { h =>
        val words = Html.countWords(h)
        val s = math.rint(math.min(1.0, words / 20.0) * 10000) / 10000
        Label(h, s, s)
      }
      HtmlDoc(p.url, ex.text, ex.title, labels, ex.language,
        ex.contentBlocks.toLong, ex.boilerBlocks.toLong, ok = true, error = "")
    } catch {
      case e: Exception =>
        HtmlDoc(p.url, "", "", Seq.empty, "und", 0L, 0L, ok = false,
          error = String.valueOf(e.getMessage))
    }

  // ------------------------------------------------------------- PDF branch
  /** D1: stream each PDF into consecutive ≤10-page sub-PDFs. Iterator-based
    * flatMap (a Catalyst Generator) — the array is never materialized
    * whole, matching the reference's memory-bounded async generator.
    * Unsplittable payloads degrade to a single passthrough chunk whose
    * extraction then fails in isolation (C5).
    */
  def pdfChunks(pages: Dataset[Page]): Dataset[Chunk] = {
    import pages.sparkSession.implicits._
    pages.flatMap { p =>
      val cs =
        try Pdf.chunkBytes(p.html)
        catch { case _: Exception => Vector(p.html) }
      val n = cs.length
      cs.iterator.zipWithIndex.map { case (payload, i) => Chunk(p.url, i, n, payload) }
    }
  }

  /** Extract one chunk payload (J1) with prefix-only labels/language: the
    * reference classifies from page 1 only (`vision_service.py:51-52`, F3);
    * we derive labels from the first ≤5 text lines and language from the
    * chunk text — the document keeps chunk 0's values after the merge.
    */
  def extractOne(hash: String, payload: Array[Byte]): ChunkExtract =
    try chunkExtractOf(hash, Pdf.extractChunk(payload))
    catch { case e: Exception => failedChunk(hash, e) }

  private def chunkExtractOf(hash: String, r: Pdf.ChunkResult): ChunkExtract = {
    val labels = r.text.split('\n').iterator.filter(_.nonEmpty).take(5).map { l =>
      val s = math.rint(math.min(1.0, Html.countWords(l) / 10.0) * 10000) / 10000
      Label(l, s, s)
    }.toSeq
    val pages = r.pages.map(p => PageMeta(p.page_number, p.width, p.height, p.confidence))
    ChunkExtract(hash, r.text, pages, labels, Lang.detect(r.text), ok = true, error = "")
  }

  private def failedChunk(hash: String, e: Exception): ChunkExtract =
    ChunkExtract(hash, "", Seq.empty, Seq.empty, "und", ok = false,
      error = String.valueOf(e.getMessage))

  /** B5: distinct-by-content-hash memoization. Chunks are hashed with
    * `sha2(payload, 256)` (bit-identical to the reference's
    * `hashlib.sha256(...).hexdigest()`, `cache_manager.py:23-25`), each
    * unique payload is extracted exactly once, and results are joined back
    * to all (url, chunk_idx) holders — Spark's "distinct + rejoin" idiom.
    * With `cache` set, previously committed results inside the 24 h TTL are
    * reused and only misses run the kernel (C6/A10).
    */
  def extractChunks(chunks: Dataset[Chunk],
                    cache: Option[DataFrame] = None,
                    asOf: Option[java.sql.Timestamp] = None): DataFrame = {
    val spark = chunks.sparkSession
    import spark.implicits._
    val hashed = chunks.withColumn("content_hash", sha2($"payload", 256))
    val unique = hashed.select($"content_hash", $"payload")
      .dropDuplicates("content_hash")

    // the cache entries still inside the 24 h TTL
    val live: Option[DataFrame] = cache.map { c =>
      asOf.fold(c)(t => c.where($"committed_ts" + expr("INTERVAL 24 HOURS") > lit(t)))
    }

    val toCompute: DataFrame = live match {
      case Some(l) => unique.join(l.select($"content_hash"), Seq("content_hash"), "left_anti")
      case None => unique.toDF()
    }

    val computed = toCompute
      .select($"content_hash", $"payload").as[(String, Array[Byte])]
      .mapPartitions(_.map { case (h, p) => extractOne(h, p) })
      .toDF()

    val results = live match {
      case Some(l) =>
        val cachedHits = unique.select($"content_hash")
          .join(l, Seq("content_hash"), "inner")
          .select($"content_hash", $"result.text".as("text"),
            $"result.pages".as("pages"), $"result.labels".as("labels"),
            $"result.language".as("language"), lit(true).as("ok"), lit("").as("error"))
        computed.unionByName(cachedHits)
      case None => computed
    }

    // rejoin: every chunk holder gets the (single) result for its hash
    hashed.drop("payload").join(results, Seq("content_hash"))
  }

  /** B1/F1: the ordered merge — text concatenated and page lists extended
    * strictly in `chunk_idx` order (`document_saver.py:69-81`; order
    * restored by `array_sort` on the struct's leading field, never assumed
    * from task order). Failed chunks are dropped but counted
    * (`ocr.py:75-77,91`, B3).
    */
  def mergePdfDocs(chunkResults: DataFrame): DataFrame = {
    chunkResults
      .groupBy("url")
      .agg(
        array_sort(collect_list(struct(
          col("chunk_idx"), col("text"), col("pages"), col("labels"),
          col("language"), col("ok")))).as("cs"),
        max(col("total_chunks")).as("total_chunks"))
      .select(
        col("url"),
        concat_ws("", expr("transform(filter(cs, c -> c.ok), c -> c.text)")).as("extracted_text"),
        expr("flatten(transform(filter(cs, c -> c.ok), c -> c.pages))").as("pages"),
        expr("cs[0].labels").as("labels"),
        expr("cs[0].language").as("language"),
        expr("size(filter(cs, c -> c.ok))").as("chunks_processed"),
        col("total_chunks"),
        expr("size(filter(cs, c -> c.ok)) > 0").as("ok"))
  }

  /** Fused PDF branch: split → extract → ordered merge for one document,
    * entirely inside the row's task. Because every chunk of a url
    * originates from a single input row, the chunk-level dataflow's two
    * payload shuffles (dedup-by-hash) and the merge shuffle (groupBy url)
    * move data that was already co-located — at 10^12-document scale those
    * exchanges dominate the job, so the pipeline ([[extractDoc]]) runs this
    * instead and keeps the plan scan → mapPartitions, which scales linearly.
    * Produces rows identical to `mergePdfDocs(extractChunks(pdfChunks(…)))`
    * (extraction is deterministic, so skipping within-run dedup changes
    * cost, never bytes); [[extractChunks]] is the path for a cross-run
    * memoization cache or corpora where duplicate payloads are frequent
    * enough that dedup beats re-extraction, and the oracle for this one.
    */
  def pdfDocFused(p: RawDoc): PdfDoc = pdfDocFused(p, MaxPayloadBytes)

  private[graft] def pdfDocFused(p: RawDoc, limit: Int): PdfDoc = {
    // one parse for the whole document (Pdf.extractDocChunks); an
    // unparsable payload degrades to a single failed chunk exactly like
    // the dataflow path's passthrough chunk (C5 failure isolation)
    val ex: Vector[ChunkExtract] =
      if (oversized(p.html, limit))
        Vector(ChunkExtract("", "", Seq.empty, Seq.empty, "und", ok = false,
          error = s"payload ${p.html.length} bytes exceeds limit $limit"))
      else try Pdf.extractDocChunks(p.html).map(r => chunkExtractOf("", r))
      catch { case e: Exception => Vector(failedChunk("", e)) }
    val okEx = ex.filter(_.ok)
    PdfDoc(p.url,
      okEx.iterator.map(_.text).mkString,
      okEx.flatMap(_.pages),
      ex.head.labels, ex.head.language,
      okEx.length, ex.length, okEx.nonEmpty)
  }

  /** Per-document fused extraction (both branches, one row in → one row
    * out): the one extraction stage. [[extractAll]] maps it over
    * `url` + payload rows; [[Checkpoint.extractParted]] threads partition
    * columns through it instead of re-joining the extracted text on url,
    * which would shuffle the whole output. A null payload sniffs as HTML
    * and fails its row (`ok = false`). `document_type` is a columnar
    * post-step ([[documentType]]) in both.
    */
  def extractDoc(p: RawDoc): DocRow = {
    val isPdfRow = p.html != null && p.html.length >= 5 &&
      p.html(0) == '%' && p.html(1) == 'P' && p.html(2) == 'D' &&
      p.html(3) == 'F' && p.html(4) == '-'
    if (isPdfRow) {
      val d = pdfDocFused(p)
      DocRow(d.url, d.extracted_text, "", d.labels, d.language, d.pages,
        d.chunks_processed, d.total_chunks, 0L, 0L, "pdf", d.ok)
    } else {
      val h = htmlDocOne(p)
      DocRow(h.url, h.extracted_text, h.title, h.labels, h.language,
        Seq.empty, 1, 1, h.content_blocks, h.boiler_blocks, "html", h.ok)
    }
  }

  /** Full pipeline: one scan of `url` + `html` → [[extractDoc]] per row →
    * classify (C3). Input must carry at least `url` and `html`; output is
    * one [[DocRow]] plus `document_type` per input row.
    */
  def extractAll(pagesDf: DataFrame): DataFrame = {
    import pagesDf.sparkSession.implicits._
    pagesDf.select($"url", $"html").as[RawDoc]
      .mapPartitions(_.map(extractDoc))
      .withColumn("document_type", documentType(col("labels")))
  }

  /** C3: `document_type = 'technical_drawing'` iff any label scores above
    * 0.8 and mentions a keyword — `exists()` higher-order function, fully
    * columnar/codegen, no UDF (`vision_service.py:131-141`).
    */
  def documentType(labels: Column): Column =
    when(exists(labels, l =>
      l.getField("score") > ScoreThreshold &&
        lower(l.getField("description")).rlike(ClassifierRegex)),
      "technical_drawing").otherwise("unknown")

  /** A5: the 4-line human summary (`document_saver.py:92-102`) as a pure
    * `format_string` projection.
    */
  def summary(docs: DataFrame): DataFrame =
    docs.select(col("url"), format_string(
      "Document Analysis Summary\n-------------------------\nFilename: %s\nTotal pages: %d\nChunks processed: %d\nText length: %d characters\n",
      col("url"), size(col("pages")), col("chunks_processed"),
      length(col("extracted_text"))).as("summary"))

  /** The reference's response envelope `OCRResponse{success, data, error}`
    * (`app/schemas/responses.py:4-8`) over extracted documents, including
    * the Metadata entity (`app/services/ocr.py:199-207`):
    *  - `visual_elements`/`classifications` are open-keyed dicts typed
    *    `MapType(String, String)`; the reference reads them from keys the
    *    vision result never sets (`ocr.py:205-206`), so they are always
    *    empty at runtime — reproduced as empty maps, honestly;
    *  - `processing_time` (`ocr.py:201`) is wall-clock in the reference,
    *    nondeterministic and excluded from the byte-identity contract like
    *    every reference timestamp — emitted as a deterministic 0.0
    *    stand-in (FIXTURES.md records the exclusion).
    */
  def envelope(docs: DataFrame): DataFrame =
    docs.select(
      col("url"),
      col("ok").as("success"),
      when(col("ok"), struct(
        col("extracted_text").as("text"),
        col("pages"),
        struct(
          col("url").as("filename"),
          lit(0.0).as("processing_time"),
          col("chunks_processed"),
          col("total_chunks"),
          col("ok").as("vision_ai_processed"),
          typedLit(Map.empty[String, String]).as("visual_elements"),
          typedLit(Map.empty[String, String]).as("classifications"),
          col("document_type"),
          col("language")).as("metadata"))).as("data"),
      when(!col("ok"), lit("extraction failed")).as("error"))

  /** Standard session config for this engine at local[N] (AQE + skew-join
    * on; shuffle partitions sized to cores, not the 200 default). Carries
    * NO file-split overrides: at production scale split sizing comes from
    * the 128 MB `maxPartitionBytes` default and Parquet row groups.
    */
  def configure(b: SparkSession.Builder, cores: Int): SparkSession.Builder =
    b.config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // measured on a 100k-doc corpus (BENCH.md "Storage codec"): zstd
      // writes 0.65x the bytes of the snappy default at comparable speed —
      // at 10^12-doc scale the extracted-text table is the dominant storage
      // artifact, so the 35 % shrink wins outright (lz4: 1.17x bytes;
      // gzip: 0.62x but multiples slower to write)
      .config("spark.sql.parquet.compression.codec", "zstd")

  /** [[configure]] plus small-file scan overrides for the local harnesses
    * (Verify/Bench/Probe/tests ONLY — never the library default): local
    * fixtures are many ~25 KB files, and the 4 MB default open cost would
    * bin them into a handful of scan partitions and starve the kernel
    * stage of parallelism. An 8 MB cap would mis-split large production
    * files (~16 tasks per 128 MB file), which is why it lives here and
    * not in [[configure]].
    */
  def configureLocal(b: SparkSession.Builder, cores: Int): SparkSession.Builder =
    configure(b, cores)
      .config("spark.sql.files.maxPartitionBytes", "8m")
      .config("spark.sql.files.openCostInBytes", "1m")
}
