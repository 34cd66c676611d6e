package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, min, struct}
import graft.kernel.Compress

/** WARC (ISO 28500) source — the container real Common-Crawl-style
  * corpora actually arrive in, so a user can point the engine at crawl
  * archives directly instead of pre-converted parquet. (The reference
  * app ingests uploads over HTTP, `/root/reference/app/api/routes.py:19`;
  * at the north rule's 10^12-document scale the wire format is WARC.)
  *
  * Format facts this parser implements from the spec:
  *  - a WARC file is a sequence of records: `WARC/1.x` version line,
  *    CRLF-terminated named header fields, an empty line, then exactly
  *    `Content-Length` bytes of block, then CRLFCRLF;
  *  - crawl archives gzip EACH RECORD as its own member and concatenate
  *    the members (the member boundaries are what make per-record random
  *    access possible); `java.util.zip.GZIPInputStream` decodes
  *    concatenated members natively;
  *  - `.warc.zst` archives (the IIPC zstd convention) put each record in
  *    its own zstd frame, optionally after a skippable frame carrying a
  *    shared dictionary — both handled transparently by [[read]],
  *    [[buildCdx]] and [[readRecordAt]];
  *  - `response` records carry an HTTP response as their block: status
  *    line + headers + CRLFCRLF + payload. The page bytes are the
  *    payload; everything else (`warcinfo`, `request`, `metadata`
  *    records) is skipped.
  *
  * Parsing is STREAMING: records are produced lazily off a (gunzipping)
  * InputStream, so a ~1 GB crawl archive whose records decompress to
  * several GB never materializes — only one record's block is in memory
  * at a time (bounded by [[MaxRecordBytes]]; a crafted Content-Length
  * fails the record, it cannot balloon the heap).
  *
  * [[read]] exposes the archive as the engine's canonical page shape
  * `(url, warc_ts, html)` via Spark's `binaryFile` source + a lazy
  * `flatMap` — file-level parallelism, no driver-side I/O. One WARC
  * file becomes one task (crawl convention sizes them ~1 GB for
  * exactly this reason); C5 isolation applies per file: a corrupt
  * archive yields its good prefix of records rather than killing the
  * job.
  */
object Warc {

  final case class WarcRecord(url: String, warcTsMs: Long,
                              httpContentType: String, body: Array[Byte],
                              warcType: String = "response",
                              httpStatus: Int = 200,
                              httpLocation: String = "",
                              refersToUri: String = "",
                              payloadDigest: String = "")

  final class WarcError(msg: String) extends RuntimeException(msg)

  /** Per-record block ceiling (256 MiB): no real crawl response comes
    * close, and a crafted Content-Length must not allocate the heap.
    */
  val MaxRecordBytes: Long = 1L << 28

  private def isGzip(b: Array[Byte]): Boolean =
    b.length >= 2 && (b(0) & 0xff) == 0x1f && (b(1) & 0xff) == 0x8b

  // -------------------------------------------------- zstd (.warc.zst)
  // The IIPC zstd-WARC convention (warc-specifications proposal,
  // implemented by warcio/pywb and used by newer crawl tooling): the
  // archive is a sequence of zstd frames — one (or more) records per
  // frame, frames concatenated for per-record random access exactly like
  // gzip members — optionally preceded by a SKIPPABLE frame (RFC 8878
  // §3.1.2, magic 0x184D2A50..5F little-endian; the convention uses
  // 0x184D2A5D) whose content is a shared compression dictionary, either
  // raw or itself zstd-compressed (sniffed by magic). The zstd codec
  // comes from zstd-jni on Spark's own classpath — the same native
  // binding Spark uses for zstd parquet.

  private def isZstdFrame(b: Array[Byte], off: Int): Boolean =
    b.length >= off + 4 && (b(off) & 0xff) == 0x28 && (b(off + 1) & 0xff) == 0xb5 &&
      (b(off + 2) & 0xff) == 0x2f && (b(off + 3) & 0xff) == 0xfd

  private def isZstdSkippable(b: Array[Byte], off: Int): Boolean =
    b.length >= off + 4 && (b(off) & 0xf0) == 0x50 && (b(off + 1) & 0xff) == 0x2a &&
      (b(off + 2) & 0xff) == 0x4d && (b(off + 3) & 0xff) == 0x18

  private def isZstd(b: Array[Byte]): Boolean =
    isZstdFrame(b, 0) || isZstdSkippable(b, 0)

  private def le32(b: Array[Byte], off: Int): Long =
    (b(off) & 0xffL) | ((b(off + 1) & 0xffL) << 8) |
      ((b(off + 2) & 0xffL) << 16) | ((b(off + 3) & 0xffL) << 24)

  /** A zstd-compressed dictionary frame, decoded under
    * [[Compress.MaxDecodedBytes]].
    */
  private def zstdDecompressAll(bytes: Array[Byte]): Array[Byte] = {
    val in = new com.github.luben.zstd.ZstdInputStream(
      new java.io.ByteArrayInputStream(bytes))
    try Compress.drain(in, Compress.MaxDecodedBytes) finally in.close()
  }

  /** The archive's shared dictionary, if its head is a skippable frame
    * (content raw or zstd-compressed — sniffed), plus the offset where
    * the record frames start.
    */
  private def zstdLeadDict(bytes: Array[Byte]): (Option[Array[Byte]], Int) =
    if (!isZstdSkippable(bytes, 0)) (None, 0)
    else {
      if (bytes.length < 8) throw new WarcError("truncated zstd skippable frame header")
      val size = le32(bytes, 4)
      if (8 + size > bytes.length)
        throw new WarcError("zstd dictionary frame overruns the archive")
      val content = java.util.Arrays.copyOfRange(bytes, 8, 8 + size.toInt)
      val dict = if (isZstdFrame(content, 0)) zstdDecompressAll(content) else content
      (Some(dict), 8 + size.toInt)
    }

  /** Decompressing stream over the record frames of a `.warc.zst`
    * archive: leading dictionary frame consumed and loaded, concatenated
    * record frames decoded in sequence (zstd streaming walks
    * frame-after-frame and skips interior skippable frames natively).
    */
  private def openZstd(bytes: Array[Byte]): java.io.InputStream = {
    val (dict, start) = zstdLeadDict(bytes)
    val base = new java.io.ByteArrayInputStream(bytes, start, bytes.length - start)
    val zin = new com.github.luben.zstd.ZstdInputStream(base)
    dict.foreach(zin.setDict)
    zin
  }

  /** Parse one WARC file's bytes (gzip'd or clear) into response
    * records, strictly: malformed data raises [[WarcError]]. The Spark
    * path ([[read]]) uses the lazy [[parseStream]] with good-prefix
    * semantics instead.
    */
  def parse(bytes: Array[Byte]): Vector[WarcRecord] = {
    val in = open(bytes)
    try parseStream(in).toVector finally in.close()
  }

  def parseClear(data: Array[Byte]): Vector[WarcRecord] = {
    val in = new java.io.ByteArrayInputStream(data)
    try parseStream(in).toVector finally in.close()
  }

  private def open(bytes: Array[Byte]): java.io.InputStream =
    if (isGzip(bytes))
      new java.util.zip.GZIPInputStream(new java.io.ByteArrayInputStream(bytes), 64 * 1024)
    else if (isZstd(bytes)) openZstd(bytes)
    else new java.io.ByteArrayInputStream(bytes)

  /** Lazy record iterator over a WARC stream. Throws [[WarcError]] from
    * `hasNext` on structural violations (callers wanting good-prefix
    * tolerance wrap with [[goodPrefix]]).
    */
  def parseStream(in0: java.io.InputStream): Iterator[WarcRecord] = {
    val in = new java.io.BufferedInputStream(in0, 64 * 1024)

    // CRLF (or LF) terminated line as ISO-8859-1; None at clean EOF.
    // Bounded: a header line past 64 KiB is not WARC (and an unbounded
    // reader would be the decompression-bomb vector the streaming
    // design otherwise eliminates)
    def readLine(): Option[String] = {
      val sb = new java.lang.StringBuilder(64)
      var b = in.read()
      if (b < 0) return None
      while (b >= 0 && b != '\n') {
        sb.append(b.toChar)
        if (sb.length > 64 * 1024) throw new WarcError("unterminated header line")
        b = in.read()
      }
      var e = sb.length
      if (e > 0 && sb.charAt(e - 1) == '\r') e -= 1
      Some(sb.substring(0, e))
    }
    def readFully(n: Int): Array[Byte] = {
      val buf = new Array[Byte](n)
      var off = 0
      while (off < n) {
        val k = in.read(buf, off, n - off)
        if (k < 0) throw new WarcError("truncated record block")
        off += k
      }
      buf
    }

    new Iterator[WarcRecord] {
      private var nextRec: WarcRecord = _
      private var done = false

      private def advance(): Unit = {
        while (nextRec == null && !done) {
          // tolerate inter-record blank lines
          var line: Option[String] = readLine()
          while (line.contains("")) line = readLine()
          line match {
            case None => done = true
            case Some(version) =>
              if (!version.startsWith("WARC/"))
                throw new WarcError(s"expected WARC version line, got '${version.take(40)}'")
              var warcType = ""
              var uri = ""
              var date = ""
              var recContentType = ""
              var contentLength = -1L
              var refersTo = ""
              var payloadDigest = ""
              var hdr = readLine().getOrElse(throw new WarcError("EOF in record headers"))
              while (hdr.nonEmpty) {
                val c = hdr.indexOf(':')
                if (c > 0) {
                  val k = hdr.substring(0, c).trim.toLowerCase
                  val v = hdr.substring(c + 1).trim
                  k match {
                    case "warc-type" => warcType = v
                    case "warc-target-uri" => uri = v
                    case "warc-date" => date = v
                    case "content-type" => recContentType = v
                    case "content-length" => contentLength = v.toLong
                    case "warc-refers-to-target-uri" => refersTo = v
                    case "warc-payload-digest" => payloadDigest = v
                    case _ =>
                  }
                }
                hdr = readLine().getOrElse(throw new WarcError("EOF in record headers"))
              }
              if (contentLength < 0 || contentLength > MaxRecordBytes)
                throw new WarcError(s"bad Content-Length $contentLength")
              val block = readFully(contentLength.toInt)
              if (warcType == "revisit" && uri.nonEmpty) {
                // crawl-time dedup pointer (ISO 28500 §6.7.2,
                // identical-payload-digest profile): the block carries at
                // most the HTTP headers; the PAYLOAD lives in the record
                // WARC-Payload-Digest / WARC-Refers-To-Target-URI point at
                val tsMs =
                  try java.time.Instant.parse(date).toEpochMilli
                  catch { case _: Exception => 0L }
                nextRec = WarcRecord(uri, tsMs, recContentType,
                  Array.emptyByteArray, "revisit",
                  refersToUri = refersTo, payloadDigest = payloadDigest)
              } else if (warcType == "conversion" && uri.nonEmpty) {
                // WET-style conversion record: the block IS the payload
                // (no HTTP message to strip); content type comes from the
                // record's own Content-Type field
                val tsMs =
                  try java.time.Instant.parse(date).toEpochMilli
                  catch { case _: Exception => 0L }
                nextRec = WarcRecord(uri, tsMs, recContentType, block, "conversion")
              } else if (warcType == "response" && uri.nonEmpty) {
                var hdrEnd = 0
                var found = false
                while (!found && hdrEnd + 3 < block.length) {
                  if (block(hdrEnd) == '\r' && block(hdrEnd + 1) == '\n' &&
                    block(hdrEnd + 2) == '\r' && block(hdrEnd + 3) == '\n') found = true
                  else hdrEnd += 1
                }
                val (bodyStart, headers) =
                  if (found)
                    (hdrEnd + 4, new String(block, 0, hdrEnd,
                      java.nio.charset.StandardCharsets.ISO_8859_1))
                  else (0, "") // headerless block: whole block is body
                def hdrVal(name: String): String = headers.linesIterator
                  .find(_.toLowerCase.startsWith(name + ":"))
                  .map(_.substring(name.length + 1).trim).getOrElse("")
                val ct = hdrVal("content-type")
                // status line: `HTTP/1.1 301 Moved Permanently`; a
                // headerless block has no status line → 200 (the crawl
                // convention for raw-payload records)
                val status = headers.linesIterator.nextOption() match {
                  case Some(sl) if sl.startsWith("HTTP/") =>
                    sl.split(" ").lift(1).flatMap(_.toIntOption).getOrElse(200)
                  case _ => 200
                }
                val location = hdrVal("location")
                val tsMs =
                  try java.time.Instant.parse(date).toEpochMilli
                  catch { case _: Exception => 0L }
                val raw = java.util.Arrays.copyOfRange(block, bodyStart, block.length)
                // undo the wire form: chunked framing first (transfer
                // coding wraps the content coding), then content codings;
                // any decode failure keeps the raw bytes (C5 per record)
                val body =
                  try {
                    val te = hdrVal("transfer-encoding").toLowerCase
                    val afterTe =
                      if (te.split(',').map(_.trim).lastOption.contains("chunked"))
                        dechunk(raw)
                      else raw
                    val encs = hdrVal("content-encoding").toLowerCase
                      .split(',').map(_.trim).filter(_.nonEmpty).toSeq
                    if (encs.isEmpty) afterTe
                    else decodeContentEncoding(afterTe, encs)
                  } catch { case _: Exception => raw }
                nextRec = WarcRecord(uri, tsMs, ct, body,
                  httpStatus = status, httpLocation = location)
              } // non-response records: loop to the next one
          }
        }
      }

      override def hasNext: Boolean = { advance(); nextRec != null }
      override def next(): WarcRecord = {
        advance()
        if (nextRec == null) throw new NoSuchElementException
        val r = nextRec; nextRec = null; r
      }
    }
  }

  /** Good-prefix wrapper: iteration stops at the first structural error
    * (incl. gzip corruption surfacing mid-stream) instead of failing the
    * task — the C5 rule at record granularity. The underlying stream is
    * CLOSED as soon as the iterator is exhausted or dies: a
    * GZIPInputStream holds a native zlib Inflater that is otherwise only
    * released at finalization, and executors churning through many
    * archives (or bailing early on corrupt ones) would accumulate native
    * memory between GCs.
    */
  private def goodPrefix[A](it: => Iterator[A], in: java.io.InputStream): Iterator[A] = {
    val inner = try it catch { case _: Exception => closeQuietly(in); Iterator.empty }
    new Iterator[A] {
      private var dead = false
      private def die(): Unit = { dead = true; closeQuietly(in) }
      override def hasNext: Boolean =
        !dead && (try {
          val h = inner.hasNext
          if (!h) die()
          h
        } catch { case _: Exception => die(); false })
      override def next(): A =
        try inner.next() catch { case e: Exception => die(); throw e }
    }
  }

  private def closeQuietly(in: java.io.InputStream): Unit =
    try in.close() catch { case _: Exception => }

  // --------------------------------------- HTTP message body decoding
  // Real crawl `response` records store the HTTP message AS SENT, so
  // bodies routinely arrive `Transfer-Encoding: chunked` and/or
  // `Content-Encoding: gzip|deflate|zstd` (heritrix and wget both
  // preserve the wire form; cf. the reference app receiving decoded
  // uploads, `/root/reference/app/api/routes.py:32` — at crawl scale the
  // decode is the ingester's job). Both layers are undone here so the
  // emitted `html` column is the page bytes the extraction kernels
  // expect. Decode failure (truncated chunk, bad deflate, unknown
  // coding like `br`) falls back to the RAW body — the C5 rule: a
  // mangled response yields its bytes as-is rather than killing the
  // archive, and downstream extraction treats undecodable payloads as
  // it treats any binary junk.

  /** RFC 9112 §7.1 chunked decoding: hex size line (chunk extensions
    * after `;` ignored), CRLF, data, CRLF, repeated; a zero-size chunk
    * then optional trailer fields end the body. Strict — malformed
    * framing throws (the caller falls back to raw bytes).
    */
  private[sources] def dechunk(b: Array[Byte]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(math.min(b.length, 1 << 20))
    var p = 0
    def line(): String = {
      val s = p
      while (p + 1 < b.length && !(b(p) == '\r' && b(p + 1) == '\n')) p += 1
      if (p + 1 >= b.length) throw new WarcError("unterminated chunk line")
      val str = new String(b, s, p - s, java.nio.charset.StandardCharsets.ISO_8859_1)
      p += 2
      str
    }
    var done = false
    while (!done) {
      val l = line()
      val semi = l.indexOf(';')
      val hex = (if (semi >= 0) l.substring(0, semi) else l).trim
      if (hex.isEmpty || !hex.forall(c => Character.digit(c, 16) >= 0))
        throw new WarcError(s"bad chunk size '${hex.take(20)}'")
      val n = java.lang.Long.parseLong(hex, 16)
      if (n > MaxRecordBytes || out.size() + n > MaxRecordBytes)
        throw new WarcError("chunked body exceeds record cap")
      if (n == 0) {
        // trailer section: header lines until the terminating blank line
        var t = line()
        while (t.nonEmpty) t = line()
        done = true
      } else {
        if (p + n + 2 > b.length) throw new WarcError("chunk data overruns block")
        out.write(b, p, n.toInt)
        p += n.toInt
        if (!(b(p) == '\r' && b(p + 1) == '\n'))
          throw new WarcError("missing CRLF after chunk data")
        p += 2
      }
    }
    out.toByteArray
  }

  /** Undo `Content-Encoding` codings (RFC 9110 §8.4: listed in the
    * order applied, so decoded right-to-left). `deflate` means
    * zlib-wrapped per spec, but a long-standing server bug ships raw
    * deflate — sniffed by the zlib CMF/FLG checksum. Unknown codings
    * (e.g. `br`: no decoder on this classpath) throw → raw fallback.
    */
  private[sources] def decodeContentEncoding(body: Array[Byte],
                                             encodings: Seq[String]): Array[Byte] =
    encodings.foldRight(body) { (enc, acc) =>
      enc match {
        case "gzip" | "x-gzip" =>
          val in = new java.util.zip.GZIPInputStream(
            new java.io.ByteArrayInputStream(acc), 64 * 1024)
          try Compress.drain(in, MaxRecordBytes) finally in.close()
        case "deflate" =>
          val zlib = acc.length >= 2 && (acc(0) & 0x0f) == 8 &&
            ((((acc(0) & 0xff) << 8) | (acc(1) & 0xff)) % 31 == 0)
          val out = Compress.inflate(acc, 0, acc.length, raw = !zlib, MaxRecordBytes.toInt + 1)
          if (out.length > MaxRecordBytes) throw new WarcError("decoded body exceeds cap")
          out
        case "zstd" =>
          val in = new com.github.luben.zstd.ZstdInputStream(
            new java.io.ByteArrayInputStream(acc))
          try Compress.drain(in, MaxRecordBytes) finally in.close()
        case "identity" | "" => acc
        case other => throw new WarcError(s"unsupported content-encoding '$other'")
      }
    }

  /** Passes close() through as flush() only — lets a per-member
    * GZIPOutputStream be close()d (releasing its native Deflater)
    * without closing the underlying archive stream.
    */
  private final class CloseShieldOutputStream(out: java.io.OutputStream)
      extends java.io.FilterOutputStream(out) {
    // FilterOutputStream.write(b,off,len) loops single bytes — forward
    override def write(b: Array[Byte], off: Int, len: Int): Unit =
      out.write(b, off, len)
    override def close(): Unit = out.flush()
  }

  /** Read WARC archives as the engine's page shape
    * `(url STRING, warc_ts TIMESTAMP, html BINARY)`. Only 2xx responses
    * become pages — redirect stubs and error bodies are not corpus
    * content (resolve redirect chains from [[readResponses]] +
    * [[graft.ops.CrawlPolicy.resolveRedirects]] instead). Corrupt data
    * contributes its good prefix of records (possibly zero) instead of
    * failing the job; feed the result straight to
    * [[graft.pipeline.Extraction.extractAll]].
    */
  def read(spark: SparkSession, pathGlob: String): DataFrame = {
    import spark.implicits._
    spark.read.format("binaryFile").load(pathGlob)
      .select($"path", $"content").as[(String, Array[Byte])]
      .flatMap { case (_, bytes) =>
        val in = open(bytes)
        goodPrefix(parseStream(in), in)
          .filter(r => r.warcType == "response" &&
            r.httpStatus >= 200 && r.httpStatus < 300)
          .map(r => (r.url, new java.sql.Timestamp(r.warcTsMs), r.body))
      }
      .toDF("url", "warc_ts", "html")
  }

  /** Every response record with its HTTP metadata:
    * `(url, warc_ts, http_status, content_type, location, html)` —
    * the input for status censuses and redirect-chain resolution
    * ([[graft.ops.CrawlPolicy.resolveRedirects]] over the
    * `url → location` edges of the 3xx rows).
    */
  def readResponses(spark: SparkSession, pathGlob: String): DataFrame = {
    import spark.implicits._
    spark.read.format("binaryFile").load(pathGlob)
      .select($"path", $"content").as[(String, Array[Byte])]
      .flatMap { case (_, bytes) =>
        val in = open(bytes)
        goodPrefix(parseStream(in), in)
          .filter(_.warcType == "response")
          .map(r => (r.url, new java.sql.Timestamp(r.warcTsMs),
            r.httpStatus, r.httpContentType, r.httpLocation, r.body))
      }
      .toDF("url", "warc_ts", "http_status", "content_type", "location", "html")
  }

  // ------------------------------------------ WET-style conversion sink

  /** One `conversion` record (the WET sidecar grammar: ISO 28500 §6.8 —
    * the re-encoded content of a prior response record): version line,
    * WARC named fields, blank line, UTF-8 text block, record terminator.
    */
  def conversionRecord(url: String, tsMs: Long, text: String): Array[Byte] = {
    val body = text.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val date = java.time.Instant.ofEpochMilli(tsMs).toString
    val hdr = Seq(
      "WARC/1.1",
      "WARC-Type: conversion",
      s"WARC-Target-URI: $url",
      s"WARC-Date: $date",
      s"Content-Length: ${body.length}",
      "Content-Type: text/plain; charset=UTF-8",
      "").mkString("", "\r\n", "\r\n")
      .getBytes(java.nio.charset.StandardCharsets.ISO_8859_1)
    hdr ++ body ++ "\r\n\r\n".getBytes(java.nio.charset.StandardCharsets.ISO_8859_1)
  }

  /** Train a zstd dictionary for the WET sink from a bounded,
    * DETERMINISTIC sample of the corpus (first `maxSamples` docs in url
    * order — same input, same dictionary bytes, so archive bytes stay
    * reproducible). Small conversion records share WARC header + HTML
    * boilerplate that per-record frames cannot exploit alone; a shared
    * dictionary recovers that redundancy — the reason the IIPC
    * convention has the head skippable frame at all. Returns the raw
    * dictionary for [[writeConversions]]'s `dict` parameter.
    */
  def trainZstdDict(docs: DataFrame, dictSize: Int = 16 * 1024,
                    maxSamples: Int = 1024): Array[Byte] = {
    val spark = docs.sparkSession
    import spark.implicits._
    val rows = docs.select($"url", $"warc_ts", $"extracted_text")
      .as[(String, java.sql.Timestamp, String)]
      .sort($"url").limit(maxSamples).collect()
    require(rows.length >= 8,
      s"need >= 8 sample records to train a dictionary, got ${rows.length}")
    val recs = rows.map { case (u, ts, t) => conversionRecord(u, ts.getTime, t) }
    val trainer = new com.github.luben.zstd.ZstdDictTrainer(
      recs.map(_.length).sum, dictSize)
    recs.foreach(trainer.addSample)
    trainer.trainSamples()
  }

  /** Write extracted documents back out as WET-style `.warc.gz` archives
    * — crawl-in/crawl-out symmetry: the corpus leaves the engine in the
    * same container it arrived in, one gzip member per record (the crawl
    * convention [[read]] relies on), one archive per partition, written
    * through the Hadoop FileSystem API straight from the executors (no
    * driver collect; repartition upstream to size archives ~1 GB at
    * corpus scale). Timestamps come from the rows' `warc_ts` — no wall
    * clock, so output bytes are deterministic. Each attempt writes an
    * attempt-scoped temp file and renames on success, so retries and
    * speculative duplicates never interleave bytes in the committed
    * name. Returns records written.
    *
    * `docs` must carry `url`, `warc_ts`, `extracted_text`. `codec` picks
    * the member compression: `"gzip"` (the classic crawl convention) or
    * `"zstd"` (one zstd frame per record — the IIPC `.warc.zst` shape;
    * [[read]] and [[buildCdx]] accept both). With `dict` (zstd only,
    * train via [[trainZstdDict]]) every archive leads with the
    * dictionary in a skippable frame and each record frame compresses
    * against it — the full IIPC shared-dictionary shape this source
    * already reads.
    */
  def writeConversions(docs: DataFrame, dir: String, codec: String = "gzip",
                       dict: Option[Array[Byte]] = None): Long = {
    require(codec == "gzip" || codec == "zstd", s"unknown codec '$codec'")
    require(dict.isEmpty || codec == "zstd",
      "a shared dictionary requires the zstd codec")
    val ext = if (codec == "gzip") "warc.gz" else "warc.zst"
    val spark = docs.sparkSession
    import spark.implicits._
    new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration).mkdirs(
        new org.apache.hadoop.fs.Path(dir))
    // the SESSION's Hadoop conf must reach the executors (it carries
    // filesystem credentials/endpoints a default Configuration loses);
    // SerializableConfiguration is Spark's own wrapper for exactly this
    val confBc = spark.sparkContext.broadcast(
      new org.apache.spark.util.SerializableConfiguration(
        spark.sparkContext.hadoopConfiguration))
    val counts = docs
      .select($"url", $"warc_ts", $"extracted_text")
      .as[(String, java.sql.Timestamp, String)]
      .mapPartitions { it =>
        if (it.isEmpty) Iterator.empty
        else {
          val tc = org.apache.spark.TaskContext.get()
          val pid = tc.partitionId()
          val fin = new org.apache.hadoop.fs.Path(dir, f"wet-$pid%05d.$ext")
          // attempt-scoped temp + rename-on-success: a speculative or
          // zombie duplicate attempt writes its OWN temp file, so two
          // attempts never interleave bytes in the final name; the
          // committed file is always one attempt's complete output
          val tmp = new org.apache.hadoop.fs.Path(dir,
            f".wet-$pid%05d.attempt-${tc.taskAttemptId()}.tmp")
          val fs = fin.getFileSystem(confBc.value.value)
          val out = fs.create(tmp, true)
          var n = 0L
          try {
            // shared dictionary leads the archive in a skippable frame
            // (raw content; readers sniff raw-vs-compressed) — each
            // partition file is its own self-contained archive
            dict.foreach { d =>
              out.write(Array(0x5d, 0x2a, 0x4d, 0x18).map(_.toByte))
              val len = d.length
              out.write(Array(len & 0xff, (len >> 8) & 0xff,
                (len >> 16) & 0xff, (len >> 24) & 0xff).map(_.toByte))
              out.write(d)
            }
            it.foreach { case (url, ts, text) =>
              // close() per member releases the native Deflater/CCtx
              // (finish() alone leaves it for finalization — one leaked
              // native buffer per record); the shield keeps the file
              // stream open
              val member: java.io.OutputStream =
                if (codec == "gzip")
                  new java.util.zip.GZIPOutputStream(
                    new CloseShieldOutputStream(out), 64 * 1024)
                else {
                  val z = new com.github.luben.zstd.ZstdOutputStream(
                    new CloseShieldOutputStream(out), 3)
                  dict.foreach(z.setDict)
                  z
                }
              member.write(conversionRecord(url, ts.getTime, text))
              member.close()
              n += 1
            }
          } finally out.close()
          if (fs.exists(fin)) fs.delete(fin, false)
          require(fs.rename(tmp, fin), s"commit rename failed for $fin")
          Iterator.single(n)
        }
      }
    counts.collect().sum
  }

  // ------------------------------------------ CDX random-access index
  /** Byte spans of the gzip MEMBERS of a multi-member archive:
    * `(offset, length)` per member. Headers parsed per RFC 1952
    * (FEXTRA / FNAME / FCOMMENT / FHCRC all handled); each member's
    * compressed extent is measured by the raw `Inflater`'s
    * bytes-consumed plus the 8-byte CRC/ISIZE trailer — the exact spans
    * a ranged read needs, with no reliance on magic-byte scanning
    * (`1f 8b` can occur INSIDE compressed data).
    */
  def gzipMemberOffsets(bytes: Array[Byte]): Vector[(Long, Long)] = {
    val out = Vector.newBuilder[(Long, Long)]
    var pos = 0
    val buf = new Array[Byte](64 * 1024)
    while (pos < bytes.length) {
      val start = pos
      if (pos + 10 > bytes.length || (bytes(pos) & 0xff) != 0x1f ||
          (bytes(pos + 1) & 0xff) != 0x8b || (bytes(pos + 2) & 0xff) != 8)
        throw new IllegalArgumentException(s"not a gzip member at offset $pos")
      val flg = bytes(pos + 3) & 0xff
      var p = pos + 10
      if ((flg & 4) != 0) { // FEXTRA
        val xlen = (bytes(p) & 0xff) | ((bytes(p + 1) & 0xff) << 8)
        p += 2 + xlen
      }
      if ((flg & 8) != 0) { while (bytes(p) != 0) p += 1; p += 1 } // FNAME
      if ((flg & 16) != 0) { while (bytes(p) != 0) p += 1; p += 1 } // FCOMMENT
      if ((flg & 2) != 0) p += 2 // FHCRC
      val inf = new java.util.zip.Inflater(true)
      try {
        inf.setInput(bytes, p, bytes.length - p)
        while (!inf.finished()) {
          if (inf.inflate(buf) == 0 && inf.needsInput())
            throw new IllegalArgumentException(s"truncated deflate stream at member $start")
        }
        val end = p + inf.getBytesRead.toInt + 8 // CRC32 + ISIZE
        if (end > bytes.length)
          throw new IllegalArgumentException(s"member at $start overruns the archive")
        out += ((start.toLong, (end - start).toLong))
        pos = end
      } finally inf.end()
    }
    out.result()
  }

  /** Byte spans of the RECORD frames of a `.warc.zst` archive:
    * `(offset, length)` per zstd frame, exactly as [[gzipMemberOffsets]]
    * does for gzip members. A leading skippable (dictionary) frame is
    * NOT a member — ranged readers fetch it separately via the archive
    * head ([[readRecordAt]]). Frame extents come from
    * `ZSTD_findFrameCompressedSize` (zstd-jni), never magic-byte
    * scanning: `28 B5 2F FD` can occur inside compressed data.
    */
  def zstdFrameOffsets(bytes: Array[Byte]): Vector[(Long, Long)] = {
    val out = Vector.newBuilder[(Long, Long)]
    var pos = 0
    while (pos < bytes.length) {
      if (isZstdSkippable(bytes, pos)) {
        if (pos + 8 > bytes.length)
          throw new IllegalArgumentException(s"truncated skippable frame at $pos")
        val end = pos + 8 + le32(bytes, pos + 4)
        if (end > bytes.length)
          throw new IllegalArgumentException(s"skippable frame at $pos overruns the archive")
        pos = end.toInt
      } else if (isZstdFrame(bytes, pos)) {
        val sz =
          try com.github.luben.zstd.Zstd.findFrameCompressedSize(bytes, pos)
          catch { case e: Exception =>
            throw new IllegalArgumentException(s"bad zstd frame at $pos: ${e.getMessage}")
          }
        if (sz <= 0 || pos + sz > bytes.length)
          throw new IllegalArgumentException(s"zstd frame at $pos overruns the archive")
        out += ((pos.toLong, sz))
        pos += sz.toInt
      } else throw new IllegalArgumentException(s"not a zstd frame at offset $pos")
    }
    out.result()
  }

  /** Member spans plus the shared dictionary (zstd archives only) —
    * the codec-generic half of [[buildCdx]].
    */
  private def memberSpans(bytes: Array[Byte]): (Vector[(Long, Long)], Option[Array[Byte]]) =
    if (isZstd(bytes)) (zstdFrameOffsets(bytes), zstdLeadDict(bytes)._1)
    else (gzipMemberOffsets(bytes), None)

  /** Decompressing stream over ONE member's bytes, with the archive's
    * shared dictionary applied for zstd members.
    */
  private def openMember(member: Array[Byte], dict: Option[Array[Byte]]): java.io.InputStream =
    if (isZstdFrame(member, 0)) {
      val zin = new com.github.luben.zstd.ZstdInputStream(
        new java.io.ByteArrayInputStream(member))
      dict.foreach(zin.setDict)
      zin
    } else open(member)

  /** Build a CDX-style index over `.warc.gz` / `.warc.zst` archives: ONE row per
    * record — `(surt, url, warc_ts, warc_type, file, offset, length,
    * digest)` — the Common-Crawl-index shape that turns a 100 TB pile
    * of sequential archives into a randomly addressable corpus: look up
    * a url's row (SURT-sorted, zone-map-able), then fetch exactly
    * `[offset, offset+length)` of one file ([[readRecordAt]]) instead of
    * scanning the archive. Digest is sha-256 hex of the record body.
    */
  def buildCdx(spark: SparkSession, pathGlob: String): DataFrame = {
    import spark.implicits._
    spark.read.format("binaryFile").load(pathGlob)
      .select(col("path"), col("content")).as[(String, Array[Byte])]
      .flatMap { case (path, bytes) =>
        // C5 isolation, matching read(): a corrupt / unrecognized archive
        // contributes zero rows instead of failing the job, and a
        // corrupt record stops only its own member's tail
        val (members, dict) =
          try memberSpans(bytes)
          catch { case _: Exception => (Vector.empty[(Long, Long)], None) }
        members.iterator.flatMap { case (off, len) =>
          val member = java.util.Arrays.copyOfRange(
            bytes, off.toInt, (off + len).toInt)
          val recs =
            try {
              val in = openMember(member, dict)
              try parseStream(in).toVector finally in.close()
            } catch { case _: Exception => Vector.empty[WarcRecord] }
          // rec_idx disambiguates MULTI-record members (whole-file-gzip
          // archives): gzip offers no mid-member random access, so the
          // span names the member and rec_idx the record within it
          recs.zipWithIndex.map { case (r, ri) =>
            val digest = java.security.MessageDigest.getInstance("SHA-256")
              .digest(r.body).map(b => f"$b%02x").mkString
            (graft.kernel.UrlNorm.surt(r.url), r.url,
              new java.sql.Timestamp(r.warcTsMs), r.warcType,
              path, off, len, ri, digest)
          }
        }
      }
      .toDF("surt", "url", "warc_ts", "warc_type", "file", "offset", "length",
        "rec_idx", "digest")
  }

  /** Ranged random access: read ONLY `[offset, offset+length)` of one
    * archive (Hadoop `FSDataInputStream.readFully` — a positioned read,
    * not a scan), decompress that member and return its `recIdx`-th
    * record (0 for the crawl convention of one record per member;
    * `buildCdx`'s `rec_idx` column for whole-file-gzip archives, whose
    * single member is the unavoidable decompression unit).
    */
  def readRecordAt(spark: SparkSession, file: String, offset: Long,
                   length: Long, recIdx: Int = 0): WarcRecord = {
    val path = new org.apache.hadoop.fs.Path(
      if (file.startsWith("file:") || file.contains("://")) file else s"file:$file")
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val buf = new Array[Byte](length.toInt)
    val in = fs.open(path)
    // a zstd member may need the archive's shared dictionary — that is
    // the head skippable frame, fetched with a SECOND positioned read
    // (8-byte header, then exactly the frame), never a scan
    val dict: Option[Array[Byte]] =
      try {
        in.readFully(offset, buf, 0, length.toInt)
        if (isZstdFrame(buf, 0)) {
          val head = new Array[Byte](8)
          in.readFully(0L, head, 0, 8)
          if (isZstdSkippable(head, 0)) {
            val sz = le32(head, 4).toInt
            val frame = new Array[Byte](sz)
            in.readFully(8L, frame, 0, sz)
            val d = if (isZstdFrame(frame, 0)) zstdDecompressAll(frame) else frame
            Some(d)
          } else None
        } else None
      } finally in.close()
    val stream = openMember(buf, dict)
    val recs = try parseStream(stream).toVector finally stream.close()
    if (recIdx < 0 || recIdx >= recs.length)
      throw new IllegalArgumentException(
        s"no record $recIdx at $file@$offset+$length (${recs.length} present)")
    recs(recIdx)
  }

  /** Every `revisit` record as
    * `(url, warc_ts, refers_to_url, payload_digest)` — the crawl-time
    * dedup pointers. Digest labels (`sha256:…`) are stripped to bare
    * hex for joining against [[buildCdx]]'s `digest` column.
    */
  def readRevisits(spark: SparkSession, pathGlob: String): DataFrame = {
    import spark.implicits._
    spark.read.format("binaryFile").load(pathGlob)
      .select($"path", $"content").as[(String, Array[Byte])]
      .flatMap { case (_, bytes) =>
        val in = open(bytes)
        goodPrefix(parseStream(in), in)
          .filter(_.warcType == "revisit")
          .map { r =>
            val d = r.payloadDigest
            val bare = (if (d.contains(':')) d.substring(d.indexOf(':') + 1) else d)
              .toLowerCase
            (r.url, new java.sql.Timestamp(r.warcTsMs), r.refersToUri, bare)
          }
      }
      .toDF("url", "warc_ts", "refers_to_url", "payload_digest")
  }

  /** Resolve revisit pointers to fetchable spans: each revisit row
    * joins the CDX index ([[buildCdx]]) on payload digest and is
    * assigned ONE original response record — the earliest capture
    * (min `(warc_ts, file, offset)`), deterministically. Returns
    * `(url, warc_ts, refers_to_url, payload_digest, file, offset,
    * length, rec_idx)`; revisits whose digest is absent from the index
    * are dropped (count the difference to monitor dangling pointers).
    * One equi-join on digest — the revisit side is tiny next to the
    * corpus, AQE broadcasts it; fetch bodies with [[readRecordAt]].
    */
  def resolveRevisits(revisits: DataFrame, cdx: DataFrame): DataFrame = {
    val originals = cdx.where(col("warc_type") === "response")
      .groupBy(col("digest"))
      .agg(min(struct(col("warc_ts"), col("file"), col("offset"),
        col("length"), col("rec_idx"))).as("_o"))
      .select(col("digest").as("payload_digest"),
        col("_o.file").as("file"), col("_o.offset").as("offset"),
        col("_o.length").as("length"), col("_o.rec_idx").as("rec_idx"))
    revisits.join(originals, Seq("payload_digest"))
      .select(col("url"), col("warc_ts"), col("refers_to_url"),
        col("payload_digest"), col("file"), col("offset"), col("length"),
        col("rec_idx"))
  }

  /** Read WET-style archives back as `(url, warc_ts, text)` — the
    * parse-back half of the byte-identity check on [[writeConversions]]
    * (WarcSpec asserts read-back text == the column that was written).
    */
  def readConversions(spark: SparkSession, pathGlob: String): DataFrame = {
    import spark.implicits._
    spark.read.format("binaryFile").load(pathGlob)
      .select($"path", $"content").as[(String, Array[Byte])]
      .flatMap { case (_, bytes) =>
        val in = open(bytes)
        goodPrefix(parseStream(in), in)
          .filter(_.warcType == "conversion")
          .map(r => (r.url, new java.sql.Timestamp(r.warcTsMs),
            new String(r.body, java.nio.charset.StandardCharsets.UTF_8)))
      }
      .toDF("url", "warc_ts", "text")
  }
}
