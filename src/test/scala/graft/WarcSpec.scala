package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.fixtures.{MediaGen, PageGen}
import graft.sources.Warc

class WarcSpec extends AnyFunSuite with SparkSuite {
  import spark.implicits._

  private def fixture(n: Int, seed: Long = 77L) =
    PageGen.pages(n, seed).map(p => (p.url, p.warc_ts, p.html))

  test("warc: gzip-member archive round-trips records byte-exactly") {
    val pages = fixture(25)
    val archive = MediaGen.warcGz(pages)
    // each record is its own gzip member: the archive must contain
    // multiple gzip magics (crawl-convention random access)
    val magics = archive.sliding(2).count(w => (w(0) & 0xff) == 0x1f && (w(1) & 0xff) == 0x8b)
    assert(magics >= pages.length, s"expected per-record members, saw $magics")
    val recs = Warc.parse(archive)
    assert(recs.length === pages.length, "warcinfo record must be skipped")
    recs.zip(pages).foreach { case (r, (url, ts, html)) =>
      assert(r.url === url)
      assert(r.warcTsMs === ts.getTime)
      assert(r.httpContentType.startsWith("text/html"))
      assert(r.body.toSeq === html.toSeq, s"body drift for $url")
    }
    // clear (ungzipped) archives parse identically
    val clear = MediaGen.warcGz(pages, gzipMembers = false)
    assert(Warc.parse(clear).map(_.url) === recs.map(_.url))
  }

  test("warc: malformed archives fail loudly, not wrongly") {
    val good = MediaGen.warcGz(fixture(3), gzipMembers = false)
    intercept[Exception](Warc.parseClear("HTTP/1.1 200 OK\r\n\r\n".getBytes))
    // truncation inside a block: Content-Length now overruns
    intercept[Exception](Warc.parseClear(good.take(good.length - 40)))
    // gzip bomb guard: the amplification bound trips, no OOM
    val bomb = {
      val bos = new java.io.ByteArrayOutputStream()
      val gz = new java.util.zip.GZIPOutputStream(bos)
      val zeros = new Array[Byte](1 << 20)
      (0 until 256).foreach(_ => gz.write(zeros))
      gz.finish()
      bos.toByteArray
    }
    intercept[Exception](Warc.parse(bomb))
  }

  test("wet sink: conversion archives round-trip text byte-exactly, valid grammar, per-record members") {
    val pages = PageGen.pages(50, seed = 79L)
    val dir = scratchDir("wet")
    val pagesDf = spark.createDataset(pages).toDF()
    val docs = graft.pipeline.Extraction.extractAll(pagesDf)
      .join(pagesDf.select($"url", $"warc_ts"), Seq("url"))
      .select($"url", $"warc_ts", $"extracted_text").repartition(3)
    val written = Warc.writeConversions(docs, dir)
    assert(written === pages.length)
    val files = new java.io.File(dir).listFiles().filter(_.getName.endsWith(".warc.gz"))
    assert(files.length === 3)
    // per-record gzip members (crawl-convention random access)
    val oneFile = java.nio.file.Files.readAllBytes(files.head.toPath)
    val magics = oneFile.sliding(2).count(w => (w(0) & 0xff) == 0x1f && (w(1) & 0xff) == 0x8b)
    val strictRecs = Warc.parse(oneFile) // STRICT parse: grammar must hold
    assert(magics === strictRecs.length && strictRecs.nonEmpty)
    assert(strictRecs.forall(r => r.warcType == "conversion" &&
      r.httpContentType.startsWith("text/plain")))
    // the byte-identity contract: parse-back == the column that was written
    val back = Warc.readConversions(spark, s"$dir/*.warc.gz")
      .select($"url", $"text").as[(String, String)].collect().toMap
    val want = docs.select($"url", $"extracted_text")
      .as[(String, String)].collect().toMap
    assert(back === want)
    // timestamps survive (no wall clock in the record grammar)
    val ts = Warc.readConversions(spark, s"$dir/*.warc.gz")
      .select($"url", $"warc_ts").as[(String, java.sql.Timestamp)].collect().toMap
    pages.foreach(p => assert(ts(p.url) === p.warc_ts))
    // read() must NOT surface conversion records as crawl pages
    assert(Warc.read(spark, s"$dir/*.warc.gz").count() === 0L)
  }

  test("warc: Spark read path feeds extraction to byte-identical truth") {
    val pages = PageGen.pages(60, seed = 78L)
    val dir = scratchDir("warc")
    pages.grouped(20).zipWithIndex.foreach { case (grp, i) =>
      java.nio.file.Files.write(
        java.nio.file.Paths.get(s"$dir/crawl-$i.warc.gz"),
        MediaGen.warcGz(grp.map(p => (p.url, p.warc_ts, p.html))))
    }
    // a corrupt file must contribute zero rows, not fail the job (C5)
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$dir/broken.warc.gz"),
      Array.fill[Byte](500)(0x42))
    val df = Warc.read(spark, s"$dir/*.warc.gz")
    assert(df.count() === pages.length)
    val extracted = graft.pipeline.Extraction.extractAll(df)
      .select($"url", $"extracted_text").as[(String, String)].collect().toMap
    val truth = pages.map(p => p.url -> p.text).toMap
    assert(extracted.keySet === truth.keySet)
    var mismatches = 0
    truth.foreach { case (url, want) =>
      if (extracted(url) != want) mismatches += 1
    }
    assert(mismatches === 0, s"$mismatches of ${truth.size} docs diverged")
  }

  test("gzipMemberOffsets: exact member spans, all RFC 1952 header flags") {
    // three members, the middle one carrying FNAME + FCOMMENT + FEXTRA
    def plainMember(payload: Array[Byte]): Array[Byte] = {
      val bos = new java.io.ByteArrayOutputStream()
      val gz = new java.util.zip.GZIPOutputStream(bos)
      gz.write(payload); gz.close()
      bos.toByteArray
    }
    def flaggedMember(payload: Array[Byte]): Array[Byte] = {
      val d = new java.util.zip.Deflater(java.util.zip.Deflater.DEFAULT_COMPRESSION, true)
      d.setInput(payload); d.finish()
      val comp = new java.io.ByteArrayOutputStream()
      val buf = new Array[Byte](256)
      while (!d.finished()) comp.write(buf, 0, d.deflate(buf))
      d.end()
      val crc = new java.util.zip.CRC32(); crc.update(payload)
      val out = new java.io.ByteArrayOutputStream()
      out.write(Array[Byte](0x1f, 0x8b.toByte, 8, (4 | 8 | 16).toByte, 0, 0, 0, 0, 0, 0))
      out.write(Array[Byte](3, 0)); out.write(Array[Byte](1, 2, 3)) // FEXTRA len 3
      out.write("name.txt".getBytes("ISO-8859-1")); out.write(0) // FNAME
      out.write("a comment".getBytes("ISO-8859-1")); out.write(0) // FCOMMENT
      out.write(comp.toByteArray)
      val cv = crc.getValue
      out.write(Array[Byte](cv.toByte, (cv >> 8).toByte, (cv >> 16).toByte, (cv >> 24).toByte))
      val n = payload.length
      out.write(Array[Byte](n.toByte, (n >> 8).toByte, (n >> 16).toByte, (n >> 24).toByte))
      out.toByteArray
    }
    val m1 = plainMember("first record body".getBytes("UTF-8"))
    val m2 = flaggedMember("second, with header extras".getBytes("UTF-8"))
    val m3 = plainMember("third".getBytes("UTF-8"))
    val archive = m1 ++ m2 ++ m3
    val spans = Warc.gzipMemberOffsets(archive)
    assert(spans === Vector((0L, m1.length.toLong),
      (m1.length.toLong, m2.length.toLong),
      ((m1.length + m2.length).toLong, m3.length.toLong)))
    intercept[IllegalArgumentException](
      Warc.gzipMemberOffsets(archive.dropRight(5))) // truncated trailer
  }

  test("cdx: index rows address every record; ranged reads return byte-identical bodies") {
    val pages = PageGen.pages(40, seed = 81L)
    val dir = scratchDir("cdx")
    val pagesDf = spark.createDataset(pages).toDF()
    val docs = graft.pipeline.Extraction.extractAll(pagesDf)
      .join(pagesDf.select($"url", $"warc_ts"), Seq("url"))
      .select($"url", $"warc_ts", $"extracted_text").repartition(2)
    Warc.writeConversions(docs, dir)
    val cdx = Warc.buildCdx(spark, s"$dir/*.warc.gz").collect()
    assert(cdx.length === pages.length)
    val wantText = docs.select($"url", $"extracted_text")
      .as[(String, String)].collect().toMap
    // spans tile each file exactly (no gaps, no overlap)
    cdx.groupBy(_.getAs[String]("file")).foreach { case (file, rows) =>
      val spans = rows.map(r => (r.getAs[Long]("offset"), r.getAs[Long]("length")))
        .sortBy(_._1)
      val fileLen = new java.io.File(new java.net.URI(file).getPath).length()
      assert(spans.head._1 === 0L)
      assert(spans.map(_._2).sum === fileLen, s"$file spans don't tile")
      spans.sliding(2).foreach {
        case Array(a, b) => assert(a._1 + a._2 === b._1, s"gap/overlap in $file")
        case _ =>
      }
    }
    // every row: ranged read → record with the exact written text + digest
    cdx.foreach { r =>
      val rec = Warc.readRecordAt(spark, r.getAs[String]("file"),
        r.getAs[Long]("offset"), r.getAs[Long]("length"), r.getAs[Int]("rec_idx"))
      assert(rec.url === r.getAs[String]("url"))
      assert(new String(rec.body, "UTF-8") === wantText(rec.url))
      val digest = java.security.MessageDigest.getInstance("SHA-256")
        .digest(rec.body).map(b => f"$b%02x").mkString
      assert(digest === r.getAs[String]("digest"))
      assert(r.getAs[String]("surt") === graft.kernel.UrlNorm.surt(rec.url))
    }
  }

  test("cdx: whole-file-gzip archives address records via rec_idx; corrupt files isolate") {
    val dir = scratchDir("cdx2")
    // one gzip MEMBER holding 5 records (the wild non-convention layout)
    val recs = (0 until 5).map(i =>
      (s"https://m.example/doc$i", 1700000000000L + i * 1000, s"body text $i"))
    val bos = new java.io.ByteArrayOutputStream()
    val gz = new java.util.zip.GZIPOutputStream(bos)
    recs.foreach { case (u, ts, t) => gz.write(Warc.conversionRecord(u, ts, t)) }
    gz.close()
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$dir/whole.warc.gz"), bos.toByteArray)
    // plus a corrupt archive that must contribute zero rows, not fail
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$dir/junk.warc.gz"), Array.fill[Byte](300)(0x55))
    val cdx = Warc.buildCdx(spark, s"$dir/*.warc.gz").collect()
    assert(cdx.length === 5, "5 rows from the whole-file member, 0 from junk")
    assert(cdx.map(_.getAs[Int]("rec_idx")).sorted.toSeq === (0 until 5))
    assert(cdx.map(r => (r.getAs[Long]("offset"), r.getAs[Long]("length"))).distinct.length === 1,
      "one member → one shared span")
    cdx.foreach { r =>
      val rec = Warc.readRecordAt(spark, r.getAs[String]("file"),
        r.getAs[Long]("offset"), r.getAs[Long]("length"), r.getAs[Int]("rec_idx"))
      assert(rec.url === r.getAs[String]("url"),
        s"rec_idx ${r.getAs[Int]("rec_idx")} returned the wrong record")
    }
  }

  // ------------------------------------------------------- .warc.zst

  private val zstDict: Array[Byte] =
    (("WARC/1.1\r\nWARC-Type: response\r\nWARC-Target-URI: https://" +
      "Content-Type: text/html; charset=UTF-8\r\n" +
      "HTTP/1.1 200 OK\r\nContent-Length: ") * 3).getBytes("ISO-8859-1")

  test("warc: zstd archives round-trip — plain, raw-dict, compressed-dict") {
    val pages = fixture(12, seed = 83L)
    val truth = Warc.parse(MediaGen.warcGz(pages))
    val plain = MediaGen.warcZst(pages)
    assert((plain(0) & 0xff) === 0x28, "dict-less archive starts with a zstd frame")
    val recs = Warc.parse(plain)
    assert(recs.map(_.url) === truth.map(_.url))
    recs.zip(truth).foreach { case (a, b) => assert(a.body.toSeq === b.body.toSeq) }
    val dicted = MediaGen.warcZst(pages, dict = Some(zstDict))
    assert((dicted(0) & 0xff) === 0x5d, "head must be the skippable dictionary frame")
    assert(Warc.parse(dicted).map(_.url) === truth.map(_.url))
    val dictedC = MediaGen.warcZst(pages, dict = Some(zstDict), compressDict = true)
    val recsC = Warc.parse(dictedC)
    recsC.zip(truth).foreach { case (a, b) =>
      assert(a.url === b.url)
      assert(a.warcTsMs === b.warcTsMs)
      assert(a.body.toSeq === b.body.toSeq)
    }
    // stripping the dictionary frame must fail LOUDLY (zstd flags the
    // missing raw dict as corruption), never decode to wrong bytes
    val spans = Warc.zstdFrameOffsets(dictedC)
    val stripped = dictedC.drop(spans.head._1.toInt)
    intercept[Exception](Warc.parse(stripped))
    // a dictionary frame holding a zstd frame of 65 MiB of zeros decodes
    // past the 64 MiB cap: refused, not loaded
    val zeros = com.github.luben.zstd.Zstd.compress(new Array[Byte](65 << 20), 3)
    val n = zeros.length
    val head = Array(0x5d, 0x2a, 0x4d, 0x18, n & 0xff, (n >> 8) & 0xff, (n >> 16) & 0xff,
      (n >> 24) & 0xff).map(_.toByte) // skippable frame, LE 0x184D2A5D + size
    val e = intercept[Exception](Warc.parse(head ++ zeros ++ plain))
    assert(e.getMessage.contains(s"exceeds ${64 << 20} bytes"), e.getMessage)
  }

  test("zstdFrameOffsets: spans tile the record region exactly; corruption refused") {
    val pages = fixture(6, seed = 84L)
    val arch = MediaGen.warcZst(pages, dict = Some(zstDict))
    val spans = Warc.zstdFrameOffsets(arch)
    assert(spans.length === pages.length + 1, "warcinfo + one frame per record")
    assert(spans.head._1 === (8L + zstDict.length), "spans start after the dict frame")
    spans.sliding(2).foreach {
      case Vector(a, b) => assert(a._1 + a._2 === b._1, "gap/overlap between frames")
      case _ =>
    }
    assert(spans.last._1 + spans.last._2 === arch.length.toLong, "spans must reach EOF")
    intercept[IllegalArgumentException](Warc.zstdFrameOffsets(arch.dropRight(3)))
    intercept[IllegalArgumentException](Warc.zstdFrameOffsets(Array.fill[Byte](64)(0x11)))
  }

  test("warc: Spark read unions mixed .warc.gz and .warc.zst archives") {
    val dir = scratchDir("zst")
    val pg = PageGen.pages(30, seed = 85L)
    val (a, b) = pg.splitAt(15)
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/crawl-0.warc.gz"),
      MediaGen.warcGz(a.map(p => (p.url, p.warc_ts, p.html))))
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/crawl-1.warc.zst"),
      MediaGen.warcZst(b.map(p => (p.url, p.warc_ts, p.html)),
        dict = Some(zstDict), compressDict = true))
    val df = Warc.read(spark, s"$dir/*.warc.*")
    val got = df.as[(String, java.sql.Timestamp, Array[Byte])].collect()
      .map(r => r._1 -> r._3).toMap
    assert(got.size === 30)
    pg.foreach(p => assert(got(p.url).toSeq === p.html.toSeq, s"html drift for ${p.url}"))
  }

  test("cdx over .warc.zst: ranged reads recover the shared dictionary; zstd WET sink round-trips") {
    val dir = scratchDir("zstcdx")
    val pages = fixture(20, seed = 86L)
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/crawl.warc.zst"),
      MediaGen.warcZst(pages, dict = Some(zstDict), compressDict = true))
    val cdx = Warc.buildCdx(spark, s"$dir/*.warc.zst").collect()
    assert(cdx.length === pages.length, "one row per response record")
    val want = pages.map { case (u, _, html) => u -> html }.toMap
    cdx.foreach { r =>
      val rec = Warc.readRecordAt(spark, r.getAs[String]("file"),
        r.getAs[Long]("offset"), r.getAs[Long]("length"), r.getAs[Int]("rec_idx"))
      assert(rec.url === r.getAs[String]("url"))
      assert(rec.body.toSeq === want(rec.url).toSeq,
        s"ranged zstd read diverged for ${rec.url}")
    }
    // WET sink, zstd codec: write → parse back → byte-identical text
    val wetDir = scratchDir("zstwet")
    val pagesDf = spark.createDataset(PageGen.pages(25, seed = 87L)).toDF()
    val docs = graft.pipeline.Extraction.extractAll(pagesDf)
      .join(pagesDf.select($"url", $"warc_ts"), Seq("url"))
      .select($"url", $"warc_ts", $"extracted_text").repartition(2)
    val written = Warc.writeConversions(docs, wetDir, codec = "zstd")
    assert(written === 25)
    val files = new java.io.File(wetDir).listFiles().filter(_.getName.endsWith(".warc.zst"))
    assert(files.length === 2, "one .warc.zst archive per partition")
    val back = Warc.readConversions(spark, s"$wetDir/*.warc.zst")
      .as[(String, java.sql.Timestamp, String)].collect().map(r => r._1 -> r._3).toMap
    val wantText = docs.select($"url", $"extracted_text").as[(String, String)]
      .collect().toMap
    assert(back === wantText, "zstd WET round-trip text drift")
  }

  test("wet sink: trained shared dictionary — byte round-trip, smaller archives, ranged reads") {
    val pages = PageGen.pages(200, seed = 83L)
    val pagesDf = spark.createDataset(pages).toDF()
    val docs = graft.pipeline.Extraction.extractAll(pagesDf)
      .join(pagesDf.select($"url", $"warc_ts"), Seq("url"))
      .select($"url", $"warc_ts", $"extracted_text").repartition(2).cache()
    val dict = Warc.trainZstdDict(docs, dictSize = 16 * 1024, maxSamples = 128)
    assert(dict.length > 256, "trained dictionary implausibly small")
    // deterministic: same corpus, same dictionary bytes
    assert(Warc.trainZstdDict(docs, 16 * 1024, 128).toSeq === dict.toSeq)
    val dirD = scratchDir("wetdict")
    val dirP = scratchDir("wetplain")
    assert(Warc.writeConversions(docs, dirD, codec = "zstd", dict = Some(dict)) === 200L)
    assert(Warc.writeConversions(docs, dirP, codec = "zstd") === 200L)
    def totalSize(d: String) = new java.io.File(d).listFiles()
      .filter(_.getName.endsWith(".warc.zst")).map(_.length).sum
    val (szD, szP) = (totalSize(dirD), totalSize(dirP))
    assert(szD - dict.length * 2 < szP,
      s"shared dict must shrink member payloads (dict=$szD plain=$szP)")
    // parse-back byte identity through the ordinary read path
    val back = Warc.readConversions(spark, s"$dirD/*.warc.zst")
      .select($"url", $"text").as[(String, String)].collect().toMap
    val want = docs.select($"url", $"extracted_text").as[(String, String)]
      .collect().toMap
    assert(back === want, "dict WET round-trip text drift")
    // CDX + ranged reads recover the dictionary per archive
    val cdx = Warc.buildCdx(spark, s"$dirD/*.warc.zst")
      .select($"url", $"file", $"offset", $"length")
      .as[(String, String, Long, Long)].collect()
    assert(cdx.length === 200)
    cdx.take(10).foreach { case (url, f, off, len) =>
      val rec = Warc.readRecordAt(spark, f, off, len)
      assert(rec.url === url)
      assert(new String(rec.body, "UTF-8") === want(url), s"ranged-read drift at $url")
    }
    // dict demands the zstd codec
    intercept[IllegalArgumentException](
      Warc.writeConversions(docs, dirD, codec = "gzip", dict = Some(dict)))
    docs.unpersist()
  }

  test("revisit records: parse, resolve against CDX by digest, fetch the original bytes") {
    val pages = fixture(20, seed = 95L)
    val ts2 = java.sql.Timestamp.valueOf("2024-06-01 00:00:00")
    // revisit every 4th page at a later time, one dangling pointer
    val revisits = pages.zipWithIndex.collect {
      case ((url, _, _), i) if i % 4 == 0 => (s"$url?retry=1", ts2, url)
    }
    val dir = scratchDir("revisit")
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/a.warc.gz"),
      MediaGen.warcGzWithRevisits(pages, revisits))
    // revisits parse with stripped digests; responses unaffected
    val rv = Warc.readRevisits(spark, s"$dir/*.warc.gz")
      .select($"url", $"refers_to_url", $"payload_digest")
      .as[(String, String, String)].collect().sortBy(_._1)
    assert(rv.length === revisits.length)
    assert(rv.forall(r => r._3.matches("[0-9a-f]{64}")), "digest must be bare hex")
    assert(Warc.read(spark, s"$dir/*.warc.gz").count() === pages.length,
      "revisit records must not become pages")
    // resolution: every revisit maps to exactly one original span; the
    // ranged read returns the referred page's exact bytes
    val cdx = Warc.buildCdx(spark, s"$dir/*.warc.gz")
    assert(cdx.where($"warc_type" === "revisit").count() === revisits.length)
    val resolved = Warc.resolveRevisits(
      Warc.readRevisits(spark, s"$dir/*.warc.gz"), cdx)
      .select($"url", $"refers_to_url", $"file", $"offset", $"length", $"rec_idx")
      .as[(String, String, String, Long, Long, Int)].collect()
    assert(resolved.length === revisits.length)
    val byUrl = pages.map(p => p._1 -> p._3).toMap
    resolved.foreach { case (u, ref, f, off, len, ri) =>
      val rec = Warc.readRecordAt(spark, f, off, len, ri)
      assert(rec.url === ref, s"revisit $u resolved to the wrong record")
      assert(rec.body.toSeq === byUrl(ref).toSeq, s"revisit $u body drift")
    }
    // a dangling revisit (digest absent from the index) drops out
    val dangling = MediaGen.warcGzWithRevisits(
      pages.take(1), Seq((s"${pages.head._1}?x", ts2, pages.head._1)))
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/b.warc.gz"), dangling)
    val onlyB = Warc.resolveRevisits(
      Warc.readRevisits(spark, s"$dir/b.warc.gz"),
      cdx.where($"warc_type" === "response").limit(0))
    assert(onlyB.count() === 0, "unresolvable revisits must drop, not fail")
  }

  test("http: chunked and content-coded bodies decode to the plain bytes") {
    val pages = fixture(7, seed = 91L)
    val encs = Seq("identity", "chunked", "gzip", "deflate",
      "deflate-raw", "zstd", "chunked+gzip")
    val recs = Warc.parse(MediaGen.warcGzHttp(pages, encs))
    assert(recs.length === pages.length)
    recs.zip(pages).zip(encs).foreach { case ((r, (url, _, html)), enc) =>
      assert(r.url === url)
      assert(r.body.toSeq === html.toSeq, s"body drift under '$enc' for $url")
    }
    // and through the Spark read path: encoded archive == plain archive
    val dir = scratchDir("warc-http")
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/enc.warc.gz"),
      MediaGen.warcGzHttp(pages, encs))
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/plain.warc.gz"),
      MediaGen.warcGz(pages))
    val byFile = Warc.read(spark, s"$dir/*.warc.gz")
      .select($"url", $"html").as[(String, Array[Byte])].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2.toSeq).toSet).toMap
    byFile.foreach { case (url, bodies) =>
      assert(bodies.size === 1, s"encoded vs plain body drift for $url")
    }
  }

  test("http: undecodable or mangled encodings fall back to the raw body, not failure") {
    val pages = fixture(2, seed = 92L)
    // 'br' label over gzip bytes: no br decoder → raw (still-gzip) body kept
    val brRecs = Warc.parse(MediaGen.warcGzHttp(pages.take(1), Seq("br")))
    assert(brRecs.length === 1)
    assert(brRecs(0).body.length >= 2 &&
      (brRecs(0).body(0) & 0xff) == 0x1f && (brRecs(0).body(1) & 0xff) == 0x8b,
      "br fallback must keep the wire bytes")
    // mangled chunk framing: size line is not hex → raw body kept, record survives
    val base = new String(
      "HTTP/1.1 200 OK\r\nTransfer-Encoding: chunked\r\n\r\nZZZ\r\nbody".getBytes,
      java.nio.charset.StandardCharsets.ISO_8859_1)
    val block = base.getBytes(java.nio.charset.StandardCharsets.ISO_8859_1)
    val rec = (s"WARC/1.1\r\nWARC-Type: response\r\n" +
      s"WARC-Target-URI: https://x.example/\r\n" +
      s"WARC-Date: 2024-01-01T00:00:00Z\r\nContent-Length: ${block.length}\r\n\r\n")
      .getBytes(java.nio.charset.StandardCharsets.ISO_8859_1) ++ block ++ "\r\n\r\n".getBytes
    val got = Warc.parseClear(rec)
    assert(got.length === 1)
    assert(new String(got(0).body) === "ZZZ\r\nbody")
    // decode bomb: tiny gzip claiming >cap decoded bytes → raw fallback
    val zeros = {
      val bos = new java.io.ByteArrayOutputStream()
      val gz = new java.util.zip.GZIPOutputStream(bos)
      val chunk = new Array[Byte](1 << 20)
      (0 until 300).foreach(_ => gz.write(chunk))
      gz.finish()
      bos.toByteArray
    }
    assert(zeros.length < (1 << 21), "bomb fixture must be small on the wire")
    val bombBlock = ("HTTP/1.1 200 OK\r\nContent-Encoding: gzip\r\n\r\n")
      .getBytes(java.nio.charset.StandardCharsets.ISO_8859_1) ++ zeros
    val bombRec = (s"WARC/1.1\r\nWARC-Type: response\r\n" +
      s"WARC-Target-URI: https://bomb.example/\r\n" +
      s"WARC-Date: 2024-01-01T00:00:00Z\r\nContent-Length: ${bombBlock.length}\r\n\r\n")
      .getBytes(java.nio.charset.StandardCharsets.ISO_8859_1) ++ bombBlock ++ "\r\n\r\n".getBytes
    val bombGot = Warc.parseClear(bombRec)
    assert(bombGot.length === 1)
    assert(bombGot(0).body.toSeq === zeros.toSeq, "bomb must fall back to wire bytes")
    // a `deflate` body whose zlib header asks for a preset dictionary
    // (FDICT) cannot decode: the wire bytes are kept, not an empty body
    val fdict = Array[Byte](0x78, 0x20, 1, 2, 3, 4, 5, 6)
    val fdBlock = ("HTTP/1.1 200 OK\r\nContent-Encoding: deflate\r\n\r\n")
      .getBytes(java.nio.charset.StandardCharsets.ISO_8859_1) ++ fdict
    val fdRec = (s"WARC/1.1\r\nWARC-Type: response\r\n" +
      s"WARC-Target-URI: https://fdict.example/\r\n" +
      s"WARC-Date: 2024-01-01T00:00:00Z\r\nContent-Length: ${fdBlock.length}\r\n\r\n")
      .getBytes(java.nio.charset.StandardCharsets.ISO_8859_1) ++ fdBlock ++ "\r\n\r\n".getBytes
    assert(Warc.parseClear(fdRec).map(_.body.toSeq) === Seq(fdict.toSeq))
  }
}
