package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.fixtures.PageGen
import graft.pipeline.Checkpoint
import graft.streaming.StreamingRun

class StreamingSpec extends AnyFunSuite with SparkSuite {
  import spark.implicits._

  /** Forgets the newest micro-batch's commit, as a crash between its sink
    * write and its checkpoint commit would: the next drain replays that
    * batch from its logged offsets. Returns the replayed batch id.
    */
  private def uncommitNewest(ckptDir: String): Long = {
    val commits = new java.io.File(s"$ckptDir/commits")
    val newest = commits.list().filter(n => n.nonEmpty && n.forall(_.isDigit)).map(_.toLong).max
    java.nio.file.Files.delete(new java.io.File(commits, s"$newest").toPath)
    java.nio.file.Files.deleteIfExists(new java.io.File(commits, s".$newest.crc").toPath)
    newest
  }

  /** Every row of the Parquet table under `dir` as JSON, sorted: a row
    * multiset.
    */
  private def rowsOf(dir: String, drop: String*): Seq[String] =
    spark.read.parquet(dir).drop(drop: _*).toJSON.collect().sorted.toSeq

  test("a replayed micro-batch rewrites its own output: extraction and exact dedup") {
    val tmp = scratchDir("sreplay")
    val fixture = PageGen.pages(150)
    val pagesDir = s"$tmp/pages"
    Checkpoint.writePages(spark.createDataset(fixture).toDF(), pagesDir)
    def noDuplicateRows(dir: String) = {
      val out = spark.read.parquet(dir)
      assert(out.select($"batch_id", $"url").distinct().count() === out.count(),
        s"a (batch_id, url) row written twice under $dir")
    }

    // the extraction stream: docs and metrics, several micro-batches
    val (docsDir, metDir, ckpt) = (s"$tmp/docs", s"$tmp/metrics", s"$tmp/ckpt")
    val drain = () => StreamingRun.runAvailableNow(spark, pagesDir, docsDir, metDir, ckpt,
      "s-replay", maxFilesPerBatch = 8)
    assert(drain() >= 2)
    val docs1 = rowsOf(docsDir)
    // wall_ms and docs_per_sec time the extraction, so only they differ
    // between a batch and its replay
    val timing = Seq("wall_ms", "docs_per_sec")
    val metrics1 = rowsOf(metDir, timing: _*)
    val replayed = uncommitNewest(ckpt)
    assert(drain() === 1L, "exactly the uncommitted batch runs again")
    assert(rowsOf(docsDir) === docs1, "the replay must overwrite its own docs")
    noDuplicateRows(docsDir)
    // metrics are appended: the replayed batch's rows come back as exact
    // copies under the same batch_id, and the distinct rows still count
    // every document once
    val copies = spark.read.parquet(metDir).where($"batch_id" === replayed)
      .drop(timing: _*).toJSON.collect().distinct
    assert(copies.nonEmpty)
    assert(rowsOf(metDir, timing: _*) === (metrics1 ++ copies).sorted,
      "the replay appends one exact copy of each of its metrics rows")
    assert(spark.read.parquet(metDir).drop(timing: _*).distinct()
      .agg(sum($"docs")).as[Long].head() === fixture.size.toLong)

    // the exact-dedup stream through the shared sink
    val (novelDir, dedupCkpt) = (s"$tmp/novel", s"$tmp/dedup-ckpt")
    val dedup = () => StreamingRun.dedupStreamAvailableNow(spark, pagesDir, novelDir, dedupCkpt,
      maxFilesPerBatch = 8)
    val n1 = dedup()
    assert(n1 === fixture.map(_.html.toSeq).distinct.size.toLong)
    val novel1 = rowsOf(novelDir)
    val last = uncommitNewest(dedupCkpt)
    val lastRows = spark.read.parquet(novelDir).where($"batch_id" === last).count()
    assert(dedup() === lastRows, "the replay re-emits exactly the batch's own rows")
    assert(rowsOf(novelDir) === novel1, "the replay must overwrite its own rows")
    noDuplicateRows(novelDir)
  }

  test("streaming ingestion: drains existing files, then processes only new arrivals") {
    val tmp = scratchDir("stream")
    val (pagesDir, outDir, metDir, ckptDir) =
      (s"$tmp/pages", s"$tmp/docs", s"$tmp/metrics", s"$tmp/ckpt")
    val fixture = PageGen.pages(250)
    val (first, second) = fixture.splitAt(150)

    Checkpoint.writePages(spark.createDataset(first).toDF(), pagesDir)
    val b1 = StreamingRun.runAvailableNow(spark, pagesDir, outDir, metDir, ckptDir, "s-run1")
    assert(b1 >= 1)
    val out1 = spark.read.parquet(outDir)
      .select($"url", $"extracted_text").as[(String, String)].collect().toMap
    assert(out1.size === first.size)
    first.foreach(p => assert(out1(p.url) === p.text, p.url))

    // nothing new → zero micro-batches (the file-source log remembers)
    assert(StreamingRun.runAvailableNow(spark, pagesDir, outDir, metDir, ckptDir, "s-run2") === 0)

    // land a second wave of files (append, same Hive layout) → only the
    // new rows are processed, and the combined table is byte-complete
    Checkpoint.withPartitionCols(spark.createDataset(second).toDF())
      .repartition(2)
      .write.mode("append").partitionBy("ts_day", "url_bucket").parquet(pagesDir)
    val b3 = StreamingRun.runAvailableNow(spark, pagesDir, outDir, metDir, ckptDir, "s-run3")
    assert(b3 >= 1)
    val out2 = spark.read.parquet(outDir)
      .select($"url", $"extracted_text").as[(String, String)].collect().toMap
    assert(out2.size === fixture.size)
    fixture.foreach(p => assert(out2(p.url) === p.text, p.url))

    // metrics reconcile: all docs counted exactly once across batches,
    // with per-partition timing and batch lineage
    val m = spark.read.parquet(metDir)
    assert(m.agg(sum($"docs")).as[Long].head() === fixture.size.toLong)
    assert(m.agg(sum($"bytes_in")).as[Long].head() ===
      spark.read.parquet(pagesDir).agg(sum(octet_length($"html")).cast("long")).as[Long].head())
    assert(m.where($"wall_ms" <= 0 || $"docs_per_sec" <= 0).count() === 0)
    assert(m.columns.contains("batch_id"))
    // directory clustering bounds the files every partition receives
    val filesPerDir = parquetFilesPerDir(outDir, "batch_id=*/ts_day=*/url_bucket=*")
    assert(filesPerDir.nonEmpty)
    filesPerDir.foreach { case (d, n) => assert(n >= 1 && n <= 4, s"$n files in $d") }
  }

  test("stateful streaming dedup suppresses duplicates across micro-batches and runs") {
    val tmp = scratchDir("sdedup")
    val (pagesDir, outDir, ckptDir) = (s"$tmp/pages", s"$tmp/novel", s"$tmp/ckpt")
    val wave1 = PageGen.pages(150)
    Checkpoint.writePages(spark.createDataset(wave1).toDF(), pagesDir)
    val uniq1 = wave1.map(_.html.toSeq).distinct.size

    // small file cap forces several micro-batches — duplicates that land
    // in DIFFERENT batches are only suppressed if state actually persists
    val n1 = StreamingRun.dedupStreamAvailableNow(spark, pagesDir, outDir, ckptDir,
      maxFilesPerBatch = 8)
    assert(n1 === uniq1.toLong)
    assert(spark.read.parquet(outDir).count() === uniq1.toLong)

    // wave 2: 30 byte-identical copies of wave-1 payloads under new urls
    // + 40 genuinely new pages (urls disjoint from wave 1)
    val copies = wave1.take(30).map(p => p.copy(url = p.url + "?copy"))
    val fresh = PageGen.pages(1000).slice(960, 1000)
    Checkpoint.withPartitionCols(spark.createDataset(copies ++ fresh).toDF())
      .repartition(3)
      .write.mode("append").partitionBy("ts_day", "url_bucket").parquet(pagesDir)
    val wave1Hashes = wave1.map(_.html.toSeq).toSet
    val expectedNew = fresh.map(_.html.toSeq).distinct.count(h => !wave1Hashes.contains(h))

    val n2 = StreamingRun.dedupStreamAvailableNow(spark, pagesDir, outDir, ckptDir,
      maxFilesPerBatch = 8)
    assert(n2 === expectedNew.toLong, "cross-run state must suppress the copied payloads")
    val out = spark.read.parquet(outDir)
    assert(out.count() === (uniq1 + expectedNew).toLong)
    assert(out.select($"content_hash").distinct().count() === out.count(),
      "one row per content hash, ever")
    assert(out.where($"url".endsWith("?copy")).count() === 0,
      "copied payloads must never win (their hash was seen in run 1)")
  }

  test("TTL'd streaming dedup: suppressed within TTL, re-admitted after expiry") {
    // Phase A — within-TTL suppression, with a TTL far wider than any
    // startup/scheduling jitter (state timers are wall-clock)
    val tmpA = scratchDir("sttl-a")
    val wave1 = PageGen.pages(60)
    Checkpoint.writePages(spark.createDataset(wave1).toDF(), s"$tmpA/pages")
    val uniq1 = wave1.map(_.html.toSeq).distinct.size
    val n1 = StreamingRun.dedupStreamTtl(spark, s"$tmpA/pages", s"$tmpA/novel",
      s"$tmpA/ckpt", ttlMs = 600000L, maxFilesPerBatch = 8)
    assert(n1 === uniq1.toLong)
    val copies = wave1.take(20).map(p => p.copy(url = p.url + "?early"))
    Checkpoint.withPartitionCols(spark.createDataset(copies).toDF())
      .repartition(2)
      .write.mode("append").partitionBy("ts_day", "url_bucket").parquet(s"$tmpA/pages")
    val n2 = StreamingRun.dedupStreamTtl(spark, s"$tmpA/pages", s"$tmpA/novel",
      s"$tmpA/ckpt", ttlMs = 600000L, maxFilesPerBatch = 8)
    assert(n2 === 0L, "within-TTL duplicates must be suppressed")
    val outA = spark.read.parquet(s"$tmpA/novel")
    assert(outA.count() === uniq1.toLong)
    assert(outA.where($"url".endsWith("?early")).count() === 0)
    // idempotent-sink shape: every committed row carries its batch lineage
    assert(outA.columns.contains("batch_id"))

    // Phase B — expiry: a short TTL, a sleep past it, and the same hashes
    // re-admit, exactly like the batch isFresh predicate re-admitting an
    // expired cache row (C6)
    val tmpB = scratchDir("sttl-b")
    val ttlMs = 1500L
    Checkpoint.writePages(spark.createDataset(wave1).toDF(), s"$tmpB/pages")
    val m1 = StreamingRun.dedupStreamTtl(spark, s"$tmpB/pages", s"$tmpB/novel",
      s"$tmpB/ckpt", ttlMs, maxFilesPerBatch = 8)
    // >= not ===: with a TTL this short, an entry admitted in an early
    // micro-batch can legitimately EXPIRE before a later batch of the
    // same drain replays its duplicate - that re-admission is the
    // operator's contract, not a bug (the exact-suppression case is
    // phase A's long-TTL assertion)
    assert(m1 >= uniq1.toLong)
    Thread.sleep(ttlMs + 1000)
    val late = wave1.take(20).map(p => p.copy(url = p.url + "?late"))
    Checkpoint.withPartitionCols(spark.createDataset(late).toDF())
      .repartition(2)
      .write.mode("append").partitionBy("ts_day", "url_bucket").parquet(s"$tmpB/pages")
    val m2 = StreamingRun.dedupStreamTtl(spark, s"$tmpB/pages", s"$tmpB/novel",
      s"$tmpB/ckpt", ttlMs, maxFilesPerBatch = 8)
    val expected = late.map(_.html.toSeq).distinct.size
    assert(m2 === expected.toLong, "expired hashes must be re-admitted")
    val outB = spark.read.parquet(s"$tmpB/novel")
    assert(outB.where($"url".endsWith("?late")).count() === expected.toLong)
  }

  test("event-time sessionization: watermark-finalized sessions equal the batch operator") {
    import org.apache.spark.sql.functions._
    val tmp = scratchDir("ssess")
    val (eventsDir, outDir, ckptDir) = (s"$tmp/events", s"$tmp/sessions", s"$tmp/ckpt")
    val base = java.sql.Timestamp.valueOf("2024-01-05 00:00:00").getTime
    // 3 users × bursts separated by > gap → multiple sessions each
    val wave = for {
      u <- 0L until 3L
      burst <- 0 until 4
      k <- 0 until 5
    } yield (u * 1000 + burst * 10 + k,
      new java.sql.Timestamp(base + u * 7000 + burst * 120000L + k * 5000L),
      u, (k + 1).toDouble)
    spark.createDataset(wave.toIndexedSeq).toDF("event_id", "ts", "user_id", "value")
      .repartition(2).write.parquet(eventsDir)

    val n1 = StreamingRun.sessionizeAvailableNow(spark, eventsDir, outDir, ckptDir,
      gapSeconds = 30, watermarkDelaySeconds = 10)
    // the watermark sits 10 s behind the newest event: the final sessions
    // are still open in state
    assert(n1 > 0 && n1 < 12, s"expected a partial drain, got $n1")

    // fencepost event far past the data pushes the watermark over every
    // real session close; its own session stays open (and is excluded)
    spark.createDataset(Seq(
        (9999L, new java.sql.Timestamp(base + 100000000L), 99L, 0.0)))
      .toDF("event_id", "ts", "user_id", "value")
      .write.mode("append").parquet(eventsDir)
    val n2 = StreamingRun.sessionizeAvailableNow(spark, eventsDir, outDir, ckptDir,
      gapSeconds = 30, watermarkDelaySeconds = 10)
    assert(n1 + n2 === 12L, s"3 users x 4 bursts must finalize, got ${n1 + n2}")

    val got = spark.read.parquet(outDir).where($"user_id" =!= 99L)
      .select($"user_id", $"session_start", $"session_end", $"events", $"value_sum")
      .as[(Long, java.sql.Timestamp, java.sql.Timestamp, Long, Double)]
      .collect().sortBy(t => (t._1, t._2.getTime)).toSeq
    val want = spark.read.parquet(eventsDir).where($"user_id" =!= 99L)
      .withColumn("ts_ltz", $"ts".cast("timestamp_ltz"))
      .groupBy($"user_id", session_window($"ts_ltz", "30 seconds"))
      .agg(count(lit(1)).as("events"), sum($"value").as("value_sum"))
      .select($"user_id", $"session_window.start".as("session_start"),
        $"session_window.end".as("session_end"), $"events",
        round($"value_sum", 2).as("value_sum"))
      .as[(Long, java.sql.Timestamp, java.sql.Timestamp, Long, Double)]
      .collect().sortBy(t => (t._1, t._2.getTime)).toSeq
    assert(got === want, "streaming sessions must equal the batch operator")
  }

  test("streaming output matches the batch run byte-for-byte") {
    val tmp = scratchDir("stream-eq")
    val fixture = PageGen.pages(120)
    val pagesDir = s"$tmp/pages"
    Checkpoint.writePages(spark.createDataset(fixture).toDF(), pagesDir)

    StreamingRun.runAvailableNow(spark, pagesDir, s"$tmp/sdocs", s"$tmp/smet", s"$tmp/ckpt", "s")
    Checkpoint.run(spark, pagesDir, s"$tmp/bdocs", s"$tmp/bmani", s"$tmp/bmet",
      "b", new java.sql.Timestamp(PageGen.EpochMs))

    val cols = Seq("url", "extracted_text", "language", "document_type",
      "chunks_processed", "total_chunks", "source_type", "ok")
    val s = spark.read.parquet(s"$tmp/sdocs").select(cols.map(col): _*)
      .toJSON.collect().sorted.toSeq
    val b = spark.read.parquet(s"$tmp/bdocs").select(cols.map(col): _*)
      .toJSON.collect().sorted.toSeq
    assert(s === b)
  }

  test("streaming near-dup dedup: in-batch, cross-drain via the growing index, replay-idempotent") {
    val tmp = scratchDir("snear")
    val (pagesDir, outDir, ckptDir, idxDir) =
      (s"$tmp/pages", s"$tmp/kept", s"$tmp/ckpt", s"$tmp/idx")
    val ts = java.sql.Timestamp.valueOf("2024-01-05 00:00:00")
    def doc(url: String, words: Seq[String]) =
      graft.pipeline.Page(url, ts, Array[Byte](1), words.mkString(" "), "en")
    // disjoint per-doc vocab → cross-doc Jaccard 0; near-dup = drop 1 word
    def vocab(tag: String) = (0 until 30).map(w => s"w${tag}_$w")

    val wave1 = (0 until 10).map(i => doc(s"https://s.example/d$i", vocab(s"d$i"))) :+
      doc("https://s.example/d0-copy", vocab("d0").dropRight(1))
    Checkpoint.writePages(spark.createDataset(wave1).toDF(), pagesDir)
    val n1 = StreamingRun.nearDupStreamAvailableNow(spark, pagesDir, outDir,
      ckptDir, idxDir, threshold = 0.7, maxFilesPerBatch = 4)
    assert(n1 === 10L, "wave 1: in-batch near-dup must collapse d0/d0-copy")
    assert(spark.read.parquet(outDir).count() === 10L)

    // wave 2: a near-dup of wave-1's d1 (caught only via the INDEX),
    // two fresh docs, and an in-wave near-dup of the first fresh doc
    val wave2 = Seq(
      doc("https://s.example/d1-late", vocab("d1").dropRight(1)),
      doc("https://s.example/e0", vocab("e0")),
      doc("https://s.example/e1", vocab("e1")),
      doc("https://s.example/e0-copy", vocab("e0").dropRight(1)))
    Checkpoint.withPartitionCols(spark.createDataset(wave2).toDF())
      .repartition(2)
      .write.mode("append").partitionBy("ts_day", "url_bucket").parquet(pagesDir)
    val n2 = StreamingRun.nearDupStreamAvailableNow(spark, pagesDir, outDir,
      ckptDir, idxDir, threshold = 0.7, maxFilesPerBatch = 4)
    assert(n2 === 2L, s"wave 2 must keep exactly {e-family canonical, e1}, got $n2")
    val kept = spark.read.parquet(outDir).select($"url").as[String].collect().toSet
    assert(kept.size === 12)
    assert(!kept.contains("https://s.example/d1-late"),
      "cross-drain near-dup must be dropped via the at-rest index")
    assert(kept.contains("https://s.example/e1"))
    assert(kept.count(u => u.contains("/e0")) === 1, "e0 family keeps exactly one")

    // nothing new → zero emitted, output unchanged (exactly-once)
    val n3 = StreamingRun.nearDupStreamAvailableNow(spark, pagesDir, outDir,
      ckptDir, idxDir, threshold = 0.7, maxFilesPerBatch = 4)
    assert(n3 === 0L)
    assert(spark.read.parquet(outDir).count() === 12L)

    // replay: the newest batch's commit is lost, so the next drain runs it
    // again; the table keeps exactly its rows. Then the same with the
    // batch's signatures lost too (a crash between the sink write and the
    // index append): the replay recomputes the batch's survivors and
    // overwrites its own directory with them
    val before = rowsOf(outDir)
    def replay(): Long = {
      val n = StreamingRun.nearDupStreamAvailableNow(spark, pagesDir, outDir,
        ckptDir, idxDir, threshold = 0.7, maxFilesPerBatch = 4)
      assert(rowsOf(outDir) === before, "a replayed batch must leave the table as it was")
      val out = spark.read.parquet(outDir)
      assert(out.select($"batch_id", $"url").distinct().count() === out.count())
      n
    }
    val replayed = uncommitNewest(ckptDir)
    val replayedRows = spark.read.parquet(outDir).where($"batch_id" === replayed).count()
    assert(replay() === replayedRows,
      "a replayed batch must count its survivors, not match them against its own signatures")
    val last = uncommitNewest(ckptDir)
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(s"$idxDir/sigs/batch_id=$last"))
    val lastRows = spark.read.parquet(outDir).where($"batch_id" === last).count()
    assert(lastRows > 0, s"batch $last kept no document: the replay shows nothing")
    assert(replay() === lastRows)
  }

  test("stream-stream interval join equals the batch join; later drains emit only new matches") {
    val tmp = scratchDir("ssjoin")
    val base = java.sql.Timestamp.valueOf("2024-02-01 00:00:00").getTime
    def ev(id: Long, offMs: Long, user: Long) =
      (id, new java.sql.Timestamp(base + offMs), user, 1.0)
    // left: one "fetch" per user per minute; right: "renders" landing
    // 5-40 s after some fetches, plus strays outside every window
    val lefts = for (u <- 0L until 6L; i <- 0 until 4)
      yield ev(u * 100 + i, u * 7000 + i * 60000L, u)
    val rights = (for (u <- 0L until 6L; i <- 0 until 4; if (u + i) % 3 != 0)
      yield ev(9000 + u * 100 + i, u * 7000 + i * 60000L + 5000L + (u % 4) * 11000L, u)) ++
      Seq(ev(8888, -50000L, 2L), ev(8889, 251000L, 3L)) // strays outside any window
    spark.createDataset(lefts.toIndexedSeq).toDF("event_id", "ts", "user_id", "value")
      .repartition(2).write.parquet(s"$tmp/left")
    spark.createDataset(rights.toIndexedSeq).toDF("event_id", "ts", "user_id", "value")
      .repartition(2).write.parquet(s"$tmp/right")

    // backfill drains as ONE micro-batch (watermark only advances at
    // batch boundaries, so nothing in the initial pile can be "late")
    val n1 = StreamingRun.intervalJoinAvailableNow(spark, s"$tmp/left",
      s"$tmp/right", s"$tmp/joined", s"$tmp/ckpt",
      joinWindowSeconds = 40, watermarkDelaySeconds = 10)
    val got = spark.read.parquet(s"$tmp/joined")
      .select($"l_event", $"r_event").as[(Long, Long)].collect().toSet
    // batch truth: plain inner interval join over the same tables
    val want = spark.read.parquet(s"$tmp/left").as("l")
      .join(spark.read.parquet(s"$tmp/right").as("r"),
        expr("l.user_id = r.user_id AND r.ts >= l.ts AND " +
          "r.ts <= l.ts + interval 40 seconds"))
      .select($"l.event_id", $"r.event_id").as[(Long, Long)].collect().toSet
    assert(want.nonEmpty, "fixture produced no matches — test is vacuous")
    assert(got === want, "streaming inner interval join must equal the batch join")
    assert(n1.toInt === want.size)

    // late-landing right file: above the post-drain watermark (~205 s:
    // left max 215 s − 10 s delay under the min-of-streams policy) and
    // inside left 503's window — the next drain must join it against the
    // RESTORED left state and emit only that one new match
    spark.createDataset(Seq(ev(9999, 220000L, 5L)))
      .toDF("event_id", "ts", "user_id", "value")
      .write.mode("append").parquet(s"$tmp/right")
    val n2 = StreamingRun.intervalJoinAvailableNow(spark, s"$tmp/left",
      s"$tmp/right", s"$tmp/joined", s"$tmp/ckpt",
      joinWindowSeconds = 40, watermarkDelaySeconds = 10)
    assert(n2 === 1L, s"exactly the late render joins its fetch, got $n2")
    val got2 = spark.read.parquet(s"$tmp/joined")
      .select($"l_event", $"r_event").as[(Long, Long)].collect()
    assert(got2.length === got2.toSet.size, "replay/duplicate rows in the sink")
    assert(got2.toSet === want + ((503L, 9999L)))

    // nothing new → zero emitted (checkpoint discipline)
    val n3 = StreamingRun.intervalJoinAvailableNow(spark, s"$tmp/left",
      s"$tmp/right", s"$tmp/joined", s"$tmp/ckpt",
      joinWindowSeconds = 40, watermarkDelaySeconds = 10)
    assert(n3 === 0L)
  }

  test("stream-static enrichment: per-batch broadcast dim, slowly-changing between drains") {
    val tmp = scratchDir("senrich")
    val base = java.sql.Timestamp.valueOf("2024-02-01 00:00:00").getTime
    def ev(id: Long, user: Long) =
      (id, new java.sql.Timestamp(base + id * 1000), user, 1.0)
    spark.createDataset((0L until 40L).map(i => ev(i, i % 4))).toDF(
      "event_id", "ts", "user_id", "value")
      .repartition(2).write.parquet(s"$tmp/events")
    // dimension covers users 0..2 — user 3's events drop (inner join)
    Seq((0L, "alpha"), (1L, "beta"), (2L, "gamma")).toDF("user_id", "segment")
      .write.parquet(s"$tmp/dim")
    val n1 = StreamingRun.enrichStreamAvailableNow(spark, s"$tmp/events",
      s"$tmp/dim", "user_id", s"$tmp/out", s"$tmp/ckpt", maxFilesPerBatch = 1)
    assert(n1 === 30L, "10 events per covered user across 3 users")
    val out1 = spark.read.parquet(s"$tmp/out")
    assert(out1.select($"segment").distinct().as[String].collect().toSet ===
      Set("alpha", "beta", "gamma"))
    // dimension REPUBLISHED between drains: new arrivals see the new table
    Seq((0L, "alpha2"), (3L, "delta")).toDF("user_id", "segment")
      .write.mode("overwrite").parquet(s"$tmp/dim")
    spark.createDataset((100L until 108L).map(i => ev(i, i % 4))).toDF(
      "event_id", "ts", "user_id", "value")
      .write.mode("append").parquet(s"$tmp/events")
    val n2 = StreamingRun.enrichStreamAvailableNow(spark, s"$tmp/events",
      s"$tmp/dim", "user_id", s"$tmp/out", s"$tmp/ckpt", maxFilesPerBatch = 1)
    assert(n2 === 4L, "only users 0 and 3 are in the republished dim")
    val segs = spark.read.parquet(s"$tmp/out")
      .where($"event_id" >= 100L).select($"segment").as[String].collect().toSet
    assert(segs === Set("alpha2", "delta"), "second drain must see the CURRENT dim")
  }

  test("dropDuplicatesWithinWatermark: duplicates inside the window suppressed, state bounded by watermark") {
    val tmp = scratchDir("swmdedup")
    val base = java.sql.Timestamp.valueOf("2024-03-01 00:00:00")
    def page(url: String, html: String, offSec: Long) = (url,
      new java.sql.Timestamp(base.getTime + offSec * 1000),
      html.getBytes("UTF-8"), "", "en")
    // same payload at t=0, t=10 (inside the 60 s window → suppressed),
    // a distinct payload at t=5, and a far-future row that advances the
    // watermark past everything
    val rows = Seq(
      page("u1", "payload-A", 0), page("u2", "payload-A", 10),
      page("u3", "payload-B", 5), page("u4", "payload-C", 100000))
    rows.toDF("url", "warc_ts", "html", "text", "lang")
      .repartition(1).write.parquet(s"$tmp/pages")
    val n1 = StreamingRun.dedupWithinWatermarkAvailableNow(spark, s"$tmp/pages",
      s"$tmp/out", s"$tmp/ckpt", delaySeconds = 60)
    assert(n1 === 3L, "the in-window duplicate must be suppressed")
    val urls = spark.read.parquet(s"$tmp/out").select($"url").as[String].collect().toSet
    assert(urls.contains("u1") && !urls.contains("u2"))
    // a later drain far past the watermark re-admits the same payload —
    // the state was dropped with the watermark, exactly the C6 TTL shape
    Seq(page("u5", "payload-A", 200000))
      .toDF("url", "warc_ts", "html", "text", "lang")
      .write.mode("append").parquet(s"$tmp/pages")
    val n2 = StreamingRun.dedupWithinWatermarkAvailableNow(spark, s"$tmp/pages",
      s"$tmp/out", s"$tmp/ckpt", delaySeconds = 60)
    assert(n2 === 1L, "payload-A must re-admit once the watermark passed its window")
  }
}
