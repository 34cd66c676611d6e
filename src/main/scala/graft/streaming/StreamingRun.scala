package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, Trigger}
import graft.pipeline.Checkpoint

/** Structured-Streaming ingestion twin of [[Checkpoint.run]] (SURVEY.md
  * §2-I, upgraded from documented absence to a first-class mode).
  *
  * The reference is a synchronous request/response service with no
  * streaming (`requirements.txt:1-14` has no bus; `main.py:202` caps
  * concurrency at 5) — but a crawl-scale corpus arrives continuously, so
  * the engine offers the same extraction dataflow over a file-source
  * stream: new page Parquet files landing under the Iceberg-emulating
  * layout are discovered by the file stream source, run through the SAME
  * fused timed extraction ([[Checkpoint.extractParted]]), and committed
  * through `foreachBatch` with dynamic partition overwrite — so a batch
  * replayed after a crash overwrites its own output partitions instead
  * of duplicating rows (at-least-once delivery × idempotent sink =
  * exactly-once table state, the streaming rendition of the batch
  * manifest/anti-join resume). Progress tracking is the streaming
  * checkpoint (file-source log) instead of the manifest table; metrics
  * rows carry `batch_id` for replay dedup.
  *
  * `Trigger.AvailableNow` drains everything present and stops —
  * incremental catch-up runs (the scheduled-job mode); a `Trigger
  * .ProcessingTime` interval turns the same query into a continuous
  * tailer. No watermarks/windows: extraction is per-row stateless, so
  * state never accumulates regardless of stream length.
  */
object StreamingRun {

  /** Drain all unprocessed page files under `pagesDir`, extract, commit.
    * Returns the number of micro-batches executed (0 ⇒ nothing new).
    */
  def runAvailableNow(spark: SparkSession, pagesDir: String, outDir: String,
                      metricsDir: String, checkpointDir: String,
                      runId: String,
                      maxFilesPerBatch: Int = 1000): Long = {
    // file stream sources need an explicit schema: one driver-side
    // metadata read of the existing layout (partition columns included)
    val schema = spark.read.parquet(pagesDir).schema
    val stream = spark.readStream
      .schema(schema)
      .option("maxFilesPerTrigger", maxFilesPerBatch)
      .parquet(pagesDir)
    var batches = 0L
    val q = stream.writeStream
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val docs = Checkpoint.extractParted(batch).persist()
        // batch_id leads the partition spec: micro-batches split at FILE
        // granularity, so one (ts_day, url_bucket) partition can span
        // batches — overwriting at that granularity would wipe earlier
        // batches' rows. With batch_id outermost, a replayed batch
        // overwrites exactly its own directories (idempotent) and every
        // other batch's output is untouched; the level doubles as commit
        // lineage. Re-crawled urls landing in later waves coexist as new
        // versions — collapsing them is the dedup/compaction layer's job.
        // cluster rows by their target directory before the write, or the
        // table accretes tasks × dirs tiny files batch over batch — the §6
        // small-file failure mode
        Checkpoint.clusterByDir(
          docs.drop("extract_ns").withColumn("batch_id", lit(batchId)))
          .write.mode("overwrite").partitionBy("batch_id", "ts_day", "url_bucket")
          .option("partitionOverwriteMode", "dynamic") // scoped to this writer
          .parquet(outDir)
        Checkpoint.metricsParted(batch, docs, runId)
          .withColumn("batch_id", lit(batchId))
          .write.mode("append").parquet(metricsDir)
        docs.unpersist()
        batches += 1
        ()
      }
      .start()
    q.awaitTermination()
    batches
  }

  /** Streaming exact dedup with keyed custom state: the reference's
    * content-hash memoization (`ocr.py:34-37`, §2-B5) as a CONTINUOUS
    * operator. The first arrival of each `sha2(html)` passes through;
    * every later duplicate — in the same micro-batch, a later batch, or
    * after a restart — is suppressed, because the per-hash seen-bit
    * lives in the streaming state store under `checkpointDir`. Custom
    * state is exactly what `flatMapGroupsWithState` exists for; no
    * timeout is set because a dedup key never expires here —
    * [[dedupStreamTtl]] is the TTL'd variant (the streaming rendition of
    * the 24 h cache TTL, C6).
    *
    * Within one batch the surviving row is the minimum url of the hash
    * group (deterministic, not arrival-order). Emits `(content_hash,
    * url)` rows to a Parquet sink (append — rows are novel by
    * construction). Returns the number of NEW distinct hashes committed
    * by this call.
    */
  def dedupStreamAvailableNow(spark: SparkSession, pagesDir: String,
                              outDir: String, checkpointDir: String,
                              maxFilesPerBatch: Int = 1000): Long = {
    import spark.implicits._
    val schema = spark.read.parquet(pagesDir).schema
    val hashed = spark.readStream
      .schema(schema)
      .option("maxFilesPerTrigger", maxFilesPerBatch)
      .parquet(pagesDir)
      .select(col("url"), sha2(col("html"), 256).as("content_hash"))
      .as[(String, String)]
    val novel = hashed
      .groupByKey(_._2)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (hash: String, rows: Iterator[(String, String)], state: GroupState[Boolean]) =>
          if (state.exists) Iterator.empty
          else {
            state.update(true)
            Iterator.single((hash, rows.map(_._1).min))
          })
      .toDF("content_hash", "url")
    commitNovel(spark, novel, outDir, checkpointDir)
  }

  /** TTL'd variant of [[dedupStreamAvailableNow]] — the streaming
    * rendition of the reference's 24 h cache TTL (C6,
    * `cache_manager.py:47-49`): a hash suppresses duplicates only while
    * its entry is younger than `ttlMs`; once expired the next arrival is
    * re-admitted (re-emitted) and a fresh TTL window starts, exactly like
    * the batch `isFresh` predicate re-admitting an expired cache row.
    *
    * State per hash is the expiry deadline (processing-time ms): an
    * arrival whose stored deadline has passed is re-admitted and stamps a
    * fresh window; within the window duplicates are suppressed and the
    * ORIGINAL deadline stands — TTL runs from first write, not last
    * access, the reference's semantics (cache set() stamps TTL once).
    *
    * Deliberately NO `ProcessingTimeTimeout` timers here:
    * `FlatMapGroupsWithStateExec.shouldRunAnotherBatch` returns true
    * unconditionally under that conf, so an `AvailableNow` drain would
    * schedule no-data micro-batches forever waiting for wall-clock timers
    * and `awaitTermination` would never return. The deadline check alone
    * carries the TTL semantics; expired entries are overwritten in place
    * on their next arrival, so the store is bounded by distinct hashes —
    * exactly the footprint of [[dedupStreamAvailableNow]]. A continuous
    * deployment (`Trigger.ProcessingTime`) that wants idle expired keys
    * REAPED would arm timers in a long-lived query it never drains.
    */
  def dedupStreamTtl(spark: SparkSession, pagesDir: String,
                     outDir: String, checkpointDir: String,
                     ttlMs: Long,
                     maxFilesPerBatch: Int = 1000): Long = {
    import spark.implicits._
    val schema = spark.read.parquet(pagesDir).schema
    val hashed = spark.readStream
      .schema(schema)
      .option("maxFilesPerTrigger", maxFilesPerBatch)
      .parquet(pagesDir)
      .select(col("url"), sha2(col("html"), 256).as("content_hash"))
      .as[(String, String)]
    val novel = hashed
      .groupByKey(_._2)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (hash: String, rows: Iterator[(String, String)], state: GroupState[Long]) => {
          val now = state.getCurrentProcessingTimeMs()
          if (!state.exists || state.get <= now) {
            state.update(now + ttlMs)
            Iterator.single((hash, rows.map(_._1).min))
          } else Iterator.empty
        })
      .toDF("content_hash", "url")
    commitNovel(spark, novel, outDir, checkpointDir)
  }

  /** Event-time sessionization over a file-source event stream: the
    * streaming rendition of the batch q34 operator, built on
    * `session_window(gap)` + a watermark (append mode — a session is
    * emitted exactly once, when the event-time watermark passes its
    * close). The sink is the same batch_id-partitioned idempotent commit
    * as the dedup streams.
    *
    * Watermark semantics to know when draining with `AvailableNow`:
    * the watermark advances only when a batch processes data, to
    * `max(event time seen) − delay` — so sessions closing within `delay`
    * of the newest event stay in state awaiting later input. A bounded
    * backfill that must flush everything appends a fencepost event far
    * past the real data (the standard pattern); a live deployment simply
    * keeps receiving events. Returns the number of sessions emitted by
    * this drain.
    */
  def sessionizeAvailableNow(spark: SparkSession, eventsDir: String,
                             outDir: String, checkpointDir: String,
                             gapSeconds: Int, watermarkDelaySeconds: Int,
                             maxFilesPerBatch: Int = 1000): Long = {
    val schema = spark.read.parquet(eventsDir).schema
    val sessions = spark.readStream
      .schema(schema)
      .option("maxFilesPerTrigger", maxFilesPerBatch)
      .parquet(eventsDir)
      // event time must be an instant: NTZ event columns cast through LTZ
      // (session timezone is UTC, so the instant is unchanged)
      .withColumn("ts_ltz", col("ts").cast("timestamp_ltz"))
      .withWatermark("ts_ltz", s"$watermarkDelaySeconds seconds")
      .groupBy(col("user_id"),
        session_window(col("ts_ltz"), s"$gapSeconds seconds"))
      .agg(count(lit(1)).as("events"), sum(col("value")).as("value_sum"))
      .select(col("user_id"),
        col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("events"), round(col("value_sum"), 2).as("value_sum"))
    commitNovel(spark, sessions, outDir, checkpointDir)
  }

  /** Streaming NEAR-dup corpus dedup — the continuous rendition of the
    * incremental cross-corpus MinHash dedup: every micro-batch
    * (a) self-dedups ([[graft.ops.Dedup.nearDupFilter]] — in-batch
    * near-dup clusters keep one canonical doc), (b) drops documents
    * near-duplicating the AT-REST signature index under `indexDir`
    * ([[graft.ops.Dedup.dedupAgainstIndex]] — earlier batches' text is
    * never re-read, only their 8-byte-per-hash signatures), (c) commits
    * survivors `batch_id`-partitioned with dynamic overwrite (replay
    * rewrites its own partition — exactly-once table state), and
    * (d) appends the SURVIVORS' signatures
    * ([[graft.ops.Dedup.appendMinhashSigs]], batch_id-partitioned, also
    * replay-idempotent) so the index grows batch over batch.
    *
    * The exact-dedup stream ([[dedupStreamAvailableNow]]) keys custom
    * state by content hash inside the state store; near-dup can't —
    * a MinHash match needs bucket joins across the whole corpus, which
    * is a shuffle, not a keyed lookup. foreachBatch + an at-rest index
    * IS the idiomatic Structured-Streaming shape for that: the stream
    * provides incremental file discovery and replay bookkeeping, the
    * batch engine provides the joins, and both sinks are idempotent.
    *
    * Returns the number of surviving documents committed by this drain.
    */
  def nearDupStreamAvailableNow(spark: SparkSession, pagesDir: String,
                                outDir: String, checkpointDir: String,
                                indexDir: String,
                                threshold: Double = 0.8,
                                shingleK: Int = 3, numHashes: Int = 32,
                                numBands: Int = 8,
                                maxFilesPerBatch: Int = 1000): Long = {
    val schema = spark.read.parquet(pagesDir).schema
    val stream = spark.readStream
      .schema(schema)
      .option("maxFilesPerTrigger", maxFilesPerBatch)
      .parquet(pagesDir)
    var emitted = 0L
    val q = stream.writeStream
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // deterministic numeric doc key (cluster canonicals are min-key)
        val docs = batch.select(xxhash64(col("url")).as("doc_key"),
          col("url"), col("text"))
        val self = graft.ops.Dedup.nearDupFilter(docs, "doc_key", "text",
          shingleK, numHashes, numBands, threshold)
        val sigsPath = new org.apache.hadoop.fs.Path(s"$indexDir/sigs")
        val fs = sigsPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
        val hasIndex = fs.exists(sigsPath) && fs.listStatus(sigsPath)
          .exists(st => st.isDirectory || st.getPath.getName.endsWith(".parquet"))
        val survivors =
          (if (hasIndex)
            graft.ops.Dedup.dedupAgainstIndex(self, "doc_key", "text",
              indexDir, threshold)
          else self).persist()
        val n = survivors.count()
        survivors.coalesce(sinkPartitions(survivors))
          .withColumn("batch_id", lit(batchId))
          .write.mode("overwrite").partitionBy("batch_id")
          .option("partitionOverwriteMode", "dynamic")
          .parquet(outDir)
        graft.ops.Dedup.appendMinhashSigs(survivors, "doc_key", "text",
          indexDir, batchId, shingleK, numHashes, numBands)
        survivors.unpersist()
        emitted += n
        ()
      }
      .start()
    q.awaitTermination()
    emitted
  }

  /** Stream-stream event-time INTERVAL join (§2-I): left rows match
    * right rows with the same `user_id` whose event time falls in
    * `[l_ts, l_ts + joinWindowSeconds]` — the fetch→render /
    * request→response correlation shape, both sides arriving as
    * independent file streams.
    *
    * Both sides carry watermarks and the join condition carries the
    * time bound, so the join STATE IS BOUNDED: Spark evicts left rows
    * once the right watermark passes `l_ts + window` and right rows
    * once the left watermark passes them — the requirement that lets a
    * stream-stream join run forever at crawl scale (without the range
    * condition state grows without limit and the query is rejected for
    * append mode). Inner join: matches emit as soon as both sides have
    * arrived — the watermark governs state EVICTION, not emission — so
    * an AvailableNow drain yields the complete batch-equal answer with
    * no fencepost event, and a later drain over newly landed files
    * emits only the NEW matches (the streaming checkpoint + the
    * idempotent batch_id-partitioned sink make replays overwrite
    * themselves). Returns rows emitted by this drain.
    *
    * Inputs are event tables `(event_id, ts, user_id, value)`; output is
    * `(user_id, l_event, r_event, l_ts, r_ts)`.
    */
  def intervalJoinAvailableNow(spark: SparkSession, leftDir: String,
                               rightDir: String, outDir: String,
                               checkpointDir: String,
                               joinWindowSeconds: Int,
                               watermarkDelaySeconds: Int,
                               maxFilesPerBatch: Int = 1000): Long = {
    def side(dir: String, p: String): DataFrame = {
      val schema = spark.read.parquet(dir).schema
      spark.readStream
        .schema(schema)
        .option("maxFilesPerTrigger", maxFilesPerBatch)
        .parquet(dir)
        .select(col("user_id").as(s"${p}_user"),
          col("event_id").as(s"${p}_event"),
          // event time as an instant, same cast discipline as sessionize
          col("ts").cast("timestamp_ltz").as(s"${p}_ts"))
        .withWatermark(s"${p}_ts", s"$watermarkDelaySeconds seconds")
    }
    val joined = side(leftDir, "l").join(side(rightDir, "r"),
      expr(s"""l_user = r_user AND
               r_ts >= l_ts AND
               r_ts <= l_ts + interval $joinWindowSeconds seconds"""))
      .select(col("l_user").as("user_id"), col("l_event"), col("r_event"),
        col("l_ts"), col("r_ts"))
    commitNovel(spark, joined, outDir, checkpointDir)
  }

  /** Stream-STATIC enrichment — the dimension-join shape every event
    * pipeline runs (stream of page events joined to a small host/dim
    * table): the static side is read per micro-batch and broadcast, so
    * no state store is involved at all and the dimension can be
    * republished between batches (each batch sees the CURRENT table —
    * slowly-changing dimension semantics). Inner join drops events
    * with no dimension row; the same exactly-once batch_id-led commit
    * as every other sink here.
    */
  def enrichStreamAvailableNow(spark: SparkSession, eventsDir: String,
                               dimDir: String, keyCol: String,
                               outDir: String, checkpointDir: String,
                               maxFilesPerBatch: Int = 1000): Long = {
    val schema = spark.read.parquet(eventsDir).schema
    val events = spark.readStream
      .schema(schema)
      .option("maxFilesPerTrigger", maxFilesPerBatch)
      .parquet(eventsDir)
    val dim = broadcast(spark.read.parquet(dimDir))
    val joined = events.join(dim, Seq(keyCol))
    commitNovel(spark, joined, outDir, checkpointDir)
  }

  /** The engine-NATIVE dedup twin of [[dedupStreamTtl]]:
    * `dropDuplicatesWithinWatermark` keeps keyed state only until the
    * event-time watermark passes each key's last sighting + delay, so
    * the state store is bounded by the watermark window instead of the
    * key universe — Spark's built-in rendition of the 24 h cache
    * (C6). Suppresses duplicates whose event times fall within the
    * watermark delay of the first sighting; re-admits keys after the
    * watermark has moved past them.
    */
  def dedupWithinWatermarkAvailableNow(spark: SparkSession, pagesDir: String,
                                       outDir: String, checkpointDir: String,
                                       delaySeconds: Int,
                                       maxFilesPerBatch: Int = 1000): Long = {
    val schema = spark.read.parquet(pagesDir).schema
    val pages = spark.readStream
      .schema(schema)
      .option("maxFilesPerTrigger", maxFilesPerBatch)
      .parquet(pagesDir)
      .withColumn("content_hash", sha2(col("html"), 256))
      .withColumn("event_ts", col("warc_ts").cast("timestamp_ltz"))
      .withWatermark("event_ts", s"$delaySeconds seconds")
      .dropDuplicatesWithinWatermark("content_hash")
      .select(col("url"), col("content_hash"), col("event_ts"))
    commitNovel(spark, pages, outDir, checkpointDir)
  }

  /** Output-file sizing for the micro-batch sinks (guide §6: files in
    * the 128 MB–1 GB range; a batch inherits the STATE-STORE partition
    * count — `spark.sql.shuffle.partitions` — so an unsized sink writes
    * that many files per batch regardless of batch bytes, the classic
    * small-file failure mode of long-running streams). Target file size
    * comes from `spark.graft.sink.targetFileBytes` (default 128 MB);
    * the byte estimate is the persisted batch's own stats (exact once
    * the cache is materialized — callers persist+count first), and the
    * result is capped at the current partition count so an uncachable
    * estimate degrades to "no coalesce", never to over-merging.
    */
  private def sinkPartitions(batch: DataFrame): Int = {
    val target = batch.sparkSession.conf
      .get("spark.graft.sink.targetFileBytes", (128L << 20).toString).toLong
    val bytes = batch.queryExecution.optimizedPlan.stats.sizeInBytes
    val byBytes = ((bytes + target - 1) / target).max(1)
    byBytes.min(BigInt(batch.rdd.getNumPartitions)).toInt
  }

  /** Exactly-once commit for the dedup streams: `foreachBatch` has no
    * sink batch log, so a crash between the write and the checkpoint
    * commit replays the micro-batch — a plain append would then duplicate
    * its rows. Leading the partition spec with `batch_id` + dynamic
    * partition overwrite makes the replay overwrite exactly its own
    * directory instead (the same idempotent-sink shape as
    * [[runAvailableNow]]). Returns the number of novel rows committed.
    */
  private def commitNovel(spark: SparkSession, novel: DataFrame,
                          outDir: String, checkpointDir: String): Long = {
    var emitted = 0L
    val q = novel.writeStream
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val n = batch.persist().count()
        // partitionOverwriteMode scoped to THIS writer — a session-wide
        // conf.set would silently turn every later overwrite in the same
        // SparkSession dynamic (leaving stale partitions in place)
        batch.coalesce(sinkPartitions(batch))
          .withColumn("batch_id", lit(batchId))
          .write.mode("overwrite").partitionBy("batch_id")
          .option("partitionOverwriteMode", "dynamic")
          .parquet(outDir)
        batch.unpersist()
        emitted += n
        ()
      }
      .start()
    q.awaitTermination()
    emitted
  }
}
