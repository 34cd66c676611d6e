package graft.pipeline

import java.sql.Timestamp
import org.apache.spark.sql.{Column, DataFrame, DataFrameWriter, Row, SparkSession}
import org.apache.spark.sql.functions._

/** Iceberg-emulating layout + checkpoint/lineage/metrics tables
  * (SURVEY.md §2-C7/C8/B6; the Iceberg runtime jar is not available in
  * this sandbox, so the partition spec `days(warc_ts) × bucket(url, N)` is
  * emulated with Hive-style directories and an explicit manifest table).
  *
  * Semantics carried over from the reference:
  *  - content-hash memoization with TTL → the `checkpoint_results` cache
  *    consumed by [[Extraction.extractChunks]] (`cache_manager.py:31-79`);
  *  - idempotent resume: re-runs prune the partitions the manifest has
  *    committed out of the page scan (the cache-hit short-circuit of
  *    `ocr.py:34-37`, lifted to partition granularity per the north rule);
  *  - per-partition lineage + metrics rows (docs, bytes in/out, classifier
  *    block counts, failures) — the Spark analog of the reference's memory
  *    /timing instrumentation (`pdf_splitter.py:31-44`, `ocr.py:218-222`).
  */
object Checkpoint {

  /** Iceberg `bucket(url, N)` emulation width. */
  val NumBuckets = 8

  /** Upper bound on the Parquet files [[clusterByDir]] lets one partition
    * directory receive per write, and so the file count above which
    * [[compactPartitions]] rewrites a directory by default: a run never
    * leaves a directory that needs compaction.
    */
  private[graft] val FilesPerDir = 4

  /** Partition columns: `days(warc_ts)` × `bucket(url, N)`. `hash` is
    * Spark's Murmur3 — stable across runs/sessions, so bucket assignment
    * is deterministic (required for resume correctness).
    */
  def withPartitionCols(pages: DataFrame): DataFrame =
    pages
      .withColumn("ts_day", to_date(col("warc_ts")))
      .withColumn("url_bucket", pmod(hash(col("url")), lit(NumBuckets)))

  /** A row's target directory as one string key, `<ts_day>/<url_bucket>`
    * (a null day drops out of the key, which stays non-null): the key of a
    * write's census and of the salt widths [[clusterByDir]] looks up.
    */
  private def dirKey: Column =
    concat_ws("/", col("ts_day").cast("string"), col("url_bucket").cast("string"))

  /** Salt width per directory from a write's census (rows per [[dirKey]]):
    * `clamp(ceil(rows(dir) * partitions / total), 1, FilesPerDir)`, with
    * `partitions` the shuffle width the clustering repartition hashes into
    * (`spark.sql.shuffle.partitions`).
    * A directory gets more than one writer only when it alone holds more
    * than one writer's fair share of the rows (`total / partitions`) —
    * exactly when one task writing it would straggle behind the others.
    * Every other directory gets one writer, so one file.
    */
  private[graft] def saltWidths(census: Map[String, Long],
                                partitions: Int): Map[String, Int] = {
    val total = census.values.sum
    census.map { case (dir, rows) =>
      dir -> math.min(FilesPerDir.toLong,
        math.max(1L, (rows * partitions + total - 1) / total)).toInt
    }
  }

  /** The directory-clustering rule of every partitioned write: shuffle
    * rows to their target (ts_day, url_bucket) directory, salted by url
    * over that directory's width from the write's `census`
    * ([[saltWidths]]). A directory that would straggle spreads over up to
    * [[FilesPerDir]] tasks; every other one lands whole in one task and is
    * written as one file, since each file costs fixed write time. A
    * directory without a census entry keeps the full [[FilesPerDir]]
    * width — every directory, for the callers with no census
    * ([[writePages]], the streaming sink). Hash repartitioning can collide
    * salt values, so the width is an upper bound on a directory's files.
    * Without the clustering every upstream task writes a fragment into
    * every directory it touches and the table explodes into tasks × dirs
    * tiny files, run over run (a real small-file failure mode at scale:
    * file-open cost then dominates the scan and Hadoop FS locking
    * serializes high-thread readers).
    */
  private[graft] def clusterByDir(df: DataFrame,
                                  census: Map[String, Long] = Map.empty): DataFrame = {
    val widths = saltWidths(census, df.sparkSession.sessionState.conf.numShufflePartitions)
    df.repartition(col("ts_day"), col("url_bucket"),
      pmod(hash(col("url"), lit(1)), coalesce(element_at(typedLit(widths), dirKey), lit(FilesPerDir))))
  }

  /** C8: resume anti-join — keep only pages whose partition has no
    * committed manifest row. This is the reference the production path is
    * tested against ([[pending]]), not the path itself: its join keys are
    * recomputed from `warc_ts`/`url` ([[withPartitionCols]]) and
    * `left_anti` gets no dynamic partition pruning, so it reads every page
    * row and drops the committed ones afterwards (perfbench's isolated
    * `resume` layer reads all 3048 `crawl_resume` page rows to keep 14.3 %
    * of them). A null `ts_day` never matches, so pages without a day are
    * pending on every run.
    */
  def resume(pages: DataFrame, manifest: DataFrame): DataFrame =
    withPartitionCols(pages).join(
      manifest.select(col("ts_day"), col("url_bucket")).distinct(),
      Seq("ts_day", "url_bucket"), "left_anti")

  /** The directories the manifest at `manifestDir` has committed, as
    * [[dirKey]] strings: one job projects the key, and the driver dedupes
    * it (the set is bounded by directories × runs, like [[readAsOf]]'s
    * path list). No job on the first run. Rows with a null day or bucket
    * are left out, since [[resume]]'s anti-join never matches them.
    */
  private[graft] def committedDirs(spark: SparkSession, manifestDir: String): Set[String] =
    readManifest(spark, manifestDir)
      .where(col("ts_day").isNotNull && col("url_bucket").isNotNull)
      .select(dirKey).collect().map(_.getString(0)).toSet

  /** The pages outside the `committed` directories, with their partition
    * columns: the rows [[resume]] keeps, without reading a committed
    * directory. The predicate runs twice:
    *  - on the stored `ts_day=`/`url_bucket=` columns, when the table has
    *    them, before [[withPartitionCols]] replaces them. It references
    *    partition columns only, so Spark prunes the committed directories
    *    out of the scan statically;
    *  - on the recomputed columns, which keeps the result exact for a table
    *    without stored partition columns (read whole, then filtered).
    * The pruning trusts a stored directory to hold only rows that
    * [[withPartitionCols]] maps to it, as [[writePages]] writes them.
    */
  private[graft] def pending(pages: DataFrame, committed: Set[String]): DataFrame =
    if (committed.isEmpty) withPartitionCols(pages)
    else {
      val outside = !dirKey.isInCollection(committed)
      val stored = Set("ts_day", "url_bucket").subsetOf(pages.columns.toSet)
      withPartitionCols(if (stored) pages.where(outside) else pages).where(outside)
    }

  /** Lineage manifest rows for a completed run over `pagesPart`, one
    * row per page — the pages themselves or their extracted docs (must
    * carry ts_day/url_bucket). `committed_ts` is injected, never
    * wall-clock — determinism contract (reference timestamps are
    * nondeterministic and excluded from identity, `ocr.py:68`).
    */
  def manifestRows(pagesPart: DataFrame, runId: String, runTs: Timestamp,
                   outRoot: String): DataFrame =
    pagesPart.groupBy(col("ts_day"), col("url_bucket"))
      .agg(count(lit(1)).as("docs"))
      .withColumn("run_id", lit(runId))
      .withColumn("committed_ts", lit(runTs))
      .withColumn("path", concat(lit(outRoot), lit("/ts_day="), col("ts_day"),
        lit("/url_bucket="), col("url_bucket")))

  /** Fused per-row extraction that threads the partition columns through
    * the typed stage (no post-extraction rejoin on url) and measures each
    * document task-side: `extract_ns` is its extraction nanos and
    * `bytes_in` its payload's byte length (null for a null payload, like
    * `octet_length`). Both feed the B6 metrics ([[metricsParted]]), so the
    * rollup never re-reads the raw pages, and both are dropped before the
    * document sink (instrumentation, not data; `extract_ns` is
    * nondeterministic by nature and excluded from the byte-identity
    * contract like all timestamps).
    */
  def extractParted(pagesPart: DataFrame): DataFrame = {
    val spark = pagesPart.sparkSession
    import spark.implicits._
    pagesPart
      .select(col("url"), col("html"), col("ts_day"), col("url_bucket"))
      .as[(String, Array[Byte], java.sql.Date, Int)]
      .mapPartitions(_.map { case (url, html, day, bucket) =>
        val t0 = System.nanoTime()
        val d = Extraction.extractDoc(RawDoc(url, html))
        (d, day, bucket, System.nanoTime() - t0, Option(html).map(_.length.toLong))
      })
      .select(col("_1.*"), col("_2").as("ts_day"), col("_3").as("url_bucket"),
        col("_4").as("extract_ns"), col("_5").as("bytes_in"))
      .withColumn("document_type", Extraction.documentType(col("labels")))
  }

  /** B6: per-partition extraction metrics of a run's extracted
    * `docsParted` ([[extractParted]] output: one row per input page,
    * carrying the partition columns, `extract_ns` and `bytes_in`). ONE
    * `groupBy(ts_day, url_bucket)` over the docs alone — the input side
    * (`docs`, `bytes_in`) was measured task-side during extraction, so the
    * rollup reads no page column and joins nothing. `octet_length` gives
    * exact UTF-8 byte counts of the text; `wall_ms` is the partition's
    * summed extraction time and `docs_per_sec = docs / wall_seconds` — the
    * per-partition "docs/sec" the north rule names in its metrics-table
    * wording.
    */
  def metricsParted(docsParted: DataFrame, runId: String): DataFrame =
    docsParted.groupBy(col("ts_day"), col("url_bucket"))
      .agg(count(lit(1)).as("docs"),
        sum(col("bytes_in")).as("bytes_in"),
        sum(octet_length(col("extracted_text")).cast("long")).as("bytes_out"),
        sum(col("content_blocks")).as("content_blocks"),
        sum(col("boiler_blocks")).as("boiler_blocks"),
        sum((!col("ok")).cast("long")).as("failed"),
        sum(col("extract_ns")).as("extract_ns"))
      .select(col("ts_day"), col("url_bucket"), col("docs"), col("bytes_in"),
        col("bytes_out"), col("content_blocks"), col("boiler_blocks"), col("failed"),
        round(col("extract_ns") / 1e6, 3).as("wall_ms"),
        round(col("docs") / greatest(col("extract_ns"), lit(1L)).cast("double") * 1e9, 1)
          .as("docs_per_sec"))
      .withColumn("run_id", lit(runId))

  /** A7/F2: the manifest listing — newest commit first (the reference's
    * mtime-desc file listing, `routes.py:44-60`).
    */
  def listing(manifest: DataFrame): DataFrame =
    manifest.orderBy(desc("committed_ts"), asc("path")).select(col("path"), col("committed_ts"))

  /** Write the page table in the Iceberg-emulating Hive layout,
    * directory-clustered by [[clusterByDir]].
    */
  def writePages(pages: DataFrame, dir: String): Unit =
    clusterByDir(withPartitionCols(pages))
      .write.mode("overwrite")
      .partitionBy("ts_day", "url_bucket")
      .parquet(dir)

  /** One resumable run: plan from the manifest, read only the pages of
    * uncommitted partitions, extract, overwrite exactly the touched output
    * partitions (dynamic partition overwrite = Iceberg-style
    * atomic-per-partition commit), then append metrics, then the manifest.
    * A crash before the manifest append leaves the partitions uncommitted:
    * the next run
    * re-processes them and overwrites their output, not duplicating the
    * docs. It is NOT idempotent for the metrics: a crash after the metrics
    * append and before the manifest append leaves that run's metrics rows
    * behind, and the retry appends them again, so the metrics table counts
    * those partitions twice (ROADMAP direction 3, one commit record per
    * run). Committed partitions are pruned out of every page scan, so a
    * run where everything is committed opens no page file; raw payloads
    * are read once, by the extraction; no page column is cached (see
    * [[commit]]).
    */
  def run(spark: SparkSession, pagesDir: String, outDir: String,
          manifestDir: String, metricsDir: String,
          runId: String, runTs: Timestamp): Long =
    commit(spark, pagesDir, manifestDir, metricsDir, runId, runTs, outDir,
      force = false)(
      // dynamic overwrite scoped to THIS writer (a session-wide conf.set
      // would silently change every later overwrite's semantics)
      _.mode("overwrite").option("partitionOverwriteMode", "dynamic"))

  /** The committed manifest, or an empty `(ts_day, url_bucket)` frame on
    * the first run. Probed by directory listing, not read-and-catch: the
    * caught AnalysisException used to print a stack trace that polluted
    * stderr right before Bench's JSON line (VERDICT.md "What's wrong"
    * #3b). The listing goes through the Hadoop FileSystem API, NOT
    * java.io.File: on HDFS/S3 a local-File probe sees nothing, the
    * committed set would come out empty, and the run would reprocess
    * everything.
    */
  private def readManifest(spark: SparkSession, manifestDir: String): DataFrame = {
    val manifestPath = new org.apache.hadoop.fs.Path(manifestDir)
    val manifestFs = manifestPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val hasManifest = manifestFs.exists(manifestPath) &&
      Option(manifestFs.globStatus(new org.apache.hadoop.fs.Path(manifestDir, "*.parquet")))
        .exists(_.nonEmpty)
    if (hasManifest) spark.read.parquet(manifestDir)
    else {
      import spark.implicits._
      Seq.empty[(java.sql.Date, Int)].toDF("ts_day", "url_bucket")
    }
  }

  /** The one commit sequence of [[run]] and [[runVersioned]]: collect the
    * committed directories from the manifest ([[committedDirs]]; none when
    * `force`), select the pages outside them ([[pending]]), take their
    * census (rows per target directory), extract, write the docs to
    * `target` with the save mode `saveMode` sets, then append the metrics
    * and, last, the manifest rows. Returns the number of pages processed,
    * the census total.
    *
    * The plan comes first and is static: the page table is read from its
    * one root path, and the committed set filters its stored partition
    * columns, so every later scan skips the committed directories without
    * opening them, and a no-op run scans none. Reading the pending
    * directories as an explicit path list would prune the same files, but
    * past 32 paths Spark lists them with a distributed job of one task per
    * path on every run, a fresh one included.
    *
    * Raw payloads are read once. The pages to do are NOT cached: the
    * census is its own scan, which column pruning narrows to at most
    * `url`/`warc_ts`, and returns at most one row per directory; only the
    * extraction reads `html`. The census sizes the docs write: each
    * directory's salt width comes from its share of the rows
    * ([[clusterByDir]]). The extracted docs are persisted once and feed the
    * docs write, the metrics rollup and the manifest aggregate — every
    * input measure the metrics need rides on them ([[extractParted]]).
    * Each step's jobs carry a `checkpoint: …` description ([[JobLabel]]).
    */
  private def commit(spark: SparkSession, pagesDir: String,
                     manifestDir: String, metricsDir: String,
                     runId: String, runTs: Timestamp, target: String,
                     force: Boolean)(
                     saveMode: DataFrameWriter[Row] => DataFrameWriter[Row]): Long = {
    def step[T](name: String)(body: => T): T =
      JobLabel(spark.sparkContext, s"checkpoint: $name")(body)
    val committed =
      if (force) Set.empty[String] else step("plan")(committedDirs(spark, manifestDir))
    val todo = pending(spark.read.parquet(pagesDir), committed)
    val census = step("todo count")(
      todo.groupBy(dirKey).count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap)
    val nTodo = census.values.sum
    if (nTodo > 0) {
      // thread ts_day/url_bucket THROUGH the fused per-row extraction —
      // re-joining extractAll's output on url would shuffle every
      // extracted document twice (both join sides), the dominant exchange
      // of the write path at corpus scale; this plan has none before the
      // partitioned write
      val docs = extractParted(todo)
        .persist() // consumed three times: docs write, metrics, manifest
      // the clustering shuffle moves the EXTRACTED text (already
      // persisted), not the raw payloads
      step("extract+write")(saveMode(
        clusterByDir(docs.drop("extract_ns", "bytes_in"), census)
          .write.partitionBy("ts_day", "url_bucket"))
        .parquet(target))
      step("metrics")(
        metricsParted(docs, runId).write.mode("append").parquet(metricsDir))
      step("manifest")(
        manifestRows(docs, runId, runTs, target).write.mode("append").parquet(manifestDir))
      docs.unpersist()
    }
    nTodo
  }

  /** A3: the reference's full nested JSON results sink
    * (`document_saver.py:84-85` writes the merged result as one JSON
    * document) — each row serialized whole with `to_json(struct(*))`.
    */
  def jsonResults(docs: DataFrame): DataFrame =
    docs.select(col("url"),
      to_json(struct(docs.columns.map(col): _*)).as("json"))

  /** Write [[jsonResults]] through the text sink: one JSON document per
    * line (the distributed analog of the reference's per-document
    * `*_results.json` file).
    */
  def writeJsonResults(docs: DataFrame, dir: String): Unit =
    jsonResults(docs).select(col("json")).write.mode("overwrite").text(dir)

  /** C6 second half: the cache expiry sweep (`cache_manager.py:95-116`
    * actively deletes expired per-hash files; here the memoization table
    * is compacted to live rows so dead entries stop accumulating at
    * scale), a [[rewriteKeeping]] of the live rows. Returns removed-row
    * count.
    */
  def sweepExpired(spark: SparkSession, cacheDir: String,
                   asOf: Timestamp): Long =
    rewriteKeeping(spark, cacheDir,
      col("committed_ts") + expr("INTERVAL 24 HOURS") > lit(asOf), ".compact")

  /** Filtered rewrite of the table at `dir` down to the rows where `keep`
    * is true: one census scan counts both sides (two count() actions
    * scanned the table twice, r06), and only when rows go is the table
    * re-read, written to `dir + suffix` and swapped in ([[swapIn]]).
    * Write-temp-then-swap keeps the read and the overwrite off the same
    * files. Returns the removed-row count.
    */
  private def rewriteKeeping(spark: SparkSession, dir: String, keep: Column,
                             suffix: String): Long = {
    val table = spark.read.parquet(dir)
    val counts = table.agg(count(lit(1)), count(when(keep, lit(1)))).head()
    val (total, kept) = (counts.getLong(0), counts.getLong(1))
    if (kept < total) {
      val tmp = dir + suffix
      table.where(keep).write.mode("overwrite").parquet(tmp)
      val target = new org.apache.hadoop.fs.Path(dir)
      swapIn(target.getFileSystem(spark.sparkContext.hadoopConfiguration),
        new org.apache.hadoop.fs.Path(tmp), target)
    }
    total - kept
  }

  /** Replace `dir` by the fully written `side` (delete + rename). It runs
    * through the Hadoop `FileSystem` API, so the same code works on HDFS
    * and local FS alike — never `java.io.File`, which silently no-ops on
    * a remote filesystem.
    */
  private def swapIn(fs: org.apache.hadoop.fs.FileSystem,
                     side: org.apache.hadoop.fs.Path,
                     dir: org.apache.hadoop.fs.Path): Unit = {
    require(fs.delete(dir, true), s"could not remove old $dir")
    require(fs.rename(side, dir), s"swap failed for $dir")
  }

  // --------------------------------------- snapshots / time travel

  /** Iceberg-style SNAPSHOT semantics over the checkpointed output:
    * [[runVersioned]] writes each run's data under `run_id=<id>/` —
    * append-only, never overwriting a previous run's files — and the
    * manifest rows point at run-scoped partition paths. The table
    * state "as of T" is then pure manifest arithmetic
    * ([[snapshotAsOf]]): per partition, the newest commit with
    * `committed_ts <= T`. [[readAsOf]] materializes that state;
    * [[expireSnapshots]] is the retention vacuum (after expiring to
    * horizon H, time travel before H is gone — exactly Iceberg's
    * `expire_snapshots` contract). The reference has no versioning at
    * all (`document_saver.py` overwrites by timestamped dir); this is
    * the north rule's Iceberg emulation carried to its logical end.
    */
  def runVersioned(spark: SparkSession, pagesDir: String, outDir: String,
                   manifestDir: String, metricsDir: String,
                   runId: String, runTs: Timestamp,
                   force: Boolean = false): Long =
    // force = reprocess everything into a NEW snapshot (the "input
    // changed" path); otherwise the usual idempotent resume
    commit(spark, pagesDir, manifestDir, metricsDir, runId, runTs,
      s"$outDir/run_id=$runId", force)(
      _.mode("errorifexists")) // append-only: a reused runId must fail, not clobber

  /** Per partition, the newest commit at or before `asOf`:
    * `(ts_day, url_bucket, path, committed_ts)`. Ties on
    * `committed_ts` break by path (lexicographic max) — deterministic.
    */
  def snapshotAsOf(manifest: DataFrame, asOf: Timestamp): DataFrame =
    manifest.where(col("committed_ts") <= lit(asOf))
      .groupBy(col("ts_day"), col("url_bucket"))
      .agg(max(struct(col("committed_ts"), col("path"))).as("c"))
      .select(col("ts_day"), col("url_bucket"),
        col("c.path").as("path"), col("c.committed_ts").as("committed_ts"))

  /** Materialize the table state as of `asOf`. The path list is driver
    * work bounded by the PARTITION count (the same class as Iceberg's
    * manifest processing), never by row count. `basePath` keeps the
    * run_id/ts_day/url_bucket partition columns readable.
    */
  def readAsOf(spark: SparkSession, outDir: String, manifestDir: String,
               asOf: Timestamp): DataFrame = {
    import spark.implicits._
    val paths = snapshotAsOf(spark.read.parquet(manifestDir), asOf)
      .select(col("path")).as[String].collect().sorted
    require(paths.nonEmpty, s"no snapshot at or before $asOf")
    spark.read.option("basePath", outDir).parquet(paths: _*)
  }

  /** Snapshot CHANGELOG (the CDC shape Iceberg calls
    * `create_changelog_view`): what happened to every url between two
    * table snapshots — `(url, change)` with change ∈ added / removed /
    * changed, unchanged rows dropped. Content identity is
    * `xxhash64(extracted_text)`; ONE full-outer join on url (both
    * sides already partition-bounded by their manifests), so a
    * crawl-over-crawl diff costs one shuffle, never a rescan of
    * history.
    */
  def diffSnapshots(spark: SparkSession, outDir: String, manifestDir: String,
                    t1: Timestamp, t2: Timestamp): DataFrame = {
    val a = readAsOf(spark, outDir, manifestDir, t1)
      .select(col("url"), xxhash64(col("extracted_text")).as("_h1"))
    val b = readAsOf(spark, outDir, manifestDir, t2)
      .select(col("url"), xxhash64(col("extracted_text")).as("_h2"))
    a.join(b, Seq("url"), "full_outer")
      .withColumn("change",
        when(col("_h1").isNull, "added")
          .when(col("_h2").isNull, "removed")
          .when(col("_h1") =!= col("_h2"), "changed"))
      .where(col("change").isNotNull)
      .select(col("url"), col("change"))
  }

  /** Iceberg `expire_snapshots`: keep every partition version still
    * reachable from a time travel AT OR AFTER `olderThan` (the newest
    * commit <= olderThan, plus everything after it); delete the rest's
    * data directories and drop their manifest rows (temp-write +
    * [[swapIn]]). Returns the number of expired partition versions.
    * Idempotent.
    */
  def expireSnapshots(spark: SparkSession, manifestDir: String,
                      olderThan: Timestamp): Long = {
    import spark.implicits._
    val manifest = spark.read.parquet(manifestDir)
    val horizon = snapshotAsOf(manifest, olderThan).select(col("path"))
    val after = manifest.where(col("committed_ts") > lit(olderThan)).select(col("path"))
    val live = horizon.union(after).distinct()
    val dead = manifest.select(col("path")).distinct()
      .join(live, Seq("path"), "left_anti")
      .as[String].collect().sorted
    if (dead.nonEmpty) {
      val conf = spark.sparkContext.hadoopConfiguration
      dead.foreach { p =>
        val path = new org.apache.hadoop.fs.Path(p)
        val fs = path.getFileSystem(conf)
        if (fs.exists(path))
          require(fs.delete(path, true), s"could not expire $p")
      }
      val keepRows = manifest.where(!col("path").isInCollection(dead))
      val tmp = manifestDir + ".expire"
      keepRows.write.mode("overwrite").parquet(tmp)
      val target = new org.apache.hadoop.fs.Path(manifestDir)
      swapIn(target.getFileSystem(conf), new org.apache.hadoop.fs.Path(tmp), target)
    }
    dead.length.toLong
  }

  /** Small-file compaction — the Iceberg `rewrite_data_files` analog
    * and THE operational failure mode of long-lived partitioned
    * tables: every incremental run appends a few files per partition
    * until scans drown in open-file overhead. Rewrites each partition
    * whose file count exceeds `maxFilesPerPartition` into
    * `ceil(bytes / targetBytes)` files (coalesce inside the partition
    * — no shuffle of other partitions' data), via temp-write +
    * [[swapIn]]. Content-preserving by construction and asserted in
    * PipelineSpec (byte-identical rows before/after). Returns the number
    * of partitions rewritten.
    *
    * Scale shape: the partition census is a driver listing bounded by
    * partition count (Iceberg-manifest-class work); each rewrite reads
    * and writes ONLY that partition's bytes. Run it from the same
    * scheduled maintenance slot as [[expireSnapshots]].
    */
  def compactPartitions(spark: SparkSession, outDir: String,
                        targetBytes: Long = 128L << 20,
                        maxFilesPerPartition: Int = FilesPerDir): Long = {
    val root = new org.apache.hadoop.fs.Path(outDir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(fs.exists(root), s"no table at $outDir")
    // leaf partition dirs: ts_day=*/url_bucket=*
    val parts = fs.globStatus(new org.apache.hadoop.fs.Path(outDir, "ts_day=*/url_bucket=*"))
    // Each rewrite is an independent tiny job (read one partition's
    // files, write them back coalesced); run a few IN FLIGHT from a
    // driver thread pool (guide §2.6: overlap independent jobs so the
    // next rewrite's tasks back-fill the tail of the current one —
    // serially, every rewrite left the cluster idle during its commit).
    // 4 in flight is plenty; partition swaps touch disjoint dirs so the
    // temp+rename protocol is unchanged. Rewrites are per-partition
    // atomic exactly as before — a crash mid-sweep leaves every
    // partition either old or fully swapped.
    val parallelism = math.min(4, math.max(1, parts.length))
    val pool = java.util.concurrent.Executors.newFixedThreadPool(parallelism)
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutorService(pool)
    val rewritten = new java.util.concurrent.atomic.AtomicLong(0L)
    val futures = parts.toSeq.map { st =>
      scala.concurrent.Future {
        val dir = st.getPath
        val files = fs.listStatus(dir).filter(f =>
          f.isFile && f.getPath.getName.endsWith(".parquet"))
        if (files.length > maxFilesPerPartition) {
          val bytes = files.map(_.getLen).sum
          val nOut = math.max(1, math.ceil(bytes.toDouble / targetBytes).toInt)
          val tmp = new org.apache.hadoop.fs.Path(dir.getParent, dir.getName + ".compact")
          // labelled on this pool thread and restored after, so no later
          // rewrite (or job) on the thread inherits another dir's label
          JobLabel(spark.sparkContext, s"compact $dir")(
            spark.read.parquet(dir.toString)
              .coalesce(nOut).write.mode("overwrite").parquet(tmp.toString))
          swapIn(fs, tmp, dir)
          rewritten.incrementAndGet()
          ()
        }
      }
    }
    try
      scala.concurrent.Await.result(
        scala.concurrent.Future.sequence(futures),
        scala.concurrent.duration.Duration.Inf)
    finally pool.shutdown()
    rewritten.get()
  }

  /** A10 last gap: single-key cache invalidation — the reference's
    * `CacheManager.invalidate(key)` (`cache_manager.py:81-93` deletes one
    * per-hash file) as an idempotent filtered rewrite of the memoization
    * table, the same [[rewriteKeeping]] as [[sweepExpired]];
    * invalidating a hash that is not present is a no-op (returns 0), so
    * retries are safe. The next `extractChunks(cache)` run recomputes
    * exactly the invalidated hashes and cache-hits everything else.
    * Returns removed-row count.
    */
  def invalidate(spark: SparkSession, cacheDir: String,
                 hashes: Seq[String]): Long = {
    require(hashes.nonEmpty, "no hashes to invalidate")
    // NULL-hash rows (however they got there) are NOT targeted by any
    // invalidation: a bare !isin() evaluates to NULL for them and would
    // silently delete them with every call (three-valued logic)
    rewriteKeeping(spark, cacheDir,
      col("content_hash").isNull || !col("content_hash").isin(hashes: _*), ".invalidate")
  }
}
