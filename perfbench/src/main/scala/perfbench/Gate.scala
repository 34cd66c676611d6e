package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** The docs table as read back from disk: rows, distinct urls and an
  * order-independent content hash over every column.
  */
final case class DocsState(rows: Long, distinctUrls: Long, contentHash: Long)

/** The gate's verdict on one run and its immediate rerun. */
final case class Verdict(matchRate: Double, attempted: Long, failed: Long,
                         problems: Seq[String]) {
  def ok: Boolean = problems.isEmpty
}

/** Expected text and partition of one url. */
final case class Truth(text: String, day: java.sql.Date, bucket: Int)

/** Correctness gate over the tables a run left on disk.
  *
  * It fails the run unless all of these hold:
  *  - every docs row's `extracted_text` equals the generator's truth text
  *    for its url, and the docs table holds exactly the truth's urls;
  *  - urls in the docs table are unique;
  *  - for the run id, Σ `metrics.docs` = Σ `manifest.docs` = the rows the
  *    run wrote = the rows the fixture left to do;
  *  - Σ `docs` over the whole metrics table equals the docs row count;
  *  - the rerun commits 0 rows, leaves the docs row count and content hash
  *    unchanged, and leaves every metrics and manifest file as it was.
  *
  * Spark reads the tables back; the comparison runs on the driver against
  * the truth held in memory, which keeps the gate to a few scan-only jobs.
  * Its reads name their schemas and list directories on the driver, so
  * they launch no schema-inference or listing jobs of their own; the
  * program's reads keep the session defaults.
  */
object Gate {
  private val CommitSchema = StructType.fromDDL("run_id string, ts_day date, url_bucket int, docs long")
  private val schemas = scala.collection.concurrent.TrieMap.empty[String, StructType]

  /** Read a table with `schema` (inferred once per path when absent). */
  private def read(spark: SparkSession, dir: String, schema: Option[StructType] = None): DataFrame = {
    val key = "spark.sql.sources.parallelPartitionDiscovery.threshold"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "100000")
    try {
      val s = schema.getOrElse(schemas.getOrElseUpdate(dir, spark.read.parquet(dir).schema))
      val df = spark.read.schema(s).parquet(dir)
      df.queryExecution.analyzed // resolve the file index while the threshold is raised
      df
    } finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  def loadTruth(spark: SparkSession, dir: String): Map[String, Truth] =
    read(spark, dir).select("url", "text", "ts_day", "url_bucket").collect()
      .map(r => r.getString(0) -> Truth(r.getString(1), r.getDate(2), r.getInt(3))).toMap

  private final case class DocRow(url: String, text: String, ok: Boolean,
                                  day: java.sql.Date, bucket: Int, hash: Long)

  /** Hash of a whole docs row, every column in name order. */
  private def rowHash(d: DataFrame) = xxhash64(d.columns.toSeq.sorted.map(col): _*)

  private def readDocs(spark: SparkSession, fx: Fixture): Array[DocRow] = {
    val d = read(spark, fx.docs)
    d.select(col("url"), col("extracted_text"), col("ok"), col("ts_day"), col("url_bucket"),
      rowHash(d)).collect()
      .map(r => DocRow(r.getString(0), r.getString(1), r.getBoolean(2), r.getDate(3),
        r.getInt(4), r.getLong(5)))
  }

  private def stateOf(docs: Array[DocRow]): DocsState =
    DocsState(docs.length, docs.iterator.map(_.url).distinct.size,
      docs.iterator.map(_.hash).foldLeft(0L)(_ + _))

  def docsState(spark: SparkSession, fx: Fixture): DocsState = {
    val d = read(spark, fx.docs)
    val rows = d.select(col("url"), rowHash(d)).collect()
    DocsState(rows.length, rows.iterator.map(_.getString(0)).distinct.size,
      rows.iterator.map(_.getLong(1)).foldLeft(0L)(_ + _))
  }

  /** (run_id, ts_day, url_bucket, docs) rows of a metrics or manifest table. */
  private def commits(spark: SparkSession, dir: String): Array[(String, java.sql.Date, Int, Long)] =
    read(spark, dir, Some(CommitSchema)).collect()
      .map(r => (r.getString(0), r.getDate(1), r.getInt(2), r.getLong(3)))

  /** Check the run `runId`, which returned `taken`, against `truth`. */
  def check(spark: SparkSession, fx: Fixture, truth: Map[String, Truth], runId: String,
            taken: Long): (Verdict, DocsState) = {
    val docs = readDocs(spark, fx)
    val st = stateOf(docs)
    val metrics = commits(spark, fx.metrics)
    val manifest = commits(spark, fx.manifest)
    val runParts = manifest.collect { case (`runId`, d, b, _) => (d, b) }.toSet
    val metricsRun = metrics.collect { case (`runId`, _, _, n) => n }.sum
    val manifestRun = manifest.collect { case (`runId`, _, _, n) => n }.sum
    val metricsAll = metrics.map(_._4).sum

    val docUrls = docs.iterator.map(_.url).toSet
    val matched = docs.count(d => truth.get(d.url).exists(_.text == d.text))
    val extra = docs.count(d => !truth.contains(d.url))
    val missing = truth.keysIterator.count(u => !docUrls.contains(u))
    val runRows = docs.count(d => runParts((d.day, d.bucket)))
    val runFailed = docs.count(d => runParts((d.day, d.bucket)) && !d.ok) +
      truth.count { case (u, t) => runParts((t.day, t.bucket)) && !docUrls.contains(u) }

    val problems = Seq.newBuilder[String]
    if (matched != st.rows) problems += s"${st.rows - matched} of ${st.rows} docs rows differ from the truth text"
    if (missing > 0) problems += s"$missing truth urls missing from docs"
    if (extra > 0) problems += s"$extra docs urls not in the truth"
    if (st.distinctUrls != st.rows) problems += s"${st.rows - st.distinctUrls} duplicate urls in docs"
    if (taken != fx.todoRows) problems += s"run took $taken rows, fixture left ${fx.todoRows}"
    if (!(metricsRun == manifestRun && manifestRun == runRows && runRows == fx.todoRows))
      problems += s"run $runId: metrics docs $metricsRun, manifest docs $manifestRun, " +
        s"rows written $runRows, rows to do ${fx.todoRows}"
    if (metricsAll != st.rows)
      problems += s"metrics table sums $metricsAll docs, docs table has ${st.rows}"
    val matchRate = if (st.rows == 0) 0.0 else matched.toDouble / st.rows
    (Verdict(matchRate, fx.todoRows, runFailed, problems.result()), st)
  }

  /** The rerun must commit nothing and change nothing. `commitFiles` are
    * the metrics and manifest files before the rerun.
    */
  def checkRerun(spark: SparkSession, fx: Fixture, taken: Long, before: DocsState,
                 commitFiles: Map[String, (Long, Long)]): Seq[String] = {
    val after = docsState(spark, fx)
    Seq(
      if (taken != 0) Some(s"rerun took $taken rows, expected 0") else None,
      if (after != before) Some(s"rerun changed the docs table: $before -> $after") else None,
      if (fx.commitFiles() != commitFiles) Some("rerun changed the metrics or manifest files") else None
    ).flatten
  }
}
