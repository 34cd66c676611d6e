package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The complete training-corpus job as ONE composition — the
  * FineWeb-style funnel every web-scale text pipeline runs, built
  * entirely from this engine's own operators:
  *
  *   crawl pages → main-content extraction ([[Extraction.extractAll]])
  *   → Gopher-rule quality filter ([[graft.ops.TextOps.gopherQuality]])
  *   → corpus near-dedup, one survivor per cluster
  *     ([[graft.ops.Dedup.nearDupFilter]]: MinHash → capped LSH →
  *     exact verify → connected components)
  *   → WET-style conversion-record archives
  *     ([[graft.sources.Warc.writeConversions]])
  *
  * plus a per-stage funnel table (stage → surviving docs) — the
  * numbers a pipeline operator actually watches. Every stage is the
  * already-vetted scale shape; composing them adds NO new shuffle
  * beyond their own (the funnel counts ride on cached frames).
  */
object CorpusJob {

  /** Run the funnel over a page table; write WET archives to
    * `wetDir`; return the funnel `(stage, docs)` in pipeline order
    * (`ord` makes the order part of the data, not the row layout).
    */
  def run(spark: SparkSession, pages: DataFrame, wetDir: String,
          shingleK: Int = 3, numHashes: Int = 32, numBands: Int = 8,
          threshold: Double = 0.8, maxBucket: Int = 4096): DataFrame = {
    import spark.implicits._
    val docs = Extraction.extractAll(pages)
      .join(pages.select(col("url"), col("warc_ts")), Seq("url"))
      .persist()
    val nIn = docs.count()

    val quality = docs.where(col("ok"))
      .withColumn("_keep",
        graft.ops.TextOps.gopherQuality(col("extracted_text")).last)
      .where(col("_keep")).drop("_keep")
      .persist()
    val nQuality = quality.count()

    // standard order: the cheap exact pass first (one window, catches
    // the bulk of duplication), then MinHash near-dedup on the residue
    val exact = graft.ops.Dedup.exactFilter(quality, "url", "extracted_text")
      .persist()
    val nExact = exact.count()

    val deduped = graft.ops.Dedup.nearDupFilter(
        exact, "url", "extracted_text",
        shingleK, numHashes, numBands, threshold, maxBucket)
      .persist()
    val nDeduped = deduped.count()

    val written = graft.sources.Warc.writeConversions(
      deduped.select(col("url"), col("warc_ts"), col("extracted_text")), wetDir)

    docs.unpersist(); quality.unpersist(); exact.unpersist(); deduped.unpersist()
    Seq(
      (0, "extracted", nIn),
      (1, "quality_kept", nQuality),
      (2, "exact_unique", nExact),
      (3, "neardup_survivors", nDeduped),
      (4, "wet_records_written", written))
      .toDF("ord", "stage", "docs")
  }

  /** The FULL curation funnel — [[run]]'s pipeline extended with the
    * policy/safety stages a production corpus adds around it, in the
    * order real pipelines apply them (cheap host-level gates before
    * expensive text work; redaction after dedup so hashes see original
    * text; the cap last so it bounds what actually ships):
    *
    *   extract → domain-suffix BLOCKLIST gate
    *   ([[graft.ops.CrawlPolicy.blockByDomainSuffix]]) → Gopher quality
    *   → eval-set DECONTAMINATION
    *   ([[graft.ops.Decontaminate.removeContaminated]], broadcast gram
    *   probe) → exact dedup → near-dedup → PII REDACTION
    *   ([[graft.ops.Pii.redact]], Luhn-gated) → per-domain CAP
    *   ([[graft.ops.Sampling.capPerKey]], deterministic) → WET archives.
    *
    * `evalDocs` = the benchmark corpus to decontaminate against
    * (`(id, text)`-shaped, tiny); `blocklist` = one-column domain
    * suffixes. Returns the per-stage funnel.
    */
  def runFull(spark: SparkSession, pages: DataFrame, wetDir: String,
              evalDocs: DataFrame, blocklist: DataFrame,
              domainCap: Int, contaminationN: Int = 8,
              shingleK: Int = 3, numHashes: Int = 32, numBands: Int = 8,
              threshold: Double = 0.8, maxBucket: Int = 4096): DataFrame = {
    import spark.implicits._
    def label[T](stage: String)(body: => T): T = {
      val sc = spark.sparkContext
      val outer = sc.getLocalProperty("spark.job.description")
      sc.setJobDescription(s"funnel: $stage")
      try body finally sc.setJobDescription(outer)
    }
    val docs = Extraction.extractAll(pages)
      .join(pages.select(col("url"), col("warc_ts")), Seq("url"))
      .withColumn("host", callUDF("parse_url", col("url"), lit("HOST")))
      .persist()
    val nIn = label("extract")(docs.count())

    val unblocked = graft.ops.CrawlPolicy.blockByDomainSuffix(
      docs, "host", blocklist).persist()
    val nUnblocked = label("blocklist")(unblocked.count())

    val quality = unblocked.where(col("ok"))
      .withColumn("_keep",
        graft.ops.TextOps.gopherQuality(col("extracted_text")).last)
      .where(col("_keep")).drop("_keep")
      .persist()
    val nQuality = label("quality")(quality.count())

    val eval2 = evalDocs.toDF("url", "extracted_text")
    val clean = graft.ops.Decontaminate.removeContaminated(
      quality, eval2, "url", "extracted_text", contaminationN).persist()
    val nClean = label("decontaminate")(clean.count())

    val exact = graft.ops.Dedup.exactFilter(clean, "url", "extracted_text")
      .persist()
    val nExact = label("exact_dedup")(exact.count())

    val deduped = label("near_dedup")(graft.ops.Dedup.nearDupFilter(
        exact, "url", "extracted_text",
        shingleK, numHashes, numBands, threshold, maxBucket)
      .persist())
    val nDeduped = label("near_dedup")(deduped.count())

    val redacted = graft.ops.Pii.redact(deduped, "url", "extracted_text")
      .persist()
    val nPii = label("pii")(redacted.where(col("pii_found")).count())

    val capped = graft.ops.Sampling.capPerKey(
      redacted, "host", "url", domainCap).persist()
    val nCapped = label("cap")(capped.count())

    val written = label("wet_write")(graft.sources.Warc.writeConversions(
      capped.select(col("url"), col("warc_ts"), col("extracted_text")), wetDir))

    docs.unpersist(); unblocked.unpersist(); quality.unpersist()
    clean.unpersist(); exact.unpersist(); deduped.unpersist()
    redacted.unpersist(); capped.unpersist()
    Seq(
      (0, "extracted", nIn),
      (1, "unblocked", nUnblocked),
      (2, "quality_kept", nQuality),
      (3, "decontaminated", nClean),
      (4, "exact_unique", nExact),
      (5, "neardup_survivors", nDeduped),
      (6, "pii_redacted_docs", nPii),
      (7, "domain_capped", nCapped),
      (8, "wet_records_written", written))
      .toDF("ord", "stage", "docs")
  }
}
