package graft.ops

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis operators for training-data pipelines, expressed as pure
  * Catalyst column expressions (codegen'd, no UDFs): language-ID,
  * quality scoring, token counting, content fingerprinting.
  *
  * The column formulations mirror the pure-Scala kernels
  * ([[graft.kernel.Lang]], [[graft.kernel.TextStats]]) so results can be
  * cross-checked between the columnar and typed paths, and against a
  * DuckDB oracle for the SQL-expressible ones.
  */
object TextOps {

  /** Letter-run tokens, lowercased, empties dropped. */
  def tokens(text: Column): Column =
    filter(split(lower(text), "[^\\p{L}]+"), t => t =!= "")

  /** Whitespace token count (matches DuckDB
    * `len(regexp_split_to_array(trim(text),'\s+'))`).
    */
  def tokenCount(text: Column): Column = size(split(trim(text), "\\s+"))

  /** GPT-2-style pretokenizer pattern (contractions | space-prefixed
    * letter runs | digit runs | punctuation runs | whitespace),
    * restricted to RE2-compatible syntax — no lookahead — so Java regex
    * (Spark) and RE2 (DuckDB) produce identical matches and the count is
    * oracle-checkable with the SAME pattern string.
    */
  val BpePattern: String = graft.kernel.Bpe.PretokenPattern

  /** BPE-ish pretoken count — the second token-counting mode a training
    * pipeline budgets with (whitespace tokens underestimate subword
    * cost; pretoken runs are the standard proxy).
    */
  def bpeTokenCount(text: Column): Column =
    size(regexp_extract_all(text, lit(BpePattern), lit(0)))

  /** Stopword hit count (with multiplicity) for one language profile. */
  private def hits(toks: Column, words: Seq[String]): Column =
    size(filter(toks, t => array_contains(typedLit(words), t)))

  /** Columnar stopword-profile language-ID. Same decision rule as
    * [[graft.kernel.Lang.detect]]: argmax of hit counts in the fixed order
    * en, fr, de, es (earlier language wins ties); zero evidence → "und".
    */
  def langId(text: Column): Column = {
    val toks = tokens(text)
    val bySet = graft.kernel.Lang.profiles.map { case (l, ws) => l -> hits(toks, ws.toSeq.sorted) }
    val Seq(en, fr, de, es) = bySet.map(_._2)
    when(en === 0 && fr === 0 && de === 0 && es === 0, "und")
      .when(en >= fr && en >= de && en >= es, "en")
      .when(fr >= de && fr >= es, "fr")
      .when(de >= es, "de")
      .otherwise("es")
  }

  /** Stopword ratio: fraction of letter-run tokens that are stopwords of
    * ANY language profile (the union list — language-agnostic, so the
    * ratio is a pure fluency signal usable before language-ID runs).
    * Rounded to 4 dp for FP-safe oracle compares.
    */
  def stopwordRatio(text: Column): Column = {
    val all = graft.kernel.Lang.profiles.flatMap(_._2.toSeq).distinct.sorted
    val toks = tokens(text)
    round(size(filter(toks, t => array_contains(typedLit(all), t))).cast("double") /
      greatest(size(toks), lit(1)).cast("double"), 4)
  }

  /** Punctuation ratio: non-letter/digit/space chars over all chars. */
  def punctRatio(text: Column): Column =
    length(regexp_replace(text, "[\\p{L}\\p{N}\\s]", "")).cast("double") /
      greatest(length(text), lit(1)).cast("double")

  /** Heuristic quality score in [0,1] (documented formula, deterministic):
    * word-count saturation × (1 − punct ratio) × mean-word-length band.
    * Rounded to 4 dp so the DuckDB oracle compare is FP-safe.
    */
  def qualityScore(text: Column): Column = {
    val words = tokenCount(text).cast("double")
    val lenFactor = least(words / lit(100.0), lit(1.0))
    val punct = punctRatio(text)
    val meanWordLen = length(text).cast("double") / greatest(words, lit(1.0))
    val wordLenBand = when(meanWordLen >= 3 && meanWordLen <= 12, lit(1.0)).otherwise(lit(0.5))
    round(lenFactor * (lit(1.0) - punct) * wordLenBand, 4)
  }

  /** Exact content fingerprint: SHA-256 of the whitespace-normalized,
    * lowercased text (the normalize-then-hash idiom of the reference's
    * content-hash memoization, `cache_manager.py:23-25`, applied to text).
    */
  def fingerprint(text: Column): Column =
    sha2(regexp_replace(lower(trim(text)), "\\s+", " "), 256)

  /** CERTIFIED-EXACT distributed top-k heavy hitters over a string
    * column — the corpus-statistics operator ("top 10^3 tokens across
    * 10^12 documents") Spark has no native form of, built as the
    * textbook two-pass sketch-then-verify:
    *
    *  1. one scan computing a per-partition Misra-Gries summary of
    *     `capacity` counters inside `mapPartitions` (amortized O(1) per
    *     token: each decrement round burns `capacity` units of counted
    *     mass, so rounds ≤ n/capacity). Pigeonhole over partitions makes
    *     the UNION of per-partition candidates a superset of every item
    *     with global frequency > N/(capacity+1);
    *  2. one filtered scan counting ONLY the candidates exactly — a
    *     left-semi join against the (broadcast) candidate set, then a
    *     hash aggregate whose shuffle carries candidate rows only.
    *
    * The result is then CERTIFIED: every non-candidate has true
    * frequency ≤ N/(capacity+1), so if the k-th returned count strictly
    * exceeds that bound, no missing item could belong in the top-k and
    * the answer is provably exact (not approximate) — the operator
    * throws otherwise, telling the caller to raise `capacity`. Ties
    * break deterministically (count desc, token asc).
    *
    * 100 TB shape: two scans (the second pre-filtered map-side), no
    * driver collect beyond the k result rows, candidate cardinality
    * bounded by capacity x partitions but deduplicated distributedly.
    */
  /** Broadcast ceiling for [[topKExact]]'s candidate set (distinct
    * tokens): past this the semi-join shuffles instead of broadcasting —
    * ~4M short tokens ≈ low hundreds of MB, the practical autoBroadcast
    * territory; a 1000-executor run with capacity 4096 can legitimately
    * produce more.
    */
  val MaxBroadcastCandidates: Long = 4L << 20

  def topKExact(df: org.apache.spark.sql.DataFrame, tokenCol: String,
                k: Int, capacity: Int = 4096): org.apache.spark.sql.DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    require(k >= 1 && capacity >= math.max(16, 2 * k),
      s"capacity ($capacity) must be >= max(16, 2k)")
    val toks = df.select(col(tokenCol).cast("string")).as[String]
    // pass 1: per-partition Misra-Gries; a null-token marker row carries
    // the partition's row count so N needs no second full scan
    val summary = toks.mapPartitions { it =>
      val counters = new java.util.HashMap[String, Long](capacity * 2)
      var np = 0L
      // nulls are excluded from both the ranking and N — a null is not a
      // token, and the null key doubles as the partition-count marker
      it.foreach { t => if (t != null) {
        np += 1
        // values are never 0 (decremented-to-zero keys are removed), so
        // a 0 from the unboxing of an absent key is unambiguous
        val c = counters.get(t)
        if (c != 0L) counters.put(t, c + 1)
        else if (counters.size < capacity) counters.put(t, 1L)
        else {
          val del = new java.util.ArrayList[String](8)
          val e = counters.entrySet().iterator()
          while (e.hasNext) {
            val kv = e.next()
            if (kv.getValue == 1L) del.add(kv.getKey) else kv.setValue(kv.getValue - 1)
          }
          var i = 0
          while (i < del.size()) { counters.remove(del.get(i)); i += 1 }
        }
      } }
      val out = scala.collection.mutable.ArrayBuffer.empty[(String, Long)]
      val e = counters.entrySet().iterator()
      while (e.hasNext) { val kv = e.next(); out += ((kv.getKey, kv.getValue)) }
      out += ((null, np))
      out.iterator
    }.toDF("token", "cnt").persist()
    // ONE aggregation job over the cached summary yields both N (the
    // null-marker mass) and the candidate cardinality — running them as
    // two actions cost an extra driver barrier per call (r06)
    val (total, nCand) = summary.agg(
        coalesce(sum(when($"token".isNull, $"cnt")), lit(0L)),
        count_distinct($"token"))
      .as[(Long, Long)].head()
    val cand = summary.where($"token".isNotNull).select($"token").distinct()
    // candidate cardinality is bounded by capacity × numPartitions — at
    // thousands of tasks that exceeds broadcast/driver budgets, so the
    // broadcast is GATED on the actual distinct count (cheap: `summary`
    // is persisted) and falls back to a shuffle semi-join above the cap
    val candSide =
      if (nCand <= MaxBroadcastCandidates) broadcast(cand) else cand
    // pass 2: exact counts of candidates only
    val exact = df.select(col(tokenCol).cast("string").as("token"))
      .join(candSide, Seq("token"), "left_semi")
      .groupBy($"token").agg(count(lit(1)).as("cnt"))
      .orderBy($"cnt".desc, $"token".asc)
      .limit(k)
    val rows = exact.as[(String, Long)].collect()
    summary.unpersist()
    val bound = total.toDouble / (capacity + 1)
    // a full top-k certifies when the k-th count beats the sketch bound;
    // a SHORT result (< k rows) certifies only when the bound is below 1
    // - i.e. no token can be missing from the candidate set at all.
    // (Misra-Gries decrement rounds can empty the candidate set on
    // near-uniform data, so "fewer than k candidates" alone proves
    // nothing about the corpus having fewer than k distinct tokens.)
    val certified =
      if (rows.length == k) rows.last._2 > bound
      else bound < 1.0
    require(certified,
      f"top-$k not certifiable: ${rows.length} candidate rows, bound N/(capacity+1) = $bound%.1f" +
        (if (rows.nonEmpty && rows.length == k) f", k-th count ${rows.last._2}" else "") +
        " - raise capacity")
    spark.createDataset(rows.toIndexedSeq).toDF("token", "cnt")
  }

  /** Gopher-style document quality rules (Rae et al. 2021, table A1 —
    * the de-facto standard pre-training text filter), as pure Catalyst
    * column expressions over whitespace words and raw lines: word count
    * bounds, mean word length bounds, symbol-to-word ratio (# and
    * ellipsis), bullet-line and ellipsis-line ratios, fraction of words
    * carrying an alphabetic character, and duplicate-line fraction.
    * Ratios are rounded to 4 dp BEFORE thresholding so the keep flag is
    * FP-stable and the whole operator cross-checks against a DuckDB
    * oracle (q53). Returns the metric columns + `keep`.
    */
  def gopherQuality(text: Column): Seq[Column] = {
    val words = split(trim(text), "\\s+")
    val wordCnt = size(words)
    val lines = split(text, "\\n")
    val lineCnt = size(lines)
    val meanWordLen = round(
      length(regexp_replace(text, "\\s+", "")).cast("double") / wordCnt, 4)
    def occurrences(needle: String): Column =
      (length(text) - length(regexp_replace(text, java.util.regex.Pattern.quote(needle), "")))./(lit(needle.length))
    val symbolRatio = round(
      (occurrences("#") + occurrences("...")).cast("double") / wordCnt, 4)
    val bulletRatio = round(size(filter(lines, l =>
      l.startsWith("- ") || l.startsWith("* ") || l.startsWith("\u2022"))).cast("double") / lineCnt, 4)
    val ellipsisRatio = round(size(filter(lines, l =>
      l.endsWith("...") || l.endsWith("\u2026"))).cast("double") / lineCnt, 4)
    val alphaRatio = round(size(filter(words, w =>
      w.rlike("[A-Za-z]"))).cast("double") / wordCnt, 4)
    val dupLineFrac = round(lit(1.0) -
      size(array_distinct(lines)).cast("double") / lineCnt, 4)
    val keep = wordCnt.geq(50) && wordCnt.leq(100000) &&
      meanWordLen.geq(3.0) && meanWordLen.leq(10.0) &&
      symbolRatio.lt(0.1) && bulletRatio.lt(0.9) &&
      ellipsisRatio.lt(0.3) && alphaRatio.gt(0.8) && dupLineFrac.lt(0.3)
    Seq(wordCnt.as("word_cnt"), meanWordLen.as("mean_word_len"),
      symbolRatio.as("symbol_ratio"), bulletRatio.as("bullet_ratio"),
      ellipsisRatio.as("ellipsis_ratio"), alphaRatio.as("alpha_ratio"),
      dupLineFrac.as("dup_line_frac"), keep.as("keep"))
  }

  /** Sliding-window chunker — training-sequence / RAG-context prep:
    * split each document into `window`-char chunks advancing by
    * `window - overlap` so consecutive chunks share `overlap` chars of
    * context (boundary sentences are never orphaned). Pure Catalyst
    * (sequence → posexplode → substring): codegen'd, zero shuffle, and
    * the chunk count arithmetic is exactly replayable in SQL.
    * A document shorter than one window yields one (possibly short)
    * chunk; the final chunk may be shorter than `window`.
    */
  def chunkWindows(df: org.apache.spark.sql.DataFrame, idCol: String,
                   textCol: String, window: Int,
                   overlap: Int): org.apache.spark.sql.DataFrame = {
    require(window >= 1, s"window must be >= 1, got $window")
    require(overlap >= 0 && overlap < window,
      s"overlap must be in [0, window), got $overlap")
    val stride = window - overlap
    val len = length(col(textCol))
    val nChunks = when(len <= window, lit(1))
      .otherwise(lit(1) + ceil((len - window).cast("double") / stride).cast("int"))
    df.select(col(idCol), col(textCol).as("_t"), nChunks.as("_n"))
      .select(col(idCol),
        posexplode(expr(s"transform(sequence(0, _n - 1), " +
          s"i -> substring(_t, i * $stride + 1, $window))")))
      .select(col(idCol), col("pos").as("chunk_idx"),
        col("col").as("chunk"))
  }

  /** Multi-pattern phrase scan via a broadcast [[graft.kernel.AhoCorasick]]
    * automaton — the badword/license/boilerplate-phrase gate. Per row:
    * total occurrences, distinct patterns hit, and the drop flag.
    * O(text + matches) per document regardless of pattern count —
    * `contains` per pattern would be O(text × patterns), the difference
    * between one scan and thousands at a 10^12-row corpus. Stateless
    * broadcast map, no shuffle, streaming-safe.
    */
  def phraseScan(df: org.apache.spark.sql.DataFrame, idCol: String,
                 textCol: String, patterns: Seq[String],
                 caseInsensitive: Boolean = true): org.apache.spark.sql.DataFrame = {
    val ac = graft.kernel.AhoCorasick.build(patterns, caseInsensitive)
    val bc = df.sparkSession.sparkContext.broadcast(ac)
    val scan = udf { (t: String) =>
      val a = bc.value
      (a.countTotal(t), a.distinctMatches(t))
    }
    df.select(col(idCol), scan(col(textCol)).as("_s"))
      .select(col(idCol), col("_s._1").as("total_hits"),
        col("_s._2").as("patterns_hit"),
        (col("_s._1") > 0L).as("flagged"))
  }
}
