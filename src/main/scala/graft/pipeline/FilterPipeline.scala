package graft.pipeline

import graft.lang.{Detector, DetectorConfig, PackedModel, ScriptLang}
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The web-scale quality-filter pipeline (BASELINE.json north_star):
  * Common-Crawl-style pages → host-scoped exact-dup rule (first copy by
  * (warc_ts, url) wins, a `row_number` window over the content key) →
  * language-ID (broadcast langram-equivalent model inside ONE fused typed
  * partition map, which also computes the perplexity proxy, OOV coverage,
  * heuristic quality features, and the PII/toxicity scrub) → keep/drop
  * gate.
  *
  * Scale choices (SURVEY.md §4):
  *  - `html` is never read on this path (column pruning reaches the scan;
  *    asserted in PlanSpec);
  *  - the model is a broadcast variable, not a join;
  *  - ONE wide exchange total, keyed by (xxhash64(host), xxhash64(text)):
  *    the content hash spreads a Zipf-hot host uniformly (skew defense —
  *    see also `saltedRepartition`) while co-locating exact duplicates
  *    for the dedup window; the fused kernel runs downstream shuffle-free;
  *  - the only sort is the dedup window's per-reduce-partition sort on
  *    two longs + (ts, url) — a measured tie against the sort-free
  *    min-aggregate + join variant, kept for one-scan exactness (see
  *    `run`'s scaladoc for the measured alternatives);
  *  - duplicates skip the detection kernel entirely.
  */
object FilterPipeline {

  /** Deterministic extraction inverse of PagesGen.wrapHtml. The per-row
    * invariant "byte-identical extracted text per url" is tested against
    * the `text` column (input_hint).
    */
  def extractText(html: Array[Byte]): String = {
    val s = new String(html, "UTF-8")
    val start = s.indexOf("<p>")
    val end = s.lastIndexOf("</p>")
    if (start < 0 || end < 0 || end < start) "" else s.substring(start + 3, end)
  }

  final case class Gates(
      minConfidence: Double = 0.5,
      maxPerplexity: Double = 1e4,
      minWords: Int = 20,
      maxRepetitionRatio: Double = 0.3,
      /** fraction of probed n-grams that hit the model for the detected
        * language — the OOV/perplexity-style gate that catches gibberish
        * whose n-grams are simply absent from every model (absent n-grams
        * carry no floor penalty, reference: src/detector/mod.rs:110-113).
        */
      minCoverage: Double = 0.2
  )

  private val toxicWords = Array("idiot", "stupid", "moron", "scum")
  val toxicityRe: String = toxicWords.mkString("\\b(", "|", ")\\b")

  // Precompiled once per JVM: compiling per document was the dominant cost
  // of the scrub stage (java.util.regex.Pattern.compile per call).
  @transient private lazy val emailP = java.util.regex.Pattern.compile(graft.operators.TextOps.emailRe)
  @transient private lazy val ipP = java.util.regex.Pattern.compile(graft.operators.TextOps.ipRe)
  @transient private lazy val phoneP = java.util.regex.Pattern.compile(graft.operators.TextOps.phoneRe)
  @transient private lazy val toxP = java.util.regex.Pattern.compile(toxicityRe)

  def scrub(text: String): String = {
    // Each pass runs the regex only when its trigger is present, and starts
    // it at the first index where a match can start (see replaceFrom).
    var out = text
    // an email match is a [A-Za-z0-9._%+-] run, then '@': none can start
    // before the run that ends at the first '@'
    var from = out.indexOf('@')
    if (from >= 0) {
      while (from > 0 && isEmailLocal(out.charAt(from - 1))) from -= 1
      out = replaceFrom(emailP, out, from, "<EMAIL>")
    }
    // an IP match starts with a digit, a phone match with a digit or '+'
    from = firstDigit(out, orPlus = false)
    if (from >= 0) {
      out = replaceFrom(ipP, out, from, "<IP>")
      from = firstDigit(out, orPlus = true)
      if (from >= 0) out = replaceFrom(phoneP, out, from, "<PHONE>")
    }
    // toxicity: indexOf of the four literals is JIT-intrinsified and finds
    // every \b-bounded match's start, so the smallest hit is where the
    // regex starts (none: skip it)
    from = Int.MaxValue
    var w = 0
    while (w < toxicWords.length) {
      val i = out.indexOf(toxicWords(w))
      if (i >= 0 && i < from) from = i
      w += 1
    }
    if (from < Int.MaxValue) replaceFrom(toxP, out, from, "<TOX>") else out
  }

  private def isEmailLocal(c: Char): Boolean =
    (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z') || (c >= '0' && c <= '9') ||
      c == '.' || c == '_' || c == '%' || c == '+' || c == '-'

  /** index of the first ASCII digit (or '+', with `orPlus`) in `s`, or -1 */
  private def firstDigit(s: String, orPlus: Boolean): Int = {
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if ((c >= '0' && c <= '9') || (orPlus && c == '+')) return i
      i += 1
    }
    -1
  }

  /** `p.matcher(s).replaceAll(rep)` for a `p` that has no match starting
    * before `from`. `find(from)` resets the region to the whole input, so
    * `\b` still sees the character before `from`.
    */
  private def replaceFrom(p: java.util.regex.Pattern, s: String, from: Int, rep: String): String = {
    val m = p.matcher(s)
    var found = m.find(from)
    if (!found) return s
    val sb = new java.lang.StringBuilder(s.length)
    while (found) {
      m.appendReplacement(sb, rep)
      found = m.find()
    }
    m.appendTail(sb).toString
  }

  /** Per-document result of the fused map. */
  final case class DocResult(
      url: String, warc_ts: java.sql.Timestamp, host: String,
      lang: String, confidence: Double, perplexity: Double, coverage: Double,
      word_count: Int, repetition_ratio: Double, avg_word_len: Double,
      stopword_ratio: Double, n_lines: Int, max_line_len: Int,
      text_hash: Long, scrubbed_text: String)

  /** Primitive open-addressing Long→count map, reused across a partition —
    * word-frequency without boxing. Epoch-tagged slots: clear() bumps the
    * epoch instead of zeroing the (possibly grown) table per document.
    */
  private final class LongIntCounter(initialCap: Int) {
    private var cap = Integer.highestOneBit(math.max(16, initialCap) * 2)
    private var keys = new Array[Long](cap)
    private var vals = new Array[Int](cap)
    private var epochs = new Array[Int](cap)
    private var epoch = 1
    private var n = 0
    def clear(): Unit = {
      n = 0
      if (epoch == Int.MaxValue) { java.util.Arrays.fill(epochs, 0); epoch = 1 }
      else epoch += 1
    }
    def increment(key: Long): Int = {
      var h = key
      h = (h ^ (h >>> 30)) * 0xbf58476d1ce4e5b9L
      h = (h ^ (h >>> 27)) * 0x94d049bb133111ebL
      var i = (h ^ (h >>> 31)).toInt & (cap - 1)
      while (epochs(i) == epoch && keys(i) != key) i = (i + 1) & (cap - 1)
      if (epochs(i) != epoch) {
        keys(i) = key; vals(i) = 0; epochs(i) = epoch; n += 1
        if (n * 2 > cap) { grow(); return increment(key) }
      }
      vals(i) += 1
      vals(i)
    }
    private def grow(): Unit = {
      val ok = keys; val ov = vals; val oe = epochs
      cap <<= 1
      keys = new Array[Long](cap); vals = new Array[Int](cap); epochs = new Array[Int](cap)
      n = 0
      var i = 0
      while (i < ok.length) {
        if (oe(i) == epoch) {
          var h = ok(i)
          h = (h ^ (h >>> 30)) * 0xbf58476d1ce4e5b9L
          h = (h ^ (h >>> 27)) * 0x94d049bb133111ebL
          var j = (h ^ (h >>> 31)).toInt & (cap - 1)
          while (epochs(j) == epoch) j = (j + 1) & (cap - 1)
          keys(j) = ok(i); vals(j) = ov(i); epochs(j) = epoch; n += 1
        }
        i += 1
      }
    }
  }

  /** The Detector configuration of the pipeline: default sizes over the
    * generator's languages.
    */
  def detectorConfig: DetectorConfig =
    DetectorConfig.default.copy(languages = PagesGen.pipelineLangs.map(ScriptLang.id).toSet)

  /** Host of a url: the text after the first `://` (the whole url if it
    * has none), up to the first `/`. The pipeline's one host rule —
    * `hostCol` states it in SQL for the batch dedup key, and the
    * streaming dedup keys on `DocResult.host`.
    */
  def hostOf(url: String): String = {
    val p = url.indexOf("://")
    val from = if (p < 0) 0 else p + 3
    val end = url.indexOf('/', from)
    url.substring(from, if (end < 0) url.length else end)
  }

  /** `hostOf` over a url column, in codegen'd builtins; null ≡ empty url. */
  def hostCol(url: Column): Column = {
    val u = coalesce(url, lit(""))
    val p = instr(u, "://")
    substring_index(u.substr(when(p > 0, p + 3).otherwise(1), lit(Int.MaxValue)), "/", 1)
  }

  /** The fused per-document kernel: ONE pass computes language + confidence
    * + perplexity proxy (exp(−mean log-prob) of the top candidate —
    * the langram score IS an n-gram LM) + quality features + scrub.
    * One Kernel per partition: the Detector's scratch buffers and the word
    * counter are reused across its rows.
    */
  final class Kernel(model: PackedModel, config: DetectorConfig) {
    private val det = new Detector(model, config)
    private val wordFreq = new LongIntCounter(512)

    /** One row. A duplicate (`isDup`) skips detection, features and scrub:
      * at crawl scale dups are a third of the corpus, and their winner
      * carries the processed copy.
      */
    def apply(url: String, ts: java.sql.Timestamp, text0: String, isDup: Boolean): DocResult = {
      // null ≡ empty page: the detector guards null itself, but the
      // line-length loop and scrub below index the string directly
      val text = if (text0 == null) "" else text0
      // null url ≡ empty url (same convention): the host parse below
      // indexes it directly, and the STREAMING dedup sorts group rows by
      // (ts, url) — a null url in DocResult would NPE that comparator on
      // the first tied timestamp (crawls contain both)
      val u = if (url == null) "" else url
      val host = hostOf(u)
      if (isDup)
        return DocResult(u, ts, host, "und", 0.0, Double.MaxValue, 0.0,
          0, 1.0, 0.0, 0.0, 0, 0, graft.lang.NgramHash.ofString(text), "")

      val nRanked = det.detectInPlace(text) // allocation-free result arrays
      val toks = det.tokens // valid until the next detection call
      // language + confidence: reordered pick + softmax relative probability
      var lang = "und"
      var conf = 0.0
      var perplexity = Double.MaxValue
      var coverage = 0.0
      if (nRanked > 0) {
        val best = det.reorderPickInPlace(det.defaultReorderDistance)
        lang = ScriptLang.code(best)
        // softmax relative prob (Detector owns the relativize edge cases)
        conf = det.confidenceOfInPlace(best)
        val first = det.topProb // results are unsorted; topProb is rank-1
        perplexity =
          if (first == Double.NegativeInfinity) Double.MaxValue
          else math.exp(-first)
        coverage =
          if (det.lastProbedCount == 0) {
            // no model probes at all: single-candidate shortcut (full trust)
            // distinguishable from "no words survived" by first == 0.0
            if (first == 0.0) 1.0 else 0.0
          } else det.lastHitCount(best).toDouble / det.lastProbedCount
      }

      // quality features over the shared token buffer (one tokenize pass,
      // zero word allocation); word frequency counted on 64-bit word hashes
      val wc = toks.nWords
      val charSum = toks.totalCps.toLong
      wordFreq.clear()
      var maxFreq = 0
      var stop = 0
      val lid = if (lang == "und") -1 else ScriptLang.id(lang)
      val hasStops = lid >= 0 && lid < model.stopwordHashes.length &&
        model.stopwordHashes(lid).nonEmpty
      var i = 0
      while (i < wc) {
        val h = graft.lang.NgramHash.ofWindow(toks.cps, toks.start(i), toks.len(i))
        val c = wordFreq.increment(h)
        if (c > maxFreq) maxFreq = c
        if (hasStops && model.isStopword(lid, h)) stop += 1
        i += 1
      }
      val repRatio = if (wc == 0) 1.0 else maxFreq.toDouble / wc
      val avgLen = if (wc == 0) 0.0 else charSum.toDouble / wc
      // stopword density: fraction of words in the detected language's
      // model-derived stopword set (wordgram freq >= 1%)
      val stopwordRatio = if (hasStops && wc > 0) stop.toDouble / wc else 0.0

      // line-length stats (north_star heuristic rule family)
      var nLines = 1
      var maxLine = 0
      var lineStart = 0
      i = 0
      while (i <= text.length) {
        if (i == text.length || text.charAt(i) == '\n') {
          val len = i - lineStart
          if (len > maxLine) maxLine = len
          if (i < text.length) { nLines += 1; lineStart = i + 1 }
        }
        i += 1
      }

      DocResult(
        u, ts, host, lang, conf, perplexity, coverage, wc, repRatio, avgLen,
        stopwordRatio, nLines, maxLine,
        graft.lang.NgramHash.ofString(text),
        scrub(text)) // PII + toxicity scrub (north_star regex scrubber)
    }
  }

  /** The kernel over a partition of non-duplicate rows. */
  def processPartition(
      model: PackedModel,
      config: DetectorConfig,
      it: Iterator[(String, java.sql.Timestamp, String)]
  ): Iterator[DocResult] = {
    val k = new Kernel(model, config)
    it.map { case (url, ts, text) => k(url, ts, text, isDup = false) }
  }

  /** Skew-defeating repartition on hash(url, salt) — for inputs whose file
    * layout correlates with host/domain and whose pipeline variant does not
    * already shuffle on a content key. The default `run` plan needs no
    * separate salting stage: its single exchange keys on
    * (host, xxhash64(text)), so a hot host's pages spread uniformly by
    * content hash.
    */
  def saltedRepartition(df: DataFrame, partitions: Int, salt: Int = 0x5eed): DataFrame =
    df.repartition(partitions, hash(col("url"), lit(salt)))

  /** Run the pipeline over a pages DataFrame. Output adds `keep` and
    * `drop_reason`.
    *
    * ONE scan, ONE exchange: the host-scoped exact-dup rule ("first copy
    * by (warc_ts, url) survives") runs FIRST, on the raw
    * (url, warc_ts, text) rows, keyed by (xxhash64(host), xxhash64(text))
    * — that partitioning is simultaneously the skew defense (a Zipf-hot
    * host's pages spread uniformly by content hash; see
    * `saltedRepartition` for the standalone variant) and the dedup
    * co-location. The fused detection kernel runs downstream with no
    * further shuffle, and SKIPS duplicate rows entirely.
    *
    * Plan-shape notes from measured alternatives (BENCH.md):
    *  - row_number window vs min-aggregate + shuffled-hash join: the
    *    aggregate variant was built and measured — `min(struct(ts, url))`
    *    plans as SortAggregate (struct buffers are not hash-aggregable),
    *    a packed numeric ordinal stays in HashAggregate but needs a
    *    second scan (or second shuffle read) for the probe side and an
    *    inexact 20-bit url tiebreak. At equal measured cost (~1 s at
    *    1.2M docs, both variants) the window wins: one scan, exact
    *    (warc_ts, url) semantics, and its per-partition sort keys are two
    *    longs (radix-friendly). At 100 TB the sort is bounded per reduce
    *    partition (size the shuffle so partitions fit memory).
    *  - The REAL round-1 scaling killer was AQE partition coalescing
    *    folding the CPU-bound kernel stage to ~19 tasks (64 MB advisory
    *    target) regardless of width — callers must size
    *    spark.sql.shuffle.partitions to cluster width and disable
    *    spark.sql.adaptive.coalescePartitions (see BenchPipelineRun).
    *  - The earlier two-exchange shape (salted repartition → kernel →
    *    window over the WIDE kernel output) shuffled the scrubbed text a
    *    second time and capped scaling at ~0.5.
    */
  def run(
      spark: SparkSession,
      pages: DataFrame,
      model: Broadcast[PackedModel],
      gates: Gates = Gates()
  ): DataFrame = {
    import spark.implicits._

    val config = detectorConfig

    // group keys are 64-bit hashes of (host, text): grouping equality
    // within 64-bit collision bounds; the shuffle and the join probe run
    // on two longs, never on host/text strings
    val keyed = pages
      .select($"url", $"warc_ts", $"text")
      .withColumn("w_host", xxhash64(hostCol($"url")))
      .withColumn("w_hash", xxhash64($"text"))

    // cross-row rule: first (by warc_ts, url) copy per (host, content) wins
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"w_host", $"w_hash").orderBy($"warc_ts", $"url")
    val flagged = keyed
      .withColumn("is_dup", row_number().over(w) > 1)
      .select($"url", $"warc_ts", $"text", $"is_dup")

    val mapped = flagged
      .as[(String, java.sql.Timestamp, String, Boolean)]
      .mapPartitions { it =>
        val k = new Kernel(model.value, config)
        it.map { case (url, ts, text, isDup) => (k(url, ts, text, isDup), isDup) }
      }
      .toDF("doc", "is_dup")
      .select($"doc.*", $"is_dup")

    mapped
      .withColumn(
        "drop_reason",
        when($"is_dup", "dup")
          .when($"word_count" < gates.minWords, "too_short")
          .when($"repetition_ratio" > gates.maxRepetitionRatio, "repetition")
          .when($"confidence" < gates.minConfidence, "low_confidence")
          .when($"coverage" < gates.minCoverage, "low_coverage")
          .when($"perplexity" > gates.maxPerplexity, "high_perplexity")
          .otherwise(lit(null).cast("string"))
      )
      .withColumn("keep", $"drop_reason".isNull)
      // is_dup stays in the output: it is per-partition lineage (dup counts
      // by source partition) and lets the q28 gate-logic oracle recompute
      // drop_reason/keep from the row itself
  }

  /** Convenience: pipeline over a freshly generated corpus with the fixture
    * model — used by SparkEntry and the bench.
    */
  def runGenerated(spark: SparkSession, n: Int): DataFrame = {
    val bc = graft.operators.LangOps.broadcastModel(spark)
    run(spark, PagesGen.pagesDf(spark, n), bc)
  }
}
