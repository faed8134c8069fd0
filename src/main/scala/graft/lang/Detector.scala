package graft.lang

import scala.collection.mutable.ArrayBuffer

/** Detector configuration (reference: src/detector/builder.rs:17-107).
  * Sizes are 0..4 = uni..five char-grams, 5 = wordgrams.
  */
final case class DetectorConfig(
    languages: Set[Int],
    longTextMinLen: Int,
    shortSizes: Array[Int],
    longSizes: Array[Int]
) extends Serializable {
  def withLanguages(codes: String*): DetectorConfig =
    copy(languages = codes.map(ScriptLang.id).toSet)
  /** Faster, lower accuracy (reference: src/detector/builder.rs:92-106). */
  def maxTrigrams: DetectorConfig =
    copy(shortSizes = Array(0, 1, 2, 5), longSizes = Array(2, 5))

  // builder surface parity (reference: src/detector/builder.rs:63-90):
  // `*_ngrams` REPLACES the size set, `*_ngrams_add` MERGES into it;
  // both keep the set sorted-unique in ordinal order (the merge test at
  // src/ngram_size.rs:60-85), which also preserves the detector's
  // "wordgrams last" iteration invariant.
  def longNgrams(sizes: Int*): DetectorConfig =
    copy(longSizes = DetectorConfig.mergedSizes(Array.emptyIntArray, sizes))
  def shortNgrams(sizes: Int*): DetectorConfig =
    copy(shortSizes = DetectorConfig.mergedSizes(Array.emptyIntArray, sizes))
  def longNgramsAdd(sizes: Int*): DetectorConfig =
    copy(longSizes = DetectorConfig.mergedSizes(longSizes, sizes))
  def shortNgramsAdd(sizes: Int*): DetectorConfig =
    copy(shortSizes = DetectorConfig.mergedSizes(shortSizes, sizes))
}

object DetectorConfig {
  /** sorted-unique merge of n-gram size sets (0..4 = uni..five, 5 = word) */
  def mergedSizes(base: Array[Int], add: Seq[Int]): Array[Int] = {
    add.foreach(s => require(s >= 0 && s <= 5, s"ngram size out of range: $s"))
    (base ++ add).distinct.sorted
  }

  /** Defaults: all languages; short = uni..five+word, long = tri..five+word;
    * 120-char switch (reference: src/detector/mod.rs:51-79,
    * src/detector/builder.rs:24).
    */
  val default: DetectorConfig = DetectorConfig(
    languages = ScriptLang.all.map(_.id).toSet,
    longTextMinLen = 120,
    shortSizes = Array(0, 1, 2, 3, 4, 5),
    longSizes = Array(2, 3, 4, 5)
  )
}

/** Minimal primitive open-addressing Long set for per-size n-gram dedup
  * (reference dedups each size's n-grams across the whole text via a
  * seen-set: src/ngrams.rs:34-43).
  */
private[lang] final class LongSeenSet(initialCap: Int) {
  private var cap = Integer.highestOneBit(math.max(16, initialCap) * 2)
  private var keys = new Array[Long](cap)
  // epoch-tagged slots: clear() bumps the epoch instead of zeroing the
  // array (clearing a grown table once per n-gram size per document was
  // costing more than the probes on short texts)
  private var epochs = new Array[Int](cap)
  private var epoch = 1
  private var n = 0

  @inline private def slotOf(key: Long, m: Int): Int = {
    var h = key
    h = (h ^ (h >>> 30)) * 0xbf58476d1ce4e5b9L
    h = (h ^ (h >>> 27)) * 0x94d049bb133111ebL
    (h ^ (h >>> 31)).toInt & m
  }

  /** returns true if newly added */
  def add(key: Long): Boolean = {
    var i = slotOf(key, cap - 1)
    while (epochs(i) == epoch) {
      if (keys(i) == key) return false
      i = (i + 1) & (cap - 1)
    }
    keys(i) = key
    epochs(i) = epoch
    n += 1
    if (n * 2 > cap) grow()
    true
  }

  def clear(): Unit = {
    n = 0
    if (epoch == Int.MaxValue) {
      java.util.Arrays.fill(epochs, 0)
      epoch = 1
    } else epoch += 1
  }

  private def grow(): Unit = {
    val oldK = keys
    val oldE = epochs
    cap <<= 1
    keys = new Array[Long](cap)
    epochs = new Array[Int](cap)
    n = 0
    var i = 0
    while (i < oldK.length) {
      if (oldE(i) == epoch) {
        val k = oldK(i)
        var j = slotOf(k, cap - 1)
        while (epochs(j) == epoch) j = (j + 1) & (cap - 1)
        keys(j) = k
        epochs(j) = epoch
        n += 1
      }
      i += 1
    }
  }
}

/** The langram-equivalent detector core: a pure, allocation-light Scala
  * function suitable for use inside a Spark typed map over documents.
  * Semantics mirror reference: src/detector/mod.rs:230-452 exactly
  * (prefilter → candidate intersect → length-adaptive n-gram sizes →
  * per-size dedup probe with floor penalties → mean log-prob → sort →
  * raw / or-none / reordered / relative APIs).
  */
/** One ranked result: language ordinal + (log or relative) probability. */
final case class Scored(langId: Int, prob: Double)

object Detector {
  /** Process-wide construction counter. Each Detector carries ~10
    * registry-sized scratch arrays, so construction frequency is a
    * performance invariant worth asserting: the SQL UDF path must build
    * one per thread, not one per row (LangOpsSpec).
    */
  val constructed = new java.util.concurrent.atomic.AtomicLong(0)
}

final class Detector(val model: PackedModel, val config: DetectorConfig) extends Serializable {
  Detector.constructed.incrementAndGet()
  private val nLangs = model.nLangs
  // dense candidate-membership flags for the configured language set
  private val configured: Array[Boolean] = {
    val a = new Array[Boolean](nLangs)
    config.languages.foreach(l => a(l) = true)
    a
  }
  // lookup tables by n-gram size, projected to the configured languages
  private val tables = model.tablesFor(config.languages)

  /** Scratch buffers, one per detector instance. NOT thread-safe: use one
    * Detector per task/partition (cheap; the model itself is shared).
    */
  private val sums = new Array[Double](nLangs)
  private val cnts = new Array[Int](nLangs)
  private val hitStamp = new Array[Int](nLangs) // char-phase hit snapshot
  // candidate set as a bitmask, ANDed against ProbTable's per-slot
  // language masks (see probeNgram)
  private val candMask = new Array[Long]((nLangs + 63) >> 6)
  // one seen-set per char-gram size: the windowing pass walks each start
  // position ONCE, extending one rolling FNV prefix and emitting every
  // enabled size — per-size dedup is preserved by giving each size its
  // own set (same distinct-ngram sets as the reference's per-size pass,
  // src/ngrams.rs:34-43)
  private val seens = Array.fill(5)(new LongSeenSet(256))

  /** Diagnostics from the LAST probabilities call (valid until the next
    * call): distinct n-grams probed and per-language hit counts (used by the
    * pipeline's model-coverage gate), and the token buffer (reused across
    * calls; read it before the next detection).
    */
  private var probedCount = 0
  def lastProbedCount: Int = probedCount
  def lastHitCount(langId: Int): Int = cnts(langId)
  private val tokBuf = new Tokenizer.TokenBuf
  private val prefCounts = new Array[Long](ScriptLang.count)
  private val candBuf = new Array[Int](ScriptLang.count)
  private val maskScratch = new Tokenizer.MaskScratch
  def tokens: Tokenizer.TokenBuf = tokBuf

  /** `probabilities` of the reference (src/detector/mod.rs:230-320):
    * sorted (prob desc, lang ordinal asc); 0.0 for the single-candidate
    * shortcut. Tokens stay available in `tokens` for the reorder formula
    * and the pipeline's quality features — no per-call word allocation.
    */
  def probabilities(text: String): ArrayBuffer[Scored] = {
    detectInPlace(text)
    sortResults()
    val out = new ArrayBuffer[Scored](resN)
    var i = 0
    while (i < resN) { out += Scored(resLangs(i), resProbs(i)); i += 1 }
    out
  }

  /** Allocation-free detection: fills the reused result arrays and returns
    * the ranked count; read via resultLang/resultProb (valid until the
    * next call). The pipeline kernel's entry point.
    */
  def detectInPlace(text: String): Int = {
    probedCount = 0 // reset up-front: early-return paths must not leak stale diagnostics
    resN = 0
    resSorted = true // empty result is trivially sorted
    t1Prob = Double.NaN; t1Lang = -1; t2Prob = Double.NegativeInfinity
    tokBuf.clear()
    // null ≡ empty text: every public entry point routes through here,
    // so one guard keeps a null-text crawl row from NPE-ing any caller
    // (q21's typed map passes text through unchecked)
    if (text == null || text.isEmpty) return 0

    Tokenizer.tokenizeInto(text, tokBuf)
    val nCand0 = Tokenizer.prefilterInto(tokBuf, prefCounts, candBuf, 95, maskScratch)
    // intersect with the configured language set, in place
    var nCand = 0
    var c = 0
    while (c < nCand0) {
      if (configured(candBuf(c))) { candBuf(nCand) = candBuf(c); nCand += 1 }
      c += 1
    }
    if (tokBuf.nWords == 0 || nCand == 0) return 0
    if (nCand == 1) {
      resLangs(0) = candBuf(0); resProbs(0) = 0.0; resN = 1
      t1Lang = candBuf(0); t1Prob = 0.0; t2Prob = Double.NegativeInfinity
      resSorted = true
      return 1
    }

    val charsCount = tokBuf.totalCps
    val sizes =
      if (charsCount < config.longTextMinLen) config.shortSizes else config.longSizes
    val wordgramsEnabled = sizes.nonEmpty && sizes(sizes.length - 1) == 5
    // iterate char sizes up to nSizes (no slice allocation in the kernel)
    val nSizes = if (wordgramsEnabled) sizes.length - 1 else sizes.length

    // Reset accumulators for ALL languages and build the candidate
    // bitmask. The full fill (nLangs doubles + ints) replaced the
    // per-candidate reset when probeNgram went branch-free: the
    // accumulation loop now writes every posting language it streams
    // past, so non-candidate slots must start clean too (their values
    // are never READ — resetting merely keeps them bounded).
    java.util.Arrays.fill(sums, 0.0)
    java.util.Arrays.fill(cnts, 0)
    java.util.Arrays.fill(candMask, 0L)
    var i = 0
    while (i < nCand) {
      val l = candBuf(i)
      candMask(l >> 6) |= (1L << (l & 63))
      i += 1
    }

    // Floor accounting is COUNTED, not per-ngram-looped (reference
    // semantics src/detector/mod.rs:103-138: every hit n-gram adds the
    // per-lang floor to each candidate that did NOT hit it). Equivalent
    // closed form per candidate l: floor(l) × (hitNgrams − ownHits(l)) —
    // one multiply at the end instead of an O(nCand) loop per hit n-gram
    // (which dominated at 100+ registered languages). Floating-point note:
    // the product reorders the reference's interleaved summation, so
    // results are equivalent only up to floating-point reassociation — a
    // razor-thin rank tie could in principle flip vs the reference's
    // ngrams_sum_cnt ordering. Behavioral equivalence is gated by the
    // mock-parity and golden suites, not by a bitwise claim.
    val cps = tokBuf.cps
    var charHitNgrams = 0
    // Prefix-walk windowing: for each start position, extend ONE FNV
    // prefix hash up to the largest enabled window and emit each enabled
    // size along the way — ≤5 hash steps per position instead of
    // Σ(sizes) (15 for the short-text 1..5 set). The (start, len) window
    // set, per-size dedup (own seen-set per size) and per-size
    // accumulation are identical to the size-major pass; only the
    // floating-point ADD ORDER across sizes differs (reassociation-
    // equivalent, same envelope as the closed-form floor accounting).
    var sizeBits = 0
    var s = 0
    while (s < nSizes) {
      sizeBits |= 1 << sizes(s)
      seens(sizes(s)).clear()
      s += 1
    }
    val maxLen = 32 - Integer.numberOfLeadingZeros(sizeBits) // highest size + 1
    var wi = 0
    while (wi < tokBuf.nWords) {
      var start = tokBuf.start(wi)
      val end = tokBuf.end(wi)
      while (start < end) {
        var h = NgramHash.Seed
        val lim = if (end - start < maxLen) end - start else maxLen
        var len = 0
        while (len < lim) {
          h = NgramHash.step(h, cps(start + len))
          if ((sizeBits & (1 << len)) != 0) { // size index == len (window len-1+1)
            val key = if (h == 0L) NgramHash.ZeroRemap else h
            if (seens(len).add(key)) {
              probedCount += 1
              if (probeNgram(tables(len), key)) charHitNgrams += 1
            }
          }
          len += 1
        }
        start += 1
      }
      wi += 1
    }
    // char-phase floors; snapshot char-phase hit counts for the word phase
    i = 0
    while (i < nCand) {
      val l = candBuf(i)
      sums(l) += model.charFloors(l) * (charHitNgrams - cnts(l))
      hitStamp(l) = cnts(l) // reused as the char-phase snapshot
      i += 1
    }

    if (wordgramsEnabled) {
      // whole words, NO dedup (reference: src/detector/mod.rs:290-296)
      var wordHitNgrams = 0
      var wi = 0
      while (wi < tokBuf.nWords) {
        val key = NgramHash.ofWindow(cps, tokBuf.start(wi), tokBuf.len(wi))
        probedCount += 1
        if (probeNgram(tables(5), key)) wordHitNgrams += 1
        wi += 1
      }
      i = 0
      while (i < nCand) {
        val l = candBuf(i)
        sums(l) += model.wordgramFloor * (wordHitNgrams - (cnts(l) - hitStamp(l)))
        i += 1
      }
    }

    // mean log-prob per candidate; cnt==0 → −∞ (src/detector/mod.rs:202-220).
    // Results are left UNSORTED (candidate = ascending ordinal order) and
    // the top-2 of the reference's (prob desc, ordinal asc) order is
    // tracked inline: every public consumer (top-one raw/or-none/
    // reordered, softmax confidence) only needs top-1/top-2 plus linear
    // scans, so the O(n²) insertion sort over ~100+ candidates moved off
    // the hot path into sortResults() for the full-distribution API.
    resN = 0
    resSorted = false
    t1Prob = Double.NaN; t1Lang = -1; t2Prob = Double.NegativeInfinity
    i = 0
    while (i < nCand) {
      val l = candBuf(i)
      val p = if (cnts(l) == 0) Double.NegativeInfinity else sums(l) / cnts(l)
      resLangs(resN) = l
      resProbs(resN) = p
      // ascending-ordinal scan ⇒ strict > replicates the ordinal-asc
      // tiebreak of the reference sort (first seen among ties wins)
      if (resN == 0) { t1Prob = p; t1Lang = l }
      else if (java.lang.Double.compare(p, t1Prob) > 0) {
        t2Prob = t1Prob; t1Prob = p; t1Lang = l
      } else if (java.lang.Double.compare(p, t2Prob) > 0) {
        t2Prob = p
      }
      resN += 1
      i += 1
    }
    resN
  }

  /** Sort the in-place result like the reference (prob desc via total_cmp,
    * ordinal asc tiebreak — src/detector/mod.rs:310,455-464). Off the hot
    * path: top-one and confidence consumers work on the unsorted arrays.
    */
  def sortResults(): Unit = {
    if (resSorted) return
    var i = 1
    while (i < resN) {
      val pl = resLangs(i)
      val pp = resProbs(i)
      var j = i - 1
      while (j >= 0 && {
        val cc = java.lang.Double.compare(resProbs(j), pp)
        cc < 0 || (cc == 0 && resLangs(j) > pl)
      }) {
        resLangs(j + 1) = resLangs(j); resProbs(j + 1) = resProbs(j); j -= 1
      }
      resLangs(j + 1) = pl; resProbs(j + 1) = pp
      i += 1
    }
    resSorted = true
  }

  /** In-place result of the LAST detection: language ids / log probs in
    * reused arrays (valid until the next call). UNSORTED unless
    * sortResults() has been called; the (prob desc, ordinal asc) top
    * entry is always available via topLang/topProb.
    */
  private val resLangs = new Array[Int](ScriptLang.count)
  private val resProbs = new Array[Double](ScriptLang.count)
  private var resN = 0
  private var resSorted = false
  private var t1Prob = Double.NaN
  private var t1Lang = -1
  private var t2Prob = Double.NegativeInfinity
  def resultCount: Int = resN
  def resultLang(i: Int): Int = resLangs(i)
  def resultProb(i: Int): Double = resProbs(i)
  /** top-1 of the reference result order (valid when resultCount > 0) */
  def topLang: Int = t1Lang
  def topProb: Double = t1Prob
  /** second-ranked log prob (−∞ when resultCount < 2) */
  def secondProb: Double = t2Prob

  /** Popularity reorder pick over the in-place result (reference:
    * src/detector/mod.rs:383-431): among langs with p ≥ p1 − d, minimum
    * ordinal wins. One linear scan over the unsorted result.
    */
  def reorderPickInPlace(d: Double): Int = {
    val reorderProb = t1Prob - d
    var best = t1Lang
    var i = 0
    while (i < resN) {
      if (resLangs(i) < best && resProbs(i) >= reorderProb) best = resLangs(i)
      i += 1
    }
    best
  }

  /** Probe one n-gram and accumulate (reference `ngrams_sum_cnt`,
    * src/detector/mod.rs:103-138): candidates present in the postings get
    * (prob, +1). Returns true iff at least one candidate hit — the caller
    * counts hit n-grams and settles the miss-floor contribution in closed
    * form per phase (see detectInPlace).
    *
    * The "does any candidate appear here" gate is ONE bitmask AND per
    * mask word (ProbTable.anyLangIn) instead of a per-entry candidate
    * check, and the accumulation loop is branch-free: it streams EVERY
    * posting entry into sums/cnts. The tables are projected to the
    * configured languages (PackedModel.tablesFor), so only configured
    * languages are streamed. Non-candidate slots take writes that
    * are never read (they are re-zeroed each call) — n-grams are
    * script-bound, so postings are dominated by same-script languages
    * that ARE candidates for typical text; trading those few wasted adds
    * for the removal of a data-dependent branch per posting entry is
    * what the JFR profile asked for (accumulation was ~35% of detect).
    * Observable state (candidate sums/cnts, hit gate) is IDENTICAL to
    * the per-entry-branch form: a candidate's cnt only ever counts
    * posting lists it appears in, and lists with no candidate at all
    * are skipped before accumulating, exactly like the reference's
    * zero-candidate-hit skip.
    */
  @inline private def probeNgram(table: ProbTable, key: Long): Boolean = {
    val slot = table.find(key)
    if (slot < 0) return false
    val len = table.lens(slot)
    if (len == 0) return false
    if (!table.anyLangIn(slot, candMask)) return false
    val st = table.starts(slot)
    var j = 0
    while (j < len) {
      val lang = table.postLangs(st + j).toInt
      sums(lang) += table.postProbs(st + j).toDouble
      cnts(lang) += 1
      j += 1
    }
    true
  }

  /** Softmax with the reference's special cases
    * (src/detector/mod.rs:467-510): top==0.0 → keep only the zeros, uniform;
    * top==−∞ → uniform; exp-sum==0 → singleton 1.0.
    */
  def probabilitiesRelative(text: String): ArrayBuffer[Scored] =
    relativize(probabilities(text))

  private def relativize(probs: ArrayBuffer[Scored]): ArrayBuffer[Scored] = {
    if (probs.isEmpty) return probs
    val first = probs(0).prob
    var kept = probs
    if (first == 0.0) {
      val zeros = kept.indexWhere(_.prob != 0.0) match {
        case -1 => kept.length
        case i  => i
      }
      kept = kept.take(zeros)
    }
    if (first == 0.0 || first == Double.NegativeInfinity) {
      val u = 1.0 / kept.length
      return kept.map(s => Scored(s.langId, u))
    }
    var denom = 0.0
    val exped = kept.map { s =>
      val e = math.exp(s.prob)
      denom += e
      Scored(s.langId, e)
    }
    if (denom == 0.0) {
      return ArrayBuffer(Scored(exped(0).langId, 1.0))
    }
    exped.map(s => Scored(s.langId, s.prob / denom))
  }

  /** Top-1 with min-distance gate (reference: src/detector/mod.rs:351-374).
    * Allocation-free: works off the tracked top-2 of the in-place result.
    */
  def detectTopOneOrNone(text: String, minimumDistance: Double): Option[Int] = {
    val n = detectInPlace(text)
    if (n == 0) return None
    if (n == 1) return Some(t1Lang)
    val diff = t1Prob - t2Prob
    // 2.220446049250313e-16 == f64::EPSILON (reference: src/detector/mod.rs:366-369)
    if (diff.isNaN || diff < 2.220446049250313e-16 || diff < minimumDistance) None
    else Some(t1Lang)
  }

  /** Default reorder distance `1.35 / (utf8_bytes + n_words³ − 1)` over the
    * LAST call's tokens (reference: src/detector/mod.rs:422-429).
    */
  def defaultReorderDistance: Double = {
    val bytes = tokBuf.utf8Bytes
    val nw = tokBuf.nWords.toLong
    val denom = bytes + nw * nw * nw - 1
    if (denom <= 0) 0.0 else 1.35 / denom.toDouble
  }

  /** Popularity reorder among near-ties (reference:
    * src/detector/mod.rs:383-431): keep langs with p ≥ p1 − d, pick the
    * minimum ordinal (= most popular). `probs` must come from the latest
    * `probabilities` call.
    */
  def reorderPick(probs: ArrayBuffer[Scored], d: Double): Int = {
    val reorderProb = probs(0).prob - d
    var lim = probs.indexWhere(_.prob < reorderProb)
    if (lim == -1) lim = probs.length
    var best = probs(0).langId
    var i = 1
    while (i < lim) {
      if (probs(i).langId < best) best = probs(i).langId
      i += 1
    }
    best
  }

  def detectTopOneReordered(text: String): Option[Int] = {
    val n = detectInPlace(text)
    if (n == 0) None else Some(reorderPickInPlace(defaultReorderDistance))
  }

  def detectTopOneRaw(text: String): Option[Int] = {
    val n = detectInPlace(text)
    if (n == 0) None else Some(reorderPickInPlace(0.0))
  }

  /** Softmax relative probability of `lang` over the LAST detectInPlace
    * result — `relativize` without the buffer allocation, same special
    * cases (src/detector/mod.rs:467-510). Shared by detectWithConfidence
    * and the pipeline kernel so the edge cases cannot drift apart.
    */
  def confidenceOfInPlace(lang: Int): Double = {
    if (resN == 0) return 0.0
    val first = t1Prob
    if (first == 0.0) {
      // only the zero-prob langs survive relativization, uniformly
      // (order-free: count all zero-prob entries in the unsorted result)
      var zeros = 0
      var pickIsZero = false
      var i = 0
      while (i < resN) {
        if (resProbs(i) == 0.0) {
          if (resLangs(i) == lang) pickIsZero = true
          zeros += 1
        }
        i += 1
      }
      if (pickIsZero) 1.0 / zeros else 0.0
    } else if (first == Double.NegativeInfinity) {
      1.0 / resN
    } else {
      var denom = 0.0
      var p = first
      var i = 0
      while (i < resN) {
        val pi = resProbs(i)
        denom += math.exp(pi)
        if (resLangs(i) == lang) p = pi
        i += 1
      }
      if (denom == 0.0) { if (lang == t1Lang) 1.0 else 0.0 }
      else math.exp(p) / denom
    }
  }

  /** (langCode, top-1 relative confidence) convenience for pipeline columns.
    * Single allocation-free detection pass: reordered pick + its softmax
    * relative prob.
    */
  def detectWithConfidence(text: String): (String, Double) = {
    val n = detectInPlace(text)
    if (n == 0) return ("und", 0.0)
    val best = reorderPickInPlace(defaultReorderDistance)
    (ScriptLang.code(best), confidenceOfInPlace(best))
  }
}
