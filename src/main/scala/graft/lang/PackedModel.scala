package graft.lang

import scala.collection.mutable

/** N-gram hashing: 64-bit FNV-1a over code points.
  *
  * The reference stores n-grams as stack strings and probes FxHash maps
  * (reference: src/ngrams.rs:6, src/bin_storage.rs:7). We never materialize
  * n-gram strings at all: both the trainer and the detector hash the code
  * point window to a fixed, versioned 64-bit key ("n-gram hashing and
  * log-probability summation fused into one map", SURVEY.md §4). Collisions
  * are checked at model-build time.
  */
object NgramHash {
  final val Seed: Long = 0xcbf29ce484222325L
  final val Prime: Long = 0x100000001b3L
  /** open-addressing empty sentinel remap: a real hash of 0 becomes this */
  final val ZeroRemap: Long = 0x9e3779b97f4a7c15L

  @inline def step(h: Long, cp: Int): Long = {
    var x = h
    x = (x ^ (cp & 0xff)) * Prime
    x = (x ^ ((cp >>> 8) & 0xff)) * Prime
    x = (x ^ ((cp >>> 16) & 0xff)) * Prime
    x
  }

  def ofWindow(cps: Array[Int], start: Int, len: Int): Long = {
    var h = Seed
    var i = 0
    while (i < len) { h = step(h, cps(start + i)); i += 1 }
    if (h == 0L) ZeroRemap else h
  }

  def ofString(s: String): Long = {
    var h = Seed
    var i = 0
    while (i < s.length) {
      val cp = s.codePointAt(i)
      h = step(h, cp)
      i += Character.charCount(cp)
    }
    if (h == 0L) ZeroRemap else h
  }
}

/** One n-gram-size lookup table: open-addressing Long→postings-slice map.
  *
  * Postings are (langId, ln-prob) pairs sorted by langId, flattened into
  * primitive arrays — the Spark-side analog of the reference's
  * `HashMap<String, Vec<(u16, f64)>>` sorted by language
  * (reference: src/bin_storage.rs:7, 88-98). Probabilities are stored as
  * Float (BASELINE.json north_star: `Map[Long, Float]`) and accumulated in
  * Double.
  */
final class ProbTable private (
    val keys: Array[Long],      // 0 = empty slot (real 0-hash remapped)
    val starts: Array[Int],
    val lens: Array[Int],
    val postLangs: Array[Short],
    val postProbs: Array[Float]
) extends Serializable {
  private val mask = keys.length - 1

  /** Mask words needed to cover every language id present in postings
    * (0 for an empty table). Kept table-local so a table stays
    * self-describing: the detector ANDs only the overlap with its own
    * candidate mask — a candidate id beyond this width cannot appear in
    * this table's postings and is correctly ignored.
    */
  val maskWords: Int = {
    var maxLang = -1
    var i = 0
    while (i < postLangs.length) {
      if (postLangs(i) > maxLang) maxLang = postLangs(i).toInt
      i += 1
    }
    (maxLang + 64) >> 6
  }

  /** Per-slot language bitmask: the OR of (1 << langId) over the slot's
    * postings, `maskWords` longs per slot. One AND against the caller's
    * candidate mask decides "does ANY candidate appear in this posting
    * list" in O(maskWords) instead of a per-entry branch over the list —
    * and lets the accumulation loop run branch-free (see
    * Detector.probeNgram). Memory: cap × maskWords × 8 B ≈ 2.4× the key
    * array at 346 registered languages — accepted; it scales linearly
    * with the broadcast model it accompanies.
    */
  private val langMasks: Array[Long] = {
    val lm = new Array[Long](keys.length * maskWords)
    var i = 0
    while (i < keys.length) {
      val len = lens(i)
      if (keys(i) != 0L && len > 0) {
        val st = starts(i)
        val base = i * maskWords
        var j = 0
        while (j < len) {
          val l = postLangs(st + j).toInt
          lm(base + (l >> 6)) |= (1L << (l & 63))
          j += 1
        }
      }
      i += 1
    }
    lm
  }

  /** True iff any language in `cand` (a ≥`maskWords`-wide bitmask — extra
    * words are ignored, see maskWords scaladoc) appears in slot's postings.
    */
  @inline def anyLangIn(slot: Int, cand: Array[Long]): Boolean = {
    val mw = maskWords
    val base = slot * mw
    val lim = if (cand.length < mw) cand.length else mw
    var w = 0
    while (w < lim) {
      if ((langMasks(base + w) & cand(w)) != 0L) return true
      w += 1
    }
    false
  }

  /** Home-slot bitmap: bit `slot(key)` is set for every stored key. A
    * clear bit PROVES absence (a stored key always sets its own home
    * slot, wherever displacement lands it), so the dominant case on real
    * text — n-grams absent from every model — resolves with one load in
    * a structure 64× denser than the key array (cap bits vs cap longs).
    * At fixture scale (~1.4 MB total tables) this is ~neutral — the
    * tables are cache-resident either way; it is sized for REAL model
    * scale (188-language OpenLID-class models, GBs of postings), where
    * the key arrays cannot stay in cache and every miss otherwise costs
    * a main-memory probe chain.
    */
  private val homeBits: Array[Long] = {
    val b = new Array[Long]((keys.length >> 6) max 1)
    var i = 0
    while (i < keys.length) {
      if (keys(i) != 0L) {
        val s = slot(keys(i))
        b(s >> 6) |= (1L << (s & 63))
      }
      i += 1
    }
    b
  }

  @inline private def slot(key: Long): Int = {
    // Stafford mix13 finalizer spreads FNV output over table slots
    var h = key
    h = (h ^ (h >>> 30)) * 0xbf58476d1ce4e5b9L
    h = (h ^ (h >>> 27)) * 0x94d049bb133111ebL
    (h ^ (h >>> 31)).toInt & mask
  }

  /** index of key's slot or -1 */
  @inline def find(key: Long): Int = {
    val s = slot(key)
    if (((homeBits(s >> 6) >>> (s & 63)) & 1L) == 0L) return -1
    var i = s
    var k = keys(i)
    while (k != 0L) {
      if (k == key) return i
      i = (i + 1) & mask
      k = keys(i)
    }
    -1
  }

  def size: Int = lens.count(_ > 0)

  /** This table restricted to the languages flagged in `keep`: each key
    * keeps only its kept postings, in the same langId order, and a key
    * left with none is dropped. Returns `this` when every posting is kept.
    */
  def projected(keep: Array[Boolean]): ProbTable = {
    val kept = keys.indices.filter(keys(_) != 0L)
      .map(i => keys(i) -> (starts(i) until starts(i) + lens(i)).filter(j => keep(postLangs(j))))
      .filter(_._2.nonEmpty)
    val nPost = kept.map(_._2.length).sum
    if (nPost == postLangs.length) return this
    val b = new ProbTable.Builder(kept.length, nPost)
    kept.foreach { case (key, js) =>
      b.add(key, js.map(postLangs(_).toInt).toArray, js.map(postProbs(_).toDouble).toArray)
    }
    b.result()
  }
}

object ProbTable {
  val empty: ProbTable = build(Map.empty)

  /** Incremental builder with pre-sized arrays: the streaming model-pack
    * path (ModelIO.packDistributed) feeds (key, langId-sorted postings)
    * entries one at a time from a toLocalIterator, so the driver never
    * holds more than the FINAL table arrays (which are the broadcast
    * payload itself) plus one entry.
    */
  final class Builder(nKeys: Int, nPostings: Int) {
    private var cap = 16
    while (cap < nKeys * 2) cap <<= 1
    private val keys = new Array[Long](cap)
    private val starts = new Array[Int](cap)
    private val lens = new Array[Int](cap)
    private val postLangs = new Array[Short](nPostings)
    private val postProbs = new Array[Float](nPostings)
    private val mask = cap - 1
    private var cursor = 0

    /** postings must already be sorted by langId. */
    def add(key0: Long, langs: Array[Int], probs: Array[Double]): Unit = {
      val key = if (key0 == 0L) NgramHash.ZeroRemap else key0
      var h = key
      h = (h ^ (h >>> 30)) * 0xbf58476d1ce4e5b9L
      h = (h ^ (h >>> 27)) * 0x94d049bb133111ebL
      var i = (h ^ (h >>> 31)).toInt & mask
      while (keys(i) != 0L) {
        require(keys(i) != key, s"duplicate ngram key $key")
        i = (i + 1) & mask
      }
      keys(i) = key
      starts(i) = cursor
      lens(i) = langs.length
      var j = 0
      while (j < langs.length) {
        postLangs(cursor) = langs(j).toShort
        postProbs(cursor) = probs(j).toFloat
        cursor += 1
        j += 1
      }
    }

    def result(): ProbTable = {
      require(cursor == nPostings, s"builder fed $cursor of $nPostings postings")
      new ProbTable(keys, starts, lens, postLangs, postProbs)
    }
  }

  /** Build from ngramHash → sorted postings ((langId, lnProb)). */
  def build(entries: Map[Long, Array[(Int, Double)]]): ProbTable = {
    var cap = 16
    while (cap < entries.size * 2) cap <<= 1
    val keys = new Array[Long](cap)
    val starts = new Array[Int](cap)
    val lens = new Array[Int](cap)
    val nPost = entries.valuesIterator.map(_.length).sum
    val postLangs = new Array[Short](nPost)
    val postProbs = new Array[Float](nPost)
    val mask = cap - 1
    var cursor = 0
    entries.foreach { case (key0, postings) =>
      val key = if (key0 == 0L) NgramHash.ZeroRemap else key0
      var h = key
      h = (h ^ (h >>> 30)) * 0xbf58476d1ce4e5b9L
      h = (h ^ (h >>> 27)) * 0x94d049bb133111ebL
      var i = (h ^ (h >>> 31)).toInt & mask
      while (keys(i) != 0L) {
        require(keys(i) != key, s"ngram hash collision on $key")
        i = (i + 1) & mask
      }
      keys(i) = key
      starts(i) = cursor
      lens(i) = postings.length
      val sorted = postings.sortBy(_._1)
      var j = 0
      while (j < sorted.length) {
        postLangs(cursor) = sorted(j)._1.toShort
        postProbs(cursor) = sorted(j)._2.toFloat
        cursor += 1
        j += 1
      }
    }
    new ProbTable(keys, starts, lens, postLangs, postProbs)
  }
}

/** The merged runtime model: 5 char-gram tables + a wordgram table +
  * per-language floors — the Spark-side `BinStorage`
  * (reference: src/bin_storage.rs:7-19). Broadcast once per executor.
  */
final class PackedModel(
    val nLangs: Int,
    val charFloors: Array[Double],   // per langId, normalized (−(max+0.05))
    val wordgramFloor: Double,
    val charTables: Array[ProbTable], // index 0..4 = uni..five
    val wordTable: ProbTable,
    /** langIds that have a trained model (used by fixtures/tests) */
    val modeledLangs: Array[Int],
    /** schema/version hash checked at load (reference: src/bin_storage.rs:18) */
    val schemaHash: Long,
    /** per-langId sorted hashes of high-frequency words (wordgram ln-prob ≥
      * ln(1%)) — the stopword sets the quality rules use, derived from the
      * model itself rather than hand lists
      */
    val stopwordHashes: Array[Array[Long]]
) extends Serializable {
  def isStopword(langId: Int, wordHash: Long): Boolean =
    java.util.Arrays.binarySearch(stopwordHashes(langId), wordHash) >= 0

  /** Approximate broadcast footprint in bytes (primitive array payloads) —
    * the number that matters when sizing the executor-side model at
    * 188-language scale.
    */
  def footprintBytes: Long = {
    def table(t: ProbTable): Long =
      t.keys.length.toLong * 8 + t.starts.length.toLong * 4 +
        t.lens.length.toLong * 4 + t.postLangs.length.toLong * 2 +
        t.postProbs.length.toLong * 4
    charTables.map(table).sum + table(wordTable) +
      charFloors.length.toLong * 8 +
      stopwordHashes.map(_.length.toLong * 8).sum
  }

  /** total distinct n-gram entries across all tables */
  def entryCount: Long =
    charTables.map(_.size.toLong).sum + wordTable.size.toLong

  /** The six lookup tables indexed by n-gram size (0..4 = uni..five
    * char-grams, 5 = wordgrams), projected to `languages` (see
    * ProbTable.projected). A detector reads only its configured
    * languages' postings, so probing the projection is exact: a candidate
    * gets the same adds in the same order, and a slot has a candidate
    * posting in the projection iff it has one in the full table. A set
    * that covers every modeled language gets the model's own tables.
    * Other sets are built once per JVM and memoized, LRU-bounded.
    */
  def tablesFor(languages: Set[Int]): Array[ProbTable] = {
    val key = modeledLangs.iterator.filter(languages.contains).toSet
    if (key.size == modeledLangs.length) ownTables
    else projections.synchronized {
      var t = projections.get(key)
      if (t == null) {
        val keep = new Array[Boolean](nLangs)
        key.foreach(keep(_) = true)
        t = ownTables.map(_.projected(keep))
        projections.put(key, t)
        projectionsBuilt += 1
      }
      t
    }
  }

  @transient private lazy val ownTables: Array[ProbTable] = charTables :+ wordTable
  @transient private lazy val projections =
    new java.util.LinkedHashMap[Set[Int], Array[ProbTable]](16, 0.75f, true) {
      override def removeEldestEntry(e: java.util.Map.Entry[Set[Int], Array[ProbTable]]): Boolean =
        size() > PackedModel.MaxProjections
    }
  /** projections built by this JVM's copy of the model (tests read it) */
  @transient private var projectionsBuilt = 0
  def projectionStats: (Int, Int) = projections.synchronized((projections.size, projectionsBuilt))
}

object PackedModel {
  /** Bound on memoized language projections per model copy. */
  val MaxProjections = 8

  /** Version hash: registry size + codes, like the reference's
    * `ScriptLanguage::HASH` layout check (src/detector/storage.rs:124-126).
    */
  def registryHash: Long = {
    var h = NgramHash.Seed
    ScriptLang.all.foreach { l =>
      l.code.foreach(c => h = NgramHash.step(h, c.toInt))
      h = NgramHash.step(h, l.id)
    }
    h
  }

  /** Merge per-language models into the runtime model, mirroring
    * `BinStorage::add` + `finalize` (reference: src/bin_storage.rs:53-111):
    *  - char floor per lang = ln(1/#unigrams), then normalize by subtracting
    *    (max floor + 0.05);
    *  - wordgram floor = min(0.0, min over entries of lnProb·4.0);
    *  - postings sorted by langId.
    *
    * @param models langId → 6 maps (uni,bi,tri,quadri,five,word), each
    *               ngramString → ln(relative frequency)
    */
  def fromModels(models: Seq[(Int, Array[Map[String, Double]])]): PackedModel = {
    val n = ScriptLang.count
    val floors = Array.fill(n)(Double.NegativeInfinity)
    var wordFloor = 0.0
    // per size: hash → buffer of (lang, prob)
    val acc = Array.fill(6)(mutable.LongMap.empty[mutable.ArrayBuffer[(Int, Double)]])
    val seenStrings = Array.fill(6)(mutable.HashMap.empty[Long, String])

    models.foreach { case (langId, sizes) =>
      require(sizes.length == 6, "model must have 6 ngram sizes")
      var s = 0
      while (s < 6) {
        val m = sizes(s)
        if (s == 0) floors(langId) = math.log(1.0 / m.size.toDouble)
        m.foreach { case (ngram, prob) =>
          if (s == 5) wordFloor = math.min(wordFloor, prob * 4.0)
          val h = NgramHash.ofString(ngram)
          seenStrings(s).get(h) match {
            case Some(prev) => require(prev == ngram, s"hash collision: '$prev' vs '$ngram'")
            case None => seenStrings(s)(h) = ngram
          }
          acc(s).getOrElseUpdate(h, mutable.ArrayBuffer.empty) += ((langId, prob))
        }
        s += 1
      }
    }

    val maxFloor = floors.max + 0.05
    var i = 0
    while (i < n) { floors(i) -= maxFloor; i += 1 }

    def toTable(s: Int): ProbTable =
      ProbTable.build(acc(s).iterator.map { case (k, v) => k -> v.toArray }.toMap)

    // stopwords: words with relative frequency >= 1% in a language's
    // wordgram model
    val stopThreshold = math.log(0.01)
    val stopwords = Array.fill(n)(Array.emptyLongArray)
    models.foreach { case (langId, sizes) =>
      val hs = sizes(5).collect {
        case (w, p) if p >= stopThreshold => NgramHash.ofString(w)
      }.toArray
      java.util.Arrays.sort(hs)
      stopwords(langId) = hs
    }

    new PackedModel(
      nLangs = n,
      charFloors = floors,
      wordgramFloor = wordFloor,
      charTables = Array(toTable(0), toTable(1), toTable(2), toTable(3), toTable(4)),
      wordTable = toTable(5),
      modeledLangs = models.map(_._1).sorted.toArray,
      schemaHash = registryHash,
      stopwordHashes = stopwords
    )
  }
}
