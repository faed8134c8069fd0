package perfbench

import graft.lang.{Detector, DetectorConfig, ScriptLang, Tokenizer}
import graft.pipeline.{FilterPipeline, PagesGen}
import graft.train.FixtureCorpus
import scala.collection.mutable.ArrayBuffer

/** Single-thread loops over the public entry points of one layer, timed
  * from outside. Each loop runs one untimed round to warm the JIT, then
  * whole rounds until `minSeconds` passed (at least three), and reports
  * the median round's time per item.
  */
object Layers {

  def nsPerRow(name: String, n: Int, tracer: Tracer, minSeconds: Double = 0.5)
      (f: Int => Unit): Double = {
    def round(): Double = {
      val t0 = System.nanoTime()
      var i = 0
      while (i < n) { f(i); i += 1 }
      (System.nanoTime() - t0).toDouble / n
    }
    round()
    val rounds = ArrayBuffer.empty[Double]
    tracer.timed(name) {
      val end = System.nanoTime() + (minSeconds * 1e9).toLong
      while (rounds.size < 3 || System.nanoTime() < end) rounds += round()
    }
    Main.median(rounds.toSeq)
  }

  /** The reference criterion group: the twelve `BenchSentences` sentences,
    * all languages, all n-grams — the detector configuration q21 uses.
    */
  def microUsPerBatch(tracer: Tracer): Double = {
    val det = new Detector(FixtureCorpus.model, DetectorConfig.default)
    val s = graft.BenchSentences.sentences
    nsPerRow("lang.micro", 1, tracer, 1.0) { _ =>
      var i = 0
      while (i < s.length) { det.detectTopOneRaw(s(i)); i += 1 }
    } / 1e3
  }

  /** `lang` and `pipeline` kernel loops over the workload's own non-dup
    * pages, with the pipeline's detector configuration.
    */
  def pages(texts: Array[String], tracer: Tracer, res: Result): Unit = {
    val model = FixtureCorpus.model
    val config = DetectorConfig.default.copy(
      languages = PagesGen.pipelineLangs.map(ScriptLang.id).toSet)
    val det = new Detector(model, config)
    val n = texts.length
    var probes = 0L
    var hits = 0L
    var counting = true
    res.metric("lang.detect_us_per_doc", nsPerRow("lang.detect", n, tracer) { i =>
      if (det.detectInPlace(texts(i)) > 0) {
        val best = det.reorderPickInPlace(det.defaultReorderDistance)
        det.confidenceOfInPlace(best)
        if (counting) { probes += det.lastProbedCount; hits += det.lastHitCount(best) }
      }
      if (i == n - 1) counting = false
    } / 1e3, "us")
    res.metric("lang.probes_per_doc", probes.toDouble / n, "count")
    res.metric("lang.hit_ratio", if (probes == 0) 0.0 else hits.toDouble / probes, "ratio")

    val buf = new Tokenizer.TokenBuf
    res.metric("lang.tokenize_us_per_doc", nsPerRow("lang.tokenize", n, tracer) { i =>
      Tokenizer.tokenizeInto(texts(i), buf)
    } / 1e3, "us")

    val ts = new java.sql.Timestamp(0L)
    val rows = texts.map(t => ("https://h.example.org/p", ts, t))
    var sink = 0L
    res.metric("pipeline.kernel_us_per_doc", nsPerRow("pipeline.kernel", 1, tracer) { _ =>
      FilterPipeline.processPartition(model, config, rows.iterator).foreach(d => sink += d.word_count)
    } / 1e3 / n, "us")
    res.metric("pipeline.scrub_us_per_doc", nsPerRow("pipeline.scrub", n, tracer) { i =>
      sink += FilterPipeline.scrub(texts(i)).length
    } / 1e3, "us")
    res.info("layer_docs") = n
    res.info("layer_sink") = sink
  }
}
