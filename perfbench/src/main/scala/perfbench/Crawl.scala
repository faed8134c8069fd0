package perfbench

import graft.pipeline.{FilterPipeline, PagesGen, SnapshotStore}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths}
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** The crawl workload. Its input is `PagesGen.resolve` pages over
  * an index window that the seed selects, so every page's reference label
  * is known by construction.
  */
object Crawl {

  /** One generated page with its construction label. */
  final case class Gen(
      url: String, warc_ts: java.sql.Timestamp, html: Array[Byte], text: String, lang: String,
      ref_lang: String, ref_keep: Boolean, ref_defect: String, ref_scrubbed_text: String)

  val pageCols = Seq("url", "warc_ts", "html", "text", "lang")
  val labelCols = Seq("url", "ref_lang", "ref_keep", "ref_defect", "ref_scrubbed_text")
  val dropReasons = Seq("dup", "too_short", "repetition", "low_confidence", "low_coverage",
    "high_perplexity")

  private def mix(x0: Long): Long = {
    var x = x0 + 0x9e3779b97f4a7c15L
    x = (x ^ (x >>> 30)) * 0xbf58476d1ce4e5b9L
    x = (x ^ (x >>> 27)) * 0x94d049bb133111ebL
    x ^ (x >>> 31)
  }

  /** First page index of the seed's window. */
  def windowBase(seed: Long): Long = (mix(seed) >>> 34) + 1000

  /** Uniform draw in [0, 1) for (seed, page index, stream). */
  private def draw(seed: Long, idx: Long, stream: Int): Double =
    (mix(mix(seed ^ (stream.toLong << 56)) ^ idx) >>> 11).toDouble / (1L << 53)

  private def host(url: String): String = url.stripPrefix("https://").takeWhile(_ != '/')

  /** Pages `[base, base + n)` with their labels, generated on the driver. A
    * duplicate whose source page lies before the window has no earlier copy
    * in the input, so it is left out.
    */
  private def window(base: Long, n: Long): Seq[Gen] = {
    val g = (base until base + n).map { i =>
      val (p, l) = PagesGen.resolve(i, 24)
      Gen(p.url, p.warc_ts, p.html, p.text, p.lang, l.ref_lang, l.ref_keep, l.ref_defect,
        l.ref_scrubbed_text)
    }
    val originals = g.filter(_.ref_defect != "dup_copy").map(r => (host(r.url), r.text)).toSet
    g.filter(r => r.ref_defect != "dup_copy" || originals((host(r.url), r.text)))
  }

  private def write(spark: SparkSession, rows: Seq[Gen], ctx: Ctx, prefix: String,
      partitioned: Boolean): (String, String, Long) = {
    import spark.implicits._
    val pages = ctx.dir(s"$prefix-pages")
    val labels = ctx.dir(s"$prefix-labels")
    val all = spark.sparkContext.parallelize(rows, ctx.cores * 2).toDF()
    val p = all.select(pageCols.map(col): _*)
    if (partitioned)
      p.withColumn("p_date", date_format(col("warc_ts"), "yyyy-MM-dd"))
        .write.partitionBy("p_date").parquet(pages)
    else p.write.parquet(pages)
    all.select(labelCols.map(col): _*).write.parquet(labels)
    (pages, labels, rows.size.toLong)
  }

  /** Keep/drop, scrub and language quality of one pipeline output against
    * the construction labels, in one aggregation, plus the PipelineSpec
    * gates and the every-url-exactly-once check.
    */
  def quality(spark: SparkSession, out: DataFrame, labels: DataFrame, res: Result,
      tag: String, emit: Boolean = true): Boolean = {
    import spark.implicits._
    val j = out.select($"url", $"keep", $"lang", $"scrubbed_text", $"drop_reason", lit(1).as("o"))
      .join(labels.withColumn("l", lit(1)), Seq("url"), "full_outer")
    def n(c: org.apache.spark.sql.Column) = sum(when(c, 1L).otherwise(0L))
    val nondup = $"ref_defect" =!= "dup_copy"
    val aggs = Seq(
      count($"o"), count($"l"), n($"o".isNotNull && $"l".isNotNull), countDistinct($"url"),
      n($"keep" && $"ref_keep"), n($"keep" && !$"ref_keep"), n(!$"keep" && $"ref_keep"),
      n(nondup), n(nondup && ($"scrubbed_text" <=> $"ref_scrubbed_text")),
      n($"keep"), n($"keep" && $"lang" === $"ref_lang"),
      n($"o".isNotNull && $"lang" =!= "und"), n($"o".isNotNull && $"lang" === "und")
    ) ++ dropReasons.map(d => n($"drop_reason" === d))
    val r = j.agg(aggs.head, aggs.tail: _*).head()
    val v = (0 until r.length).map(i => if (r.isNullAt(i)) 0L else r.getLong(i))
    val Seq(outRows, labelRows, matched, urls, tp, fp, fn, nonDup, scrubOk, kept, langOk,
      detected, skipped) = v.take(13)
    val f1 = if (tp == 0) 0.0 else 2.0 * tp / (2.0 * tp + fp + fn)
    val scrub = if (nonDup == 0) 0.0 else scrubOk.toDouble / nonDup
    val langAcc = if (kept == 0) 0.0 else langOk.toDouble / kept
    if (emit) {
      res.metric("keep_f1", f1, "ratio")
      res.metric("scrub_exact", scrub, "ratio")
      res.metric("lang_accuracy", langAcc, "ratio")
      res.metric("pipeline.kept", kept.toDouble, "count")
      dropReasons.zip(v.drop(13)).foreach { case (d, c) => res.metric(s"pipeline.drop.$d", c, "count") }
      res.metric("lang.docs_detected", detected.toDouble, "count")
      res.metric("lang.docs_skipped", skipped.toDouble, "count")
    }
    res.info(s"${tag}_rows") = labelRows
    Seq(
      res.check(s"$tag: every input url appears exactly once in the output",
        outRows == labelRows && matched == labelRows && urls == labelRows,
        s"output rows $outRows, labelled urls $labelRows, matched $matched, distinct urls $urls"),
      res.check(s"$tag: keep_f1 >= 0.99", f1 >= 0.99, f"keep_f1 $f1%.5f (tp $tp fp $fp fn $fn)"),
      res.check(s"$tag: scrub_exact == 1.0", scrub == 1.0, s"$scrubOk of $nonDup non-dup pages"),
      res.check(s"$tag: lang_accuracy >= 0.99", langAcc >= 0.99, s"$langOk of $kept kept pages")
    ).forall(identity)
  }

  /** Warm-up passes until two in a row agree within 10 % (at least four,
    * at most eight).
    */
  private def warmup(tracer: Tracer, res: Result)(pass: () => Unit): Unit = {
    val warm = ArrayBuffer.empty[Double]
    tracer.timed("warmup") {
      while (warm.size < 4 ||
          (warm.size < 8 && math.abs(warm.last - warm(warm.size - 2)) > 0.1 * warm.last))
        warm += tracer.timed("warmup pass")(pass())._2
    }
    res.info("warmup_s") = warm.toList
  }

  /** Warm-up, then timed passes until `seconds` passed (at least three). */
  private def measure(seconds: Double, tracer: Tracer, res: Result, info: String)
      (pass: () => Unit): Seq[Double] = {
    warmup(tracer, res)(pass)
    val times = ArrayBuffer.empty[Double]
    val end = System.nanoTime() + (seconds * 1e9).toLong
    while (times.size < 3 || System.nanoTime() < end) {
      res.attempted += 1
      try times += tracer.timed("pass")(pass())._2
      catch { case e: Exception =>
        res.failed += 1
        res.check("pass runs", ok = false, s"${e.getClass.getSimpleName}: ${e.getMessage}")
        if (res.failed > 2) throw e
      }
    }
    res.info(s"${info}_pass_s") = times.toList
    times.toSeq
  }

  /** Per-pass layer metrics from the listener: map (shuffle-writing) and
    * reduce stage time, the driver gap (pass wall not covered by any
    * stage), shuffle, spill, executor busy share, task skew of the busiest
    * reduce stage and GC share; medians over the traced passes.
    */
  private def passLayers(tracer: Tracer, l: JobListener, cores: Int, res: Result): Unit = {
    val passes = tracer.spans.filter(s => s.kind == "bench" && s.name == "pass")
    val per = passes.map { p =>
      val stages = l.jobsIn(p.startMs, p.endMs).flatMap(l.stagesOf)
      val (map, reduce) = stages.partition(_.isMap)
      val covered = JobListener.unionSeconds(stages.map(s => (s.startMs, s.endMs)))
      val stageWall = stages.map(_.seconds).sum
      val busiest = reduce.sortBy(-_.runMs).headOption.map(_.taskMs.toList.sorted).getOrElse(Nil)
      Map(
        "map" -> map.map(_.seconds).sum, "reduce" -> reduce.map(_.seconds).sum,
        "gap" -> (p.seconds - covered), "explained" -> covered / p.seconds,
        "shuffle" -> stages.map(_.shuffleWriteBytes).sum,
        "records" -> stages.map(_.shuffleRecords).sum, "spill" -> stages.map(_.spillBytes).sum,
        "busy" -> stages.map(_.runMs).sum / (cores * stageWall * 1e3),
        "skew" -> (if (busiest.isEmpty) 0.0 else busiest.last / Main.median(busiest)),
        "gc" -> stages.map(_.gcMs).sum / math.max(1.0, stages.map(_.runMs).sum))
    }
    def med(k: String) = Main.median(per.map(_(k)))
    res.metric("pipeline.map_stage_s", med("map"), "s")
    res.metric("pipeline.reduce_stage_s", med("reduce"), "s")
    res.metric("pipeline.driver_gap_s", med("gap"), "s")
    res.metric("pipeline.explained_share", med("explained"), "ratio")
    res.metric("pipeline.shuffle_write_bytes", med("shuffle"), "bytes")
    res.metric("pipeline.shuffle_records", med("records"), "count")
    res.metric("pipeline.spill_bytes", med("spill"), "bytes")
    res.metric("pipeline.busy_share", med("busy"), "ratio")
    res.metric("pipeline.task_skew", med("skew"), "ratio")
    res.metric("pipeline.gc_share", med("gc"), "ratio")
    res.info("explained_share_per_pass") = per.map(_("explained")).toList
  }

  /** Warm-up, then untraced and traced passes alternately (the listener is
    * attached for the traced ones only) until `seconds` passed, at least
    * three of each; returns (untraced, traced) times. Their median ratio is
    * the tracing overhead.
    */
  private def tracedPasses(spark: SparkSession, ctx: Ctx, tracer: Tracer, l: JobListener,
      res: Result)(pass: () => Unit): (Seq[Double], Seq[Double]) = {
    val sc = spark.sparkContext
    warmup(tracer, res)(pass)
    val plain = ArrayBuffer.empty[Double]
    val traced = ArrayBuffer.empty[Double]
    val end = System.nanoTime() + (ctx.seconds * 1e9).toLong
    while (traced.size < 3 || System.nanoTime() < end) {
      res.attempted += 2
      plain += tracer.timed("untraced pass")(pass())._2
      sc.addSparkListener(l)
      traced += tracer.timed("pass")(pass())._2
      JobListener.drain(sc)
      sc.removeSparkListener(l)
    }
    res.info("untraced_pass_s") = plain.toList
    res.info("traced_pass_s") = traced.toList
    res.metric("trace.overhead_ratio", Main.median(traced.toSeq) / Main.median(plain.toSeq), "ratio")
    (plain.toSeq, traced.toSeq)
  }

  private def nonDupTexts(spark: SparkSession, labels: String, pages: String, max: Int): Array[String] = {
    import spark.implicits._
    spark.read.parquet(pages).select($"url", $"text")
      .join(spark.read.parquet(labels).filter($"ref_defect" =!= "dup_copy").select($"url"), "url")
      .orderBy($"url").limit(max).select($"text").as[String].collect()
  }

  /** crawl_mixed: `FilterPipeline.run` over the generator's own mix to a
    * noop sink. The `scaling` role reruns the timed passes on the same
    * input at a quarter of the cores, in its own JVM.
    */
  def mixed(spark: SparkSession, ctx: Ctx, tracer: Tracer, listener: Option[JobListener],
      res: Result): Unit = {
    val bc = graft.operators.LangOps.broadcastModel(spark)
    val (pages, labels, n) =
      if (ctx.role == "scaling")
        (ctx.dir("crawl-pages"), ctx.dir("crawl-labels"), spark.read.parquet(ctx.dir("crawl-pages")).count())
      else {
        val size = if (ctx.smoke) 2000L else 60000L
        val base = windowBase(ctx.seed)
        res.info("window") = Seq(base, base + size)
        val (rows, g) = tracer.timed("input gen")(window(base, size))
        val (in, s) = tracer.timed("input")(write(spark, rows, ctx, "crawl", partitioned = false))
        res.info("input_s") = Seq(g, s)
        in
      }
    res.info("pages") = n
    def pass(): Unit = Main.noop(FilterPipeline.run(spark, spark.read.parquet(pages), bc))

    if (ctx.role == "scaling") {
      res.metric("pass_s", Main.median(measure(ctx.seconds, tracer, res, "scaling")(pass)), "s")
      return
    }
    listener match {
      case None =>
        res.metric("pass_s", Main.median(measure(ctx.seconds, tracer, res, "crawl")(pass)), "s")
      case Some(l) =>
        val (plain, _) = tracedPasses(spark, ctx, tracer, l, res)(pass)
        res.metric("pipeline.docs_per_s", n / Main.median(plain), "docs/s")
        res.info("untraced_pass_s_median") = Main.median(plain)
        passLayers(tracer, l, ctx.cores, res)
        val scan = (1 to 3).map(_ => tracer.timed("pipeline.scan")(
          Main.noop(spark.read.parquet(pages).select("url", "warc_ts", "text")))._2)
        res.metric("pipeline.scan_s", Main.median(scan), "s")
        Layers.pages(nonDupTexts(spark, labels, pages, 4000), tracer, res)
        store(spark, ctx, tracer, l, res)
    }
    res.attempted += 1
    val ok = tracer.timed("check")(quality(spark,
      FilterPipeline.run(spark, spark.read.parquet(pages), bc), spark.read.parquet(labels), res, "crawl_mixed"))._1
    if (!ok) res.failed += 1
  }

  /** The dup-heavy day-partitioned store input: the window's too-short and
    * repetitive pages, as many clean pages drawn by the seed, and for each
    * of them 0–2 same-host exact copies (mean one, also drawn by the seed),
    * so about half the rows are duplicates and a quarter are cheap drops.
    * Copies are 1–2 ms later than their source, on the same day.
    */
  private def dupInput(ctx: Ctx, target: Long): Seq[Gen] = {
    val cheapShare = 14.0 / 72.0 // PagesGen's planted too-short + repetition vs clean rates
    window(windowBase(ctx.seed) + (1L << 31), (target / 0.56).toLong)
      .filter(r => r.ref_defect == "too_short" || r.ref_defect == "repetition" ||
        (r.ref_defect == "clean" && draw(ctx.seed, index(r.url), 1) < cheapShare))
      .flatMap { r =>
        r +: (1 to (draw(ctx.seed, index(r.url), 2) * 3).toInt).map { c =>
          r.copy(url = s"${r.url}-c$c", warc_ts = new java.sql.Timestamp(r.warc_ts.getTime + c),
            ref_keep = false, ref_defect = "dup_copy")
        }
      }
  }

  private def index(url: String): Long = url.substring(url.lastIndexOf("/p") + 2).toLong

  /** The `pipeline.store` layer, measured in the traced crawl_mixed run:
    * `SnapshotStore.runResumable` (what RunPipeline runs) over the
    * day-partitioned dup-heavy input into a fresh root, interrupted after
    * its first partition commit and resumed. One untraced pair warms the
    * path; the traced pair is measured and its committed store checked.
    */
  private def store(spark: SparkSession, ctx: Ctx, tracer: Tracer, l: JobListener,
      res: Result): Unit = {
    val bc = graft.operators.LangOps.broadcastModel(spark)
    val target = if (ctx.smoke) 3000L else 20000L
    val (pages, labels, n) = tracer.timed("store input")(
      write(spark, dupInput(ctx, target), ctx, "store", partitioned = true))._1
    res.info("store_pages") = n

    final class Interrupted extends RuntimeException("interrupted after the first commit")
    // events: ("", start of a runResumable call) or (partition, its commit)
    def pair(root: String) = {
      val events = ArrayBuffer(("", tracer.nowMs))
      try SnapshotStore.runResumable(spark, pages, root, bc, p => {
        events += ((p, tracer.nowMs)); throw new Interrupted
      }) catch { case _: Interrupted => () }
      val first = events.drop(1).map(_._1).toList
      events += (("", tracer.nowMs))
      val resumed = SnapshotStore.runResumable(spark, pages, root, bc, p => events += ((p, tracer.nowMs)))
      (events.toList, first, resumed)
    }
    tracer.timed("store warmup")(pair(ctx.dir("store-warm")))
    deleteTree(Paths.get(ctx.dir("store-warm")))
    val root = ctx.dir("store-out")
    val sc = spark.sparkContext
    sc.addSparkListener(l)
    val ((events, first, resumed), wall) = tracer.timed("store pass")(pair(root))
    JobListener.drain(sc)
    sc.removeSparkListener(l)
    res.info("store_pass_s") = wall
    storeLayers(tracer, l, root, events, res)

    // the committed store, checked outside the timed interval
    res.attempted += 1
    val okQ = tracer.timed("store check")(quality(spark, spark.read.parquet(s"$root/data"),
      spark.read.parquet(labels), res, "store", emit = false))._1
    val parts = spark.read.parquet(pages).select("p_date").distinct().collect()
      .map(_.get(0).toString).sorted.toSeq
    val entries = manifestEntries(root)
    val redone = resumed.count(first.contains)
    res.metric("pipeline.store.redone_partitions", redone.toDouble, "count")
    val okS = Seq(
      res.check("store: the interrupted run committed exactly one partition",
        first.size == 1, s"committed before the interruption: $first"),
      res.check("store: every p_date committed exactly once after the resume",
        entries.map(_._1).sorted == parts && (first ++ resumed).sorted == parts,
        s"manifest ${entries.map(_._1)}, input $parts, first $first, resumed $resumed"),
      res.check("store: manifest rows sum to the input",
        entries.map(_._2).sum == n, s"manifest rows ${entries.map(_._2).sum}, input $n"),
      res.check("store: no partition redone", redone == 0, s"redone $redone")
    ).forall(identity)
    if (!(okQ && okS)) res.failed += 1
  }

  /** (partition, rows) of the current manifest. */
  private def manifestEntries(root: String): Seq[(String, Long)] = {
    val cur = Files.readString(Paths.get(root, "CURRENT")).trim
    val node = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(Files.readString(Paths.get(root, cur)))
    node.get("entries").elements().asScala
      .map(e => (e.get("partition").asText(), e.get("rows").asLong())).toSeq
  }

  /** `pipeline.store` layer of the traced pair, per committed partition:
    * its interval (from the previous commit or the start of its
    * runResumable call), split at the read-back's first job (the
    * `spark.read.parquet` of the written partition) into write time
    * (scan, exchange, kernel, parquet write) and read-back time (row and
    * drop-reason counts, manifest commit); and the committed output's
    * bytes and files.
    */
  private def storeLayers(tracer: Tracer, l: JobListener, root: String,
      events: Seq[(String, Double)], res: Result): Unit = {
    val passSpan = tracer.spans.filter(s => s.kind == "bench" && s.name == "store pass").last
    val reads = l.jobsIn(passSpan.startMs, passSpan.endMs)
      .filter(_.callSite.startsWith("parquet at SnapshotStore.scala")).map(_.startMs)
    val parts = events.sliding(2).collect { case Seq((_, s), (p, t)) if p.nonEmpty =>
      val read = reads.filter(r => r > s && r < t).lastOption.getOrElse(t)
      (t - s, read - s, t - read)
    }.toSeq
    res.metric("pipeline.store.partition_s", Main.median(parts.map(_._1 / 1e3)), "s")
    res.metric("pipeline.store.write_s", parts.map(_._2).sum / 1e3, "s")
    res.metric("pipeline.store.readback_s", parts.map(_._3).sum / 1e3, "s")
    val files = Files.walk(Paths.get(root, "data")).iterator().asScala
      .filter(p => Files.isRegularFile(p) && p.getFileName.toString.endsWith(".parquet")).toSeq
    res.metric("pipeline.store.output_bytes", files.map(Files.size).sum.toDouble, "bytes")
    res.metric("pipeline.store.files", files.size.toDouble, "count")
  }

  def deleteTree(p: java.nio.file.Path): Unit =
    if (Files.exists(p)) Files.walk(p).iterator().asScala.toSeq.reverse.foreach(Files.delete)
}
