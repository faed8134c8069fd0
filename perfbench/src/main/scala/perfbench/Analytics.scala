package perfbench

import graft.SparkEntry
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

/** analytics_sf01: the heavy seven `SparkEntry.queries` over the fixed
  * sf0.1 tables, with q20 (q30's oracle reads its result) and q28 (the
  * registry's pipeline query, gated on its construction labels). The
  * traced run adds the other 31 queries, q26 over sf0.1 (its oracle reads
  * q20's result) and the rest over sf0.01, timed on their first run. The nine run once over sf0.01 to warm up and once timed, in name
  * order; each result is written as
  * parquet in the layout `graft.Verify` dumps (without its single-file
  * coalesce), and run.py checks it against its DuckDB oracle after the JVM
  * ends (perfbench/oracle.py). The tables are fixed data, so the seed does
  * not apply here.
  */
object Analytics {

  val heavy: Seq[String] = Seq(
    "q17_minhash_pairs", "q19_ngram_jaccard", "q29_spark_trainer", "q30_ivf_ann",
    "q32_percentiles", "q39_neardup_clusters", "q40_canonical_keep")

  /** The queries of an untraced run: q30's oracle reads q20's result. */
  val timedSet: Seq[String] = heavy ++ Seq("q20_ann_brute_force", "q28_pipeline_filter")

  /** Queries over sf0.1: q26's oracle, like q30's, reads q20's result. */
  val atHeavyScale: Seq[String] = heavy ++ Seq("q20_ann_brute_force", "q26_lsh_ann")

  /** Heavy queries rerun untraced after the traced pass, for the overhead. */
  val overheadProbe: Seq[String] = Seq("q17_minhash_pairs", "q19_ngram_jaccard", "q39_neardup_clusters")

  /** The operator module that implements each query. */
  def module(q: String): String = q.take(3) match {
    case "q14" | "q15" | "q16" | "q17" | "q18" | "q19" | "q22" | "q24" | "q25" => "textops"
    case "q21" | "q23" => "langops"
    case "q20" | "q26" | "q27" | "q30" | "q37" | "q38" => "similarity"
    case "q29" => "train"
    case "q39" | "q40" => "clusters"
    case "q28" => "pipeline"
    case _ => "relational"
  }

  val modules: Seq[String] = Seq("relational", "textops", "similarity", "clusters", "langops", "train")

  /** Wall seconds per query, each result written as parquet under `out`.
    * A query that throws has no time; it is counted as failed when
    * `counted`.
    */
  private def pass(spark: SparkSession, names: Seq[String], sf: String => String, tracer: Tracer,
      res: Result, out: String, counted: Boolean): Map[String, Double] =
    names.flatMap { q =>
      val fn = SparkEntry.queries(q)
      if (counted) res.attempted += 1
      try Some(q -> tracer.timed(s"query $q")(
        fn(spark, sf(q)).write.mode("overwrite").parquet(s"$out/$q"))._2)
      catch { case e: Exception =>
        if (counted) res.failed += 1
        res.check(s"query $q runs", ok = false, s"${e.getClass.getSimpleName}: ${e.getMessage}")
        None
      }
    }.toMap

  def run(spark: SparkSession, ctx: Ctx, tracer: Tracer, listener: Option[JobListener],
      res: Result): Unit = {
    val all = SparkEntry.queries.keys.toSeq.sorted
    val names = if (listener.isEmpty) timedSet.sorted else all
    val small = s"${ctx.tables}/sf0.01"
    val sf = if (ctx.smoke) small else s"${ctx.tables}/sf0.1"
    def scale(q: String) = if (atHeavyScale.contains(q)) sf else small
    val dump = ctx.dir("dump")
    res.info("sf_dir") = Map("heavy" -> sf.split('/').last, "light" -> small.split('/').last)
    res.info("queries") = names.size
    res.info("dump_dir") = dump
    res.info("heavy_scale") = atHeavyScale.toList
    if (!ctx.smoke) res.info("warmup_s") = tracer.timed("warmup")(
      pass(spark, timedSet.sorted, _ => small, tracer, res, ctx.dir("warm"), counted = false))._2

    val walls = listener match {
      case None => tracer.timed("pass")(pass(spark, names, scale, tracer, res, dump, counted = true))._1
      case Some(l) => traced(spark, names, scale, dump, tracer, l, res, ctx)
    }
    if (listener.isEmpty) res.metric("pass_s", walls.values.sum, "s")
    res.info("query_s") = walls

    // the oracle SQL beside the results, as graft.Verify writes it; some
    // oracles read other results through __OUT_DIR__
    val abs = java.nio.file.Paths.get(dump).toAbsolutePath.toString
    Json.write(s"$dump/oracle_sql.json",
      SparkEntry.oracleSql.map { case (k, v) => k -> v.replace("__OUT_DIR__", abs) })
    // q28 is the pipeline over PagesGen pages 0..2999: gate it on their labels
    res.info("check_s") = tracer.timed("check")(Crawl.quality(spark,
      spark.read.parquet(s"$dump/q28_pipeline_filter"), graft.pipeline.PagesGen.labelsDf(spark, 3000),
      res, "q28"))._2
  }

  private def traced(spark: SparkSession, names: Seq[String], scale: String => String,
      dump: String, tracer: Tracer, l: JobListener, res: Result, ctx: Ctx): Map[String, Double] = {
    val sc = spark.sparkContext
    sc.addSparkListener(l)
    val walls = tracer.timed("pass")(pass(spark, names, scale, tracer, res, dump, counted = true))._1
    JobListener.drain(sc)
    sc.removeSparkListener(l)
    val light = names.filterNot(heavy.contains)
    res.metric("sparkentry.heavy_queries_s", heavy.flatMap(walls.get).sum, "s")
    res.metric("sparkentry.light_queries_s", light.flatMap(walls.get).sum, "s")
    modules.foreach { m =>
      res.metric(s"$m.busy_s", names.filter(module(_) == m).flatMap(walls.get).sum, "s")
    }
    val spans = tracer.spans.filter(_.kind == "bench").map(s => s.name -> s).toMap
    heavy.foreach { q =>
      val prefix = s"${module(q)}.$q"
      val (jobs, stages) = spans.get(s"query $q").map { s =>
        val js = l.jobsIn(s.startMs, s.endMs)
        (js, js.flatMap(l.stagesOf))
      }.getOrElse((Nil, Nil))
      res.metric(s"$prefix.wall_s", walls.getOrElse(q, Double.NaN), "s")
      res.metric(s"$prefix.jobs", jobs.size, "count")
      res.metric(s"$prefix.tasks", stages.map(_.tasks).sum, "count")
      res.metric(s"$prefix.shuffle_bytes", stages.map(_.shuffleWriteBytes).sum, "bytes")
      res.metric(s"$prefix.spill_bytes", stages.map(_.spillBytes).sum, "bytes")
      res.metric(s"$prefix.driver_result_bytes", stages.map(_.resultBytes).sum, "bytes")
    }
    // tracing overhead: three heavy queries once more, untraced; that run
    // is the warmer one, so the ratio errs high
    val plain = pass(spark, overheadProbe, scale, tracer, res, ctx.dir("untraced"), counted = false)
    res.metric("trace.overhead_ratio",
      overheadProbe.flatMap(walls.get).sum / overheadProbe.flatMap(plain.get).sum, "ratio")
    functions(spark, scale(heavy.head), tracer, res)
    res.metric("lang.micro_us_per_batch", Layers.microUsPerBatch(tracer), "us")
    walls
  }

  /** The single-row public functions behind q17/q19/q39/q40 (MinMd5),
    * q24 (FNV-64) and q30 (cosine), over the sf documents and embeddings.
    */
  private def functions(spark: SparkSession, sf: String, tracer: Tracer, res: Result): Unit = {
    val texts = spark.read.parquet(s"$sf/documents.parquet").select("text")
      .collect().flatMap(r => Option(r.getString(0))).map(UTF8String.fromString)
    val vecs = spark.read.parquet(s"$sf/embeddings.parquet")
      .select(col("embedding").cast("array<double>")).collect()
      .flatMap(r => Option(r.getSeq[Double](0))).map(s => UnsafeArrayData.fromPrimitiveArray(s.toArray))
    var sink = 0L
    res.metric("functions.minmd5_ns_per_row", Layers.nsPerRow("functions.minmd5", texts.length, tracer) { i =>
      sink += graft.functions.MinMd5Shingle.evalShingle(texts(i), 5).numBytes()
    }, "ns")
    res.metric("functions.fnv64_ns_per_row", Layers.nsPerRow("functions.fnv64", texts.length, tracer) { i =>
      sink += graft.functions.FnvHash64.hashUtf8(texts(i))
    }, "ns")
    res.metric("functions.cosine_ns_per_row", Layers.nsPerRow("functions.cosine", vecs.length, tracer) { i =>
      sink += (graft.functions.CosineSim.cosine(vecs(i), vecs((i + 1) % vecs.length)) * 1000).toLong
    }, "ns")
    res.info("functions_sink") = sink
  }
}
