package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.collection.mutable

/** What one benchmark JVM measured: metrics with units, the correctness
  * checks it ran, operation counts and provenance. `run.py` merges the
  * results of a workload's JVMs and prints the final line.
  */
final class Result {
  val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
  val checks = mutable.ArrayBuffer.empty[(String, Boolean, String)]
  val info = mutable.LinkedHashMap.empty[String, Any]
  var attempted = 0
  var failed = 0

  def metric(name: String, value: Double, unit: String): Unit = metrics(name) = (value, unit)
  def check(name: String, ok: Boolean, detail: String): Boolean = {
    checks += ((name, ok, detail)); ok
  }

  def toJson: Map[String, Any] = Map(
    "metrics" -> metrics.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) }.toMap,
    "checks" -> checks.map { case (n, ok, d) => Map("name" -> n, "ok" -> ok, "detail" -> d) }.toList,
    "attempted" -> attempted, "failed" -> failed, "info" -> info.toMap)
}

/** Settings of one benchmark JVM, from its command line. */
final case class Ctx(
    workload: String, seed: Long, seconds: Double, trace: Boolean, cores: Int,
    work: String, tables: String, smoke: Boolean, role: String) {
  def dir(name: String): String = s"$work/$name"
}

object Main {

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.length % 2 == 1) s(s.length / 2) else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }

  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** The session every workload runs on: local[cores], shuffle sized to four
    * waves per core with AQE coalescing off (the engine's measured pipeline
    * setting), and every file Spark writes kept under the run's work dir.
    */
  def session(ctx: Ctx): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[${ctx.cores}]")
      .appName(s"perfbench-${ctx.workload}-${ctx.role}")
      .config("spark.sql.shuffle.partitions", (ctx.cores * 4).toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "false")
      .config("spark.shuffle.compress", "false")
      .config("spark.shuffle.spill.compress", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", ctx.dir("spark-local"))
      .config("spark.sql.warehouse.dir", ctx.dir("warehouse"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** Peak resident set of this JVM (VmHWM), in MB. */
  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024.0).getOrElse(Double.NaN)
    finally src.close()
  }

  private def parse(args: Array[String]): Ctx = {
    val kv = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = kv.getOrElse(k, sys.error(s"missing --$k"))
    Ctx(need("workload"), need("seed").toLong, need("seconds").toDouble, need("trace") == "1",
      need("cores").toInt, need("work"), kv.getOrElse("tables", ""),
      kv.get("smoke").contains("1"), kv.getOrElse("role", "main"))
  }

  def main(args: Array[String]): Unit = {
    val ctx = parse(args)
    val out = args.sliding(2).collectFirst { case Array("--out", p) => p }.get
    val tracer = new Tracer(ctx.trace, s"${ctx.workload}-${ctx.seed}-${ctx.role}")
    val res = new Result
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime.toDouble

    // set-up: process start → session up, fixture model built, broadcast
    var spark = session(ctx)
    val (_, modelS) = tracer.timed("train.model_build")(graft.train.FixtureCorpus.model)
    graft.operators.LangOps.broadcastModel(spark)
    val setups = mutable.ArrayBuffer((System.currentTimeMillis() - jvmStart) / 1e3)
    // two more set-ups in this JVM (session restart + model build +
    // broadcast); the median of the three is setup_s
    if (ctx.role == "main") (1 to 2).foreach { _ =>
      spark.stop()
      SparkSession.clearActiveSession(); SparkSession.clearDefaultSession()
      val t0 = System.nanoTime()
      spark = session(ctx)
      graft.train.ModelIO.trainPacked(graft.train.FixtureCorpus.corpus())
      graft.operators.LangOps.broadcastModel(spark)
      setups += (System.nanoTime() - t0) / 1e9
    }
    res.metric("setup_s", median(setups.toSeq), "s")
    res.info("setup_runs_s") = setups.toList
    if (ctx.trace) res.metric("train.model_build_s", modelS, "s")

    val listener = if (ctx.trace) Some(new JobListener) else None
    try {
      ctx.workload match {
        case "crawl_mixed" => Crawl.mixed(spark, ctx, tracer, listener, res)
        case "analytics_sf01" => Analytics.run(spark, ctx, tracer, listener, res)
        case w => sys.error(s"unknown workload $w")
      }
    } finally {
      listener.foreach { l =>
        JobListener.drain(spark.sparkContext)
        Json.writeSpans(ctx.dir("spans.jsonl"), tracer.runId, tracer.allSpans(Some(l)))
      }
      res.metric("peak_rss_mb", peakRssMb(), "MB")
      res.info("spark_version") = spark.version
      res.info("jvm") = System.getProperty("java.vm.name") + " " + System.getProperty("java.version")
      res.info("max_heap_mb") = Runtime.getRuntime.maxMemory / (1024 * 1024)
      Json.write(out, res.toJson)
      spark.stop()
    }
  }
}
