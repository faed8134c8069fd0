package graft.streaming

import graft.operators.LangOps
import graft.pipeline.PagesGen
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class StreamingSpec extends AnyFunSuite {
  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "8")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  test("streaming filter matches the batch pipeline keep decisions") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-stream").toString
    val pagesDir = s"$tmp/pages"
    val n = 800
    PagesGen.pagesDf(spark, n).write.parquet(pagesDir)
    val bc = LangOps.broadcastModel(spark)

    val q = StreamingFilter.start(spark, pagesDir, bc, "stream_out", s"$tmp/ckpt")
    q.processAllAvailable()
    q.stop()

    val streamed = spark.table("stream_out").select(col("url"), col("keep").as("s_keep"))
    assert(streamed.count() == n.toLong)

    val batch = graft.pipeline.FilterPipeline
      .run(spark, spark.read.parquet(pagesDir), bc)
      .select(col("url"), col("keep").as("b_keep"))

    val diff = streamed.join(batch, "url")
      .filter(col("s_keep") =!= col("b_keep"))
      .count()
    assert(diff == 0L, s"$diff keep-decision mismatches between streaming and batch")
  }

  test("batch and streaming dedup share one host rule") {
    import spark.implicits._
    import graft.pipeline.FilterPipeline
    assert(FilterPipeline.hostOf("https://a.example/r?u=http://b.example/x") == "a.example")
    assert(FilterPipeline.hostOf("HTTP://a.example/1") == "a.example")
    assert(FilterPipeline.hostOf("a.example/1") == "a.example")
    assert(FilterPipeline.hostOf("") == "")

    val tmp = java.nio.file.Files.createTempDirectory("graft-stream-h").toString
    val pagesDir = s"$tmp/pages"
    val bc = LangOps.broadcastModel(spark)
    def page(url: String, hour: Int, text: String) = PagesGen.Page(
      url, java.sql.Timestamp.valueOf(java.time.LocalDateTime.of(2025, 6, 1, hour, 0, 0)),
      PagesGen.wrapHtml(url, text), text, "eng")
    val body = ("the house of water and world people time year good know " * 5).trim
    spark.createDataset(Seq(
      // the last "://" names another host: not the same host as the next page
      page("https://a.example/r?u=http://b.example/x", 1, body),
      page("https://b.example/y", 2, body),
      // scheme case and a missing scheme do not change the host
      page("HTTP://c.example/1", 1, body + " again"),
      page("http://c.example/2", 2, body + " again"),
      page("c.example/3", 3, body + " again"))).write.parquet(pagesDir)

    val q = StreamingFilter.start(spark, pagesDir, bc, "stream_hosts", s"$tmp/ckpt")
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("stream_hosts")
      .select($"url", $"drop_reason" <=> "dup", $"host", FilterPipeline.hostCol($"url"))
      .as[(String, Boolean, String, String)].collect()
    val batch = FilterPipeline.run(spark, spark.read.parquet(pagesDir), bc)
      .select($"url", $"is_dup", $"host", FilterPipeline.hostCol($"url"))
      .as[(String, Boolean, String, String)].collect()

    val dups = Set("http://c.example/2", "c.example/3")
    assert(batch.filter(_._2).map(_._1).toSet == dups)
    assert(streamed.map(r => r._1 -> r._2).toMap == batch.map(r => r._1 -> r._2).toMap)
    (streamed ++ batch).foreach { case (url, _, host, dedupHost) =>
      assert(host == dedupHost && host == FilterPipeline.hostOf(url), url)
    }
  }

  test("dedup state expires on the event-time horizon (bounded state store)") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft-stream-t").toString
    val pagesDir = s"$tmp/pages"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(pagesDir))
    val bc = LangOps.broadcastModel(spark)

    def page(url: String, day: Int, text: String) = PagesGen.Page(
      url, java.sql.Timestamp.valueOf(java.time.LocalDateTime.of(2025, 6, day, 0, 0, 0)),
      PagesGen.wrapHtml(url, text), text, "eng")
    val body = ("the house of water and world people time year good know " * 5).trim

    // batch 1: the original page
    spark.createDataset(Seq(page("https://h.example.org/a", 1, body)))
      .write.mode("append").parquet(pagesDir)
    val q = StreamingFilter.start(spark, pagesDir, bc, "stream_ttl", s"$tmp/ckpt")
    q.processAllAvailable()
    // batch 2: far-future traffic pushes the watermark past day1 + horizon
    spark.createDataset(Seq(page("https://h.example.org/later", 28, body + " later")))
      .write.mode("append").parquet(pagesDir)
    q.processAllAvailable()
    // batch 3: an exact duplicate of the day-1 page, arriving after expiry —
    // bounded-dedup contract: it is treated as NEW content, not a dup
    spark.createDataset(Seq(page("https://h.example.org/b", 27, body)))
      .write.mode("append").parquet(pagesDir)
    q.processAllAvailable()
    q.stop()

    val out = spark.table("stream_ttl")
      .select($"url", $"drop_reason").as[(String, String)].collect().toMap
    assert(out.size == 3)
    assert(out("https://h.example.org/a") == null)
    assert(out("https://h.example.org/b") != "dup",
      s"expired (host, hash) state must not mark later copies dup: $out")
  }

  test("checkpoint-restart: a restarted query resumes without reprocessing") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-stream-r").toString
    val pagesDir = s"$tmp/pages"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(pagesDir))
    val bc = LangOps.broadcastModel(spark)

    val outDir = s"$tmp/out"
    def startQuery() =
      StreamingFilter.filtered(StreamingFilter.docStream(spark, pagesDir, bc))
        .writeStream
        .outputMode("append")
        .format("parquet") // file sink: supports checkpoint recovery
        .option("path", outDir)
        .option("checkpointLocation", s"$tmp/ckpt")
        .start()

    PagesGen.pagesDf(spark, 200).write.mode("append").parquet(pagesDir)
    val q1 = startQuery()
    q1.processAllAvailable()
    q1.stop()
    assert(spark.read.parquet(outDir).count() == 200L)

    // second corpus slice (fresh page indexes) lands while the query is
    // DOWN; its event times shift 3 days forward so none of it is LATE
    // relative to the checkpointed watermark (late rows are correctly
    // dropped by the stateful dedup — that semantics is not under test here)
    import spark.implicits._
    spark.createDataset((200 until 350).map(i => PagesGen.resolve(i.toLong, 24)._1))
      .toDF()
      .withColumn("warc_ts", org.apache.spark.sql.functions.expr("warc_ts + INTERVAL 3 DAYS"))
      .write.mode("append").parquet(pagesDir)

    // restart from the same checkpoint: the batch ids recorded in the
    // checkpoint are skipped, only the 150 new rows are appended
    val q2 = startQuery()
    q2.processAllAvailable()
    q2.stop()
    val resumed = spark.read.parquet(outDir).count()
    assert(resumed == 350L,
      s"restart must append exactly the 150 new rows (350 total), got $resumed")
    val urls = spark.read.parquet(outDir).select($"url").distinct().count()
    assert(urls == 350L, s"duplicate reprocessing detected: $urls distinct of $resumed")
  }

  test("watermarked metrics stream aggregates per day and language") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-stream-m").toString
    val pagesDir = s"$tmp/pages"
    PagesGen.pagesDf(spark, 400).write.parquet(pagesDir)
    val bc = LangOps.broadcastModel(spark)

    val q = StreamingFilter.startMetrics(spark, pagesDir, bc, "stream_metrics", s"$tmp/ckpt")
    q.processAllAvailable()
    // append-mode watermark holds back open windows; force one more batch
    q.processAllAvailable()
    q.stop()
    // metrics may be withheld by the watermark in append mode for the last
    // window; just assert the query ran and the schema is right
    val m = spark.table("stream_metrics")
    assert(m.columns.toSet == Set("window", "lang", "n_docs", "avg_conf"))
  }
}
