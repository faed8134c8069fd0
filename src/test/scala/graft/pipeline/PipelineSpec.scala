package graft.pipeline

import graft.operators.LangOps
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** North-rule gates: keep/drop F1 ≥ 0.99 vs the generator's reference
  * labels, exact scrubbed text, byte-identical extracted text per url, and
  * checkpoint-resume (BASELINE.json, FIXTURES.md F4).
  */
class PipelineSpec extends AnyFunSuite {

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "8")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val N = 2000

  private lazy val result = {
    val bc = LangOps.broadcastModel(spark)
    FilterPipeline.run(spark, PagesGen.pagesDf(spark, N), bc).cache()
  }
  private lazy val labels = PagesGen.labelsDf(spark, N)

  test("keep/drop F1 >= 0.99 vs reference labels") {
    val joined = result.select(col("url"), col("keep"))
      .join(labels.select(col("url"), col("ref_keep"), col("ref_defect")), "url")
      .cache()
    assert(joined.count() == N.toLong)
    val tp = joined.filter(col("keep") && col("ref_keep")).count().toDouble
    val fp = joined.filter(col("keep") && !col("ref_keep")).count().toDouble
    val fn = joined.filter(!col("keep") && col("ref_keep")).count().toDouble
    val precision = tp / (tp + fp)
    val recall = tp / (tp + fn)
    val f1 = 2 * precision * recall / (precision + recall)
    val mism = joined.filter(col("keep") =!= col("ref_keep"))
      .groupBy(col("ref_defect"), col("keep")).count().collect()
    info(s"precision=$precision recall=$recall f1=$f1 mismatches=${mism.mkString(";")}")
    assert(f1 >= 0.99, s"F1 $f1 below target; mismatch profile: ${mism.mkString("; ")}")
    joined.unpersist()
  }

  test("output digest pin: every column of the 2000-page run, byte-exact") {
    // SHA-256 over the full output sorted by url: every column in schema
    // order, doubles by raw bits. Pinned from the output of the kernel
    // before the language-projected tables and the start-at-first-match
    // scrub, which must not move a single byte.
    val md = java.security.MessageDigest.getInstance("SHA-256")
    def long(x: Long): Unit = md.update(java.nio.ByteBuffer.allocate(8).putLong(x).array())
    md.update(result.schema.toDDL.getBytes("UTF-8"))
    result.collect().sortBy(_.getAs[String]("url")).foreach { r =>
      (0 until r.length).foreach { i =>
        r.get(i) match {
          case null => md.update(0: Byte)
          case s: String => val b = s.getBytes("UTF-8"); long(b.length.toLong); md.update(b)
          case d: Double => long(java.lang.Double.doubleToRawLongBits(d))
          case n: Int => long(n.toLong)
          case n: Long => long(n)
          case b: Boolean => md.update(if (b) 1: Byte else 2: Byte)
          case t: java.sql.Timestamp => long(t.getTime); long(t.getNanos.toLong)
        }
      }
    }
    val hex = md.digest().map("%02x".format(_)).mkString
    assert(hex == "84b08444a32ee0900514a79d285179e178339a1b7f30ef3a3ba5e22846021404", s"output digest moved: $hex")
  }

  test("null-text pages flow through the full pipeline and are dropped") {
    import spark.implicits._
    val bc = LangOps.broadcastModel(spark)
    val pages = PagesGen.pagesDf(spark, 50).limit(20)
      .unionByName(spark.createDataset(Seq(
        PagesGen.Page("https://null.example/p1",
          java.sql.Timestamp.valueOf("2025-06-01 00:00:00"),
          Array.emptyByteArray, null, "und"))).toDF())
    val out = FilterPipeline.run(spark, pages, bc)
    val nullRow = out.filter(col("url") === "https://null.example/p1")
      .select(col("keep"), col("lang"), col("word_count")).collect()
    assert(nullRow.length == 1, "the null page must not crash or vanish")
    assert(!nullRow(0).getBoolean(0), "an empty page can never be kept")
    assert(nullRow(0).getString(1) == "und" && nullRow(0).getInt(2) == 0)
  }

  test("scrubbed text matches the reference scrub exactly") {
    val joined = result.select(col("url"), col("scrubbed_text"))
      .join(labels.filter(col("ref_defect") =!= "dup_copy")
        .select(col("url"), col("ref_scrubbed_text")), "url")
    val bad = joined.filter(col("scrubbed_text") =!= col("ref_scrubbed_text"))
    val n = bad.count()
    if (n > 0) info("example mismatch: " + bad.head().toString)
    assert(n == 0, s"$n scrub mismatches")
  }

  test("per-row invariant: byte-identical extracted text per url") {
    import spark.implicits._
    val pages = PagesGen.pagesDf(spark, 500)
    val bad = pages.select($"url", $"html", $"text")
      .as[(String, Array[Byte], String)]
      .map { case (url, html, text) =>
        (url, FilterPipeline.extractText(html) == text)
      }
      .filter(!_._2)
      .count()
    assert(bad == 0L, s"$bad pages where extractText(html) != text")
  }

  test("detected language matches generator lang on kept pages (>= 99%)") {
    val joined = result.filter(col("keep"))
      .select(col("url"), col("lang"))
      .join(labels.select(col("url"), col("ref_lang")), "url")
    val total = joined.count().toDouble
    val ok = joined.filter(col("lang") === col("ref_lang")).count().toDouble
    info(s"lang accuracy on kept pages: ${ok / total} ($ok/$total)")
    assert(ok / total >= 0.99)
  }

  test("checkpoint-resume: second run processes only missing partitions") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-snap").toString
    val pagesPath = s"$tmp/pages"
    val outRoot = s"$tmp/out"
    PagesGen.writePartitioned(spark, 600, pagesPath)
    val bc = LangOps.broadcastModel(spark)

    // first run: only two of the three day-partitions visible
    import spark.implicits._
    val allParts = spark.read.parquet(pagesPath)
      .select($"p_date").distinct().as[String].collect().sorted
    assert(allParts.length == 3, s"expected 3 day partitions, got ${allParts.toSeq}")

    // simulate partial availability by copying two partitions
    val partialPath = s"$tmp/pages_partial"
    spark.read.parquet(pagesPath)
      .filter($"p_date" =!= allParts.last)
      .write.partitionBy("p_date").parquet(partialPath)

    val run1 = SnapshotStore.runResumable(spark, partialPath, outRoot, bc)
    assert(run1.sorted == allParts.dropRight(1).toSeq)

    // second run over the full table: resumes, processes ONLY the last day
    val run2 = SnapshotStore.runResumable(spark, pagesPath, outRoot, bc)
    assert(run2 == Seq(allParts.last), s"expected resume to process only ${allParts.last}, got $run2")

    // third run: nothing to do
    val run3 = SnapshotStore.runResumable(spark, pagesPath, outRoot, bc)
    assert(run3.isEmpty)

    // lineage: manifest rows match the data
    val store = new SnapshotStore(outRoot)
    assert(store.committedPartitions() == allParts.toSet)
    val outRows = spark.read.parquet(s"$outRoot/data").count()
    assert(outRows == 600L)

    // the RESUMED (second-commit) manifest must be well-formed JSON with all
    // carried-forward entries intact — full drop_reasons lineage included
    // (regression: a regex carry-forward truncated nested objects)
    val currentRel = java.nio.file.Files.readString(
      java.nio.file.Paths.get(outRoot, "CURRENT")).trim
    val manifestJson = java.nio.file.Files.readString(
      java.nio.file.Paths.get(outRoot, currentRel))
    val node = new com.fasterxml.jackson.databind.ObjectMapper().readTree(manifestJson)
    // one commit PER PARTITION: run1 = manifests 1,2; run2 = manifest 3
    assert(node.get("snapshot_id").asInt() == 3)
    val entries = node.get("entries")
    assert(entries.isArray && entries.size() == 3, s"expected 3 entries: $manifestJson")
    (0 until entries.size()).foreach { i =>
      val e = entries.get(i)
      assert(e.get("data_path").asText().nonEmpty)
      assert(e.get("drop_reasons").isObject)
      assert(e.get("rows").asLong() > 0L)
    }
    // a stale temp file must not wedge snapshot-id derivation
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(outRoot, "snapshots", "manifest-oops.tmp"), "{}")
    store.commit(Seq.empty, Map("noop" -> "true"))
    assert(store.committedPartitions() == allParts.toSet)
  }

  test("crash after k of n partition commits loses at most the in-flight work") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-snap-crash").toString
    val pagesPath = s"$tmp/pages"
    val outRoot = s"$tmp/out"
    PagesGen.writePartitioned(spark, 600, pagesPath) // 3 day-partitions
    val bc = LangOps.broadcastModel(spark)

    // crash injected right after the SECOND partition's commit
    var committed = 0
    val crash = intercept[RuntimeException] {
      SnapshotStore.runResumable(spark, pagesPath, outRoot, bc,
        onPartitionCommitted = _ => {
          committed += 1
          if (committed == 2) throw new RuntimeException("injected crash")
        })
    }
    assert(crash.getMessage == "injected crash")

    // the two finished partitions ARE committed (per-partition manifests)
    val store = new SnapshotStore(outRoot)
    assert(store.committedPartitions().size == 2)

    // resume reprocesses ONLY the one partition the crash preempted
    val resumed = SnapshotStore.runResumable(spark, pagesPath, outRoot, bc)
    assert(resumed.length == 1, s"expected 1 reprocessed partition, got $resumed")
    assert(store.committedPartitions().size == 3)
    assert(spark.read.parquet(s"$outRoot/data").count() == 600L)
  }
}
