package graft

import graft.lang.{Detector, DetectorConfig}
import graft.pipeline.{FilterPipeline, PagesGen}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Diagnostic: time the pipeline's components in isolation in one JVM.
  * Usage: runMain graft.BenchDecompose <cores> <pagesPath> [mode...]
  * modes: scan kernel dedup full (default: all)
  */
object BenchDecompose {
  def main(args: Array[String]): Unit = {
    val k = args(0).toInt
    val path = args(1)
    val modes = if (args.length > 2) args.drop(2).toSeq else Seq("scan", "kernel", "dedup", "full")

    val spark = SparkSession.builder()
      .master(s"local[$k]")
      .appName(s"graft-decompose-$k")
      .config("spark.sql.shuffle.partitions", (k * 4).toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "false")
      .config("spark.shuffle.compress", "false")
      .config("spark.shuffle.spill.compress", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._

    val bc = spark.sparkContext.broadcast(graft.train.FixtureCorpus.model)
    def noop(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()
    def timed(name: String)(f: => Unit): Unit = {
      f // warm
      val ts = (1 to 2).map { _ =>
        val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
      }
      println(s"DECOMP $name ${ts.map(t => f"$t%.2f").mkString(" ")}")
    }

    val pages = spark.read.parquet(path)
    val config = DetectorConfig.default.copy(
      languages = PagesGen.pipelineLangs.map(graft.lang.ScriptLang.id).toSet)

    modes.foreach {
      case "jaccard" =>
        // q19 stage decomposition; `path` is an sf dir. Stages are
        // cumulative plans: the shingle cache is forced FIRST so every
        // later stage — including j_full — excludes the cold
        // shingle+persist cost and the per-stage attribution is clean
        // (ADVICE r6: a reorder had made j_full the first touch on the
        // distributed path, silently charging it the cache build; cold
        // full-call timings live in the `jcold` mode, which exists for
        // exactly that).
        val st = graft.operators.TextOps.q19Stages(spark, path, 0.3)
        println(s"DECOMP j_plan local=${st.usedLocalPlan}")
        timed("j_shingle_cache") { st.docs().count(); () }
        timed("j_full") { noop(st.result) }
        timed("j_dist_prefixes") { noop(st.distPrefixes()) }
        timed("j_dist_rawpairs") { noop(st.distRawPairs()) }
        timed("j_dist_candidates") { noop(st.distCandidates()) }
        println(s"DECOMP j_rows prefixes=${st.distPrefixes().count()} " +
          s"rawPairs=${st.distRawPairs().count()} candidates=${st.distCandidates().count()}")
        graft.operators.TextOps.releaseQ19Cache()
      case "jcold" =>
        // Full COLD q19 calls (fresh q19Stages each time, the Bench shape)
        // with per-stage durations — attributes the gap between the warm
        // `j_full` stage above and the Bench-measured full-call time.
        spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
          override def onStageCompleted(
              sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
            val si = sc.stageInfo
            val dur = (si.completionTime.getOrElse(0L) - si.submissionTime.getOrElse(0L)) / 1000.0
            println(f"JSTAGE ${si.stageId}%3d tasks=${si.numTasks}%4d dur=$dur%6.2f ${si.name.take(100)}")
          }
        })
        noop(graft.operators.TextOps.q19NgramJaccard(spark, path, 0.3)) // warm
        (1 to 3).foreach { r =>
          println(s"=== jcold run $r ===")
          val t0 = System.nanoTime()
          noop(graft.operators.TextOps.q19NgramJaccard(spark, path, 0.3))
          println(f"DECOMP jcold_full ${(System.nanoTime() - t0) / 1e9}%.2f")
        }
      case "minhash" =>
        // q17 stage decomposition; `path` is an sf dir.
        import graft.operators.{Tables, TextOps}
        val docs = Tables.documents(spark, path).select($"doc_id", $"text")
        timed("m_scan") { noop(docs) }
        timed("m_shingle") {
          noop(docs.as[(Long, String)]
            .map { case (id, t) => (id, TextOps.shingleHashes(t, TextOps.ShingleSize).length) }
            .toDF("doc_id", "n"))
        }
        timed("m_signature") {
          noop(docs.as[(Long, String)]
            .map { case (id, t) =>
              val sig = TextOps.minHashSignature(TextOps.shingleHashes(t, TextOps.ShingleSize))
              (id, sig(0))
            }
            .toDF("doc_id", "s0"))
        }
        val bandRows = docs.as[(Long, String)]
          .mapPartitions { it =>
            it.flatMap { case (id, text) =>
              val sig = TextOps.minHashSignature(
                TextOps.shingleHashes(text, TextOps.ShingleSize))
              (0 until TextOps.Bands).iterator.map { b =>
                var h = 0x9e3779b97f4a7c15L ^ b
                var r = 0
                while (r < TextOps.RowsPerBand) {
                  h = graft.operators.TextOps.mix(h ^ sig(b * TextOps.RowsPerBand + r)); r += 1
                }
                (h, id)
              }
            }
          }
          .toDF("bucket", "doc_id")
        timed("m_bandrows") { noop(bandRows) }
        timed("m_bandsorted") {
          noop(bandRows.repartition($"bucket").sortWithinPartitions($"bucket", $"doc_id"))
        }
        timed("m_full") { noop(TextOps.q17MinHashPairs(spark, path)) }
      case "scan" =>
        timed("scan_hash") {
          noop(pages.select($"url", $"warc_ts",
            xxhash64(FilterPipeline.hostCol($"url")).as("w_host"),
            xxhash64($"text").as("w_hash")))
        }
      case "kernel" =>
        timed("kernel_noshuffle") {
          noop(pages.select($"url", $"warc_ts", $"text")
            .as[(String, java.sql.Timestamp, String)]
            .mapPartitions(it => FilterPipeline.processPartition(bc.value, config, it))
            .toDF())
        }
      case "dedup" =>
        timed("dedup_only") {
          val keyed = pages.select($"url", $"warc_ts", $"text")
            .withColumn("w_host", xxhash64(FilterPipeline.hostCol($"url")))
            .withColumn("w_hash", xxhash64($"text"))
          val winners = keyed.groupBy($"w_host", $"w_hash")
            .agg(min(struct($"warc_ts", $"url")).as("win"))
          noop(keyed.join(winners.hint("shuffle_hash"), Seq("w_host", "w_hash"))
            .select($"url", $"warc_ts", $"text",
              ($"warc_ts" =!= $"win.warc_ts" || $"url" =!= $"win.url").as("is_dup")))
        }
      case "full" =>
        timed("full_pipeline") {
          noop(FilterPipeline.run(spark, pages, bc))
        }
      case "window" =>
        timed("dedup_window") {
          val keyed = pages.select($"url", $"warc_ts", $"text")
            .withColumn("w_host", xxhash64(FilterPipeline.hostCol($"url")))
            .withColumn("w_hash", xxhash64($"text"))
          val w = org.apache.spark.sql.expressions.Window
            .partitionBy($"w_host", $"w_hash").orderBy($"warc_ts", $"url")
          noop(keyed.withColumn("dup_rank", row_number().over(w))
            .select($"url", $"warc_ts", $"text", ($"dup_rank" > 1).as("is_dup")))
        }
      case "ord" =>
        timed("dedup_ord_hashagg") {
          val keyed = pages.select($"url", $"warc_ts", $"text")
            .withColumn("w_host", xxhash64(FilterPipeline.hostCol($"url")))
            .withColumn("w_hash", xxhash64($"text"))
            .withColumn("ord",
              (shiftleft(unix_millis($"warc_ts"), 20)
                + (xxhash64($"url").bitwiseAND(lit(0xFFFFFL)))))
          val winners = keyed.groupBy($"w_host", $"w_hash")
            .agg(min($"ord").as("win_ord"))
          noop(keyed.join(winners.hint("shuffle_hash"), Seq("w_host", "w_hash"))
            .select($"url", $"warc_ts", $"text", ($"ord" =!= $"win_ord").as("is_dup")))
        }
      case "ordplan" =>
        val keyed = pages.select($"url", $"warc_ts", $"text")
          .withColumn("w_host",
            xxhash64(FilterPipeline.hostCol($"url")))
          .withColumn("w_hash", xxhash64($"text"))
          .withColumn("ord",
            (shiftleft(unix_millis($"warc_ts"), 20)
              + (xxhash64($"url").bitwiseAND(lit(0xFFFFFL)))))
        val winners = keyed.groupBy($"w_host", $"w_hash")
          .agg(min($"ord").as("win_ord"))
        val df = keyed.join(winners.hint("shuffle_hash"), Seq("w_host", "w_hash"))
          .select($"url", $"warc_ts", $"text", ($"ord" =!= $"win_ord").as("is_dup"))
        noop(df)
        println(df.queryExecution.executedPlan.toString)
      case "reuse" =>
        timed("dedup_reuse_exchange") {
          val keyed = pages.select($"url", $"warc_ts", $"text")
            .withColumn("w_host", xxhash64(FilterPipeline.hostCol($"url")))
            .withColumn("w_hash", xxhash64($"text"))
          val parted = keyed.repartition($"w_host", $"w_hash")
          val winners = parted.groupBy($"w_host", $"w_hash")
            .agg(min(struct($"warc_ts", $"url")).as("win"))
          noop(parted.join(winners.hint("shuffle_hash"), Seq("w_host", "w_hash"))
            .select($"url", $"warc_ts", $"text",
              ($"warc_ts" =!= $"win.warc_ts" || $"url" =!= $"win.url").as("is_dup")))
        }
      case "reuseplan" =>
        val keyed = pages.select($"url", $"warc_ts", $"text")
          .withColumn("w_host",
            xxhash64(FilterPipeline.hostCol($"url")))
          .withColumn("w_hash", xxhash64($"text"))
        val parted = keyed.repartition($"w_host", $"w_hash")
        val winners = parted.groupBy($"w_host", $"w_hash")
          .agg(min(struct($"warc_ts", $"url")).as("win"))
        val df = parted.join(winners.hint("shuffle_hash"), Seq("w_host", "w_hash"))
          .select($"url", $"warc_ts", $"text",
            ($"warc_ts" =!= $"win.warc_ts" || $"url" =!= $"win.url").as("is_dup"))
        noop(df)
        println(df.queryExecution.executedPlan.toString)
      case "fullplan" =>
        val df = FilterPipeline.run(spark, pages, bc)
        noop(df)
        println(df.queryExecution.executedPlan.toString)
      case "stages" =>
        spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
          override def onStageCompleted(
              sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
            val si = sc.stageInfo
            val dur = (si.completionTime.getOrElse(0L) - si.submissionTime.getOrElse(0L)) / 1000.0
            println(f"STAGE ${si.stageId}%3d tasks=${si.numTasks}%4d dur=$dur%6.2f ${si.name.take(80)}")
          }
        })
        noop(FilterPipeline.run(spark, pages, bc)) // warm
        println("=== timed run ===")
        noop(FilterPipeline.run(spark, pages, bc))
      case "jobgap" =>
        // Per-job scheduler round-trip on THIS host right now: 50
        // consecutive 1-task jobs whose task compute is ~0. q30 is the
        // registry's only ~20-driver-job chain, so its wall time is
        // ≈ Σ(stage compute) + njobs × this gap — single-job queries
        // (q33/q25) never expose it, which is why they can sit at their
        // quiet-table rows while q30 drifts. Prints min/median/p90/max ms.
        (1 to 10).foreach(_ => spark.range(1).count()) // warm scheduler + codegen
        val gaps = (1 to 50).map { _ =>
          val t0 = System.nanoTime()
          spark.range(1).count()
          (System.nanoTime() - t0) / 1e6
        }.sorted
        println(f"DECOMP jobgap_ms min=${gaps.head}%.1f p50=${gaps(24)}%.1f " +
          f"p90=${gaps(44)}%.1f max=${gaps.last}%.1f")
      case "ivf" =>
        // IVF assign-step scaling: flat O(k) scan per vector vs the
        // two-level codebook's O(√k·w). Deterministic synthetic
        // embeddings, n=200k, d=64, k=⌈√n⌉≈448.
        import graft.operators.Similarity
        val n = 200000
        val d = 64
        val emb = spark.range(n).select($"id".as("vec_id")).as[Long].map { id =>
          val v = new Array[Double](d)
          var x = id * 0x9e3779b97f4a7c15L + 1
          var i = 0
          while (i < d) {
            x = (x ^ (x >>> 30)) * 0xbf58476d1ce4e5b9L
            x = (x ^ (x >>> 27)) * 0x94d049bb133111ebL
            v(i) = ((x ^ (x >>> 31)).toDouble / Long.MaxValue)
            i += 1
          }
          (id, v)
        }.toDF("vec_id", "v").cache()
        emb.count()
        val k0 = math.ceil(math.sqrt(n.toDouble)).toInt
        val fine = emb.as[(Long, Array[Double])].filter(_._1 < k0).collect()
          .sortBy(_._1).map(_._2)
        val bcBook = spark.sparkContext.broadcast(Similarity.buildCodebook(fine, 4))
        val bcFlat = spark.sparkContext.broadcast(fine)
        timed(s"ivf_assign_flat_n${n}_k$k0") {
          noop(emb.as[(Long, Array[Double])].map { case (id, v) =>
            val cents = bcFlat.value
            var bestC = -1
            var bestD = Double.MaxValue
            var c = 0
            while (c < cents.length) {
              var dd = 0.0
              var i = 0
              while (i < d) { val x = v(i) - cents(c)(i); dd += x * x; i += 1 }
              if (dd < bestD) { bestD = dd; bestC = c }
              c += 1
            }
            (id, bestC)
          }.toDF("vec_id", "cid"))
        }
        timed(s"ivf_assign_twolevel_n${n}_k$k0") {
          noop(emb.as[(Long, Array[Double])].map { case (id, v) =>
            (id, bcBook.value.nearestFine(v))
          }.toDF("vec_id", "cid"))
        }
        // agreement: fraction of vectors assigned to the same centroid
        val agree = emb.as[(Long, Array[Double])].map { case (_, v) =>
          val cents = bcFlat.value
          var bestC = -1
          var bestD = Double.MaxValue
          var c = 0
          while (c < cents.length) {
            var dd = 0.0
            var i = 0
            while (i < d) { val x = v(i) - cents(c)(i); dd += x * x; i += 1 }
            if (dd < bestD) { bestD = dd; bestC = c }
            c += 1
          }
          if (bestC == bcBook.value.nearestFine(v)) 1L else 0L
        }.reduce(_ + _)
        println(f"DECOMP ivf_assign_agreement ${agree.toDouble / n}%.4f")

        // codebook BUILD at k = 1e5 (VERDICT r3 #8): driver-local
        // single-threaded cell assignment vs the Spark-job build. The
        // distributed result must be bit-identical.
        val kBig = 100000
        val fineBig = Array.tabulate(kBig) { id =>
          val v = new Array[Double](d)
          var x = id.toLong * 0x9e3779b97f4a7c15L + 7
          var i = 0
          while (i < d) {
            x = (x ^ (x >>> 30)) * 0xbf58476d1ce4e5b9L
            x = (x ^ (x >>> 27)) * 0x94d049bb133111ebL
            v(i) = ((x ^ (x >>> 31)).toDouble / Long.MaxValue)
            i += 1
          }
          v
        }
        timed(s"ivf_build_local_k$kBig") {
          Similarity.buildCodebook(fineBig, 4)
        }
        timed(s"ivf_build_distributed_k$kBig") {
          Similarity.buildCodebookDistributed(spark, fineBig, 4)
        }
        val lb = Similarity.buildCodebook(fineBig, 4)
        val db = Similarity.buildCodebookDistributed(spark, fineBig, 4)
        val same = lb.cells.length == db.cells.length &&
          lb.cells.indices.forall(c => lb.cells(c).sameElements(db.cells(c)))
        println(s"DECOMP ivf_build_equal $same")
      case other => println(s"unknown mode $other")
    }
    spark.stop()
  }
}
