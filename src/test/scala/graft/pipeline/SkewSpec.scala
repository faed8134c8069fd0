package graft.pipeline

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Host/domain skew handling (north_rule): partitioning crawl pages by host
  * concentrates the Zipf-hot hosts into few tasks; the salted repartition
  * (and the pipeline's (host, content-hash) exchange) spread them evenly.
  */
class SkewSpec extends AnyFunSuite {
  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "16")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  test("salted repartition flattens Zipf host skew; host partitioning does not") {
    val pages = PagesGen.pagesDf(spark, 4000)
      .withColumn("host", FilterPipeline.hostCol(col("url")))

    def partitionSizes(df: org.apache.spark.sql.DataFrame): Array[Long] =
      df.withColumn("pid", spark_partition_id())
        .groupBy("pid").count()
        .collect().map(_.getLong(1))

    val byHost = partitionSizes(pages.repartition(16, col("host")))
    val salted = partitionSizes(FilterPipeline.saltedRepartition(pages, 16))

    val mean = 4000.0 / 16
    val hostMax = byHost.max / mean
    val saltedMax = salted.max / mean
    info(s"max/mean partition load: by-host=$hostMax salted=$saltedMax")
    assert(hostMax > 2.0, s"fixture not skewed enough (by-host max/mean $hostMax)")
    assert(saltedMax < 1.5, s"salted repartition still skewed (max/mean $saltedMax)")
  }
}
