package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Independent implementation of q32 (exact quantile_cont per group) that
  * the specs compare `Relational.q32Percentiles` against. It is the
  * single-reducer-per-group VALUE-COUNTS plan that production ran before
  * the range-partitioned prefix sum replaced it: groupBy(g, tag, v).count()
  * (one row per DISTINCT value), per-(g, tag) totals broadcast-joined back,
  * then a sorted streaming pass per (g, tag) hash partition that assigns
  * cumulative ranks from 0 and keeps the rows whose [cum − cnt, cum) span
  * covers a target rank. It shares no rank or interpolation code with
  * production — only the output rounding rule (`Relational.roundCents`),
  * which is the declared question's convention, not an algorithm.
  */
object Q32Reference {

  def percentiles(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val li = Tables.lineitem(spark, sfDir)
    val unp = li.select(
      col("l_returnflag").as("g"),
      expr("stack(2, 'price', cast(l_extendedprice as double), " +
        "'qty', cast(l_quantity as double)) as (tag, v)"))
      .where(col("v").isNotNull)
    val nParts = spark.sessionState.conf.numShufflePartitions
    val vc = unp
      .repartition(nParts, col("g"), col("tag"), col("v"))
      .groupBy(col("g"), col("tag"), col("v")).agg(count(lit(1)).as("cnt"))
    val totals = vc.groupBy(col("g"), col("tag")).agg(sum(col("cnt")).as("n"))
    // <=> on g: NULL is itself a group
    val joined = vc.join(
        broadcast(totals.withColumnRenamed("g", "tg").withColumnRenamed("tag", "ttag")),
        col("g") <=> col("tg") && col("tag") === col("ttag"))
      .drop("tg", "ttag")

    val targetsByTag: Map[String, Array[Double]] =
      Map("price" -> Array(0.5, 0.95), "qty" -> Array(0.25))

    def bracketPass(it: Iterator[(String, String, Double, Long, Long)])
        : Iterator[(String, String, Double, Long, Long, Long)] = {
      var curG: String = null
      var curTag: String = null
      var cum = 0L
      var ranks: Array[Long] = Array.emptyLongArray
      it.flatMap { case (g, tag, v, cnt, n) =>
        if (g != curG || tag != curTag) {
          curG = g; curTag = tag; cum = 0L
          ranks = targetsByTag(tag).flatMap { q =>
            val pos = (n - 1) * q
            Array(math.floor(pos).toLong + 1, math.ceil(pos).toLong + 1)
          }
        }
        cum += cnt
        val lo = cum - cnt
        if (ranks.exists(r => lo < r && cum >= r))
          Iterator.single((g, tag, v, cnt, n, cum))
        else Iterator.empty
      }
    }
    val bracketed = joined
      .repartition(nParts, col("g"), col("tag"))
      .sortWithinPartitions(col("g"), col("tag"), col("v"))
      .select(col("g"), col("tag"), col("v"), col("cnt"), col("n"))
      .as[(String, String, Double, Long, Long)]
      .mapPartitions(bracketPass)
      .toDF("g", "tag", "v", "cnt", "n", "cum")

    def qAgg(tag: String, q: Double, name: String) = {
      val isTag = col("tag") === lit(tag)
      val pos = (col("n") - 1) * lit(q)
      val loRank = floor(pos) + 1
      val hiRank = ceil(pos) + 1
      val loVal = max(when(isTag && col("cum") - col("cnt") < loRank && col("cum") >= loRank, col("v")))
      val hiVal = max(when(isTag && col("cum") - col("cnt") < hiRank && col("cum") >= hiRank, col("v")))
      val fr = max(when(isTag, pos - floor(pos)))
      (loVal + (hiVal - loVal) * fr).as(name)
    }
    val agg = bracketed
      .groupBy(col("g"))
      .agg(
        qAgg("price", 0.5, "p50_raw"),
        qAgg("price", 0.95, "p95_raw"),
        qAgg("qty", 0.25, "qty_p25_raw"))
    // every group of the raw scan owns a row, all-NULL-measure groups too
    val universe = li.select(col("l_returnflag").as("g")).distinct()
    universe.join(broadcast(agg), universe("g") <=> agg("g"), "left")
      .select(
        universe("g").as("l_returnflag"),
        Relational.roundCents(col("p50_raw")).as("p50"),
        Relational.roundCents(col("p95_raw")).as("p95"),
        Relational.roundCents(col("qty_p25_raw")).as("qty_p25"))
      .orderBy(col("l_returnflag"))
  }
}
