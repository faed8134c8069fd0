package graft.operators

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** q32's streaming bracketing pass edge cases the sf oracle can't pin:
  * n = 1 (both bracket ranks collapse to 1 and the interpolation
  * fraction is 0), n = 2 with a fractional 0.95 position, duplicate
  * values whose run covers both bracket ranks, and half-cent midpoints
  * that DuckDB's rounding rule takes away from zero. Every check runs the
  * production plan (the range-partitioned prefix sum, `Relational.q32Stages`)
  * and compares it with `Q32Reference` (the single-reducer value-counts
  * plan, written independently), a hand-computed table or a driver-side
  * brute force. Test names keep the historical words: "escalated" is the
  * production prefix-sum path, "default" the reference plan.
  */
class PercentileEdgeSpec extends AnyFunSuite {
  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "8")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val sf = "/root/testdata/sf0.001"

  private def newDir(): String = java.nio.file.Files
    .createDirectories(java.nio.file.Paths.get(
      s"target/q32edge-${java.util.UUID.randomUUID().toString.take(8)}"))
    .toAbsolutePath.toString

  private def writeEdgeTable(): String = {
    import spark.implicits._
    val dir = newDir()
    Seq(
      // group X: n = 1 -> every quantile is the value itself
      ("X", 10.0, 5.0),
      // group Y: n = 2 -> p50 midpoint, p95 = lo + 0.95*(hi-lo)
      ("Y", 10.0, 1.0), ("Y", 20.0, 3.0),
      // group Z: duplicates -> p50 ranks (2,3) land inside the count-3
      // span of value 5 (one bracketing row carries both ranks)
      ("Z", 5.0, 2.0), ("Z", 5.0, 2.0), ("Z", 5.0, 4.0), ("Z", 7.0, 4.0),
      // group W: the two middle prices are one cent apart, so p50 is the
      // midpoint 52724.244999999995 in doubles: 52724.25 by DuckDB's
      // round(x, 2) (scale by 100, round half away from zero), 52724.24
      // by Spark's. Group V mirrors it below zero. p95 and the qty p25
      // land inside a duplicate run (no interpolation).
      ("W", 52724.24, 1.0), ("W", 52724.24, 1.0), ("W", 52724.25, 1.0), ("W", 52724.25, 1.0),
      ("V", -52724.24, 2.0), ("V", -52724.24, 2.0), ("V", -52724.25, 2.0), ("V", -52724.25, 2.0)
    ).toDF("l_returnflag", "l_extendedprice", "l_quantity")
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    dir
  }

  private val want = List(
    ("V", -52724.25, -52724.24, 2.0),
    ("W", 52724.25, 52724.25, 1.0),
    ("X", 10.0, 10.0, 5.0),
    ("Y", 15.0, 19.5, 1.5),
    // Z prices [5,5,5,7]: p50 pos=1.5 -> both ranks in the 5-run;
    // p95 pos=2.85 -> 5 + 0.85*2 = 6.7; qty [2,2,4,4]: p25 pos=0.75
    // -> ranks (1,2) both value 2
    ("Z", 5.0, 6.7, 2.0))

  private def run(df: org.apache.spark.sql.DataFrame) = df.collect()
    .map(r => (r.getString(0), r.getDouble(1), r.getDouble(2), r.getDouble(3)))
    .toList

  test("q32 exact percentiles: single-row, two-row, and duplicate-value groups") {
    // the reference plan on the hand-computed table
    val dir = writeEdgeTable()
    try {
      val got = run(Q32Reference.percentiles(spark, dir))
      assert(got == want, s"got $got")
    } finally graft.TinyInputs.delete(dir)
  }

  test("q32 escalated prefix-sum path: same edge cases, group runs split across range partitions") {
    // the production range-partitioned prefix sum; with 8 shuffle
    // partitions and 30 (g, tag, v) rows the sampled
    // boundaries place parts of one group's value run in different
    // partitions, so the bracketing pass MUST consume the broadcast
    // offsets to rank correctly (a zero-offset regression returns wrong
    // quantiles here, not a crash)
    val dir = writeEdgeTable()
    try {
      val got = run(Relational.q32Percentiles(spark, dir))
      assert(got == want, s"escalated got $got")
    } finally graft.TinyInputs.delete(dir)
  }

  test("q32 escalated path matches the default path on real sf0.001 data") {
    val dflt = run(Q32Reference.percentiles(spark, sf))
    val esc = run(Relational.q32Percentiles(spark, sf))
    assert(esc == dflt, s"escalated $esc vs default $dflt")
  }

  test("q32 rounds sf0.001 group R's half-cent p50 up, as DuckDB's round does") {
    // quantile_cont is 52724.244999999995 in both engines; DuckDB's
    // round(x, 2) scales by 100 in double and rounds half away from zero
    // (52724.25), where Spark's round(x, 2) would give 52724.24
    val r = run(Relational.q32Percentiles(spark, sf))
      .find(_._1 == "R").getOrElse(fail("no group R"))
    assert(r._2 == 52724.25, s"group R p50 ${r._2}")
  }

  test("q32 dual-path equality on degenerate and seeded-random shapes") {
    // Shapes the oracle corpus and the edge table never hand the ESCALATED
    // path: an all-equal table (boundary sampling degenerates to one key —
    // every range partition but one is empty, offsets must still rank), more
    // groups than shuffle partitions (many groups per value slice in the
    // per-(partition, group) subtotals), duplicate skew where one value
    // carries ~90% of a group's count, and a seeded-random mixture with
    // negative prices. Contract: production ≡ reference exactly — the two
    // plans rank differently (raw rows with broadcast offsets vs value
    // counts from 0) but define the same quantile, so any divergence is a
    // bug in one of them.
    import spark.implicits._
    def table(rows: Seq[(String, Double, Double)]): String = {
      val dir = newDir()
      rows.toDF("l_returnflag", "l_extendedprice", "l_quantity")
        .repartition(3).write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
      dir
    }
    val rnd = new scala.util.Random(7)
    val shapes: Seq[(String, Seq[(String, Double, Double)])] = Seq(
      "all-equal" -> Seq.fill(64)(("A", 5.0, 2.0)),
      "groups>partitions" -> (0 until 40).flatMap(g =>
        Seq((f"g$g%02d", g + 1.0, 1.0), (f"g$g%02d", g + 3.0, 3.0),
          (f"g$g%02d", g + 9.0, 5.0))),
      "skew" -> (Seq.fill(90)(("A", 1.0, 1.0)) ++
        (1 to 10).map(i => ("A", 1.0 + i, 2.0)) ++
        Seq.fill(20)(("B", -3.5, 4.0))),
      "random" -> (0 until 500).map(_ =>
        (Seq("A", "N", "R")(rnd.nextInt(3)),
          (rnd.nextInt(4000) - 2000) / 4.0, (rnd.nextInt(40) + 1).toDouble)),
      // Non-finite measures (a crawl-scale quality score that divided by
      // zero): NaN sorts ABOVE +Inf in Spark's double ordering, so NaN
      // rows land at the top ranks and an interpolation whose bracket
      // touches one goes NaN — the contract here is not a particular
      // value but that BOTH plans (range boundaries sampled over NaN
      // keys included) produce bit-identical output instead of the
      // production path crashing or ranking NaN differently. -0.0 probes
      // the value normalization both plans must share.
      "non-finite" -> (Seq.fill(30)(("A", 2.0, 1.0)) ++ Seq(
        ("A", Double.NaN, 1.0), ("A", Double.PositiveInfinity, 2.0),
        ("A", Double.NegativeInfinity, 3.0), ("A", -0.0, Double.NaN),
        ("B", Double.NaN, Double.NaN)) ++
        (1 to 10).map(i => ("B", i.toDouble, 1.0))))
    // bit-canonical comparison: tuple == is false for (NaN, NaN) even
    // when the plans agree; doubleToLongBits folds every NaN to one
    // pattern and still distinguishes -0.0 from 0.0
    def bits(l: List[(String, Double, Double, Double)]) = l.map { case (g, a, b, c) =>
      (g, java.lang.Double.doubleToLongBits(a),
        java.lang.Double.doubleToLongBits(b), java.lang.Double.doubleToLongBits(c))
    }
    shapes.foreach { case (name, rowsIn) =>
      val dir = table(rowsIn)
      try {
        val e = run(Relational.q32Percentiles(spark, dir))
        val d = run(Q32Reference.percentiles(spark, dir))
        assert(bits(e) == bits(d), s"dual-path divergence on shape $name: esc=$e dflt=$d")
      } finally graft.TinyInputs.delete(dir)
    }
  }

  test("q32 escalated path survives an empty table") {
    import spark.implicits._
    val dir = newDir()
    try {
      Seq.empty[(String, Double, Double)]
        .toDF("l_returnflag", "l_extendedprice", "l_quantity")
        .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
      assert(Relational.q32Percentiles(spark, dir).collect().isEmpty)
      assert(Q32Reference.percentiles(spark, dir).collect().isEmpty)
    } finally graft.TinyInputs.delete(dir)
  }

  test("q32 equals a sort-based brute-force quantile_cont on seeded random tables, both paths") {
    // Independent oracle beyond the DuckDB SFs and the reference plan:
    // sort each group's values driver-side and interpolate with the
    // SAME formula (pos = (n−1)·q; lo + (hi−lo)·frac; round2 = DuckDB's
    // round(x, 2) on a double: scale by 100 in double, round the exact
    // value half away from zero, divide by 100) — IEEE ops in the same
    // order are bit-identical across Catalyst codegen and Scala, so the
    // comparison is exact equality, not a tolerance. Values are quarter-grid so sums/differences stay
    // representable; duplicates and 1-row groups arise naturally from
    // the small value ranges.
    import spark.implicits._
    def round2(d: Double): Double =
      new java.math.BigDecimal(d * 100)
        .setScale(0, java.math.RoundingMode.HALF_UP).doubleValue / 100
    def quantileCont(vs: Array[Double], q: Double): Double = {
      val pos = (vs.length - 1) * q
      val lo = vs(math.floor(pos).toInt)
      val hi = vs(math.ceil(pos).toInt)
      lo + (hi - lo) * (pos - math.floor(pos))
    }
    val rnd = new scala.util.Random(0x5eed32)
    (0 until 8).foreach { t =>
      val nGroups = 1 + rnd.nextInt(5)
      val rows = (0 until (1 + rnd.nextInt(400))).map { _ =>
        (s"G${rnd.nextInt(nGroups)}",
          (rnd.nextInt(8000) - 4000) / 4.0, (rnd.nextInt(200) + 1) / 4.0)
      }
      val expected = rows.groupBy(_._1).toList.sortBy(_._1).map { case (g, rs) =>
        val prices = rs.map(_._2).sorted.toArray
        val qtys = rs.map(_._3).sorted.toArray
        (g, round2(quantileCont(prices, 0.5)), round2(quantileCont(prices, 0.95)),
          round2(quantileCont(qtys, 0.25)))
      }
      val dir = newDir()
      rows.toDF("l_returnflag", "l_extendedprice", "l_quantity")
        .repartition(3).write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
      try {
        val dflt = run(Q32Reference.percentiles(spark, dir))
        val esc = run(Relational.q32Percentiles(spark, dir))
        assert(dflt == expected, s"table $t reference plan: got $dflt want $expected")
        assert(esc == expected, s"table $t production path: got $esc want $expected")
      } finally graft.TinyInputs.delete(dir)
    }
  }
}
