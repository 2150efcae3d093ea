package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.{Bridge, FixedPointSum}
import org.apache.spark.sql.types.DecimalType
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** [[FixedPointSum]] — the int128 fixed-point sum aggregate must be
  * bit-identical to Spark's stock `sum(CAST(x AS DECIMAL(18,s)))
  * .cast("double")` on every path (partial/final merge, window frames,
  * nulls), and within 1 ulp of an exact BigDecimal reference once the
  * unscaled sum leaves int64 range (the documented wide path).
  */
class FixedPointSumSpec extends SparkSpecBase {
  import spark.implicits._

  // deterministic forAll shim (no scalatestplus bridge offline — same
  // pattern as PropertySpec)
  private def forAll[A, B](g1: Gen[A], g2: Gen[B])(f: (A, B) => Unit): Unit =
    (0 until 20).flatMap(i =>
      Gen.zip(g1, g2).apply(Gen.Parameters.default, Seed(42L + i)))
      .foreach { case (a, b) => f(a, b) }

  private def stock(c: Column, s: Int): Column =
    sum(c.cast(DecimalType(18, s))).cast("double")
  private def fx(c: Column, s: Int): Column = FixedPointSum.dsum(c, s)

  private def parity(values: Seq[(Int, Double)], scale: Int): Unit = {
    val df = values.toDF("g", "v").repartition(7, col("g"))
    val a = df.groupBy("g").agg(stock(col("v"), scale).as("s"))
      .orderBy("g").collect().map(_.toString)
    val b = df.groupBy("g").agg(fx(col("v"), scale).as("s"))
      .orderBy("g").collect().map(_.toString)
    assert(a.sameElements(b), s"scale=$scale\n stock=${a.mkString(",")}\n fx=${b.mkString(",")}")
  }

  test("bit-identical to the stock decimal sum (grouped, shuffled partials)") {
    val vs = (1 to 5000).map(i =>
      (i % 13, math.rint((math.sin(i) * 1e6) * 100) / 100.0))
    parity(vs, 2)
    parity(vs, 4)
    parity(vs, 6)
  }

  test("negative, tiny and large money values, all scales") {
    val vs = Seq(0.01, -0.01, 0.005, -0.005, 99999999.99, -99999999.99,
      123.456, -123.456, 0.0, 1e-9, -1e-9).zipWithIndex.map(p => (p._2 % 3, p._1))
    for (s <- Seq(0, 2, 4, 6)) parity(vs, s)
  }

  test("property: random doubles match the stock decimal sum bitwise") {
    val genV = Gen.chooseNum(-1e9, 1e9)
    forAll(Gen.listOfN(200, genV), Gen.oneOf(0, 2, 4)) { (xs, s) =>
      parity(xs.zipWithIndex.map(p => (p._2 % 5, p._1)), s)
    }
  }

  test("nulls are skipped; an all-null group yields null") {
    val df = Seq((1, Some(2.5)), (1, None), (1, Some(0.5)), (2, None))
      .toDF("g", "v")
    val rows = df.groupBy("g").agg(fx(col("v"), 2).as("s"))
      .orderBy("g").collect()
    assert(rows(0).getDouble(1) == 3.0)
    assert(rows(1).isNullAt(1))
  }

  test("window running frame parity with the stock decimal sum") {
    val w = Window.partitionBy(col("g")).orderBy(col("i"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val df = (1 to 300).map(i => (i % 4, i, i * 1.01)).toDF("g", "i", "v")
    val a = df.select(col("g"), col("i"),
      sum(col("v").cast(DecimalType(18, 2))).over(w).cast("double").as("r"))
      .orderBy("g", "i").collect().map(_.toString)
    val b = df.select(col("g"), col("i"), fx(col("v"), 2).over(w).as("r"))
      .orderBy("g", "i").collect().map(_.toString)
    assert(a.sameElements(b))
  }

  test("SQL-registered dsum(x, scale) matches the stock decimal sum") {
    // dsum comes with the factory-built spec session (GraftExtensions)
    val df = (1 to 1000).map(i => (i % 7, i * 1.37)).toDF("g", "v")
    df.createOrReplaceTempView("fx_sql_t")
    val ref = spark.sql(
      "SELECT g, CAST(sum(CAST(v AS DECIMAL(18,2))) AS DOUBLE) AS s " +
      "FROM fx_sql_t GROUP BY g ORDER BY g")
    // the reference must be Spark's own decimal sum, else the parity
    // below compares the int128 aggregate with itself
    val aggs = ref.queryExecution.optimizedPlan.flatMap(_.expressions.flatMap(_.collect {
      case a: org.apache.spark.sql.catalyst.expressions.aggregate.AggregateFunction => a
    }))
    assert(aggs.exists(_.isInstanceOf[org.apache.spark.sql.catalyst.expressions.aggregate.Sum]) &&
      !aggs.exists(_.isInstanceOf[FixedPointSum]), s"reference is not a stock sum: $aggs")
    val a = ref.collect().map(_.toString)
    val b = spark.sql(
      "SELECT g, dsum(v, 2) AS s FROM fx_sql_t GROUP BY g ORDER BY g")
      .collect().map(_.toString)
    assert(a.sameElements(b))
  }

  test("dsumD (rint feed) matches the decimal-cast feed on decimal-representable data") {
    // every value exactly representable at the target scale — the class
    // where rint (DuckDB cast) and shortest-repr HALF_UP (Spark cast)
    // provably agree; this is all money/quantity data
    val vs = (1 to 5000).map(i => (i % 11, math.rint(math.sin(i) * 1e8) / 100.0))
    val df = vs.toDF("g", "v").repartition(7, col("g"))
    for (s <- Seq(2, 4, 6)) {
      val a = df.groupBy("g").agg(FixedPointSum.dsum(col("v"), s).as("s"))
        .orderBy("g").collect().map(_.toString)
      val b = df.groupBy("g").agg(FixedPointSum.dsumD(col("v"), s).as("s"))
        .orderBy("g").collect().map(_.toString)
      assert(a.sameElements(b), s"scale=$s")
    }
  }

  test("scaledLong is the oracle's cast: rint half-even on mid-ulp ties") {
    // 0.125 at scale 2 is an exact double mid-tie: DuckDB's cast
    // (nearbyint(x*100)) rounds half-even to 0.12; Spark's stock cast
    // (shortest-repr + HALF_UP) gives 0.13. scaledLong must take the
    // ORACLE's side of the documented divergence.
    val df = Seq(0.125, -0.125, 0.135, 2.5).toDF("v")
    val got = df.select(FixedPointSum.scaledLong(col("v"), 2).as("u"))
      .collect().map(_.getLong(0)).toSeq
    assert(got == Seq(12L, -12L, 14L, 250L), got)
    val stock = df.select(col("v").cast(DecimalType(18, 2)).as("d"))
      .collect().map(_.getDecimal(0).unscaledValue().longValue()).toSeq
    assert(stock == Seq(13L, -13L, 14L, 250L), stock) // the divergence is real
  }

  test("scaledLong: nulls pass through; overflow and NaN throw") {
    val rows = Seq(Some(1.25), None, Some(-3.0)).toDF("v")
      .select(FixedPointSum.scaledLong(col("v"), 2).as("u")).collect()
    assert(rows(0).getLong(0) == 125L && rows(1).isNullAt(0) && rows(2).getLong(0) == -300L)
    for (bad <- Seq(1e18, Double.NaN, Double.PositiveInfinity)) {
      val e = intercept[Exception] {
        Seq(bad).toDF("v").select(FixedPointSum.scaledLong(col("v"), 2)).collect()
      }
      def msgs(t: Throwable): Seq[String] =
        Option(t).toSeq.flatMap(x => x.getMessage +: msgs(x.getCause))
      assert(msgs(e).exists(m => m != null && m.contains("double_to_scaled_long overflow")), e)
    }
  }

  test("sum_charge chain: scaled-long product == decimal product, bitwise") {
    // the q01 shape: (scale-4 long) × (scale-2 long) summed at scale 6
    // vs the decimal (18,4)×(8,2) product summed by the cast-feed dsum
    val df = (1 to 3000)
      .map(i => (i % 5, 1000.0 + (i % 997) * 1.01, (i % 9) * 0.01, (i % 7) * 0.01))
      .toDF("g", "price", "disc", "tax")
    val viaLongs = df.groupBy("g").agg(FixedPointSum.sumScaled(
        FixedPointSum.scaledLong(col("price") * (lit(1) - col("disc")), 4)
          * FixedPointSum.scaledLong(lit(1) + col("tax"), 2), 6).as("s"))
      .orderBy("g").collect().map(_.toString)
    val viaDecimal = df.groupBy("g").agg(FixedPointSum.dsum(
        (col("price") * (lit(1) - col("disc"))).cast(DecimalType(18, 4))
          * (lit(1) + col("tax")).cast(DecimalType(8, 2)), 6).as("s"))
      .orderBy("g").collect().map(_.toString)
    assert(viaLongs.sameElements(viaDecimal))
  }

  test("dsumD executes inside whole-stage codegen (no interpreted fallback)") {
    val df = (1 to 100).map(i => (i % 3, i * 1.01)).toDF("g", "v")
      .groupBy("g").agg(FixedPointSum.dsumD(col("v"), 2).as("s"))
    df.collect() // materialize so AQE finalizes the physical plan
    val plan = df.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan
      case p => p
    }
    // the final AND partial HashAggregates (with the rint feed and the
    // int128 limb updates) must both carry the whole-stage-codegen
    // marker `*(n)` (AQE query stages hide their subtrees from
    // SparkPlan.collect, so assert on the rendered tree)
    val rendered = plan.toString
    val aggLines = rendered.linesIterator
      .filter(_.contains("HashAggregate")).toSeq
    assert(aggLines.size == 2 && aggLines.forall(_.contains("*(")), rendered)
    assert(rendered.contains("double_to_scaled_long"), rendered)
  }

  test("wide path: unscaled sums beyond int64 are EXACTLY single-rounded") {
    // feed pre-scaled longs straight into the aggregate: sums overflow
    // int64 into the hi limb; Int128ToDouble must reproduce the
    // BigDecimal-exact single rounding BITWISE (the old double-space
    // hi/lo recombination drifted 1 ulp on shapes like the +1 tail)
    for ((longs, s) <- Seq(
        (Seq.fill(40)(900000000000000000L) ++ Seq.fill(10)(-7L), 0),
        (Seq.fill(40)(900000000000000000L) ++ Seq(1L), 2),
        (Seq.fill(97)(-837203685477580712L) ++ Seq(13L, -1L), 4))) {
      val df = longs.toDF("v").repartition(5)
      val agg = Bridge.column(
        FixedPointSum(Bridge.expression(col("v")), s).toAggregateExpression())
      val got = df.agg(agg.as("s")).collect()(0).getDouble(0)
      val exact = (longs.map(BigDecimal(_)).sum / BigDecimal(10).pow(s)).toDouble
      assert(got == exact, s"scale=$s got=$got exact=$exact diff=${got - exact}")
    }
  }
}
