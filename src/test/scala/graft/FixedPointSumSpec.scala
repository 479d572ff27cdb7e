package graft

import graft.functions.{FixedPoint, FixedPointSum}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import org.scalatest.funsuite.AnyFunSuite

/** Bit-parity contract of the r20 fixed-point sum: [[FixedPointSum]] must
  * be indistinguishable from `CAST(SUM(CAST(x AS DECIMAL(38,6))) AS
  * DOUBLE)` — per GROUP, compared on raw double BITS (the driver hashes
  * rendered values; a last-ulp difference is a failed round).
  *
  * Two layers:
  *  - pure-JVM: [[FixedPoint.scaled6]] against the BigDecimal reference
  *    over millions of adversarial doubles (every magnitude regime, exact
  *    cents/micros, planted HALF_UP half-boundaries);
  *  - Spark: grouped aggregation equality incl. nulls, empty groups,
  *    partial/merge paths (multi-partition input forces merges).
  */
class FixedPointSumSpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  private def refScaled6(x: Double): Long =
    java.math.BigDecimal.valueOf(x)
      .setScale(6, java.math.RoundingMode.HALF_UP)
      .unscaledValue().longValueExact()

  test("scaled6 == BigDecimal reference over adversarial magnitudes") {
    val rnd = new scala.util.Random(0xf1bed)
    var i = 0
    while (i < 2000000) {
      // sweep magnitude regimes incl. just under the fast bound
      val mag = math.pow(10.0, rnd.nextInt(14) - 4) // 1e-4 .. 1e9
      val x0 = (rnd.nextDouble() * 2 - 1) * mag
      val x = i % 7 match {
        case 0 => x0
        case 1 => math.rint(x0 * 100) / 100 // exact-ish cents
        case 2 => math.rint(x0 * 1e6) / 1e6 // exact-ish micros
        case 3 => (math.rint(x0 * 1e6) + 0.5) / 1e6 // HALF_UP boundary
        case 4 => x0 * (1.0 - rnd.nextDouble() * 1e-15) // ulp neighbors
        case 5 => java.lang.Double.longBitsToDouble(
          java.lang.Double.doubleToLongBits(x0) + rnd.nextInt(5) - 2)
        case _ => x0 / 3.0
      }
      if (!java.lang.Double.isNaN(x) && math.abs(x) < FixedPoint.FastBound) {
        assert(FixedPoint.scaled6(x) === refScaled6(x),
          s"x=$x bits=${java.lang.Double.doubleToLongBits(x)}")
      }
      i += 1
    }
  }

  test("scaled6 exact on denormals, zeros, and known literals") {
    for (x <- Seq(0.0, -0.0, 1.0, -1.0, 0.1, -0.1, 1e-7, 4.9e-7, 5e-7,
        5.1e-7, -5e-7, 1.0000005, 2.5e-6, 123.4567895, 0.9999995,
        java.lang.Double.MIN_VALUE, 3.999999999e9, -3.999999999e9)) {
      assert(FixedPoint.scaled6(x) === refScaled6(x), s"x=$x")
    }
  }

  private val Dec = DecimalType(38, 6)

  private def assertParity(xs: Seq[(Long, java.lang.Double)],
      parts: Int): Unit = {
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(xs.map {
        case (k, v) => org.apache.spark.sql.Row(k, v)
      }, parts),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("k",
          org.apache.spark.sql.types.LongType, nullable = false),
        org.apache.spark.sql.types.StructField("x",
          org.apache.spark.sql.types.DoubleType, nullable = true))))
    val got = df.groupBy($"k")
      .agg(FixedPointSum.fixedSum($"x").as("s"))
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) null else java.lang.Double.valueOf(r.getDouble(1))))
      .toMap
    val want = df.groupBy($"k")
      .agg(sum($"x".cast(Dec)).cast("double").as("s"))
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) null else java.lang.Double.valueOf(r.getDouble(1))))
      .toMap
    assert(got.keySet === want.keySet)
    for ((k, w) <- want) {
      val g = got(k)
      if (w == null) assert(g == null, s"k=$k want null got $g")
      else {
        assert(g != null, s"k=$k want $w got null")
        assert(java.lang.Double.doubleToRawLongBits(g.doubleValue()) ===
          java.lang.Double.doubleToRawLongBits(w.doubleValue()),
          s"k=$k want $w got $g")
      }
    }
  }

  test("grouped sums bit-match the stock decimal form (multi-partition merge path)") {
    val rnd = new scala.util.Random(0xd5a1)
    val rows = (0 until 40000).map { i =>
      val k = (i % 37).toLong
      val x: java.lang.Double = i % 11 match {
        case 0 => null
        case 1 => 0.0
        case 2 => -0.0
        case 3 => (rnd.nextInt(2000000) - 1000000) / 100.0 // cents
        case 4 => rnd.nextDouble() * 1e5 * (if (rnd.nextBoolean()) 1 else -1)
        case 5 => (math.rint(rnd.nextDouble() * 1e12) + 0.5) / 1e6 // boundary
        case 6 => rnd.nextDouble() * 1e-6
        case 7 => rnd.nextDouble() * 1e9 // near fast bound
        case 8 => rnd.nextDouble() * 1e14 // above fast bound: decimal side-slot
        case _ => rnd.nextDouble() * 2e9 - 1e9
      }
      (k, x)
    } ++ Seq((1000L, null: java.lang.Double)) // all-null group => null
    assertParity(rows, parts = 13)
  }

  test("empty-ish groups, all-null groups, and single-row groups") {
    assertParity(Seq(
      (1L, java.lang.Double.valueOf(0.015)),
      (2L, null), (2L, null),
      (3L, java.lang.Double.valueOf(-9.999999)),
      (4L, java.lang.Double.valueOf(1.0000005)),
      (4L, java.lang.Double.valueOf(-1.0000005))), parts = 3)
  }

  test("davg parity: dsum/count composition unchanged") {
    val d = Tables.lineitem(spark, sf)
    val got = d.groupBy($"l_returnflag")
      .agg(Ora.davg($"l_extendedprice").as("a"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val want = d.groupBy($"l_returnflag")
      .agg((sum($"l_extendedprice".cast(Dec)).cast("double") /
        count(lit(1))).as("a"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(got.keySet === want.keySet)
    for ((k, w) <- want)
      assert(java.lang.Double.doubleToRawLongBits(got(k)) ===
        java.lang.Double.doubleToRawLongBits(w), s"k=$k")
  }
}
