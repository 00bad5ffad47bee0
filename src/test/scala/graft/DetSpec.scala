package graft

import graft.engine.Det
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** `Det.half`/`Det.quant` are the only spelling of the P12 rounding rule
  * in main code: they must give the values of the hand-written
  * `floor(x·10^s + 0.5)` forms they replaced (as Columns and as driver-side
  * Doubles), and for a double Column the same optimized plan. */
class DetSpec extends SparkSpec {
  import spark.implicits._

  // ±k.5 ties (0.03125·10⁴ = 312.5 and 0.0078125·10⁶ = 7812.5 are exact),
  // negatives, values near 2^53, NaN and null
  private val xs: Seq[Option[Double]] = Seq(0.5, -0.5, 2.5, -2.5, -3.5, 0.0,
    0.03125, -0.03125, 0.0078125, -0.0078125, 1.23456789, -9.87654321,
    math.pow(2, 51) + 0.5, -(math.pow(2, 51) + 0.5), math.pow(2, 53) - 1,
    -(math.pow(2, 53) - 1), 9.007199254740991e11, Double.NaN).map(Some(_)) :+ None

  private def same(df: DataFrame, a: Column, b: Column): Unit = {
    val rows = df.select(col("x"), a.as("a"), b.as("b")).collect()
    assert(rows.length == xs.length)
    for (r <- rows)
      assert(java.util.Objects.equals(r.get(1), r.get(2)),
        s"x=${r.get(0)}: helper ${r.get(1)} vs hand-written ${r.get(2)}")
  }

  test("half and quant equal the hand-written floor(x + 0.5) forms") {
    val df = xs.toDF("x")
    val x = col("x")
    same(df, Det.half(x), floor(x + lit(0.5)))
    same(df, Det.fix(x, 4), floor(x * 10000 + lit(0.5)))
    same(df, Det.quant(x, 4), floor(x * 10000 + lit(0.5)).cast("double") / 10000)
    same(df, Det.quant(x, 6), floor(x * 1000000 + lit(0.5)) / 1000000)
    same(df, Det.wide(Det.half(x)), floor(x + lit(0.5)).cast("decimal(38,0)"))

    // the driver-side Double overloads, over the same inputs
    def sameD(a: Double, b: Double, x: Double): Unit =
      assert(java.lang.Double.compare(a, b) == 0, s"x=$x: helper $a vs hand-written $b")
    for (x <- xs.flatten) {
      sameD(Det.half(x), math.floor(x + 0.5), x)
      assert(Det.fix(x, 4) == math.floor(x * 10000 + 0.5).toLong, s"x=$x")
      sameD(Det.quant(x, 4), math.floor(x * 10000 + 0.5) / 10000, x)
      sameD(Det.quant(x, 6), math.floor(x * 1e6 + 0.5) / 1e6, x)
      sameD(Det.quant(x, 9), math.floor(x * 1e9 + 0.5) / 1e9, x)
    }
  }

  test("quant(x, 4) on a double x plans as floor(x*10000 + 0.5) / 10000") {
    // a Range source, so the optimizer cannot fold the projection away
    val df = spark.range(10).select((col("id") / 7).as("x"))
    def plan(c: Column): String =
      df.select(c.as("q")).queryExecution.optimizedPlan.toString
        .replaceAll("#\\d+L?", "#")
    val x = col("x")
    assert(plan(Det.quant(x, 4)) == plan(floor(x * 10000 + lit(0.5)) / 10000))
    assert(plan(Det.quant(x, 4)) ==
      plan(floor(x * 10000 + lit(0.5)).cast("double") / 10000))
    assert(plan(Det.fix(x, 6)) == plan(floor(x * 1000000 + lit(0.5))))
  }
}
