package graft

import graft.engine.Det
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** `Det.half`/`Det.quant` are the only spelling of the P12 rounding rule
  * in main code: they must give the values of the hand-written
  * `floor(x·10^s + 0.5)` forms they replaced, and for a double argument
  * the same optimized plan. */
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
