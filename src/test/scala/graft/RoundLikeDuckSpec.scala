package graft

import graft.expr.RoundLikeDuck
import java.lang.Double.doubleToRawLongBits
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType

/** Bit-equality pins for `core.roundLikeDuck` as one native expression
  * (graft.expr.RoundLikeDuck): inside whole-stage codegen and evaluated
  * interpreted, it must give the same 64 bits as the CASE/floor Column
  * tree it replaced — kept here as the reference — for every p in 4…9,
  * on NaN, ±∞, ±0.0, null, exact half-way products, the 1e12 guard's
  * edges and 2⁵³/10ᵖ, on long, int and decimal children, and under an
  * aggregate and a window. */
class RoundLikeDuckSpec extends SparkSpec {
  import spark.implicits._

  /** The Column tree `core.roundLikeDuck` built before it was one
    * expression. */
  private def reference(c: Column, p: Int): Column = {
    val f = math.pow(10, p)
    val r = when(c.isNull, c)
      .when(c >= 0, floor(c * f + 0.5) / f)
      .otherwise(-floor(-c * f + 0.5) / f)
    when(abs(c) >= 1e12, c)
      .otherwise(when(r === 0.0, lit(0.0)).otherwise(r))
  }

  private def bits(r: org.apache.spark.sql.Row, i: Int): Option[Long] =
    if (r.isNullAt(i)) None else Some(doubleToRawLongBits(r.getDouble(i)))

  private def interpreted(x: Option[Double], p: Int): Option[Long] =
    Option(RoundLikeDuck(Literal.create(x.map(Double.box).orNull, DoubleType), p).eval())
      .map(v => doubleToRawLongBits(v.asInstanceOf[Double]))

  /** Every (x, p) where codegen, interpreted and the reference do not all
    * give the same bits. */
  private def mismatches(xs: Seq[Option[Double]]): Seq[String] = {
    // an RDD scan, not a local relation: the optimizer would fold a
    // projection over local rows (interpreted) before codegen sees it
    val df = spark.sparkContext.parallelize(xs, 2).toDF("v")
    (4 to 9).flatMap { p =>
      val q = df.select(col("v"), core.roundLikeDuck(col("v"), p).as("got"),
        reference(col("v"), p).as("want"))
      assert(q.queryExecution.executedPlan.collect {
          case w: org.apache.spark.sql.execution.WholeStageCodegenExec => w
        }.exists(_.child.toString.contains("round_like_duck")),
        "the expression runs inside whole-stage codegen")
      q.collect().toSeq.flatMap { r =>
        val x = if (r.isNullAt(0)) None else Some(r.getDouble(0))
        val (got, want, interp) = (bits(r, 1), bits(r, 2), interpreted(x, p))
        if (got == want && interp == want) None
        else Some(s"p=$p x=$x got=$got interpreted=$interp want=$want")
      }
    }
  }

  private def halfWays(p: Int): Seq[Double] = {
    val f = math.pow(10, p)
    Seq(0L, 1L, 2L, 7L, 12345L, 440662L, 99999999L).flatMap { k =>
      val x = (k + 0.5) / f
      Seq(x, -x, math.nextUp(x), math.nextDown(x))
    }
  }

  test("round_like_duck equals the CASE/floor tree bit for bit on the edge cases") {
    val two53 = math.pow(2, 53)
    val edges = Seq(Double.NaN, Double.PositiveInfinity, Double.NegativeInfinity,
      0.0, -0.0, Double.MinPositiveValue, -Double.MinPositiveValue,
      705.06 / 16, 1e12, math.nextDown(1e12), math.nextUp(1e12),
      1e18, Double.MaxValue) ++
      (4 to 9).flatMap(p => halfWays(p) ++ {
        val x = two53 / math.pow(10, p)
        Seq(x, math.nextUp(x), math.nextDown(x), math.floor(x) + 0.5)
      })
    val xs = (edges ++ edges.map(-_)).map(Option(_)) :+ None
    val bad = mismatches(xs)
    assert(bad.isEmpty, bad.take(10).mkString("; "))
  }

  test("round_like_duck equals the CASE/floor tree bit for bit (scalacheck)") {
    import org.scalacheck.{Arbitrary, Gen, Prop, Test => Check}
    val x = Gen.frequency(
      3 -> Gen.choose(-1e13, 1e13),
      3 -> Gen.choose(-10.0, 10.0),
      2 -> (for { k <- Gen.choose(-10000000L, 10000000L); p <- Gen.choose(4, 9) }
        yield (k + 0.5) / math.pow(10, p)),
      2 -> Arbitrary.arbitrary[Double],
      1 -> Gen.oneOf(Double.NaN, Double.PositiveInfinity, -0.0))
    val prop = Prop.forAll(Gen.listOfN(200, Gen.option(x)))(mismatches(_).isEmpty)
    val res = Check.check(Check.Parameters.default.withMinSuccessfulTests(5), prop)
    assert(res.passed, res.status.toString)
  }

  test("round_like_duck on long, int and decimal children computes in double") {
    val rows = Seq[(java.lang.Long, java.lang.Integer, java.math.BigDecimal)](
      (0L, 0, new java.math.BigDecimal("0.000000")),
      (-7L, -7, new java.math.BigDecimal("-1.234565")),
      (123456789012345L, Int.MaxValue, new java.math.BigDecimal("44.066250")),
      (-123456789012345L, -Int.MaxValue, new java.math.BigDecimal("-99999999999999.999999")),
      (999999999999L, 1, new java.math.BigDecimal("0.000050")),
      (null, null, null))
    val df = spark.sparkContext.parallelize(rows, 2).toDF("l", "i", "d")
      .select(col("l"), col("i"), col("d").cast("decimal(20,6)").as("d"))
    for (p <- 4 to 9; c <- Seq("l", "i", "d")) {
      val q = df.select(core.roundLikeDuck(col(c), p).as("got"),
        reference(col(c), p).as("want"))
      assert(q.schema("got").dataType == DoubleType)
      val bad = q.collect().filter(r => bits(r, 0) != bits(r, 1))
      assert(bad.isEmpty, s"$c p=$p: ${bad.mkString("; ")}")
    }
  }

  test("round_like_duck over an aggregate and a window child") {
    val df = Seq(("a", 705.06 / 16), ("a", -0.00005), ("b", -1.23455),
      ("b", 2.5e-5), ("c", Double.NaN), ("c", 1.0)).toDF("k", "v")
    def same(q: DataFrame): Unit = {
      val bad = q.collect().filter(r => bits(r, 1) != bits(r, 2))
      assert(bad.isEmpty, bad.mkString("; "))
    }
    same(df.groupBy("k").agg(core.roundLikeDuck(min("v"), 4),
      reference(min("v"), 4)))
    same(df.groupBy("k").agg(core.roundLikeDuck(avg("v"), 4),
      reference(avg("v"), 4)))
    val w = Window.partitionBy("k")
    same(df.select(col("k"), core.roundLikeDuck(avg("v").over(w), 6),
      reference(avg("v").over(w), 6)))
  }

  test("round_like_duck refuses p outside 4…9") {
    for (p <- Seq(3, 10))
      intercept[IllegalArgumentException](core.roundLikeDuck(col("v"), p))
  }
}
