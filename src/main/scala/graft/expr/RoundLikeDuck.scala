package graft.expr

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, DoubleType}

/** DuckDB's `round(x, p)` on a double as ONE native expression — the
  * body of [[graft.core.roundLikeDuck]], which every query's `canon`
  * applies to each double column. As a Column, the same program is a
  * ~50-node CASE/floor tree per column, and resolving those trees took a
  * quarter of the driver's DataFrame-build time on short queries.
  *
  * The float program is the tree's, op for op (see [[RoundLikeDuck.round]]):
  * NaN, ±∞ and |x| ≥ 1e12 pass through; otherwise x·f + 0.5 (or
  * −x·f + 0.5 for x < 0) is floored to a LONG, as Spark's `floor` on a
  * double does (`(long) Math.floor`, which clamps), and divided by f; a
  * zero result is +0.0. `f` = 10^p. The child must be a double — the
  * Column builder casts it. Null in, null out. RoundLikeDuckSpec pins bit
  * equality with the Column tree, codegen and interpreted. */
case class RoundLikeDuck(child: Expression, p: Int) extends UnaryExpression {
  private val f = math.pow(10, p)

  override def dataType: DataType = DoubleType
  // nullable like the tree (its divisions were), so the schemas of the
  // frames it ends stay as they were
  override def nullable: Boolean = true
  override def prettyName: String = "round_like_duck"

  override def nullSafeEval(input: Any): Any =
    RoundLikeDuck.round(input.asInstanceOf[Double], f)

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.expr.RoundLikeDuck.round($c, ${f}D)")

  override protected def withNewChildInternal(newChild: Expression): RoundLikeDuck =
    copy(child = newChild)
}

object RoundLikeDuck {
  /** Half away from zero on the float product x·f. Spark orders NaN above
    * every double, so the tree's `abs(x) >= 1e12` guard let NaN through
    * too; `!(|x| < 1e12)` is that guard in Java comparisons. The tree
    * negated after its LONG cast; negating before it differs only at the
    * clamp (−Long.MaxValue vs Long.MinValue), which are one double. */
  def round(x: Double, f: Double): Double = {
    if (!(math.abs(x) < 1e12)) return x
    val r = graft.core.scaledHalfAway(x, f).toLong.toDouble / f
    if (r == 0.0) 0.0 else r
  }
}
