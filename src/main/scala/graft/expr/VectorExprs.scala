package graft.expr

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Cast, Expression, ExpressionInfo, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions.{call_function, typedlit}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, IntegerType, LongType}
import org.apache.spark.sql.SparkSessionExtensions

/** Native Catalyst expressions for the vector hot path (SURVEY.md §4
  * custom-physical list, preference ladder "(b) custom Expression").
  * Catalyst higher-order functions (`zip_with` + `aggregate`) evaluate an
  * interpreted lambda per element; these generate a tight Java loop inside
  * whole-stage codegen instead. Summation is sequential ascending-index —
  * bit-identical to both the HOF formulation and DuckDB's list_dot_product,
  * so oracle parity is preserved. */

/** Shared null semantics for the binary vector kernels: like the
  * `zip_with`+`aggregate` HOF forms they replaced, a LENGTH MISMATCH or a
  * null ELEMENT yields NULL (advice r7 — the earlier min-length truncation
  * silently read garbage on malformed vectors). The per-element null check
  * is emitted only when the array type says `containsNull` — fixed-dim
  * embedding columns keep the branch-free loop. */
trait VecBinaryNulls { self: BinaryExpression =>
  override def nullable: Boolean = true
  protected def elementsNullable: Boolean = Seq(left, right).exists(_.dataType match {
    case ArrayType(_, cn) => cn
    case _ => true
  })
  protected def anyNullElement(x: ArrayData, y: ArrayData, n: Int): Boolean = {
    if (!elementsNullable) return false
    var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return true
      i += 1
    }
    false
  }
}

/** Σ aᵢ·bᵢ over two double arrays (length mismatch / null element → null). */
case class VecDot(left: Expression, right: Expression)
    extends BinaryExpression with VecBinaryNulls {
  override def dataType: DataType = DoubleType
  override def prettyName: String = "vec_dot"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (y.numElements() != n || anyNullElement(x, y, n)) return null
    var s = 0.0
    var i = 0
    while (i < n) { s += x.getDouble(i) * y.getDouble(i); i += 1 }
    s
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      val n = ctx.freshName("n")
      val s = ctx.freshName("s")
      // the null scan is a separate tight loop, emitted only when the
      // array type admits nulls, so the arithmetic loop stays clean for
      // the 100M-pair joins (a fused per-element check measured ~15% on
      // the ANN family)
      val nullScan =
        if (elementsNullable)
          s"""|if (!${ev.isNull}) {
              |  for (int $j = 0; $j < $n; $j++) {
              |    if ($a.isNullAt($j) || $b.isNullAt($j)) { ${ev.isNull} = true; break; }
              |  }
              |}""".stripMargin
        else ""
      s"""
         |int $n = $a.numElements();
         |double $s = 0.0;
         |${ev.isNull} = $b.numElements() != $n;
         |$nullScan
         |if (!${ev.isNull}) {
         |  for (int $i = 0; $i < $n; $i++) {
         |    $s += $a.getDouble($i) * $b.getDouble($i);
         |  }
         |}
         |${ev.value} = $s;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): VecDot = copy(newLeft, newRight)
}

/** Euclidean distance sqrt(Σ(xᵢ−yᵢ)²) with the SAME left-to-right
  * accumulation order as the `zip_with`+`aggregate` HOF form it replaces
  * (and as the oracle's list replay) — bit-identical results, but
  * whole-stage-codegen'd where the HOFs are CodegenFallback (interpreted
  * per row; measured ~6× on the 100M-pair cell-kNN join). */
case class VecEuclid(left: Expression, right: Expression)
    extends BinaryExpression with VecBinaryNulls {
  override def dataType: DataType = DoubleType
  override def prettyName: String = "vec_euclid"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (y.numElements() != n || anyNullElement(x, y, n)) return null
    var s = 0.0
    var i = 0
    while (i < n) {
      val d = x.getDouble(i) - y.getDouble(i)
      s += d * d
      i += 1
    }
    math.sqrt(s)
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      val n = ctx.freshName("n")
      val s = ctx.freshName("s")
      val d = ctx.freshName("d")
      val nullScan =
        if (elementsNullable)
          s"""|if (!${ev.isNull}) {
              |  for (int $j = 0; $j < $n; $j++) {
              |    if ($a.isNullAt($j) || $b.isNullAt($j)) { ${ev.isNull} = true; break; }
              |  }
              |}""".stripMargin
        else ""
      s"""
         |int $n = $a.numElements();
         |double $s = 0.0;
         |${ev.isNull} = $b.numElements() != $n;
         |$nullScan
         |if (!${ev.isNull}) {
         |  for (int $i = 0; $i < $n; $i++) {
         |    double $d = $a.getDouble($i) - $b.getDouble($i);
         |    $s += $d * $d;
         |  }
         |}
         |${ev.value} = java.lang.Math.sqrt($s);
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): VecEuclid = copy(newLeft, newRight)
}

/** Nearest-centroid index: argmin_ci (norms(ci) − 2·v·cents(ci)) — the
  * IVF/PQ/semantic-dedup cell-assignment kernel (‖v−c‖² with the
  * row-constant ‖v‖² dropped; `norms` must be the caller's Σc² so oracle
  * arithmetic is preserved bit-for-bit). Semantically identical to the
  * `array_min(array(struct(d, ci)…))` formulation — same sequential-sum
  * dot, strict-less keeps the lowest index on ties, NaN loses to any
  * non-NaN (Spark's struct ordering) — but one codegen'd loop over a
  * reference-object double[][]: the struct form generates O(nCells·dim)
  * Java source that overflows the JVM method limit past ~64 centroids
  * and drops the whole stage to interpreted eval (measured 20× on the
  * semantic-dedup assignment at 128 cells ×3 plan reuses). */
case class VecNearest(child: Expression, cents: Array[Array[Double]],
    norms: Array[Double]) extends UnaryExpression {
  require(cents.nonEmpty && cents.length == norms.length,
    s"${cents.length} centroids vs ${norms.length} norms")
  override def dataType: DataType = IntegerType
  override def prettyName: String = "vec_nearest"

  override def nullSafeEval(a: Any): Any = {
    val v = a.asInstanceOf[ArrayData]
    var best = 0
    var bd = 0.0
    var ci = 0
    while (ci < cents.length) {
      val c = cents(ci)
      val n = math.min(v.numElements(), c.length)
      var s = 0.0
      var i = 0
      while (i < n) { s += v.getDouble(i) * c(i); i += 1 }
      val d = norms(ci) - 2.0 * s
      if (ci == 0 || d < bd || (bd.isNaN && !d.isNaN)) { bd = d; best = ci }
      ci += 1
    }
    best
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, v => {
      val m = ctx.addReferenceObj("cents", cents, "double[][]")
      val nn = ctx.addReferenceObj("norms", norms, "double[]")
      val ci = ctx.freshName("ci")
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val s = ctx.freshName("s")
      val d = ctx.freshName("d")
      val bd = ctx.freshName("bd")
      val best = ctx.freshName("best")
      val c = ctx.freshName("c")
      s"""
         |int $best = 0;
         |double $bd = 0.0;
         |for (int $ci = 0; $ci < $m.length; $ci++) {
         |  double[] $c = $m[$ci];
         |  int $n = java.lang.Math.min($v.numElements(), $c.length);
         |  double $s = 0.0;
         |  for (int $i = 0; $i < $n; $i++) { $s += $v.getDouble($i) * $c[$i]; }
         |  double $d = $nn[$ci] - 2.0 * $s;
         |  if ($ci == 0 || $d < $bd ||
         |      (java.lang.Double.isNaN($bd) && !java.lang.Double.isNaN($d))) {
         |    $bd = $d; $best = $ci;
         |  }
         |}
         |${ev.value} = $best;
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): VecNearest =
    copy(child = newChild)
}

/** Nearest centroid over QUANTIZED fixed-point long vectors — the
  * integer sibling of [[VecNearest]] for the distributed Lloyd fit
  * (graft.sim.KMeansDist). Returns struct(d: long, cell: int): exact
  * integer Σ(xᵢ−cᵢ)² to the winning centroid, strict-less keeps the
  * lowest cell on ties (the same (d, cell) lexicographic order the
  * oracle's struct-min uses — all distances are non-negative). One fused
  * loop over a reference-object long[][]: the zip_with + aggregate HOF
  * composition materializes an intermediate array per cell per row and
  * evaluates an interpreted lambda per element.
  *
  * Caller contract: per-centroid d² must fit a long —
  * dim · (2·max|x|·10⁶)² < 2⁶³, i.e. max|x| ≲ 95 at dim 64 (unit-scale
  * embeddings are orders of magnitude inside the bound). */
case class VecNearestQ(child: Expression, cents: Array[Array[Long]])
    extends UnaryExpression {
  require(cents.nonEmpty, "no centroids")
  override def dataType: DataType = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("d", LongType, nullable = false),
    org.apache.spark.sql.types.StructField("cell", IntegerType, nullable = false)))
  override def prettyName: String = "vec_nearest_q"

  override def nullSafeEval(a: Any): Any = {
    val v = a.asInstanceOf[ArrayData]
    var best = 0
    var bd = Long.MaxValue
    var ci = 0
    while (ci < cents.length) {
      val c = cents(ci)
      val n = math.min(v.numElements(), c.length)
      var s = 0L
      var i = 0
      while (i < n) { val df = v.getLong(i) - c(i); s += df * df; i += 1 }
      if (s < bd) { bd = s; best = ci }
      ci += 1
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](bd, best))
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, v => {
      val m = ctx.addReferenceObj("cents", cents, "long[][]")
      val ci = ctx.freshName("ci")
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val s = ctx.freshName("s")
      val df = ctx.freshName("df")
      val bd = ctx.freshName("bd")
      val best = ctx.freshName("best")
      val c = ctx.freshName("c")
      s"""
         |int $best = 0;
         |long $bd = java.lang.Long.MAX_VALUE;
         |for (int $ci = 0; $ci < $m.length; $ci++) {
         |  long[] $c = $m[$ci];
         |  int $n = java.lang.Math.min($v.numElements(), $c.length);
         |  long $s = 0L;
         |  for (int $i = 0; $i < $n; $i++) {
         |    long $df = $v.getLong($i) - $c[$i]; $s += $df * $df;
         |  }
         |  if ($s < $bd) { $bd = $s; $best = $ci; }
         |}
         |${ev.value} = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
         |  new Object[]{$bd, $best});
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): VecNearestQ =
    copy(child = newChild)
}

/** Top-TWO nearest quantized centroids — [[VecNearestQ]] that also
  * reports the runner-up cell, for nProbe=2 probing (cell-bounded kNN,
  * streaming ingest filters). Semantics = sort (d, cell) pairs
  * lexicographically, take the first two: ascending-cell iteration with
  * strict-less updates reproduces that exactly. Returns
  * struct(d, cell, d2, cell2); with a single centroid d2/cell2 repeat
  * the best (callers with nCells ≥ 2 never see that). */
case class VecNearest2Q(child: Expression, cents: Array[Array[Long]])
    extends UnaryExpression {
  require(cents.nonEmpty, "no centroids")
  override def dataType: DataType = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("d", LongType, nullable = false),
    org.apache.spark.sql.types.StructField("cell", IntegerType, nullable = false),
    org.apache.spark.sql.types.StructField("d2", LongType, nullable = false),
    org.apache.spark.sql.types.StructField("cell2", IntegerType, nullable = false)))
  override def prettyName: String = "vec_nearest2_q"

  override def nullSafeEval(a: Any): Any = {
    val v = a.asInstanceOf[ArrayData]
    var b1 = 0; var d1 = Long.MaxValue
    var b2 = 0; var d2v = Long.MaxValue
    var ci = 0
    while (ci < cents.length) {
      val c = cents(ci)
      val n = math.min(v.numElements(), c.length)
      var s = 0L
      var i = 0
      while (i < n) { val df = v.getLong(i) - c(i); s += df * df; i += 1 }
      if (s < d1) { d2v = d1; b2 = b1; d1 = s; b1 = ci }
      else if (s < d2v) { d2v = s; b2 = ci }
      ci += 1
    }
    if (cents.length == 1) { d2v = d1; b2 = b1 }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](d1, b1, d2v, b2))
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, v => {
      val m = ctx.addReferenceObj("cents", cents, "long[][]")
      val ci = ctx.freshName("ci")
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val s = ctx.freshName("s")
      val df = ctx.freshName("df")
      val d1 = ctx.freshName("d1")
      val b1 = ctx.freshName("b1")
      val d2 = ctx.freshName("d2")
      val b2 = ctx.freshName("b2")
      val c = ctx.freshName("c")
      s"""
         |int $b1 = 0; long $d1 = java.lang.Long.MAX_VALUE;
         |int $b2 = 0; long $d2 = java.lang.Long.MAX_VALUE;
         |for (int $ci = 0; $ci < $m.length; $ci++) {
         |  long[] $c = $m[$ci];
         |  int $n = java.lang.Math.min($v.numElements(), $c.length);
         |  long $s = 0L;
         |  for (int $i = 0; $i < $n; $i++) {
         |    long $df = $v.getLong($i) - $c[$i]; $s += $df * $df;
         |  }
         |  if ($s < $d1) { $d2 = $d1; $b2 = $b1; $d1 = $s; $b1 = $ci; }
         |  else if ($s < $d2) { $d2 = $s; $b2 = $ci; }
         |}
         |if ($m.length == 1) { $d2 = $d1; $b2 = $b1; }
         |${ev.value} = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
         |  new Object[]{$d1, $b1, $d2, $b2});
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): VecNearest2Q =
    copy(child = newChild)
}

/** Validating projection for the vector kernels: returns the input array
  * unchanged but typed `ArrayType(DoubleType, containsNull = false)`, or
  * NULL if any element is null. The point is WHERE the null scan runs:
  * once per ROW at projection time, instead of once per PAIR inside the
  * join kernels — parquet list elements are declared nullable even when
  * no null ever occurs, so without this every VecDot/VecEuclid in a
  * 100M-pair loop re-scans both operands (measured ~15% on the ANN
  * family). Downstream kernels see containsNull = false and emit the
  * branch-free loop. */
case class VecValidate(child: Expression) extends UnaryExpression {
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "vec_validate"

  override def nullSafeEval(a: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val n = x.numElements()
    var i = 0
    while (i < n) {
      if (x.isNullAt(i)) return null
      i += 1
    }
    x
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      s"""
         |int $n = $a.numElements();
         |for (int $i = 0; $i < $n; $i++) {
         |  if ($a.isNullAt($i)) { ${ev.isNull} = true; break; }
         |}
         |${ev.value} = $a;
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): VecValidate =
    copy(child = newChild)
}

/** Hamming distance of two int64 bit patterns (SimHash comparison). */
case class BitHamming(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = LongType
  override def prettyName: String = "bit_hamming"

  override def nullSafeEval(a: Any, b: Any): Any =
    java.lang.Long.bitCount(a.asInstanceOf[Long] ^ b.asInstanceOf[Long]).toLong

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = (long) java.lang.Long.bitCount($a ^ $b);")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): BitHamming = copy(newLeft, newRight)
}

/** Function registration: session-local (`GraftFunctions.register`) or via
  * `spark.sql.extensions=graft.expr.GraftExtensions` for SQL users. */
object GraftFunctions {
  // explicit input casts (AbstractDataType/ExpectsInputTypes are
  // private[sql], so implicit-cast declaration isn't available here)
  // preserve the child's containsNull through the cast: a blanket
  // ArrayType(DoubleType) target re-declares every operand nullable and
  // forces the kernels' per-pair null scan even on arrays Catalyst knows
  // are null-free (literal centroid arrays, vec_validate projections)
  private def asDoubles(e: Expression): Expression = e.dataType match {
    case ArrayType(DoubleType, cn) if !cn => e
    case ArrayType(_, cn) => Cast(e, ArrayType(DoubleType, cn))
    case _ => Cast(e, ArrayType(DoubleType))
  }
  private def asLong(e: Expression): Expression = Cast(e, LongType)
  private def litInt(e: Expression): Int =
    e.eval().asInstanceOf[Number].intValue()
  private def litMatrix(e: Expression): Array[Array[Double]] = {
    val ad = e.eval().asInstanceOf[ArrayData]
    Array.tabulate(ad.numElements())(i => ad.getArray(i).toDoubleArray())
  }
  private def litMatrixL(e: Expression): Array[Array[Long]] = {
    val ad = e.eval().asInstanceOf[ArrayData]
    Array.tabulate(ad.numElements())(i => ad.getArray(i).toLongArray())
  }
  private def litVec(e: Expression): Array[Double] =
    e.eval().asInstanceOf[ArrayData].toDoubleArray()
  private val fns: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "vec_dot" -> (es => VecDot(asDoubles(es(0)), asDoubles(es(1)))),
    "vec_euclid" -> (es => VecEuclid(asDoubles(es(0)), asDoubles(es(1)))),
    "vec_validate" -> (es => VecValidate(asDoubles(es(0)))),
    "vec_nearest" -> (es =>
      VecNearest(asDoubles(es(0)), litMatrix(es(1)), litVec(es(2)))),
    "vec_nearest_q" -> (es =>
      VecNearestQ(Cast(es(0), ArrayType(LongType)), litMatrixL(es(1)))),
    "vec_nearest2_q" -> (es =>
      VecNearest2Q(Cast(es(0), ArrayType(LongType)), litMatrixL(es(1)))),
    "bit_hamming" -> (es => BitHamming(asLong(es(0)), asLong(es(1)))),
    "minhash_sig" -> (es => MinHashSig(es(0), litInt(es(1)), litInt(es(2)))),
    "cdc_chunks" -> (es =>
      CdcChunks(es(0), litInt(es(1)), litInt(es(2)), litInt(es(3)))),
    "hash56_md5" -> (es => Hash56(es(0))),
    "sorted_inter_count" -> (es => SortedInterCount(es(0), es(1))),
    "winnow_fp" -> (es => Winnow(es(0), litInt(es(1)), litInt(es(2)))),
    "jaro_winkler" -> (es => JaroWinkler(es(0), es(1))))

  def register(spark: SparkSession): Unit = fns.foreach { case (name, builder) =>
    val reg = spark.sessionState.functionRegistry
    // idempotent: operators call this on every invocation, and re-replacing
    // an existing entry logs a "function replaced" WARN per call
    if (!reg.functionExists(FunctionIdentifier(name)))
      reg.createOrReplaceTempFunction(name, builder, "built-in")
  }

  def vecDot(a: Column, b: Column)(implicit spark: SparkSession): Column = {
    register(spark)
    call_function("vec_dot", a, b)
  }

  /** Nearest-centroid cell column. `norms` must be the Σc² values the
    * caller's oracle SQL uses (LocalKMeans.dotSeq(c, c)) — the expression
    * reuses them verbatim so parity with the unrolled struct-argmin SQL
    * is bit-exact. */
  def vecNearest(spark: SparkSession, v: Column,
      cents: Array[Array[Double]], norms: Array[Double]): Column = {
    register(spark)
    call_function("vec_nearest", v,
      typedlit(cents.map(_.toSeq).toSeq), typedlit(norms.toSeq))
  }

  /** struct(d, cell) of the nearest quantized centroid (exact integer
    * d² — see [[VecNearestQ]]'s magnitude contract). */
  def vecNearestQ(spark: SparkSession, v: Column,
      cents: Array[Array[Long]]): Column = {
    register(spark)
    call_function("vec_nearest_q", v, typedlit(cents.map(_.toSeq).toSeq))
  }

  /** struct(d, cell, d2, cell2) — nearest + runner-up cell. */
  def vecNearest2Q(spark: SparkSession, v: Column,
      cents: Array[Array[Long]]): Column = {
    register(spark)
    call_function("vec_nearest2_q", v, typedlit(cents.map(_.toSeq).toSeq))
  }

  /** DuckDB-parity Jaro–Winkler similarity (see [[JaroWinkler]]). */
  def jaroWinkler(spark: SparkSession, a: Column, b: Column): Column = {
    register(spark)
    call_function("jaro_winkler", a, b)
  }
}

/** `SparkSessionExtensions` hook so the functions exist in every session
  * of a cluster configured with spark.sql.extensions. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((FunctionIdentifier("vec_dot"),
      new ExpressionInfo(classOf[VecDot].getName, "vec_dot"),
      (es: Seq[Expression]) => VecDot(Cast(es(0), ArrayType(DoubleType)),
        Cast(es(1), ArrayType(DoubleType)))))
    ext.injectFunction((FunctionIdentifier("bit_hamming"),
      new ExpressionInfo(classOf[BitHamming].getName, "bit_hamming"),
      (es: Seq[Expression]) => BitHamming(Cast(es(0), LongType), Cast(es(1), LongType))))
    ext.injectFunction((FunctionIdentifier("minhash_sig"),
      new ExpressionInfo(classOf[MinHashSig].getName, "minhash_sig"),
      (es: Seq[Expression]) => MinHashSig(es(0),
        es(1).eval().asInstanceOf[Number].intValue(),
        es(2).eval().asInstanceOf[Number].intValue())))
    ext.injectFunction((FunctionIdentifier("winnow_fp"),
      new ExpressionInfo(classOf[Winnow].getName, "winnow_fp"),
      (es: Seq[Expression]) => Winnow(es(0),
        es(1).eval().asInstanceOf[Number].intValue(),
        es(2).eval().asInstanceOf[Number].intValue())))
    ext.injectFunction((FunctionIdentifier("jaro_winkler"),
      new ExpressionInfo(classOf[JaroWinkler].getName, "jaro_winkler"),
      (es: Seq[Expression]) => JaroWinkler(es(0), es(1))))
  }
}
