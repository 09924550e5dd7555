package graft

import graft.expr.LevenshteinWithin
import org.apache.spark.sql.GraftColumnBridge.{column, expression}
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

/** Equivalence pins for the bounded edit-distance kernel
  * (graft.expr.LevenshteinWithin): it must equal
  * `UTF8String.levenshteinDistance(other) <= k` — Spark's `levenshtein`,
  * the distance q211 was defined with — on ASCII and on 2-, 3- and
  * 4-byte code points, at the length-gate and band edges, interpreted
  * and inside whole-stage codegen, with null in → null out. The last two
  * tests bound its work: a pair whose full matrix has 10¹⁰ cells must
  * finish in the band, and a hopeless pair must stop at the first row
  * over k. */
class LevenshteinWithinSpec extends SparkSpec {
  import spark.implicits._

  private val rng = new scala.util.Random(211)

  private val alphabets: Seq[(String, String)] = Seq(
    "ascii (small)" -> "abcd ",
    "ascii (printable)" -> (32 to 126).map(_.toChar).mkString,
    "2-byte" -> "éüñßøåç",
    "3-byte" -> "中文测试漢字",
    "4-byte" -> "😀😃🎉🚀🐍",
    "mixed" -> "aé中😀b ü字🚀")

  private def codePoints(s: String): Array[Int] = s.codePoints().toArray

  private def randomString(cps: Array[Int], len: Int): Array[Int] =
    Array.fill(len)(cps(rng.nextInt(cps.length)))

  /** `s` after `edits` random single-character inserts, deletes and
    * substitutions, so distances cluster around the edit count. */
  private def edit(s: Array[Int], cps: Array[Int], edits: Int): Array[Int] = {
    var out = s.toVector
    for (_ <- 0 until edits) {
      val c = cps(rng.nextInt(cps.length))
      rng.nextInt(3) match {
        case 0 => out = out.patch(rng.nextInt(out.length + 1), Seq(c), 0)
        case 1 if out.nonEmpty => out = out.patch(rng.nextInt(out.length), Nil, 1)
        case _ if out.nonEmpty => out = out.updated(rng.nextInt(out.length), c)
        case _ => out = out :+ c
      }
    }
    out.toArray
  }

  private def str(cps: Array[Int]): String = new String(cps, 0, cps.length)

  private def agrees(a: String, b: String, k: Int): Boolean = {
    val (ua, ub) = (UTF8String.fromString(a), UTF8String.fromString(b))
    LevenshteinWithin.compute(ua, ub, k) == (ua.levenshteinDistance(ub) <= k)
  }

  private def assertAgrees(a: String, b: String, k: Int): Unit = {
    assert(agrees(a, b, k), s"k=$k a='$a' b='$b' " +
      s"distance=${UTF8String.fromString(a).levenshteinDistance(UTF8String.fromString(b))}")
    assert(agrees(b, a, k), s"swapped: k=$k a='$b' b='$a'")
  }

  /** (alphabet, a, b, k): b is a after up to k + 3 random edits, so the
    * cases straddle the decision edge. */
  private lazy val randomCases: Seq[(String, String, String, Int)] =
    alphabets.flatMap { case (name, alpha) =>
      val cps = codePoints(alpha)
      (0 until 400).map { _ =>
        val k = rng.nextInt(7)
        val a = randomString(cps, rng.nextInt(40))
        (name, str(a), str(edit(a, cps, rng.nextInt(k + 4))), k)
      }
    }

  test("levenshtein_within equals levenshteinDistance <= k on random strings") {
    for ((name, cases) <- randomCases.groupBy(_._1)) {
      cases.foreach { case (_, a, b, k) => assertAgrees(a, b, k) }
      // both outcomes must occur, or the alphabet tested nothing
      val hits = cases.count { case (_, a, b, k) =>
        LevenshteinWithin.compute(UTF8String.fromString(a), UTF8String.fromString(b), k)
      }
      assert(hits > 40 && hits < 360, s"$name: $hits of 400 within k")
    }
    // unrelated random strings: mostly far apart, through the band exit
    for ((_, alpha) <- alphabets; _ <- 0 until 100) {
      val cps = codePoints(alpha)
      assertAgrees(str(randomString(cps, rng.nextInt(30))),
        str(randomString(cps, rng.nextInt(30))), rng.nextInt(12))
    }
  }

  test("levenshtein_within: empty, identical and k = 0") {
    for ((_, alpha) <- alphabets) {
      val s = str(randomString(codePoints(alpha), 25))
      for (k <- 0 to 3) {
        assertAgrees("", "", k)
        assertAgrees(s, s, k)
        assertAgrees("", s, k)
        assertAgrees("", s.take(k), k)
      }
      assert(LevenshteinWithin.compute(UTF8String.fromString(s),
        UTF8String.fromString(s), 0), "identical strings are within 0")
      val cps = codePoints(s)
      val sub = cps.updated(12, if (cps(12) == 'x'.toInt) 'y'.toInt else 'x'.toInt)
      assertAgrees(s, str(sub), 0)
      assert(!LevenshteinWithin.compute(UTF8String.fromString(s),
        UTF8String.fromString(str(sub)), 0), "one substitution is not within 0")
    }
  }

  test("levenshtein_within: length differences of exactly k and k + 1") {
    for ((_, alpha) <- alphabets; k <- 0 to 6) {
      val cps = codePoints(alpha)
      val a = randomString(cps, 10 + rng.nextInt(20))
      val longer = a ++ randomString(cps, k)
      val tooLong = a ++ randomString(cps, k + 1)
      assertAgrees(str(a), str(longer), k)
      assertAgrees(str(a), str(tooLong), k)
      // a substitution on top of k inserts passes the length gate and
      // must fail in the band (the inserts land mid-string, so no trim)
      val mid = a.length / 2
      val inserted = a.patch(mid, randomString(cps, k), 0)
      val substituted = inserted.updated(0, if (inserted(0) == 'x'.toInt) 'y'.toInt else 'x'.toInt)
      assertAgrees(str(a), str(inserted), k)
      assertAgrees(str(a), str(substituted), k)
    }
  }

  test("levenshtein_within: codegen and interpreted agree with levenshtein, nulls give null") {
    val rows = randomCases.map { case (_, a, b, k) => (Option(a), Option(b), k) } ++
      Seq((None, Some("abc"), 2), (Some("abc"), None, 2), (None, None, 0))
    // an RDD scan, not a local relation: the optimizer would fold a
    // projection over local rows (interpreted) before codegen sees it
    val df = spark.sparkContext.parallelize(rows, 2).toDF("a", "b", "k")
    for (k <- 0 to 6) {
      val sub = df.where(col("k") === k)
      val within = column(LevenshteinWithin(expression(col("a")), expression(col("b")), k))
      val q = sub.select(col("a"), col("b"), within.as("w"),
        (levenshtein(col("a"), col("b")) <= k).as("want"))
      assert(q.queryExecution.executedPlan.collect {
          case w: org.apache.spark.sql.execution.WholeStageCodegenExec => w
        }.exists(_.child.toString.contains("levenshtein_within")),
        "the kernel runs inside whole-stage codegen")
      val bad = q.where(!(col("w") <=> col("want"))).collect()
      assert(bad.isEmpty, s"k=$k codegen disagrees: ${bad.take(5).mkString("; ")}")
      val interp = sub.collect().map { r =>
        LevenshteinWithin(
          org.apache.spark.sql.catalyst.expressions.Literal(
            if (r.isNullAt(0)) null else UTF8String.fromString(r.getString(0)),
            org.apache.spark.sql.types.StringType),
          org.apache.spark.sql.catalyst.expressions.Literal(
            if (r.isNullAt(1)) null else UTF8String.fromString(r.getString(1)),
            org.apache.spark.sql.types.StringType), k).eval()
      }
      val gen = q.collect().map(r => if (r.isNullAt(2)) null else r.getBoolean(2))
      assert(interp.toSeq == gen.toSeq, s"k=$k interpreted != codegen")
    }
    val nulls = df.where(col("a").isNull || col("b").isNull)
      .select(column(LevenshteinWithin(expression(col("a")), expression(col("b")), 2)))
      .collect()
    assert(nulls.length == 3 && nulls.forall(_.isNullAt(0)), "null in, null out")
  }

  /** Best of three wall times of one kernel call, in ms, and its answer. */
  private def timed(a: UTF8String, b: UTF8String, k: Int): (Double, Boolean) = {
    val runs = (1 to 3).map { _ =>
      val t0 = System.nanoTime()
      val r = LevenshteinWithin.compute(a, b, k)
      ((System.nanoTime() - t0) / 1e6, r)
    }
    (runs.map(_._1).min, runs.head._2)
  }

  test("levenshtein_within fills only the band: a 10^10-cell pair within k is cheap") {
    // (ab)ⁿ vs (ba)ⁿ: distance 2, no common prefix or suffix, every row
    // of the band stays ≤ k — only the band bound keeps this linear
    val a = UTF8String.fromString("ab" * 50000)
    val b = UTF8String.fromString("ba" * 50000)
    val (ms, r) = timed(a, b, 2)
    assert(r, "(ab)^n and (ba)^n are 2 edits apart")
    assert(!LevenshteinWithin.compute(a, b, 1))
    assert(ms < 1500, f"$ms%.0f ms for 5·10^5 band cells (the full matrix is 10^10)")
  }

  test("levenshtein_within stops at the first row over k") {
    // aⁿ vs bⁿ: equal lengths (the gate passes), nothing to trim, and
    // row j's minimum is j — the answer is known after k + 1 rows of
    // the band, of 4·10⁶ (8·10⁹ band cells without the exit)
    val n = 4000000
    val a = UTF8String.fromString("a" * n)
    val b = UTF8String.fromString("b" * n)
    val (ms, r) = timed(a, b, 1000)
    assert(!r)
    assert(ms < 1500, f"$ms%.0f ms: the band ran past its first row over k")
  }
}
