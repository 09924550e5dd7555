package graft

import graft.drift.Drift
import graft.model.{Diagnostics, GroupTests, Survival, Tests2}

/** The shared frames of the nonparametric test families — complete
  * blocks, the two-group value histogram and its midranks, reference
  * bin shares and the log-rank risk set — on hand-computed fixtures. */
class TestFamiliesSpec extends SparkSpec {
  import spark.implicits._

  private def near(a: Double, b: Double, tol: Double = 1e-9): Boolean =
    math.abs(a - b) <= tol

  // blocks b1, b2 rank A < B < C identically; b3 lacks C and is dropped
  private lazy val blocks = Seq(
    ("b1", "A", 1.0), ("b1", "B", 2.0), ("b1", "C", 3.0),
    ("b2", "A", 1.0), ("b2", "B", 2.0), ("b2", "C", 3.0),
    ("b3", "A", 9.0), ("b3", "B", 0.0)).toDF("blk", "trt", "v")

  test("friedman: a block missing one treatment is dropped") {
    val r = Diagnostics.friedman(blocks, "blk", "trt", "v").collect()(0)
    assert(r.getAs[Long]("n_blocks") == 2L)
    assert(r.getAs[Long]("k") == 3L)
    // R = (2, 4, 6): 12/(2·3·4)·56 − 3·2·4 = 4
    assert(near(r.getAs[Double]("chi2"), 4.0))
  }

  test("page L and kendall W: identical block rankings") {
    val p = Diagnostics.pageL(blocks, "blk", "trt", "v").collect()(0)
    assert(p.getAs[Long]("n_blocks") == 2L)
    assert(p.getAs[Double]("l_stat") == 28.0) // 1·2 + 2·4 + 3·6
    val w = Diagnostics.kendallW(blocks, "blk", "trt", "v").collect()(0)
    assert(w.getAs[Long]("n_blocks") == 2L)
    assert(near(w.getAs[Double]("w"), 1.0))
  }

  test("cochran Q: a block missing one treatment is dropped") {
    val flags = Seq(("b1", "A", true), ("b1", "B", false), ("b1", "C", false),
      ("b2", "A", true), ("b2", "B", true), ("b2", "C", false),
      ("b3", "A", true), ("b3", "B", true)).toDF("blk", "trt", "f")
    val r = Diagnostics.cochranQ(flags, "blk", "trt", "f").collect()(0)
    assert(r.getAs[Long]("n_blocks") == 2L)
    assert(r.getAs[Long]("k") == 3L)
    // G = (2,1,0), L = (1,2), T = 3: 2·(3·5 − 9)/(3·3 − 5) = 3
    assert(near(r.getAs[Double]("q_stat"), 3.0))
  }

  test("cronbach alpha and icc: equal items per subject, incomplete subject dropped") {
    val df = Seq(("s1", "i1", 1.0), ("s1", "i2", 1.0), ("s1", "i3", 1.0),
      ("s2", "i1", 2.0), ("s2", "i2", 2.0), ("s2", "i3", 2.0),
      ("s3", "i1", 4.0), ("s3", "i2", 4.0), ("s3", "i3", 4.0),
      ("s4", "i1", 7.0), ("s4", "i2", 0.0)).toDF("s", "i", "v")
    val a = Diagnostics.cronbachAlpha(df, "s", "i", "v").collect()(0)
    assert(a.getAs[Long]("n_subjects") == 3L)
    assert(near(a.getAs[Double]("alpha"), 1.0))
    val c = Diagnostics.icc(df, "s", "i", "v").collect()(0)
    assert(c.getAs[Long]("n_subjects") == 3L)
    assert(near(c.getAs[Double]("icc"), 1.0))
  }

  // a = {1, 2, 3}, b = {10, 11}: no overlap
  private lazy val disjoint =
    Seq(("a", 1.0), ("a", 2.0), ("a", 3.0), ("b", 10.0), ("b", 11.0)).toDF("g", "v")

  test("ks: disjoint groups give d_stat = 1") {
    val r = GroupTests.ksTwoSample(disjoint, "g", "v", "a", "b").collect()(0)
    assert(r.getAs[Long]("n_a") == 3L && r.getAs[Long]("n_b") == 2L)
    assert(r.getAs[Double]("d_stat") == 1.0)
    assert(near(r.getAs[Double]("ks_z"), math.sqrt(6.0 / 5.0)))
  }

  test("cvm and anderson-darling: disjoint groups, hand-summed terms") {
    val c = GroupTests.cvmTwoSample(disjoint, "g", "v", "a", "b").collect()(0)
    // Σ ct·ΔF² = 1/9 + 4/9 + 1 + 1/4, each term at 8dp
    assert(near(c.getAs[Double]("t_stat"), 6.0 / 25 * 1.80555555))
    val a = GroupTests.adTwoSample(disjoint, "g", "v", "a", "b").collect()(0)
    // ΔF²/(H(1−H)) at H = 1/5, 2/5, 3/5, 4/5; the H = 1 value is excluded
    val terms = Seq(0.69444444, 1.85185185, 4.16666667, 1.5625)
    assert(near(a.getAs[Double]("a_stat"), 6.0 / 25 * terms.sum))
  }

  test("mann-whitney: tied values get equal midranks") {
    // pooled 1 | 2 2 2 | 3: the three 2s share midrank 3, so
    // R_a = 1 + 3 + 3 = 7 and U_a = 7 − 3·4/2 = 1
    val df = Seq(("a", 1.0), ("a", 2.0), ("a", 2.0), ("b", 2.0), ("b", 3.0))
      .toDF("g", "v")
    val r = GroupTests.mannWhitneyU(df, "g", "v", "a", "b").collect()(0)
    assert(r.getAs[Long]("n_a") == 3L && r.getAs[Long]("n_b") == 2L)
    assert(r.getAs[Double]("u_stat") == 1.0)
    val swapped = GroupTests.mannWhitneyU(df, "g", "v", "b", "a").collect()(0)
    assert(swapped.getAs[Double]("u_stat") == 5.0) // n_a·n_b − U
    val d = Tests2.cliffsDelta(df, "g", "v", "a", "b").collect()(0)
    assert(d.getAs[Double]("u_stat") == 1.0)
    assert(near(d.getAs[Double]("delta"), -2.0 / 3.0))
  }

  test("hellinger: identical reference and current give 0") {
    // bins 0,1,2,3,9 hold one value each: shares 0.15 ×5 and 0.05 ×5
    val df = Seq(0.0, 1.0, 2.0, 3.0, 10.0).map(("k", _)).toDF("key", "v")
    val r = Drift.hellinger(df, df, Seq("key"), "v").collect()(0)
    assert(r.getAs[Double]("bc") == 1.0)
    assert(r.getAs[Double]("hellinger") == 0.0)
    assert(!r.getAs[Boolean]("drifted"))
  }

  test("gehan log-rank equals log-rank when every event is at one duration") {
    // events only at t = 5 (n = 6, n_a = 3, d = 3, d_a = 2); the rest censored
    val df = Seq(("a", 5L, true), ("a", 5L, true), ("a", 10L, false),
      ("b", 5L, true), ("b", 10L, false), ("b", 10L, false))
      .toDF("g", "t", "e")
    val lr = Survival.logRank(df, "t", "e", "g", "a", "b").collect()(0)
    val gb = Survival.gehanLogRank(df, "t", "e", "g", "a", "b").collect()(0)
    // e_a = 1.5, v = 3·½·½·3/5 = 0.45: χ² = 0.25/0.45
    assert(near(lr.getAs[Double]("chi2"), 0.25 / 0.45))
    assert(near(gb.getAs[Double]("chi2"), lr.getAs[Double]("chi2"), 1e-12))
    assert(gb.getAs[Long]("n_a") == 3L && gb.getAs[Long]("n_b") == 3L)
  }
}
