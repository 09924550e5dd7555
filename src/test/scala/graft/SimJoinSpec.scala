package graft

import graft.post.Relational2
import graft.sim.SimJoin
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** Prefix-filter similarity join + relational finishing operators. */
class SimJoinSpec extends SparkSpec {
  import spark.implicits._

  private def pairs(d: DataFrame, tau: Double): DataFrame =
    SimJoin.prefixJaccardJoin(d, "doc_id", "text", tau)

  /** Row count == distinct (a, b) count: with no dedup stage after the
    * pair generator, a pair emitted twice is the failure to catch. */
  private def assertEmitOnce(df: DataFrame, what: String): Long = {
    val n = df.count()
    val d = df.select("a", "b").distinct().count()
    assert(n == d, s"$what: $n rows for $d distinct (a, b) pairs")
    n
  }

  /** Output rows as a multiset. */
  private def bag(df: DataFrame): Map[Row, Int] =
    df.collect().groupBy(identity).map { case (r, rs) => r -> rs.length }

  private def withBlockSize[T](b: Long)(f: => T): T = {
    val key = "spark.graft.simjoin.blockSize"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, b.toString)
    try f
    finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  private val fixture = Seq(
    (1L, "a b c d e"), (2L, "a b c d f"), // J = 4/6 = 0.667
    (3L, "a b c d e"), // dup of 1 → J = 1
    (4L, "x y z w q") // unrelated
  )

  test("prefix jaccard join: finds exactly the pairs above tau") {
    val docs = fixture.toDF("doc_id", "text")
    val r6 = pairs(docs, 0.6)
      .collect().map(r => (r.getAs[Long]("a"), r.getAs[Long]("b"))).toSet
    assert(r6 == Set((1L, 2L), (1L, 3L), (2L, 3L)), s"$r6")
    val r9 = pairs(docs, 0.9)
      .collect().map(r => (r.getAs[Long]("a"), r.getAs[Long]("b"))).toSet
    assert(r9 == Set((1L, 3L)), s"$r9")
  }

  test("prefix jaccard join: every pair is emitted exactly once") {
    val docs = fixture.toDF("doc_id", "text")
    assert(assertEmitOnce(pairs(docs, 0.6), "fixture τ=0.6") == 3)
    assert(assertEmitOnce(pairs(docs, 0.9), "fixture τ=0.9") == 1)
    // (the tie-heavy corpus is checked in Round12Spec's brute-force test)
    assert(assertEmitOnce(pairs(core.table(spark, sfDir01, "documents"), 0.9),
      "sf0.01 documents") > 0)
  }

  test("prefix jaccard join: a 2-doc block size gives the same multiset") {
    // blockSize 2 splits every posting list of 3+ docs into many blocks,
    // so nearly every pair meets in a cross-block generator row
    for ((docs, tau, what) <- Seq(
        (SimJoinSpec.tieHeavyDocs(spark), 0.5, "tie-heavy corpus"),
        (core.table(spark, sfDir01, "documents"), 0.9, "sf0.01 documents"))) {
      val want = bag(pairs(docs, tau))
      val got = withBlockSize(2)(bag(pairs(docs, tau)))
      assert(want.nonEmpty, s"$what: no pairs — the check is vacuous")
      assert(got == want, s"$what: missing=${(want.keySet -- got.keySet).take(5)} " +
        s"extra=${(got.keySet -- want.keySet).take(5)} " +
        s"rows ${got.values.sum} vs ${want.values.sum}")
    }
    assert(!spark.conf.getOption("spark.graft.simjoin.blockSize").contains("2"))
  }

  test("prefix jaccard candidate gate: filters keep the pair frame bounded at sf0.01") {
    // r12 verdict item 1: q412's load cliff is a candidate-pair blowup in
    // disguise — gate the candidate:result ratio at fixture scale so a
    // prefix/positional/length/emit-once regression fails HERE, not as a
    // 7× loaded-host bench spread. The gated count is the pairs that
    // reach the exact intersection inside the pair generator (the
    // relational candidate frame it replaced measured 35,536 for 9,020
    // result pairs, 3.9×, on the near-dup-heavy sf0.01 fixture at τ=0.9)
    // — the 8× cap gives 2× headroom while any lost filter stage blows
    // through it by orders of magnitude.
    val docs = core.table(spark, sfDir01, "documents")
    val nCand = SimJoin.prefixVerifiedPairs(docs, "doc_id", "text", 0.9)
    val nRes = pairs(docs, 0.9).count()
    assert(nRes > 0, "fixture produced no near-dup pairs — gate is vacuous")
    assert(nCand >= nRes, s"$nCand verified pairs < $nRes results")
    assert(nCand <= 8L * nRes + 100,
      s"candidate blowup: $nCand candidates for $nRes result pairs — " +
        "a prefix-filter stage regressed (this is the q412 load-cliff signature)")
  }

  test("tfidf top-k: identical docs are each other's top neighbor") {
    val docs = Seq(
      (1L, "apple banana cherry"), (2L, "apple banana cherry"),
      (3L, "dog cat bird"), (4L, "apple dog")).toDF("doc_id", "text")
    val top1 = SimJoin.tfidfTopK(docs, "doc_id", "text", 1)
      .collect().map(r => r.getAs[Long]("a") -> r.getAs[Long]("b")).toMap
    assert(top1(1L) == 2L && top1(2L) == 1L, s"$top1")
    val cos12 = SimJoin.tfidfTopK(docs, "doc_id", "text", 1)
      .where(col("a") === 1).collect()(0).getAs[Double]("cos")
    assert(math.abs(cos12 - 1.0) < 1e-6)
  }

  test("skyline2d matches the brute-force dominance filter") {
    val pts = Seq((1L, 1.0, 5.0), (2L, 2.0, 3.0), (3L, 3.0, 4.0),
      (4L, 4.0, 1.0), (5L, 2.0, 3.0), (6L, 5.0, 5.0)).toDF("id", "x", "y")
    val sky = Relational2.skyline2d(pts, "id", "x", "y")
      .collect().map(_.getAs[Long]("id")).toSet
    // brute: (3) dominated by (2); (6) dominated by everything cheap
    assert(sky == Set(1L, 2L, 4L, 5L), s"$sky")
  }

  test("group mode and weighted median on hand fixtures") {
    val df = Seq(("g", 1.0), ("g", 2.0), ("g", 2.0), ("g", 3.0),
      ("h", 7.0), ("h", 5.0), ("h", 5.0), ("h", 7.0)).toDF("grp", "v")
    val modes = Relational2.groupMode(df, "grp", "v")
      .collect().map(r => r.getAs[String]("grp") -> r.getAs[Double]("mode")).toMap
    assert(modes == Map("g" -> 2.0, "h" -> 5.0), s"$modes") // tie → smaller
    val wm = Seq(("g", 1.0, 1L), ("g", 2.0, 1L), ("g", 3.0, 10L))
      .toDF("grp", "v", "w")
    val m = Relational2.weightedMedian(wm, "grp", "v", "w").collect()(0)
    assert(m.getAs[Double]("wmedian") == 3.0 && m.getAs[Long]("w_total") == 12L)
  }
}

object SimJoinSpec {
  /** 60 eight-word docs over a 23-word vocabulary: many equal-df tokens
    * and many pairs sharing several prefix tokens. */
  def tieHeavyDocs(spark: SparkSession): DataFrame = {
    import spark.implicits._
    (0 until 60).map { i =>
      val words = (0 until 8).map(j => s"w${(i * (j + 3) + j) % 23}")
      (i.toLong, words.mkString(" "))
    }.toDF("doc_id", "text")
  }
}
