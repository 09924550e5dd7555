package graft

import graft.model.{Transforms, WeakLabels}
import graft.text.TextOps
import org.apache.spark.sql.functions._

/** Round-13 operators: power transform, weak-supervision label model,
  * CDC chunk dedup, ROUGE-N, hard-negative mining. */
class Round13Spec extends SparkSpec {
  import spark.implicits._

  test("yeoJohnson: log-normal data picks lambda near 0, normal data near 1") {
    val rng = new scala.util.Random(3)
    // exp(3+Z) keeps values ≫ 1 so the YJ +1 shift is negligible and
    // the optimum sits at the Box-Cox log answer λ≈0; at unit scale the
    // shift legitimately drags the optimum negative
    val rows =
      (1 to 800).map(i => ("lognorm", math.exp(3.0 + rng.nextGaussian()))) ++
        (1 to 800).map(i => ("normal", 50.0 + rng.nextGaussian() * 5.0))
    val fit = Transforms.yeoJohnsonFit(rows.toDF("k", "v"), "k", "v")
      .collect().map(r => r.getAs[String]("key") -> r.getAs[Double]("lambda")).toMap
    assert(math.abs(fit("lognorm")) <= 0.5, s"lognorm lambda ${fit("lognorm")}")
    assert(math.abs(fit("normal") - 1.0) <= 0.5, s"normal lambda ${fit("normal")}")
  }

  test("labelModel: accurate LF outweighs two contrarian ones after reweighting") {
    // 20 items; lfGood matches the (latent) majority structure built by
    // lfA+lfB on 18 items, so round-1 majority ≈ truth; lfBad always
    // inverts → low accuracy → negative weight flips its votes back
    val votes = (0 until 20).flatMap { i =>
      val truth = if (i % 2 == 0) 1L else -1L
      Seq((i.toLong, "a", truth), (i.toLong, "b", truth),
        (i.toLong, "good", truth), (i.toLong, "bad", -truth))
    }.toDF("item", "lf", "vote")
    val out = WeakLabels.labelModel(votes, "item", "lf", "vote")
      .collect().map(r => r.getAs[Long]("item") -> r.getAs[Long]("label")).toMap
    (0 until 20).foreach(i =>
      assert(out(i.toLong) == (if (i % 2 == 0) 1L else -1L), s"item $i"))
    // abstains don't count as votes
    val v2 = Seq((1L, "a", 0L), (1L, "b", 1L)).toDF("item", "lf", "vote")
    val r2 = WeakLabels.labelModel(v2, "item", "lf", "vote").collect()(0)
    assert(r2.getAs[Long]("n_votes") == 1L)
  }

  test("cdc chunks: shared content dedups, prefix insertion shifts only one chunk run") {
    // varied text → many distinct hash windows → several boundaries
    val base = (0 until 250).map(i => s"w$i t${i * 13 % 89}").mkString(" ")
    val docs = Seq(
      (1L, base),
      (2L, "PREFIX-INSERTED-BYTES " + base), // same content, shifted
      (3L, (0 until 200).map(i => s"z${i * 31}").mkString(" "))
    ).toDF("doc_id", "text")
    val out = TextOps.cdcChunkDedup(docs, "doc_id", "text")
      .collect().map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_chunks"), r.getAs[Long]("dup_chunks"))).toMap
    // content-defined boundaries re-align after the insertion: most of
    // doc 2's chunks match doc 1's despite the offset (the CDC property
    // fixed-width blocks lack)
    val (n1, d1) = out(1L); val (n2, d2) = out(2L); val (_, d3) = out(3L)
    assert(n1 >= 4, s"degenerate chunking: $n1 chunks")
    assert(d1 >= n1 / 2, s"doc1 dup $d1 of $n1")
    assert(d2 >= n2 / 2, s"doc2 dup $d2 of $n2 — boundaries failed to re-align")
    assert(d3 == 0L, s"unrelated doc shares chunks: $d3")
  }

  test("rougeN: identity pair scores 1.0, disjoint pair 0.0, clipping counts multisets") {
    val pairs = Seq(
      (1L, "a b c d e", "a b c d e"),
      (2L, "a b c", "x y z"),
      // bigram "a b" ×2 in left, ×1 in right → clipped overlap 1 of 3/2
      (3L, "a b a b", "a b x")).toDF("pid", "ta", "tb")
    val out = TextOps.rougeN(pairs, Seq("pid"), "ta", "tb", n = 2)
      .collect().map(r => r.getAs[Long]("pid") ->
        (r.getAs[Long]("overlap"), r.getAs[Double]("f1"))).toMap
    assert(out(1L) == ((4L, 1.0)), s"${out(1L)}")
    assert(out(2L) == ((0L, 0.0)), s"${out(2L)}")
    val (ov3, f13) = out(3L)
    assert(ov3 == 1L && math.abs(f13 - 2.0 * (1.0 / 3) * (1.0 / 2) / (1.0 / 3 + 1.0 / 2)) < 1e-9)
  }

  test("rougeN: a side with fewer than n tokens has no grams") {
    val pairs = Seq((4L, "a", "a b c")).toDF("pid", "ta", "tb")
    val r = TextOps.rougeN(pairs, Seq("pid"), "ta", "tb", n = 2).collect().head
    assert(r.getAs[Long]("overlap") == 0L && r.getAs[Long]("n_a") == 0L &&
      r.getAs[Long]("n_b") == 2L)
    assert(r.isNullAt(r.fieldIndex("recall")) && r.getAs[Double]("precision") == 0.0)
  }

  test("plsa2: disjoint-vocabulary clusters separate into opposite topics") {
    val sports = "goal match team player score league season coach stadium win"
    val cooking = "recipe oven butter flour sugar bake dough salt pepper simmer"
    def doc(words: String, seed: Int, n: Int): String = {
      val ws = words.split(" ")
      val rng = new scala.util.Random(seed)
      (1 to n).map(_ => ws(rng.nextInt(ws.length))).mkString(" ")
    }
    val docs = ((0 until 12).map(i => (i.toLong, doc(sports, i, 40))) ++
      (12 until 24).map(i => (i.toLong, doc(cooking, i, 40)))).toDF("doc_id", "text")
    val out = graft.text.Topics.plsa2(docs, "doc_id", "text",
        vocab = 64, iters = 8)
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("topic")).toMap
    val sportTopics = (0 until 12).map(i => out(i.toLong)).toSet
    val cookTopics = (12 until 24).map(i => out(i.toLong)).toSet
    assert(sportTopics.size == 1, s"sports docs split topics: $sportTopics")
    assert(cookTopics.size == 1, s"cooking docs split topics: $cookTopics")
    assert(sportTopics != cookTopics, "clusters collapsed onto one topic")
  }

  test("weibullFit: recovers the generating shape for exponential and k=2 samples") {
    val rng = new scala.util.Random(5)
    def weib(k: Double, lam: Double) =
      lam * math.pow(-math.log(rng.nextDouble()), 1.0 / k)
    val rows = (1 to 1500).map(_ => ("exp", weib(1.0, 10.0))) ++
      (1 to 1500).map(_ => ("wear", weib(2.0, 10.0)))
    val fit = graft.model.Survival.weibullFit(rows.toDF("k", "v"), "k", "v")
      .collect().map(r => r.getAs[String]("key") ->
        (r.getAs[Double]("shape"), r.getAs[Double]("scale"))).toMap
    assert(math.abs(fit("exp")._1 - 1.0) <= 0.25, s"exp shape ${fit("exp")}")
    assert(math.abs(fit("wear")._1 - 2.0) <= 0.25, s"wear shape ${fit("wear")}")
    assert(math.abs(fit("exp")._2 - 10.0) <= 1.5, s"exp scale ${fit("exp")}")
  }

  test("simpsonAudit: classic admission reversal flips the crude sign") {
    // stratum A: treated 10/100 vs control 2/40 (t better in-stratum? no:
    // 0.10 vs 0.05 — t better); build the canonical reversal: treatment
    // concentrates in the hard stratum, so crude favors CONTROL while
    // every stratum favors TREATMENT
    def rows(stratum: String, t: Boolean, pos: Int, neg: Int) =
      (1 to pos).map(_ => (stratum, t, 1.0)) ++
        (1 to neg).map(_ => (stratum, t, 0.0))
    val df = (rows("easy", t = true, 18, 2) ++ // 0.90 (n=20)
      rows("easy", t = false, 80, 20) ++ // 0.80 (n=100)
      rows("hard", t = true, 30, 70) ++ // 0.30 (n=100)
      rows("hard", t = false, 4, 16)) // 0.20 (n=20)
      .toDF("s", "t", "y")
    val out = graft.model.Causal.simpsonAudit(df, "s", "t", "y").collect()
    assert(out.forall(_.getAs[Boolean]("reversed")), "reversal not flagged")
    assert(out.forall(_.getAs[Double]("diff") > 0), "strata favor treatment")
    assert(out.head.getAs[Double]("crude_diff") < 0, "crude favors control")
    // no-reversal sanity: balanced design
    val bal = (rows("a", t = true, 30, 70) ++ rows("a", t = false, 20, 80))
      .toDF("s", "t", "y")
    assert(!graft.model.Causal.simpsonAudit(bal, "s", "t", "y")
      .collect().head.getAs[Boolean]("reversed"))
  }

  test("smithWaterman: exact, gapped, and absent patterns score as hand-checked") {
    import graft.seq.SeriesKernels.smithWaterman
    val pat = Seq("v", "c", "p")
    assert(smithWaterman(Seq("x", "v", "c", "p", "y"), pat) == 6) // exact: 3 matches ×2
    // one detour: v c X p → 2+2−1+2 = 5
    assert(smithWaterman(Seq("v", "c", "x", "p"), pat) == 5)
    assert(smithWaterman(Seq("x", "y", "z"), pat) == 0) // nothing positive
    assert(smithWaterman(Seq("v", "p"), pat) == 3) // v then gap-skip c: 2−1+2
    assert(smithWaterman(Nil, pat) == 0)
  }

  test("hardNegatives: band excludes near-dups and positives, ranks by cosine") {
    def v(x: Double, y: Double) = Array(x.toFloat, y.toFloat)
    val vecs = Seq(
      (0L, v(1, 0)), // anchor
      (1L, v(1, 0.01)), // near-dup: cos ~1 → above hiCos, excluded
      (2L, v(1, 0.7)), // hard: cos ~0.82
      (3L, v(1, 1.2)), // harder: cos ~0.64
      (4L, v(-1, 0)), // opposite: cos -1 → below loCos
      (100L, v(1, 0.5)) // positive pair (0,100) → excluded
    ).toDF("vec_id", "embedding")
    val pos = Seq((0L, 100L)).toDF("q", "c")
    val out = graft.sim.Similarity.hardNegatives(
      vecs.where(col("vec_id") === 0), vecs, "vec_id", "embedding",
      k = 5, loCos = 0.2, hiCos = 0.95, positives = Some(pos))
      .collect().map(r => (r.getAs[Long]("cid"), r.getAs[Int]("rank")))
    assert(out.toSeq.sortBy(_._2) == Seq((2L, 1), (3L, 2)), s"${out.toSeq}")
  }
}
