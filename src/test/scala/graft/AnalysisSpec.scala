package graft

import graft.model.Assoc
import graft.post.PostOps
import graft.seq.SeqOps
import graft.text.TextOps
import org.apache.spark.sql.functions._

/** Association stats (χ²/MI), BH-FDR, LOCF imputation, PMI collocations,
  * edit-distance entity resolution. */
class AnalysisSpec extends SparkSpec {
  import spark.implicits._

  test("chi2: independent columns score ~0, dependent columns score high") {
    // perfectly dependent: b == a over 100 rows, 2x2
    val dep = (1 to 100).map(i => (if (i % 2 == 0) "x" else "y",
      if (i % 2 == 0) "p" else "q")).toDF("a", "b")
    val d = Assoc.chiSquare(dep, "a", "b").collect()(0)
    assert(math.abs(d.getAs[Double]("chi2") - 100.0) < 1e-4,
      s"2x2 perfect dependence has chi2 = n, got $d")
    assert(d.getAs[Long]("dof") == 1L)
    assert(math.abs(d.getAs[Double]("cramers_v") - 1.0) < 1e-6)
    // independent: b cycles independently of a
    val ind = (0 until 100).map(i => (if (i % 2 == 0) "x" else "y",
      if ((i / 2) % 2 == 0) "p" else "q")).toDF("a", "b")
    val r = Assoc.chiSquare(ind, "a", "b").collect()(0)
    assert(r.getAs[Double]("chi2") < 1e-6, s"balanced grid is independent: $r")
  }

  test("mutual info: dependence in nats, independence at 0") {
    val dep = (1 to 100).map(i => (if (i % 2 == 0) "x" else "y",
      if (i % 2 == 0) "p" else "q")).toDF("a", "b")
    val mi = Assoc.mutualInfo(dep, "a", "b").collect()(0)
    assert(math.abs(mi.getAs[Double]("mi") - math.log(2.0)) < 1e-6,
      s"perfect 2-class dependence has MI = ln 2, got $mi")
    assert(mi.getAs[Long]("r") == 2L && mi.getAs[Long]("c") == 2L)
    val ind = (0 until 100).map(i => (if (i % 2 == 0) "x" else "y",
      if ((i / 2) % 2 == 0) "p" else "q")).toDF("a", "b")
    assert(math.abs(Assoc.mutualInfo(ind, "a", "b").collect()(0)
      .getAs[Double]("mi")) < 1e-6)
  }

  test("bh-fdr: small p-values become discoveries, uniform tail does not") {
    // 5 strong signals (p ~ 1e-4) among 95 uniform-ish p-values
    val rows = (1 to 5).map(i => ("k", i.toLong, 0.0001 * i)) ++
      (6 to 100).map(i => ("k", i.toLong, (i - 5) / 96.0))
    val out = PostOps.bhFdr(rows.toDF("g", "id", "p"), Seq("g"), "p", "id",
      alpha = 0.05).collect()
      .map(r => r.getAs[Long]("id") -> r.getAs[Boolean]("discovery")).toMap
    (1 to 5).foreach(i => assert(out(i.toLong), s"signal $i missed"))
    assert((6 to 100).count(i => out(i.toLong)) == 0, "uniform tail flagged")
    // ranks are per-key and discoveries monotone: a discovery's rank is
    // never above a non-discovery's
  }

  test("bh-fdr: no passing rank means zero discoveries (kmax null path)") {
    val rows = (1 to 10).map(i => ("k", i.toLong, 0.5 + i / 25.0))
    val out = PostOps.bhFdr(rows.toDF("g", "id", "p"), Seq("g"), "p", "id",
      alpha = 0.05).collect()
    assert(out.forall(!_.getAs[Boolean]("discovery")))
  }

  test("locf: nulls fill from the last observation, leading nulls stay") {
    val rows = Seq(("u", 1L, None), ("u", 2L, Some(5.0)), ("u", 3L, None),
      ("u", 4L, None), ("u", 5L, Some(7.0)), ("v", 1L, Some(1.0)))
    val out = SeqOps.imputeLocf(rows.toDF("k", "seq", "v"), Seq("k"), "seq", "v")
      .collect().map(r => (r.getAs[String]("k"), r.getAs[Long]("seq")) ->
        ((Option(r.getAs[java.lang.Double]("filled")).map(_.toDouble),
          r.getAs[Boolean]("was_imputed")))).toMap
    assert(out(("u", 1L)) == ((None, false)), "leading null stays null")
    assert(out(("u", 2L)) == ((Some(5.0), false)))
    assert(out(("u", 3L)) == ((Some(5.0), true)))
    assert(out(("u", 4L)) == ((Some(5.0), true)))
    assert(out(("u", 5L)) == ((Some(7.0), false)))
    assert(out(("v", 1L)) == ((Some(1.0), false)))
  }

  test("collocations: a glued bigram out-scores independent fillers") {
    // "new york" always together; "the" everywhere
    val docs = (1 to 20).map(i =>
      (i.toLong, s"the cat$i sat on new york the mat$i")).toDF("id", "text")
    val out = TextOps.collocations(docs, "id", "text", minCount = 5L)
      .collect().map(r => (r.getAs[String]("x"), r.getAs[String]("y")) ->
        ((r.getAs[Long]("cnt"), r.getAs[Double]("pmi")))).toMap
    val ny = out(("new", "york"))
    assert(ny._1 == 20L)
    // "new" and "york" only occur in this bigram: PMI = ln(N²/(Nb·20))
    assert(out.keySet.forall { case (x, y) => !(x == "the" && y == "the") })
    val onThe = out(("york", "the"))
    assert(ny._2 > onThe._2, "glued pair beats a pair involving 'the'")
  }

  test("profile: per-column rows/nulls/distinct and typed min/max") {
    val df = Seq((1L, Some(2.0), "b"), (2L, None, "a"), (3L, Some(8.0), "a"))
      .toDF("id", "v", "s")
    val out = graft.model.Profiler.profile(df, Seq("id", "v", "s"))
      .collect().map(r => r.getAs[String]("column") -> r).toMap
    assert(out("id").getAs[Long]("n") == 3L)
    assert(out("id").getAs[Long]("nulls") == 0L)
    assert(out("v").getAs[Long]("nulls") == 1L)
    assert(out("v").getAs[Long]("n_distinct") == 2L)
    assert(out("v").getAs[Double]("min_v") == 2.0)
    assert(out("v").getAs[Double]("max_v") == 8.0)
    assert(out("s").getAs[String]("min_s") == "a")
    assert(out("s").getAs[String]("max_s") == "b")
    assert(out("s").getAs[java.lang.Double]("min_v") == null)
  }

  test("constraints: row rules share one pass, uniqueness catches dup keys") {
    val df = Seq((1L, Some(5.0)), (2L, None), (2L, Some(7.0)), (3L, Some(9.0)))
      .toDF("id", "v")
    val rows = graft.model.Profiler.checkRows(df,
      Seq("v_not_null" -> col("v").isNotNull,
        "v_small" -> (col("v") < 8.0)), minRate = 0.7)
      .collect().map(r => r.getAs[String]("rule") -> r).toMap
    assert(rows("v_not_null").getAs[Long]("failures") == 1L)
    assert(rows("v_not_null").getAs[Boolean]("passed"))
    assert(rows("v_small").getAs[Long]("failures") == 2L, "null fails a rule")
    assert(!rows("v_small").getAs[Boolean]("passed"))
    val u = graft.model.Profiler.checkUnique(df, Seq("id")).collect()(0)
    assert(u.getAs[Long]("failures") == 1L && !u.getAs[Boolean]("passed"))
  }

  test("motif: overlapping occurrences count positionally per key") {
    val rows = Seq(("u", 1L, "a"), ("u", 2L, "a"), ("u", 3L, "a"),
      ("u", 4L, "b"), ("u", 5L, "a"), ("u", 6L, "a"),
      ("v", 1L, "a"), ("v", 2L, "b"))
      .toDF("k", "seq", "st")
    val out = graft.seq.SeqOps.motifCount(rows, Seq("k"), "seq", "st",
      Seq("a", "a")).collect()
      .map(r => r.getAs[String]("k") ->
        ((r.getAs[Long]("matches"), r.getAs[Long]("n_events")))).toMap
    assert(out("u") == ((3L, 6L)), "aa at t=1,2 (overlap) and t=5")
    assert(out("v") == ((0L, 2L)))
  }

  test("cdf transform: ties share cume_dist, ranks span [0,1] per key") {
    val rows = Seq(("k", 1L, 10.0), ("k", 2L, 20.0), ("k", 3L, 20.0),
      ("k", 4L, 40.0), ("j", 9L, 5.0))
    val out = graft.post.PostOps.cdfTransform(rows.toDF("g", "id", "v"),
      Seq("g"), "v", "id").collect()
      .map(r => r.getAs[Long]("id") ->
        ((r.getAs[Double]("cdf"), r.getAs[Double]("pct_rank")))).toMap
    assert(out(1L) == ((0.25, 0.0)))
    assert(out(2L) == ((0.75, 1.0 / 3)) && out(3L) == ((0.75, 1.0 / 3)),
      "ties share both stats")
    assert(out(4L) == ((1.0, 1.0)))
    assert(out(9L) == ((1.0, 0.0)), "singleton key")
  }

  test("resample: spine covers gaps, LOCF carries the mean, counts exact") {
    // buckets of 10ns; key u has data at buckets 1 and 4 -> 2,3 are gaps
    val rows = Seq(("u", 12L, Some(2.0)), ("u", 14L, Some(4.0)),
      ("u", 41L, Some(9.0)), ("u", 45L, None))
    val out = graft.seq.SeqOps.resample(rows.toDF("k", "ts", "v"),
      Seq("k"), "ts", "v", bucketNs = 10L).collect()
      .map(r => r.getAs[Long]("bucket") ->
        ((r.getAs[Long]("n"), r.getAs[Boolean]("gap"),
          r.getAs[Double]("value"), r.getAs[Long]("bucket_ts")))).toMap
    assert(out.keySet == Set(1L, 2L, 3L, 4L))
    assert(out(1L) == ((2L, false, 3.0, 10L)))
    assert(out(2L) == ((0L, true, 3.0, 20L)), "gap carries bucket-1 mean")
    assert(out(3L) == ((0L, true, 3.0, 30L)))
    assert(out(4L) == ((1L, false, 9.0, 40L)), "null value excluded from n")
  }

  test("jsd: identical halves near 0, shifted distribution drifts, bounded") {
    val same = (1 to 400).map(i => ("k", (i % 20).toDouble)).toDF("g", "v")
    val j0 = graft.drift.Drift.jsDivergence(same, same, Seq("g"), "v")
      .collect()(0)
    assert(j0.getAs[Double]("jsd") < 0.01 && !j0.getAs[Boolean]("drifted"))
    val shifted = (1 to 400).map(i => ("k", (i % 20) + 40.0)).toDF("g", "v")
    val j1 = graft.drift.Drift.jsDivergence(same, shifted, Seq("g"), "v")
      .collect()(0)
    assert(j1.getAs[Boolean]("drifted"), s"disjoint supports must drift: $j1")
    assert(j1.getAs[Double]("jsd") <= math.log(2.0) + 1e-9,
      "JSD is bounded by ln 2 even on disjoint supports")
  }

  test("wasserstein: zero on identical, exact shift distance, one-sided null") {
    val same = (1 to 100).map(i => ("k", (i % 10).toDouble)).toDF("g", "v")
    val w0 = graft.drift.Drift.wasserstein(same, same, Seq("g"), "v")
      .collect()(0)
    assert(w0.getAs[Double]("w1") == 0.0 && !w0.getAs[Boolean]("drifted"))
    // pure translation by +7: W1 equals the shift exactly
    val shifted = (1 to 100).map(i => ("k", (i % 10) + 7.0)).toDF("g", "v")
    val w1 = graft.drift.Drift.wasserstein(same, shifted, Seq("g"), "v",
      threshold = 5.0).collect()(0)
    assert(math.abs(w1.getAs[Double]("w1") - 7.0) < 1e-6, s"shift: $w1")
    assert(w1.getAs[Boolean]("drifted"))
    // unequal sample sizes: ref {0,10} vs cur {5} → ∫|F_r−F_c| = 5
    val r2 = Seq(("k", 0.0), ("k", 10.0), ("solo", 1.0)).toDF("g", "v")
    val c2 = Seq(("k", 5.0)).toDF("g", "v")
    val out = graft.drift.Drift.wasserstein(r2, c2, Seq("g"), "v")
      .collect().map(r => r.getAs[String]("g") -> r).toMap
    assert(math.abs(out("k").getAs[Double]("w1") - 5.0) < 1e-6)
    assert(out("solo").isNullAt(out("solo").fieldIndex("w1")),
      "one-sided key has no defined W1")
  }

  test("centroid drift: identical clouds zero, translation reads exactly in l2") {
    val ref = Seq(("k", Seq(1.0f, 0.0f)), ("k", Seq(3.0f, 0.0f)),
      ("only_ref", Seq(1.0f, 1.0f))).toDF("g", "v")
    val w0 = graft.drift.Drift.embeddingCentroidDrift(ref, ref, Seq("g"), "v")
      .collect().map(r => r.getAs[String]("g") -> r).toMap
    assert(w0("k").getAs[Double]("l2") == 0.0 &&
      math.abs(w0("k").getAs[Double]("cos") - 1.0) < 1e-9 &&
      !w0("k").getAs[Boolean]("drifted"))
    // translate by (0, 3): centroid (2,0) → (2,3), l2 = 3, cos = 4/(2·√13)
    val cur = Seq(("k", Seq(1.0f, 3.0f)), ("k", Seq(3.0f, 3.0f))).toDF("g", "v")
    val out = graft.drift.Drift.embeddingCentroidDrift(ref, cur, Seq("g"), "v",
      threshold = 1.0).collect()
    assert(out.length == 1, "inner join drops the one-sided key")
    val r = out(0)
    assert(math.abs(r.getAs[Double]("l2") - 3.0) < 1e-6)
    assert(math.abs(r.getAs[Double]("cos") - 4.0 / (2.0 * math.sqrt(13.0))) < 1e-6)
    assert(r.getAs[Boolean]("drifted"))
  }

  test("correlation matrix: perfect, inverse and independent pairs") {
    val rows = (1 to 40).map { i =>
      (i.toDouble, 2.0 * i + 1, -3.0 * i, if (i % 2 == 0) 1.0 else 0.0)
    }
    val out = graft.model.Assoc.correlationMatrix(
      rows.toDF("x", "y", "z", "par"), Seq("x", "y", "z", "par"))
      .collect().map(r => (r.getAs[String]("col_x"), r.getAs[String]("col_y")) ->
        r.getAs[java.lang.Double]("corr")).toMap
    assert(math.abs(out(("x", "y")) - 1.0) < 1e-9, "perfect positive")
    assert(math.abs(out(("x", "z")) + 1.0) < 1e-9, "perfect negative")
    assert(math.abs(out(("y", "z")) + 1.0) < 1e-9)
    assert(math.abs(out(("x", "par"))) < 0.1, "near-independent parity bit")
    assert(out.size == 6)
  }

  test("target encoding: rare categories shrink toward the global prior") {
    // global mean 10; "common" (100 rows at 20) stays near 20,
    // "rare" (2 rows at 0) lands near the prior
    val rows = (1 to 100).map(_ => ("common", 20.0)) ++
      (1 to 100).map(_ => ("other", 0.2)) ++ Seq(("rare", 0.0), ("rare", 0.0))
    val out = graft.model.Assoc.targetEncode(rows.toDF("cat", "y"), "cat", "y",
      m = 20.0).collect()
      .map(r => r.getAs[String]("category") -> r.getAs[Double]("enc")).toMap
    val prior = (100 * 20.0 + 100 * 0.2) / 202
    assert(math.abs(out("common") - (100 * 20.0 + 20 * prior) / 120.0) < 1e-9)
    assert(math.abs(out("rare") - (20 * prior) / 22.0) < 1e-9,
      "rare category is ~all prior")
    assert(out("rare") > 5.0, "shrunk toward the prior, not its own 0 mean")
  }

  test("roundLikeDuck: epoch-nanos magnitudes pass through un-mangled") {
    // floor() is LONG-typed: 1.7e18 * 1e4 would clamp at Long.MaxValue
    val df = Seq((1.7e18, 1.23455), (-2.5e17, -1.23455)).toDF("big", "small")
    val out = df.select(graft.core.roundLikeDuck(col("big"), 4).as("b"),
      graft.core.roundLikeDuck(col("small"), 4).as("s")).collect()
    assert(out(0).getDouble(0) == 1.7e18)
    assert(out(1).getDouble(0) == -2.5e17)
    assert(out(0).getDouble(1) == 1.2346, "half away from zero")
    assert(out(1).getDouble(1) == -1.2346)
  }

  test("entity resolve: typo copies cluster, exact copies collapse first") {
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog tonight"),
      (2L, "the quick brown fox jumps over the lazy dog tonight"), // exact dup
      (3L, "the quick brown fox jumps over the lazy cat tonight"), // 3 edits
      (4L, "a completely different document about spark plans here"),
      (5L, "the quick brown wolf leaps over the lazy dog tonight")) // ~8 edits
      .toDF("doc_id", "text")
    val out = TextOps.entityResolve(docs, "doc_id", "text",
      blockChars = 16, maxDist = 10)
      .collect().map(r => r.getAs[Long]("id") -> r.getAs[Long]("cluster")).toMap
    assert(out(1L) == 1L && out(2L) == 1L && out(3L) == 1L && out(5L) == 1L,
      s"edit-distance cluster: $out")
    assert(out(4L) == 4L, "unrelated doc is a singleton")
  }

  test("entity resolve: null texts are singleton clusters, never merged") {
    // the oracle's transitive closure seeds every doc, so a doc whose text
    // is null is its own cluster — null matches nothing, not even null
    val docs = Seq[(Long, Option[String])](
      (1L, Some("the quick brown fox jumps")),
      (2L, None),
      (3L, None),
      (4L, Some("the quick brown fox jumps")), // exact dup of 1
      (5L, Some("the quick brown fox jumped")), // 2 edits from 1
      (6L, Some("an unrelated sentence here")))
      .toDF("doc_id", "text")
    val out = TextOps.entityResolve(docs, "doc_id", "text",
      blockChars = 16, maxDist = 2)
      .collect().map(r => r.getAs[Long]("id") -> r.getAs[Long]("cluster")).toMap
    assert(out == Map(1L -> 1L, 2L -> 2L, 3L -> 3L, 4L -> 1L, 5L -> 1L, 6L -> 6L),
      s"clusters: $out")
  }

  test("entity resolve: empty input gives an empty (id, cluster) frame") {
    val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")
    val out = TextOps.entityResolve(empty, "doc_id", "text")
    assert(out.columns.toSeq == Seq("id", "cluster"))
    assert(out.count() == 0L)
  }

  test("conformal p-value: exact rank ratio, ties share p, guarantee bound") {
    val cal = (1 to 9).map(i => ("k", i.toDouble)).toDF("g", "s")
    val dat = Seq(("k", 1L, 9.5), ("k", 2L, 5.0), ("k", 3L, 0.5), ("k", 4L, 5.0))
      .toDF("g", "id", "s")
    val out = graft.post.PostOps.conformalPValue(dat, cal, Seq("g"), "s", "id")
      .collect().map(r => r.getAs[Long]("id") -> r.getAs[Double]("p_value")).toMap
    assert(out(1L) == 0.1)          // nothing in cal ≥ 9.5 → 1/10
    assert(out(2L) == 0.6)          // cal ≥ 5.0: {5..9} → 6/10
    assert(out(3L) == 1.0)          // all 9 ≥ 0.5 → 10/10
    assert(out(4L) == out(2L), "equal scores share the p-value")
  }

  test("association rules: always-together pair lifts above independence") {
    // baskets: (a,b) in 4 baskets; c in 2 of them plus 4 solo baskets
    val rows = (1 to 4).flatMap(i => Seq((i.toLong, "a"), (i.toLong, "b"))) ++
      Seq((1L, "c"), (2L, "c")) ++ (5 to 8).map(i => (i.toLong, "c"))
    val out = Assoc.associationRules(rows.toDF("bk", "item"), "bk", "item",
      minCount = 2L).collect()
      .map(r => (r.getAs[String]("item_a"), r.getAs[String]("item_b")) -> r).toMap
    val ab = out(("a", "b"))
    assert(ab.getAs[Long]("nab") == 4L && ab.getAs[Long]("n_baskets") == 8L)
    assert(ab.getAs[Double]("conf_ab") == 1.0 && ab.getAs[Double]("conf_ba") == 1.0)
    assert(ab.getAs[Double]("lift") == 2.0)      // 8·4/(4·4)
    val ac = out(("a", "c"))
    assert(ac.getAs[Long]("nab") == 2L)
    assert(math.abs(ac.getAs[Double]("lift") - 8.0 * 2 / (4 * 6)) < 1e-12)
    // duplicate (basket, item) rows must not inflate counts
    val dup = Assoc.associationRules((rows ++ Seq((1L, "a"), (1L, "a")))
      .toDF("bk", "item"), "bk", "item", 2L).collect()
      .map(r => (r.getAs[String]("item_a"), r.getAs[String]("item_b")) ->
        r.getAs[Long]("nab")).toMap
    assert(dup(("a", "b")) == 4L)
  }
}
