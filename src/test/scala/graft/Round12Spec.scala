package graft

import graft.multi.OutlierFaces
import org.apache.spark.sql.functions._

/** Round-12 operator pins. */
class Round12Spec extends SparkSpec {

  test("ecodHistogram: >=99% rank agreement with the window-ECDF form at sf0.1") {
    // the histogram form is the documented 100 TB path (r11 verdict
    // item 4) — it must rank the same records as the exact windowed
    // ECDF: Spearman correlation of the ecod ranks >= 0.99 over the
    // 2000-vector sf0.1 corpus
    val e = core.table(spark, "/root/testdata/sf0.1", "embeddings")
    val exact = OutlierFaces.ecod(e, "vec_id", "embedding")
      .select(col("vec_id"), col("ecod").as("a")).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val hist = OutlierFaces.ecodHistogram(e, "vec_id", "embedding", grain = 4)
      .select(col("vec_id"), col("ecod").as("b")).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(exact.keySet == hist.keySet)
    val ids = exact.keys.toArray
    def ranks(m: Map[Long, Double]): Map[Long, Double] = {
      // average ranks over ties
      val sorted = ids.sortBy(id => (m(id), id))
      val byVal = sorted.groupBy(m)
      val pos = sorted.zipWithIndex.toMap
      byVal.flatMap { case (_, grp) =>
        val avg = grp.map(id => pos(id) + 1.0).sum / grp.length
        grp.map(_ -> avg)
      }
    }
    val ra = ranks(exact); val rb = ranks(hist)
    val n = ids.length.toDouble
    val ma = ra.values.sum / n; val mb = rb.values.sum / n
    val cov = ids.map(id => (ra(id) - ma) * (rb(id) - mb)).sum
    val va = ids.map(id => math.pow(ra(id) - ma, 2)).sum
    val vb = ids.map(id => math.pow(rb(id) - mb, 2)).sum
    val rho = cov / math.sqrt(va * vb)
    assert(rho >= 0.99, f"ecod rank agreement rho=$rho%.5f < 0.99")
    // and the top-decile outlier sets agree on >= 90% of members
    val k = ids.length / 10
    val topA = ids.sortBy(id => -exact(id)).take(k).toSet
    val topB = ids.sortBy(id => -hist(id)).take(k).toSet
    val ov = topA.intersect(topB).size.toDouble / k
    assert(ov >= 0.9, f"top-decile overlap $ov%.3f < 0.9")
  }

  test("ecodHistogram plan: the per-dim ECDF window rides the value histogram, not the data") {
    val e = core.table(spark, sfDir, "embeddings")
    val df = OutlierFaces.ecodHistogram(e, "vec_id", "embedding")
    val p = df.queryExecution.executedPlan.toString
    // the only window partitions by the dimension over the (dim, value)
    // HISTOGRAM (post-aggregate), and no window lacks a partition spec
    assert(p.contains("windowspecdefinition(_i"))
    val opens = graft.tools.WindowAudit.unpartitionedWindows(df)
      .filter(_.kind == "open")
    assert(opens.isEmpty, s"unpartitioned windows: $opens")
  }

  test("hawkesFit: a self-exciting burst series fits high alpha, a flat series fits low") {
    import spark.implicits._
    val day = 86400000000000L
    // bursty: quiet baseline with a 6-day cascade (each day ~doubling)
    val bursty = (0 until 30).flatMap { d =>
      val c = if (d >= 12 && d <= 17) math.min(1 << (d - 11), 40) else 1
      (0 until c).map(i => ("burst", d * day + i))
    }
    // flat: constant 5/day — memoryless
    val flat = (0 until 30).flatMap(d =>
      (0 until 5).map(i => ("flat", d * day + i)))
    val df = (bursty ++ flat).toDF("k", "ts")
    val r = graft.model.Behavior.hawkesFit(df, "k", "ts", beta = 0.5)
      .collect().map(x => x.getString(0) ->
        (x.getAs[Double]("alpha"), x.getAs[Double]("mu"))).toMap
    assert(r("burst")._1 >= 0.5, s"burst alpha ${r("burst")._1} < 0.5")
    assert(r("flat")._1 <= 0.1, s"flat alpha ${r("flat")._1} > 0.1")
  }

  test("gesd: flags the planted outliers, Rosner rule un-masks the pair") {
    import spark.implicits._
    // two gross outliers of similar size — single-pass Grubbs masks one,
    // gESD's any-later-round rule must flag BOTH
    val vals = (1 to 100).map(i => ("g", i.toLong, 10.0 + (i % 7) * 0.1)) ++
      Seq(("g", 900L, 95.0), ("g", 901L, 94.0))
    val r = graft.model.Diagnostics.gesd(vals.toDF("k", "o", "v"),
        "k", "o", "v", maxK = 3).collect().sortBy(_.getAs[Int]("round"))
    assert(r.length == 3)
    assert(r(0).getAs[Long]("outlier_ord") == 900L)
    assert(r(1).getAs[Long]("outlier_ord") == 901L)
    assert(r(0).getAs[Boolean]("significant") &&
      r(1).getAs[Boolean]("significant"),
      "both planted outliers must be significant")
    assert(!r(2).getAs[Boolean]("significant"),
      "the clean-bulk round must not be significant")
  }

  test("copulaCorrelation: monotone dependence -> rho near 1; independence near 0") {
    import spark.implicits._
    val rows = (1 to 400).map { i =>
      val x = ((i * 37) % 101).toDouble
      (x, x * x + 3.0, ((i * 61) % 97).toDouble) // y = monotone in x
    }
    val r = graft.model.Assoc.copulaCorrelation(
        rows.toDF("x", "y", "w"), Seq("x", "y", "w"))
      .collect().map(q => (q.getString(0), q.getString(1)) ->
        q.getAs[Double]("corr")).toMap
    assert(r(("x", "y")) > 0.99, s"monotone pair rho ${r(("x", "y"))}")
    assert(math.abs(r(("x", "w"))) < 0.15, s"independent pair ${r(("x", "w"))}")
  }

  test("negBinRegFit: alpha=0 recovers the Poisson fit exactly") {
    import spark.implicits._
    val df = (1 to 300).map { i =>
      val x = (i % 8).toDouble
      (x, math.floor(math.exp(0.2 + 0.1 * x)).max(0.0))
    }.toDF("x", "y")
    val nb = graft.model.Assoc.negBinRegFit(df, "x", "y", alpha = 0.0,
      iters = 8, lr = 0.1).collect()(0)
    val po = graft.model.Assoc.poissonRegFit(df, "x", "y",
      iters = 8, lr = 0.1).collect()(0)
    assert(nb.getAs[Double]("a") == po.getAs[Double]("a"))
    assert(nb.getAs[Double]("b") == po.getAs[Double]("b"))
  }

  test("featureHash: fixed-dim signed counts, merge-consistent across splits") {
    import spark.implicits._
    val docs = Seq((1L, "a b a c"), (2L, "a b"), (3L, "c c d")).toDF("id", "t")
    val full = graft.text.TextOps.featureHash(docs, "id", "t", dim = 16)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    // doc-level vectors are independent: hashing doc 1 alone matches
    val solo = graft.text.TextOps.featureHash(docs.where($"id" === 1L),
        "id", "t", dim = 16)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(solo == full.filter(_._1._1 == 1L))
    assert(full.keys.forall { case (_, b) => b >= 0 && b < 16 })
  }

  test("als2: rank-2 factorization reconstructs a rank-2 matrix, rmse near 0") {
    import spark.implicits._
    // a genuinely rank-2 matrix: y(u,i) = a_u*b_i + c_u*d_i
    val rows = for (u <- 0 until 40; i <- 0 until 6) yield {
      val au = 1.0 + (u % 5) * 0.5; val cu = 0.5 + (u % 3) * 0.25
      val bi = 1.0 + i * 0.3; val di = 2.0 - i * 0.2
      (s"u$u", s"i$i", au * bi + cu * di)
    }
    val out = graft.model.Factorize.als2(rows.toDF("u", "i", "y"),
      "u", "i", "y", iters = 8, lambda = 0.01).collect()
    val rmse = out.find(_.getString(0) == "rmse").get.getAs[Double]("f1")
    assert(rmse < 0.05, s"rank-2 matrix should reconstruct, rmse=$rmse")
    assert(out.count(_.getString(0) == "user") == 40)
    assert(out.count(_.getString(0) == "item") == 6)
  }

  test("kmvOverlap: identical sets estimate jaccard 1, disjoint sets 0; exact under k") {
    import spark.implicits._
    val items = (1 to 40).map(i => s"v$i")
    val rows = items.map(("a", _)) ++ items.map(("b", _)) ++
      (1 to 40).map(i => ("c", s"w$i"))
    val sk = graft.model.Fitters.kmvSketch(rows.toDF("src", "tok"),
      Seq("src"), "tok", k = 64)
    val r = graft.model.Fitters.kmvOverlap(sk, "src", k = 64)
      .collect().map(x => (x.getString(0), x.getString(1)) ->
        (x.getAs[Double]("est_jaccard"), x.getAs[Double]("est_union"))).toMap
    // a∪b = 40 distinct < k: exact; a∪c = 80 > k=64: estimated
    assert(r(("a", "b"))._1 == 1.0 && r(("a", "b"))._2 == 40.0)
    assert(r(("a", "c"))._1 == 0.0)
    assert(math.abs(r(("a", "c"))._2 - 80.0) / 80.0 < 0.2,
      s"union estimate ${r(("a", "c"))._2} off by >20%")
  }

  test("groupSequential: a real effect crosses OBF late, null effect never decides") {
    import spark.implicits._
    val rows = (1 to 2000).map { i =>
      val t = i % 2 == 0
      // keyed fixtures: "fx" has a real +1.0 treated lift, "nl" has none
      Seq(("fx", i.toLong, t, 10.0 + (i % 9) * 0.3 + (if (t) 1.0 else 0.0)),
        ("nl", i.toLong, t, 10.0 + (i % 9) * 0.3))
    }.flatten
    val out = graft.model.Experiment.groupSequential(
        rows.toDF("k", "o", "t", "v"), "k", "o", "t", "v",
        looks = 4, shape = "obf")
      .collect().groupBy(_.getString(0))
    assert(out("fx").exists(_.getAs[Boolean]("crossed")),
      "real lift must cross the OBF boundary")
    assert(out("fx").maxBy(_.getAs[Long]("look")).getAs[Boolean]("decided"))
    assert(!out("nl").exists(_.getAs[Boolean]("crossed")),
      "null effect must never cross")
    // OBF shape: the boundary tightens toward 1.96·... at the last look
    val bounds = out("fx").sortBy(_.getAs[Long]("look"))
      .map(_.getAs[Double]("bound"))
    assert(bounds.zip(bounds.tail).forall { case (a, b) => a > b })
  }

  test("betaBinomialShrink: small-n extremes shrink toward the pool, big-n barely move") {
    import spark.implicits._
    // many moderate entities + one tiny 2/2 entity + one huge 900/1000
    val rows = (1 to 30).map(i => (s"e$i", (20 + i % 11).toLong, 100L)) ++
      Seq(("tiny", 2L, 2L), ("huge", 900L, 1000L))
    val r = graft.post.PostOps.betaBinomialShrink(
        rows.toDF("k", "s", "n"), "k", "s", "n")
      .collect().map(x => x.getString(0) ->
        (x.getAs[Double]("raw_rate"), x.getAs[Double]("shrunk_rate"))).toMap
    val (tRaw, tShr) = r("tiny")
    val (hRaw, hShr) = r("huge")
    assert(tRaw == 1.0 && tShr < 0.75, s"tiny 2/2 must shrink hard: $tShr")
    assert(math.abs(hShr - hRaw) < 0.05,
      s"huge 900/1000 must barely move: $hRaw -> $hShr")
  }

  test("ransacLine: recovers the inlier line under 40% structured contamination") {
    import spark.implicits._
    // 60% on y = 2x + 5 (tiny jitter), 40% on a DIFFERENT line — Theil-Sen
    // territory's edge; consensus must pick the majority line
    val rows = (0 until 300).map { i =>
      val x = (i % 50).toDouble
      val y = if (i % 5 < 3) 2.0 * x + 5.0 + (i % 3) * 0.05
      else -1.0 * x + 90.0
      ("k", i.toLong, x, y)
    }
    val r = graft.model.Assoc.ransacLine(rows.toDF("k", "id", "x", "y"),
      "k", "id", "x", "y", candidates = 16, tol = 2.0).collect()(0)
    assert(math.abs(r.getAs[Double]("slope") - 2.0) < 0.05,
      s"slope ${r.getAs[Double]("slope")}")
    assert(math.abs(r.getAs[Double]("intercept") - 5.0) < 1.0,
      s"intercept ${r.getAs[Double]("intercept")}")
    assert(r.getAs[Long]("n_inliers") >= 150)
  }

  test("prefixJaccardJoin: positional + pair-prefix filters preserve the exact result") {
    import spark.implicits._
    // brute-force oracle on a small tie-heavy corpus
    val docs = SimJoinSpec.tieHeavyDocs(spark)
    val rows = graft.sim.SimJoin.prefixJaccardJoin(docs, "doc_id", "text", 0.5)
      .select("a", "b", "jaccard").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    // the Set compare below hides duplicates: each pair must be one row
    assert(rows.length == rows.map(r => (r._1, r._2)).distinct.length,
      s"duplicate pairs: ${rows.length} rows")
    val got = rows.toSet
    val toks = docs.collect().map(r => r.getLong(0) ->
      r.getString(1).split(" ").toSet).toMap
    val want = (for {
      a <- toks.keys; b <- toks.keys if a < b
      inter = toks(a).intersect(toks(b)).size
      j = inter.toDouble / (toks(a).size + toks(b).size - inter)
      if j >= 0.5
    } yield (a, b, j)).toSet
    assert(got == want, s"missing=${want -- got} extra=${got -- want}")
  }
}
