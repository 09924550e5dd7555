package graft.model

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Distribution-diagnostic and paired-sample tests (engine additions):
  * Jarque–Bera normality, Bartlett's equal-variance test, the
  * Wald–Wolfowitz runs test, McNemar's paired-binary test, the Wilcoxon
  * signed-rank test and Friedman's within-block rank test — the
  * assumptions-and-pairs half of the battery that GroupTests'
  * between-group F/H/BF tests leave open. A scorer that assumes
  * normality (zscore) or whiteness (forecast residuals) needs these to
  * say when its own premises fail.
  *
  * Determinism: the GroupTests contract — values quantize to 4dp
  * fixed-point longs, every sum (up to 4th powers for JB) accumulates
  * as decimal(38,0)/HUGEINT, ranks ride the 2·r̄ exact-integer device,
  * cross-group double reductions use the ordered fold — so every output
  * is a fixed IEEE double expression of exact integers that the DuckDB
  * oracle replays bit-identically.
  *
  * Scale: each test is one hash aggregate to key/group-sized stats plus
  * a model-sized finish; the runs test adds the per-entity-series sort
  * window shared with the seq kernels. Fourth-power sums hold exactly in
  * decimal(38,0) up to ~1e11 rows per key at |value| ≤ 1e3 (fp⁴ ≈ 1e26
  * per row) — beyond that, pre-aggregate or re-scale the fixed point. */
object Diagnostics {

  private def fp(c: Column): Column = graft.core.fixedPointLong(c, 4)
  private def dec(c: Column): Column = c.cast("decimal(38,0)")

  /** The complete-block frame shared by the (block, treatment, value)
    * tests: rows where `present` holds, as (`b`, `t`, `value`), kept
    * only in blocks that carry all k distinct treatments. k is counted
    * eagerly — every caller reports it as a literal. */
  private def completeBlocks(data: DataFrame, blockCol: String,
      treatCol: String, present: Column, value: Column,
      b: String = "_b", t: String = "_t"): (DataFrame, Long) = {
    val base = data.where(present)
      .select(col(blockCol).as(b), col(treatCol).as(t), value)
    val k = base.select(col(t)).distinct().count()
    (base.withColumn("_kb", count(lit(1)).over(Window.partitionBy(col(b))))
      .where(col("_kb") === k), k)
  }

  /** Within-block average ranks of `_v` over a complete-block frame:
    * `_r2` = 2·r̄ = 2·rank + ct − 1, exact ints. */
  private def blockRanks(full: DataFrame): DataFrame = {
    val bw = Window.partitionBy(col("_b")).orderBy(col("_v").asc)
    val cw = Window.partitionBy(col("_b"), col("_v"))
    full.withColumn("_r2",
      lit(2) * rank().over(bw) + count(lit(1)).over(cw) - 1)
  }

  /** Jarque–Bera normality test per key: sample skewness g1 and
    * kurtosis g2 from exact power sums (population-moment form, the JB
    * convention), JB = n/6·(g1² + (g2−3)²/4). One row per key:
    * key, n, skewness, kurtosis, jb_stat. */
  def jarqueBera(data: DataFrame, keyCol: String, valCol: String)
      : DataFrame = {
    val v = col(valCol).cast("double")
    val f = dec(col("_fp"))
    val sums = data.where(v.isNotNull)
      .select(col(keyCol).as("key"), fp(v).as("_fp"))
      .groupBy(col("key"))
      .agg(count(lit(1)).as("n"),
        sum(f).as("_s1"),
        sum(dec(f * f)).as("_s2"),
        sum(dec(dec(f * f) * f)).as("_s3"),
        sum(dec(dec(f * f) * dec(f * f))).as("_s4"))
    val n = col("n").cast("double")
    val m = col("_s1").cast("double") / n
    val m2 = col("_s2").cast("double") / n - m * m
    val m3 = col("_s3").cast("double") / n - lit(3.0) * m *
      (col("_s2").cast("double") / n) + lit(2.0) * m * m * m
    val m4 = col("_s4").cast("double") / n - lit(4.0) * m *
      (col("_s3").cast("double") / n) + lit(6.0) * m * m *
      (col("_s2").cast("double") / n) - lit(3.0) * m * m * m * m
    sums
      .withColumn("skewness", m3 / sqrt(m2 * m2 * m2))
      .withColumn("kurtosis", m4 / (m2 * m2))
      .withColumn("jb_stat", n / 6.0 *
        (col("skewness") * col("skewness") +
          (col("kurtosis") - 3.0) * (col("kurtosis") - 3.0) / 4.0))
      .select("key", "n", "skewness", "kurtosis", "jb_stat")
  }

  /** Bartlett's test for equality of variances across groups:
    * T = [(N−k)·ln Sp² − Σ(n_i−1)·ln S_i²] / C with
    * C = 1 + (Σ 1/(n_i−1) − 1/(N−k)) / (3(k−1)). Variances are in
    * value² units (exact fp sums / 1e8); the three cross-group
    * reductions are ordered folds. One row: k, n, pooled_var, t_stat. */
  def bartlett(data: DataFrame, groupCol: String, valCol: String)
      : DataFrame = {
    val v = col(valCol).cast("double")
    val g = data.where(v.isNotNull)
      .select(col(groupCol).as("_g"), fp(v).as("_fp"))
      .groupBy(col("_g"))
      .agg(count(lit(1)).as("_ng"),
        sum(dec(col("_fp"))).as("_s"),
        sum(dec(dec(col("_fp")) * dec(col("_fp")))).as("_q"))
      .where(col("_ng") >= 2)
    val ngD = col("_ng").cast("double")
    val vi = (col("_q").cast("double") -
      col("_s").cast("double") * col("_s").cast("double") / ngD) /
      (ngD - 1) / 1e8
    // one ordered fold over (n−1)·S², (n−1)·ln S², 1/(n−1)
    val folded = g
      .agg(sort_array(collect_list(struct(col("_g").as("g"),
        ((ngD - 1) * vi).as("t1"),
        ((ngD - 1) * log(vi)).as("t2"),
        (lit(1.0) / (ngD - 1)).as("t3")))).as("_a"),
        count(lit(1)).as("k"), sum(col("_ng")).as("_n"))
      .select(col("k"), col("_n"),
        aggregate(col("_a"), lit(0.0), (a, x) => a + x("t1")).as("_sv"),
        aggregate(col("_a"), lit(0.0), (a, x) => a + x("t2")).as("_sl"),
        aggregate(col("_a"), lit(0.0), (a, x) => a + x("t3")).as("_si"))
    val nD = col("_n").cast("double")
    val kD = col("k").cast("double")
    folded
      .withColumn("pooled_var", col("_sv") / (nD - kD))
      .withColumn("_c", lit(1.0) +
        (col("_si") - lit(1.0) / (nD - kD)) / (lit(3.0) * (kD - 1)))
      .withColumn("t_stat",
        ((nD - kD) * log(col("pooled_var")) - col("_sl")) / col("_c"))
      .withColumn("n", col("_n").cast("long"))
      .select("k", "n", "pooled_var", "t_stat")
  }

  /** Wald–Wolfowitz runs test per key: sides are above/below the exact
    * per-key median (2·median integer device; ties AT the median drop,
    * the standard convention), R = number of runs in `ordCol` order,
    * z = (R − μ_R)/σ_R with μ_R = 2n₁n₂/n + 1. One row per key:
    * key, n1, n2, runs, z — |z| large ⇒ the series is not random
    * (trend/cluster structure a mean-based scorer will misread). */
  def runsTest(data: DataFrame, keyCol: String, ordCol: String,
      valCol: String): DataFrame = {
    val v = col(valCol).cast("double")
    val base = data.where(v.isNotNull)
      .select(col(keyCol).as("key"), col(ordCol).cast("long").as("_o"),
        fp(v).as("_v"))
    val w = Window.partitionBy(col("key")).orderBy(col("_v").asc)
    val kw = Window.partitionBy(col("key"))
    val med2 = base
      .withColumn("_rn", row_number().over(w).cast("long"))
      .withColumn("_c", count(lit(1)).over(kw).cast("long"))
      .where(col("_rn") === floor((col("_c") + 1) / 2).cast("long") ||
        col("_rn") === floor(col("_c") / 2).cast("long") + 1)
      .groupBy(col("key")).agg((sum(col("_v")) *
        when(count(lit(1)) === 1, 2).otherwise(1)).as("_m2"))
    val sided = base.join(broadcast(med2), "key")
      .withColumn("_side",
        when(lit(2) * col("_v") > col("_m2"), 1)
          .when(lit(2) * col("_v") < col("_m2"), -1))
      .where(col("_side").isNotNull)
    val ow = Window.partitionBy(col("key")).orderBy(col("_o").asc)
    val runs = sided
      .withColumn("_chg",
        when(lag(col("_side"), 1).over(ow).isNull, 1)
          .when(lag(col("_side"), 1).over(ow) =!= col("_side"), 1)
          .otherwise(0))
      .groupBy(col("key"))
      .agg(sum(when(col("_side") === 1, 1L).otherwise(0L)).as("n1"),
        sum(when(col("_side") === -1, 1L).otherwise(0L)).as("n2"),
        sum(col("_chg")).as("runs"))
    val n1 = col("n1").cast("double"); val n2 = col("n2").cast("double")
    val nn = n1 + n2
    val muR = lit(2.0) * n1 * n2 / nn + 1.0
    val sigR = sqrt(lit(2.0) * n1 * n2 * (lit(2.0) * n1 * n2 - nn) /
      (nn * nn * (nn - 1)))
    runs.withColumn("z", (col("runs").cast("double") - muR) / sigR)
      .select("key", "n1", "n2", "runs", "z")
  }

  /** McNemar's test over paired binary flags (continuity-corrected):
    * b = #(a ∧ ¬b), c = #(¬a ∧ b), χ² = (|b−c|−1)²/(b+c). One row:
    * n, b, c, mcnemar_stat — "did the flag flip asymmetrically between
    * the two conditions" on the same subjects. */
  def mcnemar(pairs: DataFrame, aCol: String, bCol: String): DataFrame = {
    val a = col(aCol).cast("boolean"); val b = col(bCol).cast("boolean")
    pairs.where(a.isNotNull && b.isNotNull)
      .agg(count(lit(1)).as("n"),
        sum(when(a && !b, 1L).otherwise(0L)).as("b"),
        sum(when(!a && b, 1L).otherwise(0L)).as("c"))
      .withColumn("mcnemar_stat",
        when(col("b") + col("c") === 0, 0.0).otherwise(
          (abs(col("b") - col("c")).cast("double") - 1.0) *
            (abs(col("b") - col("c")).cast("double") - 1.0) /
            (col("b") + col("c")).cast("double")))
      .select("n", "b", "c", "mcnemar_stat")
  }

  /** Wilcoxon signed-rank test over paired doubles (x, y): exact
    * fixed-point differences, zero differences drop, |d| ranks via the
    * 2·r̄ histogram device (ties averaged exactly), W⁺ carried as the
    * exact integer 2·W⁺; normal approximation with the tie-corrected
    * variance σ² = n(n+1)(2n+1)/24 − Σ(t³−t)/48. One row:
    * n, w_plus, z. */
  def wilcoxonSignedRank(pairs: DataFrame, xCol: String, yCol: String)
      : DataFrame = {
    val d = pairs
      .where(col(xCol).isNotNull && col(yCol).isNotNull)
      .select((fp(col(xCol).cast("double")) -
        fp(col(yCol).cast("double"))).as("_d"))
      .where(col("_d") =!= 0)
      .select(abs(col("_d")).as("_ad"), (col("_d") > 0).as("_pos"))
    // |d|-histogram: 2·r̄(v) = 2·cumBefore(v) + ct(v) + 1 (exact ints)
    val h = d.groupBy(col("_ad"))
      .agg(count(lit(1)).as("_ct"),
        sum(when(col("_pos"), 1L).otherwise(0L)).as("_np"))
    val r = GroupTests.valueCumSum(h, Map("_ct" -> "_cum"), "_ad")
      .withColumn("_r2", GroupTests.midrank2(col("_cum"), col("_ct")))
    val agg = r.agg(sum(col("_ct")).as("n"),
      sum(col("_np") * col("_r2")).as("_w2"),
      sum(col("_ct") * col("_ct") * col("_ct") - col("_ct")).as("_tc"))
    val nD = col("n").cast("double")
    agg
      .withColumn("w_plus", col("_w2").cast("double") / 2.0)
      .withColumn("z",
        (col("w_plus") - nD * (nD + 1) / 4.0) /
          sqrt(nD * (nD + 1) * (lit(2.0) * nD + 1) / 24.0 -
            col("_tc").cast("double") / 48.0))
      .select("n", "w_plus", "z")
  }

  /** Friedman's rank test: one observation per (block, treatment) —
    * callers pre-aggregate — over blocks that carry ALL k treatments;
    * within-block average ranks via the 2·r̄ device, treatment rank
    * sums as exact integers, χ²_F = 12/(nk(k+1))·ΣR_j² − 3n(k+1)
    * (average-rank form; the Σ over the k treatments is an ordered
    * fold). One row: n_blocks, k, chi2. */
  def friedman(data: DataFrame, blockCol: String, treatCol: String,
      valCol: String): DataFrame = {
    val v = col(valCol).cast("double")
    val (full, k) = completeBlocks(data, blockCol, treatCol, v.isNotNull,
      fp(v).as("_v"))
    val ranked = blockRanks(full)
    val byTreat = ranked.groupBy(col("_t"))
      .agg(sum(col("_r2")).as("_rs2"), count(lit(1)).as("_nb"))
    val folded = GroupTests.foldOrdered(byTreat, "_t",
      col("_rs2").cast("double") * col("_rs2").cast("double") / 4.0, "_t2")
    val nb = byTreat.agg(max(col("_nb")).as("n_blocks"))
    val nD = col("n_blocks").cast("double")
    nb.crossJoin(folded)
      .withColumn("k", lit(k))
      .withColumn("chi2",
        lit(12.0) / (nD * k * (k + 1)) * col("_t2") -
          lit(3.0) * nD * (k + 1))
      .select("n_blocks", "k", "chi2")
  }

  /** Page's trend test for ordered alternatives (Page 1963) — the
    * directional Friedman: with treatments taken in LEXICOGRAPHIC
    * order (position j = 1..k), L = Σ_j j·R_j over within-block
    * average ranks (2·r̄ exact integers, so 2·L is an exact long),
    * z = (L − n·k(k+1)²/4) / √(n·k²(k+1)²(k−1)/144). Rejects when the
    * treatments TREND in the given order — which Friedman's any-
    * difference χ² cannot see. One row: n_blocks, k, l_stat, z. */
  def pageL(data: DataFrame, blockCol: String, treatCol: String,
      valCol: String): DataFrame = {
    val v = col(valCol).cast("double")
    val (full, k) = completeBlocks(data, blockCol, treatCol, v.isNotNull,
      fp(v).as("_v"))
    val ranked = blockRanks(full)
    val byTreat = ranked.groupBy(col("_t"))
      .agg(sum(col("_r2")).as("_rs2"), count(lit(1)).as("_nb"))
    // position j = lexicographic index of the treatment (1-based)
    val jw = Window.orderBy(col("_t").asc)
    val withJ = byTreat.withColumn("_j", row_number().over(jw).cast("long"))
    val g = withJ.agg(max(col("_nb")).as("n_blocks"),
      sum(col("_j") * col("_rs2")).as("_l2"))
    val nD = col("n_blocks").cast("double")
    val kD = k.toDouble
    g.withColumn("k", lit(k))
      .withColumn("l_stat", col("_l2").cast("double") / 2.0)
      .withColumn("z",
        (col("l_stat") - nD * kD * (kD + 1) * (kD + 1) / 4.0) /
          sqrt(nD * kD * kD * (kD + 1) * (kD + 1) * (kD - 1) / 144.0))
      .select("n_blocks", "k", "l_stat", "z")
  }

  /** Quade test over the (block, treatment, value) frame — Friedman
    * weighted by block informativeness: blocks are ranked by their
    * value RANGE (Q_i, average ranks via the histogram device), scores
    * S_ij = Q_i·(r_ij − (k+1)/2) carried as the exact integer
    * 4·S = 2Q·(2r̄ − (k+1)), then T = (n−1)·B/(A−B) with A = ΣΣS² and
    * B = Σ_j(Σ_i S_ij)²/n — blocks that actually discriminate count
    * more, which makes Quade beat Friedman at small k. One row:
    * n_blocks, k, t_stat. */
  def quade(data: DataFrame, blockCol: String, treatCol: String,
      valCol: String): DataFrame = {
    val v = col(valCol).cast("double")
    val (full, k) = completeBlocks(data, blockCol, treatCol, v.isNotNull,
      fp(v).as("_v"))
    val ranked = blockRanks(full)
    // block ranges → block ranks Q (2·Q̄ ints via the range histogram)
    val rng = full.groupBy(col("_b"))
      .agg((max(col("_v")) - min(col("_v"))).as("_rg"))
    val rh = rng.groupBy(col("_rg")).agg(count(lit(1)).as("_ct"))
    val q2 = GroupTests.valueCumSum(rh, Map("_ct" -> "_cum"), "_rg")
      .withColumn("_q2", GroupTests.midrank2(col("_cum"), col("_ct")))
    val blocks = rng.join(q2.select(col("_rg"), col("_q2")), "_rg")
      .select(col("_b"), col("_q2"))
    // 4·S_ij = _q2 · (2r̄ − (k+1)) exactly
    val s4 = ranked.join(blocks, "_b")
      .withColumn("_s4", col("_q2") * (col("_r2") - (lit(k) + 1)))
    val a = s4.agg(count(lit(1)).as("_nk"),
      sum((col("_s4").cast("decimal(38,0)") *
        col("_s4").cast("decimal(38,0)")).cast("decimal(38,0)")).as("_a16"))
    val byT = s4.groupBy(col("_t"))
      .agg(sum(col("_s4")).as("_sj4"), count(lit(1)).as("_nb"))
    val b = byT.agg(max(col("_nb")).as("n_blocks"),
      sum((col("_sj4").cast("decimal(38,0)") *
        col("_sj4").cast("decimal(38,0)")).cast("decimal(38,0)")).as("_b16"))
    val nD = col("n_blocks").cast("double")
    a.crossJoin(b)
      .withColumn("k", lit(k))
      .withColumn("_ad", col("_a16").cast("double") / 16.0)
      .withColumn("_bd", col("_b16").cast("double") / 16.0 / nD)
      .withColumn("t_stat",
        (nD - 1) * col("_bd") / (col("_ad") - col("_bd")))
      .select("n_blocks", "k", "t_stat")
  }

  /** Kendall's W coefficient of concordance over the same
    * (block, treatment, value) frame as Friedman/Page: with exact
    * integer rank sums (2·R_j), W = 12·S/(n²·k·(k²−1)) where
    * S = Σ_j (R_j − n(k+1)/2)² — carried as the exact integer
    * Σ(2R_j − n(k+1))²/4 so S never touches a float. W ∈ [0,1]:
    * 1 = every block ranks the treatments identically (the effect-SIZE
    * companion to Friedman's χ² verdict). One row: n_blocks, k, w. */
  def kendallW(data: DataFrame, blockCol: String, treatCol: String,
      valCol: String): DataFrame = {
    val v = col(valCol).cast("double")
    val (full, k) = completeBlocks(data, blockCol, treatCol, v.isNotNull,
      fp(v).as("_v"))
    val ranked = blockRanks(full)
    val byTreat = ranked.groupBy(col("_t"))
      .agg(sum(col("_r2")).as("_rs2"), count(lit(1)).as("_nb"))
    // 4·S = Σ (2R_j − n(k+1))² — exact longs
    val g = byTreat.agg(max(col("_nb")).as("n_blocks"),
      sum((col("_rs2") - col("_nb") * (lit(k) + 1)) *
        (col("_rs2") - col("_nb") * (lit(k) + 1))).as("_s4"))
    val nD = col("n_blocks").cast("double")
    val kD = k.toDouble
    g.withColumn("k", lit(k))
      .withColumn("w", lit(12.0) * (col("_s4").cast("double") / 4.0) /
        (nD * nD * kD * (kD * kD - 1)))
      .select("n_blocks", "k", "w")
  }

  /** Cochran's Q over k paired binary flags — one 0/1 observation per
    * (block, treatment), complete blocks only. The all-integer form
    * Q = (k−1)·(k·ΣG_j² − T²) / (k·T − ΣL_i²) keeps numerator and
    * denominator exact (G_j = treatment totals, L_i = block totals,
    * T = grand total); the ONLY double op is the final division. One
    * row: n_blocks, k, q_stat — the k-condition extension of McNemar. */
  def cochranQ(data: DataFrame, blockCol: String, treatCol: String,
      flagCol: String): DataFrame = {
    val f = col(flagCol).cast("boolean")
    val (full, k) = completeBlocks(data, blockCol, treatCol, f.isNotNull,
      when(f, 1L).otherwise(0L).as("_x"))
    val gj = full.groupBy(col("_t")).agg(sum(col("_x")).as("_g"))
      .agg(sum(col("_g") * col("_g")).as("_sg2"), sum(col("_g")).as("_tt"))
    val li = full.groupBy(col("_b")).agg(sum(col("_x")).as("_l"))
      .agg(sum(col("_l") * col("_l")).as("_sl2"),
        count(lit(1)).as("n_blocks"))
    gj.crossJoin(li)
      .withColumn("k", lit(k))
      .withColumn("q_stat",
        ((lit(k) - 1) * (lit(k) * col("_sg2") - col("_tt") * col("_tt")))
          .cast("double") /
          (lit(k) * col("_tt") - col("_sl2")).cast("double"))
      .select("n_blocks", "k", "q_stat")
  }

  /** Grubbs' test per key: G = max|x − x̄|/s with the arg-max row
    * identified (ties break toward larger |2n·fp − 2·S| then smaller
    * ord — an exact integer comparison, so the winner is engine-
    * independent). One row per key: key, n, outlier_ord, value, g_stat.
    * The "is the single worst point a statistical outlier" primitive —
    * the one-point complement of the ESD battery. */
  def grubbs(data: DataFrame, keyCol: String, ordCol: String,
      valCol: String): DataFrame = {
    val v = col(valCol).cast("double")
    val base = data.where(v.isNotNull)
      .select(col(keyCol).as("key"), col(ordCol).cast("long").as("_o"),
        v.as("value"), fp(v).as("_fp"))
    val st = base.groupBy(col("key"))
      .agg(count(lit(1)).as("n"),
        sum(dec(col("_fp"))).as("_s"),
        sum(dec(dec(col("_fp")) * dec(col("_fp")))).as("_q"))
    val nD = col("n").cast("double")
    val joined = base.join(broadcast(st), "key")
      // exact integer deviation |n·fp − S| (scale n·1e4) for the arg-max
      .withColumn("_dev",
        abs(nD.cast("decimal(38,0)") * dec(col("_fp")) - col("_s")))
    val w = Window.partitionBy(col("key"))
      .orderBy(col("_dev").desc, col("_o").asc)
    joined.withColumn("_rn", row_number().over(w)).where(col("_rn") === 1)
      .withColumn("_mu", col("_s").cast("double") / nD / 1e4)
      .withColumn("_sd", sqrt((col("_q").cast("double") -
        col("_s").cast("double") * col("_s").cast("double") / nD) /
        (nD - 1)) / 1e4)
      .withColumn("g_stat", abs(col("value") - col("_mu")) / col("_sd"))
      .select(col("key"), col("n"), col("_o").as("outlier_ord"),
        col("value"), col("g_stat"))
  }

  /** Generalized ESD (Rosner, Technometrics 1983) per key: the
    * MULTIPLE-outlier extension of [[grubbs]] — iterate `maxK` rounds,
    * each removing the current arg-max |x − x̄| point and recording
    * R_r = |x* − x̄_r|/s_r against the critical λ_r; outlier r is
    * significant iff ANY round j ≥ r has R_j > λ_j (Rosner's rule,
    * which is what makes gESD robust to masking where iterated Grubbs
    * is not). λ uses the large-sample normal quantile via the shared
    * Acklam probit (exact Rosner uses t quantiles; the normal form is
    * the documented n ≳ 25 approximation, and the probit replays
    * bit-for-bit in the oracle): with p = 1 − α/(2n_r),
    * λ_r = (n_r − 1)·z_p / √((n_r − 2 + z_p²)·n_r).
    *
    * Determinism: arg-max rows are exact-integer selections (the
    * grubbs |n·fp − S| device, ties to smaller ord); means/sds come
    * from exact 4dp moment sums.
    *
    * Scale (r13 — the TailScores.esd candidate device): ONE full-data
    * moment aggregate + ONE double-ranked candidate cut (2·maxK rows
    * per end per key always contain every possible arg-max, since
    * |n·fp − S| is maximized at the remaining min or max value and a
    * round consumes at most one row from one end, ties resolving in
    * (_fp, ord) order within the kept prefix); the rounds then run
    * over the ≤4·maxK-per-key candidate frame with the moment sums
    * maintained by exact decimal subtraction — output-identical to the
    * per-round full rescan (the same oracle gates it) while per-round
    * work drops from data-sized to candidate-sized.
    *
    * Output per (key, round): key, round, n_remaining, outlier_ord,
    * value, r_stat, lambda, significant. */
  def gesd(data: DataFrame, keyCol: String, ordCol: String,
      valCol: String, maxK: Int = 3, alphaSig: Double = 0.05): DataFrame = {
    require(maxK >= 1 && maxK <= 10, "1 <= maxK <= 10")
    require(alphaSig > 0 && alphaSig < 0.5, "0 < alpha < 0.5")
    val v = col(valCol).cast("double")
    val base = data.where(v.isNotNull)
      .select(col(keyCol).as("key"), col(ordCol).cast("long").as("_o"),
        v.as("value"), fp(v).as("_fp"))
      .localCheckpoint(true)
    val cap = 2 * maxK
    // key-sized; checkpoint so the ONE full-data moment pass runs once —
    // uncached it re-aggregated the whole base checkpoint inside every
    // round's plan (maxK actions × data-sized agg; advice r13)
    val sums0 = base.groupBy(col("key"))
      .agg(count(lit(1)).as("_n0"),
        sum(dec(col("_fp"))).as("_s0"),
        sum(dec(dec(col("_fp")) * dec(col("_fp")))).as("_q0"))
      .localCheckpoint(true)
    val wa = Window.partitionBy(col("key"))
      .orderBy(col("_fp").asc, col("_o").asc)
    val wd = Window.partitionBy(col("key"))
      .orderBy(col("_fp").desc, col("_o").asc)
    val cand = base
      .withColumn("_ra", row_number().over(wa))
      .withColumn("_rd", row_number().over(wd))
      .where(col("_ra") <= cap || col("_rd") <= cap)
      .drop("_ra", "_rd")
      .localCheckpoint(true)
    var excluded: DataFrame = null
    val rounds = (1 to maxK).map { r =>
      val cur =
        if (excluded == null) cand
        else cand.join(excluded.select(col("key"), col("_o")),
          Seq("key", "_o"), "left_anti")
      val st =
        if (excluded == null)
          sums0.select(col("key"), col("_n0").as("_n"),
            col("_s0").as("_s"), col("_q0").as("_q"))
        else {
          val rem = excluded.groupBy(col("key"))
            .agg(count(lit(1)).as("_rc"),
              sum(dec(col("_rfp"))).as("_rs"),
              sum(dec(dec(col("_rfp")) * dec(col("_rfp")))).as("_rq"))
          sums0.join(rem, Seq("key"), "left")
            .select(col("key"),
              (col("_n0") - coalesce(col("_rc"), lit(0L))).as("_n"),
              (col("_s0") - coalesce(col("_rs"),
                lit(0L).cast("decimal(38,0)"))).as("_s"),
              (col("_q0") - coalesce(col("_rq"),
                lit(0L).cast("decimal(38,0)"))).as("_q"))
        }
      val nD = col("_n").cast("double")
      val w = Window.partitionBy(col("key"))
        .orderBy(col("_dev").desc, col("_o").asc)
      val pick = cur.join(broadcast(st), "key")
        .withColumn("_dev",
          abs(nD.cast("decimal(38,0)") * dec(col("_fp")) - col("_s")))
        .withColumn("_rn", row_number().over(w))
        .where(col("_rn") === 1 && col("_n") >= 3)
        .withColumn("_mu", col("_s").cast("double") / nD / 1e4)
        .withColumn("_sd", sqrt((col("_q").cast("double") -
          col("_s").cast("double") * col("_s").cast("double") / nD) /
          (nD - 1)) / 1e4)
        .where(col("_sd") > 0)
        .withColumn("r_stat", abs(col("value") - col("_mu")) / col("_sd"))
      val zp = graft.post.PostOps.probit(
        lit(1.0) - lit(alphaSig) / (lit(2.0) * nD))
      val out = pick
        .withColumn("lambda", (nD - lit(1.0)) * zp /
          sqrt((nD - lit(2.0) + zp * zp) * nD))
        .select(col("key"), lit(r).as("round"),
          col("_n").as("n_remaining"), col("_o").as("outlier_ord"),
          col("value"), col("r_stat"), col("lambda"),
          col("_fp").as("_rfp"))
        .localCheckpoint(true) // each round's pick feeds the next scan
      val ex = out.select(col("key"), col("outlier_ord").as("_o"),
        col("_rfp"))
      excluded = if (excluded == null) ex else excluded.unionByName(ex)
      out.drop("_rfp")
    }
    val all = rounds.reduce(_ unionByName _)
    // Rosner's rule: significant iff any round >= this one exceeds λ
    val sw = Window.partitionBy(col("key")).orderBy(col("round").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    all.withColumn("significant",
        max((col("r_stat") > col("lambda")).cast("int")).over(sw) === 1)
      .select("key", "round", "n_remaining", "outlier_ord", "value",
        "r_stat", "lambda", "significant")
  }

  /** Dixon's Q per key from exact order statistics: gap-to-range ratios
    * q_min = (x₍₂₎−x₍₁₎)/range and q_max = (x₍ₙ₎−x₍ₙ₋₁₎)/range —
    * the small-sample outlier screen (integer numerators/denominator;
    * one double division each). One row per key: key, n, q_min, q_max. */
  def dixonQ(data: DataFrame, keyCol: String, valCol: String): DataFrame = {
    val v = col(valCol).cast("double")
    val base = data.where(v.isNotNull)
      .select(col(keyCol).as("key"), fp(v).as("_fp"))
    val w = Window.partitionBy(col("key")).orderBy(col("_fp").asc)
    val kw = Window.partitionBy(col("key"))
    base
      .withColumn("_rn", row_number().over(w).cast("long"))
      .withColumn("_n", count(lit(1)).over(kw).cast("long"))
      .where(col("_rn") <= 2 || col("_rn") >= col("_n") - 1)
      .groupBy(col("key"))
      .agg(max(col("_n")).as("n"),
        min(when(col("_rn") === 1, col("_fp"))).as("_x1"),
        min(when(col("_rn") === 2, col("_fp"))).as("_x2"),
        min(when(col("_rn") === col("_n") - 1, col("_fp"))).as("_xn1"),
        min(when(col("_rn") === col("_n"), col("_fp"))).as("_xn"))
      .where(col("n") >= 3 && col("_xn") > col("_x1"))
      .withColumn("q_min", (col("_x2") - col("_x1")).cast("double") /
        (col("_xn") - col("_x1")).cast("double"))
      .withColumn("q_max", (col("_xn") - col("_xn1")).cast("double") /
        (col("_xn") - col("_x1")).cast("double"))
      .select("key", "n", "q_min", "q_max")
  }

  /** Flatline (stuck-sensor) detector per key: runs of IDENTICAL
    * 4dp-quantized values in ordCol order — run ids from a change-
    * indicator cumulative sum, then the longest run with its value and
    * start position. One row per key: key, n, max_run, run_value,
    * run_start, stuck (max_run ≥ minRun) — a dead sensor passes every
    * distributional test (its variance just shrinks); run structure is
    * the only thing that catches it. */
  def flatline(data: DataFrame, keyCol: String, ordCol: String,
      valCol: String, minRun: Int = 5): DataFrame = {
    val v = col(valCol).cast("double")
    val ow = Window.partitionBy(col("key")).orderBy(col("_o").asc)
    val runs = data.where(v.isNotNull)
      .select(col(keyCol).as("key"), col(ordCol).cast("long").as("_o"),
        fp(v).as("_v"))
      .withColumn("_chg",
        when(lag(col("_v"), 1).over(ow).isNull ||
          lag(col("_v"), 1).over(ow) =!= col("_v"), 1L).otherwise(0L))
      .withColumn("_run", sum(col("_chg")).over(
        ow.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("key"), col("_run"))
      .agg(count(lit(1)).as("_len"), min(col("_o")).as("_start"),
        min(col("_v")).as("_rv"))
    val w = Window.partitionBy(col("key"))
      .orderBy(col("_len").desc, col("_start").asc)
    val tot = runs.groupBy(col("key")).agg(sum(col("_len")).as("n"))
    runs.withColumn("_rn", row_number().over(w)).where(col("_rn") === 1)
      .join(broadcast(tot), "key")
      .select(col("key"), col("n"), col("_len").as("max_run"),
        (col("_rv").cast("double") / 1e4).as("run_value"),
        col("_start").as("run_start"),
        (col("_len") >= minRun).as("stuck"))
  }

  /** Feed-heartbeat monitor per key over event timestamps: inter-
    * arrival gaps (exact long deltas), the max gap vs the exact median
    * gap, and the trailing silence up to the corpus watermark (max ts
    * over all keys — data-derived, no wall clock). One row per key:
    * key, n, median_gap, max_gap, gap_ratio, silence, stalled
    * (gap_ratio > ratio OR silence > ratio·median) — "did this feed
    * stall" as a query instead of an external monitor. */
  def heartbeat(data: DataFrame, keyCol: String, tsCol: String,
      ratio: Double = 10.0): DataFrame = {
    val ow = Window.partitionBy(col("key")).orderBy(col("_t").asc)
    val base = data.where(col(tsCol).isNotNull)
      .select(col(keyCol).as("key"), col(tsCol).cast("long").as("_t"))
    val gaps = base
      .withColumn("_g", col("_t") - lag(col("_t"), 1).over(ow))
      .where(col("_g").isNotNull)
    // exact median gap via the per-key gap histogram (2·median device)
    val gh = gaps.groupBy(col("key"), col("_g"))
      .agg(count(lit(1)).as("_ct"))
    val cw = Window.partitionBy(col("key")).orderBy(col("_g").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val kw = Window.partitionBy(col("key"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val med2 = gh
      .withColumn("_cum", sum(col("_ct")).over(cw))
      .withColumn("_c", sum(col("_ct")).over(kw))
      .groupBy(col("key"))
      .agg((min(when(col("_cum") >=
          floor((col("_c") + 1) / 2).cast("long"), col("_g"))) +
        min(when(col("_cum") >=
          floor(col("_c") / 2).cast("long") + 1, col("_g")))).as("_m2"))
    val agg = gaps.groupBy(col("key"))
      .agg(count(lit(1)).as("n"), max(col("_g")).as("max_gap"),
        max(col("_t")).as("_last"))
    val wm = base.agg(max(col("_t")).as("_wm"))
    agg.join(med2, "key").crossJoin(broadcast(wm))
      .withColumn("median_gap", col("_m2").cast("double") / 2.0)
      .withColumn("gap_ratio",
        col("max_gap").cast("double") / col("median_gap"))
      .withColumn("silence", (col("_wm") - col("_last")).cast("long"))
      .withColumn("stalled", col("gap_ratio") > ratio ||
        col("silence").cast("double") > lit(ratio) * col("median_gap"))
      .select("key", "n", "median_gap", "max_gap", "gap_ratio",
        "silence", "stalled")
  }

  /** Turning-point randomness test per key: T = #(local maxima or
    * minima) among interior points in ordCol order (strict peaks/pits;
    * flats count as neither — ties are exact fixed-point comparisons),
    * z = (T − 2(n−2)/3) / √((16n−29)/90). One row per key:
    * key, n, turns, z — too FEW turning points ⇒ trend, too MANY ⇒
    * negative autocorrelation; the cheapest whiteness screen next to
    * Ljung–Box. */
  def turningPoints(data: DataFrame, keyCol: String, ordCol: String,
      valCol: String): DataFrame = {
    val v = col(valCol).cast("double")
    val w = Window.partitionBy(col("key")).orderBy(col("_o").asc)
    val base = data.where(v.isNotNull)
      .select(col(keyCol).as("key"), col(ordCol).cast("long").as("_o"),
        fp(v).as("_v"))
      .withColumn("_p", lag(col("_v"), 1).over(w))
      .withColumn("_x", lead(col("_v"), 1).over(w))
    val t = base.groupBy(col("key"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("_p").isNotNull && col("_x").isNotNull &&
          ((col("_v") > col("_p") && col("_v") > col("_x")) ||
            (col("_v") < col("_p") && col("_v") < col("_x"))), 1L)
          .otherwise(0L)).as("turns"))
    val nD = col("n").cast("double")
    t.where(col("n") >= 4)
      .withColumn("z",
        (col("turns").cast("double") - lit(2.0) * (nD - 2) / 3.0) /
          sqrt((lit(16.0) * nD - 29) / 90.0))
      .select("key", "n", "turns", "z")
  }

  /** Von Neumann ratio per key: η = Σ(xₜ₊₁−xₜ)² / Σ(x−x̄)² from exact
    * fixed-point sums (the successive-difference numerator is an exact
    * long sum of squared integer diffs via decimal), with the normal
    * approximation z = (η − 2)/√(4·(n−2)/(n²−1)). One row:
    * key, n, vn_ratio, z — η ≪ 2 ⇒ positive autocorrelation (sticky
    * series), η ≫ 2 ⇒ alternation. */
  def vonNeumann(data: DataFrame, keyCol: String, ordCol: String,
      valCol: String): DataFrame = {
    val v = col(valCol).cast("double")
    val w = Window.partitionBy(col("key")).orderBy(col("_o").asc)
    val base = data.where(v.isNotNull)
      .select(col(keyCol).as("key"), col(ordCol).cast("long").as("_o"),
        fp(v).as("_v"))
      .withColumn("_d", col("_v") - lag(col("_v"), 1).over(w))
    val g = base.groupBy(col("key"))
      .agg(count(lit(1)).as("n"),
        sum(dec(col("_v"))).as("_s"),
        sum(dec(dec(col("_v")) * dec(col("_v")))).as("_q"),
        sum(dec(dec(col("_d")) * dec(col("_d")))).as("_sd2"))
    val nD = col("n").cast("double")
    val ssd = col("_sd2").cast("double") / (nD - 1)
    val varr = (col("_q").cast("double") -
      col("_s").cast("double") * col("_s").cast("double") / nD) / nD
    g.where(col("n") >= 3)
      .withColumn("vn_ratio", ssd / varr)
      .withColumn("z", (col("vn_ratio") - 2.0) /
        sqrt(lit(4.0) * (nD - 2) / (nD * nD - 1)))
      .select("key", "n", "vn_ratio", "z")
  }

  /** Normal Q-Q frame per key: exact type-1 sample quantiles at the
    * given probabilities (value-histogram device — min value whose
    * cumulative count reaches ⌈p·n⌉) against the theoretical normal
    * quantile via the Acklam probit (PostOps.probit — the identical
    * fixed arithmetic both engines replay). One row per (key, p):
    * key, p, sample_q, theo_z — straight line ⇔ normal; the picture
    * behind Jarque–Bera's single number. */
  def qqNormal(data: DataFrame, keyCol: String, valCol: String,
      probs: Seq[Double] = (1 to 9).map(_ / 10.0)): DataFrame = {
    require(probs.nonEmpty && probs.forall(p => p > 0 && p < 1),
      s"probs in (0,1): $probs")
    val spark = data.sparkSession
    val v = col(valCol).cast("double")
    val h = data.where(v.isNotNull)
      .select(col(keyCol).as("key"), fp(v).as("_v"))
      .groupBy(col("key"), col("_v"))
      .agg(count(lit(1)).as("_ct"))
    val w = Window.partitionBy(col("key")).orderBy(col("_v").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val kw = Window.partitionBy(col("key"))
    val cum = h
      .withColumn("_cum", sum(col("_ct")).over(w))
      .withColumn("_n", sum(col("_ct")).over(
        kw.rowsBetween(Window.unboundedPreceding,
          Window.unboundedFollowing)))
    import spark.implicits._
    val ps = probs.toDF("p")
    cum.crossJoin(broadcast(ps))
      .groupBy(col("key"), col("p"))
      .agg((min(when(col("_cum") >=
        ceil(col("p") * col("_n")).cast("long"), col("_v")))
        .cast("double") / 1e4).as("sample_q"))
      .withColumn("theo_z", graft.post.PostOps.probit(col("p")))
      .select("key", "p", "sample_q", "theo_z")
  }

  /** Cronbach's α over a (subject, item, value) frame — one observation
    * per pair, complete subjects only: α = k/(k−1)·(1 − Σσ²ᵢ/σ²_T)
    * with per-item variances and the per-subject-total variance all
    * from exact fixed-point sums (subject totals are exact long sums,
    * so σ²_T needs no double accumulation). One row:
    * n_subjects, k, alpha — "do these k signals measure one thing"
    * (the internal-consistency check before averaging quality scores
    * into a single verdict). */
  def cronbachAlpha(data: DataFrame, subjectCol: String, itemCol: String,
      valCol: String): DataFrame = {
    val v = col(valCol).cast("double")
    val (full, k) = completeBlocks(data, subjectCol, itemCol, v.isNotNull,
      fp(v).as("_v"), "_s", "_i")
    // Σ per-item variances: ordered fold over items
    val items = full.groupBy(col("_i"))
      .agg(count(lit(1)).as("_n"), sum(dec(col("_v"))).as("_sv"),
        sum(dec(dec(col("_v")) * dec(col("_v")))).as("_qv"))
    val vi = (col("_qv").cast("double") -
      col("_sv").cast("double") * col("_sv").cast("double") /
        col("_n").cast("double")) /
      (col("_n").cast("double") - 1) / 1e8
    val sumVi = GroupTests.foldOrdered(items, "_i", vi, "_svi")
    // per-subject totals (exact longs) → total variance
    val totals = full.groupBy(col("_s")).agg(sum(col("_v")).as("_v"))
    val vt = totals
      .agg(count(lit(1)).as("n_subjects"),
        sum(dec(col("_v"))).as("_st"),
        sum(dec(dec(col("_v")) * dec(col("_v")))).as("_qt"))
      .select(col("n_subjects"),
        ((col("_qt").cast("double") -
          col("_st").cast("double") * col("_st").cast("double") /
            col("n_subjects").cast("double")) /
          (col("n_subjects").cast("double") - 1) / 1e8).as("_vt"))
    vt.crossJoin(sumVi)
      .withColumn("k", lit(k))
      .withColumn("alpha",
        lit(k.toDouble) / (k - 1) * (lit(1.0) - col("_svi") / col("_vt")))
      .select("n_subjects", "k", "alpha")
  }

  /** ICC(1,1) — one-way intraclass correlation over the same
    * (subject, item, value) frame: (MSB − MSW)/(MSB + (k−1)·MSW) from
    * the exact-sum one-way ANOVA with subjects as groups. One row:
    * n_subjects, k, icc — "how much of the variance is BETWEEN
    * subjects" (rater-agreement face of the same question α asks). */
  def icc(data: DataFrame, subjectCol: String, itemCol: String,
      valCol: String): DataFrame = {
    val v = col(valCol).cast("double")
    val (full, k) = completeBlocks(data, subjectCol, itemCol, v.isNotNull,
      fp(v).as("_v"), "_s", "_i")
    val a = GroupTests.anovaOnLongs(
      full.select(col("_s"), col("_v").as("_fp")), "_s", 1e4)
    val nS = col("k").cast("double") // anovaOnLongs' k = #groups = subjects
    val msb = col("ss_between") / (nS - 1)
    val msw = col("ss_within") / (col("n").cast("double") - nS)
    a.select(col("k").as("n_subjects"), lit(k).as("k"),
      ((msb - msw) / (msb + (lit(k.toDouble) - 1) * msw)).as("icc"))
  }

  /** 2×2 association summary over paired booleans (exposure, outcome):
    * exact cell counts a=(e∧o), b=(e∧¬o), c=(¬e∧o), d=(¬e∧¬o), the
    * odds ratio ad/bc with its 95% log-normal CI, and the risk ratio
    * (a/(a+b))/(c/(c+d)). One row:
    * a, b, c, d, odds_ratio, or_lo, or_hi, risk_ratio — the effect-size
    * face of McNemar/χ² ("HOW MUCH more likely", not just "different"). */
  def oddsRatio(pairs: DataFrame, exposureCol: String, outcomeCol: String)
      : DataFrame = {
    val e = col(exposureCol).cast("boolean")
    val o = col(outcomeCol).cast("boolean")
    val g = pairs.where(e.isNotNull && o.isNotNull)
      .agg(sum(when(e && o, 1L).otherwise(0L)).as("a"),
        sum(when(e && !o, 1L).otherwise(0L)).as("b"),
        sum(when(!e && o, 1L).otherwise(0L)).as("c"),
        sum(when(!e && !o, 1L).otherwise(0L)).as("d"))
    def dd(c: String) = col(c).cast("double")
    val orr = dd("a") * dd("d") / (dd("b") * dd("c"))
    val se = sqrt(lit(1.0) / dd("a") + lit(1.0) / dd("b") +
      lit(1.0) / dd("c") + lit(1.0) / dd("d"))
    g.withColumn("odds_ratio", orr)
      .withColumn("or_lo", exp(log(orr) - lit(1.96) * se))
      .withColumn("or_hi", exp(log(orr) + lit(1.96) * se))
      .withColumn("risk_ratio",
        (dd("a") / (dd("a") + dd("b"))) / (dd("c") / (dd("c") + dd("d"))))
      .select("a", "b", "c", "d", "odds_ratio", "or_lo", "or_hi",
        "risk_ratio")
  }

  /** Hurst exponent per key via rescaled-range analysis over dyadic
    * block sizes (Hurst 1951; Mandelbrot & Wallis 1969): for each
    * w ∈ sizes, split the ordCol-sorted series into ⌊n/w⌋ full blocks,
    * per block R/S = (max−min of the mean-centered cumulative sum) /
    * population σ, then H = the log-log OLS slope of mean(R/S) on w.
    * H ≈ 0.5 random walk, > 0.5 trending/long-memory, < 0.5 mean-
    * reverting — the long-range-dependence diagnostic behind "why does
    * this series defeat my iid-assuming threshold".
    *
    * Determinism: cumulative sums ride exact fixed-point longs; the
    * centered deviation is carried as the exact integer w·Σ₁..ₜ−t·S_b
    * (scale w·1e4), so R is an exact integer and only R/S, the
    * per-size mean and the 4-point OLS finish are doubles (the latter
    * an ordered fold over ≤ |sizes| rows). Scale: one per-key sort
    * window per size (the per-entity-series contract), everything
    * after the block aggregate is block-count-sized. */
  def hurst(data: DataFrame, keyCol: String, ordCol: String,
      valCol: String, sizes: Seq[Int] = Seq(8, 16, 32, 64)): DataFrame = {
    require(sizes.size >= 2 && sizes.forall(_ >= 2), s"bad sizes: $sizes")
    val v = col(valCol).cast("double")
    val base = data.where(v.isNotNull)
      .select(col(keyCol).as("key"), col(ordCol).cast("long").as("_o"),
        fp(v).as("_fp"))
    val ow = Window.partitionBy(col("key"))
      .orderBy(col("_o").asc, col("_fp").asc)
    // every block size's branch re-ran the scan + sequencing window
    // (|sizes| copies of the same subtree in the union) — materialize
    // the 3-long-column sequenced frame once (r14, guide §2.4)
    val seqd = base.withColumn("_rn", row_number().over(ow).cast("long"))
      .localCheckpoint(true)
    val perSize = sizes.map { wsz =>
      val blk = seqd
        .withColumn("_b", ((col("_rn") - 1) / wsz).cast("long"))
        .withColumn("_t",
          (col("_rn") - 1) % wsz + 1) // 1..w position inside the block
      val bw = Window.partitionBy(col("key"), col("_b"))
        .orderBy(col("_t").asc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val kb = Window.partitionBy(col("key"), col("_b"))
      val dev = blk
        .withColumn("_cum", sum(col("_fp")).over(bw))
        .withColumn("_cnt", count(lit(1)).over(kb))
        .where(col("_cnt") === wsz) // full blocks only
        .withColumn("_sb", sum(col("_fp")).over(kb))
        .withColumn("_qb", sum(dec(dec(col("_fp")) * dec(col("_fp"))))
          .over(kb))
        // exact centered cumdev at scale w·1e4
        .withColumn("_d", lit(wsz.toLong) * col("_cum") -
          col("_t").cast("long") * col("_sb"))
      val rs = dev.groupBy(col("key"), col("_b"))
        .agg(max(col("_d")).as("_dmax"), min(col("_d")).as("_dmin"),
          max(col("_sb")).as("_s"), max(col("_qb")).as("_q"))
        // R in value units; S = population σ of the block
        .withColumn("_r", (col("_dmax") - col("_dmin")).cast("double") /
          wsz / 1e4)
        .withColumn("_sd", sqrt((col("_q").cast("double") -
          col("_s").cast("double") * col("_s").cast("double") / wsz) /
          wsz) / 1e4)
        .where(col("_sd") > 0)
        // 8dp-freeze each block's R/S so the per-size mean is an exact
        // long sum (double avg would be partial-aggregation-order
        // dependent across engines)
        .withColumn("_rs8",
          graft.core.fixedPointLong(col("_r") / col("_sd"), 8))
      rs.groupBy(col("key"))
        .agg(count(lit(1)).as("_nb"), sum(col("_rs8")).as("_srs"))
        .select(col("key"), lit(wsz).as("_w"), col("_nb"),
          (col("_srs").cast("double") / col("_nb").cast("double") / 1e8)
            .as("_mrs"))
    }.reduce(_ unionByName _)
    // 4-point log-log OLS per key: ordered fold over the size rows
    val folded = perSize
      .withColumn("_lx", log(col("_w").cast("double")))
      .withColumn("_ly", log(col("_mrs")))
      .groupBy(col("key"))
      .agg(count(lit(1)).as("n_sizes"),
        sort_array(collect_list(struct(col("_w").as("w"),
          col("_lx").as("lx"), col("_ly").as("ly")))).as("_a"))
    def fsum(e: (Column, Column) => Column, as: String) =
      aggregate(col("_a"), lit(0.0), (acc, x) => acc + e(x("lx"), x("ly")))
        .as(as)
    val g = folded.select(col("key"), col("n_sizes"),
      fsum((lx, _) => lx, "_sx"), fsum((_, ly) => ly, "_sy"),
      fsum((lx, ly) => lx * ly, "_sxy"), fsum((lx, _) => lx * lx, "_sxx"))
    val nD = col("n_sizes").cast("double")
    g.where(col("n_sizes") >= 2)
      .withColumn("hurst",
        (nD * col("_sxy") - col("_sx") * col("_sy")) /
          (nD * col("_sxx") - col("_sx") * col("_sx")))
      .select("key", "n_sizes", "hurst")
  }
}
