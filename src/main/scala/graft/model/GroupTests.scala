package graft.model

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Between-group difference tests (engine additions): one-way ANOVA F,
  * Kruskal–Wallis H (tie-corrected) and Brown–Forsythe (the
  * median-centered Levene variance test) — the "did this attribute's
  * distribution split across segments" battery that complements the
  * reference's two-sample change-point tests (beymani
  * ChangePointDetector runs KS/CvM/AD on two windows of one key; these
  * compare k populations at once).
  *
  * Determinism: values quantize to 4dp fixed-point longs; every
  * per-group sum is decimal(38,0)/HUGEINT-exact, ranks and tie groups
  * are exact integers, and the ONE unavoidable cross-group double
  * reduction (Σ_g S_g²/n_g-shaped terms) is a left fold over the groups
  * in group-name order on BOTH engines (sort_array+aggregate here,
  * list(… ORDER BY g)+list_aggregate in the oracle) — never an
  * unordered double sum, whose partial-aggregation order Spark does not
  * pin.
  *
  * Scale: one hash aggregate to group-sized stats (map-side combined),
  * then a k-row reduction — model-sized end to end. Kruskal–Wallis
  * ranks via the (group, value)-histogram, so its one cumulative window
  * runs over the distinct-value frame (the binaryAuc device,
  * model/Eval.scala:26), never the data; rank sums stay exact longs so
  * partial-aggregation order is irrelevant. */
object GroupTests {

  /** Ordered left-fold of `term` over groups: deterministic replacement
    * for a cross-group double sum. */
  private[model] def foldOrdered(groups: DataFrame, groupCol: String,
      term: Column, as: String): DataFrame =
    groups
      .agg(sort_array(collect_list(struct(col(groupCol).as("g"),
        term.as("t")))).as("_a"))
      .select(aggregate(col("_a"), lit(0.0),
        (acc, x) => acc + x("t")).as(as))

  /** Two-group 4dp value histogram: per distinct fixed-point value `_v`
    * of the non-null `valCol` rows in group `ga` or `gb`, the counts
    * `_ca` and `_cb` of each group. */
  private[model] def twoGroupHistogram(data: DataFrame, groupCol: String,
      valCol: String, ga: String, gb: String): DataFrame = {
    val v = col(valCol).cast("double")
    data.where(v.isNotNull && (col(groupCol) === ga || col(groupCol) === gb))
      .select(col(groupCol).as("_g"), graft.core.fixedPointLong(v, 4).as("_v"))
      .groupBy(col("_v"))
      .agg(sum(when(col("_g") === ga, 1L).otherwise(0L)).as("_ca"),
        sum(when(col("_g") === gb, 1L).otherwise(0L)).as("_cb"))
  }

  /** [[twoGroupHistogram]] plus the pooled count `_ct` and its 2·midrank
    * `_r2` at each value. */
  private[model] def twoGroupMidranks(data: DataFrame, groupCol: String,
      valCol: String, ga: String, gb: String): DataFrame =
    valueCumSum(twoGroupHistogram(data, groupCol, valCol, ga, gb)
      .withColumn("_ct", col("_ca") + col("_cb")), Map("_ct" -> "_cum"))
      .withColumn("_r2", midrank2(col("_cum"), col("_ct")))

  /** Ascending prefix sums (`in` → `out`) over a fixed-point value
    * histogram keyed by `v` — banded, so no window over the whole
    * histogram is unpartitioned (the binaryAuc device). */
  private[model] def valueCumSum(h: DataFrame, sums: Map[String, String],
      v: String = "_v"): DataFrame =
    graft.core.bandedCumSum(h, expr(s"$v div 100000"), bandAsc = true,
      tie = Seq(col(v).asc), sums = sums)

  /** 2·r̄ of a tie run of `ct` values whose cumulative count is `cum`:
    * 2·(cum − ct) + ct + 1, an exact integer. */
  private[model] def midrank2(cum: Column, ct: Column): Column =
    lit(2) * (cum - ct) + ct + 1

  /** Per row of `valCol`, its group `key` and the exact deviation
    * |2v − m2| from the group's 2·median (2×4dp fixed point), as `as`.
    * The median is the exact order statistic — the average of the two
    * middles on even counts — carried as the integer m2. */
  private def medianDeviation(data: DataFrame, groupCol: String,
      valCol: String, key: Column, as: String): DataFrame = {
    val v = col(valCol).cast("double")
    val fp = data.where(v.isNotNull)
      .select(col(groupCol), graft.core.fixedPointLong(v, 4).as("_v"))
    val w = Window.partitionBy(col(groupCol)).orderBy(col("_v").asc)
    val kw = Window.partitionBy(col(groupCol))
    val med2 = fp
      .withColumn("_rn", row_number().over(w).cast("long"))
      .withColumn("_c", count(lit(1)).over(kw).cast("long"))
      // integer middles: Column./ on longs is DOUBLE division, so floor
      .where(col("_rn") === floor((col("_c") + 1) / 2).cast("long") ||
        col("_rn") === floor(col("_c") / 2).cast("long") + 1)
      .groupBy(col(groupCol)).agg((sum(col("_v")) *
        when(count(lit(1)) === 1, 2).otherwise(1)).as("_m2"))
    fp.join(broadcast(med2), Seq(groupCol))
      .select(key, abs(lit(2) * col("_v") - col("_m2")).as(as))
  }

  /** Shared ANOVA-F finish over a (group, long-value) frame: exact
    * per-group sums, ordered fold for Σ S_g²/n_g, double F finish.
    * Output: one row (k, n, ss_between, ss_within, f_stat) at the fixed
    * point scale `unit` (10^p per value unit — SS columns are reported
    * in value² units). */
  private[model] def anovaOnLongs(fp: DataFrame, groupCol: String,
      unit: Double): DataFrame = {
    val g = fp.groupBy(col(groupCol))
      .agg(count(lit(1)).cast("decimal(38,0)").as("_ng"),
        sum(col("_fp").cast("decimal(38,0)")).as("_sg"),
        sum((col("_fp").cast("decimal(38,0)") *
          col("_fp").cast("decimal(38,0)")).cast("decimal(38,0)")).as("_qg"))
    val totals = g.agg(count(lit(1)).as("k"),
      sum(col("_ng")).as("_n"), sum(col("_sg")).as("_s"),
      sum(col("_qg")).as("_q"))
    val t = foldOrdered(g, groupCol,
      col("_sg").cast("double") * col("_sg").cast("double") /
        col("_ng").cast("double"), "_t")
    val nD = col("_n").cast("double")
    val ssb = (col("_t") -
      col("_s").cast("double") * col("_s").cast("double") / nD) /
      (unit * unit)
    val ssw = (col("_q").cast("double") - col("_t")) / (unit * unit)
    totals.crossJoin(t)
      .withColumn("n", col("_n").cast("long"))
      .withColumn("ss_between", ssb)
      .withColumn("ss_within", ssw)
      .withColumn("f_stat",
        (col("ss_between") / (col("k") - 1)) /
          (col("ss_within") / (col("n") - col("k"))))
      .select("k", "n", "ss_between", "ss_within", "f_stat")
  }

  /** One-way ANOVA F over `valCol` split by `groupCol`. */
  def anovaF(data: DataFrame, groupCol: String, valCol: String): DataFrame = {
    val v = col(valCol).cast("double")
    anovaOnLongs(
      data.where(v.isNotNull)
        .select(col(groupCol), graft.core.fixedPointLong(v, 4).as("_fp")),
      groupCol, 1e4)
  }

  /** Kruskal–Wallis H with the tie correction
    * H' = H / (1 − Σ(t³−t)/(n³−n)); average ranks are carried as the
    * exact integer 2·r̄ = 2·rank + ct − 1 so rank sums never touch a
    * double until the finish. One row: k, n, h_stat, tie_correction. */
  def kruskalWallis(data: DataFrame, groupCol: String, valCol: String)
      : DataFrame = {
    val v = col(valCol).cast("double")
    val fp = data.where(v.isNotNull)
      .select(col(groupCol), graft.core.fixedPointLong(v, 4).as("_fp"))
    // (group, value)-histogram first, so the one global rank window runs
    // over the distinct-value frame, never the data — the binaryAuc
    // device (Eval.scala): 2·r̄(v) = 2·cumBefore(v) + ct(v) + 1 exactly
    val gvh = fp.groupBy(col(groupCol), col("_fp"))
      .agg(count(lit(1)).as("_c"))
    val vh = gvh.groupBy(col("_fp")).agg(sum(col("_c")).as("_ct"))
    val vr = valueCumSum(vh, Map("_ct" -> "_cum"), "_fp")
      .withColumn("_r2", midrank2(col("_cum"), col("_ct")))
    val g = gvh.join(vr.select("_fp", "_r2"), "_fp")
      .groupBy(col(groupCol))
      .agg(sum(col("_c")).cast("decimal(38,0)").as("_ng"),
        sum((col("_c") * col("_r2")).cast("decimal(38,0)")).as("_rs2"))
    val ties = vh
      .agg(sum(col("_ct") * col("_ct") * col("_ct") - col("_ct")).as("_tc"))
    val totals = g.agg(count(lit(1)).as("k"), sum(col("_ng")).as("_n"))
    // Σ_g R_g²/n_g = Σ_g (_rs2/2)²/n_g — ordered fold, exact-int inputs
    val t = foldOrdered(g, groupCol,
      col("_rs2").cast("double") * col("_rs2").cast("double") /
        (lit(4.0) * col("_ng").cast("double")), "_t")
    val nD = col("_n").cast("double")
    totals.crossJoin(t).crossJoin(ties)
      .withColumn("n", col("_n").cast("long"))
      .withColumn("_h",
        lit(12.0) / (nD * (nD + 1)) * col("_t") - lit(3) * (nD + 1))
      .withColumn("tie_correction",
        lit(1.0) - col("_tc").cast("double") / (nD * nD * nD - nD))
      .withColumn("h_stat", col("_h") / col("tie_correction"))
      .select("k", "n", "h_stat", "tie_correction")
  }

  /** Effect sizes for every ordered group pair (ga < gb by name):
    * Cohen's d from the FULL data (pooled-sd standardized mean
    * difference, exact 4dp fixed-point sums — scale cancels) and
    * Cliff's delta = (#(x>y) − #(x<y))/(m_a·m_b) from a deterministic
    * quantile-strided subsample of ≤ maxPoints per group (ordered by
    * value, every ⌈n/maxPoints⌉-th row — even quantile coverage, no
    * RNG), because delta is inherently pairwise. The tests above say IF
    * groups differ; these say HOW MUCH, which is what a drift monitor
    * alerts on.
    *
    * Scale: group stats are one hash aggregate; the delta pair join is
    * capped at maxPoints² per group pair by construction. */
  def effectSizes(data: DataFrame, groupCol: String, idCol: String,
      valCol: String, maxPoints: Int = 200): DataFrame = {
    require(maxPoints >= 2, s"maxPoints >= 2: $maxPoints")
    val v = col(valCol).cast("double")
    val fp = data.where(v.isNotNull)
      .select(col(groupCol).as("_g"), col(idCol).as("_id"),
        graft.core.fixedPointLong(v, 4).as("_fp"))
    // full-data per-group stats → Cohen's d (fp scale cancels in d)
    val g = fp.groupBy(col("_g"))
      .agg(count(lit(1)).cast("decimal(38,0)").as("_n"),
        sum(col("_fp").cast("decimal(38,0)")).as("_s"),
        sum((col("_fp").cast("decimal(38,0)") *
          col("_fp").cast("decimal(38,0)")).cast("decimal(38,0)")).as("_q"))
    def st(side: String) = g.select(col("_g").as(s"g$side"),
      col("_n").as(s"_n$side"), col("_s").as(s"_s$side"),
      col("_q").as(s"_q$side"))
    def mean(side: String) =
      col(s"_s$side").cast("double") / col(s"_n$side").cast("double")
    def vr(side: String) = {
      val n = col(s"_n$side").cast("double")
      (col(s"_q$side").cast("double") -
        col(s"_s$side").cast("double") * col(s"_s$side").cast("double") / n) /
        (n - 1)
    }
    val pooled = ((col("_na").cast("double") - 1) * vr("a") +
      (col("_nb").cast("double") - 1) * vr("b")) /
      (col("_na").cast("double") + col("_nb").cast("double") - 2)
    val dFrame = st("a").join(st("b"), col("ga") < col("gb"))
      .withColumn("n_a", col("_na").cast("long"))
      .withColumn("n_b", col("_nb").cast("long"))
      .withColumn("cohens_d", (mean("a") - mean("b")) / sqrt(pooled))
      .select("ga", "gb", "n_a", "n_b", "cohens_d")
    // quantile-strided subsample → Cliff's delta
    val w = Window.partitionBy(col("_g"))
      .orderBy(col("_fp").asc, col("_id").asc)
    val kw = Window.partitionBy(col("_g"))
    val pts = fp
      .withColumn("_rn", row_number().over(w).cast("long"))
      .withColumn("_nn", count(lit(1)).over(kw))
      .where((col("_rn") - 1) %
        ceil(col("_nn").cast("double") / maxPoints).cast("long") === 0)
      .select(col("_g"), col("_fp"))
    val pa = pts.select(col("_g").as("ga"), col("_fp").as("_fa"))
    val pb = pts.select(col("_g").as("gb"), col("_fp").as("_fb"))
    val delta = pa.join(pb, col("ga") < col("gb"))
      .groupBy(col("ga"), col("gb"))
      .agg(count(lit(1)).as("_mn"),
        sum(when(col("_fa") > col("_fb"), 1L).otherwise(0L)).as("_gt"),
        sum(when(col("_fa") < col("_fb"), 1L).otherwise(0L)).as("_lt"))
      .withColumn("cliffs_delta",
        (col("_gt") - col("_lt")).cast("double") / col("_mn"))
      .select("ga", "gb", "cliffs_delta")
    dFrame.join(delta, Seq("ga", "gb"))
  }

  /** Brown–Forsythe: ANOVA F over z = |x − median_g|. The per-group
    * median is the exact order statistic (avg of the two middles on even
    * counts), carried as the integer 2·median so z quantizes to exact
    * longs at 2×4dp scale — the scale cancels in F. One row:
    * k, n, ss_between, ss_within, f_stat (SS in value² units). */
  def brownForsythe(data: DataFrame, groupCol: String, valCol: String)
      : DataFrame = {
    anovaOnLongs(medianDeviation(data, groupCol, valCol, col(groupCol), "_fp"),
      groupCol, 2e4)
  }

  /** Two-sample Kolmogorov–Smirnov test between groups `ga` and `gb`:
    * D = max over observed values of |F̂_a − F̂_b|, ECDFs from the
    * shared value histogram (exact integer cumulative counts — the
    * binaryAuc device — so each |ΔF| is an exact-rational double and
    * the max is engine-independent), z = D·√(n_a·n_b/(n_a+n_b)). One
    * row: n_a, n_b, d_stat, ks_z — the direct "are these two segments'
    * distributions the same" answer (the change-point KS asks it of two
    * windows of one series; this asks it of two populations). */
  def ksTwoSample(data: DataFrame, groupCol: String, valCol: String,
      ga: String, gb: String): DataFrame = {
    val h = twoGroupHistogram(data, groupCol, valCol, ga, gb)
    val cum = valueCumSum(h, Map("_ca" -> "_fa", "_cb" -> "_fb"))
    // totals first (model-sized scalar), then the max over the frame
    val tot = h.agg(sum(col("_ca")).as("n_a"), sum(col("_cb")).as("n_b"))
    val d = cum.crossJoin(broadcast(tot))
      .withColumn("_df", abs(
        col("_fa").cast("double") / col("n_a").cast("double") -
          col("_fb").cast("double") / col("n_b").cast("double")))
      .groupBy(col("n_a"), col("n_b"))
      .agg(max(col("_df")).as("d_stat"))
    val na = col("n_a").cast("double"); val nb = col("n_b").cast("double")
    d.withColumn("ks_z", col("d_stat") * sqrt(na * nb / (na + nb)))
      .select("n_a", "n_b", "d_stat", "ks_z")
  }

  /** Sample-ratio-mismatch (SRM) check: χ² goodness-of-fit of the
    * observed arm counts against the intended allocation — the
    * experiment-integrity gate run BEFORE reading any metric (a biased
    * split invalidates everything downstream). `expected` maps arm →
    * intended weight (normalized internally, fixed double expressions;
    * the Σ over arms is an ordered fold). One row:
    * arms, n, chi2, mismatched (chi2 > threshold). */
  def srmCheck(data: DataFrame, armCol: String,
      expected: Map[String, Double], threshold: Double = 20.0): DataFrame = {
    require(expected.nonEmpty && expected.values.forall(_ > 0),
      s"positive expected weights: $expected")
    val wsum = expected.values.toSeq.sorted.sum
    val spark = data.sparkSession
    import spark.implicits._
    val exp = expected.toSeq.sortBy(_._1).toDF("_g", "_w")
    val obs = data.where(col(armCol).isNotNull)
      .select(col(armCol).cast("string").as("_g"))
      .groupBy(col("_g")).agg(count(lit(1)).as("_c"))
    val tot = obs.agg(sum(col("_c")).as("_n"))
    val term = {
      val e = col("_w") / wsum * col("_n").cast("double")
      (col("_c").cast("double") - e) * (col("_c").cast("double") - e) / e
    }
    val joined = obs.join(exp, "_g").crossJoin(broadcast(tot))
    joined
      .agg(count(lit(1)).as("arms"), max(col("_n")).as("_n2"),
        sort_array(collect_list(struct(col("_g").as("g"), term.as("t"))))
          .as("_a"))
      .select(col("arms"), col("_n2").cast("long").as("n"),
        aggregate(col("_a"), lit(0.0), (acc, x) => acc + x("t"))
          .as("chi2"))
      .withColumn("mismatched", col("chi2") > threshold)
  }

  /** Two-proportion z-test between groups `ga` and `gb` on a boolean
    * success expression: pooled-SE z plus Cohen's h effect size
    * (2·asin√p₁ − 2·asin√p₂). All counts exact; one row:
    * n_a, x_a, n_b, x_b, z, cohens_h. */
  def twoProportionZ(data: DataFrame, groupCol: String, success: Column,
      ga: String, gb: String): DataFrame = {
    val g = data.where(col(groupCol) === ga || col(groupCol) === gb)
      .agg(
        sum(when(col(groupCol) === ga, 1L).otherwise(0L)).as("n_a"),
        sum(when(col(groupCol) === ga && success, 1L).otherwise(0L))
          .as("x_a"),
        sum(when(col(groupCol) === gb, 1L).otherwise(0L)).as("n_b"),
        sum(when(col(groupCol) === gb && success, 1L).otherwise(0L))
          .as("x_b"))
    val na = col("n_a").cast("double"); val xa = col("x_a").cast("double")
    val nb = col("n_b").cast("double"); val xb = col("x_b").cast("double")
    val p1 = xa / na
    val p2 = xb / nb
    val pp = (xa + xb) / (na + nb)
    g.withColumn("z", (p1 - p2) /
        sqrt(pp * (lit(1.0) - pp) * (lit(1.0) / na + lit(1.0) / nb)))
      .withColumn("cohens_h",
        lit(2.0) * asin(sqrt(p1)) - lit(2.0) * asin(sqrt(p2)))
      .select("n_a", "x_a", "n_b", "x_b", "z", "cohens_h")
  }

  /** Mann–Whitney U between groups `ga` and `gb`: ranks via the shared
    * value histogram (2·r̄ exact integers), U = R_a − n_a(n_a+1)/2,
    * normal approximation with the tie-corrected variance
    * σ² = n_a·n_b/12 · ((n+1) − Σ(t³−t)/(n(n−1))). One row:
    * n_a, n_b, u_stat, z. (binaryAuc reports the same ranks as an AUC;
    * this is the TEST face with the tie-corrected z.) */
  def mannWhitneyU(data: DataFrame, groupCol: String, valCol: String,
      ga: String, gb: String): DataFrame = {
    val r = twoGroupMidranks(data, groupCol, valCol, ga, gb)
    val agg = r.agg(sum(col("_ca")).as("n_a"), sum(col("_cb")).as("n_b"),
      sum(col("_ca") * col("_r2")).as("_ra2"),
      sum(col("_ct") * col("_ct") * col("_ct") - col("_ct")).as("_tc"))
    val na = col("n_a").cast("double"); val nb = col("n_b").cast("double")
    val nn = na + nb
    agg
      .withColumn("u_stat",
        col("_ra2").cast("double") / 2.0 - na * (na + 1) / 2.0)
      .withColumn("z",
        (col("u_stat") - na * nb / 2.0) /
          sqrt(na * nb / 12.0 * ((nn + 1) -
            col("_tc").cast("double") / (nn * (nn - 1)))))
      .select("n_a", "n_b", "u_stat", "z")
  }

  /** Wald's SPRT per key over a boolean defect stream (ordCol order):
    * cumulative log-likelihood ratio for H1: rate = p1 vs H0: rate =
    * p0, barriers A = ln((1−β)/α), B = ln(β/(1−α)); decision = the
    * FIRST crossing. The sequential face of the two-proportion test —
    * it stops as soon as the evidence suffices instead of waiting for
    * a fixed n. LLR_t = d_t·ln(p1/p0) + (t−d_t)·ln((1−p1)/(1−p0)) from
    * exact cumulative counts (both log constants are fixed doubles).
    * One row per key: key, n, decision ('accept_h1'/'accept_h0'/
    * 'continue'), cross_pos, llr_end. */
  def sprt(data: DataFrame, keyCol: String, ordCol: String,
      defect: Column, p0: Double, p1: Double, alpha: Double = 0.05,
      beta: Double = 0.05): DataFrame = {
    require(p0 > 0 && p1 > p0 && p1 < 1, s"0 < p0 < p1 < 1: $p0, $p1")
    val lup = math.log(p1 / p0)
    val ldn = math.log((1 - p1) / (1 - p0))
    val aBar = math.log((1 - beta) / alpha)
    val bBar = math.log(beta / (1 - alpha))
    val ow = Window.partitionBy(col("key")).orderBy(col("_o").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val kw = Window.partitionBy(col("key"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val llr = data
      .select(col(keyCol).as("key"), col(ordCol).cast("long").as("_o"),
        when(defect, 1L).otherwise(0L).as("_d"))
      .withColumn("_t", count(lit(1)).over(ow))
      .withColumn("_cd", sum(col("_d")).over(ow))
      .withColumn("_llr", col("_cd").cast("double") * lup +
        (col("_t") - col("_cd")).cast("double") * ldn)
      .withColumn("_n", count(lit(1)).over(kw))
      .withColumn("_cross",
        when(col("_llr") > aBar, 1).when(col("_llr") < bBar, -1))
    val w = Window.partitionBy(col("key")).orderBy(col("_t").asc)
    val first = llr.where(col("_cross").isNotNull)
      .withColumn("_rn", row_number().over(w)).where(col("_rn") === 1)
      .select(col("key"), col("_t").as("cross_pos"),
        col("_cross").as("_cx"))
    val last = llr.where(col("_t") === col("_n"))
      .select(col("key"), col("_n").cast("long").as("n"),
        col("_llr").as("llr_end"))
    last.join(first, Seq("key"), "left")
      .withColumn("decision",
        when(col("_cx") === 1, "accept_h1")
          .when(col("_cx") === -1, "accept_h0")
          .otherwise("continue"))
      .select("key", "n", "decision", "cross_pos", "llr_end")
  }

  /** Bland–Altman agreement over paired measurements (x, y): mean
    * difference (bias) and the 95% limits of agreement
    * bias ± 1.96·sd(diff), plus the count outside the limits — "do two
    * measurement methods agree", which a high correlation alone cannot
    * answer. Diffs are exact fixed-point longs. One row:
    * n, bias, loa_lo, loa_hi, outside. */
  def blandAltman(pairs: DataFrame, xCol: String, yCol: String)
      : DataFrame = {
    def dc(c: Column) = c.cast("decimal(38,0)")
    val d = pairs.where(col(xCol).isNotNull && col(yCol).isNotNull)
      .select((graft.core.fixedPointLong(col(xCol).cast("double"), 4) -
        graft.core.fixedPointLong(col(yCol).cast("double"), 4)).as("_d"))
    val g = d.agg(count(lit(1)).as("n"), sum(col("_d")).as("_s"),
      sum(dc(dc(col("_d")) * dc(col("_d")))).as("_q"))
    val nD = col("n").cast("double")
    val bias = col("_s").cast("double") / nD / 1e4
    val sd = sqrt((col("_q").cast("double") -
      col("_s").cast("double") * col("_s").cast("double") / nD) /
      (nD - 1)) / 1e4
    val lims = g.where(col("n") >= 3)
      .withColumn("bias", bias)
      .withColumn("loa_lo", bias - lit(1.96) * sd)
      .withColumn("loa_hi", bias + lit(1.96) * sd)
    val out = d.crossJoin(broadcast(
      lims.select(col("loa_lo").as("_lo"), col("loa_hi").as("_hi"))))
      .agg(sum(when(col("_d").cast("double") / 1e4 < col("_lo") ||
        col("_d").cast("double") / 1e4 > col("_hi"), 1L).otherwise(0L))
        .as("outside"))
    lims.crossJoin(out).select("n", "bias", "loa_lo", "loa_hi", "outside")
  }

  /** Lin's concordance correlation coefficient over paired (x, y):
    * CCC = 2·s_xy / (s_x² + s_y² + (x̄−ȳ)²) — penalizes BOTH scatter
    * and systematic bias, where Pearson forgives a constant offset.
    * All moments exact fixed-point sums; population (1/n) covariances
    * per Lin 1989. One row: n, pearson, ccc. */
  def concordance(pairs: DataFrame, xCol: String, yCol: String)
      : DataFrame = {
    def dc(c: Column) = c.cast("decimal(38,0)")
    val b = pairs.where(col(xCol).isNotNull && col(yCol).isNotNull)
      .select(graft.core.fixedPointLong(col(xCol).cast("double"), 4)
        .as("_x"),
        graft.core.fixedPointLong(col(yCol).cast("double"), 4).as("_y"))
    val g = b.agg(count(lit(1)).as("n"),
      sum(col("_x")).as("_sx"), sum(col("_y")).as("_sy"),
      sum(dc(col("_x")) * dc(col("_y"))).as("_sxy"),
      sum(dc(col("_x")) * dc(col("_x"))).as("_sxx"),
      sum(dc(col("_y")) * dc(col("_y"))).as("_syy"))
    val nD = col("n").cast("double")
    val mx = col("_sx").cast("double") / nD / 1e4
    val my = col("_sy").cast("double") / nD / 1e4
    val sxy = (col("_sxy").cast("double") -
      col("_sx").cast("double") * col("_sy").cast("double") / nD) / nD / 1e8
    val vx = (col("_sxx").cast("double") -
      col("_sx").cast("double") * col("_sx").cast("double") / nD) / nD / 1e8
    val vy = (col("_syy").cast("double") -
      col("_sy").cast("double") * col("_sy").cast("double") / nD) / nD / 1e8
    g.where(col("n") >= 3)
      .withColumn("pearson", sxy / sqrt(vx * vy))
      .withColumn("ccc", lit(2.0) * sxy /
        (vx + vy + (mx - my) * (mx - my)))
      .select("n", "pearson", "ccc")
  }

  /** CUPED variance reduction (Deng et al., WSDM'13): adjust each
    * subject's metric by its pre-period covariate,
    * y' = y − θ(x − x̄) with θ = cov(x,y)/var(x) — every moment an
    * exact 4dp fixed-point sum, so θ and both variances are fixed
    * double expressions. One row: n, theta, var_y, var_adj, reduction
    * (= 1 − var_adj/var_y) — how much experiment sensitivity the
    * pre-period buys. */
  def cuped(pairs: DataFrame, preCol: String, postCol: String)
      : DataFrame = {
    def dc(c: Column) = c.cast("decimal(38,0)")
    val b = pairs.where(col(preCol).isNotNull && col(postCol).isNotNull)
      .select(graft.core.fixedPointLong(col(preCol).cast("double"), 4)
        .as("_x"),
        graft.core.fixedPointLong(col(postCol).cast("double"), 4).as("_y"))
    val g = b.agg(count(lit(1)).as("n"),
      sum(col("_x")).as("_sx"), sum(col("_y")).as("_sy"),
      sum(dc(col("_x")) * dc(col("_y"))).as("_sxy"),
      sum(dc(col("_x")) * dc(col("_x"))).as("_sxx"),
      sum(dc(col("_y")) * dc(col("_y"))).as("_syy"))
    val nD = col("n").cast("double")
    val cxy = (col("_sxy").cast("double") -
      col("_sx").cast("double") * col("_sy").cast("double") / nD) / 1e8
    val vx = (col("_sxx").cast("double") -
      col("_sx").cast("double") * col("_sx").cast("double") / nD) / 1e8
    val vy = (col("_syy").cast("double") -
      col("_sy").cast("double") * col("_sy").cast("double") / nD) / 1e8
    g.where(col("n") >= 3)
      .withColumn("theta", cxy / vx)
      .withColumn("var_y", vy / (nD - 1))
      .withColumn("var_adj", (vy - cxy * cxy / vx) / (nD - 1))
      .withColumn("reduction", lit(1.0) - col("var_adj") / col("var_y"))
      .select("n", "theta", "var_y", "var_adj", "reduction")
  }

  /** Pettitt change-point test per key (Pettitt 1979): with global
    * within-key ranks from the value histogram (2·r̄ exact integers),
    * U_t = 2·Σ_{i≤t} r_i − t·(n+1) carried as the exact integer
    * 2·U_t = 2·cum2r̄_t − 2t(n+1); K = max|U_t| with arg-max ties
    * toward the earlier position. One row per key:
    * key, n, change_pos, k_stat, p_approx
    * (p ≈ 2·exp(−6K²/(n³+n²)) — the standard approximation). The
    * rank-based cousin of the mean-shift detector: no variance
    * assumption, one histogram pass + one cumulative window. */
  def pettitt(data: DataFrame, keyCol: String, ordCol: String,
      valCol: String): DataFrame = {
    val v = col(valCol).cast("double")
    val base = data.where(v.isNotNull)
      .select(col(keyCol).as("key"), col(ordCol).cast("long").as("_o"),
        graft.core.fixedPointLong(v, 4).as("_v"))
    // within-key average ranks via the (key, value) histogram
    val h = base.groupBy(col("key"), col("_v"))
      .agg(count(lit(1)).as("_ct"))
    val hw = Window.partitionBy(col("key")).orderBy(col("_v").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val r2 = h.withColumn("_r2",
      lit(2) * (sum(col("_ct")).over(hw) - col("_ct")) + col("_ct") + 1)
    val ow = Window.partitionBy(col("key")).orderBy(col("_o").asc)
    val kw = Window.partitionBy(col("key"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val u = base.join(r2.select(col("key"), col("_v"), col("_r2")),
      Seq("key", "_v"))
      .withColumn("_t", row_number().over(ow).cast("long"))
      .withColumn("_c2r", sum(col("_r2")).over(
        ow.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("_n", count(lit(1)).over(kw))
      // U_t = 2·W_t − t(n+1), and Σ_{i≤t} 2r̄ IS 2·W_t exactly —
      // so the statistic is an exact integer end to end
      .withColumn("_u2", col("_c2r") - col("_t") * (col("_n") + 1))
    val aw = Window.partitionBy(col("key"))
      .orderBy(abs(col("_u2")).desc, col("_t").asc)
    u.withColumn("_rn", row_number().over(aw)).where(col("_rn") === 1)
      .where(col("_t") < col("_n")) // a "change" at the last row is none
      .select(col("key"), col("_n").cast("long").as("n"),
        col("_t").as("change_pos"),
        abs(col("_u2")).cast("double").as("k_stat"))
      .withColumn("p_approx", lit(2.0) * exp(lit(-6.0) *
        col("k_stat") * col("k_stat") /
        (col("n").cast("double") * col("n").cast("double") *
          col("n").cast("double") +
          col("n").cast("double") * col("n").cast("double"))))
      .select("key", "n", "change_pos", "k_stat", "p_approx")
  }

  /** Two-sample Cramér–von Mises between groups `ga` and `gb` — the
    * integral sibling of [[ksTwoSample]]'s sup statistic (it sees
    * DISTRIBUTED discrepancy a single crossing hides): the tie-friendly
    * form T = n·m/(n+m)² · Σ_v ct_v·(F̂_a(v) − F̂_b(v))² over the shared
    * value histogram, each term 8dp-frozen before the exact long sum.
    * One row: n_a, n_b, t_stat. */
  def cvmTwoSample(data: DataFrame, groupCol: String, valCol: String,
      ga: String, gb: String): DataFrame = {
    val h = twoGroupHistogram(data, groupCol, valCol, ga, gb)
    val cum = valueCumSum(h, Map("_ca" -> "_fa", "_cb" -> "_fb"))
    val tot = h.agg(sum(col("_ca")).as("n_a"), sum(col("_cb")).as("n_b"))
    val na = col("n_a").cast("double"); val nb = col("n_b").cast("double")
    val df2 = col("_fa").cast("double") / na -
      col("_fb").cast("double") / nb
    val t8 = cum.crossJoin(broadcast(tot))
      .select(col("n_a"), col("n_b"),
        graft.core.fixedPointLong(
          (col("_ca") + col("_cb")).cast("double") * df2 * df2, 8)
          .as("_t8"))
      .groupBy(col("n_a"), col("n_b"))
      .agg(sum(col("_t8")).as("_st"))
    t8.withColumn("t_stat",
        na * nb / ((na + nb) * (na + nb)) *
          (col("_st").cast("double") / 1e8))
      .select("n_a", "n_b", "t_stat")
  }

  /** Fligner–Killeen test for equal scales across k groups — the
    * rank/normal-scores member of the variance battery (robust to
    * non-normality where Bartlett is not, and rank-based where
    * Brown–Forsythe is moment-based): center each group by its EXACT
    * median (the brownForsythe 2·median device), pool the |deviations|,
    * midrank them via the value histogram (2·r̄ ints), score
    * a = probit(0.5 + r̄/(2(N+1))) (PostOps.probit — identical
    * arithmetic both engines), freeze a at 8dp so every group sum is an
    * exact long, then X² = Σ_g n_g(ā_g − ā)²/V (ordered fold over
    * groups; V = sample variance of the frozen scores). One row:
    * k, n, chi2. */
  def flignerKilleen(data: DataFrame, groupCol: String, valCol: String)
      : DataFrame = {
    // (group, d)-histogram of the exact |2v − m2| deviations
    val cd = medianDeviation(data, groupCol, valCol, col(groupCol).as("_g"), "_d")
    val gvh = cd.groupBy(col("_g"), col("_d"))
      .agg(count(lit(1)).as("_c"))
    val vh = gvh.groupBy(col("_d")).agg(sum(col("_c")).as("_ct"))
    val tot = vh.agg(sum(col("_ct")).as("_nn"))
    val scored = valueCumSum(vh, Map("_ct" -> "_cumd"), "_d")
      .withColumn("_r2", midrank2(col("_cumd"), col("_ct")))
      .crossJoin(broadcast(tot))
      .withColumn("_a8", graft.core.fixedPointLong(
        graft.post.PostOps.probit(lit(0.5) +
          (col("_r2").cast("double") / 2.0) /
            (lit(2.0) * (col("_nn").cast("double") + 1))), 8))
    val g = gvh.join(scored.select(col("_d"), col("_a8")), "_d")
      .groupBy(col("_g"))
      .agg(sum(col("_c")).as("_ng"),
        sum(col("_c") * col("_a8")).as("_sa"),
        sum((col("_c").cast("decimal(38,0)") *
          (col("_a8").cast("decimal(38,0)") *
            col("_a8").cast("decimal(38,0)")).cast("decimal(38,0)"))
          .cast("decimal(38,0)")).as("_qa"))
    val totals = g.agg(count(lit(1)).as("k"), sum(col("_ng")).as("_n"),
      sum(col("_sa")).as("_s"), sum(col("_qa")).as("_q"))
    val nD = col("_n").cast("double")
    val abar = col("_s").cast("double") / nD / 1e8
    val vv = (col("_q").cast("double") -
      col("_s").cast("double") * col("_s").cast("double") / nD) /
      (nD - 1) / 1e16
    // Σ_g n_g(ā_g − ā)²: ordered fold over the group stats
    val folded = g
      .agg(sort_array(collect_list(struct(col("_g").as("g"),
        col("_ng").cast("double").as("ng"),
        (col("_sa").cast("double")).as("sa")))).as("_arr"))
    totals.crossJoin(folded)
      .withColumn("_abar", abar)
      .withColumn("_num", aggregate(col("_arr"), lit(0.0), (acc, x) =>
        acc + x("ng") * (x("sa") / x("ng") / 1e8 - col("_abar")) *
          (x("sa") / x("ng") / 1e8 - col("_abar"))))
      .withColumn("chi2", col("_num") / vv)
      .withColumn("n", col("_n").cast("long"))
      .select("k", "n", "chi2")
  }

  /** Two-sample Anderson–Darling (tail-weighted CvM; Pettitt 1976's
    * two-sample form with ties): T = n·m/(n+m)² ·
    * Σ_{v: H<1} ct_v·(F̂_a−F̂_b)²/(H·(1−H)) with H the pooled ECDF —
    * the 1/(H(1−H)) weight makes TAIL discrepancies count, which is
    * where anomaly distributions actually differ and where KS/CvM are
    * least sensitive. Same frozen-term exact-sum device as
    * [[cvmTwoSample]]. One row: n_a, n_b, a_stat. */
  def adTwoSample(data: DataFrame, groupCol: String, valCol: String,
      ga: String, gb: String): DataFrame = {
    val h = twoGroupHistogram(data, groupCol, valCol, ga, gb)
    val cum = valueCumSum(h, Map("_ca" -> "_fa", "_cb" -> "_fb"))
    val tot = h.agg(sum(col("_ca")).as("n_a"), sum(col("_cb")).as("n_b"))
    val na = col("n_a").cast("double"); val nb = col("n_b").cast("double")
    val nn = na + nb
    val df2 = col("_fa").cast("double") / na -
      col("_fb").cast("double") / nb
    val hh = (col("_fa") + col("_fb")).cast("double") / nn
    val t8 = cum.crossJoin(broadcast(tot))
      .where(col("_fa") + col("_fb") < col("n_a") + col("n_b"))
      .select(col("n_a"), col("n_b"),
        graft.core.fixedPointLong(
          (col("_ca") + col("_cb")).cast("double") * df2 * df2 /
            (hh * (lit(1.0) - hh)), 8).as("_t8"))
      .groupBy(col("n_a"), col("n_b"))
      .agg(sum(col("_t8")).as("_st"))
    t8.withColumn("a_stat",
        na * nb / (nn * nn) * (col("_st").cast("double") / 1e8))
      .select("n_a", "n_b", "a_stat")
  }

  /** Mood's median test: counts above the POOLED exact median per
    * group (ties at the median count as not-above), Pearson χ² over
    * the resulting 2×k table with marginal-product expectations. One
    * row: k, n, chi2 — the rank-free robust cousin of Kruskal–Wallis. */
  def moodMedian(data: DataFrame, groupCol: String, valCol: String)
      : DataFrame = {
    val v = col(valCol).cast("double")
    val fp = data.where(v.isNotNull)
      .select(col(groupCol).as("_g"),
        graft.core.fixedPointLong(v, 4).as("_v"))
    // pooled exact 2·median via the value histogram (the binaryAuc
    // device): the ONE global cumulative window runs over the
    // distinct-value frame, never the data — rank-p value = min value
    // whose cumulative count reaches p
    val vh = fp.groupBy(col("_v")).agg(count(lit(1)).as("_ct"))
    val tot0 = vh.agg(sum(col("_ct")).as("_c"))
    val med2 = valueCumSum(vh, Map("_ct" -> "_cum"))
      .crossJoin(broadcast(tot0))
      .agg((min(when(col("_cum") >=
          floor((col("_c") + 1) / 2).cast("long"), col("_v"))) +
        min(when(col("_cum") >=
          floor(col("_c") / 2).cast("long") + 1, col("_v")))).as("_m2"))
    val counts = fp.crossJoin(broadcast(med2))
      .groupBy(col("_g"))
      .agg(count(lit(1)).as("_n"),
        sum(when(lit(2) * col("_v") > col("_m2"), 1L).otherwise(0L))
          .as("_a"))
    val tot = counts.agg(count(lit(1)).as("k"), sum(col("_n")).as("_nn"),
      sum(col("_a")).as("_ta"))
    // χ² over (above, not-above) × groups: ordered fold of the exact
    // integer-count terms (obs − exp)²/exp
    val term = {
      val n = col("_n").cast("double"); val a = col("_a").cast("double")
      val nn = col("_nn").cast("double"); val ta = col("_ta").cast("double")
      val ea = n * ta / nn
      val eb = n * (nn - ta) / nn
      (a - ea) * (a - ea) / ea + ((n - a) - eb) * ((n - a) - eb) / eb
    }
    val folded = counts.crossJoin(broadcast(tot))
      .agg(sort_array(collect_list(struct(col("_g").as("g"),
        term.as("t")))).as("_a2"),
        max(col("k")).as("k"), max(col("_nn")).as("_nn2"))
      .select(col("k"), col("_nn2").cast("long").as("n"),
        aggregate(col("_a2"), lit(0.0), (acc, x) => acc + x("t"))
          .as("chi2"))
    folded.select("k", "n", "chi2")
  }

  /** Cohen's d + Hedges' g standardized mean difference between the
    * two `groupCol` populations per key (Cohen 1988; Hedges 1981 —
    * the parametric effect sizes beside Cliff's delta): d =
    * (m₁ − m₂)/s_pooled with the (n−2)-pooled variance, g = d·J with
    * Hedges' small-sample correction J = 1 − 3/(4(n₁+n₂) − 9).
    * Group 1 = the alphabetically smaller group label (pinned).
    * Exact 4dp moment sums; one hash aggregate to a key-sized frame.
    * Output: key…, g1, g2, n1, n2, mean_diff, pooled_sd, cohens_d,
    * hedges_g. */
  def cohensD(data: DataFrame, keyCols: Seq[String], groupCol: String,
      valCol: String): DataFrame = {
    val v = col(valCol).cast("double")
    def dec(c: Column) = c.cast("decimal(38,0)")
    val q = graft.core.fixedPointLong(v, 4)
    val per = data.where(v.isNotNull && col(groupCol).isNotNull)
      .groupBy(keyCols.map(col) :+ col(groupCol).cast("string")
        .as("_g"): _*)
      .agg(count(lit(1)).as("_n"), sum(dec(q)).as("_s"),
        sum(dec(dec(q) * dec(q))).as("_ss"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(keyCols.map(col): _*).orderBy(col("_g").asc)
    val two = per.withColumn("_rn", row_number().over(w))
      .where(col("_rn") <= 2)
    val g1 = two.where(col("_rn") === 1).select(
      keyCols.map(col) :+ col("_g").as("g1") :+ col("_n").as("_n1") :+
        col("_s").as("_s1") :+ col("_ss").as("_ss1"): _*)
    val g2 = two.where(col("_rn") === 2).select(
      keyCols.map(col) :+ col("_g").as("g2") :+ col("_n").as("_n2") :+
        col("_s").as("_s2") :+ col("_ss").as("_ss2"): _*)
    def m(s: Column, n: Column) = s.cast("double") / 1e4 / n.cast("double")
    def css(ss: Column, s: Column, n: Column) =
      ss.cast("double") / 1e8 -
        (s.cast("double") / 1e4) * (s.cast("double") / 1e4) /
          n.cast("double")
    g1.join(g2, keyCols)
      .where(col("_n1") >= 2 && col("_n2") >= 2)
      .withColumn("mean_diff",
        m(col("_s1"), col("_n1")) - m(col("_s2"), col("_n2")))
      .withColumn("_sp2",
        (css(col("_ss1"), col("_s1"), col("_n1")) +
          css(col("_ss2"), col("_s2"), col("_n2"))) /
          (col("_n1") + col("_n2") - 2L).cast("double"))
      .withColumn("pooled_sd",
        when(col("_sp2") > 0, sqrt(col("_sp2"))).otherwise(lit(0.0)))
      .withColumn("cohens_d",
        when(col("pooled_sd") > 0, col("mean_diff") / col("pooled_sd"))
          .otherwise(lit(0.0)))
      .withColumn("hedges_g", col("cohens_d") *
        (lit(1.0) - lit(3.0) /
          (lit(4.0) * (col("_n1") + col("_n2")).cast("double") -
            lit(9.0))))
      .select(keyCols.map(col) :+ col("g1") :+ col("g2") :+
        col("_n1").as("n1") :+ col("_n2").as("n2") :+ col("mean_diff") :+
        col("pooled_sd") :+ col("cohens_d") :+ col("hedges_g"): _*)
  }

  /** Cochran-Armitage trend test (Biometrics 1954/1955): is a binary
    * rate MONOTONE across ordered groups (dose levels, cohort buckets,
    * ordinal exposure)? Z = Σwᵢ(sᵢ − nᵢp̄) / √(p̄(1−p̄)·(Σwᵢ²nᵢ −
    * (Σwᵢnᵢ)²/N)) with integer scores wᵢ — the ORDERED complement of
    * the unordered χ² independence test (which ignores order).
    *
    * Determinism: every sum is an exact integer/decimal (scores,
    * counts, score-weighted counts); the finish is a fixed double
    * expression; p = 2(1−Φ(|Z|)) via the shared erf polynomial.
    * Scale: one hash aggregate to group-sized rows + a 1-row reduce.
    * Output one row per key: n, n_groups, z_stat, p_value. */
  def cochranArmitage(data: DataFrame, keyCols: Seq[String],
      scoreCol: String, success: Column): DataFrame = {
    val keys = keyCols.map(col)
    def dec(c: Column) = c.cast("decimal(38,0)")
    val w = col(scoreCol).cast("long")
    val g = data.where(w.isNotNull)
      .groupBy(keys :+ w.as("_w"): _*)
      .agg(count(lit(1)).as("_n"),
        sum(when(success, 1L).otherwise(0L)).as("_s"))
    val agg = g.groupBy(keys: _*)
      .agg(sum(col("_n")).as("n"), count(lit(1)).as("n_groups"),
        sum(col("_s")).as("_st"),
        sum(dec(dec(col("_w")) * dec(col("_s")))).as("_ws"),
        sum(dec(dec(col("_w")) * dec(col("_n")))).as("_wn"),
        sum(dec(dec(col("_w")) * dec(col("_w")) * dec(col("_n"))))
          .as("_wwn"))
    val nD = col("n").cast("double")
    val pBar = col("_st").cast("double") / nD
    val num = col("_ws").cast("double") - pBar * col("_wn").cast("double")
    val den = sqrt(pBar * (lit(1.0) - pBar) *
      (col("_wwn").cast("double") -
        col("_wn").cast("double") * col("_wn").cast("double") / nD))
    val phi = {
      val z = abs(col("z_stat"))
      lit(0.5) + lit(0.5) *
        graft.multi.Proximity.erfPos(z / math.sqrt(2.0))
    }
    agg.where(col("n_groups") >= 2 && col("_st") > 0 &&
        col("_st") < col("n"))
      .withColumn("z_stat", num / den)
      .withColumn("p_value", lit(2.0) * (lit(1.0) - phi))
      .select(keys ++ Seq(col("n"), col("n_groups"), col("z_stat"),
        col("p_value")): _*)
  }
}
