package graft.model

import graft.core.fixedPointLong
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Experiment-analysis estimators (engine additions, CUPED/SRM's
  * siblings): difference-in-differences, post-stratified ATE, the
  * delta-method CI for ratio metrics, and the closed-form MDE power
  * planner. Every mean/variance comes from exact 4dp fixed-point sums;
  * the per-stratum double terms quantize at 6dp before the K-fold sum
  * (combine-order exact). */
object Causal {

  private def fp(c: Column): Column = graft.core.fixedPointLong(c, 4)
  private def dec(c: Column): Column = c.cast("decimal(38,0)")

  /** 2×2 difference-in-differences: DiD = (ȳ_t,post − ȳ_t,pre) −
    * (ȳ_c,post − ȳ_c,pre), SE = √(Σ_cells s²/n). One row: n, did, se,
    * t_stat. */
  def diffInDiff(data: DataFrame, treatCol: String, postCol: String,
      yCol: String): DataFrame = {
    val y = col(yCol).cast("double")
    val cells = data.where(y.isNotNull)
      .select(col(treatCol).cast("boolean").as("_t"),
        col(postCol).cast("boolean").as("_p"), fp(y).as("_y"))
      .groupBy(col("_t"), col("_p"))
      .agg(count(lit(1)).as("_n"), sum(dec(col("_y"))).as("_s"),
        sum(dec(dec(col("_y")) * dec(col("_y")))).as("_q"))
      .where(col("_n") >= 2)
    val nD = col("_n").cast("double")
    val m = col("_s").cast("double") / nD / 1e4
    val v = (col("_q").cast("double") -
      col("_s").cast("double") * col("_s").cast("double") / nD) /
      (nD - 1) / 1e8
    val agg = cells
      .withColumn("_m", m).withColumn("_vn", v / nD)
      .agg(sum(col("_n")).as("n"),
        sum(fixedPointLong(when(col("_t") && col("_p"), col("_m"))
          .when(col("_t") && !col("_p"), -col("_m"))
          .when(!col("_t") && col("_p"), -col("_m"))
          .otherwise(col("_m")), 6)).as("_didfp"),
        sum(fixedPointLong(col("_vn"), 6)).as("_sefp"),
        count(lit(1)).as("_k"))
      .where(col("_k") === 4)
    agg
      .withColumn("did", col("_didfp").cast("double") / 1e6)
      .withColumn("se", sqrt(col("_sefp").cast("double") / 1e6))
      .withColumn("t_stat", col("did") / col("se"))
      .select("n", "did", "se", "t_stat")
  }

  /** Post-stratified ATE: Σ_s (n_s/N)·(ȳ₁ₛ − ȳ₀ₛ) with SE² =
    * Σ_s (n_s/N)²·(v₁ₛ/n₁ₛ + v₀ₛ/n₀ₛ); strata missing an arm are
    * dropped (reported). One row: n, n_strata, ate, se. */
  def postStratATE(data: DataFrame, stratumCol: String, treatCol: String,
      yCol: String): DataFrame = {
    val y = col(yCol).cast("double")
    val s = data.where(y.isNotNull)
      .select(col(stratumCol).as("_s"),
        col(treatCol).cast("boolean").as("_t"), fp(y).as("_y"))
      .groupBy(col("_s"))
      .agg(count(lit(1)).as("_ns"),
        sum(when(col("_t"), 1L).otherwise(0L)).as("_n1"),
        sum(when(col("_t"), dec(col("_y")))).as("_s1"),
        sum(when(col("_t"), dec(dec(col("_y")) * dec(col("_y"))))).as("_q1"),
        sum(when(!col("_t"), 1L).otherwise(0L)).as("_n0"),
        sum(when(!col("_t"), dec(col("_y")))).as("_s0"),
        sum(when(!col("_t"), dec(dec(col("_y")) * dec(col("_y"))))).as("_q0"))
      .where(col("_n1") >= 2 && col("_n0") >= 2)
    val tot = s.agg(sum(col("_ns")).as("_nt"))
    def mv(sc: String, qc: String, nc: String): (Column, Column) = {
      val nD = col(nc).cast("double")
      val mean = col(sc).cast("double") / nD / 1e4
      val vv = (col(qc).cast("double") -
        col(sc).cast("double") * col(sc).cast("double") / nD) /
        (nD - 1) / 1e8
      (mean, vv)
    }
    val (m1, v1) = mv("_s1", "_q1", "_n1")
    val (m0, v0) = mv("_s0", "_q0", "_n0")
    val wgt = col("_ns").cast("double") / col("_nt").cast("double")
    s.crossJoin(broadcast(tot))
      .withColumn("_atep", fixedPointLong(wgt * (m1 - m0), 6))
      .withColumn("_sep", fixedPointLong(wgt * wgt *
        (v1 / col("_n1").cast("double") + v0 / col("_n0").cast("double")), 6))
      .agg(sum(col("_ns")).as("n"), count(lit(1)).as("n_strata"),
        sum(col("_atep")).as("_a"), sum(col("_sep")).as("_se2"))
      .select(col("n"), col("n_strata"),
        (col("_a").cast("double") / 1e6).as("ate"),
        sqrt(col("_se2").cast("double") / 1e6).as("se"))
  }

  /** Delta-method CI for the per-key ratio metric R = Σx/Σy:
    * Var(R) ≈ (s²_x − 2R·s_xy + R²·s²_y) / (n·ȳ²), CI = R ± 1.96·SE.
    * One row per key: key, n, ratio, se, lo, hi. */
  def deltaRatioCI(data: DataFrame, keyCol: String, xCol: String,
      yCol: String): DataFrame = {
    val xv = col(xCol).cast("double"); val yv = col(yCol).cast("double")
    val s = data.where(xv.isNotNull && yv.isNotNull)
      .select(col(keyCol).as("key"), fp(xv).as("_x"), fp(yv).as("_y"))
      .groupBy(col("key"))
      .agg(count(lit(1)).as("n"),
        sum(dec(col("_x"))).as("sx"), sum(dec(col("_y"))).as("sy"),
        sum(dec(dec(col("_x")) * dec(col("_x")))).as("sxx"),
        sum(dec(dec(col("_x")) * dec(col("_y")))).as("sxy"),
        sum(dec(dec(col("_y")) * dec(col("_y")))).as("syy"))
      .where(col("n") >= 2 && col("sy") =!= 0)
    val nD = col("n").cast("double")
    val r = col("sx").cast("double") / col("sy").cast("double")
    val vx = (col("sxx").cast("double") -
      col("sx").cast("double") * col("sx").cast("double") / nD) / (nD - 1)
    val vy = (col("syy").cast("double") -
      col("sy").cast("double") * col("sy").cast("double") / nD) / (nD - 1)
    val cxy = (col("sxy").cast("double") -
      col("sx").cast("double") * col("sy").cast("double") / nD) / (nD - 1)
    val ybar = col("sy").cast("double") / nD
    val se = sqrt((vx - lit(2.0) * r * cxy + r * r * vy) /
      (nD * ybar * ybar))
    s.select(col("key"), col("n"), r.as("ratio"), se.as("se"),
      (r - lit(1.96) * se).as("lo"), (r + lit(1.96) * se).as("hi"))
  }

  /** Two-proportion MDE at α=0.05 (two-sided), power 0.8, assuming an
    * even split of the key's traffic: MDE = (z_{α/2}+z_β)·
    * √(2p(1−p)/(n/2)). One row per key: key, n, p, mde. */
  def powerMde(data: DataFrame, keyCol: String, posCol: String): DataFrame = {
    val zA = 1.959963984540054 // Φ⁻¹(0.975)
    val zB = 0.8416212335729143 // Φ⁻¹(0.8)
    val g = data.select(col(keyCol).as("key"),
      col(posCol).cast("boolean").cast("long").as("_y"))
      .groupBy(col("key"))
      .agg(count(lit(1)).as("n"), sum(col("_y")).as("_pos"))
      .where(col("n") >= 4)
    val nD = col("n").cast("double")
    val p = col("_pos").cast("double") / nD
    g.select(col("key"), col("n"), p.as("p"),
      (lit(zA + zB) * sqrt(lit(2.0) * p * (lit(1.0) - p) / (nD / 2.0)))
        .as("mde"))
  }

  /** Propensity-score matching ATT (Rosenbaum & Rubin '83) with
    * 4dp-bin nearest matching: a logistic propensity is fitted with the
    * engine's deterministic GD ([[graft.text.TextOps.logRegFit]] — the
    * algebraic sigmoid, fixed iterations), each unit's propensity
    * freezes at 4dp, every treated unit matches the control BIN with
    * the nearest propensity (kernel/radius matching at 4dp resolution —
    * deterministic where pick-one-neighbor matching is order-defined),
    * and ATT = mean over treated of y − ȳ_control(matched bin).
    *
    * Determinism: weights replay via the logRegFit recursion; the
    * nearest-bin scan is the as-of union-window device over the
    * PROPENSITY HISTOGRAM (≤ 10⁴ bins by construction — value-range
    * bounded, never unit-sized); the ATT terms freeze at 6dp.
    * Scale: two unit-sized aggregates + histogram-sized matching +
    * one broadcast map join. Output one row: n_treated, n_control,
    * mean_p_t, mean_p_c, mean_match_dist, att. */
  def psmAtt(units: DataFrame, idCol: String, tCol: String, yCol: String,
      featCols: Seq[String], iters: Int = 5, lr: Double = 0.5): DataFrame = {
    import graft.core.fixedPointLong
    import org.apache.spark.sql.expressions.Window
    val labeled = units.withColumn("_t01", col(tCol).cast("double"))
    val wts = graft.text.TextOps.logRegFit(labeled, featCols, "_t01",
      iters, lr)
      .collect().sortBy(_.getAs[Int]("j")).map(_.getAs[Double]("weight"))
    val z = featCols.zipWithIndex
      .map { case (c, j) => lit(wts(j)) * col(c) }.reduce(_ + _)
    val pCol = lit(0.5) + z / (lit(2.0) * (lit(1.0) + abs(z)))
    val base = units.select(col(idCol).as("_id"),
      col(tCol).cast("boolean").as("_tr"),
      fixedPointLong(col(yCol).cast("double"), 4).as("_y4"),
      fixedPointLong(pCol, 4).as("_p4"))
    val ch = base.where(!col("_tr")).groupBy(col("_p4"))
      .agg(count(lit(1)).as("_nc"),
        sum(col("_y4").cast("decimal(38,0)")).as("_sy4"))
      .withColumn("_myc",
        col("_sy4").cast("double") / 1e4 / col("_nc").cast("double"))
      .select(col("_p4"), col("_nc"), col("_myc"))
    val th = base.where(col("_tr")).groupBy(col("_p4"))
      .agg(count(lit(1)).as("_nt"))
    val mrg = ch.select(col("_p4"), lit(0).as("_side"), col("_myc"))
      .unionByName(th.select(col("_p4"), lit(1).as("_side"),
        lit(null).cast("double").as("_myc")))
    val wf = Window.orderBy(col("_p4").asc, col("_side").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wb = Window.orderBy(col("_p4").desc, col("_side").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // propensity-HISTOGRAM-sized frame: the global windows are bounded
    // by the 4dp propensity range (<= 10001 rows), never by units
    val scanned = mrg
      .withColumn("_pp", last(when(col("_side") === 0, col("_p4")),
        ignoreNulls = true).over(wf))
      .withColumn("_py", last(when(col("_side") === 0, col("_myc")),
        ignoreNulls = true).over(wf))
      .withColumn("_np", last(when(col("_side") === 0, col("_p4")),
        ignoreNulls = true).over(wb))
      .withColumn("_ny", last(when(col("_side") === 0, col("_myc")),
        ignoreNulls = true).over(wb))
    val matched = scanned.where(col("_side") === 1)
      .select(col("_p4"),
        when(col("_pp").isNotNull && (col("_np").isNull ||
          col("_p4") - col("_pp") <= col("_np") - col("_p4")),
          col("_pp")).otherwise(col("_np")).as("_mp"),
        when(col("_pp").isNotNull && (col("_np").isNull ||
          col("_p4") - col("_pp") <= col("_np") - col("_p4")),
          col("_py")).otherwise(col("_ny")).as("_my"))
    val tt = base.where(col("_tr"))
      .join(broadcast(matched), "_p4")
      .agg(count(lit(1)).as("n_treated"),
        sum(fixedPointLong(col("_y4").cast("double") / 1e4 - col("_my"), 6))
          .as("_d6"),
        sum(col("_p4")).as("_sp"),
        sum(abs(col("_p4") - col("_mp"))).as("_sd"))
    val cc = base.where(!col("_tr"))
      .agg(count(lit(1)).as("n_control"), sum(col("_p4")).as("_spc"))
    tt.crossJoin(broadcast(cc))
      .select(col("n_treated"), col("n_control"),
        (col("_sp").cast("double") / 1e4 / col("n_treated").cast("double"))
          .as("mean_p_t"),
        (col("_spc").cast("double") / 1e4 / col("n_control").cast("double"))
          .as("mean_p_c"),
        (col("_sd").cast("double") / 1e4 / col("n_treated").cast("double"))
          .as("mean_match_dist"),
        (col("_d6").cast("double") / 1e6 / col("n_treated").cast("double"))
          .as("att"))
  }

  /** Two-model uplift scoring (Radcliffe & Surry '99): one logistic
    * response model per arm (the engine's deterministic GD), uplift =
    * p̂_treated(x) − p̂_control(x) per unit — "whom does the treatment
    * actually move", the heterogeneous-effect face next to [[psmAtt]]'s
    * single average. Output: idCol, p_t, p_c, uplift.
    *
    * Determinism: both weight vectors replay via the logRegFit
    * recursion; scoring is one fixed float expression. Scale: two
    * arm-filtered GD fits (one scan per iteration each) + one scoring
    * pass. */
  def upliftTwoModel(units: DataFrame, idCol: String, tCol: String,
      rCol: String, featCols: Seq[String], iters: Int = 5,
      lr: Double = 0.5): DataFrame = {
    def fit(arm: DataFrame): Array[Double] =
      graft.text.TextOps.logRegFit(
        arm.withColumn("_r01", col(rCol).cast("double")),
        featCols, "_r01", iters, lr)
        .collect().sortBy(_.getAs[Int]("j")).map(_.getAs[Double]("weight"))
    val wT = fit(units.where(col(tCol).cast("boolean")))
    val wC = fit(units.where(!col(tCol).cast("boolean")))
    def p(w: Array[Double]): Column = {
      val z = featCols.zipWithIndex
        .map { case (c, j) => lit(w(j)) * col(c) }.reduce(_ + _)
      lit(0.5) + z / (lit(2.0) * (lit(1.0) + abs(z)))
    }
    units.select(col(idCol), p(wT).as("p_t"), p(wC).as("p_c"),
      (p(wT) - p(wC)).as("uplift"))
  }

  /** Qini / uplift-decile table: units decile by DESCENDING 4dp-frozen
    * uplift score (bin 0 = most persuadable; the global window rides
    * the score histogram), each bin reports arm sizes, responder
    * counts, the observed uplift r_t/n_t − r_c/n_c, and the cumulative
    * Qini incremental responders cumR_t − cumR_c·cumN_t/cumN_c — a
    * model that ranks persuadables first shows a steep early curve.
    * Output per bin: bin, n_t, n_c, r_t, r_c, uplift_obs, qini. */
  def qiniTable(scored: DataFrame, tCol: String, rCol: String,
      upliftCol: String, nBins: Int = 10): DataFrame = {
    import graft.core.fixedPointLong
    import org.apache.spark.sql.expressions.Window
    val base = scored.select(
      fixedPointLong(col(upliftCol).cast("double"), 4).as("_u4"),
      col(tCol).cast("boolean").as("_t"),
      col(rCol).cast("boolean").cast("long").as("_r"))
    val h = base.groupBy(col("_u4"))
      .agg(count(lit(1)).as("_ns"),
        sum(when(col("_t"), 1L).otherwise(0L)).as("_nt"),
        sum(when(col("_t"), col("_r")).otherwise(0L)).as("_rt"),
        sum(when(!col("_t"), col("_r")).otherwise(0L)).as("_rc"))
    val tot = h.agg(sum(col("_ns")).as("_n"))
    // banded prefix sum over the 4dp uplift histogram (the binaryAuc
    // device — uplift scores have no a-priori range bound)
    val binned = graft.core.bandedCumSum(h, expr("_u4 div 100000"),
        bandAsc = false, tie = Seq(col("_u4").desc),
        sums = Map("_ns" -> "_cumns"))
      .withColumn("_cb", col("_cumns") - col("_ns"))
      .crossJoin(broadcast(tot))
      .withColumn("bin", least(lit(nBins - 1),
        floor(col("_cb") * nBins / col("_n")).cast("int")))
      .groupBy(col("bin"))
      .agg(sum(col("_nt")).as("n_t"),
        (sum(col("_ns")) - sum(col("_nt"))).as("n_c"),
        sum(col("_rt")).as("r_t"), sum(col("_rc")).as("r_c"))
    val wb = Window.orderBy(col("bin").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    binned
      .withColumn("uplift_obs",
        when(col("n_t") > 0 && col("n_c") > 0,
          col("r_t").cast("double") / col("n_t").cast("double") -
            col("r_c").cast("double") / col("n_c").cast("double"))
          .otherwise(lit(0.0)))
      .withColumn("_cnt", sum(col("n_t")).over(wb))
      .withColumn("_cnc", sum(col("n_c")).over(wb))
      .withColumn("_crt", sum(col("r_t")).over(wb))
      .withColumn("_crc", sum(col("r_c")).over(wb))
      .withColumn("qini",
        when(col("_cnc") > 0,
          col("_crt").cast("double") - col("_crc").cast("double") *
            (col("_cnt").cast("double") / col("_cnc").cast("double")))
          .otherwise(lit(0.0)))
      .select("bin", "n_t", "n_c", "r_t", "r_c", "uplift_obs", "qini")
  }

  /** Inverse-propensity-weighted ATE (Horvitz–Thompson 1952 weights,
    * Hájek-stabilized ratio form) — the weighting counterpart of
    * [[psmAtt]]'s matching: the same deterministic logistic propensity
    * fit, then ATE = Σ(t·y/p̂)/Σ(t/p̂) − Σ((1−t)·y/(1−p̂))/Σ((1−t)/(1−p̂))
    * with p̂ clipped to [clip, 1−clip] (the standard positivity guard).
    *
    * Determinism: weights ride the frozen GD coefficients (6dp) and the
    * algebraic sigmoid; all four weighted sums quantize per-unit terms
    * to 8dp fixed-point longs. Output: one row — n, n_treated,
    * ate_naive (raw mean difference), ate_ipw.
    *
    * Scale: `iters` gradient scans + ONE weighted-sum aggregate — no
    * matching join, no window; the cheapest causal estimator at 100 TB
    * and the cross-check for the PSM number. */
  def ipwAte(units: DataFrame, idCol: String, tCol: String, yCol: String,
      featCols: Seq[String], iters: Int = 5, lr: Double = 0.5,
      clip: Double = 0.01): DataFrame = {
    import graft.core.fixedPointLong
    val labeled = units.withColumn("_t01", col(tCol).cast("double"))
    val wts = graft.text.TextOps.logRegFit(labeled, featCols, "_t01",
      iters, lr)
      .collect().sortBy(_.getAs[Int]("j")).map(_.getAs[Double]("weight"))
    val z = featCols.zipWithIndex
      .map { case (c, j) => lit(wts(j)) * col(c) }.reduce(_ + _)
    val p = lit(0.5) + z / (lit(2.0) * (lit(1.0) + abs(z)))
    val pc = least(greatest(p, lit(clip)), lit(1.0) - lit(clip))
    val t = col(tCol).cast("boolean")
    val y = col(yCol).cast("double")
    val f8 = (c: Column) => fixedPointLong(c, 8).cast("decimal(38,0)")
    val zero = lit(0L).cast("decimal(38,0)")
    units
      .withColumn("_pc", pc)
      .agg(count(lit(1)).as("n"),
        sum(when(t, 1L).otherwise(0L)).as("n_treated"),
        sum(when(t, f8(lit(1.0) / col("_pc"))).otherwise(zero)).as("_w1"),
        sum(when(t, f8(y / col("_pc"))).otherwise(zero)).as("_wy1"),
        sum(when(!t, f8(lit(1.0) / (lit(1.0) - col("_pc"))))
          .otherwise(zero)).as("_w0"),
        sum(when(!t, f8(y / (lit(1.0) - col("_pc")))).otherwise(zero))
          .as("_wy0"),
        sum(when(t, fixedPointLong(y, 4).cast("decimal(38,0)"))
          .otherwise(zero)).as("_sy1"),
        sum(when(!t, fixedPointLong(y, 4).cast("decimal(38,0)"))
          .otherwise(zero)).as("_sy0"))
      .withColumn("ate_naive",
        when(col("n_treated") > 0 && col("n") > col("n_treated"),
          col("_sy1").cast("double") / 1e4 /
            col("n_treated").cast("double") -
            col("_sy0").cast("double") / 1e4 /
              (col("n") - col("n_treated")).cast("double")))
      .withColumn("ate_ipw",
        col("_wy1").cast("double") / col("_w1").cast("double") -
          col("_wy0").cast("double") / col("_w0").cast("double"))
      .select("n", "n_treated", "ate_naive", "ate_ipw")
  }
  /** Positivity / common-support diagnostic for a propensity column:
    * equal-width bins over [0,1], per-arm shares, overlap coefficient
    * OVL = Σ_b min(share_t, share_c) (1 = perfectly matched supports,
    * → 0 = no overlap: IPW/PSM estimates there are extrapolation), plus
    * each arm's propensity range. The go/no-go check BEFORE trusting
    * ipwAte/psmAtt.
    *
    * Determinism: bin indices are exact integer floors of the frozen
    * propensity; shares are exact count ratios; the bin-sum quantizes
    * min-share terms at 8dp. One hash aggregate + a bins-sized frame.
    * Output one row: n_treated, n_control, overlap, t_min, t_max,
    * c_min, c_max. */
  def positivityOverlap(units: DataFrame, tCol: String, pCol: String,
      nBins: Int = 20): DataFrame = {
    require(nBins >= 2, "nBins >= 2")
    import graft.core.fixedPointLong
    val t = col(tCol).cast("boolean")
    val p = col(pCol).cast("double")
    val b = least(floor(p * nBins), lit(nBins - 1.0)).cast("long")
    val binned = units.where(p.isNotNull)
      .groupBy(b.as("_b"))
      .agg(sum(when(t, 1L).otherwise(0L)).as("_ct"),
        sum(when(!t, 1L).otherwise(0L)).as("_cc"),
        min(when(t, p)).as("_tmn"), max(when(t, p)).as("_tmx"),
        min(when(!t, p)).as("_cmn"), max(when(!t, p)).as("_cmx"))
    binned.agg(
        sum(col("_ct")).as("n_treated"), sum(col("_cc")).as("n_control"),
        min(col("_tmn")).as("t_min"), max(col("_tmx")).as("t_max"),
        min(col("_cmn")).as("c_min"), max(col("_cmx")).as("c_max"),
        sum(col("_ct")).as("_nt"), sum(col("_cc")).as("_nc"))
      .crossJoin(broadcast(binned.select(col("_b"), col("_ct"),
        col("_cc"))).groupBy()
        .agg(collect_list(struct(col("_b"), col("_ct"), col("_cc")))
          .as("_bins")))
      .withColumn("overlap",
        aggregate(col("_bins"), lit(0L),
          (acc, x) => acc + fixedPointLong(
            least(x.getField("_ct").cast("double") / col("_nt"),
              x.getField("_cc").cast("double") / col("_nc")), 8))
          .cast("double") / 1e8)
      .select("n_treated", "n_control", "overlap", "t_min", "t_max",
        "c_min", "c_max")
  }

  /** Simpson's-paradox audit (Simpson 1951; the aggregation-reversal
    * trap every cohort dashboard eventually hits): compares the CRUDE
    * treated-vs-control rate difference against the size-weighted
    * average of the per-stratum differences and flags when
    * stratification flips the sign — the reversal-audit face of
    * [[postStratATE]] (that reports the adjusted effect; this diagnoses
    * when the crude number lies). A binary `outcomeCol` gives classic
    * rate reversal; any bounded numeric works (mean reversal).
    *
    * Determinism: all rates are exact integer-count ratios; the
    * weighted stratified difference freezes each stratum's diff at 9dp
    * before the n-weighted long sum; the sign compare carries the
    * engine-wide ±1e-9 zero band. Scale: one hash aggregate to
    * strata × 2 cells, everything after is model-sized.
    *
    * Output per stratum: stratum, n, p_t, p_c, diff — plus the same
    * crude_diff, strat_diff, reversed columns on every row (the audit
    * verdict travels with the detail table). Strata missing either arm
    * are excluded from the stratified average (no counterfactual). */
  def simpsonAudit(data: DataFrame, stratumCol: String, treatCol: String,
      outcomeCol: String): DataFrame = {
    val t = col(treatCol).cast("boolean")
    val y = col(outcomeCol).cast("double")
    // strata×2 cells materialize once (localCheckpoint): the lazy frame
    // feeds four downstream readers (both arms, crude, stratified) and
    // would otherwise re-scan the data per reader
    val cells = data.where(t.isNotNull && y.isNotNull)
      .groupBy(col(stratumCol).as("stratum"), t.as("_t"))
      .agg(count(lit(1)).as("_n"),
        sum(fixedPointLong(y, 9)).as("_s"))
      .localCheckpoint(true)
    def side(tv: Boolean, tag: String) = cells.where(col("_t") === tv)
      .select(col("stratum"), col("_n").as(s"_n$tag"),
        (col("_s").cast("double") / 1e9 / col("_n").cast("double"))
          .as(s"p_$tag"))
    val s = side(tv = true, "t").join(side(tv = false, "c"), "stratum")
      .withColumn("n", col("_nt") + col("_nc"))
      .withColumn("diff", col("p_t") - col("p_c"))
    val crude = cells.groupBy(col("_t"))
      .agg(sum(col("_n")).as("_n"), sum(col("_s")).as("_s"))
      .select(col("_t"), (col("_s").cast("double") / 1e9 /
        col("_n").cast("double")).as("_p"))
    val crudeDiff = crude.where(col("_t")).select(col("_p"))
      .crossJoin(crude.where(!col("_t")).select(col("_p").as("_pc")))
      .select((col("_p") - col("_pc")).as("crude_diff"))
    val strat = s.agg((sum(fixedPointLong(col("diff"), 9) * col("n"))
        .cast("double") / 1e9 / sum(col("n")).cast("double"))
      .as("strat_diff"))
    s.crossJoin(broadcast(crudeDiff)).crossJoin(broadcast(strat))
      .withColumn("reversed",
        (col("crude_diff") > 1e-9 && col("strat_diff") < -1e-9) ||
          (col("crude_diff") < -1e-9 && col("strat_diff") > 1e-9))
      .select(col("stratum"), col("n"), col("p_t"), col("p_c"),
        col("diff"), col("crude_diff"), col("strat_diff"), col("reversed"))
  }
}
