package graft.model

import graft.core.fixedPointLong
import GroupTests.{midrank2, twoGroupHistogram, twoGroupMidranks, valueCumSum}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-9 test battery: heteroscedasticity-robust two-sample location
  * (Brunner–Munzel), two-sample scale (Ansari–Bradley), ordered-alternative
  * trend across groups (Jonckheere–Terpstra), trend in proportions
  * (Cochran–Armitage), stratified 2×2 association (Cochran–Mantel–Haenszel
  * + Breslow–Day homogeneity), D'Agostino's K² normality omnibus, and the
  * regression-residual diagnostics Durbin–Watson, Breusch–Pagan, Cox–Stuart
  * and Bartels' rank von Neumann.
  *
  * Determinism contract (same as GroupTests/Diagnostics): values freeze to
  * 4dp fixed-point longs, every rank is the 2·r̄ integer of the value
  * histogram, every cross-value reduction is either an exact integer sum
  * or a 6dp fixed-point quantized term sum, and the handful of per-stratum
  * doubles (CMH/BD) quantize before the K-fold sum. No data-sized float
  * sum anywhere, so any combine order hashes identically.
  *
  * Scale: two-sample kernels run on the 4dp value histogram
  * (value-range-sized, not data-sized); per-key diagnostics exchange once
  * on the key. */
object Tests2 {

  private def fp(c: Column): Column = graft.core.fixedPointLong(c, 4)
  private def dec(c: Column): Column = c.cast("decimal(38,0)")

  /** Brunner–Munzel test (two-sample stochastic equality, unequal
    * variances allowed): p̂ = P(X<Y)+½P(X=Y) estimated from midranks,
    * W = n_a·n_b·(m_b−m_a)/((n_a+n_b)·√(n_a·v_a+n_b·v_b)), Welch-
    * Satterthwaite df. The rank variances expand as Σc·D² − K-linear
    * terms with D the (pooled−within) midrank gap — exact integers —
    * so only the final assembly is floating point. One row: n_a, n_b,
    * p_hat, w_stat, df. */
  def brunnerMunzel(data: DataFrame, groupCol: String, valCol: String,
      ga: String, gb: String): DataFrame = {
    val h = twoGroupHistogram(data, groupCol, valCol, ga, gb)
    val ct = col("_ca") + col("_cb")
    val r = valueCumSum(h.withColumn("_t", ct),
        Map("_t" -> "_cs", "_ca" -> "_csa", "_cb" -> "_csb"))
      // 2× pooled midrank and 2× within-group midranks at each value
      .withColumn("_r2", midrank2(col("_cs"), ct))
      .withColumn("_ra2", midrank2(col("_csa"), col("_ca")))
      .withColumn("_rb2", midrank2(col("_csb"), col("_cb")))
      // 2×(pooled − within) midrank gap, exact integers
      .withColumn("_da2", col("_r2") - col("_ra2"))
      .withColumn("_db2", col("_r2") - col("_rb2"))
    val agg = r.agg(
      sum(col("_ca")).as("n_a"), sum(col("_cb")).as("n_b"),
      sum(col("_ca") * col("_r2")).as("ra2s"),
      sum(col("_cb") * col("_r2")).as("rb2s"),
      sum(col("_ca") * col("_da2")).as("da1"),
      sum(dec(col("_ca") * col("_da2") * col("_da2"))).as("da2"),
      sum(col("_cb") * col("_db2")).as("db1"),
      sum(dec(col("_cb") * col("_db2") * col("_db2"))).as("db2"))
    val na = col("n_a").cast("double"); val nb = col("n_b").cast("double")
    // m_i = mean pooled midrank of group i; K_i = m_i − (n_i+1)/2
    val ma = col("ra2s").cast("double") / 2.0 / na
    val mb = col("rb2s").cast("double") / 2.0 / nb
    val ka = ma - (na + 1) / 2.0
    val kb = mb - (nb + 1) / 2.0
    // v_i = [ΣcD²/4 − K·ΣcD + K²n] / (n−1) with the Σ exact integers
    val va = (col("da2").cast("double") / 4.0 -
      ka * col("da1").cast("double") / 2.0 -
      ka * col("da1").cast("double") / 2.0 + ka * ka * na) / (na - 1)
    val vb = (col("db2").cast("double") / 4.0 -
      kb * col("db1").cast("double") / 2.0 -
      kb * col("db1").cast("double") / 2.0 + kb * kb * nb) / (nb - 1)
    agg
      .withColumn("p_hat", (mb - (nb + 1) / 2.0) / na)
      .withColumn("_nva", na * va).withColumn("_nvb", nb * vb)
      .withColumn("w_stat", na * nb * (mb - ma) / (na + nb) /
        sqrt(col("_nva") + col("_nvb")))
      .withColumn("df",
        (col("_nva") + col("_nvb")) * (col("_nva") + col("_nvb")) /
          (col("_nva") * col("_nva") / (na - 1) +
            col("_nvb") * col("_nvb") / (nb - 1)))
      .select("n_a", "n_b", "p_hat", "w_stat", "df")
  }

  /** Ansari–Bradley two-sample scale test with midrank scores: a(v) =
    * mean over the tie run [l,u] of min(r, N+1−r), computed in closed
    * form from the integer range sum T(x); AB = Σ_a c·a(v). Null mean
    * and variance from the finite-population identities over the exact
    * per-value score sums (6dp-quantized only where a /ct ratio
    * appears). One row: n_a, n_b, ab_stat, z. */
  def ansariBradley(data: DataFrame, groupCol: String, valCol: String,
      ga: String, gb: String): DataFrame = {
    val h = twoGroupHistogram(data, groupCol, valCol, ga, gb)
      .withColumn("_ct", col("_ca") + col("_cb"))
    val tot = h.agg(sum(col("_ct")).as("_n"), sum(col("_ca")).as("_na"))
    // T(x) = Σ_{r≤x} min(r, M−r) with M = N+1, k = ⌊M/2⌋:
    //   x ≤ k:  x(x+1)/2
    //   x > k:  k(k+1)/2 + (x−k)·M − (x(x+1) − k(k+1))/2
    // x(x+1) and k(k+1) are even, so the float halvings are exact
    // (longs < 2^26·histogram sizes keep every product under 2^53).
    def tsum(x: Column, m: Column, k: Column): Column =
      when(x <= k, floor(x * (x + 1) / 2.0))
        .otherwise(floor(k * (k + 1) / 2.0) + (x - k) * m -
          floor((x * (x + 1) - k * (k + 1)) / 2.0)).cast("long")
    val r = valueCumSum(h, Map("_ct" -> "_cumct"))
      .crossJoin(broadcast(tot))
      .withColumn("_m", col("_n") + 1)
      .withColumn("_k", floor((col("_n") + 1) / 2.0).cast("long"))
      .withColumn("_l", col("_cumct") - col("_ct")) // = l−1
      .withColumn("_u", col("_cumct"))
      .withColumn("_s",
        tsum(col("_u"), col("_m"), col("_k")) -
          tsum(col("_l"), col("_m"), col("_k")))
    val agg = r.agg(
      max(col("_na")).as("n_a"), max(col("_n") - col("_na")).as("n_b"),
      // AB statistic: Σ ca·s/ct, 6dp-quantized per distinct value
      sum(fixedPointLong(col("_ca").cast("double") * col("_s").cast("double") /
        col("_ct").cast("double"), 6)).as("abfp"),
      sum(col("_s")).as("ssum"), // Σ over observations of a(v), exact
      sum(fixedPointLong(col("_s").cast("double") * col("_s").cast("double") /
        col("_ct").cast("double"), 6)).as("s2fp"))
    val na = col("n_a").cast("double"); val nb = col("n_b").cast("double")
    val nn = na + nb
    val abar = col("ssum").cast("double") / nn
    val s2 = col("s2fp").cast("double") / 1e6
    agg
      .withColumn("ab_stat", col("abfp").cast("double") / 1e6)
      .withColumn("z", (col("ab_stat") - na * abar) /
        sqrt(na * nb / (nn * (nn - 1)) * (s2 - nn * abar * abar)))
      .select("n_a", "n_b", "ab_stat", "z")
  }

  /** Jonckheere–Terpstra ordered-alternative trend across k dose-ordered
    * groups: J = Σ_{i<j} U_ij with U_ij the Mann–Whitney count of pairs
    * (x∈i, y∈j) with x<y (+½ ties) — computed exactly on the
    * (dose × value)-histogram as Σ_v c_j·(2·C_i(<v) + c_i)/2. The null
    * mean is exact; the variance uses the no-tie form (documented).
    * One row: n, k, j_stat, z. */
  def jonckheereTerpstra(data: DataFrame, doseCol: String,
      valCol: String): DataFrame = {
    val v = col(valCol).cast("double")
    val h = data.where(v.isNotNull && col(doseCol).isNotNull)
      .select(col(doseCol).cast("long").as("_d"), fp(v).as("_v"))
      .groupBy(col("_d"), col("_v")).agg(count(lit(1)).as("c"))
    // dense frame: every (dose, distinct value) with zero fill
    val doses = h.select(col("_d")).distinct()
    val vals = h.select(col("_v")).distinct()
    val full = vals.crossJoin(broadcast(doses))
      .join(h, Seq("_d", "_v"), "left")
      .withColumn("c", coalesce(col("c"), lit(0L)))
    val w = Window.partitionBy(col("_d")).orderBy(col("_v").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = full.withColumn("cb", sum(col("c")).over(w) - col("c"))
    val lo = cum.select(col("_v"), col("_d").as("_i"),
      col("c").as("ci"), col("cb").as("cbi"))
    val hi = cum.select(col("_v"), col("_d").as("_j"), col("c").as("cj"))
    val j2 = lo.join(hi, Seq("_v")).where(col("_i") < col("_j"))
      .agg(sum(dec(col("cj") * (lit(2) * col("cbi") + col("ci"))))
        .as("j2"))
    val sizes = h.groupBy(col("_d")).agg(sum(col("c")).as("ng"))
      .agg(count(lit(1)).as("k"), sum(col("ng")).as("n"),
        sum(col("ng") * col("ng")).as("sq"),
        sum(dec(col("ng") * col("ng")) *
          (lit(2) * col("ng") + 3)).as("sq3"))
    j2.crossJoin(broadcast(sizes))
      .withColumn("j_stat", col("j2").cast("double") / 2.0)
      .withColumn("_ej",
        (col("n").cast("double") * col("n").cast("double") -
          col("sq").cast("double")) / 4.0)
      .withColumn("_vj",
        (col("n").cast("double") * col("n").cast("double") *
          (lit(2.0) * col("n").cast("double") + 3) -
          col("sq3").cast("double")) / 72.0)
      .withColumn("z", (col("j_stat") - col("_ej")) / sqrt(col("_vj")))
      .select("n", "k", "j_stat", "z")
  }

  /** Cochran–Armitage trend in proportions across integer-scored doses:
    * Z = Σ s_i(r_i − n_i·p̄) / √(p̄(1−p̄)·(Σs_i²n_i − (Σs_i n_i)²/N)) —
    * every Σ an exact integer. One row: n, n_pos, z. */
  def cochranArmitage(data: DataFrame, doseCol: String,
      posCol: String): DataFrame = {
    val g = data.where(col(doseCol).isNotNull)
      .select(col(doseCol).cast("long").as("_s"),
        col(posCol).cast("boolean").cast("long").as("_y"))
      .groupBy(col("_s"))
      .agg(count(lit(1)).as("ni"), sum(col("_y")).as("ri"))
    val agg = g.agg(sum(col("ni")).as("n"), sum(col("ri")).as("n_pos"),
      sum(col("_s") * col("ri")).as("sr"),
      sum(col("_s") * col("ni")).as("sn"),
      sum(col("_s") * col("_s") * col("ni")).as("s2n"))
    val n = col("n").cast("double")
    val p = col("n_pos").cast("double") / n
    agg
      .withColumn("z",
        ((col("sr").cast("double") - p * col("sn").cast("double")) /
          sqrt(p * (lit(1.0) - p) * (col("s2n").cast("double") -
            col("sn").cast("double") * col("sn").cast("double") / n))))
      .select("n", "n_pos", "z")
  }

  /** Cochran–Mantel–Haenszel stratified 2×2 association + Mantel–
    * Haenszel common odds ratio + Breslow–Day homogeneity. Per-stratum
    * cells are exact integers; the per-stratum double terms (expected
    * counts, hypergeometric variances, the Breslow–Day root) quantize
    * to 6dp before the K-fold sum so the fold is combine-order exact.
    * One row: k, or_mh, cmh_chi2, bd_chi2. */
  def cmh(data: DataFrame, stratumCol: String, exposedCol: String,
      posCol: String): DataFrame = {
    val cells = data
      .select(col(stratumCol).as("_k"),
        col(exposedCol).cast("boolean").as("_e"),
        col(posCol).cast("boolean").as("_y"))
      .groupBy(col("_k"))
      .agg(sum(when(col("_e") && col("_y"), 1L).otherwise(0L)).as("a"),
        sum(when(col("_e") && !col("_y"), 1L).otherwise(0L)).as("b"),
        sum(when(!col("_e") && col("_y"), 1L).otherwise(0L)).as("c"),
        sum(when(!col("_e") && !col("_y"), 1L).otherwise(0L)).as("d"))
      .where(col("a") + col("b") > 0 && col("c") + col("d") > 0 &&
        col("a") + col("c") > 0 && col("b") + col("d") > 0)
    val nk = (col("a") + col("b") + col("c") + col("d")).cast("double")
    val aD = col("a").cast("double"); val bD = col("b").cast("double")
    val cD = col("c").cast("double"); val dD = col("d").cast("double")
    val ek = (aD + bD) * (aD + cD) / nk
    val vk = (aD + bD) * (cD + dD) * (aD + cD) * (bD + dD) /
      (nk * nk * (nk - 1))
    val sums = cells.agg(count(lit(1)).as("k"),
      sum(col("a")).as("asum"),
      sum(fixedPointLong(ek, 6)).as("efp"), sum(fixedPointLong(vk, 6)).as("vfp"),
      sum(fixedPointLong(aD * dD / nk, 6)).as("adfp"),
      sum(fixedPointLong(bD * cD / nk, 6)).as("bcfp"))
    val orMh = (col("adfp").cast("double") / 1e6) /
      (col("bcfp").cast("double") / 1e6)
    val withOr = cells.crossJoin(broadcast(sums.select(
      ((col("adfp").cast("double") / 1e6) /
        (col("bcfp").cast("double") / 1e6)).as("_or"))))
    // Breslow–Day: per stratum solve (OR−1)ã² − [(OR)(n1+m1)+(n0−m1)]ã
    //   + OR·n1·m1 = 0 for the expected exposed-case count ã (root in
    //   (max(0,m1−n0), min(n1,m1))), then X² = Σ (a−ã)²/Var(ã).
    val n1 = aD + bD; val n0 = cD + dD; val m1 = aD + cD
    val or = col("_or")
    val qa = or - 1.0
    val qb = -(or * (n1 + m1) + (n0 - m1))
    val qc = or * n1 * m1
    val disc = sqrt(qb * qb - lit(4.0) * qa * qc)
    val r1 = (-qb - disc) / (lit(2.0) * qa)
    val r2 = (-qb + disc) / (lit(2.0) * qa)
    val loB = greatest(lit(0.0), m1 - n0)
    val hiB = least(n1, m1)
    val root = when(abs(qa) < 1e-12, -qc / qb)
      .otherwise(when(r1 > loB && r1 < hiB, r1).otherwise(r2))
    val varA = lit(1.0) / (lit(1.0) / root + lit(1.0) / (m1 - root) +
      lit(1.0) / (n1 - root) + lit(1.0) / (n0 - m1 + root))
    val bd = withOr.agg(
      sum(fixedPointLong((aD - root) * (aD - root) / varA, 6)).as("bdfp"))
    sums.crossJoin(broadcast(bd))
      .withColumn("or_mh", orMh)
      .withColumn("cmh_chi2",
        (col("asum").cast("double") - col("efp").cast("double") / 1e6) *
          (col("asum").cast("double") - col("efp").cast("double") / 1e6) /
          (col("vfp").cast("double") / 1e6))
      .withColumn("bd_chi2", col("bdfp").cast("double") / 1e6)
      .select("k", "or_mh", "cmh_chi2", "bd_chi2")
  }

  /** D'Agostino's K² normality omnibus per key: the skewness transform
    * Z1 (Johnson SU), the kurtosis transform Z2 (Anscombe–Glynn) and
    * K² = Z1² + Z2², all from exact fixed-point power sums (the same
    * moment device as Jarque–Bera; scale cancels). Signed cube roots
    * spell sign(t)·|t|^(1/3) so both engines evaluate pow on a positive
    * base. One row per key: key, n, z_skew, z_kurt, k2. */
  def dagostinoK2(data: DataFrame, keyCol: String, valCol: String)
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
      .where(col("n") >= 20)
    val n = col("n").cast("double")
    val m = col("_s1").cast("double") / n
    val m2 = col("_s2").cast("double") / n - m * m
    val m3 = col("_s3").cast("double") / n - lit(3.0) * m *
      (col("_s2").cast("double") / n) + lit(2.0) * m * m * m
    val m4 = col("_s4").cast("double") / n - lit(4.0) * m *
      (col("_s3").cast("double") / n) + lit(6.0) * m * m *
      (col("_s2").cast("double") / n) - lit(3.0) * m * m * m * m
    val g1 = m3 / sqrt(m2 * m2 * m2)
    val g2 = m4 / (m2 * m2)
    // Z1: D'Agostino (1970)
    val y = g1 * sqrt((n + 1) * (n + 3) / (lit(6.0) * (n - 2)))
    val b2 = lit(3.0) * (n * n + lit(27.0) * n - 70) * (n + 1) * (n + 3) /
      ((n - 2) * (n + 5) * (n + 7) * (n + 9))
    val w2 = sqrt(lit(2.0) * (b2 - 1)) - 1.0
    val dl = lit(1.0) / sqrt(log(sqrt(w2)))
    val alpha = sqrt(lit(2.0) / (w2 - 1))
    val z1 = dl * log(y / alpha + sqrt(y / alpha * (y / alpha) + 1))
    // Z2: Anscombe–Glynn (1983)
    val eb2 = lit(3.0) * (n - 1) / (n + 1)
    val vb2 = lit(24.0) * n * (n - 2) * (n - 3) /
      ((n + 1) * (n + 1) * (n + 3) * (n + 5))
    val x = (g2 - eb2) / sqrt(vb2)
    val beta = lit(6.0) * (n * n - lit(5.0) * n + 2) / ((n + 7) * (n + 9)) *
      sqrt(lit(6.0) * (n + 3) * (n + 5) / (n * (n - 2) * (n - 3)))
    val aa = lit(6.0) + lit(8.0) / beta *
      (lit(2.0) / beta + sqrt(lit(1.0) + lit(4.0) / (beta * beta)))
    val inner = (lit(1.0) - lit(2.0) / aa) /
      (lit(1.0) + x * sqrt(lit(2.0) / (aa - 4)))
    val cbrtInner = signum(inner) * pow(abs(inner), lit(1.0) / 3)
    val z2 = ((lit(1.0) - lit(2.0) / (lit(9.0) * aa)) - cbrtInner) /
      sqrt(lit(2.0) / (lit(9.0) * aa))
    sums
      .withColumn("z_skew", z1)
      .withColumn("z_kurt", z2)
      .withColumn("k2", z1 * z1 + z2 * z2)
      .select("key", "n", "z_skew", "z_kurt", "k2")
  }

  /** Per-key simple OLS of value on an integer regressor, returning the
    * exact fixed-point sums the residual diagnostics share. Output:
    * key, n, plus the double coefficients slope/icept (exact-integer
    * normal equations). */
  private def olsSums(data: DataFrame, keyCol: String, xCol: String,
      valCol: String): DataFrame = {
    val y = col(valCol).cast("double")
    val base = data.where(y.isNotNull && col(xCol).isNotNull)
      .select(col(keyCol).as("key"), col(xCol).cast("long").as("_x"),
        fp(y).as("_y4"))
    base.groupBy(col("key"))
      .agg(count(lit(1)).as("n"),
        sum(col("_x")).as("sx"),
        sum(dec(col("_x") * col("_x"))).as("sxx"),
        sum(dec(col("_y4"))).as("sy"),
        sum(dec(col("_x") * col("_y4"))).as("sxy"))
      .where(col("n") >= 3)
      .withColumn("_nD", col("n").cast("double"))
      .withColumn("slope",
        (col("_nD") * col("sxy").cast("double") -
          col("sx").cast("double") * col("sy").cast("double")) /
          (col("_nD") * col("sxx").cast("double") -
            col("sx").cast("double") * col("sx").cast("double")) / 1e4)
      .withColumn("icept",
        (col("sy").cast("double") / 1e4 -
          (col("_nD") * col("sxy").cast("double") -
            col("sx").cast("double") * col("sy").cast("double")) /
            (col("_nD") * col("sxx").cast("double") -
              col("sx").cast("double") * col("sx").cast("double")) / 1e4 *
            col("sx").cast("double")) / col("_nD"))
  }

  /** Durbin–Watson first-order autocorrelation diagnostic per key:
    * residuals of value-on-x OLS in (ordCol) order, e frozen at 4dp, DW
    * = Σ(e_t−e_{t−1})² / Σe_t² from exact integer sums. One row per
    * key: key, n, dw. */
  def durbinWatson(data: DataFrame, keyCol: String, xCol: String,
      ordCol: String, valCol: String): DataFrame = {
    val y = col(valCol).cast("double")
    val coef = olsSums(data, keyCol, xCol, valCol)
      .select(col("key"), col("slope"), col("icept"))
    val rows = data.where(y.isNotNull && col(xCol).isNotNull)
      .select(col(keyCol).as("key"), col(xCol).cast("long").as("_x"),
        col(ordCol).cast("long").as("_o"),
        (fp(y).cast("double") / 1e4).as("_y"))
      .join(broadcast(coef), "key")
      .withColumn("_e4",
        fp(col("_y") - (col("icept") + col("slope") * col("_x"))))
    val w = Window.partitionBy(col("key")).orderBy(col("_o").asc)
    rows
      .withColumn("_lag", lag(col("_e4"), 1).over(w))
      .groupBy(col("key"))
      .agg(count(lit(1)).as("n"),
        sum(dec((col("_e4") - col("_lag")) * (col("_e4") - col("_lag"))))
          .as("num"),
        sum(dec(col("_e4") * col("_e4"))).as("den"))
      .select(col("key"), col("n"),
        (col("num").cast("double") / col("den").cast("double")).as("dw"))
  }

  /** Breusch–Pagan heteroscedasticity LM test per key: the squared
    * 4dp residuals (quantized at 6dp) regress on x; LM = n·R². All
    * regression sums exact integers. One row: key, n, lm. */
  def breuschPagan(data: DataFrame, keyCol: String, xCol: String,
      valCol: String): DataFrame = {
    val y = col(valCol).cast("double")
    val coef = olsSums(data, keyCol, xCol, valCol)
      .select(col("key"), col("slope"), col("icept"))
    val rows = data.where(y.isNotNull && col(xCol).isNotNull)
      .select(col(keyCol).as("key"), col(xCol).cast("long").as("_x"),
        (fp(y).cast("double") / 1e4).as("_y"))
      .join(broadcast(coef), "key")
      .withColumn("_e", col("_y") - (col("icept") + col("slope") * col("_x")))
      .withColumn("_u6", fixedPointLong(col("_e") * col("_e"), 6))
    val s = rows.groupBy(col("key"))
      .agg(count(lit(1)).as("n"),
        sum(col("_x")).as("sx"),
        sum(dec(col("_x") * col("_x"))).as("sxx"),
        sum(dec(col("_u6"))).as("su"),
        sum(dec(col("_x") * col("_u6"))).as("sxu"),
        sum(dec(dec(col("_u6")) * dec(col("_u6")))).as("suu"))
    val n = col("n").cast("double")
    // R² of u on x from the exact sums: r = (nΣxu−ΣxΣu)/√((nΣx²−Σx²)(nΣu²−Σu²))
    val covN = n * col("sxu").cast("double") -
      col("sx").cast("double") * col("su").cast("double")
    val vxN = n * col("sxx").cast("double") -
      col("sx").cast("double") * col("sx").cast("double")
    val vuN = n * col("suu").cast("double") -
      col("su").cast("double") * col("su").cast("double")
    s.select(col("key"), col("n"),
      when(vuN > 0, n * (covN * covN / (vxN * vuN))).otherwise(lit(0.0))
        .as("lm"))
  }

  /** Cox–Stuart trend test per key: pair t with t + ⌈n/2⌉ in ordCol
    * order, count strict up/down pairs (ties drop), S = max(pos, neg),
    * z with continuity correction. One row per key: key, n_pairs,
    * n_up, n_down, z. */
  def coxStuart(data: DataFrame, keyCol: String, ordCol: String,
      valCol: String): DataFrame = {
    val v = col(valCol).cast("double")
    val rows = data.where(v.isNotNull)
      .select(col(keyCol).as("key"), col(ordCol).cast("long").as("_o"),
        fp(v).as("_v"))
      .withColumn("_rn", row_number().over(
        Window.partitionBy(col("key")).orderBy(col("_o").asc)))
    val cnt = rows.groupBy(col("key")).agg(count(lit(1)).as("_n"))
      .withColumn("_c", floor((col("_n") + 1) / 2.0).cast("long")) // ⌈n/2⌉
    val a = rows.join(broadcast(cnt), "key")
      .where(col("_rn") <= col("_n") - col("_c"))
      .select(col("key"), (col("_rn") + col("_c")).as("_rn2"),
        col("_v").as("_va"))
    val b = rows.select(col("key"), col("_rn").as("_rn2"),
      col("_v").as("_vb"))
    a.join(b, Seq("key", "_rn2"))
      .groupBy(col("key"))
      .agg(sum(when(col("_vb") > col("_va"), 1L).otherwise(0L)).as("n_up"),
        sum(when(col("_vb") < col("_va"), 1L).otherwise(0L)).as("n_down"))
      .withColumn("n_pairs", col("n_up") + col("n_down"))
      .withColumn("z", when(col("n_pairs") > 0,
        (greatest(col("n_up"), col("n_down")).cast("double") - 0.5 -
          col("n_pairs").cast("double") / 2.0) /
          sqrt(col("n_pairs").cast("double") / 4.0)).otherwise(lit(0.0)))
      .select("key", "n_pairs", "n_up", "n_down", "z")
  }

  /** Yuen's trimmed two-sample t: per group, trim γ·n from each tail
    * (order statistics off the 4dp value histogram — k-th value = the
    * smallest v whose cumulative count reaches k), trimmed mean from
    * the exact clipped-overlap sums, winsorized variance with the tail
    * masses moved to the cut values, Welch-style df on the winsorized
    * scale. The robust two-sample location test the plain t loses to
    * under heavy tails. One row: n_a, n_b, tm_a, tm_b, t_stat, df. */
  def yuenTrimmedT(data: DataFrame, groupCol: String, valCol: String,
      ga: String, gb: String, gamma: Double = 0.2): DataFrame = {
    require(gamma > 0 && gamma < 0.5, s"0 < gamma < 0.5: $gamma")
    val v = col(valCol).cast("double")
    def side(g: String, tag: String): DataFrame = {
      val h = data.where(v.isNotNull && col(groupCol) === g)
        .select(fp(v).as("_v"))
        .groupBy(col("_v")).agg(count(lit(1)).as("_c"))
      val tot = h.agg(sum(col("_c")).as("_n"))
      // banded prefix sum over the 4dp histogram (the binaryAuc device)
      val cum = valueCumSum(h, Map("_c" -> "_cum"))
        .crossJoin(broadcast(tot))
        .withColumn("_cb", col("_cum") - col("_c"))
        .withColumn("_g", floor(lit(gamma) * col("_n").cast("double"))
          .cast("long"))
      // overlap of this value's rank run with the kept band (g+1..n−g)
      val kept = greatest(lit(0L),
        least(col("_cb") + col("_c"), col("_n") - col("_g")) -
          greatest(col("_cb"), col("_g")))
      // the two cut order statistics: (g+1)-th and (n−g)-th values
      val isLo = col("_cb") < col("_g") + 1 &&
        col("_cb") + col("_c") >= col("_g") + 1
      val isHi = col("_cb") < col("_n") - col("_g") &&
        col("_cb") + col("_c") >= col("_n") - col("_g")
      cum.agg(
        max(col("_n")).as("n"), max(col("_g")).as("g"),
        sum(dec(kept * col("_v"))).as("ts"),
        sum(dec(dec(kept * col("_v")) * dec(col("_v")))).as("tss"),
        max(when(isLo, col("_v"))).as("vlo"),
        max(when(isHi, col("_v"))).as("vhi"))
        .select(lit(tag).as("_side"), col("n"), col("g"), col("ts"),
          col("tss"), col("vlo"), col("vhi"))
    }
    val both = side(ga, "a").unionAll(side(gb, "b"))
    val n = col("n").cast("double"); val g = col("g").cast("double")
    val h = col("n") - lit(2) * col("g")
    val hD = h.cast("double")
    // winsorized sums: kept mass + g copies of each cut value
    val ws = col("ts").cast("double") + g * col("vlo").cast("double") +
      g * col("vhi").cast("double")
    val wss = col("tss").cast("double") +
      g * col("vlo").cast("double") * col("vlo").cast("double") +
      g * col("vhi").cast("double") * col("vhi").cast("double")
    val swin = (wss - ws * ws / n) / (n - 1) / 1e8
    val per = both.select(col("_side"), col("n"), h.as("h"),
      (col("ts").cast("double") / hD / 1e4).as("tm"),
      (swin * (n - 1) / (hD * (hD - 1))).as("d"))
    val a = per.where(col("_side") === "a")
      .select(col("n").as("n_a"), col("h").as("_ha"), col("tm").as("tm_a"),
        col("d").as("_da"))
    val b = per.where(col("_side") === "b")
      .select(col("n").as("n_b"), col("h").as("_hb"), col("tm").as("tm_b"),
        col("d").as("_db"))
    a.crossJoin(broadcast(b))
      .withColumn("t_stat",
        (col("tm_a") - col("tm_b")) / sqrt(col("_da") + col("_db")))
      .withColumn("df",
        (col("_da") + col("_db")) * (col("_da") + col("_db")) /
          (col("_da") * col("_da") / (col("_ha") - 1).cast("double") +
            col("_db") * col("_db") / (col("_hb") - 1).cast("double")))
      .select("n_a", "n_b", "tm_a", "tm_b", "t_stat", "df")
  }

  /** Cliff's delta ordinal effect size: δ = 2U/(n_a·n_b) − 1 from the
    * same 2·r̄ midrank histogram as Mann–Whitney (δ = P(a>b) − P(a<b),
    * the effect size the U test's p-value doesn't carry). One row:
    * n_a, n_b, u_stat, delta. */
  def cliffsDelta(data: DataFrame, groupCol: String, valCol: String,
      ga: String, gb: String): DataFrame = {
    val r = twoGroupMidranks(data, groupCol, valCol, ga, gb)
    val agg = r.agg(sum(col("_ca")).as("n_a"), sum(col("_cb")).as("n_b"),
      sum(col("_ca") * col("_r2")).as("_ra2"))
    val na = col("n_a").cast("double"); val nb = col("n_b").cast("double")
    agg
      .withColumn("u_stat",
        col("_ra2").cast("double") / 2.0 - na * (na + 1) / 2.0)
      .withColumn("delta",
        lit(2.0) * col("u_stat") / (na * nb) - 1.0)
      .select("n_a", "n_b", "u_stat", "delta")
  }

  /** Fisher's exact test (one-sided, P[A ≥ a]) on the 2×2 table of
    * exposure × outcome: hypergeometric terms from a ln-factorial
    * table built as one ordered window cumsum over 0..n (both engines
    * fold ln(i) in the identical ascending order), enumeration joins
    * the table — terms quantize at 1e-12 before the tail sum. One row:
    * a, b, c, d, p_one.
    *
    * Scale: the ln-factorial cumsum is an unpartitioned window over a
    * GENERATED 0..n sequence — n here is the contingency total, which
    * is only corpus-sized if the caller feeds raw rows. Fisher's exact
    * is a small-table test by construction (past n ~ 10⁴ the χ²/CMH
    * family is the right tool and this p underflows anyway), so the cap
    * is ENFORCED: if the contingency total exceeds `maxN` the job fails
    * with an explicit message instead of materializing a corpus-sized
    * array in one task (r9 advice item — callers must feed a bounded
    * subset, as q428 now does with its doc_id cutoff). */
  def fisherExact(data: DataFrame, exposedCol: String, posCol: String,
      maxN: Long = 1L << 20): DataFrame = {
    val cells = data
      .select(col(exposedCol).cast("boolean").as("_e"),
        col(posCol).cast("boolean").as("_y"))
      .agg(sum(when(col("_e") && col("_y"), 1L).otherwise(0L)).as("a"),
        sum(when(col("_e") && !col("_y"), 1L).otherwise(0L)).as("b"),
        sum(when(!col("_e") && col("_y"), 1L).otherwise(0L)).as("c"),
        sum(when(!col("_e") && !col("_y"), 1L).otherwise(0L)).as("d"))
    // ln-factorial table 0..n as an ordered cumsum (deterministic fold);
    // assert_true makes the n-cap a hard failure, not a silent OOM
    val n = cells.select((col("a") + col("b") + col("c") + col("d"))
      .as("_n"))
      .withColumn("_guard", assert_true(col("_n") <= lit(maxN),
        lit(s"fisherExact: contingency total exceeds maxN=$maxN — " +
          "feed a bounded/pre-aggregated 2x2, or use chiSquare/cmh")))
      .where(col("_guard").isNull).drop("_guard")
    val lf = n.select(explode(sequence(lit(0L), col("_n"))).as("i"))
      .withColumn("lf", sum(when(col("i") >= 2,
        log(col("i").cast("double"))).otherwise(lit(0.0)))
        .over(Window.orderBy(col("i").asc)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val en = cells
      .withColumn("_r1", col("a") + col("b"))
      .withColumn("_r2", col("c") + col("d"))
      .withColumn("_c1", col("a") + col("c"))
      .withColumn("_nn", col("_r1") + col("_r2"))
      .withColumn("_ap", explode(sequence(col("a"),
        least(col("_r1"), col("_c1")))))
    def ln(of: Column, alias: String)(frame: DataFrame): DataFrame =
      frame.join(broadcast(lf.select(col("i").as(alias + "_i"),
        col("lf").as(alias))), col(alias + "_i") === of)
        .drop(alias + "_i")
    val joined = Seq[(DataFrame => DataFrame)](
      ln(col("_r1"), "l_r1"), ln(col("_r2"), "l_r2"),
      ln(col("_c1"), "l_c1"), ln(col("_nn") - col("_c1"), "l_c2"),
      ln(col("_nn"), "l_n"), ln(col("_ap"), "l_a"),
      ln(col("_r1") - col("_ap"), "l_b"),
      ln(col("_c1") - col("_ap"), "l_c"),
      ln(col("_r2") - col("_c1") + col("_ap"), "l_d"))
      .foldLeft(en)((f, j) => j(f))
    val term = exp(col("l_r1") + col("l_r2") + col("l_c1") + col("l_c2") -
      col("l_n") - col("l_a") - col("l_b") - col("l_c") - col("l_d"))
    joined
      .withColumn("_t12", floor(term * 1e12 + 0.5).cast("long"))
      .groupBy(col("a"), col("b"), col("c"), col("d"))
      .agg((sum(col("_t12")).cast("double") / 1e12).as("p_one"))
  }

  /** Bartels' rank von Neumann randomness test per key: midranks (2×
    * integers via the per-key value histogram) traverse in ordCol
    * order; RVN = Σ(r_t−r_{t+1})² / Σ(r_t−r̄)² with r̄ = (n+1)/2 exact,
    * both sums exact integers at 2× scale. z against E=2 with the
    * exact null variance. One row per key: key, n, rvn, z. */
  def bartelsRank(data: DataFrame, keyCol: String, ordCol: String,
      valCol: String): DataFrame = {
    val v = col(valCol).cast("double")
    val base = data.where(v.isNotNull)
      .select(col(keyCol).as("key"), col(ordCol).cast("long").as("_o"),
        fp(v).as("_v"))
    val h = base.groupBy(col("key"), col("_v")).agg(count(lit(1)).as("ct"))
    val hw = Window.partitionBy(col("key")).orderBy(col("_v").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val ranks = h.withColumn("_r2",
      lit(2) * (sum(col("ct")).over(hw) - col("ct")) + col("ct") + 1)
    val rows = base.join(ranks.select(col("key"), col("_v"), col("_r2")),
      Seq("key", "_v"))
    val w = Window.partitionBy(col("key")).orderBy(col("_o").asc)
    val kw = Window.partitionBy(col("key"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val agg = rows
      .withColumn("_nx", lead(col("_r2"), 1).over(w))
      .withColumn("_np1", count(lit(1)).over(kw) + 1) // 2·r̄ = n+1, exact
      .groupBy(col("key"))
      .agg(count(lit(1)).as("n"),
        sum(dec((col("_r2") - col("_nx")) * (col("_r2") - col("_nx"))))
          .as("num"),
        sum(dec((col("_r2") - col("_np1")) * (col("_r2") - col("_np1"))))
          .as("den"))
    val n = col("n").cast("double")
    val vr = lit(4.0) * (n - 2) * (lit(5.0) * n * n - lit(2.0) * n - 9) /
      (lit(5.0) * n * (n + 1) * (n - 1) * (n - 1))
    agg
      .withColumn("rvn",
        col("num").cast("double") / col("den").cast("double"))
      .withColumn("z", (col("rvn") - 2.0) / sqrt(vr))
      .select("key", "n", "rvn", "z")
  }
}
