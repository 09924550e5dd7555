package graft.model

import graft.core.fixedPointLong
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Survival analysis (engine additions): the Kaplan–Meier product-limit
  * estimator with the Nelson–Aalen cumulative hazard, and the two-group
  * log-rank test — the right-censoring-aware form of the retention
  * curve (`SeqOps.retention` counts returns per cohort age; KM answers
  * "what fraction SURVIVES past t when some subjects are still alive at
  * cutoff", which naive retention over-counts as churn).
  *
  * Determinism: risk sets, event and censor counts are exact integers
  * from one duration histogram; the survival product is carried as
  * exp(Σ ln(1 − d/n)) with the cumulative sum running over the ordered
  * distinct-duration frame — a fixed per-row IEEE expression both
  * engines replay (the same device for Nelson–Aalen's Σ d/n and the
  * log-rank Σ over times, the latter an ordered fold).
  *
  * Scale: everything after the per-subject aggregation is
  * distinct-duration-sized (the value-histogram contract) — the one
  * cumulative window never touches subject-level data. */
object Survival {

  /** Kaplan–Meier over per-subject (duration, event): one row per
    * distinct duration with the risk set, event/censor counts, the
    * product-limit survival and Nelson–Aalen cumulative hazard.
    * `event` true = the terminal event was observed; false = censored
    * at that duration. Output: t, n_risk, d, c, survival, cum_hazard. */
  def kaplanMeier(subjects: DataFrame, durationCol: String,
      eventCol: String): DataFrame = {
    val e = col(eventCol).cast("boolean")
    val h = subjects.where(col(durationCol).isNotNull && e.isNotNull)
      .select(col(durationCol).cast("long").as("t"), e.as("_e"))
      .groupBy(col("t"))
      .agg(sum(when(col("_e"), 1L).otherwise(0L)).as("d"),
        sum(when(!col("_e"), 1L).otherwise(0L)).as("c"))
    val w = Window.orderBy(col("t").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val tot = h.agg(sum(col("d") + col("c")).as("_n"))
    h.crossJoin(broadcast(tot))
      // at-risk just BEFORE t: total minus everything that left earlier
      .withColumn("n_risk",
        col("_n") - (sum(col("d") + col("c")).over(w) -
          (col("d") + col("c"))))
      // d = n_risk (everyone at risk dies at the last duration) sends
      // the log term to −∞ — Spark's log(0) is NULL where DuckDB's is
      // -inf, so spell the −∞ explicitly; exp(−∞) = 0 on both engines
      .withColumn("survival", exp(sum(
        when(col("d") < col("n_risk"),
          log(lit(1.0) - col("d").cast("double") /
            col("n_risk").cast("double")))
          .otherwise(lit(Double.NegativeInfinity))).over(w)))
      .withColumn("cum_hazard", sum(
        col("d").cast("double") / col("n_risk").cast("double")).over(w))
      .select("t", "n_risk", "d", "c", "survival", "cum_hazard")
  }

  /** Stratified Kaplan–Meier: one survival curve per group — the
    * same exact-count/cumulative-log device as [[kaplanMeier]] with
    * every frame partitioned by the group. Output one row per
    * (grp, distinct duration): grp, t, n_risk, d, c, survival,
    * cum_hazard — the curves the log-rank statistic summarizes. */
  def kaplanMeierBy(subjects: DataFrame, durationCol: String,
      eventCol: String, groupCol: String): DataFrame = {
    val e = col(eventCol).cast("boolean")
    val h = subjects.where(col(durationCol).isNotNull && e.isNotNull &&
      col(groupCol).isNotNull)
      .select(col(groupCol).cast("string").as("grp"),
        col(durationCol).cast("long").as("t"), e.as("_e"))
      .groupBy(col("grp"), col("t"))
      .agg(sum(when(col("_e"), 1L).otherwise(0L)).as("d"),
        sum(when(!col("_e"), 1L).otherwise(0L)).as("c"))
    val w = Window.partitionBy(col("grp")).orderBy(col("t").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val tot = h.groupBy(col("grp")).agg(sum(col("d") + col("c")).as("_n"))
    h.join(broadcast(tot), "grp")
      .withColumn("n_risk",
        col("_n") - (sum(col("d") + col("c")).over(w) -
          (col("d") + col("c"))))
      // same NULL-vs-(-inf) guard as [[kaplanMeier]]
      .withColumn("survival", exp(sum(
        when(col("d") < col("n_risk"),
          log(lit(1.0) - col("d").cast("double") /
            col("n_risk").cast("double")))
          .otherwise(lit(Double.NegativeInfinity))).over(w)))
      .withColumn("cum_hazard", sum(
        col("d").cast("double") / col("n_risk").cast("double")).over(w))
      .select("grp", "t", "n_risk", "d", "c", "survival", "cum_hazard")
  }

  /** Two-group log-rank test: at every distinct pooled duration t,
    * expected group-a events e_a = d·n_a/n and the hypergeometric
    * variance v = d·(n_a/n)·(1−n_a/n)·(n−d)/(n−1); χ² =
    * (Σd_a − Σe_a)²/Σv with the three Σ-over-times as ordered folds.
    * One row: n_a, n_b, chi2. */
  def logRank(subjects: DataFrame, durationCol: String, eventCol: String,
      groupCol: String, ga: String, gb: String): DataFrame =
    weightedLogRank(subjects, durationCol, eventCol, groupCol, ga, gb, lit(1.0))

  /** The log-rank fold with a per-time weight `w` over the risk-set
    * frame (columns t, n_risk, na_risk, _d, _da): χ² =
    * (Σ w·(d_a − e_a))² / Σ w²·v, each Σ an ordered fold over times. */
  private def weightedLogRank(subjects: DataFrame, durationCol: String,
      eventCol: String, groupCol: String, ga: String, gb: String,
      w: Column): DataFrame = {
    val e = col(eventCol).cast("boolean")
    val h = subjects.where(col(durationCol).isNotNull && e.isNotNull &&
      (col(groupCol) === ga || col(groupCol) === gb))
      .select(col(durationCol).cast("long").as("t"), e.as("_e"),
        (col(groupCol) === ga).as("_a"))
      .groupBy(col("t"))
      .agg(sum(when(col("_e") && col("_a"), 1L).otherwise(0L)).as("_da"),
        sum(when(col("_e"), 1L).otherwise(0L)).as("_d"),
        sum(when(col("_a"), 1L).otherwise(0L)).as("_la"),
        count(lit(1)).as("_l"))
    val tw = Window.orderBy(col("t").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val tot = h.agg(sum(col("_l")).as("_n"), sum(col("_la")).as("_nna"))
    val risk = h.crossJoin(broadcast(tot))
      .withColumn("n_risk",
        col("_n") - (sum(col("_l")).over(tw) - col("_l")))
      .withColumn("na_risk",
        col("_nna") - (sum(col("_la")).over(tw) - col("_la")))
      .where(col("_d") > 0 && col("n_risk") > 1)
    val nD = col("n_risk").cast("double")
    val naD = col("na_risk").cast("double")
    val dD = col("_d").cast("double")
    val folded = risk
      .withColumn("_wda", w * col("_da").cast("double"))
      .withColumn("_wea", w * (dD * naD / nD))
      .withColumn("_wv", w * w * (dD * (naD / nD) * (lit(1.0) - naD / nD) *
        (nD - dD) / (nD - 1)))
      .agg(sort_array(collect_list(struct(col("t"),
        col("_wda").as("da"), col("_wea").as("ea"),
        col("_wv").as("v")))).as("_arr"))
    def fsum(f: String, as: String) =
      aggregate(col("_arr"), lit(0.0), (acc, x) => acc + x(f)).as(as)
    folded.select(fsum("da", "_sda"), fsum("ea", "_sea"), fsum("v", "_sv"))
      .crossJoin(broadcast(tot))
      .withColumn("n_a", col("_nna"))
      .withColumn("n_b", col("_n") - col("_nna"))
      .withColumn("chi2",
        (col("_sda") - col("_sea")) * (col("_sda") - col("_sea")) /
          col("_sv"))
      .select("n_a", "n_b", "chi2")
  }

  /** Aalen–Johansen cumulative incidence with two competing causes:
    * CIF_k(t) = Σ_{s≤t} S(s⁻)·d_k(s)/n(s) where S(s⁻) is the all-cause
    * KM survival just BEFORE s — the right "what fraction will have hit
    * outcome k by t" curve when a competing event removes subjects
    * (1 − KM_k overstates it). Counts are exact integers off one
    * duration histogram; S(s⁻) rides the same −∞-guarded log cumsum as
    * [[kaplanMeier]]; the two CIF cumsums quantize their per-time
    * increments at 6dp. One row per distinct duration: t, n_risk, d1,
    * d2, c, cif1, cif2. */
  def aalenJohansen(subjects: DataFrame, durationCol: String,
      cause1Col: String, cause2Col: String): DataFrame = {
    val e1 = col(cause1Col).cast("boolean")
    val e2 = col(cause2Col).cast("boolean")
    val h = subjects.where(col(durationCol).isNotNull)
      .select(col(durationCol).cast("long").as("t"),
        e1.as("_e1"), e2.as("_e2"))
      .groupBy(col("t"))
      .agg(sum(when(col("_e1"), 1L).otherwise(0L)).as("d1"),
        sum(when(!col("_e1") && col("_e2"), 1L).otherwise(0L)).as("d2"),
        sum(when(!col("_e1") && !col("_e2"), 1L).otherwise(0L)).as("c"))
    val w = Window.orderBy(col("t").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val tot = h.agg(sum(col("d1") + col("d2") + col("c")).as("_n"))
    val d = col("d1") + col("d2")
    val base = h.crossJoin(broadcast(tot))
      .withColumn("n_risk", col("_n") -
        (sum(col("d1") + col("d2") + col("c")).over(w) -
          (col("d1") + col("d2") + col("c"))))
      // S(s⁻): the all-cause survival through the PREVIOUS time
      .withColumn("_sprev", exp(coalesce(sum(
        when(d < col("n_risk"),
          log(lit(1.0) - d.cast("double") / col("n_risk").cast("double")))
          .otherwise(lit(Double.NegativeInfinity)))
        .over(Window.orderBy(col("t").asc)
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0.0))))
    base
      .withColumn("cif1", sum(fixedPointLong(col("_sprev") *
        (col("d1").cast("double") / col("n_risk").cast("double")), 6))
        .over(w).cast("double") / 1e6)
      .withColumn("cif2", sum(fixedPointLong(col("_sprev") *
        (col("d2").cast("double") / col("n_risk").cast("double")), 6))
        .over(w).cast("double") / 1e6)
      .select("t", "n_risk", "d1", "d2", "c", "cif1", "cif2")
  }

  /** Restricted mean survival time at horizon τ: ∫₀^τ S(t)dt over the
    * KM step function — the unit area before the first distinct
    * duration plus Σ S(t_i)·(min(next_i, τ) − t_i) with each step area
    * 6dp-quantized before the (distinct-duration-sized) sum. One row:
    * n, tau, rmst. */
  def rmst(subjects: DataFrame, durationCol: String, eventCol: String,
      tau: Long): DataFrame = {
    val km = kaplanMeier(subjects, durationCol, eventCol)
    val w = Window.orderBy(col("t").asc)
    km
      .withColumn("_next", coalesce(lead(col("t"), 1).over(w), lit(tau)))
      .withColumn("_lo", least(col("t"), lit(tau)))
      .withColumn("_hi", least(greatest(col("_next"), col("t")), lit(tau)))
      .withColumn("_head",
        when(row_number().over(w) === 1, least(col("t"), lit(tau)))
          .otherwise(lit(0L)))
      .agg(sum(col("d") + col("c")).as("n"),
        (max(col("_head")).cast("double") +
          sum(fixedPointLong(col("survival") *
            (col("_hi") - col("_lo")).cast("double"), 6)).cast("double") / 1e6)
          .as("rmst"))
      .select(col("n"), lit(tau).as("tau"), col("rmst"))
  }

  /** Gehan–Breslow–Wilcoxon weighted log-rank: the [[logRank]] fold
    * with weight w_t = n_risk (early differences count more); χ² =
    * (Σ w·(d_a − e_a))² / Σ w²·v. One row: n_a, n_b, chi2. */
  def gehanLogRank(subjects: DataFrame, durationCol: String,
      eventCol: String, groupCol: String, ga: String, gb: String)
      : DataFrame =
    weightedLogRank(subjects, durationCol, eventCol, groupCol, ga, gb,
      col("n_risk").cast("double"))

  /** Cox proportional-hazards regression (Cox 1972), two covariates,
    * Breslow ties, fixed Newton rounds — THE survival regression, the
    * inferential upgrade to the KM/log-rank battery above: how much
    * does each covariate multiply the hazard, with a standard error.
    *
    * Everything reduces to the DURATION HISTOGRAM (the family's scale
    * contract): with w = exp(x·β), the risk-set sums S0/S1k/S2km are
    * descending cumulative sums of per-duration totals, and Breslow's
    * score/information are per-event-time sums
    * U_k = Σ_t [Σ_{δ=1,t} x_k − d_t·S1k/S0],
    * H_km = Σ_t d_t·[S2km/S0 − (S1k/S0)(S1m/S0)],
    * so the one cumulative window rides the distinct-duration frame,
    * never subject rows.
    *
    * Determinism: per-subject w-terms quantize to 8dp longs (risk sums
    * are exact integers), per-duration U/H terms quantize to 8dp before
    * the final sums, each Newton update β ← β + H⁻¹U is a fixed 2×2
    * closed-form solve with the result 6dp-frozen — `rounds` rounds of
    * a finite float program, then one more histogram pass at the final
    * β for the standard errors. exp/ln/sqrt ride libm parity.
    *
    * Output: one row per covariate — (covariate, beta, se, z,
    * hazard_ratio). Degenerate data (singular information) keeps β = 0
    * and reports se = 0.
    *
    * Scale: per round, one hash aggregate to the duration histogram +
    * one histogram-sized window + one scalar collect — subjects are
    * scanned `rounds`+1 times, shuffled once each on the duration key. */
  def coxPh(subjects: DataFrame, durationCol: String, eventCol: String,
      xCols: Seq[String], rounds: Int = 2): DataFrame = {
    require(xCols.size == 2, "coxPh: exactly two covariates")
    val spark = subjects.sparkSession
    import spark.implicits._
    val fp8 = (c: Column) =>
      graft.core.fixedPointLong(c, 8).cast("decimal(38,0)")
    def r6(x: Double): Double = graft.text.TextOps.round6(x)
    val base = subjects.select(
      col(durationCol).cast("double").as("_d"),
      col(eventCol).cast("boolean").as("_e"),
      col(xCols.head).cast("double").as("_x1"),
      col(xCols(1)).cast("double").as("_x2"))
      .where(col("_d").isNotNull && col("_e").isNotNull &&
        col("_x1").isNotNull && col("_x2").isNotNull)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

    // one histogram pass at the given β: returns (u1, u2, h11, h12, h22)
    def pass(b1: Double, b2: Double): (Double, Double, Double, Double,
        Double) = {
      val w = exp(col("_x1") * lit(b1) + col("_x2") * lit(b2))
      val hist = base.groupBy(col("_d"))
        .agg(sum(fp8(w)).as("_w"),
          sum(fp8(w * col("_x1"))).as("_w1"),
          sum(fp8(w * col("_x2"))).as("_w2"),
          sum(fp8(w * col("_x1") * col("_x1"))).as("_w11"),
          sum(fp8(w * col("_x1") * col("_x2"))).as("_w12"),
          sum(fp8(w * col("_x2") * col("_x2"))).as("_w22"),
          sum(when(col("_e"), 1L).otherwise(0L)).as("_dt"),
          sum(when(col("_e"), fp8(col("_x1"))).otherwise(lit(0L)
            .cast("decimal(38,0)"))).as("_ex1"),
          sum(when(col("_e"), fp8(col("_x2"))).otherwise(lit(0L)
            .cast("decimal(38,0)"))).as("_ex2"))
      val cum = Window.orderBy(col("_d").desc)
        .rangeBetween(Window.unboundedPreceding, Window.currentRow)
      val risk = hist
        .withColumn("_s0", sum(col("_w")).over(cum))
        .withColumn("_s1", sum(col("_w1")).over(cum))
        .withColumn("_s2", sum(col("_w2")).over(cum))
        .withColumn("_s11", sum(col("_w11")).over(cum))
        .withColumn("_s12", sum(col("_w12")).over(cum))
        .withColumn("_s22", sum(col("_w22")).over(cum))
        .where(col("_dt") > 0)
      val s0 = col("_s0").cast("double")
      val r1 = col("_s1").cast("double") / s0
      val r2 = col("_s2").cast("double") / s0
      val dt = col("_dt").cast("double")
      val terms = risk.select(
        fp8(col("_ex1").cast("double") / 1e8 - dt * r1).as("_u1"),
        fp8(col("_ex2").cast("double") / 1e8 - dt * r2).as("_u2"),
        fp8(dt * (col("_s11").cast("double") / s0 - r1 * r1)).as("_h11"),
        fp8(dt * (col("_s12").cast("double") / s0 - r1 * r2)).as("_h12"),
        fp8(dt * (col("_s22").cast("double") / s0 - r2 * r2)).as("_h22"))
      val agg = terms.agg(sum("_u1"), sum("_u2"), sum("_h11"),
        sum("_h12"), sum("_h22")).head()
      def g(i: Int): Double =
        Option(agg.getDecimal(i)).map(_.doubleValue() / 1e8).getOrElse(0.0)
      (g(0), g(1), g(2), g(3), g(4))
    }

    var b1 = 0.0
    var b2 = 0.0
    var round = 0
    while (round < rounds) {
      val (u1, u2, h11, h12, h22) = pass(b1, b2)
      val det = h11 * h22 - h12 * h12
      if (math.abs(det) > 1e-12) {
        b1 = r6(b1 + (h22 * u1 - h12 * u2) / det)
        b2 = r6(b2 + (h11 * u2 - h12 * u1) / det)
      }
      round += 1
    }
    val (_, _, h11, h12, h22) = pass(b1, b2)
    val det = h11 * h22 - h12 * h12
    val (se1, se2) =
      if (det > 0) (math.sqrt(h22 / det), math.sqrt(h11 / det))
      else (0.0, 0.0)
    base.unpersist()
    val rows = Seq(
      (xCols.head, b1, se1, if (se1 > 0) b1 / se1 else 0.0, math.exp(b1)),
      (xCols(1), b2, se2, if (se2 > 0) b2 / se2 else 0.0, math.exp(b2)))
    spark.createDataset(rows)
      .toDF("covariate", "beta", "se", "z", "hazard_ratio")
  }

  /** Harrell's concordance index (Harrell et al. 1982) — the standard
    * discrimination metric for [[coxPh]]'s risk scores: over usable
    * pairs (i had the event AND t_i < t_j), the fraction where the
    * earlier-failing subject carries the HIGHER risk score (score ties
    * count ½). 0.5 = no discrimination, 1 = perfect ranking.
    *
    * No pair join: scores quantize to `scoreDp` (default 2dp — the
    * isotonic-calibration bin contract) and the whole count reduces to
    * a DENSE (distinct-duration × score-bin) grid with two cumulative
    * windows — a strict duration-suffix per score bin, then a
    * lower-score prefix per duration — so every dominance count
    * #(t_j > t_i, s_j < s_i) is an exact integer read off the grid at
    * the event cell. Grid size = durations × bins (both histogram
    * frames, the family's documented determinism contract).
    *
    * Output: one row — usable_pairs, concordant, tied, c_index. */
  def concordanceIndex(subjects: DataFrame, durationCol: String,
      eventCol: String, scoreCol: String, scoreDp: Int = 2): DataFrame = {
    val cells = subjects
      .where(col(durationCol).isNotNull && col(eventCol).isNotNull &&
        col(scoreCol).isNotNull)
      .groupBy(col(durationCol).cast("double").as("_d"),
        graft.core.fixedPointLong(col(scoreCol).cast("double"), scoreDp)
          .as("_sb"))
      .agg(count(lit(1)).as("_n"),
        sum(when(col(eventCol).cast("boolean"), 1L).otherwise(0L))
          .as("_ev"))
      .localCheckpoint(true)
    val durs = cells.select(col("_d")).distinct()
    val sbs = cells.select(col("_sb")).distinct()
    val grid = durs.crossJoin(sbs)
      .join(cells, Seq("_d", "_sb"), "left")
      .select(col("_d"), col("_sb"),
        coalesce(col("_n"), lit(0L)).as("_n"),
        coalesce(col("_ev"), lit(0L)).as("_ev"))
    val wDur = Window.partitionBy(col("_sb")).orderBy(col("_d").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val s1 = grid
      .withColumn("_later_same", sum(col("_n")).over(wDur) - col("_n"))
    val wSb = Window.partitionBy(col("_d")).orderBy(col("_sb").asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val s2 = s1.withColumn("_later_lower",
      coalesce(sum(col("_later_same")).over(wSb), lit(0L)))
    // 1-D strict duration suffix for the usable-pair denominator
    val durTot = cells.groupBy("_d").agg(sum(col("_n")).as("_dn"))
    val wAll = Window.orderBy(col("_d").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val later = durTot
      .withColumn("_later_all", sum(col("_dn")).over(wAll) - col("_dn"))
      .select(col("_d"), col("_later_all"))
    val d38 = (c: Column) => c.cast("decimal(38,0)")
    s2.join(later, "_d")
      .agg(sum(d38(col("_ev")) * d38(col("_later_all")))
        .as("_up"),
        sum(d38(col("_ev")) * d38(col("_later_lower"))).as("_cc"),
        sum(d38(col("_ev")) * d38(col("_later_same"))).as("_tt"))
      .withColumn("c_index",
        when(col("_up") > 0,
          (col("_cc").cast("double") +
            lit(0.5) * col("_tt").cast("double")) /
            col("_up").cast("double")).otherwise(lit(0.5)))
      .select(col("_up").cast("long").as("usable_pairs"),
        col("_cc").cast("long").as("concordant"),
        col("_tt").cast("long").as("tied"), col("c_index"))
  }

  /** Per-key Weibull(k, λ) fit by profile-likelihood grid MLE over the
    * shape k (the parametric lifetime model next to the nonparametric
    * Kaplan-Meier family; reliability engineering's default): given k,
    * the scale MLE is closed-form λ̂ᵏ = Σxᵏ/n, so the profile
    * log-likelihood
    * LL(k) = n·ln k − n·ln(Σxᵏ/n) + (k−1)·Σ ln x − n
    * is maximized on the grid with ties to the smaller k. k < 1 =
    * infant-mortality hazard, k ≈ 1 = memoryless, k > 1 = wear-out.
    *
    * Determinism: xᵏ is written exp(k·ln x) (libm-parity device) and
    * 9dp-frozen per row, as is ln x — both cross-row sums are exact
    * decimals; LL is then a fixed float expression of exact integers
    * and the argmax orders by (6dp-frozen LL desc, k asc). Positive
    * values only (Weibull support); zero/negative rows are dropped.
    * Value-magnitude contract: xᵏ·1e9 must stay inside long (x ≲ 2×10³
    * at the default k ≤ 3 grid) — rescale durations first otherwise.
    *
    * Scale: one hash aggregate to keys × |grid| rows (grid broadcast),
    * then a model-sized argmax window — the yeoJohnsonFit plan shape.
    *
    * Output per key: key, shape, scale, ll, n. */
  def weibullFit(data: DataFrame, keyCol: String, valCol: String,
      shapes: Seq[Double] = Seq(0.5, 0.75, 1.0, 1.25, 1.5, 1.75, 2.0,
        2.25, 2.5, 2.75, 3.0)): DataFrame = {
    require(shapes.nonEmpty && shapes.forall(_ > 0), "positive shape grid")
    val spark = data.sparkSession
    import spark.implicits._
    val grid = broadcast(shapes.toDF("k"))
    def dec(c: Column) = c.cast("decimal(38,0)")
    val x = col(valCol).cast("double")
    val base = data.where(x.isNotNull && x > 0)
      .select(col(keyCol).as("key"), x.as("_x")).crossJoin(grid)
    val agg = base.groupBy(col("key"), col("k"))
      .agg(count(lit(1)).as("n"),
        sum(dec(graft.core.fixedPointLong(
          exp(col("k") * log(col("_x"))), 9))).as("_sk"),
        sum(dec(graft.core.fixedPointLong(log(col("_x")), 9))).as("_sl"))
      .where(col("n") >= 2)
    val nD = col("n").cast("double")
    val mk = col("_sk").cast("double") / 1e9 / nD // Σxᵏ/n
    val ll = nD * log(col("k")) - nD * log(mk) +
      (col("k") - 1.0) * (col("_sl").cast("double") / 1e9) - nD
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("key"))
      .orderBy(graft.core.fixedPointLong(col("ll"), 6).desc, col("k").asc)
    agg.withColumn("ll", ll)
      .withColumn("scale", exp(log(mk) / col("k")))
      .withColumn("_rk", row_number().over(w)).where(col("_rk") === 1)
      .select(col("key"), col("k").as("shape"), col("scale"), col("ll"),
        col("n"))
  }
}
