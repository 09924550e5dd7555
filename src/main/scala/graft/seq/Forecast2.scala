package graft.seq

import graft.core.fixedPointLong
import graft.seq.SeriesKernels.{scan, SScore}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-9 forecast/stationarity family: Theta-method and damped-trend
  * Holt one-step-ahead scorers, Croston's intermittent-demand estimator,
  * the Lomb–Scargle periodogram for unevenly sampled series, seasonal
  * Mann–Kendall, and the Dickey–Fuller / KPSS stationarity statistics.
  *
  * Determinism: the three recursive forecasters carry exact fixed-point
  * integer sums wherever a regression enters (Theta's drift), keep every
  * smoothing constant dyadic (α=½, β=¼, φ=⅞ — exact doubles), and are
  * replayed by the oracle as recursive CTEs with the identical IEEE op
  * sequence. Periodogram/ADF/KPSS reduce to integer or 6dp-quantized
  * term sums; no data-sized float sum anywhere.
  *
  * Scale: forecasters are per-key sequential (parallelism = keys, the
  * family contract); ADF/KPSS are one exchange + per-key windows;
  * Lomb–Scargle fans each row out over the fixed period grid (|grid|
  * ≤ 16) and collapses in one hash aggregate. */
object Forecast2 {

  private def fpL(x: Double): Long = graft.core.fixedPoint(x, 4).toLong

  /** Theta(2) one-step-ahead scorer: pred_t = SES_{t−1} + b_{t−1}/2
    * where SES is a ½-smoothed level and b the running OLS slope over
    * all prior points — slope from exact fixed-point sums, so the
    * drift anchor replays bit-identically. score = |resid| / running
    * prior-residual std (the OSA/Holt normalization; first two points
    * are the fit window). */
  def thetaForecast(data: DataFrame, keyCols: Seq[String], seqCol: String,
      valCol: String): org.apache.spark.sql.Dataset[SScore] =
    scan(data, keyCols, seqCol, valCol)(ThetaState())(thetaStep)

  /** Theta state after `seen` points (1-based t = 1..seen): the SES
    * level, the exact sums Σt, Σt², Σy, Σt·y (y as 4dp longs) and the
    * prior-residual accumulators. */
  case class ThetaState(seen: Long = 0L, level: Double = 0.0, st: Long = 0L,
      stt: Long = 0L, sy: Long = 0L, sty: Long = 0L, rsum: Double = 0.0,
      rsq: Double = 0.0, rn: Long = 0L)

  /** One Theta step on the next value: (state, x) → (state, score). The
    * streaming twin steps the same function. */
  def thetaStep(s: ThetaState, x: Double): (ThetaState, Double) =
    if (s.seen == 0L) (ThetaState(1L, x, 1L, 1L, fpL(x), fpL(x)), 0.0)
    else if (s.seen == 1L)
      (ThetaState(2L, 0.5 * x + 0.5 * s.level, 3L, 5L, s.sy + fpL(x),
        s.sty + 2L * fpL(x)), 0.0)
    else {
      val m = s.seen.toDouble // points absorbed so far
      val b = (m * s.sty - s.st.toDouble * s.sy) /
        (m * s.stt - s.st.toDouble * s.st) / 1e4
      val pred = s.level + b / 2.0
      val resid = x - pred
      val std = SeriesKernels.priorStd(s.rsum, s.rsq, s.rn)
      val t = s.seen + 1
      (ThetaState(t, 0.5 * x + 0.5 * s.level, s.st + t, s.stt + t * t,
        s.sy + fpL(x), s.sty + t * fpL(x), s.rsum + resid,
        s.rsq + resid * resid, s.rn + 1),
        if (std > 0) math.abs(resid) / std else 0.0)
    }

  /** Damped-trend Holt scorer (Gardner–McKenzie): pred = level + φ·trend,
    * trend' = β(level'−level) + (1−β)·φ·trend with dyadic α=½, β=¼,
    * φ=⅞. The [[SeriesKernels.holtStep]] recursion with φ. */
  def dampedHolt(data: DataFrame, keyCols: Seq[String], seqCol: String,
      valCol: String, phi: Double = 0.875): org.apache.spark.sql.Dataset[SScore] =
    scan(data, keyCols, seqCol, valCol)(SeriesKernels.HoltState())(
      SeriesKernels.holtStep(0.5, 0.25, phi))

  /** Croston's intermittent-demand estimator: on each nonzero demand d
    * after gap q, size z' = ½d + ½z and interval p' = ½q + ½p; every
    * row emits the current demand-rate forecast z/p (0 before the
    * first nonzero). The spare-parts / sparse-event twin of the SES
    * family. */
  def croston(data: DataFrame, keyCols: Seq[String], seqCol: String,
      valCol: String): org.apache.spark.sql.Dataset[SScore] =
    scan(data, keyCols, seqCol, valCol)(CrostonState())(crostonStep)

  /** Croston state: size SES z, interval SES p (NaN before the first
    * nonzero), 1-based row of the last nonzero, rows seen. */
  case class CrostonState(z: Double = Double.NaN, p: Double = Double.NaN,
      last: Long = 0L, seen: Long = 0L)

  /** One Croston step on the next demand: (state, d) → (state, z/p).
    * The streaming twin steps the same function. */
  def crostonStep(s: CrostonState, d: Double): (CrostonState, Double) = {
    val r = s.seen + 1
    val next =
      if (!(d > 0)) s.copy(seen = r)
      else if (s.z.isNaN) CrostonState(d, r.toDouble, r, r)
      else CrostonState(0.5 * d + 0.5 * s.z, 0.5 * (r - s.last).toDouble + 0.5 * s.p,
        r, r)
    (next, if (next.z.isNaN) 0.0 else next.z / next.p)
  }

  /** Lomb–Scargle periodogram over unevenly sampled per-key series:
    * P(ω) at ω = 2π/T for each period T in the grid, from the five
    * classic sums C=Σe·cosωt, S=Σe·sinωt, CC=Σcos², SS=Σsin²,
    * CS=Σcos·sin (each 6dp-quantized per term → exact integer sums)
    * with the τ phase from atan2(2CS, CC−SS). t is in days relative to
    * the key's first sample. Output one row per (key, period):
    * key, period, power. */
  def lombScargle(data: DataFrame, keyCols: Seq[String], tsCol: String,
      valCol: String, periods: Seq[Int]): DataFrame = {
    require(periods.nonEmpty && periods.forall(_ >= 2), "periods >= 2")
    val v = col(valCol).cast("double")
    val key = concat_ws("|", keyCols.map(c => col(c).cast("string")): _*)
    val base = data.where(v.isNotNull)
      .select(key.as("key"), col(tsCol).cast("long").as("_ns"), v.as("_y"))
    val stats = base.groupBy(col("key"))
      .agg(min(col("_ns")).as("_mn"), count(lit(1)).as("n"),
        sum(graft.core.fixedPointLong(col("_y"), 4)).as("_sy"))
    val withT = base.join(broadcast(stats), "key")
      .withColumn("_t",
        (col("_ns") - col("_mn")).cast("double") / lit(86400000000000.0))
      .withColumn("_e", col("_y") -
        col("_sy").cast("double") / 1e4 / col("n").cast("double"))
      .withColumn("period",
        explode(array(periods.map(p => lit(p)): _*)))
      .withColumn("_w", lit(2.0 * math.Pi) / col("period").cast("double"))
    val sums = withT
      .withColumn("_c", cos(col("_w") * col("_t")))
      .withColumn("_s", sin(col("_w") * col("_t")))
      .groupBy(col("key"), col("period"))
      .agg(count(lit(1)).as("n"),
        sum(fixedPointLong(col("_e") * col("_c"), 6)).as("ec"),
        sum(fixedPointLong(col("_e") * col("_s"), 6)).as("es"),
        sum(fixedPointLong(col("_c") * col("_c"), 6)).as("cc"),
        sum(fixedPointLong(col("_s") * col("_s"), 6)).as("ss"),
        sum(fixedPointLong(col("_c") * col("_s"), 6)).as("cs"),
        sum(fixedPointLong(col("_e") * col("_e"), 6)).as("ee"))
    val cD = col("ec").cast("double") / 1e6
    val sD = col("es").cast("double") / 1e6
    val ccD = col("cc").cast("double") / 1e6
    val ssD = col("ss").cast("double") / 1e6
    val csD = col("cs").cast("double") / 1e6
    val sig2 = col("ee").cast("double") / 1e6 / col("n").cast("double")
    val wt = atan2(lit(2.0) * csD, ccD - ssD) / 2.0 // = ω·τ
    val ct = cos(wt); val stt = sin(wt)
    val num1 = cD * ct + sD * stt
    val num2 = sD * ct - cD * stt
    val den1 = ccD * ct * ct + lit(2.0) * csD * ct * stt + ssD * stt * stt
    val den2 = ssD * ct * ct - lit(2.0) * csD * ct * stt + ccD * stt * stt
    sums.select(col("key"), col("period"),
      when(sig2 > 0 && den1 > 0 && den2 > 0,
        (num1 * num1 / den1 + num2 * num2 / den2) / (lit(2.0) * sig2))
        .otherwise(lit(0.0)).as("power"))
  }

  /** Seasonal Mann–Kendall: the MK S statistic and tie-corrected
    * variance computed within each (key, season) on the strided
    * subsample (same cap device as Trend.mannKendall), summed over
    * seasons as exact integers; Z with continuity correction. One row
    * per key: key, n_used, s_stat, var_s, z_stat. */
  def seasonalMannKendall(data: DataFrame, keyCols: Seq[String],
      seasonCol: String, seqCol: String, valCol: String,
      maxPoints: Int = 100): DataFrame = {
    val v = col(valCol).cast("double")
    val gs = keyCols :+ seasonCol
    val w = Window.partitionBy(gs.map(col): _*).orderBy(col(seqCol).asc)
    val kw = Window.partitionBy(gs.map(col): _*)
    val pts = data.where(v.isNotNull)
      .withColumn("_i", row_number().over(w).cast("long"))
      .withColumn("_n", count(lit(1)).over(kw))
      .withColumn("_st", ceil(col("_n").cast("double") / maxPoints).cast("long"))
      .where((col("_i") - 1) % col("_st") === 0)
      .select(gs.map(col) :+ col("_i") :+
        graft.core.fixedPointLong(v, 4).as("_fp"): _*)
    val l = pts.select(gs.map(col) :+ col("_i").as("_il") :+
      col("_fp").as("_fl"): _*)
    val r = pts.select(gs.map(col) :+ col("_i").as("_ir") :+
      col("_fp").as("_fr"): _*)
    val s = l.join(r, gs).where(col("_il") < col("_ir"))
      .groupBy(gs.map(col): _*)
      .agg(sum(signum(col("_fr") - col("_fl")).cast("long")).as("_s"))
    val nUsed = pts.groupBy(gs.map(col): _*).agg(count(lit(1)).as("_nu"))
    val ties = pts.groupBy((gs.map(col) :+ col("_fp")): _*)
      .agg(count(lit(1)).as("_t"))
      .groupBy(gs.map(col): _*)
      .agg(sum(col("_t") * (col("_t") - 1) *
        (lit(2) * col("_t") + 5)).as("_tc"))
    val perSeason = s.join(nUsed, gs).join(ties, gs)
      .withColumn("_vnum",
        col("_nu") * (col("_nu") - 1) * (lit(2) * col("_nu") + 5) - col("_tc"))
    val agg = perSeason.groupBy(keyCols.map(col): _*)
      .agg(sum(col("_nu")).as("n_used"), sum(col("_s")).as("s_stat"),
        sum(col("_vnum")).as("_vn"))
    agg
      .withColumn("var_s", col("_vn").cast("double") / 18.0)
      .withColumn("z_stat",
        when(col("s_stat") > 0,
          (col("s_stat") - 1).cast("double") / sqrt(col("var_s")))
          .when(col("s_stat") < 0,
            (col("s_stat") + 1).cast("double") / sqrt(col("var_s")))
          .otherwise(lit(0.0)))
      .select(keyCols.map(col) ++
        Seq(col("n_used"), col("s_stat"), col("var_s"), col("z_stat")): _*)
  }

  /** Dickey–Fuller statistic per key (no lag terms, with constant):
    * Δy_t = α + ρ·y_{t−1} + ε over the seqCol order; output the OLS
    * t-statistic of ρ — all regression sums exact fixed-point
    * integers. One row per key: key, n, rho, t_stat. */
  def adfStat(data: DataFrame, keyCols: Seq[String], seqCol: String,
      valCol: String): DataFrame = {
    val v = col(valCol).cast("double")
    val key = concat_ws("|", keyCols.map(c => col(c).cast("string")): _*)
    val w = Window.partitionBy(col("key")).orderBy(col("_o").asc)
    val d = data.where(v.isNotNull)
      .select(key.as("key"), col(seqCol).cast("long").as("_o"),
        graft.core.fixedPointLong(v, 4).as("_y4"))
      .withColumn("_yl", lag(col("_y4"), 1).over(w))
      .where(col("_yl").isNotNull)
      .withColumn("_dy", col("_y4") - col("_yl"))
    def dec(c: Column) = c.cast("decimal(38,0)")
    val sums = d.groupBy(col("key"))
      .agg(count(lit(1)).as("n"),
        sum(dec(col("_yl"))).as("sx"),
        sum(dec(dec(col("_yl")) * dec(col("_yl")))).as("sxx"),
        sum(dec(col("_dy"))).as("sy"),
        sum(dec(dec(col("_yl")) * dec(col("_dy")))).as("sxy"),
        sum(dec(dec(col("_dy")) * dec(col("_dy")))).as("syy"))
      .where(col("n") >= 4)
    val n = col("n").cast("double")
    val sxxc = col("sxx").cast("double") -
      col("sx").cast("double") * col("sx").cast("double") / n
    val sxyc = col("sxy").cast("double") -
      col("sx").cast("double") * col("sy").cast("double") / n
    val syyc = col("syy").cast("double") -
      col("sy").cast("double") * col("sy").cast("double") / n
    val rho = sxyc / sxxc
    val sse = syyc - rho * sxyc
    sums.select(col("key"), col("n"),
      rho.as("rho"),
      when(sse > 0, rho / sqrt(sse / (n - 2) / sxxc))
        .otherwise(lit(0.0)).as("t_stat"))
  }

  /** KPSS level-stationarity statistic per key with Bartlett-kernel
    * long-run variance (q=4 lags): residuals scale to the exact
    * integers e_sc = n·y4 − Σy4, partial sums and autocovariances stay
    * exact decimals, so η assembles from integers only. One row per
    * key: key, n, eta. */
  def kpss(data: DataFrame, keyCols: Seq[String], seqCol: String,
      valCol: String): DataFrame = {
    val v = col(valCol).cast("double")
    val key = concat_ws("|", keyCols.map(c => col(c).cast("string")): _*)
    def dec(c: Column) = c.cast("decimal(38,0)")
    val base = data.where(v.isNotNull)
      .select(key.as("key"), col(seqCol).cast("long").as("_o"),
        graft.core.fixedPointLong(v, 4).as("_y4"))
    val kw = Window.partitionBy(col("key"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val w = Window.partitionBy(col("key")).orderBy(col("_o").asc)
    val run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val e = base
      .withColumn("_n", count(lit(1)).over(kw))
      .withColumn("_sy", sum(col("_y4")).over(kw))
      .withColumn("_e", col("_n") * col("_y4") - col("_sy")) // n·e4, exact
      .withColumn("_cs", sum(dec(col("_e"))).over(run))
      .withColumn("_l1", lag(col("_e"), 1).over(w))
      .withColumn("_l2", lag(col("_e"), 2).over(w))
      .withColumn("_l3", lag(col("_e"), 3).over(w))
      .withColumn("_l4", lag(col("_e"), 4).over(w))
    val sums = e.groupBy(col("key"))
      .agg(max(col("_n")).as("n"),
        sum(dec(col("_cs") * col("_cs"))).as("ss2"),
        sum(dec(dec(col("_e")) * dec(col("_e")))).as("g0"),
        sum(dec(dec(col("_e")) * dec(col("_l1")))).as("g1"),
        sum(dec(dec(col("_e")) * dec(col("_l2")))).as("g2"),
        sum(dec(dec(col("_e")) * dec(col("_l3")))).as("g3"),
        sum(dec(dec(col("_e")) * dec(col("_l4")))).as("g4"))
      .where(col("n") >= 10)
    val lr = col("g0").cast("double") + lit(2.0) *
      (lit(0.8) * col("g1").cast("double") +
        lit(0.6) * col("g2").cast("double") +
        lit(0.4) * col("g3").cast("double") +
        lit(0.2) * col("g4").cast("double"))
    sums.select(col("key"), col("n"),
      (col("ss2").cast("double") / col("n").cast("double") / lr).as("eta"))
  }

  /** Engle–Granger two-step cointegration test (Engle & Granger 1987):
    * per key, OLS y = a + b·x from exact 4dp moment sums (slope and
    * intercept 6dp-frozen so the residual series replays), then the
    * Dickey–Fuller t-statistic of the residuals via [[adfStat]] —
    * stationary residuals = the two series share a long-run
    * equilibrium. `cointegrated` applies the asymptotic 5%
    * Engle–Granger critical value −3.34 (with constant, two series).
    *
    * Scale: one moment aggregate per key (map-side combined), one
    * broadcast-sized join of the frozen (a, b) back onto the rows,
    * then adfStat's lag window — two shuffles total on the key.
    * Output: key, n, slope, intercept, rho, t_stat, cointegrated. */
  def engleGranger(data: DataFrame, keyCols: Seq[String], seqCol: String,
      yCol: String, xCol: String): DataFrame = {
    val xv = col(xCol).cast("double")
    val yv = col(yCol).cast("double")
    val key = concat_ws("|", keyCols.map(c => col(c).cast("string")): _*)
    def dec(c: Column) = c.cast("decimal(38,0)")
    val base = data.where(xv.isNotNull && yv.isNotNull)
      .select(key.as("key"), col(seqCol).cast("long").as("_o"),
        xv.as("_x"), yv.as("_y"),
        graft.core.fixedPointLong(xv, 4).as("_x4"),
        graft.core.fixedPointLong(yv, 4).as("_y4"))
    val mom = base.groupBy(col("key"))
      .agg(count(lit(1)).as("_n"),
        sum(dec(col("_x4"))).as("_sx"),
        sum(dec(col("_y4"))).as("_sy"),
        sum(dec(dec(col("_x4")) * dec(col("_x4")))).as("_sxx"),
        sum(dec(dec(col("_x4")) * dec(col("_y4")))).as("_sxy"))
      .where(col("_n") >= 6)
    val nd = col("_n").cast("double")
    val sxxc = col("_sxx").cast("double") -
      col("_sx").cast("double") * col("_sx").cast("double") / nd
    val sxyc = col("_sxy").cast("double") -
      col("_sx").cast("double") * col("_sy").cast("double") / nd
    val slope = sxyc / sxxc
    val ybar = col("_sy").cast("double") / 1e4 / nd
    val xbar = col("_sx").cast("double") / 1e4 / nd
    val r6c = (c: Column) =>
      graft.core.fixedPointLong(c, 6).cast("double") / 1e6
    val params = mom
      .where(sxxc > 0)
      .select(col("key"), col("_n").as("n"),
        r6c(slope).as("slope"),
        r6c(ybar - slope * xbar).as("intercept"))
    val resid = base.join(params, "key")
      .withColumn("_r",
        col("_y") - (col("intercept") + col("slope") * col("_x")))
    val adf = adfStat(resid, Seq("key"), "_o", "_r")
      .select(col("key"), col("rho"), col("t_stat"))
    params.join(adf, "key")
      .withColumn("cointegrated", col("t_stat") < -3.34)
  }
}
