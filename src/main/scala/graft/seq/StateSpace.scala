package graft.seq

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.seq.SeriesKernels.{SPoint, SScore, run, scanSeries}

/** State-space smoothing kernels (engine additions). The local-level
  * Kalman filter is the probabilistically-weighted cousin of the
  * EWMA/Holt forecasters: the gain adapts from the prior uncertainty
  * instead of a fixed α, so early points (uncertain level) score softer
  * than the same residual late in a settled series — the behavior a
  * fixed-window zscore cannot express.
  *
  * Determinism: the observation variance r is the per-key sample
  * variance from exact 4dp fixed-point long sums (one pass, exact
  * integers), the process variance q = r·2⁻⁴ (dyadic factor), and the
  * filter recursion is a fixed IEEE double op sequence — the DuckDB
  * oracle replays the identical walk in a recursive CTE, bit-for-bit
  * before the shared 4dp round.
  *
  * Scale: per-key O(1)-state recursion via [[SeriesKernels.run]] — one
  * exchange on the key, state = (level, variance, 2 accumulators);
  * the per-entity-series contract (series length bounded per key;
  * exact integer sums hold to ~8·10⁵ rows/key at |v| ≤ 10³). */
object StateSpace {

  /** Local-level Kalman filter score per point: score = |innovation| /
    * √S with S the predictive variance; row 1 scores 0 (level anchors
    * there). Keys with < 3 points or zero variance score 0 throughout. */
  def kalmanFilter(data: DataFrame, keyCols: Seq[String], seqCol: String,
      valCol: String): Dataset[SScore] =
    run(data, keyCols, seqCol, valCol) { (k, pts) =>
      val (s, q2) = fixedSums(pts)
      val nD = pts.length.toDouble
      // exact fixed-point variance (matches the fx-sum oracle)
      val r = (q2.toDouble - s.toDouble * s.toDouble / nD) / (nD - 1) / 1e8
      scanSeries(k, pts, KalmanState())(kalmanStep(r, pts.length))
    }

  /** Filter state: rows absorbed (0 → the next row anchors the level),
    * level, level variance. */
  case class KalmanState(seen: Long = 0L, level: Double = 0.0, p: Double = 0.0)

  /** One filter step on the next value under the key's model (r = series
    * variance, n = series length): (state, x) → (state, score). Keys with
    * n < 3 or r ≤ 0 score 0 and keep their state. The streaming twin
    * steps the same function with (r, n) from the batch fit. */
  def kalmanStep(r: Double, n: Long)(st: KalmanState,
      x: Double): (KalmanState, Double) =
    if (n < 3 || !(r > 0)) (st, 0.0)
    else if (st.seen == 0L) (KalmanState(1L, x, r), 0.0)
    else {
      val pp = st.p + r * 0.0625
      val ss = pp + r
      val innov = x - st.level
      val kGain = pp / ss
      (KalmanState(st.seen + 1, st.level + kGain * innov, (1.0 - kGain) * pp),
        math.abs(innov) / math.sqrt(ss))
    }

  /** (Σf, Σf²) over the series' 4dp fixed-point values — exact longs. */
  private def fixedSums(pts: Array[SPoint]): (Long, Long) = {
    var s = 0L; var q2 = 0L
    pts.foreach { p =>
      val f = graft.core.fixedPoint(p.value, 4).toLong
      s += f; q2 += f * f
    }
    (s, q2)
  }

  /** Normalized spectral entropy of each key's leading `window` points:
    * naive DFT over frequencies 1..window/2−1 (DC and mirror excluded)
    * with every x·cos/x·sin term 8dp-frozen BEFORE summation (exact
    * long sums — tighter than the q24 DFT's raw double sums), power
    * p_k = re²+im², H = −Σ q·ln q / ln(#freqs) with q = p_k/Σp and both
    * Σ as ordered folds over the frequency list. One row per key with ≥
    * `window` points: key, power, entropy — ≈1 white noise, ≈0 a pure
    * tone; the "is there ANY periodic structure" scalar in front of
    * [[SeqOps.dominantPeriod]]'s which-period answer.
    *
    * Scale: the window is a fixed-size per-key head (one rn filter);
    * the DFT frame is keys × window × freqs ≈ 2k rows per key — model-
    * sized; trig parity across engines is the q24-established contract. */
  def spectralEntropy(data: DataFrame, keyCols: Seq[String],
      seqCol: String, valCol: String, window: Int = 64): DataFrame = {
    require(window >= 8 && window % 2 == 0, s"even window >= 8: $window")
    val spark = data.sparkSession
    val nf = window / 2 - 1
    val key = concat_ws("|", keyCols.map(c => col(c).cast("string")): _*)
    val ow = Window.partitionBy(col("key"))
      .orderBy(col("_o").asc, col("_x").asc)
    val base = data.where(col(valCol).isNotNull)
      .select(key.as("key"), col(seqCol).cast("long").as("_o"),
        col(valCol).cast("double").as("_x"))
      .withColumn("_p", row_number().over(ow).cast("long") - 1)
      .withColumn("_n", count(lit(1)).over(Window.partitionBy(col("key"))))
      .where(col("_n") >= window && col("_p") < window)
    val freqs = spark.range(1, nf + 1).select(col("id").as("_k"))
    val ang = lit(-2.0 * math.Pi) * col("_k") * col("_p") / window
    val terms = base.crossJoin(broadcast(freqs))
      .select(col("key"), col("_k"),
        graft.core.fixedPointLong(col("_x") * cos(ang), 8).as("_re8"),
        graft.core.fixedPointLong(col("_x") * sin(ang), 8).as("_im8"))
    val spec = terms.groupBy(col("key"), col("_k"))
      .agg(sum(col("_re8")).as("_re"), sum(col("_im8")).as("_im"))
      .select(col("key"), col("_k"),
        ((col("_re").cast("double") / 1e8) *
          (col("_re").cast("double") / 1e8) +
          (col("_im").cast("double") / 1e8) *
            (col("_im").cast("double") / 1e8)).as("_pk"))
    val folded = spec.groupBy(col("key"))
      .agg(sort_array(collect_list(struct(col("_k").as("k"),
        col("_pk").as("p")))).as("_a"))
    val ptot = aggregate(col("_a"), lit(0.0), (acc, x) => acc + x("p"))
    val ent = aggregate(col("_a"), lit(0.0), (acc, x) =>
      acc + when(x("p") > 0,
        -(x("p") / col("power")) * log(x("p") / col("power")))
        .otherwise(lit(0.0)))
    folded
      .withColumn("power", ptot)
      .withColumn("entropy", ent / math.log(nf.toDouble))
      .select("key", "power", "entropy")
  }

  /** EWMA control chart per key (Roberts 1959; the SPC memory chart —
    * detects small sustained shifts the Shewhart per-point charts
    * miss): e_t = λ·x_t + (1−λ)·e_{t−1} anchored at e_0 = μ, against
    * the exact time-varying limits ±3σ·√(λ/(2−λ)·(1−(1−λ)^{2t})).
    * λ = 0.25 (dyadic) so every recursion step is a fixed IEEE op
    * sequence; (1−λ)^{2t} rides the recursion as an iterative multiply
    * by the exactly-representable 0.5625. score = |e_t − μ| / limit_t
    * (>1 ⇒ out of control). μ, σ from exact 4dp fixed-point sums. */
  def ewmaChart(data: DataFrame, keyCols: Seq[String], seqCol: String,
      valCol: String, lambda: Double = 0.25): Dataset[SScore] =
    run(data, keyCols, seqCol, valCol) { (k, pts) =>
      val (s, q2) = fixedSums(pts)
      val nD = pts.length.toDouble
      val mu = s.toDouble / nD / 1e4
      val sd = math.sqrt(
        (q2.toDouble - s.toDouble * s.toDouble / nD) / (nD - 1)) / 1e4
      scanSeries(k, pts, EwmaState(mu))(ewmaStep(lambda, mu, sd, pts.length))
    }

  /** Chart state: the EWMA e (anchored at μ) and (1−λ)^{2t}. */
  case class EwmaState(e: Double, f2t: Double = 1.0)

  /** One chart step on the next value under the key's model (μ, σ, n):
    * (state, x) → (state, score). Keys with n < 2 or σ ≤ 0 score 0 and
    * keep their state. The streaming twin steps the same function with
    * (μ, σ, n) from the batch fit. */
  def ewmaStep(lambda: Double, mu: Double, sd: Double, n: Long)(st: EwmaState,
      x: Double): (EwmaState, Double) =
    if (n < 2 || !(sd > 0)) (st, 0.0)
    else {
      val om = 1.0 - lambda
      val e = lambda * x + om * st.e
      val f2t = st.f2t * (om * om)
      val limit = 3.0 * sd * math.sqrt(lambda / (2.0 - lambda) * (1.0 - f2t))
      (EwmaState(e, f2t), math.abs(e - mu) / limit)
    }
}
