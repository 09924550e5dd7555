package graft.seq

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Whole-series kernels that cannot be expressed as window aggregates
  * (SURVEY.md §4 item 2): FFT saliency, two-sample statistics, discord
  * search, feedback forecasting. Run via `Dataset.groupByKey.flatMapGroups`
  * — one shuffle on the series key, kernel local per key.
  *
  * Scale contract: one key's series must fit in one task (same contract as
  * the reference's groupByKey jobs, MarkovChainPredictor.scala:101-107).
  * At 100 TB this holds when series are bounded per entity (e.g. bounded
  * retention); unbounded series should be pre-chunked by
  * [[SeqOps.temporalAggregate]]-style bucketing before scoring.
  */
object SeriesKernels {

  case class SPoint(key: String, seq: Long, value: Double)
  case class SScore(key: String, seq: Long, value: Double, score: Double)
  case class Segment(key: String, segStart: Long, segEnd: Long, stat: Double)

  /** Generic per-key sorted-series runner. */
  def run(data: DataFrame, keyCols: Seq[String], seqCol: String, valCol: String)(
      kernel: (String, Array[SPoint]) => Iterator[SScore]): Dataset[SScore] = {
    val spark = data.sparkSession
    import spark.implicits._
    val pts = data.select(
      concat_ws("|", keyCols.map(c => col(c).cast("string")): _*).as("key"),
      col(seqCol).cast("long").as("seq"),
      col(valCol).cast("double").as("value")).as[SPoint]
    pts.groupByKey(_.key).flatMapGroups { (k, it) =>
      kernel(k, it.toArray.sortBy(p => (p.seq, p.value)))
    }
  }

  /** [[run]] for a sequential recursion: folds `step` over each key's
    * sorted values from `init`, one score per point. */
  private[seq] def scan[S](data: DataFrame, keyCols: Seq[String], seqCol: String,
      valCol: String)(init: S)(step: (S, Double) => (S, Double)): Dataset[SScore] =
    run(data, keyCols, seqCol, valCol)((k, pts) => scanSeries(k, pts, init)(step))

  /** One key's fold of `step` over its sorted points. */
  private[seq] def scanSeries[S](k: String, pts: Array[SPoint], init: S)(
      step: (S, Double) => (S, Double)): Iterator[SScore] = {
    var st = init
    pts.iterator.map { p =>
      val (next, score) = step(st, p.value)
      st = next
      SScore(k, p.seq, p.value, score)
    }
  }

  // ---------- spectral residue (seq/SpectralResiduePredictor.scala:37-155) ----------

  /** Saliency-map anomaly score per point (spectral-residual saliency,
    * Hou & Zhang CVPR'07, applied to time series as in Ren et al. KDD'19
    * "Time-Series Anomaly Detection Service at Microsoft"): sliding FFT
    * window → spectral
    * residue (log-amplitude minus its moving average) → inverse FFT with
    * original phases → saliency; score = saliency amplitude minus
    * neighborhood average (algorithm :140-153). Window must be a power of 2. */
  def spectralResidue(
      data: DataFrame, keyCols: Seq[String], seqCol: String, valCol: String,
      window: Int, avgWindow: Int = 3): Dataset[SScore] = {
    require((window & (window - 1)) == 0, "window must be a power of 2")
    run(data, keyCols, seqCol, valCol) { (k, pts) =>
      if (pts.length < window) Iterator.empty
      else {
        val n = pts.length
        val sal = new Array[Double](n)
        val cnt = new Array[Int](n)
        var off = 0
        while (off + window <= n) {
          val re = Array.tabulate(window)(i => pts(off + i).value)
          val im = new Array[Double](window)
          fft(re, im, inverse = false)
          val amp = Array.tabulate(window)(i => math.hypot(re(i), im(i)))
          val logAmp = amp.map(a => math.log(a + 1e-12))
          // moving average of log amplitude
          val ma = movingAvg(logAmp, avgWindow)
          val resid = Array.tabulate(window)(i => logAmp(i) - ma(i))
          // back to time domain keeping phases
          val re2 = Array.tabulate(window)(i => math.exp(resid(i)) * (if (amp(i) > 1e-12) re(i) / amp(i) else 0.0))
          val im2 = Array.tabulate(window)(i => math.exp(resid(i)) * (if (amp(i) > 1e-12) im(i) / amp(i) else 0.0))
          fft(re2, im2, inverse = true)
          var i = 0
          while (i < window) {
            sal(off + i) += math.hypot(re2(i), im2(i)); cnt(off + i) += 1; i += 1
          }
          off += window / 2 // half-overlapping windows
        }
        val s = Array.tabulate(n)(i => if (cnt(i) > 0) sal(i) / cnt(i) else 0.0)
        val nbrAvg = movingAvg(s, 2 * avgWindow + 1)
        Iterator.tabulate(n) { i =>
          SScore(k, pts(i).seq, pts(i).value, math.max(0.0, s(i) - nbrAvg(i)))
        }
      }
    }
  }

  /** Iterative radix-2 Cooley-Tukey FFT, in place. */
  private[graft] def fft(re: Array[Double], im: Array[Double], inverse: Boolean): Unit = {
    val n = re.length
    var j = 0
    for (i <- 1 until n) { // bit reversal
      var bit = n >> 1
      while (j >= bit) { j -= bit; bit >>= 1 }
      j += bit
      if (i < j) {
        val tr = re(i); re(i) = re(j); re(j) = tr
        val ti = im(i); im(i) = im(j); im(j) = ti
      }
    }
    var len = 2
    while (len <= n) {
      val ang = 2 * math.Pi / len * (if (inverse) 1 else -1)
      val (wr, wi) = (math.cos(ang), math.sin(ang))
      var i = 0
      while (i < n) {
        var (cwr, cwi) = (1.0, 0.0)
        var k = 0
        while (k < len / 2) {
          val (ur, ui) = (re(i + k), im(i + k))
          val (vr0, vi0) = (re(i + k + len / 2), im(i + k + len / 2))
          val vr = vr0 * cwr - vi0 * cwi
          val vi = vr0 * cwi + vi0 * cwr
          re(i + k) = ur + vr; im(i + k) = ui + vi
          re(i + k + len / 2) = ur - vr; im(i + k + len / 2) = ui - vi
          val ncwr = cwr * wr - cwi * wi
          cwi = cwr * wi + cwi * wr; cwr = ncwr
          k += 1
        }
        i += len
      }
      len <<= 1
    }
    if (inverse) {
      var i = 0
      while (i < n) { re(i) /= n; im(i) /= n; i += 1 }
    }
  }

  private def movingAvg(a: Array[Double], w: Int): Array[Double] = {
    val n = a.length
    Array.tabulate(n) { i =>
      val lo = math.max(0, i - w / 2)
      val hi = math.min(n - 1, i + w / 2)
      var s = 0.0
      var j = lo
      while (j <= hi) { s += a(j); j += 1 }
      s / (hi - lo + 1)
    }
  }

  // ---------- two-sample change point (misc/ChangePointDetector.scala:108-139) ----------

  /** Sliding two-sample change-point statistics: at each position the
    * preceding `window` vs following `window` values are compared with the
    * chosen statistic ∈ {ks, cvm, ad}; emits positions with stat ≥ crit.
    *
    * The two windows are maintained as incrementally-sorted arrays — each
    * slide is one binary-search remove + insert per window (O(w) memmove)
    * and each statistic is a single merge walk over the two sorted arrays,
    * so the per-key cost is O(n·w) instead of the naive O(n·w·log w)
    * re-sort per position (and allocation-free in the steady state). */
  def changePoint(
      data: DataFrame, keyCols: Seq[String], seqCol: String, valCol: String,
      window: Int, stat: String, critValue: Double): Dataset[SScore] = {
    val statFn: (Array[Double], Array[Double]) => Double = stat match {
      case "ks" => ksStatSorted
      case "cvm" => cvmStatSorted
      case "ad" => adStatSorted
      case o => throw new IllegalArgumentException(s"unknown stat $o")
    }
    run(data, keyCols, seqCol, valCol) { (k, pts) =>
      val n = pts.length
      if (n < 2 * window) Iterator.empty
      else {
        val left = Array.tabulate(window)(j => pts(j).value)
        val right = Array.tabulate(window)(j => pts(window + j).value)
        java.util.Arrays.sort(left)
        java.util.Arrays.sort(right)
        val out = collection.mutable.ArrayBuffer.empty[SScore]
        var i = window
        while (i <= n - window) {
          val s = statFn(left, right)
          // crit compare carries a 1e-9 tolerance: the CVM/AD sums of
          // squares accumulate in merge-walk order here but in unordered
          // GROUP BY order in the SQL oracle, so a score landing exactly on
          // the crit boundary could otherwise flip the engines apart.
          if (s >= critValue - 1e-9) out += SScore(k, pts(i).seq, pts(i).value, s)
          if (i < n - window) {
            slideSorted(left, pts(i - window).value, pts(i).value)
            slideSorted(right, pts(i).value, pts(i + window).value)
          }
          i += 1
        }
        out.iterator
      }
    }
  }

  /** Replace `out` with `in` in the sorted array `a`, keeping it sorted —
    * one binary search each plus a single arraycopy of the span between
    * the two positions. `out` must be present (it was inserted earlier
    * from the same series, so it matches bitwise). */
  private[graft] def slideSorted(a: Array[Double], out: Double, in: Double): Unit = {
    var i = java.util.Arrays.binarySearch(a, out)
    require(i >= 0, s"slideSorted: $out not in window")
    var j = java.util.Arrays.binarySearch(a, in)
    if (j < 0) j = -j - 1
    if (j <= i) {
      System.arraycopy(a, j, a, j + 1, i - j)
      a(j) = in
    } else { // positions above i shift down once out is removed
      System.arraycopy(a, i + 1, a, i, j - i - 1)
      a(j - 1) = in
    }
  }

  /** Two-sample Kolmogorov-Smirnov statistic (max ECDF gap). */
  private[graft] def ksStat(a: Array[Double], b: Array[Double]): Double =
    ksStatSorted(a.sorted, b.sorted)

  private[graft] def ksStatSorted(sa: Array[Double], sb: Array[Double]): Double = {
    val (n, m) = (sa.length, sb.length)
    var (i, j) = (0, 0)
    var d = 0.0
    while (i < n && j < m) {
      val v = math.min(sa(i), sb(j))
      while (i < n && sa(i) == v) i += 1 // consume full tie groups before
      while (j < m && sb(j) == v) j += 1 // measuring the ECDF gap
      d = math.max(d, math.abs(i.toDouble / n - j.toDouble / m))
    }
    d
  }

  /** Two-sample Cramér–von Mises statistic (rank form). */
  private[graft] def cvmStat(a: Array[Double], b: Array[Double]): Double =
    cvmStatSorted(a.sorted, b.sorted)

  /** Merge walk over the two sorted samples, `a` first on ties — the
    * same element order as a stable sort of (a ++ b) by value. */
  private[graft] def cvmStatSorted(sa: Array[Double], sb: Array[Double]): Double = {
    val n = sa.length; val m = sb.length
    var (ia, ib) = (0, 0)
    var t = 0.0
    while (ia < n || ib < m) {
      if (ib >= m || (ia < n && sa(ia) <= sb(ib))) ia += 1 else ib += 1
      val d = ia.toDouble / n - ib.toDouble / m
      t += d * d
    }
    t * n.toDouble * m / ((n + m).toDouble * (n + m)) // T = nm/N² · Σ d²
  }

  /** Two-sample Anderson-Darling statistic (k-sample AD with k=2,
    * unadjusted). */
  private[graft] def adStat(a: Array[Double], b: Array[Double]): Double =
    adStatSorted(a.sorted, b.sorted)

  private[graft] def adStatSorted(sa: Array[Double], sb: Array[Double]): Double = {
    val n = sa.length; val m = sb.length
    val nt = n + m
    var (ia, ib) = (0, 0)
    var ca = 0
    var s = 0.0
    var h = 1
    while (h < nt) { // all but the last element
      if (ib >= m || (ia < n && sa(ia) <= sb(ib))) { ia += 1; ca += 1 }
      else ib += 1
      val d = ca.toDouble * nt - n.toDouble * h
      s += d * d / (h.toDouble * (nt - h))
      h += 1
    }
    s / (n.toDouble * m)
  }

  // ---------- discord / subsequence distance (seq/SubSequenceDistanceDetector.scala:193-216) ----------

  /** Score of the window starting at i = min over all non-overlapping
    * reference windows of RMS distance (early-abandon search). O(n²·w) per
    * key like the reference; keys process in parallel. */
  def subSequenceDistance(
      data: DataFrame, keyCols: Seq[String], seqCol: String, valCol: String,
      window: Int): Dataset[SScore] = {
    run(data, keyCols, seqCol, valCol) { (k, pts) =>
      val n = pts.length - window + 1
      if (n <= 1) Iterator.empty
      else Iterator.range(0, n).map { i =>
        var best = Double.MaxValue
        var j = 0
        while (j < n) {
          if (math.abs(j - i) >= window) { // exclude self-overlap
            var d = 0.0
            var t = 0
            while (t < window && d < best) { // early abandon
              val diff = pts(i + t).value - pts(j + t).value
              d += diff * diff
              t += 1
            }
            if (d < best) best = d
          }
          j += 1
        }
        SScore(k, pts(i).seq, pts(i).value, math.sqrt(best / window))
      }
    }
  }

  /** Matrix-profile-style discord search (STOMP diagonal recurrence, Zhu
    * et al. ICDM'16, applied to the reference's UN-normalized RMS
    * distance): dist²(i,j) = ssq(i)+ssq(j)−2·QT(i,j), and along a
    * diagonal QT updates in O(1) — total O(n²) instead of the naive
    * O(n²·w). Identical semantics to [[subSequenceDistance]] (min over
    * |j−i| ≥ window of RMS distance), equal within fp tolerance
    * (spec-asserted); this is the long-series scale path. */
  def subSequenceDistanceFast(
      data: DataFrame, keyCols: Seq[String], seqCol: String, valCol: String,
      window: Int): Dataset[SScore] = {
    run(data, keyCols, seqCol, valCol) { (k, pts) =>
      val m = window
      val x = pts.map(_.value)
      val n = x.length - m + 1
      if (n <= 1) Iterator.empty
      else {
        val ssq = new Array[Double](n)
        var s = 0.0
        var t = 0
        while (t < m) { s += x(t) * x(t); t += 1 }
        ssq(0) = s
        var i = 1
        while (i < n) {
          s += x(i + m - 1) * x(i + m - 1) - x(i - 1) * x(i - 1)
          ssq(i) = s
          i += 1
        }
        val best = Array.fill(n)(Double.MaxValue)
        var d = m // self-overlap excluded: |j−i| ≥ window
        while (d < n) {
          var qt = 0.0
          t = 0
          while (t < m) { qt += x(t) * x(d + t); t += 1 }
          var dist = ssq(0) + ssq(d) - 2 * qt
          if (dist < best(0)) best(0) = dist
          if (dist < best(d)) best(d) = dist
          i = 1
          while (i + d < n) {
            qt += x(i + m - 1) * x(i + d + m - 1) - x(i - 1) * x(i + d - 1)
            dist = ssq(i) + ssq(i + d) - 2 * qt
            if (dist < best(i)) best(i) = dist
            if (dist < best(i + d)) best(i + d) = dist
            i += 1
          }
          d += 1
        }
        Iterator.range(0, n).map(i =>
          SScore(k, pts(i).seq, pts(i).value, math.sqrt(math.max(best(i), 0.0) / m)))
      }
    }
  }

  // ---------- one-step-ahead with outlier replacement (seq/OneStepAheadPredictor.scala:111-151) ----------

  /** Sequential forecast with replace-on-outlier feedback: prediction =
    * mean of the trailing window; score = |x-x̂|/σ_resid (running); when a
    * point scores above `threshold` the *predicted* value replaces it in
    * the window so one outlier doesn't poison subsequent forecasts (:150-151). */
  def oneStepAhead(
      data: DataFrame, keyCols: Seq[String], seqCol: String, valCol: String,
      window: Int, threshold: Double): Dataset[SScore] = {
    run(data, keyCols, seqCol, valCol) { (k, pts) =>
      val (scores, _) = osaWalk(pts, window, threshold)
      Iterator.tabulate(pts.length)(i => SScore(k, pts(i).seq, pts(i).value, scores(i)))
    }
  }

  case class ResidStat(key: String, n: Long, mean: Double, std: Double)

  /** Residual-stats side output of the one-step-ahead predictor
    * (seq/OneStepAheadPredictor.scala:156,166-182): the running residual
    * (count, mean, std) per key after the final point — the reference
    * appends these as tagged lines and splits them to a second output
    * dir; here they are their own Dataset. Shares [[osaWalk]] with
    * [[oneStepAhead]], so the emitted stats are exactly the ones the
    * score pass accumulated. */
  def oneStepAheadResidStats(
      data: DataFrame, keyCols: Seq[String], seqCol: String, valCol: String,
      window: Int, threshold: Double): Dataset[ResidStat] = {
    val spark = data.sparkSession
    import spark.implicits._
    val pts = data.select(
      concat_ws("|", keyCols.map(c => col(c).cast("string")): _*).as("key"),
      col(seqCol).cast("long").as("seq"),
      col(valCol).cast("double").as("value")).as[SPoint]
    pts.groupByKey(_.key).mapGroups { (k, it) =>
      val (_, (n, mean, std)) = osaWalk(it.toArray.sortBy(p => (p.seq, p.value)), window, threshold)
      ResidStat(k, n, mean, std)
    }
  }

  /** Scores + residual stats in one call (the reference's two output
    * dirs). Two grouped passes over the input — each is a single shuffle
    * on the key, and the stats pass's output is one row per key. */
  def oneStepAheadWithStats(
      data: DataFrame, keyCols: Seq[String], seqCol: String, valCol: String,
      window: Int, threshold: Double): (Dataset[SScore], Dataset[ResidStat]) =
    (oneStepAhead(data, keyCols, seqCol, valCol, window, threshold),
      oneStepAheadResidStats(data, keyCols, seqCol, valCol, window, threshold))

  /** The shared one-step-ahead walk: returns per-point scores and the
    * final running residual stats (n, mean, sample std). */
  private def osaWalk(pts: Array[SPoint], window: Int,
      threshold: Double): (Array[Double], (Long, Double, Double)) = {
    val buf = new Array[Double](window)
    var filled = 0
    var residSum = 0.0
    var residSq = 0.0
    var residN = 0
    val scores = new Array[Double](pts.length)
    var i = 0
    while (i < pts.length) {
      val p = pts(i)
      var score = 0.0
      var store = p.value
      if (filled >= window) {
        val pred = buf.sum / window
        val resid = p.value - pred
        val std =
          if (residN > 1) math.sqrt((residSq - residSum * residSum / residN) / (residN - 1))
          else 0.0
        score = if (std > 0) math.abs(resid) / std else 0.0
        residSum += resid; residSq += resid * resid; residN += 1
        if (score > threshold) store = pred // feedback: replace outlier
      }
      buf(filled % window) = store
      filled += 1
      scores(i) = score
      i += 1
    }
    val mean = if (residN > 0) residSum / residN else 0.0
    val std =
      if (residN > 1) math.sqrt((residSq - residSum * residSum / residN) / (residN - 1))
      else 0.0
    (scores, (residN.toLong, mean, std))
  }

  // ---------- Holt double-exponential forecast (engine addition) ----------

  /** Holt linear-trend (double-exponential-smoothing) forecast scorer.
    * Complements the window-mean forecaster [[oneStepAhead]]
    * (seq/OneStepAheadPredictor.scala:111-151 uses a flat trailing mean):
    * on a trending series the window mean lags by (w−1)/2 steps and every
    * ramp point scores as an outlier; Holt tracks level+trend so only
    * genuine departures from the local trend score high.
    *
    * State after row t: level lₜ, trend bₜ; init l₂=x₂, b₂=x₂−x₁
    * (rows 1–2 score 0). For t≥3: forecast x̂=l+b, residual r=x−x̂,
    * score = |r| / running sample std of PRIOR residuals (the same
    * normalisation as [[oneStepAhead]]); then l'=α·x+(1−α)·x̂,
    * b'=β·(l'−l)+(1−β)·b. Defaults α=0.5, β=0.25 are dyadic, so with the
    * fixed evaluation order here each step is bit-reproducible across
    * engines — the DuckDB oracle replays the identical recursion.
    *
    * Scale: per-key kernel via [[run]] — one shuffle on the key, O(1)
    * state (two doubles + three residual accumulators); same
    * bounded-series-per-entity contract as the other kernels.
    */
  def holtForecast(
      data: DataFrame, keyCols: Seq[String], seqCol: String, valCol: String,
      alpha: Double = 0.5, beta: Double = 0.25): Dataset[SScore] =
    scan(data, keyCols, seqCol, valCol)(HoltState())(holtStep(alpha, beta, 1.0))

  /** Holt state after `seen` rows: 0 → nothing, 1 → x1 held, ≥ 2 →
    * (level, trend) anchored and recursing, with the prior-residual
    * accumulators. */
  case class HoltState(seen: Long = 0L, x1: Double = 0.0, level: Double = 0.0,
      trend: Double = 0.0, rsum: Double = 0.0, rsq: Double = 0.0, rn: Long = 0L)

  /** One Holt step on the next value: (state, x) → (state, score). `phi`
    * damps the trend ([[Forecast2.dampedHolt]]); at φ = 1.0,
    * `level + 1.0·trend` and `(1−β)·(1.0·trend)` are the undamped forms
    * bit for bit. The streaming twin steps the same function. */
  def holtStep(alpha: Double, beta: Double, phi: Double)(st: HoltState,
      x: Double): (HoltState, Double) =
    if (st.seen == 0L) (st.copy(seen = 1L, x1 = x), 0.0)
    else if (st.seen == 1L) (st.copy(seen = 2L, level = x, trend = x - st.x1), 0.0)
    else {
      val pred = st.level + phi * st.trend
      val resid = x - pred
      val std = priorStd(st.rsum, st.rsq, st.rn)
      val l2 = alpha * x + (1 - alpha) * pred
      (HoltState(st.seen + 1, st.x1, l2,
        beta * (l2 - st.level) + (1 - beta) * (phi * st.trend),
        st.rsum + resid, st.rsq + resid * resid, st.rn + 1),
        if (std > 0) math.abs(resid) / std else 0.0)
    }

  /** Sample std of the `rn` prior residuals from their running sums. */
  private[seq] def priorStd(rsum: Double, rsq: Double, rn: Long): Double =
    if (rn > 1) math.sqrt((rsq - rsum * rsum / rn) / (rn - 1)) else 0.0

  /** Holt–Winters additive seasonal forecast scorer (engine addition) —
    * extends [[holtForecast]] with a length-`period` seasonal component:
    * pred_t = (level + trend) + seasonal_{t mod period}, score = |resid| /
    * running prior-residual std (the OSA/Holt normalization). The
    * trending-AND-cyclic series case neither the flat window mean nor
    * plain Holt covers.
    *
    * Initialization (documented fit window, scores 0 there): level =
    * mean of season 1, trend = (mean₂ − mean₁)/period, seasonal_i =
    * x_i − mean₁ over season 1 — the standard two-season init; both
    * means are exact 4dp fixed-point sums so the recursion anchor
    * replays bit-identically. Dyadic α=0.5, β=0.25, γ=0.25 keep every
    * update a fixed IEEE op sequence; the oracle carries the seasonal
    * state as a rotating DOUBLE[] queue in a recursive CTE.
    *
    * Scale: per-key sequential recursion (inherently so — each state
    * depends on the previous step); parallelism = key cardinality, the
    * forecaster-family contract. Keys with < 2·period points score 0. */
  def holtWinters(
      data: DataFrame, keyCols: Seq[String], seqCol: String, valCol: String,
      period: Int, alpha: Double = 0.5, beta: Double = 0.25,
      gamma: Double = 0.25): Dataset[SScore] = {
    require(period >= 2, "holtWinters needs period >= 2")
    run(data, keyCols, seqCol, valCol) { (k, pts) =>
      val n = pts.length
      val scores = new Array[Double](n)
      if (n > 2 * period) {
        def fp(x: Double): Long = graft.core.fixedPoint(x, 4).toLong
        var s1 = 0L; var s2 = 0L
        var i = 0
        while (i < period) { s1 += fp(pts(i).value); i += 1 }
        while (i < 2 * period) { s2 += fp(pts(i).value); i += 1 }
        val mean1 = s1.toDouble / period / 1e4
        val mean2 = s2.toDouble / period / 1e4
        var level = mean1
        var trend = (mean2 - mean1) / period
        // rotating queue: head = the season slot the next step consumes
        val seas = new Array[Double](period)
        i = 0
        while (i < period) { seas(i) = pts(i).value - mean1; i += 1 }
        var head = 0
        var rsum = 0.0; var rsq = 0.0; var rn = 0
        i = period
        while (i < n) {
          val x = pts(i).value
          val sh = seas(head)
          val pred = (level + trend) + sh
          val resid = x - pred
          val std =
            if (rn > 1) math.sqrt((rsq - rsum * rsum / rn) / (rn - 1)) else 0.0
          if (i >= 2 * period && std > 0) scores(i) = math.abs(resid) / std
          rsum += resid; rsq += resid * resid; rn += 1
          val l2 = alpha * (x - sh) + (1 - alpha) * (level + trend)
          trend = beta * (l2 - level) + (1 - beta) * trend
          level = l2
          seas(head) = gamma * (x - l2) + (1 - gamma) * sh
          head = (head + 1) % period
          i += 1
        }
      }
      Iterator.tabulate(n)(i => SScore(k, pts(i).seq, pts(i).value, scores(i)))
    }
  }

  /** Kleinberg 2-state burst detection (Kleinberg, KDD'02 "Bursty and
    * Hierarchical Structure in Streams") over per-key inter-arrival
    * gaps: state 0 emits at the base rate λ₀ = 1/ĝ (ĝ = mean gap),
    * state 1 at λ₁ = s·λ₀; entering the burst state costs γ·ln n,
    * leaving is free; the emitted per-event label is the min-cost
    * (Viterbi) state path. The "is this entity being hammered right
    * now" primitive drift/threshold scorers don't express.
    *
    * Determinism: gap costs are fixed float expressions of exact
    * long-nanosecond gaps; ties in the two min() choices break toward
    * the lower/previous state (`<=`), mirrored in the oracle's CASE;
    * the oracle replays the same forward recursion with both candidate
    * paths carried as lists.
    *
    * Scale: per-key sequential by nature (the path depends on every
    * prior gap); parallelism = key cardinality, state O(n) per key
    * inside the kernel — the forecaster-family contract. Keys with
    * < 3 events emit all-zero. Output score = burst state (0/1). */
  def burstDetect(
      data: DataFrame, keyCols: Seq[String], seqCol: String, valCol: String,
      s: Double = 2.0, gamma: Double = 1.0): Dataset[SScore] = {
    run(data, keyCols, seqCol, valCol) { (k, pts) =>
      val n = pts.length
      val states = new Array[Double](n)
      if (n >= 3) {
        val ng = n - 1
        val spanNs = pts(n - 1).seq - pts(0).seq
        if (spanNs > 0) {
          val ghat = spanNs.toDouble / 1e9 / ng
          val lam0 = 1.0 / ghat
          val lam1 = s / ghat
          val up = gamma * math.log(ng.toDouble)
          def e0(g: Double) = -math.log(lam0) + lam0 * g
          def e1(g: Double) = -math.log(lam1) + lam1 * g
          var c0 = 0.0; var c1 = 0.0
          var p0 = List.empty[Int]; var p1 = List.empty[Int]
          var i = 1
          while (i < n) {
            val g = (pts(i).seq - pts(i - 1).seq).toDouble / 1e9
            if (i == 1) {
              c0 = e0(g); c1 = up + e1(g)
              p0 = List(0); p1 = List(1)
            } else {
              val n0 = (if (c0 <= c1) c0 else c1) + e0(g)
              val q0 = (if (c0 <= c1) p0 else p1)
              val n1 = (if (c0 + up <= c1) c0 + up else c1) + e1(g)
              val q1 = (if (c0 + up <= c1) p0 else p1)
              c0 = n0; c1 = n1
              p0 = 0 :: q0; p1 = 1 :: q1
            }
            i += 1
          }
          val path = (if (c0 <= c1) p0 else p1).reverse.toArray
          i = 1
          while (i < n) { states(i) = path(i - 1).toDouble; i += 1 }
        }
      }
      Iterator.tabulate(n)(i => SScore(k, pts(i).seq, pts(i).value, states(i)))
    }
  }

  // ---------- n-gram frequency (seq/NgramFrequencyPredictor.scala:79-223) ----------

  /** Quantize values to per-key equal-probability buckets, maintain a
    * sliding window's n-gram frequency map, score = max-normalized sum of
    * squared differences vs the key's overall n-gram distribution
    * (findNgramDiff :195-205, maxNormalize :212-223), spread over each
    * window's members via [[spreadScores]]
    * (util/SeequenceScoreAggregator.java:48-59). */
  def ngramFrequency(
      data: DataFrame, keyCols: Seq[String], seqCol: String, valCol: String,
      numBuckets: Int, n: Int, window: Int): Dataset[SScore] = {
    run(data, keyCols, seqCol, valCol) { (k, pts) =>
      val m = pts.length
      if (m < window || window <= n) Iterator.empty
      else {
        // equal-probability quantization boundaries from this key's values
        val sorted = pts.map(_.value).sorted
        def bucket(v: Double): Int = {
          var b = 0
          var i = 1
          while (i < numBuckets) {
            val q = quantile(sorted, i.toDouble / numBuckets)
            if (v > q) b = i
            i += 1
          }
          b
        }
        val syms = pts.map(p => bucket(p.value))
        def gram(i: Int): String = syms.slice(i - n + 1, i + 1).mkString(">")
        // reference distribution: n-gram freq over the whole series
        val ref = collection.mutable.Map.empty[String, Double]
        for (i <- (n - 1) until m) ref(gram(i)) = ref.getOrElse(gram(i), 0.0) + 1.0
        val refTot = ref.values.sum
        val refNorm = ref.map { case (g, c) => g -> c / refTot }
        val cur = collection.mutable.Map.empty[String, Double]
        val scores = new Array[Double](m)
        for (i <- (n - 1) until m) {
          val g = gram(i)
          cur(g) = cur.getOrElse(g, 0.0) + 1.0
          if (i - n + 1 >= window) { // slide: drop oldest gram
            val old = gram(i - window)
            cur(old) = cur(old) - 1.0
            if (cur(old) <= 0) cur.remove(old)
          }
          val tot = cur.values.sum
          var d = 0.0
          (cur.keySet ++ refNorm.keySet).foreach { gk =>
            val diff = cur.getOrElse(gk, 0.0) / tot - refNorm.getOrElse(gk, 0.0)
            d += diff * diff
          }
          scores(i) = d
        }
        // spread each window's score over its members (window max), then
        // max-normalize — spreading preserves the max, so the normalized
        // range stays [0, 1]
        val spread = spreadScores(scores, window)
        val mx = spread.max
        Iterator.tabulate(m) { i =>
          SScore(k, pts(i).seq, pts(i).value, if (mx > 0) spread(i) / mx else 0.0)
        }
      }
    }
  }

  /** Window-max score spreading (util/SeequenceScoreAggregator.java:48-59):
    * replay of the reference's add() sequence — once more than `window`
    * scores exist, each newly added score raises the trailing `window`
    * positions (itself included) to at least its value, so a window's
    * anomaly score marks every point that belongs to the window. Order
    * of replay is immaterial: every update is a max against the raw
    * incoming score, so the result is max(raw(i), raw(j) for the
    * spreading j > window-edge with i in j's trailing window). */
  private[graft] def spreadScores(raw: Array[Double], window: Int): Array[Double] = {
    val out = raw.clone()
    var p = 0
    while (p < out.length) {
      if (p + 1 > window) {
        var i = p + 1 - window
        while (i <= p) {
          if (out(i) < raw(p)) out(i) = raw(p)
          i += 1
        }
      }
      p += 1
    }
    out
  }

  private def quantile(sorted: Array[Double], f: Double): Double = {
    val pos = f * (sorted.length - 1)
    val lo = pos.toInt
    val frac = pos - lo
    if (lo + 1 < sorted.length) sorted(lo) * (1 - frac) + sorted(lo + 1) * frac
    else sorted(lo)
  }

  /** Sequence matchers (src/.../util/SequenceMatcher.java:58-110):
    * positional match count and longest-common-subsequence similarity over
    * two symbol arrays — exposed as column functions for paired
    * collect_list arrays. */
  def positionalSimilarity(a: Seq[String], b: Seq[String]): Double = {
    val n = math.min(a.length, b.length)
    if (n == 0) 0.0
    else a.zip(b).count { case (x, y) => x == y }.toDouble / math.max(a.length, b.length)
  }

  def lcsSimilarity(a: Seq[String], b: Seq[String]): Double = {
    val (n, m) = (a.length, b.length)
    if (n == 0 || m == 0) return 0.0
    val dp = Array.ofDim[Int](n + 1, m + 1)
    for (i <- 1 to n; j <- 1 to m)
      dp(i)(j) =
        if (a(i - 1) == b(j - 1)) dp(i - 1)(j - 1) + 1
        else math.max(dp(i - 1)(j), dp(i)(j - 1))
    dp(n)(m).toDouble / math.max(n, m)
  }

  /** Smith-Waterman local alignment score (Smith & Waterman 1981)
    * against a fixed pattern — the gap-tolerant sequence matcher the
    * positional/LCS pair lacks: positional demands alignment, LCS
    * ignores locality; SW scores the best CONTIGUOUS-with-gaps match
    * anywhere in the sequence (funnel detection: does view→click→
    * purchase occur, allowing detours, anywhere in a session?). Linear
    * gap penalty; all-integer DP, one row of `pattern.length + 1`
    * cells carried per sequence element — O(n·m) time, O(m) space.
    * Score of the best local alignment; 0 = no positive-scoring match. */
  def smithWaterman(a: Seq[String], pattern: Seq[String],
      matchScore: Int = 2, mismatchScore: Int = -1, gapScore: Int = -1): Int = {
    val m = pattern.length
    if (a.isEmpty || m == 0) return 0
    val prev = new Array[Int](m + 1)
    val cur = new Array[Int](m + 1)
    var best = 0
    var i = 0
    while (i < a.length) {
      var j = 1
      while (j <= m) {
        val s = if (a(i) == pattern(j - 1)) matchScore else mismatchScore
        cur(j) = math.max(0, math.max(prev(j - 1) + s,
          math.max(prev(j) + gapScore, cur(j - 1) + gapScore)))
        if (cur(j) > best) best = cur(j)
        j += 1
      }
      System.arraycopy(cur, 0, prev, 0, m + 1)
      i += 1
    }
    best
  }

  /** Depth-2 binary-segmentation change-point search with the L2
    * (piecewise-constant-mean) cost (Scott & Knott 1974; the classic
    * top-down alternative to the sliding-window KS family above): find
    * the split maximizing the SSE reduction over the whole series, then
    * the best split inside each half. Complements [[changePoint]] —
    * that flags LOCAL distribution changes at a fixed window; this
    * recovers the GLOBAL mean-shift structure and its effect size.
    *
    * Declarative, not a per-key kernel: values quantize to 4dp longs,
    * and the L2 gain at split c of segment [l,r] needs only the exact
    * integer prefix sums Q(·) — the Σv² terms cancel in
    * gain = (Q(c)−Q(l−1))²/(c−l+1) + (Q(r)−Q(c))²/(r−c)
    *        − (Q(r)−Q(l−1))²/(r−l+1)
    * — so every candidate row evaluates a fixed float expression over
    * exact integers and the per-segment argmax (6dp-quantized gain,
    * ties → earliest split) replays bit-identically in SQL. Gains are
    * reported in value² units (the 1e8 quantization scale divided out).
    *
    * Output per key: (depth, seg_start, seg_end, split, gain) — one
    * depth-1 row, up to two depth-2 rows; a segment shorter than
    * 2·minSeg emits nothing. Split = last index of the left piece.
    *
    * Scale: one sort-within-shuffle per key for the prefix window, one
    * broadcast-sized join of the depth-1 splits, two windowed argmaxes
    * sharing the key partitioning — no kernel, no per-key memory
    * contract beyond the window sort. */
  def binSegL2(data: DataFrame, keyCols: Seq[String], seqCol: String,
      valCol: String, minSeg: Int = 5): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.Column
    val w = Window.partitionBy(keyCols.map(col): _*).orderBy(col(seqCol))
    val cum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val part = Window.partitionBy(keyCols.map(col): _*)
    val base = data.where(col(valCol).isNotNull)
      .withColumn("_q",
        graft.core.fixedPointLong(col(valCol).cast("double"), 4))
      .withColumn("_rn", row_number().over(w).cast("long"))
      .withColumn("_cq", sum(col("_q")).over(cum))
      .withColumn("_n", count(lit(1)).over(part))
      .withColumn("_qn", sum(col("_q")).over(part))
      .localCheckpoint(true)
    def gain(ql: Column, qc: Column, qr: Column, l: Column, c: Column,
        r: Column): Column = {
      val d1 = (qc - ql).cast("double")
      val d2 = (qr - qc).cast("double")
      val dt = (qr - ql).cast("double")
      (d1 * d1) / (c - l + 1L).cast("double") +
        (d2 * d2) / (r - c).cast("double") -
        (dt * dt) / (r - l + 1L).cast("double")
    }
    val keyc = keyCols.map(col)
    def argmax(df: DataFrame, extra: Seq[Column]): DataFrame = {
      val ww = Window.partitionBy(keyc ++ extra: _*)
        .orderBy(graft.core.fixedPointLong(col("_g") / 1e8, 6).desc,
          col("_rn").asc)
      df.withColumn("_am", row_number().over(ww)).where(col("_am") === 1)
    }
    val s1 = argmax(base
      .where(col("_rn") >= minSeg.toLong &&
        col("_n") - col("_rn") >= minSeg.toLong)
      .withColumn("_g", gain(lit(0L), col("_cq"), col("_qn"),
        lit(1L), col("_rn"), col("_n"))), Nil)
      .select(keyc :+ col("_rn").as("_c1") :+ col("_cq").as("_qc1") :+
        col("_n").as("_n1") :+ col("_qn").as("_qn1") :+
        col("_g").as("_g1"): _*)
    val d1 = s1.select(keyc :+ lit(1).as("depth") :+
      lit(1L).as("seg_start") :+ col("_n1").as("seg_end") :+
      col("_c1").as("split") :+
      (col("_g1") / 1e8).as("gain"): _*)
    val joined = base.join(s1, keyCols)
    val isL = col("_rn") <= col("_c1")
    val segL = when(isL, lit(1L)).otherwise(col("_c1") + 1L)
    val segR = when(isL, col("_c1")).otherwise(col("_n1"))
    val cand2 = joined
      .withColumn("_l", segL).withColumn("_r", segR)
      .withColumn("_ql", when(isL, lit(0L)).otherwise(col("_qc1")))
      .withColumn("_qr", when(isL, col("_qc1")).otherwise(col("_qn1")))
      .where(col("_rn") - col("_l") + 1L >= minSeg.toLong &&
        col("_r") - col("_rn") >= minSeg.toLong)
      .withColumn("_g", gain(col("_ql"), col("_cq"), col("_qr"),
        col("_l"), col("_rn"), col("_r")))
    val d2 = argmax(cand2, Seq(col("_l")))
      .select(keyc :+ lit(2).as("depth") :+ col("_l").as("seg_start") :+
        col("_r").as("seg_end") :+ col("_rn").as("split") :+
        (col("_g") / 1e8).as("gain"): _*)
    d1.unionByName(d2)
  }
}
