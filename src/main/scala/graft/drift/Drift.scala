package graft.drift

import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Concept-drift detectors — DDM (Gama et al., SBIA'04), EDDM
  * (Baena-García et al. '06), FHDDM (Pesaranghader & Viktor, '16), ECDD
  * EWMA (Ross et al. '12), LFR (Wang & Abraham '15) (SURVEY.md §2.9, reference python/lib/sucodr.py)
  * re-expressed as cumulative window analytics over a keyed error/metric
  * stream — one sort-within-shuffle per key, no driver loops.
  *
  * Input convention: (keyCols..., seqCol, errCol) where errCol is the
  * 0/1 prediction-error indicator (supervised drift) or a numeric metric
  * (EWMA drift).
  */
object Drift {

  private def byKey(keyCols: Seq[String], seqCol: String) =
    Window.partitionBy(keyCols.map(col): _*).orderBy(seqCol)

  /** DDM — drift detection method (sucodr.py:59-101): running error rate
    * pᵢ and std sᵢ = √(pᵢ(1−pᵢ)/i); warn when pᵢ+sᵢ > p_min+2·s_min,
    * drift when > p_min+3·s_min (strict — a zero-error prefix must stay stable). Emits level ∈ {stable, warn, drift}. */
  def ddm(data: DataFrame, keyCols: Seq[String], seqCol: String,
      errCol: String): DataFrame = {
    val w = byKey(keyCols, seqCol)
    val cum = w.rowsBetween(Window.unboundedPreceding, 0)
    val i = count(col(errCol)).over(cum)
    val p = avg(col(errCol)).over(cum)
    val s = sqrt(p * (lit(1.0) - p) / i)
    val ps = p + s
    val flagged = data
      .withColumn("i", i)
      .withColumn("p", p)
      .withColumn("s", s)
      .withColumn("minPS", min(ps).over(cum))
      // p_min+k·s_min at the argmin of p+s: track min of p+s and of s jointly
      .withColumn("sAtMin", min(struct(ps.as("ps"), s.as("s"))).over(cum).getField("s"))
      .withColumn("pAtMin", col("minPS") - col("sAtMin"))
    flagged.withColumn("level",
      when(col("i") < 30, "stable")
        .when(col("p") + col("s") > col("pAtMin") + lit(3.0) * col("sAtMin"), "drift")
        .when(col("p") + col("s") > col("pAtMin") + lit(2.0) * col("sAtMin"), "warn")
        .otherwise(lit("stable")))
      .drop("minPS", "sAtMin", "pAtMin")
  }

  /** EDDM — drift detection from the distance between errors
    * (sucodr.py:115-175): over the error rows only, dᵢ = instance gap to
    * the previous error; running mean p′ and std s′ of d; track
    * max(p′+2s′); warn when (p′+2s′)/max < `alpha`, drift when < `beta`.
    * Shrinking gaps between errors ⇒ rising error rate. */
  def eddm(data: DataFrame, keyCols: Seq[String], seqCol: String,
      errCol: String, alpha: Double = 0.95, beta: Double = 0.9): DataFrame = {
    val w = byKey(keyCols, seqCol)
    val indexed = data.withColumn("idx", row_number().over(w))
    val errs = indexed.where(col(errCol) === 1)
      .withColumn("d", (col("idx") - lag(col("idx"), 1).over(w)).cast("double"))
      .where(col("d").isNotNull)
    val cum = byKey(keyCols, seqCol).rowsBetween(Window.unboundedPreceding, 0)
    val m = avg(col("d")).over(cum)
    val s = stddev_samp(col("d")).over(cum)
    val p2s = m + lit(2.0) * s
    val flagged = errs
      .withColumn("nErr", count(col("d")).over(cum))
      .withColumn("p2s", p2s)
      .withColumn("maxP2s", max(p2s).over(cum))
      .withColumn("ratio", col("p2s") / col("maxP2s"))
    flagged.withColumn("level",
      when(col("nErr") < 30 || col("maxP2s").isNull, "stable")
        .when(col("ratio") < beta, "drift")
        .when(col("ratio") < alpha, "warn")
        .otherwise(lit("stable")))
  }

  /** FHDDM — fast Hoeffding drift detection (sucodr.py:186-228): sliding
    * accuracy over `window` rows vs the running max; drift when
    * maxAcc − acc > √(ln(1/δ)/(2·window)). */
  def fhddm(data: DataFrame, keyCols: Seq[String], seqCol: String,
      errCol: String, window: Int, delta: Double): DataFrame = {
    val w = byKey(keyCols, seqCol)
    val frame = w.rowsBetween(-(window - 1), 0)
    val cum = w.rowsBetween(Window.unboundedPreceding, 0)
    val acc = lit(1.0) - avg(col(errCol)).over(frame)
    val full = count(col(errCol)).over(frame) === window
    val eps = math.sqrt(math.log(1.0 / delta) / (2.0 * window))
    val withAcc = data
      .withColumn("acc", when(full, acc))
      .withColumn("maxAcc", max(when(full, acc)).over(cum))
    withAcc.withColumn("drift",
      col("acc").isNotNull && (col("maxAcc") - col("acc") > eps))
  }

  /** ECDD-style EWMA drift (sucodr.py:281-325): exponentially weighted
    * moving average of the metric vs its long-run mean/std; drift when
    * |z − μ| > L·σ·√(λ/(2−λ)). Recursive EWMA runs per key in one
    * flatMapGroups pass (order-dependent recurrence). */
  case class EwmaOut(key: String, seq: Long, value: Double, ewma: Double, drift: Boolean)

  def ewmaDrift(data: DataFrame, keyCols: Seq[String], seqCol: String,
      valCol: String, lambda: Double, L: Double): Dataset[EwmaOut] = {
    val spark = data.sparkSession
    import spark.implicits._
    val pts = data.select(
      concat_ws("|", keyCols.map(c => col(c).cast("string")): _*).as("key"),
      col(seqCol).cast("long").as("seq"),
      col(valCol).cast("double").as("value"))
      .as[(String, Long, Double)]
    pts.groupByKey(_._1).flatMapGroups { (k, it) =>
      val sorted = it.toArray.sortBy(_._2)
      var n = 0
      var mean = 0.0
      var m2 = 0.0
      var z = 0.0
      sorted.iterator.map { case (_, seq, x) =>
        n += 1
        val d = x - mean
        mean += d / n
        m2 += d * (x - mean)
        z = if (n == 1) x else lambda * x + (1 - lambda) * z
        val sd = if (n > 1) math.sqrt(m2 / (n - 1)) else 0.0
        val lim = L * sd * math.sqrt(lambda / (2 - lambda))
        EwmaOut(k, seq, x, z, n > 30 && sd > 0 && math.abs(z - mean) > lim)
      }
    }
  }

  /** Linear-four-rates drift (simplified LFR, sucodr.py:235-273): track
    * TPR/TNR/PPV/NPV over a sliding window vs their cumulative values;
    * drift when any |window − cumulative| exceeds the Hoeffding bound
    * √(ln(2/δ)/2·window) (the reference's Monte-Carlo bound replaced by
    * the closed-form Hoeffding bound — same detection shape, deterministic). */
  def linearFourRates(data: DataFrame, keyCols: Seq[String], seqCol: String,
      labelCol: String, predCol: String, window: Int, delta: Double): DataFrame = {
    val w = byKey(keyCols, seqCol)
    val frame = w.rowsBetween(-(window - 1), 0)
    val cum = w.rowsBetween(Window.unboundedPreceding, 0)
    val lab = col(labelCol)
    val prd = col(predCol)
    def cnt(c: Column, over: org.apache.spark.sql.expressions.WindowSpec) =
      sum(c.cast("int")).over(over).cast("double")
    def rate(num: Column, den: Column): Column = when(den > 0, num / den)
    val eps = math.sqrt(math.log(2.0 / delta) / (2.0 * window))
    def pair(name: String, num: Column, den: Column): Seq[(String, Column)] = Seq(
      s"${name}W" -> rate(cnt(num, frame), cnt(den, frame)),
      s"${name}C" -> rate(cnt(num, cum), cnt(den, cum)))
    val rates =
      pair("tpr", lab && prd, lab) ++ pair("tnr", !lab && !prd, !lab) ++
        pair("ppv", lab && prd, prd) ++ pair("npv", !lab && !prd, !prd)
    val withRates = rates.foldLeft(data) { case (df, (n, c)) => df.withColumn(n, c) }
    val full = count(lit(1)).over(frame) === window
    val devs = Seq("tpr", "tnr", "ppv", "npv").map { n =>
      when(col(s"${n}W").isNotNull && col(s"${n}C").isNotNull,
        abs(col(s"${n}W") - col(s"${n}C"))).otherwise(lit(0.0))
    }
    withRates
      .withColumn("maxDev", greatest(devs: _*))
      .withColumn("drift", full && col("maxDev") > eps)
  }

  /** Unsupervised local density drift (sucodr.py:363-412, which compares
    * local sample densities via a KDTree; here the space is grid-bucketed
    * — the distributed analogue): bucket both samples on a fixed grid,
    * normalize counts to densities, score each cell by the absolute
    * density difference. Cells with score above `threshold` (and enough
    * mass) are the locally-drifted regions. Two hash aggregations + one
    * join on cell — no driver-side structure. */
  def localDensityDrift(ref: DataFrame, cur: DataFrame, attrCols: Seq[String],
      widths: Seq[Double], threshold: Double, minCount: Long = 5L): DataFrame = {
    require(attrCols.length == widths.length)
    def cell(df: DataFrame): Column = concat_ws(":",
      attrCols.zip(widths).map { case (a, w) =>
        floor(col(a) / w).cast("long").cast("string") }: _*)
    val rc = ref.select(cell(ref).as("cell")).groupBy("cell")
      .agg(count(lit(1)).as("refCnt"))
    val cc = cur.select(cell(cur).as("cell")).groupBy("cell")
      .agg(count(lit(1)).as("curCnt"))
    // Scalar totals via a 1-row broadcast crossJoin instead of an
    // unpartitioned window (r7 verdict #6): `sum().over(partitionBy())`
    // funnels the whole cell frame through ONE partition, and cells grow
    // with range × dimensionality. Both references to `cells` share the
    // same per-side shuffle subtree, so ReuseExchange scans ref/cur once
    // each; the totals agg is distributed (partial per partition) and
    // lands as a broadcast row — no single-partition exchange anywhere.
    val cells = rc.join(cc, Seq("cell"), "full_outer")
      .withColumn("refCnt", coalesce(col("refCnt"), lit(0L)))
      .withColumn("curCnt", coalesce(col("curCnt"), lit(0L)))
    val totals = broadcast(cells.agg(
      sum("refCnt").as("refTot"), sum("curCnt").as("curTot")))
    cells.crossJoin(totals)
      .withColumn("refP", col("refCnt") / col("refTot"))
      .withColumn("curP", col("curCnt") / col("curTot"))
      .drop("refTot", "curTot")
      .withColumn("score", abs(col("curP") - col("refP")))
      .withColumn("drift",
        col("score") > threshold && (col("refCnt") + col("curCnt")) >= minCount)
  }

  /** Drift consensus (sucodr.py:335-360): majority vote across detector
    * boolean columns. */
  def consensus(df: DataFrame, detectorCols: Seq[String], quorum: Int): DataFrame =
    df.withColumn("driftVotes",
      detectorCols.map(c => col(c).cast("int")).reduce(_ + _))
      .withColumn("driftConsensus", col("driftVotes") >= quorum)

  /** Two-sided CUSUM mean-shift detector (Page, Biometrika 1954) over a
    * keyed value stream — the classic sequential change detector the
    * windowed KS/CVM/AD tests (§2.5) complement: those locate a single
    * retrospective break; CUSUM flags the shift ONLINE, row by row.
    *
    * The textbook recursions g⁺ᵢ = max(0, g⁺ᵢ₋₁ + zᵢ − k) and
    * g⁻ᵢ = max(0, g⁻ᵢ₋₁ − zᵢ − k) look inherently sequential, but both
    * have the closed form gᵢ = Aᵢ − min(0, min_{j≤i} Aⱼ) with
    * Aᵢ = Σ_{t≤i}(±zₜ − k) — a cumulative sum minus its running minimum.
    * That turns the whole detector into two window aggregates over one
    * per-key sort: a single sort-within-shuffle per key, no driver
    * loops, no iteration, scale-out = key cardinality × range split.
    *
    * zₜ standardizes against the first `warmup` rows' mean/std (the
    * in-control baseline); μ₀/σ₀ are rounded to 6dp so the long additive
    * chain that follows is bit-reproducible cross-engine (same trick as
    * the CBLOF centroids). `slack` k and threshold `h` are in σ units
    * (textbook defaults: k=0.5 detects ~1σ shifts, h≈5). Rows inside
    * the warmup emit gPos/gNeg but never alarm. Output: key cols, seq,
    * value, gPos, gNeg, alarm. */
  def cusum(data: DataFrame, keyCols: Seq[String], seqCol: String,
      valCol: String, warmup: Int = 100, slack: Double = 0.5,
      h: Double = 5.0): DataFrame = {
    val w = byKey(keyCols, seqCol)
    val cum = w.rowsBetween(Window.unboundedPreceding, 0)
    // warmup baseline as an unbounded-partition window aggregate over the
    // warmup rows only (the when() masks the rest) — shares the one
    // exchange+sort with every cumulative window below; a groupBy+join
    // formulation costs a second full sort of the data behind the join
    val whole = Window.partitionBy(keyCols.map(col): _*)
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val warm = when(col("_rn") <= warmup, col(valCol))
    // baselines rounded with the oracle's arithmetic (roundLikeDuck, not
    // Spark's HALF_UP round); the per-row terms then quantize to 6dp
    // fixed-point LONGS so the cumulative sums and running minima are
    // association-free integers (the q138 lesson: engines associate
    // windowed float sums differently). Terms derive from per-KEY
    // baseline scalars, so — unlike Page–Hinkley's per-row running
    // mean — quantization boundaries cannot accumulate per row.
    val indexed = data.withColumn("_rn", row_number().over(w))
      .withColumn("_mu0", graft.core.roundLikeDuck(avg(warm).over(whole), 6))
      .withColumn("_sd0", graft.core.roundLikeDuck(
        coalesce(stddev_samp(warm).over(whole), lit(0.0)), 6))
    val z = (col(valCol) - col("_mu0")) / greatest(col("_sd0"), lit(1e-9))
    indexed
      .withColumn("_aPos",
        sum(graft.core.fixedPointLong(z - lit(slack), 6)).over(cum))
      .withColumn("_aNeg",
        sum(graft.core.fixedPointLong(-z - lit(slack), 6)).over(cum))
      .withColumn("gPos", (col("_aPos") -
        least(lit(0L), min(col("_aPos")).over(cum))).cast("double") / 1e6)
      .withColumn("gNeg", (col("_aNeg") -
        least(lit(0L), min(col("_aNeg")).over(cum))).cast("double") / 1e6)
      .withColumn("alarm",
        col("_rn") > warmup && (col("gPos") > h || col("gNeg") > h))
      .drop("_rn", "_mu0", "_sd0", "_aPos", "_aNeg")
  }

  /** Page–Hinkley test (Page 1954; Hinkley, Biometrika 1971 — the form
    * standard in the stream-drift literature, e.g. Gama et al.'s MOA):
    * mᵢ = Σ_{t≤i}(xₜ − x̄ₜ − δ) with x̄ₜ the RUNNING mean through t;
    * drift when mᵢ − min_{j≤i} mⱼ > λ (upward shift) or
    * max_{j≤i} m′ⱼ − m′ᵢ > λ with m′ᵢ = Σ(xₜ − x̄ₜ + δ) (downward).
    * Unlike [[cusum]] it needs no warmup baseline — the running mean IS
    * the baseline, self-adapting as the stream drifts.
    *
    * Two stacked window passes over the same per-key sort (running mean,
    * then the cumulative sums over the derived deviations) — Catalyst
    * reuses one exchange+sort for all of them, so the plan stays a
    * single shuffle per key at any scale. Output: key cols, seq, value,
    * phInc, phDec, drift. */
  def pageHinkley(data: DataFrame, keyCols: Seq[String], seqCol: String,
      valCol: String, delta: Double = 0.005, lambda: Double = 50.0,
      minInstances: Int = 30): DataFrame = {
    val w = byKey(keyCols, seqCol)
    val cum = w.rowsBetween(Window.unboundedPreceding, 0)
    // deviations quantized to 6dp fixed-point LONGS before the cumulative
    // sums: engines associate windowed float sums differently (sequential
    // running sum vs segment tree), so a raw-double cumsum can drift an
    // ulp and flip the 4dp output rounding (surfaced by the sf0.001
    // gate audit — one boundary row). Integer cumsums are association-
    // free; the 5e-7 deviation quantization is far below any useful
    // (delta, lambda) setting. The streaming twin mirrors the same
    // integer state for bit parity.
    val deltaL = math.round(delta * 1e6)
    data
      .withColumn("_rn", row_number().over(w))
      .withColumn("_v6", graft.core.fixedPointLong(col(valCol), 6))
      .withColumn("_s6", sum(col("_v6")).over(cum))
      // running mean in 1e-6 units via PURE INTEGER rounding of the exact
      // rational _s6/_rn (half away from zero): no float division, so no
      // boundary can differ — a float-mean 6dp quantization still leaked
      // (a mean AT a 6dp half boundary flips dev6 by one and the error
      // persists through every later cumsum row)
      .withColumn("_mean6", when(col("_s6") >= 0,
          expr("(2 * _s6 + _rn) div (2 * _rn)"))
        .otherwise(-expr("(2 * -_s6 + _rn) div (2 * _rn)")))
      .withColumn("_dev6", col("_v6") - col("_mean6"))
      .withColumn("_mInc", sum(col("_dev6") - lit(deltaL)).over(cum))
      .withColumn("_mDec", sum(col("_dev6") + lit(deltaL)).over(cum))
      .withColumn("phInc",
        (col("_mInc") - min(col("_mInc")).over(cum)).cast("double") / 1e6)
      .withColumn("phDec",
        (max(col("_mDec")).over(cum) - col("_mDec")).cast("double") / 1e6)
      .withColumn("drift",
        col("_rn") >= minInstances &&
          (col("phInc") > lambda || col("phDec") > lambda))
      .drop("_rn", "_v6", "_s6", "_mean6", "_dev6", "_mInc", "_mDec")
  }

  /** Bin index for [[psi]]: equal-width from (lo, hi), clamped; the
    * degenerate lo == hi reference collapses to bin 0. */
  private def psiBin(v: Column, lo: Column, hi: Column, nBins: Int): Column =
    when(hi > lo,
      least(greatest(floor((v - lo) / ((hi - lo) / lit(nBins.toDouble))),
        lit(0L)), lit(nBins - 1L)))
      .otherwise(0L).cast("int")

  /** Per-key equal-width bin edges `_lo`/`_hi` of the reference values. */
  private def binEdges(ref: DataFrame, keyCols: Seq[String], v: Column): DataFrame =
    ref.groupBy(keyCols.map(col): _*).agg(min(v).as("_lo"), max(v).as("_hi"))

  /** The non-null `v` rows of `df` with their reference bin `_bin`. */
  private def binned(df: DataFrame, edges: DataFrame, keyCols: Seq[String],
      v: Column, nBins: Int): DataFrame =
    df.where(v.isNotNull)
      .join(broadcast(edges), keyCols)
      .withColumn("_bin", psiBin(v, col("_lo"), col("_hi"), nBins))

  /** The binned frame [[psi]], [[jsDivergence]] and [[hellinger]] share:
    * one row per (key, bin) — empty bins included — with the smoothed
    * reference and current shares (cnt + 0.5)/(total + nBins·0.5),
    * returned as the two share Columns over that frame. */
  private def binShares(ref: DataFrame, cur: DataFrame, keyCols: Seq[String],
      valCol: String, nBins: Int): (DataFrame, Column, Column) = {
    val v = col(valCol).cast("double")
    val edges = binEdges(ref, keyCols, v)
    def counts(df: DataFrame, as: String): DataFrame =
      binned(df, edges, keyCols, v, nBins)
        .groupBy((keyCols :+ "_bin").map(col): _*)
        .agg(count(lit(1)).as(as))
    val rc = counts(ref, "_rc")
    val cc = counts(cur, "_cc")
    val bins = edges.select(keyCols.map(col) :+
      explode(sequence(lit(0), lit(nBins - 1))).as("_bin"): _*)
    val joined = bins
      .join(rc, keyCols :+ "_bin", "left")
      .join(cc, keyCols :+ "_bin", "left")
      .withColumn("_rc", coalesce(col("_rc"), lit(0L)))
      .withColumn("_cc", coalesce(col("_cc"), lit(0L)))
    val tots = joined.groupBy(keyCols.map(col): _*)
      .agg(sum("_rc").as("_rt"), sum("_cc").as("_ct"))
    val half = lit(nBins * 0.5)
    (joined.join(broadcast(tots), keyCols),
      (col("_rc") + 0.5) / (col("_rt") + half),
      (col("_cc") + 0.5) / (col("_ct") + half))
  }

  /** Population Stability Index (the scorecard-industry drift standard,
    * e.g. Siddiqi 2006): equal-width bins from the REFERENCE window's
    * per-key min/max; psi = Σ_b (c_b − r_b)·ln(c_b/r_b) over smoothed
    * bin shares (cnt + 0.5)/(total + nBins·0.5) — the Laplace floor
    * keeps empty bins finite and makes every share an exact-input
    * rational. Conventional read: <0.1 stable, 0.1–0.2 drifting, >0.2
    * drifted (`drifted` column uses `threshold`).
    *
    * Scale shape: one hash agg per side for bin counts + one tiny agg
    * for edges; the bins frame is keys×nBins (model-sized, built from
    * the edges — zero-count bins still contribute via smoothing); one
    * ln per (key, bin). The per-key Σ over bins quantizes each term to
    * 6dp fixed-point longs first (order-exact — the q174 device), so
    * the only cross-engine assumption is ln parity on identical
    * doubles, the same assumption the NB/LM family already pins. */
  def psi(ref: DataFrame, cur: DataFrame, keyCols: Seq[String],
      valCol: String, nBins: Int = 10, threshold: Double = 0.2): DataFrame = {
    val (shares, rs, cs) = binShares(ref, cur, keyCols, valCol, nBins)
    shares
      .withColumn("_t6",
        graft.core.fixedPointLong((cs - rs) * log(cs / rs), 6))
      .groupBy(keyCols.map(col): _*)
      .agg((sum("_t6") / 1e6).as("psi"))
      .withColumn("drifted", col("psi") > threshold)
  }

  /** Jensen–Shannon divergence between the reference and current value
    * distributions, PSI's symmetric bounded sibling: JSD = ½KL(p‖m) +
    * ½KL(q‖m) with m = (p+q)/2 — bounded in [0, ln 2], defined even for
    * disjoint supports (where PSI's log ratio blows up), the standard
    * corpus-mix / shard-balance comparison metric. Same binning +
    * Laplace smoothing as [[psi]]; per-bin terms are 8dp fixed-point
    * longs (order-exact), ln parity as everywhere.
    *
    * Scale: identical shape to [[psi]] — two binned hash aggregates +
    * model-sized bin join. */
  def jsDivergence(ref: DataFrame, cur: DataFrame, keyCols: Seq[String],
      valCol: String, nBins: Int = 10, threshold: Double = 0.1): DataFrame = {
    val (shares, rs, cs) = binShares(ref, cur, keyCols, valCol, nBins)
    val ms = (rs + cs) / 2.0
    shares
      .withColumn("_t8", graft.core.fixedPointLong(
        lit(0.5) * rs * log(rs / ms) + lit(0.5) * cs * log(cs / ms), 8))
      .groupBy(keyCols.map(col): _*)
      .agg((sum("_t8") / 1e8).as("jsd"))
      .withColumn("drifted", col("jsd") > threshold)
  }

  /** Per-dimension embedding drift: explode both snapshots to
    * (dim, value), exact 6dp fixed-point moment sums per (side, dim),
    * Welch z per dimension — the axis-level diagnosis behind
    * [[centroidDrift]]'s single number ("WHICH dimensions moved", the
    * first question when an embedding model is hot-swapped). One row
    * per dimension: dim, n_ref, n_cur, mean_ref, mean_cur, z, drifted.
    *
    * Scale: the exploded frame is rows×dims but reduces in one hash
    * aggregate to dims-sized stats — map-side combined, no shuffle of
    * the raw explode. */
  def dimensionDrift(ref: DataFrame, cur: DataFrame, vecCol: String,
      threshold: Double = 3.0): DataFrame = {
    def stats(df: DataFrame, side: String): DataFrame =
      df.where(col(vecCol).isNotNull)
        .select(posexplode(col(vecCol)).as(Seq("dim", "_v")))
        .select(col("dim"),
          graft.core.fixedPointLong(col("_v").cast("double"), 6).as("_f"))
        .groupBy(col("dim"))
        .agg(count(lit(1)).as(s"n_$side"),
          sum(col("_f").cast("decimal(38,0)")).as(s"_s$side"),
          sum((col("_f").cast("decimal(38,0)") *
            col("_f").cast("decimal(38,0)")).cast("decimal(38,0)"))
            .as(s"_q$side"))
    def m(side: String) = col(s"_s$side").cast("double") /
      col(s"n_$side").cast("double") / 1e6
    def v(side: String) = {
      val n = col(s"n_$side").cast("double")
      (col(s"_q$side").cast("double") -
        col(s"_s$side").cast("double") * col(s"_s$side").cast("double") /
          n) / (n - 1) / 1e12
    }
    stats(ref, "ref").join(stats(cur, "cur"), "dim")
      .withColumn("mean_ref", m("ref"))
      .withColumn("mean_cur", m("cur"))
      .withColumn("z", (m("ref") - m("cur")) /
        sqrt(v("ref") / col("n_ref").cast("double") +
          v("cur") / col("n_cur").cast("double")))
      .withColumn("drifted", abs(col("z")) > threshold)
      .select("dim", "n_ref", "n_cur", "mean_ref", "mean_cur", "z",
        "drifted")
  }

  /** Hellinger distance between the reference and current value
    * distributions: H = √(1 − BC) with the Bhattacharyya coefficient
    * BC = Σ√(pᵢ·qᵢ) — a bounded [0,1] metric (a true metric, unlike
    * JSD's divergence) whose √-overlap form is the standard
    * histogram-similarity readout. Same binning + Laplace smoothing as
    * [[psi]]/[[jsDivergence]]; per-bin √(p·q) terms are 8dp fixed-point
    * longs (order-exact). One row per key: keyCols..., bc, hellinger,
    * drifted. */
  def hellinger(ref: DataFrame, cur: DataFrame, keyCols: Seq[String],
      valCol: String, nBins: Int = 10, threshold: Double = 0.2)
      : DataFrame = {
    val (shares, rs, cs) = binShares(ref, cur, keyCols, valCol, nBins)
    shares
      .withColumn("_t8", graft.core.fixedPointLong(sqrt(rs * cs), 8))
      .groupBy(keyCols.map(col): _*)
      .agg((sum("_t8") / 1e8).as("bc"))
      .withColumn("hellinger", sqrt(lit(1.0) - least(col("bc"), lit(1.0))))
      .withColumn("drifted", col("hellinger") > threshold)
  }

  /** Exact 1-D Wasserstein-1 (earth-mover) distance between the
    * reference and current value distributions per key: W₁ = ∫|F_ref −
    * F_cur| dx over the merged empirical CDFs. The integral complement
    * of the KS family's sup statistic ([[graft.seq.SeriesKernels]]
    * changePoint) and the unbinned exact sibling of [[psi]]/
    * [[jsDivergence]] — it sees HOW FAR mass moved, not just that it
    * moved, in the value's own units (a 2× feature re-scale scores
    * proportionally; PSI saturates), and needs no bin-count choice.
    *
    * Exactness: merged values are sorted once per key; at each row the
    * peer-inclusive running counts (RANGE frame — ties carry the whole
    * tie group on both engines) give |Ra·n_cur − Ca·n_ref| as an exact
    * integer, scaled by the segment width to the next physical row
    * (zero within a tie group, so tie-internal order is irrelevant);
    * the per-segment terms are 8dp fixed-point longs, summed order-free.
    * Keys present on only one side emit NULL (W₁ undefined).
    *
    * Scale: one union + one per-key sort exchange — the change-point
    * window family's shape; counts, not values, cross the network in
    * the aggregate. Parallelism is key-bound like q18 (the documented
    * window ceiling); at few-key/100 TB scale route through the
    * [[graft.seq.HaloWindows]] pattern instead. */
  def wasserstein(ref: DataFrame, cur: DataFrame, keyCols: Seq[String],
      valCol: String, threshold: Double = 1.0): DataFrame = {
    val v = col(valCol).cast("double")
    def side(df: DataFrame, r: Int): DataFrame =
      df.where(v.isNotNull).select(keyCols.map(col) :+ v.as("_v") :+
        lit(r.toLong).as("_r") :+ lit(1L - r).as("_c"): _*)
    val merged = side(ref, 1).unionByName(side(cur, 0))
    val w = Window.partitionBy(keyCols.map(col): _*).orderBy("_v", "_r")
    val whole = w.rowsBetween(Window.unboundedPreceding,
      Window.unboundedFollowing)
    val num = abs(col("_ra") * col("_nc") - col("_ca") * col("_nr"))
    merged
      .withColumn("_ra", sum("_r").over(w)) // RANGE frame: peers included
      .withColumn("_ca", sum("_c").over(w))
      .withColumn("_nr", sum("_r").over(whole))
      .withColumn("_nc", sum("_c").over(whole))
      .withColumn("_width", coalesce(lead("_v", 1).over(w) - col("_v"), lit(0.0)))
      .withColumn("_t8", when(col("_nr") > 0 && col("_nc") > 0,
        graft.core.fixedPointLong(
          num.cast("double") * col("_width") /
            (col("_nr").cast("double") * col("_nc")), 8))
        .otherwise(lit(0L)))
      .groupBy(keyCols.map(col): _*)
      .agg(min("_nr").as("_nr"), min("_nc").as("_nc"),
        (sum("_t8") / 1e8).as("_w1raw"))
      .withColumn("w1",
        when(col("_nr") > 0 && col("_nc") > 0, col("_w1raw")))
      .select(keyCols.map(col) :+ col("w1") :+
        (col("w1") > threshold).as("drifted"): _*)
  }

  /** Benford expected first-digit frequencies p_d = log10(1 + 1/d),
    * d = 1..9 — computed once here and interpolated into the oracle SQL
    * as decimal literals, so both engines use the bit-identical constant
    * (no cross-engine log10 in either hot path). */
  val benfordExpected: IndexedSeq[Double] =
    (1 to 9).map(d => math.log10(1.0 + 1.0 / d))

  /** Benford first-significant-digit conformity test (engine addition;
    * the fraud-audit standard after Nigrini, "Benford's Law", Wiley
    * 2012): per key, the observed first-digit distribution of |value|
    * vs p_d = log10(1+1/d); emits n, χ² = n·Σ_d (obs_d−p_d)²/p_d, the
    * mean absolute deviation Σ|obs−p|/9, and a nonconforming flag
    * (χ² > `chi2Crit`, default the df=8 α=0.05 critical value 15.507).
    * Fabricated or re-scaled numeric feeds break Benford long before
    * their summary stats move — a corpus-screening complement to the
    * distribution-drift family above.
    *
    * Determinism: the first digit comes from a fixed threshold chain
    * (no log10 on data — IEEE divide+floor both engines compute
    * identically); per-digit counts are exact integers; χ²/MAD are
    * fixed left-associated 9-term expressions over count/n ratios, so
    * the oracle replays them bit-for-bit. |value| outside [1e-3, 1e6)
    * and zero/null are excluded.
    *
    * Scale: one hash aggregate (9 conditional counts), map-side
    * combined; output is key-sized. */
  def benford(data: DataFrame, keyCols: Seq[String], valCol: String,
      chi2Crit: Double = 15.507): DataFrame = {
    val v = abs(col(valCol).cast("double"))
    val d = when(v >= 100000, floor(v / 100000))
      .when(v >= 10000, floor(v / 10000))
      .when(v >= 1000, floor(v / 1000))
      .when(v >= 100, floor(v / 100))
      .when(v >= 10, floor(v / 10))
      .when(v >= 1, floor(v))
      .when(v >= 0.1, floor(v * 10))
      .when(v >= 0.01, floor(v * 100))
      .when(v >= 0.001, floor(v * 1000))
    val withD = data.where(col(valCol).isNotNull)
      .withColumn("_d", d).where(col("_d").isNotNull)
    val aggs = (1 to 9).map(i => count(when(col("_d") === i, 1)).as(s"_c$i"))
    val g = withD.groupBy(keyCols.map(col): _*)
      .agg(aggs.head, aggs.tail: _*)
      .withColumn("n", (1 to 9).map(i => col(s"_c$i")).reduce(_ + _))
    val nb = col("n").cast("double")
    def obs(i: Int) = col(s"_c$i").cast("double") / nb
    val chi = (1 to 9).map { i =>
      val p = benfordExpected(i - 1)
      (obs(i) - p) * (obs(i) - p) / p
    }.reduce(_ + _) * nb
    val mad = (1 to 9).map(i => abs(obs(i) - benfordExpected(i - 1)))
      .reduce(_ + _) / 9
    g.withColumn("chi2", chi)
      .withColumn("madStat", mad)
      .withColumn("nonconforming", col("chi2") > chi2Crit)
      .select((keyCols :+ "n" :+ "chi2" :+ "madStat" :+ "nonconforming")
        .map(col): _*)
  }

  /** Per-key reference model for the streaming PSI twin
    * ([[graft.streaming.StreamScorers.psiStream]]): edges + bin counts +
    * total, collected driver-side (keys × nBins longs — model-sized). */
  case class PsiRef(lo: Double, hi: Double, counts: Array[Long], total: Long)

  def psiRefModel(ref: DataFrame, keyCol: String, valCol: String,
      nBins: Int = 10): Map[String, PsiRef] = {
    val v = col(valCol).cast("double")
    val rows = binned(ref, binEdges(ref, Seq(keyCol), v), Seq(keyCol), v, nBins)
      .groupBy(col(keyCol).cast("string").as("_k"), col("_bin"))
      .agg(count(lit(1)).as("_c"), first("_lo").as("_lo"), first("_hi").as("_hi"))
      .collect()
    rows.groupBy(_.getAs[String]("_k")).map { case (k, rs) =>
      val counts = new Array[Long](nBins)
      rs.foreach(r => counts(r.getAs[Int]("_bin")) = r.getAs[Long]("_c"))
      k -> PsiRef(rs.head.getAs[Double]("_lo"), rs.head.getAs[Double]("_hi"),
        counts, counts.sum)
    }
  }

  /** Embedding-distribution drift via the energy distance (Székely &
    * Rizzo 2004, "Testing for equal distributions in high dimension"):
    * E = 2·E‖X−Y‖ − E‖X−X'‖ − E‖Y−Y'‖ over two embedding samples —
    * ≥ 0, and 0 iff the distributions coincide. The distribution-level
    * "did this crawl's embedding space shift vs the last one" check the
    * scalar drift detectors (§2.9) can't express, metric-free in any
    * dimension (no density estimation, unlike the grid detector).
    *
    * Each expectation is a V-statistic over all ordered pairs (self
    * pairs contribute 0), evaluated as one cross join + codegen'd
    * distance per term. Quadratic by nature, so the operator bounds
    * BOTH sides to a deterministic `maxSample` (md5-of-`idCol` order —
    * a total, engine-independent order; orderBy+limit compiles to a
    * distributed TakeOrdered, no full sort). The statistic is a sample
    * estimate anyway — what a 100 TB caller needs is a bounded-cost
    * estimator, not 10^21 pair distances. Pass maxSample = 0 to
    * disable. Output (one row): n, m (SAMPLED sizes), exy, exx, eyy,
    * energy. */
  def embeddingEnergyDistance(a: DataFrame, b: DataFrame,
      vecCol: String, idCol: String = null, maxSample: Int = 0): DataFrame = {
    val spark = a.sparkSession
    graft.expr.GraftFunctions.register(spark)
    def side(df: DataFrame): DataFrame = {
      val base = df
        .select(transform(col(vecCol), x => x.cast("double")).as("v"))
        .withColumn("vsq", call_function("vec_dot", col("v"), col("v")))
      if (maxSample > 0 && idCol != null)
        // repartition after the limit: a global limit collapses to one
        // partition, which would serialize the whole cross join.
        // localCheckpoint: each side feeds a count + TWO mean-distance
        // sides below — without materializing the ≤maxSample-row sample,
        // the md5 TakeOrdered re-scans the full corpus 8 times (measured
        // 3× growth per 4× corpus on a curve that is flat by design)
        df.orderBy(md5(col(idCol).cast("string"))).limit(maxSample)
          .repartition(spark.sparkContext.defaultParallelism)
          .select(transform(col(vecCol), x => x.cast("double")).as("v"))
          .withColumn("vsq", call_function("vec_dot", col("v"), col("v")))
          .localCheckpoint(true)
      else base
    }
    def aliased(s: DataFrame, as: String) =
      s.select(col("v").as(as), col("vsq").as(as + "_sq"))
    // ‖x−y‖ = sqrt(‖x‖² + ‖y‖² − 2x·y) with the norms precomputed per
    // row: the per-pair work is ONE codegen'd vec_dot — no interpreted
    // zip_with lambda, no per-pair array allocation (that formulation
    // ran ~100× slower). greatest(…, 0) guards cancellation underflow.
    def meanDist(l: DataFrame, cl: String, r: DataFrame, cr: String): Double =
      l.crossJoin(r)
        .agg(avg(sqrt(greatest(
          col(cl + "_sq") + col(cr + "_sq") -
            lit(2.0) * call_function("vec_dot", col(cl), col(cr)),
          lit(0.0)))).as("d"))
        .head().getDouble(0)
    val sa = side(a)
    val sb = side(b)
    val ax = aliased(sa, "xa")
    val ax2 = aliased(sa, "xb")
    val by = aliased(sb, "ya")
    val by2 = aliased(sb, "yb")
    val n = sa.count()
    val m = sb.count()
    val exy = meanDist(ax, "xa", by2, "yb")
    val exx = meanDist(ax, "xa", ax2, "xb")
    val eyy = meanDist(by, "ya", by2, "yb")
    import spark.implicits._
    Seq((n, m, exy, exx, eyy, 2.0 * exy - exx - eyy))
      .toDF("n", "m", "exy", "exx", "eyy", "energy")
  }

  /** Per-key embedding centroid drift between a reference and a current
    * corpus snapshot: cosine similarity and L2 distance between the two
    * per-key mean vectors (+ per-side counts). The cheap first-line
    * embedding-space monitor — [[embeddingEnergyDistance]] compares the
    * full distributions but is sample-bounded quadratic; centroids
    * catch the common failure (a model/version change or topic shift
    * translating the whole cloud) with two linear passes, per key.
    *
    * Exactness: per-(key, dim) component sums are 6dp fixed-point longs
    * (order-free); the dim-sized dot/norm roll-ups quantize each product
    * of the resulting exact doubles at 9dp. Zero-norm sides emit NULL
    * cosine. Keys must appear on both sides (inner join on key+dim).
    * The drift verdict keys on the centroid L2 distance, not cosine —
    * on a zero-mean cloud (normalized embeddings centered per key) the
    * centroids are noise-sized and their angle is meaningless, while
    * ‖Δcentroid‖ still reads in embedding units.
    *
    * Scale: two posexplode hash-aggregates (map-side combined; exchange
    * carries keys×dims, not vectors) + a model-sized join/roll-up. */
  def embeddingCentroidDrift(ref: DataFrame, cur: DataFrame,
      keyCols: Seq[String], vecCol: String,
      threshold: Double = 0.5): DataFrame = {
    def centroid(df: DataFrame, tag: String): DataFrame =
      df.where(col(vecCol).isNotNull)
        .select(keyCols.map(col) :+ posexplode(col(vecCol)): _*)
        .groupBy((keyCols :+ "pos").map(col): _*)
        .agg(sum(graft.core.fixedPointLong(col("col").cast("double"), 6))
          .as(s"_s$tag"), count(lit(1)).as(s"_n$tag"))
    val j = centroid(ref, "r").join(centroid(cur, "c"), keyCols :+ "pos")
    val cr = (col("_sr") / 1e6) / col("_nr")
    val cc = (col("_sc") / 1e6) / col("_nc")
    def fp9(c: Column) = graft.core.fixedPointLong(c, 9)
    val cosExpr = when(col("_rr") > 0 && col("_c2") > 0,
      (col("_dot") / 1e9) /
        (sqrt(col("_rr") / 1e9) * sqrt(col("_c2") / 1e9)))
    j.groupBy(keyCols.map(col): _*)
      .agg(sum(fp9(cr * cc)).as("_dot"), sum(fp9(cr * cr)).as("_rr"),
        sum(fp9(cc * cc)).as("_c2"),
        sum(fp9((cr - cc) * (cr - cc))).as("_d2"),
        max("_nr").as("n_ref"), max("_nc").as("n_cur"))
      .select(keyCols.map(col) :+ col("n_ref") :+ col("n_cur") :+
        cosExpr.as("cos") :+ sqrt(col("_d2") / 1e9).as("l2") :+
        (sqrt(col("_d2") / 1e9) > threshold).as("drifted"): _*)
  }

  case class AdwinOut(key: String, seq: Long, value: Double,
      winStart: Long, drift: Boolean)

  /** ADWIN — adaptive windowing drift detection (Bifet & Gavaldà,
    * SDM'07), the last of the canonical detector set (DDM / EDDM /
    * FHDDM / ECDD / LFR / Page-Hinkley / CUSUM all above): keep a
    * window of the metric since the last change; at each new point test
    * EVERY cut c of the window — drift when the two sub-window means
    * differ by more than the Hoeffding bound
    * ε(c) = R·√( (1/n₁ + 1/n₂)/2 · ln(4·W/δ) ),
    * and on drift restart the window at the current point (the
    * drop-to-current simplification of the paper's bucket shrink — same
    * detections, deterministic window bounds).
    *
    * Determinism: values quantize to 4dp longs and the window keeps
    * EXACT integer prefix sums, so each mean is the same
    * long-subtract → double-divide on both engines; √/ln ride libm
    * parity, and the whole per-key walk replays in a recursive-CTE
    * oracle (cut check = one lateral aggregate over the prefix frame).
    *
    * Scale: one shuffle on the key; per-key state is the prefix array
    * of the CURRENT window (resets on drift). Worst-case O(n·W) cut
    * checks per key — the classic ADWIN cost; thin or pre-aggregate
    * unbounded streams (the reference family's documented contract).
    * `r` is the value range the Hoeffding bound assumes. */
  def adwin(data: DataFrame, keyCols: Seq[String], seqCol: String,
      valCol: String, delta: Double = 0.002, r: Double = 1.0):
      Dataset[AdwinOut] = {
    val spark = data.sparkSession
    import spark.implicits._
    val pts = data.select(
      concat_ws("|", keyCols.map(c => col(c).cast("string")): _*).as("key"),
      col(seqCol).cast("long").as("seq"),
      col(valCol).cast("double").as("value"))
      .where(col("value").isNotNull)
      .as[(String, Long, Double)]
    pts.groupByKey(_._1).flatMapGroups { (k, it) =>
      var st = AdwinState()
      it.toArray.sortBy(_._2).iterator.map { case (_, seq, v) =>
        val (next, drift) = adwinStep(delta, r)(st, v)
        st = next
        AdwinOut(k, seq, v, st.winStart, drift)
      }
    }
  }

  /** ADWIN state: the exact 4dp prefix sums of the window since the
    * last drift (`prefix(0)` = 0, one entry per window row after it)
    * and the key's rows seen so far. */
  case class AdwinState(prefix: Array[Long] = Array(0L), nSeen: Long = 0L) {
    /** 1-based row at which the current window starts. */
    def winStart: Long = nSeen - prefix.length + 2
  }

  /** One ADWIN step on the next value: (state, v) → (state, drift). The
    * window's local prefix differences equal the full-series ones
    * exactly (long addition is associative), so every mean and bound is
    * the same double wherever the window starts. The streaming twin
    * steps the same function. */
  def adwinStep(delta: Double, r: Double)(st: AdwinState,
      v: Double): (AdwinState, Boolean) = {
    val f = graft.core.fixedPoint(v, 4).toLong
    val w = st.prefix.length // window length with v
    val q = java.util.Arrays.copyOf(st.prefix, w + 1)
    q(w) = q(w - 1) + f
    val lnW = math.log(4.0 * w.toDouble / delta)
    var drift = false
    var c = 1
    while (!drift && c <= w - 1) {
      val n1 = c.toDouble
      val n2 = (w - c).toDouble
      val m1 = (q(c).toDouble / 10000.0) / n1
      val m2 = ((q(w) - q(c)).toDouble / 10000.0) / n2
      val eps = r * math.sqrt(((1.0 / n1 + 1.0 / n2) / 2.0) * lnW)
      if (math.abs(m1 - m2) > eps) drift = true
      c += 1
    }
    (AdwinState(if (drift) Array(0L, f) else q, st.nSeen + 1), drift)
  }
}
