package graft.seq

import graft.core._
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Sequence / time-series operators (SURVEY.md §2.5) expressed as Spark
  * window functions wherever the algorithm allows.
  *
  * The reference materializes each whole per-key series in one executor
  * (`groupByKey` + in-memory sort, e.g. MarkovChainPredictor.scala:101-107)
  * — a scalability ceiling. Window functions instead sort within the
  * shuffle (one exchange + sort per lineage, spillable, no per-key memory
  * ceiling) and stay inside whole-stage codegen. Kernels that genuinely
  * need the whole series (FFT, two-sample stats, discord search) live in
  * [[SeriesKernels]].
  *
  * All window orderings use a unique seq column — callers must pass a
  * tie-free ordering column or window contents (and scores) would be
  * nondeterministic across engines/runs.
  */
object SeqOps {

  private def byKey(keyCols: Seq[String], seqCol: String) =
    Window.partitionBy(keyCols.map(col): _*).orderBy(seqCol)

  /** Markov-chain sequence scorer — windowed variant of
    * seq/MarkovChainPredictor.scala:92-137 + MarkovModelPredictor.java:395-482.
    * Emits all four metrics over a sliding window of `window` transitions:
    * missProb (avg 1-p), missRate (avg target != argmax), entropyRed
    * (sum non-target entropy / sum full entropy), condProb (avg -ln p).
    * `score` = the chosen metric; rows whose window is not yet full score null/I.
    * Back-propagates O over the window via a forward-looking max
    * (anti-causal tag spread, MarkovChainPredictor.scala:122-129).
    *
    * `transitions` model: (modelKeyCols...,) fromState, toState, prob —
    * broadcast-joined (tiny: |states|² rows per model key).
    */
  def markovChainScore(
      data: DataFrame,
      transitions: DataFrame,
      keyCols: Seq[String],
      seqCol: String,
      stateCol: String,
      window: Int,
      metric: String = "condProb",
      threshold: Double = 1.5,
      modelKeyCols: Seq[String] = Nil,
      perKeyThresholds: Option[DataFrame] = None): DataFrame = {
    val w = byKey(keyCols, seqCol)
    // per-fromState derived stats: entropy H(from), argmax target
    val mw = Window.partitionBy((modelKeyCols :+ "fromState").map(col): _*)
    val enriched = transitions
      .withColumn("h", sum(-col("prob") * log(col("prob"))).over(mw))
      .withColumn("isMax",
        (col("prob") === max("prob").over(mw)).cast("int"))
    val withFrom = data.withColumn("fromState", lag(col(stateCol), 1).over(w))
    val joined = withFrom.join(
      broadcast(enriched
        .withColumnRenamed("toState", stateCol)),
      modelKeyCols ++ Seq("fromState", stateCol), "left")
    val frame = w.rowsBetween(-(window - 1), 0)
    val nTrans = count("prob").over(frame)
    val scoreExpr = metric match {
      case "missProb" => avg(lit(1.0) - col("prob")).over(frame)
      case "missRate" => avg(lit(1) - col("isMax")).over(frame)
      case "entropyRed" =>
        sum(col("h") - (-col("prob") * log(col("prob")))).over(frame) /
          sum(col("h")).over(frame)
      case "condProb" => avg(-log(col("prob"))).over(frame)
      case other => throw new IllegalArgumentException(s"unknown metric $other")
    }
    val scoredBase = joined
      .withColumn("score", when(nTrans === window, scoreExpr))
    // optional per-key threshold override (path.thresholdByKey,
    // MarkovChainPredictor.scala:74,87) — joined BEFORE rawTag so the
    // O-spread below honors it; missing keys fall back to the global
    // threshold (OutlierUtility.getThreshold). File keys join on string
    // form; threshold files are model-sized, always broadcast.
    val scored = perKeyThresholds match {
      case None =>
        scoredBase.withColumn("rawTag", label(col("score"), lit(threshold)))
      case Some(t) =>
        val tn = keyCols.map(_ + "__tk")
        val tt = t.select(keyCols.zip(tn).map { case (c, n) =>
          col(c).cast("string").as(n) } :+ col("threshold").as("__pkthr"): _*)
        val cond = keyCols.zip(tn)
          .map { case (c, n) => scoredBase(c).cast("string") === tt(n) }
          .reduce(_ && _)
        scoredBase.join(broadcast(tt), cond, "left")
          .withColumn("rawTag", label(col("score"),
            coalesce(col("__pkthr"), lit(threshold))))
          .drop(tn :+ "__pkthr": _*)
    }
    // spread O back over the window: row i is O if any of rows i..i+w-1 raw-O
    val fwd = byKey(keyCols, seqCol).rowsBetween(0, window - 1)
    scored
      .withColumn("tag",
        when(col("rawTag") === "I", "I")
          .when(max((col("rawTag") === "O").cast("int")).over(fwd) === 1, "O")
          .otherwise("N"))
      .drop("fromState", "prob", "h", "isMax", "rawTag")
  }

  /** Outlier-score level shift (common/OutlierScoreLevelShift.scala:35-120):
    * z = (mean_short - mean_long) / stddev_long over two trailing windows of
    * the score column; retag O when z > minZ, back-propagated over the short
    * window (:92-101). */
  def scoreLevelShift(
      tagged: DataFrame,
      keyCols: Seq[String],
      seqCol: String,
      longWin: Int,
      shortWin: Int,
      minZ: Double): DataFrame = {
    val w = byKey(keyCols, seqCol)
    val lw = w.rowsBetween(-(longWin - 1), 0)
    val sw = w.rowsBetween(-(shortWin - 1), 0)
    val z = (avg("score").over(sw) - avg("score").over(lw)) /
      stddev_samp(col("score")).over(lw)
    val flagged = tagged
      .withColumn("z",
        when(count("score").over(lw) === longWin && stddev_samp(col("score")).over(lw) > 0, z))
      .withColumn("shifted", (col("z").isNotNull && col("z") > minZ).cast("int"))
    val fwd = byKey(keyCols, seqCol).rowsBetween(0, shortWin - 1)
    flagged
      .withColumn("tag",
        when(max("shifted").over(fwd) === 1, "O").otherwise(col("tag")))
      .drop("shifted")
  }

  /** Local neighborhood detector (seq/LocalNeighborhoodDetector.scala:78-110):
    * centered odd window of `2*half+1`; score = average distance to
    * neighbors, or neighbor count within `dist` when `byCount`. */
  def localNeighborhood(
      data: DataFrame,
      keyCols: Seq[String],
      seqCol: String,
      valCol: String,
      half: Int,
      byCount: Boolean = false,
      dist: Double = 1.0,
      threshold: Double = 3.0): DataFrame = {
    val frame = byKey(keyCols, seqCol).rowsBetween(-half, half)
    val lst = collect_list(col(valCol)).over(frame)
    val withN = data.withColumn("_nbrs", lst)
    val x = col(valCol)
    val full = size(col("_nbrs")) === 2 * half + 1
    val score =
      if (byCount) {
        // low neighbor count = anomalous → score is inverted count fraction
        val cnt = size(filter(col("_nbrs"), e => abs(e - x) <= lit(dist))) - 1
        lit(1.0) - cnt.cast("double") / (2.0 * half)
      } else {
        (aggregate(col("_nbrs"), lit(0.0), (acc, e) => acc + abs(e - x))) / (2.0 * half)
      }
    withN
      .withColumn("score", when(full, score))
      .withColumn("tag", label(col("score"), lit(threshold)))
      .drop("_nbrs")
  }

  /** Temporal outlier clustering (common/OutlierCluster.scala:35-115):
    * sessionize the O-tagged rows of each key by inter-arrival gap; inside
    * each cluster keep only the prototype (max score, earliest on ties) as
    * O and demote the rest to N — anti-flooding. */
  def outlierCluster(
      tagged: DataFrame,
      keyCols: Seq[String],
      seqCol: String,
      maxGap: Long): DataFrame = {
    val w = byKey(keyCols, seqCol)
    val outliers = tagged.where(col("tag") === "O")
      .withColumn("newC",
        (coalesce(col(seqCol) - lag(col(seqCol), 1).over(w), lit(Long.MaxValue)) > maxGap).cast("int"))
      .withColumn("cid", sum("newC").over(w.rowsBetween(Window.unboundedPreceding, 0)))
    val cw = Window.partitionBy((keyCols :+ "cid").map(col): _*)
      .orderBy(col("score").desc, col(seqCol))
    val keep = outliers
      .withColumn("rn", row_number().over(cw))
      .withColumn("tag", when(col("rn") === 1, "O").otherwise(lit("N")))
      .drop("newC", "cid", "rn")
    tagged.where(col("tag") =!= "O").unionByName(keep)
  }

  /** Change-point via mean-shift statistic (window-expressible variant of
    * misc/ChangePointDetector.scala:108-139 — the exact KS/CVM/AD kernels
    * live in SeriesKernels.changePoint): Welch-style
    * |mean_R - mean_L| / sqrt(varL/w + varR/w) over the two w-row windows
    * flanking each position; emit positions where stat >= critValue. */
  def changePointMeanShift(
      data: DataFrame,
      keyCols: Seq[String],
      seqCol: String,
      valCol: String,
      window: Int,
      critValue: Double): DataFrame = {
    val w = byKey(keyCols, seqCol)
    val left = w.rowsBetween(-window, -1)
    val right = w.rowsBetween(0, window - 1)
    val x = col(valCol)
    // drop null values up front so the row-position fullness counts below
    // agree with count-of-non-null semantics (avg/var_samp skip nulls; a
    // null row must not count toward frame fullness)
    val data0 = data.where(x.isNotNull)
    // ANSI mode: guard the denominator (constant windows → zero variance)
    val den = sqrt(var_samp(x).over(left) / window + var_samp(x).over(right) / window)
    val diff = abs(avg(x).over(right) - avg(x).over(left))
    val stat = when(den > 0, diff / den)
      .when(diff > 0, lit(Double.PositiveInfinity))
      .otherwise(lit(0.0))
    // frame fullness from row position, not frame-count windows — bounded
    // sliding counts recompute O(window) per row, row_number is O(1)
    val n = count(lit(1)).over(Window.partitionBy(keyCols.map(col): _*))
    val rn = row_number().over(w)
    data0
      .withColumn("cnt_l", least(rn - 1, lit(window)))
      .withColumn("cnt_r", least(n - rn + 1, lit(window)))
      .withColumn("stat", stat)
      .where(col("cnt_l") === window && col("cnt_r") === window &&
        col("stat") >= critValue)
      .drop("cnt_l", "cnt_r")
  }

  /** Additive seasonal decomposition + residual anomaly score (classical
    * moving-average decomposition; the model behind the reference's
    * per-cycle key extension, core/Seasonal.scala — where seasonal keying
    * fits one model per regime, this separates the regime signal from
    * the series itself):
    *   trend    = centered MA that spans exactly one period: plain
    *              ±(period−1)/2 average for odd periods, the classical
    *              2×period MA (half weight on both end rows) for even —
    *              either way a full-period span, so the seasonal
    *              component cancels out of the trend exactly,
    *   seasonal = per-phase (seq mod period) mean of the detrended
    *              series, centered to sum to zero per key,
    *   resid    = detrended − seasonal,
    *   z        = |resid − mean(resid)| / stddev(resid) per key.
    * One window pass + one model-sized phase aggregate + broadcast-size
    * join back; everything is windows/aggs — SQL-replayable. Rows whose
    * trend frame is not full carry null trend/resid/z. */
  def seasonalDecompose(data: DataFrame, keyCols: Seq[String], seqCol: String,
      valCol: String, period: Int): DataFrame = {
    val h = period / 2
    val x = col(valCol)
    val wo = Window.partitionBy(keyCols.map(col): _*).orderBy("seq")
    val keyed = data.where(x.isNotNull)
      .select(keyCols.map(col) :+ col(seqCol).cast("long").as("seq") :+
        x.cast("double").as("value"): _*)
    // the span sum is an explicit left-associated lag/lead chain, NOT a
    // sliding-frame sum: frame aggregation order is engine-internal
    // (Spark re-aggregates linearly, DuckDB segment-trees), and the
    // differing float association flips 4dp rounding boundaries; a
    // `+` chain evaluates in identical IEEE order in any engine. Any
    // null in the span (series edge) nulls the trend — exactly the
    // full-span condition.
    def at(i: Int): Column =
      if (i < 0) lag(col("value"), -i).over(wo)
      else if (i > 0) lead(col("value"), i).over(wo)
      else col("value")
    val trend =
      if (period % 2 == 1)
        (-h to h).map(at).reduceLeft(_ + _) / lit(period.toDouble)
      else
        // 2×period MA: inner span ±(h−1) at full weight, the two end
        // rows at half weight, normalized by period
        ((-(h - 1) to (h - 1)).map(at).reduceLeft(_ + _) +
          (at(-h) + at(h)) / 2) / lit(period.toDouble)
    val base = keyed
      .withColumn("trend", trend)
      .withColumn("detr", col("value") - col("trend"))
      .withColumn("phase", pmod(col("seq"), lit(period.toLong)))
    val wk = Window.partitionBy(keyCols.map(col): _*)
    val seas = base.where(col("detr").isNotNull)
      .groupBy((keyCols :+ "phase").map(col): _*)
      .agg(avg("detr").as("seasRaw"))
      .withColumn("seasonal", col("seasRaw") - avg("seasRaw").over(wk))
      .drop("seasRaw")
    val joined = base.join(broadcast(seas), keyCols :+ "phase", "left")
      .withColumn("resid", col("detr") - col("seasonal"))
    val stats = joined.groupBy(keyCols.map(col): _*)
      .agg(avg("resid").as("_mu"), stddev_samp("resid").as("_sd"))
    joined.join(broadcast(stats), keyCols)
      .withColumn("z", abs(col("resid") - col("_mu")) / col("_sd"))
      .select(keyCols.map(col) :+ col("seq") :+ col("value") :+ col("trend") :+
        col("seasonal") :+ col("resid") :+ col("z"): _*)
  }

  /** One-step-ahead forecast score, causal-window variant of
    * seq/OneStepAheadPredictor.scala:111-147 with replace-on-outlier off:
    * prediction = mean of the previous `window` values; score =
    * |actual - predicted| / stddev of all previous residuals. The
    * replace-on-outlier feedback variant (inherently sequential) is
    * SeriesKernels.oneStepAhead. */
  def oneStepAhead(
      data: DataFrame,
      keyCols: Seq[String],
      seqCol: String,
      valCol: String,
      window: Int,
      threshold: Double = 3.0): DataFrame = {
    val w = byKey(keyCols, seqCol)
    val prev = w.rowsBetween(-window, -1)
    val hist = w.rowsBetween(Window.unboundedPreceding, -1)
    val pred = avg(col(valCol)).over(prev)
    val withPred = data
      .withColumn("predicted", when(count(col(valCol)).over(prev) === window, pred))
      .withColumn("resid", col(valCol) - col("predicted"))
    val residStd = stddev_samp(col("resid")).over(hist)
    withPred
      .withColumn("score",
        when(col("resid").isNotNull && residStd > 0, abs(col("resid")) / residStd))
      .withColumn("tag", label(col("score"), lit(threshold)))
      .drop("resid")
  }

  /** Level-shift segments (level/OutlierLevelShift.scala:104-147):
    * shifted-positions (two-window z above `minZ`) merged into contiguous
    * [start,end] segments per key via the gaps-and-islands pattern.
    * Output: keyCols..., segStart, segEnd, n, avgShift. */
  def levelShiftSegments(
      data: DataFrame,
      keyCols: Seq[String],
      seqCol: String,
      valCol: String,
      window: Int,
      minZ: Double): DataFrame = {
    val w = byKey(keyCols, seqCol)
    val left = w.rowsBetween(-window, -1)
    val right = w.rowsBetween(0, window - 1)
    val x = col(valCol)
    // drop null values up front (same as changePointMeanShift and the
    // HaloWindows scale kernel): a null row must not occupy a frame
    // position, or the two formulations segment nully data differently
    val data0 = data.where(x.isNotNull)
    val zden = sqrt(var_samp(x).over(left) / window + var_samp(x).over(right) / window)
    val z = when(zden > 0, (avg(x).over(right) - avg(x).over(left)) / zden)
    val flagged = data0
      .withColumn("z", when(count(x).over(left) === window && count(x).over(right) === window, z))
      .withColumn("shifted", (col("z").isNotNull && abs(col("z")) >= minZ).cast("int"))
      .withColumn("newSeg",
        (col("shifted") === 1 &&
          coalesce(lag(col("shifted"), 1).over(w), lit(0)) === 0).cast("int"))
      .withColumn("segId", sum("newSeg").over(w.rowsBetween(Window.unboundedPreceding, 0)))
    flagged.where(col("shifted") === 1)
      .groupBy((keyCols :+ "segId").map(col): _*)
      .agg(
        min(seqCol).as("segStart"),
        max(seqCol).as("segEnd"),
        count(lit(1)).as("n"),
        avg("z").as("avgShift"))
      .drop("segId")
  }

  /** Autocorrelation at the given lags per key (chombo AutoCorrelation,
    * resource/cyd.sh:46 — cycle detection). Output: keyCols..., lag, ac. */
  def autocorrelation(
      data: DataFrame,
      keyCols: Seq[String],
      seqCol: String,
      valCol: String,
      lags: Seq[Int]): DataFrame = {
    val w = byKey(keyCols, seqCol)
    var df = data
    lags.foreach(l => df = df.withColumn(s"_lag$l", lag(col(valCol), l).over(w)))
    val aggs = lags.map(l => corr(col(valCol), col(s"_lag$l")).as(s"ac$l"))
    val wide = df.groupBy(keyCols.map(col): _*).agg(aggs.head, aggs.tail: _*)
    val kvs = lags.flatMap(l => Seq(lit(l), col(s"ac$l")))
    wide.select(keyCols.map(col) :+ explode(map(kvs.map(c => c: Column): _*)).as(Seq("lag", "ac")): _*)
  }

  /** Partial autocorrelation (PACF) per key via the Levinson–Durbin
    * recursion over [[autocorrelation]]'s estimates — the AR-order
    * selector next to ACF: ACF of an AR(p) series tails off while PACF
    * cuts to ~0 after lag p, so the pair decides the model order the
    * forecast scorers (OSA/Holt/Holt–Winters) should assume.
    *
    * Determinism: ACF inputs are FROZEN at 6dp (the q131 cut device) so
    * both engines recurse on bit-identical doubles; the order-sensitive
    * inner dot Σ aⱼ·ρ_{k−j} is a 12dp fixed-point integer sum
    * (order-free), every other recursion op is a fixed per-element
    * float expression. Zero innovation variance → reflection
    * coefficient 0 (guarded division). Keys with a NULL ACF at any lag
    * (too short) are dropped, as are zero-variance keys (filtered
    * BEFORE the corr call: under ANSI mode Spark's corr throws
    * DIVIDE_BY_ZERO on a constant series instead of returning NULL).
    *
    * Scale: the ACF's lag-window pass is the whole cost; the recursion
    * runs on key-sized rho arrays (maxLag elements) — model-sized. */
  /** Shared Levinson–Durbin state per key: `_rho` (6dp-frozen ACF,
    * lags 1..maxLag), `_ld` = struct(a: AR(maxLag) coefficients,
    * e: normalized innovation variance, p: PACF values). Zero-variance
    * keys are filtered BEFORE the corr call (ANSI DIVIDE_BY_ZERO);
    * keys with any NULL ACF (too short) are dropped. */
  private[seq] def levinsonModel(data: DataFrame, keyCols: Seq[String],
      seqCol: String, valCol: String, maxLag: Int): DataFrame = {
    require(maxLag >= 1, "maxLag >= 1")
    val varOk = data.groupBy(keyCols.map(col): _*)
      .agg(var_samp(col(valCol).cast("double")).as("_v"))
      .where(col("_v") > 0).select(keyCols.map(col): _*)
    val acf = autocorrelation(data.join(broadcast(varOk), keyCols),
      keyCols, seqCol, valCol, 1 to maxLag)
    val byKey = acf.where(col("ac").isNotNull)
      .withColumn("_rho6", graft.core.roundLikeDuck(col("ac"), 6))
      .groupBy(keyCols.map(col): _*)
      .agg(transform(array_sort(collect_list(struct(col("lag"), col("_rho6")))),
        s => s.getField("_rho6")).as("_rho"))
      .where(size(col("_rho")) === maxLag)
    val rho = col("_rho")
    val r1 = element_at(rho, 1)
    val init = struct(array(r1).as("a"),
      (lit(1.0) - r1 * r1).as("e"), array(r1).as("p"))
    val folded =
      if (maxLag == 1) init
      else aggregate(sequence(lit(2), lit(maxLag)), init, (st, kk) => {
        val aPrev = st.getField("a")
        val e = st.getField("e")
        val sFp = aggregate(sequence(lit(1), kk - 1), lit(0L), (s, j) =>
          s + graft.core.fixedPointLong(
            element_at(aPrev, j) * element_at(rho, kk - j), 12))
        val num = element_at(rho, kk) - sFp.cast("double") / 1e12
        val kap = when(e =!= 0.0, num / e).otherwise(lit(0.0))
        val aNew = concat(transform(sequence(lit(1), kk - 1), j =>
          element_at(aPrev, j) - kap * element_at(aPrev, kk - j)),
          array(kap))
        struct(aNew.as("a"), (e * (lit(1.0) - kap * kap)).as("e"),
          concat(st.getField("p"), array(kap)).as("p"))
      })
    byKey.withColumn("_ld", folded)
  }

  def pacf(data: DataFrame, keyCols: Seq[String], seqCol: String,
      valCol: String, maxLag: Int): DataFrame =
    levinsonModel(data, keyCols, seqCol, valCol, maxLag)
      .select(keyCols.map(col) :+
        posexplode(col("_ld").getField("p")).as(Seq("_pos", "pacf")): _*)
      .select(keyCols.map(col) :+ (col("_pos") + 1).as("lag") :+
        col("pacf"): _*)

  /** Seasonal and trend strength (the STL F-measures, Wang/Hyndman):
    * F_seasonal = max(0, 1 − Var(resid)/Var(seasonal+resid)) and
    * F_trend = max(0, 1 − Var(resid)/Var(value−seasonal)) over the
    * [[seasonalDecompose]] components — the scalar "is the seasonality
    * worth modeling" gate in front of Holt–Winters. Components are
    * frozen at the shared 4dp before the variance sums (exact
    * decimal/HUGEINT), so the F finish is a fixed double expression.
    * One row per key: keyCols..., n, seasonal_strength, trend_strength. */
  def seasonalStrength(data: DataFrame, keyCols: Seq[String],
      seqCol: String, valCol: String, period: Int): DataFrame = {
    val dec = seasonalDecompose(data, keyCols, seqCol, valCol, period)
      .where(col("resid").isNotNull)
    def f4(c: Column) = graft.core.fixedPointLong(c, 4)
    def dc(c: Column) = c.cast("decimal(38,0)")
    val pre = dec.select(keyCols.map(col) :+
      f4(col("resid")).as("_r") :+
      f4(col("seasonal") + col("resid")).as("_sr") :+
      f4(col("value") - col("seasonal")).as("_tr"): _*)
    val g = pre.groupBy(keyCols.map(col): _*)
      .agg(count(lit(1)).as("n"),
        sum(col("_r")).as("_s1"), sum(dc(dc(col("_r")) * dc(col("_r"))))
          .as("_q1"),
        sum(col("_sr")).as("_s2"), sum(dc(dc(col("_sr")) * dc(col("_sr"))))
          .as("_q2"),
        sum(col("_tr")).as("_s3"), sum(dc(dc(col("_tr")) * dc(col("_tr"))))
          .as("_q3"))
    val nD = col("n").cast("double")
    def vr(s: String, q: String) =
      (col(q).cast("double") -
        col(s).cast("double") * col(s).cast("double") / nD) / (nD - 1) / 1e8
    g.where(col("n") >= 3)
      .withColumn("seasonal_strength",
        greatest(lit(0.0), lit(1.0) - vr("_s1", "_q1") / vr("_s2", "_q2")))
      .withColumn("trend_strength",
        greatest(lit(0.0), lit(1.0) - vr("_s1", "_q1") / vr("_s3", "_q3")))
      .select(keyCols.map(col) :+ col("n") :+ col("seasonal_strength") :+
        col("trend_strength"): _*)
  }

  /** Two-level binary segmentation: the classic multiple-change-point
    * extension of the single mean-shift detector — level 0 finds the
    * best split of the whole series by the standardized mean-difference
    * statistic g(t) = √(n₁n₂/n)·|m₁−m₂| over EXACT prefix sums; level 1
    * re-runs inside each half. All segment means are exact fixed-point
    * prefix-sum ratios, g is frozen at 6dp before the arg-max (ties →
    * smaller t), z = g/σ_key flags significance — so the chosen splits
    * are engine-exact, not a float argmax. Output one row per examined
    * segment: keyCols..., level, seg_start, seg_end, split, g, z,
    * significant.
    *
    * Scale: one per-key sort window builds the prefix-sum frame; each
    * level is a frame-local arg-max (window over the key/segment) —
    * no pairwise work, no second scan of the data. */
  def binarySegmentation(data: DataFrame, keyCols: Seq[String],
      seqCol: String, valCol: String, minSegment: Int = 10,
      threshold: Double = 3.0): DataFrame = {
    require(minSegment >= 2, s"minSegment >= 2: $minSegment")
    val v = col(valCol).cast("double")
    val key = concat_ws("|", keyCols.map(c => col(c).cast("string")): _*)
    val ow = Window.partitionBy(col("_k"))
      .orderBy(col("_o").asc, col("_v").asc)
    val base = data.where(v.isNotNull)
      .select(key.as("_k"), col(seqCol).cast("long").as("_o"),
        graft.core.fixedPointLong(v, 4).as("_v"))
      .withColumn("_t", row_number().over(ow).cast("long"))
      .withColumn("_s", sum(col("_v")).over(
        ow.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val kw = Window.partitionBy(col("_k"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    // not persisted: each level is one window pass over this frame, and
    // an operator-owned persist would outlive the call (r7 audit rule)
    val pf = base
      .withColumn("_n", max(col("_t")).over(kw))
      .withColumn("_st", sum(col("_v")).over(kw))
      .withColumn("_q", sum(col("_v").cast("decimal(38,0)") *
        col("_v").cast("decimal(38,0)")).over(kw))
    val nD = col("_n").cast("double")
    val sigma = sqrt((col("_q").cast("double") -
      col("_st").cast("double") * col("_st").cast("double") / nD) /
      (nD - 1)) / 1e4
    // g(t) over segment [l, r] with prefix sums: 6dp-frozen statistic
    def g6(l: Column, r: Column, sl: Column, sr: Column): Column = {
      val n1 = (col("_t") - l + 1).cast("double")
      val n2 = (r - col("_t")).cast("double")
      val m1 = (col("_s") - sl).cast("double") / n1 / 1e4
      val m2 = (sr - col("_s")).cast("double") / n2 / 1e4
      graft.core.fixedPointLong(
        sqrt(n1 * n2 / (n1 + n2)) * abs(m1 - m2), 6)
    }
    def pick(seg: DataFrame, l: Column, r: Column, sl: Column, sr: Column,
        level: Int, segId: Column): DataFrame = {
      val cand = seg
        .withColumn("_l", l).withColumn("_r", r)
        .withColumn("_sl", sl).withColumn("_sr", sr)
        .where(col("_t") - col("_l") + 1 >= minSegment &&
          col("_r") - col("_t") >= minSegment)
        .withColumn("_g6", g6(col("_l"), col("_r"), col("_sl"), col("_sr")))
      val aw = Window.partitionBy(col("_k"), segId)
        .orderBy(col("_g6").desc, col("_t").asc)
      cand.withColumn("_rn", row_number().over(aw)).where(col("_rn") === 1)
        .withColumn("level", lit(level))
        .withColumn("g", col("_g6").cast("double") / 1e6)
        .withColumn("z", col("g") / sigma)
        .withColumn("significant", col("z") > threshold)
        .select(col("_k").as("key"), col("level"),
          col("_l").as("seg_start"), col("_r").as("seg_end"),
          col("_t").as("split"), col("g"), col("z"), col("significant"),
          col("_s").as("_ssplit"))
    }
    val l0 = pick(pf, lit(1L), col("_n"), lit(0L), col("_st"), 0, lit(0))
    // level 1: join the level-0 split back, examine both halves
    val b0 = l0.select(col("key").as("_k"), col("split").as("_t1"),
      col("_ssplit").as("_s1"))
    val joined = pf.join(broadcast(b0), "_k")
    val left = pick(joined.where(col("_t") <= col("_t1")),
      lit(1L), col("_t1"), lit(0L), col("_s1"), 1, lit(1))
    val right = pick(joined.where(col("_t") > col("_t1")),
      col("_t1") + 1, col("_n"), col("_s1"), col("_st"), 1, lit(2))
    val out = l0.unionByName(left).unionByName(right).drop("_ssplit")
    out
  }

  /** Dominant seasonal period per key: the lag in 2..maxLag with the
    * largest autocorrelation (lag 1 excluded — it is trivially high for
    * any smooth series). ACF values are frozen at 4dp BEFORE the
    * arg-max (the q21 evidence is that both engines' corr agree at
    * 4dp; the arg-max then compares identical frozen doubles, ties
    * break toward the smaller lag). One row per key:
    * keyCols..., period, acf — the "which cycle should Holt–Winters
    * assume" selector next to [[pacf]]'s AR-order cut. */
  def dominantPeriod(data: DataFrame, keyCols: Seq[String], seqCol: String,
      valCol: String, maxLag: Int = 10): DataFrame = {
    require(maxLag >= 3, s"maxLag >= 3: $maxLag")
    val acf = autocorrelation(data, keyCols, seqCol, valCol,
      (2 to maxLag).toSeq)
    val frozen = acf
      .withColumn("acf", graft.core.roundLikeDuck(col("ac"), 4))
      .where(col("acf").isNotNull)
    val w = Window.partitionBy(keyCols.map(col): _*)
      .orderBy(col("acf").desc, col("lag").asc)
    frozen.withColumn("_rn", row_number().over(w)).where(col("_rn") === 1)
      .select(keyCols.map(col) :+ col("lag").as("period") :+ col("acf"): _*)
  }

  /** AR(p) one-step forecast scorer: Yule–Walker-style coefficients
    * from [[levinsonModel]]'s recursion (fit on the 6dp-frozen sample
    * ACF), prediction x̂_t = μ + Σ aⱼ·(x_{t−j} − μ), score =
    * \|resid\| / σ_inn with σ²_inn = e·γ₀ (normalized innovation
    * variance × series variance). The autoregressive complement of the
    * window-mean OSA (flat series) and Holt/Holt–Winters (trend/
    * seasonal): an AR series' own memory IS the model, and the PACF
    * ([[pacf]]) picks p. First p rows per key tag 'I'.
    *
    * Determinism: coefficients/e are bit-identical cross-engine (the
    * pacf contract); μ and γ₀ come from exact integer sums of 6dp
    * values — the v6² sum rides decimal(38,0)/HUGEINT (the ECOD
    * device; a BIGINT sum of 1e18-sized squares overflows under ANSI);
    * the prediction is one fixed left-associated expression over lag()
    * columns. Scale: the per-key lag window is the whole cost — one
    * exchange, model-sized broadcast joins. */
  def arForecast(data: DataFrame, keyCols: Seq[String], seqCol: String,
      valCol: String, order: Int, threshold: Double = 3.0): DataFrame = {
    val model = levinsonModel(data, keyCols, seqCol, valCol, order)
      .select(keyCols.map(col) :+ col("_ld").getField("a").as("_a") :+
        col("_ld").getField("e").as("_e"): _*)
    val v = col(valCol).cast("double")
    val v6 = graft.core.fixedPointLong(v, 6)
    val mv = data.where(v.isNotNull)
      .groupBy(keyCols.map(col): _*)
      .agg(count(lit(1)).as("_n"), sum(v6).as("_sv"),
        sum(v6.cast("decimal(38,0)") * v6.cast("decimal(38,0)")).as("_svv"))
      .select(keyCols.map(col) :+
        ((col("_sv") / 1e6) / col("_n")).as("_mean") :+
        (((col("_svv").cast("double") / 1e12) -
          ((col("_sv") / 1e6) * (col("_sv") / 1e6)) / col("_n")) /
          col("_n")).as("_varv"): _*)
    val w = byKey(keyCols, seqCol)
    // Lag over the UNFILTERED frame (advice r7): lag j must mean the j-th
    // previous ROW, not the j-th previous non-null — matching both the
    // q249 oracle's lag CTE and levinsonModel's ACF, which also lag over
    // unfiltered data. Null-value rows stay in the output tagged 'I'
    // (their resid, hence score, is null).
    var d = data
      .join(broadcast(model), keyCols)
      .join(broadcast(mv), keyCols)
    (1 to order).foreach(j =>
      d = d.withColumn(s"_l$j", lag(v, j).over(w)))
    val terms = (1 to order).map(j =>
      element_at(col("_a"), j) * (col(s"_l$j") - col("_mean")))
    val pred = col("_mean") + terms.reduceLeft(_ + _)
    val std = sqrt(col("_e") * col("_varv"))
    val resid = v - pred
    val score = when(pred.isNotNull && std > 0, abs(resid) / std)
    d.withColumn("pred", pred)
      .withColumn("score", score)
      .withColumn("tag", when(score.isNull, "I")
        .when(score > threshold, "O").otherwise("N"))
      .select(keyCols.map(col) :+ col(seqCol) :+ v.as("value") :+
        col("pred") :+ col("score") :+ col("tag"): _*)
  }

  /** Temporal aggregation into fixed time buckets per key (chombo
    * TemporalAggregator, resource/cyd.sh:29). `tsCol` in epoch-nanos,
    * bucket width in seconds. Integer division keeps bucket ids exact. */
  def temporalAggregate(
      data: DataFrame,
      keyCols: Seq[String],
      tsCol: String,
      valCol: String,
      bucketSec: Long,
      tsUnit: String = "nanos"): DataFrame = {
    val perSec = tsUnit match {
      case "nanos" => 1000000000L
      case "millis" => 1000L
      case "sec" => 1L
      case other => throw new IllegalArgumentException(s"unknown ts unit $other")
    }
    val bucket = expr(s"$tsCol div ${bucketSec * perSec}").as("bucket")
    data.select((keyCols.map(col) :+ bucket :+ col(valCol)): _*)
      .groupBy((keyCols :+ "bucket").map(col): _*)
      .agg(
        count(valCol).as("n"),
        avg(valCol).as("avgVal"),
        max(valCol).as("maxVal"),
        min(valCol).as("minVal"))
  }

  /** Sequence multigram distribution (§2.3,
    * src/.../dist/MultigramMultiVariateDistribution.java:54-261): sliding
    * n-grams of the per-key ordered state sequence → counts + per-key
    * normalized frequency. */
  def multigramDistribution(
      data: DataFrame,
      keyCols: Seq[String],
      seqCol: String,
      stateCol: String,
      n: Int): DataFrame = {
    val w = byKey(keyCols, seqCol)
    var df = data
    (1 until n).foreach(i =>
      df = df.withColumn(s"_g$i", lag(col(stateCol), n - i).over(w)))
    val parts = (1 until n).map(i => col(s"_g$i")) :+ col(stateCol)
    val gram = concat_ws(">", parts: _*)
    val full = (1 until n).map(i => col(s"_g$i").isNotNull).reduceOption(_ && _).getOrElse(lit(true))
    val counts = df.where(full)
      .select(keyCols.map(col) :+ gram.as("gram"): _*)
      .groupBy((keyCols :+ "gram").map(col): _*)
      .count().withColumnRenamed("count", "cnt")
    val kw = Window.partitionBy(keyCols.map(col): _*)
    counts.withColumn("freq", col("cnt") / sum("cnt").over(kw))
  }

  /** Per-key OLS trend-residual outlier scorer (engine addition): fit
    * value ≈ a + b·rank by least squares over each key's whole series
    * (rank = tie-broken row number — an equally-spaced time axis), then
    * score = |residual| / residual sample std. The batch whole-series
    * complement of the sequential forecasters: [[SeriesKernels.holtForecast]]
    * tracks a drifting trend online; this fits ONE global trend and flags
    * departures from it (calibration drifts, meter steps, level breaks).
    *
    * Determinism (the q116 fixedPointLong pattern): values quantize to
    * 6dp longs so every regression moment (n, Σr, Σv, Σrv, Σr²) is an
    * order-exact integer sum; slope/intercept/std derive from those exact
    * integers through a fixed double expression the oracle replays
    * bit-for-bit. Residual std uses 4dp-quantized integer sums
    * (overflow-safe to ~10⁶ rows/key at |resid| ≤ 10⁴).
    *
    * Scale: ONE exchange per key — the row_number sort and every
    * whole-partition sum share the same window lineage; no join, nothing
    * driver-sized. */
  def trendResiduals(data: DataFrame, keyCols: Seq[String], seqCol: String,
      valCol: String): DataFrame = {
    val w = Window.partitionBy(keyCols.map(col): _*)
      .orderBy(col(seqCol), col(valCol))
    val whole = Window.partitionBy(keyCols.map(col): _*)
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val withMoments = data
      .withColumn("_rn", row_number().over(w).cast("long"))
      .withColumn("_v6", fixedPointLong(col(valCol), 6))
      .withColumn("_n", count(lit(1)).over(whole))
      .withColumn("_sr", sum(col("_rn")).over(whole))
      .withColumn("_sv", sum(col("_v6")).over(whole))
      .withColumn("_srv", sum(col("_rn") * col("_v6")).over(whole))
      .withColumn("_srr", sum(col("_rn") * col("_rn")).over(whole))
    val nb = col("_n").cast("double")
    val sx = col("_sr").cast("double")
    val sy = col("_sv").cast("double") / 1e6
    val sxy = col("_srv").cast("double") / 1e6
    val sxx = col("_srr").cast("double")
    val den = nb * sxx - sx * sx
    val slope = when(den > 0, (nb * sxy - sx * sy) / den).otherwise(lit(0.0))
    val b0 = (sy - slope * sx) / nb
    val withResid = withMoments.withColumn("_resid",
        col(valCol) - (b0 + slope * col("_rn").cast("double")))
      .withColumn("_r4", fixedPointLong(col("_resid"), 4))
      .withColumn("_s1", sum(col("_r4")).over(whole))
      .withColumn("_s2", sum(col("_r4") * col("_r4")).over(whole))
    val s1 = col("_s1").cast("double")
    val s2 = col("_s2").cast("double")
    val std = when(col("_n") > 1,
      sqrt((s2 - s1 * s1 / nb) / (nb - 1)) / 1e4).otherwise(lit(0.0))
    withResid
      .withColumn("resid", col("_resid"))
      .withColumn("score",
        when(std > 0, abs(col("_resid")) / std).otherwise(lit(0.0)))
      .select((keyCols :+ seqCol :+ valCol :+ "resid" :+ "score").map(col): _*)
  }

  /** Hampel filter (engine addition): rolling-median/MAD outlier scorer —
    * the robust sibling of the mean/σ window scorers. For each row, the
    * centered (2·halfWindow+1)-row frame's median m and MAD (median of
    * |x−m|); score = |x−m| / (1.4826·MAD), tag O above `nSigmas`. Robust
    * where [[scoreLevelShift]]-style mean windows are poisoned by the
    * outliers they are meant to find. Rows without a full frame (series
    * edges) score 0 / tag I, keeping row count = input.
    *
    * Exact medians, not approx: the frame is materialized per row with
    * `collect_list` over the window and sorted — O(w log w) per row,
    * bounded by the frame, spillable, and deterministic (odd frame →
    * the median IS an element; no averaging, so both engines pick the
    * identical double and the score replays bit-for-bit).
    *
    * Scale: one exchange+sort per key (the same window lineage as every
    * op here); per-row cost w log w with w a user constant — at 100 TB
    * the frame is what bounds memory, not the series. */
  def hampel(data: DataFrame, keyCols: Seq[String], seqCol: String,
      valCol: String, halfWindow: Int, nSigmas: Double = 3.0): DataFrame = {
    val frame = Window.partitionBy(keyCols.map(col): _*)
      .orderBy(col(seqCol), col(valCol))
      .rowsBetween(-halfWindow, halfWindow)
    val full = 2 * halfWindow + 1
    val arr = array_sort(collect_list(col(valCol)).over(frame))
    val df = data
      .withColumn("_arr", arr)
      .withColumn("_cnt", count(lit(1)).over(frame))
      .withColumn("_med", element_at(col("_arr"), halfWindow + 1))
      .withColumn("_mad", element_at(
        array_sort(transform(col("_arr"), e => abs(e - col("_med")))),
        halfWindow + 1))
    df.withColumn("score",
        when(col("_cnt") === full && col("_mad") > 0,
          abs(col(valCol) - col("_med")) / (lit(1.4826) * col("_mad")))
          .otherwise(lit(0.0)))
      .withColumn("tag",
        when(col("_cnt") < full, lit("I"))
          .when(col("score") > nSigmas, lit("O")).otherwise(lit("N")))
      .select((keyCols :+ seqCol :+ valCol :+ "score" :+ "tag").map(col): _*)
  }

  /** Fixed-interval resampling with gap fill (engine addition): bucket
    * each key's epoch-nanos timeline into `bucketNs` intervals,
    * aggregate the value (count + order-exact 4dp fixed-point mean), and
    * emit a COMPLETE per-key spine from first to last bucket — empty
    * buckets appear with n=0, `gap` true, and the mean carried forward
    * LOCF-style. The standard sensor-feed regularizer before any of the
    * equally-spaced-window scorers (they all assume one row per tick).
    *
    * Scale: one hash aggregate to bucket level (map-side combined —
    * the exchange carries buckets, not events), then the spine explode
    * and gap-fill window are bucket-sized, not event-sized. */
  def resample(data: DataFrame, keyCols: Seq[String], tsCol: String,
      valCol: String, bucketNs: Long): DataFrame = {
    val kc = keyCols.map(col)
    val buck = data.where(col(valCol).isNotNull)
      .withColumn("_b", expr(s"$tsCol div $bucketNs"))
      .groupBy(kc :+ col("_b"): _*)
      .agg(count(lit(1)).as("n"),
        sum(fixedPointLong(col(valCol), 4)).as("_s4"))
    val spine = buck.groupBy(kc: _*)
      .agg(min("_b").as("_lo"), max("_b").as("_hi"))
      .select(kc :+ explode(sequence(col("_lo"), col("_hi"))).as("_b"): _*)
    val w = Window.partitionBy(kc: _*).orderBy(col("_b"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    spine.join(buck, keyCols :+ "_b", "left")
      .withColumn("n", coalesce(col("n"), lit(0L)))
      .withColumn("_avg",
        when(col("n") > 0, (col("_s4").cast("double") / 1e4) / col("n")))
      .withColumn("gap", col("n") === 0L)
      .withColumn("value", last(col("_avg"), ignoreNulls = true).over(w))
      .select(kc ++ Seq(col("_b").as("bucket"),
        (col("_b") * bucketNs).as("bucket_ts"), col("n"), col("gap"),
        col("value")): _*)
  }

  /** Sequence-motif detector (engine addition): count occurrences of an
    * exact state motif (m₁, m₂, …, m_L at consecutive positions) in each
    * key's ordered state sequence — the "3 failed logins then a
    * transfer" CEP primitive, positionally (overlap-inclusive), no
    * string/regex round-trip. A match at position t means state(t)=m₁ ∧
    * state(t+1)=m₂ ∧ … — exact integer counts, trivially replayable.
    *
    * Scale: one exchange on the keys; the L−1 lead() columns and the
    * final per-key aggregate ride the same sort (the multigram layout).
    */
  def motifCount(data: DataFrame, keyCols: Seq[String], seqCol: String,
      stateCol: String, motif: Seq[String]): DataFrame = {
    require(motif.nonEmpty, "motif must have at least one state")
    val w = byKey(keyCols, seqCol)
    val hit = motif.zipWithIndex.map { case (m, i) =>
      (if (i == 0) col(stateCol) else lead(col(stateCol), i).over(w)) === m
    }.reduce(_ && _)
    data.withColumn("_hit", when(hit, 1L).otherwise(0L))
      .groupBy(keyCols.map(col): _*)
      .agg(sum("_hit").as("matches"), count(lit(1)).as("n_events"))
  }

  /** Last-observation-carried-forward imputation (engine addition): fill
    * per-key null readings with the most recent non-null value in
    * `seqCol` order — the standard gap repair before any of the window
    * scorers run on sparse sensor feeds (a null would otherwise poison
    * rolling stats or break the one-step-ahead recursion). Leading nulls
    * (no prior observation) stay null; `was_imputed` marks fills.
    *
    * Scale: one exchange on the keys; the running IGNORE NULLS last()
    * rides the same per-key sort as every window op here. */
  def imputeLocf(data: DataFrame, keyCols: Seq[String], seqCol: String,
      valCol: String): DataFrame = {
    val w = byKey(keyCols, seqCol)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    data
      .withColumn("filled", last(col(valCol), ignoreNulls = true).over(w))
      .withColumn("was_imputed",
        col(valCol).isNull && col("filled").isNotNull)
  }

  /** Sessionization (gaps-and-islands): a new session starts when the gap
    * to the previous event of the same key exceeds `gapSec`; emits one row
    * per session with count / extent / value aggregates. Engine addition
    * (no reference counterpart) — standard clickstream / training-corpus
    * prep before per-session feature extraction.
    *
    * `tsCol` is an epoch-nanosecond long (driver tables are read with
    * nanosAsLong); `seqCol` is the unique within-key tie-break, same
    * contract as every other window op in this file. Session boundaries
    * and extents are computed at MICROSECOND granularity (sub-µs gap
    * differences are sensor noise, and µs is the finest unit every
    * engine this is oracled against preserves end-to-end).
    *
    * Scale: one exchange on the key + sort-within-partition for the two
    * stacked windows (lag and running sum share one Window lineage — one
    * shuffle, one sort). The session aggregation hashes on
    * (key, session_no): all rows of a session live in one partition, so
    * the map-side partial agg collapses each session to a single row
    * before the exchange — the second shuffle carries session-sized data,
    * not event-sized. Parallelism is keyed (users), which at corpus scale
    * is data-sized, not a ceiling.
    */
  def sessionize(
      data: DataFrame,
      keyCols: Seq[String],
      tsCol: String,
      seqCol: String,
      valCol: String,
      gapSec: Long): DataFrame = {
    val us = expr(s"$tsCol div 1000")
    val w = Window.partitionBy(keyCols.map(col): _*)
      .orderBy(col("_us"), col(seqCol))
    val run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val gapUs = gapSec * 1000000L
    val brk = when(col("_us") - lag(col("_us"), 1).over(w) > gapUs, 1)
      .otherwise(0)
    data
      .withColumn("_us", us)
      .withColumn("session_no", sum(brk).over(run) + 1)
      .groupBy((keyCols :+ "session_no").map(col): _*)
      .agg(
        count(lit(1)).as("n_events"),
        min(col("_us")).as("start_us"),
        max(col("_us")).as("end_us"),
        ((max(col("_us")) - min(col("_us"))) / lit(1e6)).as("duration_s"),
        // Order-exact value sum: a plain double sum inside the hash
        // aggregate is combine-order-nondeterministic, which flips the
        // 4dp-rounded output at rounding boundaries (vs any fixed-order
        // oracle). Scale each value to a 4dp-fixed-point long (same
        // half-away-from-zero rule as core.roundLikeDuck) and sum
        // integers — associative, so any combine order gives the same
        // result; sessions are bounded so no overflow at realistic sizes.
        (sum(fixedPointLong(col(valCol), 4)).cast("double") / 1e4)
          .as("sum_value"))
  }

  /** Ordered-funnel analysis (engine addition, sessionize's sibling): for
    * each key, greedy earliest-completion through `steps` — t1 = first
    * occurrence of steps(0); t_i = first occurrence of steps(i-1)
    * STRICTLY after t_{i-1} (and, when `windowSec` > 0, within
    * `windowSec` of t1). Emits one row per step: (step, step_type,
    * users, conversion) with conversion relative to step 1.
    *
    * Chosen over a per-key sorted scan because the unrolled-min form is
    * order-insensitive (each stage is a filtered MIN — no window, no
    * within-partition ordering to replay) so it hashes identically in any
    * engine, and each stage's input is the events table FILTERED to one
    * step type, pushed to the parquet scan.
    *
    * Scale: per step one pushed-down type filter → keyed partial-agg MIN
    * (map-side combine collapses to one row per key before the exchange)
    * → keyed join against the previous stage's (key, t) table. Every
    * shuffle after the first carries key-cardinality rows, not
    * event-cardinality; the final stack over the single count row is
    * driver-trivial. `tsCol` is epoch-nanos (driver contract); boundaries
    * are compared at microseconds like [[sessionize]].
    */
  def funnel(
      data: DataFrame,
      keyCols: Seq[String],
      tsCol: String,
      typeCol: String,
      steps: Seq[String],
      windowSec: Long = 0L): DataFrame = {
    require(steps.nonEmpty, "funnel needs at least one step")
    require(steps.forall(s => !s.contains("'")), "step names must be quote-free")
    val us = expr(s"$tsCol div 1000")
    val ev = data.withColumn("_us", us)
    var cur = ev.where(col(typeCol) === steps.head)
      .groupBy(keyCols.map(col): _*).agg(min(col("_us")).as("t1"))
    for (i <- 2 to steps.length) {
      val prev = s"t${i - 1}"
      val si = ev.where(col(typeCol) === steps(i - 1))
        .select((keyCols.map(col) :+ col("_us").as("_si")): _*)
      val within =
        if (windowSec > 0) col("_si") <= col("t1") + lit(windowSec * 1000000L)
        else lit(true)
      val tCols = (1 until i).map(j => s"t$j")
      cur = cur.join(si, keyCols, "left_outer")
        .groupBy((keyCols ++ tCols).map(col): _*)
        .agg(min(when(col("_si") > col(prev) && within, col("_si"))).as(s"t$i"))
    }
    val counts = cur.agg(
      count(col("t1")).as("c1"),
      (2 to steps.length).map(i => count(col(s"t$i")).as(s"c$i")): _*)
    val stackArgs = (1 to steps.length)
      .map(i => s"$i, '${steps(i - 1)}', c$i").mkString(", ")
    counts
      .select(expr(s"stack(${steps.length}, $stackArgs) AS (step, step_type, users)"),
        col("c1"))
      .withColumn("conversion",
        round(col("users").cast("double") / col("c1"), 4))
      .drop("c1")
  }

  /** Cohort retention (engine addition): bucket activity into
    * `periodSec`-wide periods (integer division on the µs epoch — exact,
    * engine-independent), assign each key to the cohort of its first
    * active period, and count keys active at each offset from their
    * cohort. Emits (cohort, offset_k, active_users, retention) with
    * retention relative to the cohort's period-0 size.
    *
    * Scale: the (key, period) DISTINCT is the only event-sized exchange
    * and its map-side partial agg collapses repeats before the shuffle;
    * first-period and the activity join both hash on the key; the final
    * aggregate and the cohort-size join are cohort×offset-sized (periods,
    * not events), so the size table broadcasts.
    */
  def retention(
      data: DataFrame,
      keyCols: Seq[String],
      tsCol: String,
      periodSec: Long): DataFrame = {
    require(periodSec > 0, "periodSec must be positive")
    val pUs = periodSec * 1000000L
    val act = data
      .select((keyCols.map(col) :+ expr(s"($tsCol div 1000) div ${pUs}L").as("period")): _*)
      .distinct()
    val firsts = act.groupBy(keyCols.map(col): _*).agg(min("period").as("cohort"))
    val joined = act.join(firsts, keyCols)
      .select(col("cohort"), (col("period") - col("cohort")).as("offset_k"))
    val counts = joined.groupBy("cohort", "offset_k")
      .agg(count(lit(1)).as("active_users"))
    val sizes = counts.where(col("offset_k") === 0)
      .select(col("cohort"), col("active_users").as("_size"))
    counts.join(broadcast(sizes), Seq("cohort"))
      .withColumn("retention",
        round(col("active_users").cast("double") / col("_size"), 4))
      .drop("_size")
  }

  /** Goh–Barabási burstiness + memory coefficients per key over the
    * inter-event gap series: B = (σ−μ)/(σ+μ) ∈ [−1,1] (−1 periodic,
    * 0 Poisson, →1 bursty) and M = corr(gap_t, gap_{t+1}) — the
    * two-number fingerprint of an event stream's temporal texture
    * (burstDetect says WHEN, this says WHAT KIND). Gaps are exact
    * long nanoseconds scaled to milliseconds, every moment an exact
    * integer sum. One row per key: key, n_gaps, mean_gap_ms,
    * burstiness, memory. */
  def burstiness(data: DataFrame, keyCols: Seq[String], tsCol: String,
      seqCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val key = concat_ws("|", keyCols.map(c => col(c).cast("string")): _*)
    def dec(c: Column) = c.cast("decimal(38,0)")
    val w = Window.partitionBy(col("key"))
      .orderBy(col("_t").asc, col("_s").asc)
    val gaps = data
      .select(key.as("key"), col(tsCol).cast("long").as("_t"),
        col(seqCol).cast("long").as("_s"))
      // exact long nanoseconds — B and M are scale-invariant, the ms
      // conversion happens only on the reported mean
      .withColumn("_g", col("_t") - lag(col("_t"), 1).over(w))
      .where(col("_g").isNotNull)
      .withColumn("_gn", lead(col("_g"), 1).over(
        Window.partitionBy(col("key")).orderBy(col("_t").asc, col("_s").asc)))
    val agg = gaps.groupBy(col("key"))
      .agg(count(lit(1)).as("n_gaps"),
        sum(dec(col("_g"))).as("sg"),
        sum(dec(dec(col("_g")) * dec(col("_g")))).as("sgg"),
        sum(when(col("_gn").isNotNull, 1L).otherwise(0L)).as("np"),
        sum(dec(when(col("_gn").isNotNull, col("_g")))).as("sx"),
        sum(dec(when(col("_gn").isNotNull, col("_gn")))).as("sy"),
        sum(when(col("_gn").isNotNull,
          dec(dec(col("_g")) * dec(col("_gn"))))).as("sxy"),
        sum(when(col("_gn").isNotNull,
          dec(dec(col("_g")) * dec(col("_g"))))).as("sxx"),
        sum(when(col("_gn").isNotNull,
          dec(dec(col("_gn")) * dec(col("_gn"))))).as("syy"))
      .where(col("n_gaps") >= 3 && col("np") >= 2)
    val n = col("n_gaps").cast("double")
    val mu = col("sg").cast("double") / n
    val sig = sqrt((col("sgg").cast("double") -
      col("sg").cast("double") * col("sg").cast("double") / n) / (n - 1))
    val np = col("np").cast("double")
    val covN = np * col("sxy").cast("double") -
      col("sx").cast("double") * col("sy").cast("double")
    val vxN = np * col("sxx").cast("double") -
      col("sx").cast("double") * col("sx").cast("double")
    val vyN = np * col("syy").cast("double") -
      col("sy").cast("double") * col("sy").cast("double")
    agg.select(col("key"), col("n_gaps"), (mu / 1e6).as("mean_gap_ms"),
      ((sig - mu) / (sig + mu)).as("burstiness"),
      when(vxN > 0 && vyN > 0, covN / sqrt(vxN * vyN))
        .otherwise(lit(0.0)).as("memory"))
  }

  /** Rank-biased overlap (Webber et al. TOIS'10) between two rankings
    * of the same id universe, truncated at depth d: RBO_d =
    * (1−p)·Σ_{k≤d} p^{k−1}·|A_k ∩ B_k|/k — the top-weighted "how much
    * did the ranking change" metric (Kendall counts ALL pair swaps;
    * RBO discounts tail churn the way a reader does). Overlap-at-depth
    * comes from ranks on both sides (exact integers: an id is inside
    * both prefixes at depth k iff max(rank_a, rank_b) ≤ k), the d-term
    * geometric fold is 6dp-quantized. One row: d, rbo. */
  def rankBiasedOverlap(data: DataFrame, idCol: String, scoreACol: String,
      scoreBCol: String, depth: Int, p: Double = 0.9): DataFrame = {
    require(depth >= 1 && p > 0 && p < 1, s"bad args: $depth, $p")
    val base = data
      .select(col(idCol).as("_id"),
        col(scoreACol).cast("double").as("_a"),
        col(scoreBCol).cast("double").as("_b"))
      .where(col("_a").isNotNull && col("_b").isNotNull)
    // exact global rank (score desc, id asc) via the banded device: the
    // only unpartitioned window rides the 3dp score HISTOGRAM (value-
    // range-sized), and bands past `depth` are pruned before the
    // per-row window — only ranks ≤ d matter (r9 advice item)
    def ranks(c: String, out: String): DataFrame =
      graft.core.bandedRowNumber(base.select(col("_id"), col(c)),
        band = graft.core.fixedPointLong(col(c), 3), bandAsc = false,
        tie = Seq(col(c).desc, col("_id").asc), out = out,
        maxRank = depth.toLong)
        .where(col(out) <= depth)
        .select(col("_id"), col(out))
    val ranked = ranks("_a", "_ra").join(ranks("_b", "_rb"), "_id")
      .withColumn("_m", greatest(col("_ra"), col("_rb")))
    // |A_k ∩ B_k| = #{ids with max(ra, rb) ≤ k}: one pass over the
    // ≤depth-sized frame, then the geometric fold over k = 1..d
    val byM = ranked.groupBy(col("_m")).agg(count(lit(1)).as("_c"))
    val ks = data.sparkSession.range(1, depth + 1)
      .select(col("id").as("_k"))
    ks.join(byM, col("_m") <= col("_k"), "left")
      .groupBy(col("_k")).agg(sum(coalesce(col("_c"), lit(0L))).as("_xk"))
      .withColumn("_t", fixedPointLong(pow(lit(p), col("_k").cast("double") - 1) *
        col("_xk").cast("double") / col("_k").cast("double"), 6))
      .agg((lit(1.0 - p) * (sum(col("_t")).cast("double") / 1e6)).as("rbo"))
      .select(lit(depth).as("d"), col("rbo"))
  }
}
