package graft.model

import graft.core.fixedPointLong
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Ranking-quality and inter-rater-agreement metrics (engine additions —
  * the offline-eval counterpart of model/Eval.scala's pointwise metrics):
  * NDCG@k / MAP@k / MRR@k / P@k over per-query candidate lists, decile
  * lift and KS separation for binary scorers, the Murphy decomposition of
  * the Brier score, and the agreement family (weighted Cohen kappa,
  * Fleiss kappa, Krippendorff alpha) used to grade labeling pipelines.
  *
  * Determinism: every ranking metric quantizes its per-position terms to
  * 6dp fixed-point longs before summing (integer sums are combine-order
  * exact; k is small so the quantization is far below the 4dp output
  * round); every rate/agreement statistic is a ratio of exact integer
  * counts. The KS threshold is selected on the exact integer
  * cross-product cp·N − cn·P, never on a float comparison.
  *
  * Scale: per-query windows partition on the query key (data-sized
  * parallelism); the global structures (deciles, KS) run on the
  * score-histogram frame per the value-histogram contract — no
  * unpartitioned data-sized window anywhere. */
object Eval2 {

  /** NDCG@k per query: rank candidates by (score desc, id asc), DCG@k =
    * Σ rel_i / log2(i+1) (6dp fixed-point terms), IDCG@k likewise over
    * the ideal (rel desc, id asc) order. One exchange on the query key,
    * two sorts. Output: query, n_cand, dcg, idcg, ndcg. */
  def ndcgAtK(df: DataFrame, queryCol: String, idCol: String,
      scoreCol: String, relCol: String, k: Int): DataFrame = {
    val base = df.select(col(queryCol).as("query"), col(idCol).as("_id"),
      col(scoreCol).as("_s"), col(relCol).cast("long").as("_rel"))
      .withColumn("_rn", row_number().over(
        Window.partitionBy(col("query")).orderBy(col("_s").desc, col("_id").asc)))
      .withColumn("_ri", row_number().over(
        Window.partitionBy(col("query")).orderBy(col("_rel").desc, col("_id").asc)))
    val gain = (rel: Column, pos: Column) =>
      fixedPointLong(rel.cast("double") / (log(lit(2.0) + pos.cast("double") - 1) / log(lit(2.0))), 6)
    base.groupBy(col("query"))
      .agg(count(lit(1)).as("n_cand"),
        (sum(when(col("_rn") <= k, gain(col("_rel"), col("_rn")))
          .otherwise(0L)).cast("double") / 1e6).as("dcg"),
        (sum(when(col("_ri") <= k, gain(col("_rel"), col("_ri")))
          .otherwise(0L)).cast("double") / 1e6).as("idcg"))
      .withColumn("ndcg",
        when(col("idcg") > 0.0, col("dcg") / col("idcg")).otherwise(lit(0.0)))
  }

  /** Average precision @k per query (binary labels): AP = Σ_{i≤k, rel_i}
    * (cumRel_i / i) / min(totalRel, k), 6dp fixed-point terms. Output:
    * query, n_rel, ap. */
  def mapAtK(df: DataFrame, queryCol: String, idCol: String,
      scoreCol: String, labelCol: String, k: Int): DataFrame = {
    val w = Window.partitionBy(col("query"))
      .orderBy(col("_s").desc, col("_id").asc)
    val run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    df.select(col(queryCol).as("query"), col(idCol).as("_id"),
      col(scoreCol).as("_s"),
      col(labelCol).cast("boolean").cast("long").as("_y"))
      .withColumn("_rn", row_number().over(w))
      .withColumn("_cum", sum(col("_y")).over(run))
      .groupBy(col("query"))
      .agg(sum(col("_y")).as("n_rel"),
        sum(when(col("_rn") <= k && col("_y") === 1L,
          fixedPointLong(col("_cum").cast("double") / col("_rn").cast("double"), 6))
          .otherwise(0L)).as("_apfp"))
      .select(col("query"), col("n_rel"),
        when(col("n_rel") > 0,
          col("_apfp").cast("double") / 1e6 /
            least(col("n_rel"), lit(k.toLong)).cast("double"))
          .otherwise(lit(0.0)).as("ap"))
  }

  /** Reciprocal rank @k per query: 1/rank of the first relevant
    * candidate (0 when none in the top k). Output: query, first_rank,
    * rr. */
  def mrrAtK(df: DataFrame, queryCol: String, idCol: String,
      scoreCol: String, labelCol: String, k: Int): DataFrame = {
    val w = Window.partitionBy(col("query"))
      .orderBy(col("_s").desc, col("_id").asc)
    df.select(col(queryCol).as("query"), col(idCol).as("_id"),
      col(scoreCol).as("_s"),
      col(labelCol).cast("boolean").as("_y"))
      .withColumn("_rn", row_number().over(w))
      .groupBy(col("query"))
      .agg(min(when(col("_y") && col("_rn") <= k, col("_rn"))).as("first_rank"))
      .select(col("query"), col("first_rank"),
        when(col("first_rank").isNotNull,
          lit(1.0) / col("first_rank").cast("double"))
          .otherwise(lit(0.0)).as("rr"))
  }

  /** Precision/recall @k per query over binary labels — exact integer
    * count ratios. Output: query, n_rel, hits, p_at_k, r_at_k. */
  def precisionAtK(df: DataFrame, queryCol: String, idCol: String,
      scoreCol: String, labelCol: String, k: Int): DataFrame = {
    val w = Window.partitionBy(col("query"))
      .orderBy(col("_s").desc, col("_id").asc)
    df.select(col(queryCol).as("query"), col(idCol).as("_id"),
      col(scoreCol).as("_s"),
      col(labelCol).cast("boolean").cast("long").as("_y"))
      .withColumn("_rn", row_number().over(w))
      .groupBy(col("query"))
      .agg(sum(col("_y")).as("n_rel"),
        sum(when(col("_rn") <= k, col("_y")).otherwise(0L)).as("hits"),
        sum(when(col("_rn") <= k, 1L).otherwise(0L)).as("_k"))
      .select(col("query"), col("n_rel"), col("hits"),
        (col("hits").cast("double") / col("_k").cast("double")).as("p_at_k"),
        when(col("n_rel") > 0,
          col("hits").cast("double") / col("n_rel").cast("double"))
          .otherwise(lit(0.0)).as("r_at_k"))
  }

  /** Decile lift / cumulative-gain table: scores are frozen to a 4dp
    * histogram (value-histogram contract — the only global window runs
    * over distinct scores, never rows), each score group lands in the
    * decile of its FIRST element's zero-based rank, bins aggregate to
    * exact integer counts. Output per bin: bin, n, pos, pos_rate, lift,
    * cum_gain (fraction of all positives captured through this bin). */
  def decileLift(df: DataFrame, scoreCol: String, labelCol: String,
      nBins: Int = 10): DataFrame = {
    val h = df.select(
      graft.core.fixedPointLong(col(scoreCol).cast("double"), 4).as("_s"),
      col(labelCol).cast("boolean").cast("long").as("_y"))
      .groupBy(col("_s"))
      .agg(count(lit(1)).as("ns"), sum(col("_y")).as("pos"))
    // descending scores: decile 0 = best. Banded prefix sum (the
    // binaryAuc device): the 4dp histogram is value-range-sized, not
    // provably small — never sort it on one partition.
    val tot = h.agg(sum("ns").as("_n"), sum("pos").as("_p"))
    graft.core.bandedCumSum(h, expr("_s div 100000"), bandAsc = false,
        tie = Seq(col("_s").desc), sums = Map("ns" -> "_cum"))
      .withColumn("_cumBefore", col("_cum") - col("ns"))
      .crossJoin(broadcast(tot))
      .withColumn("bin", least(lit(nBins - 1),
        floor(col("_cumBefore") * nBins / col("_n")).cast("int")))
      .groupBy(col("bin"))
      .agg(sum("ns").as("n"), sum("pos").as("pos"),
        max(col("_n")).as("_nTot"), max(col("_p")).as("_pTot"))
      .withColumn("pos_rate", col("pos").cast("double") / col("n").cast("double"))
      .withColumn("lift", when(col("_pTot") > 0,
        (col("pos").cast("double") / col("n").cast("double")) /
          (col("_pTot").cast("double") / col("_nTot").cast("double")))
        .otherwise(lit(0.0)))
      .withColumn("cum_pos", sum(col("pos")).over(Window.orderBy(col("bin"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("cum_gain", when(col("_pTot") > 0,
        col("cum_pos").cast("double") / col("_pTot").cast("double"))
        .otherwise(lit(0.0)))
      .select("bin", "n", "pos", "pos_rate", "lift", "cum_gain")
  }

  /** KS separation of a binary scorer: D(s) = cumPos/P − cumNeg/N over
    * the ascending score histogram; the maximum and its threshold are
    * selected on the exact integer cross-product cp·N − cn·P (no float
    * comparison), threshold = smallest score attaining the max. Output
    * one row: n_pos, n_neg, ks, threshold. */
  def ksSeparation(df: DataFrame, scoreCol: String, labelCol: String): DataFrame = {
    val h = df.select(
      graft.core.fixedPointLong(col(scoreCol).cast("double"), 4).as("_s"),
      col(labelCol).cast("boolean").cast("long").as("_y"))
      .groupBy(col("_s"))
      .agg(count(lit(1)).as("ns"), sum(col("_y")).as("pos"))
    val tot = h.agg(sum("pos").as("_p"), sum(col("ns") - col("pos")).as("_q"))
    // banded prefix sums over the 4dp histogram (the binaryAuc device)
    val scored = graft.core.bandedCumSum(
        h.withColumn("_neg", col("ns") - col("pos")),
        expr("_s div 100000"), bandAsc = true, tie = Seq(col("_s").asc),
        sums = Map("pos" -> "_cp", "_neg" -> "_cn"))
      .crossJoin(broadcast(tot))
      // exact integer |cp·N − cn·P|
      .withColumn("_dnum", abs(col("_cp") * col("_q") - col("_cn") * col("_p")))
    val m = scored.groupBy(col("_p"), col("_q"))
      .agg(max(col("_dnum")).as("_dmax"))
    // threshold = smallest score attaining the max (exact integer tie)
    scored.join(broadcast(m), Seq("_p", "_q"))
      .where(col("_dnum") === col("_dmax"))
      .groupBy(col("_p"), col("_q"), col("_dmax"))
      .agg(min(col("_s")).as("_sm"))
      .select(col("_p").as("n_pos"), col("_q").as("n_neg"),
        when(col("_p") > 0 && col("_q") > 0,
          col("_dmax").cast("double") /
            (col("_p").cast("double") * col("_q").cast("double")))
          .otherwise(lit(0.0)).as("ks"),
        (col("_sm").cast("double") / 1e4).as("threshold"))
  }

  /** Murphy decomposition of the Brier score over `nBins` fixed-width
    * probability bins: BS = reliability − resolution + uncertainty, all
    * three from exact 4dp fixed-point per-bin sums (o̅_k, f̅_k are exact
    * integer ratios). Output one row: n, bs, reliability, resolution,
    * uncertainty. */
  def brierDecomposition(df: DataFrame, probCol: String, labelCol: String,
      nBins: Int = 10): DataFrame = {
    val p4 = graft.core.fixedPointLong(col(probCol).cast("double"), 4)
    val binned = df.select(p4.as("_pfp"),
      col(labelCol).cast("boolean").cast("long").as("_y"))
      .withColumn("_bin", least(lit(nBins - 1),
        floor(col("_pfp") * nBins / 10000L).cast("int")))
    val perBin = binned.groupBy(col("_bin"))
      .agg(count(lit(1)).as("nk"),
        sum(col("_y")).as("ok"),
        sum(col("_pfp")).cast("decimal(38,0)").as("sfk"),
        sum(col("_pfp") * col("_pfp")).cast("decimal(38,0)").as("sfk2"),
        sum(col("_pfp") * col("_y")).cast("decimal(38,0)").as("sfy"))
    val nk = col("nk").cast("double")
    val fbar = col("sfk").cast("double") / 1e4 / nk
    val obar = col("ok").cast("double") / nk
    // Σ(f−o)² within bin = Σf² − 2Σfy + Σy (y binary ⇒ y²=y)
    val bsSum = col("sfk2").cast("double") / 1e8 -
      lit(2.0) * col("sfy").cast("double") / 1e4 + col("ok").cast("double")
    val relSum = nk * (fbar - obar) * (fbar - obar)
    perBin
      .agg(sum("nk").as("n"), sum("ok").as("_o"),
        sum(fixedPointLong(bsSum, 6)).as("_bsfp"),
        sum(fixedPointLong(relSum, 6)).as("_relfp"),
        sum(fixedPointLong(nk * obar * obar, 6)).as("_ressfp"))
      .withColumn("_obar", col("_o").cast("double") / col("n").cast("double"))
      .select(col("n"),
        (col("_bsfp").cast("double") / 1e6 / col("n").cast("double")).as("bs"),
        (col("_relfp").cast("double") / 1e6 / col("n").cast("double"))
          .as("reliability"),
        (col("_ressfp").cast("double") / 1e6 / col("n").cast("double") -
          col("_obar") * col("_obar")).as("resolution"),
        (col("_obar") * (lit(1.0) - col("_obar"))).as("uncertainty"))
  }

  /** Matthews correlation + balanced accuracy at a threshold — the two
    * imbalance-robust single numbers plain accuracy/F1 miss (MCC is the
    * ±1-bounded correlation of the 2×2; balanced accuracy averages the
    * class recalls). Exact integer cells; the MCC denominator is one
    * sqrt over an exact integer product. One row: tp, fp, fn, tn, mcc,
    * balanced_acc. */
  def mccAt(scored: DataFrame, scoreCol: String, labelCol: String,
      threshold: Double): DataFrame = {
    val pos = col(scoreCol).cast("double") > threshold
    val y = col(labelCol).cast("boolean")
    val c = scored.agg(
      sum(when(pos && y, 1L).otherwise(0L)).as("tp"),
      sum(when(pos && !y, 1L).otherwise(0L)).as("fp"),
      sum(when(!pos && y, 1L).otherwise(0L)).as("fn"),
      sum(when(!pos && !y, 1L).otherwise(0L)).as("tn"))
    def d38(x: Column) = x.cast("decimal(38,0)")
    val num = (d38(col("tp")) * d38(col("tn")) -
      d38(col("fp")) * d38(col("fn"))).cast("double")
    val den = sqrt((d38(col("tp") + col("fp")) * d38(col("tp") + col("fn")))
      .cast("double") *
      (d38(col("tn") + col("fp")) * d38(col("tn") + col("fn")))
        .cast("double"))
    c.select(col("tp"), col("fp"), col("fn"), col("tn"),
      when(den > 0, num / den).otherwise(lit(0.0)).as("mcc"),
      ((col("tp").cast("double") / (col("tp") + col("fn")).cast("double") +
        col("tn").cast("double") / (col("tn") + col("fp")).cast("double"))
        / 2.0).as("balanced_acc"))
  }

  /** Quadratic-weighted Cohen kappa between two integer raters in
    * [0, nCat): κ_w = 1 − Σ w_ij·O_ij / Σ w_ij·E_ij with w_ij =
    * ((i−j)/(C−1))², O the observed contingency counts and E the
    * marginal products — all integer counts, one 6dp-quantized ratio.
    * Output one row: n, kappa_w. */
  def weightedKappa(df: DataFrame, r1Col: String, r2Col: String,
      nCat: Int): DataFrame = {
    val o = df.select(col(r1Col).cast("long").as("i"),
      col(r2Col).cast("long").as("j"))
      .where(col("i").between(0, nCat - 1) && col("j").between(0, nCat - 1))
      .groupBy(col("i"), col("j")).agg(count(lit(1)).as("c"))
    val ra = o.groupBy(col("i")).agg(sum("c").as("ci"))
    val rb = o.groupBy(col("j")).agg(sum("c").as("cj"))
    // contingency is nCat²-sized — broadcast everything; the (C−1)²
    // weight denominators cancel in the ratio, so Σw·O and Σw·E reduce
    // to exact integer sums (decimal to dodge overflow at corpus scale)
    val wo = o.agg(sum(col("c")).as("n"),
      sum((col("c") * (col("i") - col("j")) * (col("i") - col("j")))
        .cast("decimal(38,0)")).as("_wo"))
    val we = ra.crossJoin(rb)
      .agg(sum((col("ci") * col("cj") * (col("i") - col("j")) *
        (col("i") - col("j"))).cast("decimal(38,0)")).as("_weN"))
    wo.crossJoin(broadcast(we))
      .select(col("n"),
        (lit(1.0) - col("_wo").cast("double") * col("n").cast("double") /
          col("_weN").cast("double")).as("kappa_w"))
  }

  /** Fleiss kappa over (item, category) rating counts with a FIXED
    * number of raters per item (rows with a different rater count are
    * dropped, reported in n_dropped). All sums are integer-exact.
    * Output one row: n_items, n_raters, kappa. */
  def fleissKappa(ratings: DataFrame, itemCol: String, catCol: String,
      nRaters: Int): DataFrame = {
    val cnt = ratings.groupBy(col(itemCol).as("_it"), col(catCol).as("_cat"))
      .agg(count(lit(1)).as("c"))
    val items = cnt.groupBy(col("_it"))
      .agg(sum("c").as("m"), sum(col("c") * col("c")).as("s2"))
      .where(col("m") === nRaters)
    val n = nRaters.toLong
    // P_i = (Σc² − m) / (m(m−1)); all-integer per item
    val agg = items.agg(count(lit(1)).as("n_items"),
      sum(col("s2") - col("m")).as("_pnum"))
    val catTot = cnt.join(items.select(col("_it")), "_it")
      .groupBy(col("_cat")).agg(sum("c").as("tc"))
    val pe = catTot.crossJoin(broadcast(agg.select(col("n_items"))))
      .agg(sum((col("tc") * col("tc")).cast("decimal(38,0)"))
        .cast("double").as("_t2"),
        max(col("n_items")).as("_ni"))
      .select((col("_t2") /
        (col("_ni").cast("double") * n * col("_ni").cast("double") * n))
        .as("_pe"))
    agg.crossJoin(broadcast(pe))
      .select(col("n_items"), lit(nRaters).as("n_raters"),
        ((col("_pnum").cast("double") /
          (col("n_items").cast("double") * (n * (n - 1)).toDouble) - col("_pe")) /
          (lit(1.0) - col("_pe"))).as("kappa"))
  }

  /** Krippendorff alpha (nominal) over (item, rater, category) rows:
    * α = 1 − D_o/D_e with D_o from within-item disagreeing pairs and
    * D_e from the global category totals — every term an exact integer
    * count. Output one row: n_items, n_values, alpha. */
  def krippendorffAlpha(ratings: DataFrame, itemCol: String,
      catCol: String): DataFrame = {
    val cnt = ratings.groupBy(col(itemCol).as("_it"), col(catCol).as("_cat"))
      .agg(count(lit(1)).as("c"))
    val items = cnt.groupBy(col("_it"))
      .agg(sum("c").as("m"), sum(col("c") * col("c")).as("s2"))
      .where(col("m") >= 2)
    // within-item disagreeing ordered pairs = m² − Σc²; weight 1/(m−1)
    val doSum = items.agg(
      sum("m").as("n_values"), count(lit(1)).as("n_items"),
      sum(fixedPointLong((col("m") * col("m") - col("s2")).cast("double") /
        (col("m") - 1).cast("double"), 6)).as("_dofp"))
    val catTot = cnt.join(items.select(col("_it")), "_it")
      .groupBy(col("_cat")).agg(sum("c").as("tc"))
    val deSum = catTot.agg(sum(col("tc")).as("_n"),
      sum((col("tc") * col("tc")).cast("decimal(38,0)")).as("_t2"))
      .select(((col("_n").cast("double") * col("_n").cast("double") -
        col("_t2").cast("double")) /
        (col("_n") - 1).cast("double")).as("_deN"), col("_n"))
    doSum.crossJoin(broadcast(deSum))
      .select(col("n_items"), col("n_values"),
        (lit(1.0) - (col("_dofp").cast("double") / 1e6) /
          (col("_deN") / col("_n").cast("double") *
            col("n_values").cast("double") / col("_n").cast("double")))
          .as("alpha"))
  }

  /** Isotonic calibration curve — PAV computed by the exact minimax
    * identity ŷ(s_i) = max_{j≤i} min_{k≥j} ȳ(bins j..k) (Barlow et al.
    * '72 §1.2; identical to pool-adjacent-violators output): the
    * monotone-nondecreasing calibrated probability per 2dp score bin,
    * the nonparametric alternative to Platt scaling and the standard
    * post-hoc calibrator for quality/dedup classifier scores.
    *
    * Determinism: bin averages are exact integer ratios from prefix
    * sums; min/max selections are exact. Scale: the score freezes at
    * 2dp (reliability-diagram granularity), so the bin frame is ≤ a few
    * hundred rows by the VALUE-RANGE contract; the j≤k pair join is a
    * bin²-bounded broadcast nested loop — a model-sized computation by
    * construction, never data-sized. Output per bin: score, n, pos,
    * iso. */
  def isotonicCalibration(df: DataFrame, scoreCol: String,
      labelCol: String): DataFrame = {
    val h = df.select(
      graft.core.fixedPointLong(col(scoreCol).cast("double"), 2).as("_s"),
      col(labelCol).cast("boolean").cast("long").as("_y"))
      .where(col("_s").isNotNull)
      .groupBy(col("_s"))
      .agg(count(lit(1)).as("n"), sum(col("_y")).as("pos"))
    val w = Window.orderBy(col("_s").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val c = h.withColumn("_cn", sum(col("n")).over(w))
      .withColumn("_cp", sum(col("pos")).over(w))
    val lo = c.select(col("_s").as("_sj"),
      (col("_cn") - col("n")).as("_bnj"), (col("_cp") - col("pos")).as("_bpj"))
    val hi = c.select(col("_s").as("_sk"), col("_cn").as("_cnk"),
      col("_cp").as("_cpk"))
    val m = lo.join(broadcast(hi), col("_sj") <= col("_sk"))
      .select(col("_sj"),
        ((col("_cpk") - col("_bpj")).cast("double") /
          (col("_cnk") - col("_bnj")).cast("double")).as("_avg"))
      .groupBy(col("_sj")).agg(min(col("_avg")).as("_m"))
    val w2 = Window.orderBy(col("_sj").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val iso = m.withColumn("iso", max(col("_m")).over(w2))
    h.join(iso, col("_s") === col("_sj"))
      .select((col("_s").cast("double") / 1e2).as("score"), col("n"),
        col("pos"), col("iso"))
  }

  /** Expected / maximum calibration error + log-loss (Naeini et al.
    * AAAI'15 ECE; the scalar companions to [[isotonicCalibration]]'s
    * curve and [[brierDecomposition]]): equal-width probability bins,
    * ECE = Σ_b (n_b/N)·|acc_b − conf_b|, MCE = max_b |acc_b − conf_b|,
    * plus the clamped log-loss −mean[y·ln p + (1−y)·ln(1−p)],
    * p ∈ [1e-6, 1−1e-6].
    *
    * Determinism: bin confidences and per-row log-loss terms sum as 8dp
    * fixed-point longs; accuracies are exact integer ratios; the
    * cross-bin ECE sum quantizes each bin term to 8dp (bins ≤ nBins).
    * Output: one row — n, bins_used, ece, mce, logloss.
    *
    * Scale: one hash aggregate to the ≤nBins bin frame + one row-level
    * aggregate for log-loss; a scalar broadcast joins them. */
  def calibrationError(df: DataFrame, probCol: String, labelCol: String,
      nBins: Int = 10): DataFrame = {
    val p = col(probCol).cast("double")
    val y = col(labelCol).cast("boolean")
    val fp8 = (c: Column) =>
      graft.core.fixedPointLong(c, 8).cast("decimal(38,0)")
    val rows = df.where(p.isNotNull && y.isNotNull)
    val pc = least(greatest(p, lit(1e-6)), lit(1.0) - lit(1e-6))
    val ll = rows.agg(count(lit(1)).as("n"),
      sum(fp8(-(y.cast("double") * log(pc) +
        (lit(1.0) - y.cast("double")) * log(lit(1.0) - pc)))).as("_l8"))
    val bins = rows
      .withColumn("_b", least(lit(nBins - 1L),
        floor(p * nBins).cast("long")))
      .groupBy("_b")
      .agg(count(lit(1)).as("_n"),
        sum(when(y, 1L).otherwise(0L)).as("_pos"),
        sum(fp8(p)).as("_s8"))
    val terms = bins.crossJoin(broadcast(ll.select(col("n"))))
      .withColumn("_conf",
        col("_s8").cast("double") / 1e8 / col("_n").cast("double"))
      .withColumn("_acc",
        col("_pos").cast("double") / col("_n").cast("double"))
      .withColumn("_gap", abs(col("_acc") - col("_conf")))
      .agg(count(lit(1)).as("bins_used"),
        sum(fp8(col("_n").cast("double") / col("n").cast("double") *
          col("_gap"))).as("_e8"),
        max(col("_gap")).as("mce"))
    ll.crossJoin(broadcast(terms))
      .select(col("n"), col("bins_used"),
        (col("_e8").cast("double") / 1e8).as("ece"), col("mce"),
        (col("_l8").cast("double") / 1e8 / col("n").cast("double"))
          .as("logloss"))
  }

  /** Platt scaling (Platt 1999) — the parametric calibration partner
    * to [[isotonicCalibration]]: fit p_cal = σ(a + b·score) with the
    * engine's deterministic full-batch logistic GD trainer
    * ([[graft.text.TextOps.logRegFit]] — algebraic sigmoid, 9dp
    * fixed-point gradient sums, 6dp-frozen weights, so the fit replays
    * in the established gd2 SQL oracle), then score every row.
    * Output: idCol, scoreCol, label, p_cal.
    *
    * Scale: `iters` full scans for the fit (one aggregate each), one
    * scoring scan with the two weights inlined as literals. */
  def plattScale(df: DataFrame, idCol: String, scoreCol: String,
      labelCol: String, iters: Int = 5, lr: Double = 0.5): DataFrame = {
    val feat = df
      .where(col(scoreCol).isNotNull && col(labelCol).isNotNull)
      .withColumn("f0", lit(1.0))
      .withColumn("f1", col(scoreCol).cast("double"))
      .withColumn("_y", col(labelCol).cast("boolean").cast("double"))
    val wts = graft.text.TextOps.logRegFit(feat, Seq("f0", "f1"), "_y",
      iters, lr)
      .collect().sortBy(_.getAs[Int]("j")).map(_.getAs[Double]("weight"))
    val z = lit(wts(0)) * col("f0") + lit(wts(1)) * col("f1")
    feat.select(col(idCol), col(scoreCol),
      col(labelCol).cast("boolean").as("label"),
      (lit(0.5) + z / (lit(2.0) * (lit(1.0) + abs(z)))).as("p_cal"))
  }

  /** Hosmer–Lemeshow goodness-of-fit (Hosmer & Lemeshow 1980) over
    * equal-WIDTH probability bins (the deterministic variant — decile
    * cuts would ride data-sized rank windows; fixed bins are the
    * documented engine contract): χ² = Σ_b (O₁−E₁)²/E₁ + (O₀−E₀)²/E₀,
    * E₁ = Σ p (8dp fixed-point), bins with a degenerate expectation
    * (E₁ ≤ 0 or E₀ ≤ 0) are excluded and reported. Output: one row —
    * bins_used, bins_skipped, chi2, df (= bins_used − 2). */
  def hosmerLemeshow(df: DataFrame, probCol: String, labelCol: String,
      nBins: Int = 10): DataFrame = {
    val p = col(probCol).cast("double")
    val y = col(labelCol).cast("boolean")
    val fp8 = (c: Column) =>
      graft.core.fixedPointLong(c, 8).cast("decimal(38,0)")
    val bins = df.where(p.isNotNull && y.isNotNull)
      .withColumn("_b", least(lit(nBins - 1L),
        floor(p * nBins).cast("long")))
      .groupBy("_b")
      .agg(count(lit(1)).as("_n"),
        sum(when(y, 1L).otherwise(0L)).as("_o1"),
        sum(fp8(p)).as("_e8"))
      .withColumn("_e1", col("_e8").cast("double") / 1e8)
      .withColumn("_e0", col("_n").cast("double") - col("_e1"))
      .withColumn("_ok", col("_e1") > 0 && col("_e0") > 0)
      .withColumn("_t", when(col("_ok"),
        (col("_o1").cast("double") - col("_e1")) *
          (col("_o1").cast("double") - col("_e1")) / col("_e1") +
          ((col("_n") - col("_o1")).cast("double") - col("_e0")) *
          ((col("_n") - col("_o1")).cast("double") - col("_e0")) /
          col("_e0")).otherwise(lit(0.0)))
    bins.agg(
      sum(when(col("_ok"), 1L).otherwise(0L)).as("bins_used"),
      sum(when(!col("_ok"), 1L).otherwise(0L)).as("bins_skipped"),
      (sum(fp8(col("_t"))).cast("double") / 1e8).as("chi2"))
      .withColumn("df", col("bins_used") - 2L)
  }

  /** Forecast-accuracy roll-up per key — MAE, RMSE, sMAPE and MASE
    * (Hyndman & Koehler 2006, "Another look at measures of forecast
    * accuracy") over any (actual, forecast) column pair, the metric
    * battery the forecasting family (one-step-ahead, Holt, Croston,
    * Theta) gets graded with. MASE scales MAE by the in-sample naive
    * (lag-1) MAE over the same evaluated rows, so it is comparable
    * across keys with different units; sMAPE terms with |y|+|ŷ| = 0
    * contribute 0 (the standard convention).
    *
    * Rows where the forecast or the lag-1 actual is null (series heads)
    * are excluded from all four metrics, keeping numerator and
    * denominator on the same support. Every mean sums 8dp fixed-point
    * longs (order-exact); rmse's √ rides libm parity.
    *
    * Scale: one sort-within-shuffle per key for the lag window, one
    * hash aggregate to key-sized output. */
  def forecastAccuracy(data: DataFrame, keyCols: Seq[String],
      seqCol: String, actualCol: String, forecastCol: String): DataFrame = {
    val w = Window.partitionBy(keyCols.map(col): _*).orderBy(col(seqCol))
    val y = col(actualCol).cast("double")
    val f = col(forecastCol).cast("double")
    val rows = data
      .withColumn("_lag", lag(y, 1).over(w))
      .where(f.isNotNull && y.isNotNull && col("_lag").isNotNull)
    val e = f - y
    val sm = when(abs(y) + abs(f) > 0,
      lit(2.0) * abs(f - y) / (abs(y) + abs(f))).otherwise(lit(0.0))
    val fp8 = (c: Column) =>
      graft.core.fixedPointLong(c, 8).cast("decimal(38,0)")
    rows.groupBy(keyCols.map(col): _*)
      .agg(count(lit(1)).as("n"),
        sum(fp8(abs(e))).as("_sae"),
        sum(fp8(e * e)).as("_sse"),
        sum(fp8(sm)).as("_ssm"),
        sum(fp8(abs(y - col("_lag")))).as("_snv"))
      .withColumn("mae",
        col("_sae").cast("double") / 1e8 / col("n").cast("double"))
      .withColumn("rmse", sqrt(
        col("_sse").cast("double") / 1e8 / col("n").cast("double")))
      .withColumn("smape",
        col("_ssm").cast("double") / 1e8 / col("n").cast("double"))
      .withColumn("mase",
        when(col("_snv") > 0, col("_sae").cast("double") /
          col("_snv").cast("double")).otherwise(lit(0.0)))
      .drop("_sae", "_sse", "_ssm", "_snv")
  }

  /** Pinball (quantile) loss + empirical coverage of per-key constant
    * quantile forecasts, τ ∈ `taus`: the quantile q̂_τ is the exact
    * order statistic over the TRAIN split (smallest 4dp-quantized value
    * whose cumulative count reaches ⌈τ·n⌉ — the conformal-interval
    * histogram device, q484), evaluated on the TEST split with
    * L_τ(y) = max(τ·(y−q̂), (τ−1)·(y−q̂)). Coverage = P(y ≤ q̂) —
    * calibrated quantiles have coverage ≈ τ, and the pinball number is
    * the one quantile-regression baselines must beat.
    *
    * `trainPred` splits the rows (true → fit, false → evaluate); loss
    * terms sum as 8dp fixed-point longs. Output per (key, tau): qhat,
    * n_test, pinball, coverage.
    *
    * Scale: one value-histogram aggregate per key (4dp-bounded frame,
    * the engine's documented determinism contract), a |taus|-row
    * broadcast expansion, one hash aggregate over the test split. */
  def quantilePinball(data: DataFrame, keyCols: Seq[String],
      valCol: String, trainPred: Column, taus: Seq[Double]): DataFrame = {
    require(taus.nonEmpty, "quantilePinball needs at least one tau")
    val spark = data.sparkSession
    import spark.implicits._
    val y = col(valCol).cast("double")
    val base = data.where(y.isNotNull)
    val hist = base.where(trainPred)
      .groupBy(keyCols.map(col) :+
        graft.core.fixedPointLong(y, 4).as("_r4"): _*)
      .agg(count(lit(1)).as("_ct"))
    val wcum = Window.partitionBy(keyCols.map(col): _*)
      .orderBy(col("_r4").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = hist
      .withColumn("_cum", sum(col("_ct")).over(wcum))
      .withColumn("_n", sum(col("_ct")).over(
        Window.partitionBy(keyCols.map(col): _*)))
    val tdf = taus.toDF("tau")
    val qhat = cum.crossJoin(broadcast(tdf))
      .where(col("_cum") >= greatest(lit(1L),
        ceil(col("tau") * col("_n").cast("double")).cast("long")))
      .groupBy(keyCols.map(col) :+ col("tau"): _*)
      .agg(min(col("_r4")).as("_q4"))
      .withColumn("qhat", col("_q4").cast("double") / 1e4)
    val fp8 = (c: Column) =>
      graft.core.fixedPointLong(c, 8).cast("decimal(38,0)")
    val d = y - col("qhat")
    val loss = greatest(col("tau") * d, (col("tau") - lit(1.0)) * d)
    base.where(!trainPred)
      .join(qhat.drop("_q4"), keyCols)
      .groupBy(keyCols.map(col) :+ col("tau") :+ col("qhat"): _*)
      .agg(count(lit(1)).as("n_test"),
        sum(fp8(loss)).as("_sl"),
        sum(when(y <= col("qhat"), 1L).otherwise(0L)).as("_cov"))
      .withColumn("pinball",
        col("_sl").cast("double") / 1e8 / col("n_test").cast("double"))
      .withColumn("coverage",
        col("_cov").cast("double") / col("n_test").cast("double"))
      .drop("_sl", "_cov")
  }
}
