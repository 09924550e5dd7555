package graft.text

import graft.core._
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Probabilistic topic modeling (PLSA, Hofmann SIGIR'99) — the corpus
  * structure-discovery face the engine lacked: mixture weights per doc
  * over latent topics, word distributions per topic, fitted by EM on
  * (doc, word, count) pairs. Two topics keep every E-step responsibility
  * CLOSED FORM in wide columns (r = θφ₀ / (θφ₀ + (1−θ)φ₁)), which is
  * what makes the whole fit — init, `iters` EM rounds, final mixtures —
  * an exact float program the DuckDB oracle replays round by round
  * (the als2 discipline applied to EM).
  *
  * Determinism: the topic-word init is EXACT-integer md5 jitter
  * (n_zw = 10000 + h56("plsa z:w") mod 1000, φ = n/Σn — integer ratios,
  * no float sum anywhere in init); each round's M-step aggregates
  * 9dp fixed-point responsibility terms as decimals (order-free) and
  * round-freezes θ/φ at 6dp, so parameters are bit-identical
  * cross-engine after every round.
  *
  * Scale: the vocabulary is capped at the top-`vocab` words by corpus
  * count (rank via the banded device — no data-sized sort), so φ is
  * model-sized and broadcasts; θ rides a hash join keyed by doc. Per
  * round: one pairs⋈θ⋈broadcast(φ) join materialized once
  * (`core.materialize`, the als2 pattern — no iteration-growing
  * lineage) feeding two hash aggregates (by doc, by word). Pairs are
  * counted once and materialized.
  *
  * Output per doc: idCol, n_terms, theta0 (P(topic 0 | doc)), topic
  * (argmax, ties → 0). */
object Topics {

  def plsa2(docs: DataFrame, idCol: String, textCol: String,
      vocab: Int = 2000, iters: Int = 3, eps: Double = 1e-6): DataFrame = {
    require(iters >= 1 && iters <= 8, "1 <= iters <= 8")
    require(vocab >= 16, "vocab >= 16")
    def r6(c: Column): Column = fixedPointLong(c, 6).cast("double") / 1e6
    def d9(c: Column) = fixedPointLong(c, 9).cast("decimal(38,0)")
    val texts = docs.where(col(textCol).isNotNull)
    val wc = TextOps.tokenCounts(texts, Nil, textCol)
      .select(col("tok").as("_w"), col("cnt").as("_wc"))
    val top = bandedRowNumber(wc, band = col("_wc"), bandAsc = false,
      tie = Seq(col("_w").asc), out = "_rk", maxRank = vocab.toLong)
      .select(col("_w"))
    // the top-vocabulary filter runs before the (doc, word) count
    val pairs = texts
      .select(col(idCol).as("_d"), explode(TextOps.tokens(col(textCol))).as("_w"))
      .join(broadcast(top), "_w")
      .groupBy(col("_d"), col("_w")).agg(count(lit(1)).as("_c"))
      .transform(materialize)
    // exact-integer jittered init: n_zw ∈ [10000, 10999], φ_z = n/Σn
    def nInit(z: Int): Column =
      lit(10000L) + pmod(TextOps.hash56(concat(lit(s"plsa$z:"), col("_w"))),
        lit(1000L))
    // φ is vocab-sized (≤ `vocab` rows) — the blessed model-sized
    // driver materialization (the bpeTrain device): ONE collect per
    // round replaces the former dens.head + phi-checkpoint pair of
    // jobs, and θ's per-round eager checkpoint is dropped outright (a
    // single consumer — the next round's resp join — reads it once from
    // the resp checkpoint, so materializing it bought nothing). Per
    // round: 2 actions (resp checkpoint + byW collect), down from 4
    // (r14; guide §1.2 — the fit was action-scheduling-bound, measured
    // 4 jobs/round over a ~100k-row pair frame). Arithmetic unchanged:
    // the driver replays the identical double ops (exact decimal sums,
    // cast-to-double, the 6dp freeze), so every round's φ is
    // bit-identical to the former column-side computation.
    val spark = docs.sparkSession
    import spark.implicits._
    def r6d(x: Double): Double = graft.text.TextOps.round6(x)
    val phiBase = pairs.select(col("_w")).distinct()
      .select(col("_w"), nInit(0).as("_n0"), nInit(1).as("_n1"))
    val pb = phiBase.collect()
    val t0 = pb.map(_.getAs[Long]("_n0")).sum
    val t1 = pb.map(_.getAs[Long]("_n1")).sum
    val vN = pb.length
    var phi = pb.toSeq.map(r => (r.getAs[String]("_w"),
        r.getAs[Long]("_n0").toDouble / t0.toDouble,
        r.getAs[Long]("_n1").toDouble / t1.toDouble))
      .toDF("_w", "_p0", "_p1")
    var theta = pairs.select(col("_d")).distinct()
      .select(col("_d"), lit(0.5).as("_th"))
    for (_ <- 1 to iters) {
      val resp = pairs.join(theta, "_d").join(broadcast(phi), "_w")
        .withColumn("_r0",
          col("_th") * col("_p0") /
            (col("_th") * col("_p0") + (lit(1.0) - col("_th")) * col("_p1")))
        .select(col("_d"), col("_w"),
          d9(col("_c").cast("double") * col("_r0")).as("_m0"),
          d9(col("_c").cast("double") * (lit(1.0) - col("_r0"))).as("_m1"))
        .transform(materialize)
      theta = resp.groupBy(col("_d"))
        .agg(sum(col("_m0")).as("_s0"), sum(col("_m1")).as("_s1"))
        .select(col("_d"), r6(col("_s0").cast("double") /
          (col("_s0") + col("_s1")).cast("double")).as("_th"))
      val byW = resp.groupBy(col("_w"))
        .agg(sum(col("_m0")).as("_n0"), sum(col("_m1")).as("_n1"))
        .collect()
      // exact decimal sums on the driver = the former sum(decimal) agg
      val den0 = byW.map(r => BigDecimal(r.getAs[java.math.BigDecimal]("_n0")))
        .sum.doubleValue / 1e9
      val den1 = byW.map(r => BigDecimal(r.getAs[java.math.BigDecimal]("_n1")))
        .sum.doubleValue / 1e9
      phi = byW.toSeq.map { r =>
        val n0 = r.getAs[java.math.BigDecimal]("_n0").doubleValue() / 1e9
        val n1 = r.getAs[java.math.BigDecimal]("_n1").doubleValue() / 1e9
        (r.getAs[String]("_w"),
          r6d((n0 + eps) / (den0 + eps * vN)),
          r6d((n1 + eps) / (den1 + eps * vN)))
      }.toDF("_w", "_p0", "_p1")
    }
    val nTerms = pairs.groupBy(col("_d")).agg(sum(col("_c")).as("n_terms"))
    theta.join(nTerms, "_d")
      .select(col("_d").as(idCol), col("n_terms"),
        col("_th").as("theta0"),
        when(col("_th") >= 0.5, 0L).otherwise(1L).as("topic"))
  }
}
