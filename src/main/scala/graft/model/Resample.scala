package graft.model

import graft.core.fixedPointLong
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Resampling-free uncertainty and coverage estimators (engine
  * additions): the delete-one-block jackknife (the deterministic
  * stand-in for bootstrap SEs — no RNG, exact integer sums), the
  * Chapman capture–recapture population estimate (how big is the true
  * corpus two overlapping crawls sample from), and the vocabulary
  * coverage pair Chao1 / Good–Turing (how many types are still unseen,
  * how much probability mass the unseen carry). */
object Resample {

  private def fp(c: Column): Column = graft.core.fixedPointLong(c, 4)
  private def dec(c: Column): Column = c.cast("decimal(38,0)")

  /** Delete-one-block jackknife SE of the per-key mean: blocks from an
    * integer block column; θ̂₋ᵦ = (S − s_b)/(n − n_b), SE² =
    * (B−1)/B · Σ(θ̂₋ᵦ − θ̄)². Leave-out means come from exact
    * fixed-point totals; the B-sized deviation fold quantizes at 6dp.
    * One row per key: key, n, n_blocks, mean, se_jack. */
  def jackknifeSE(data: DataFrame, keyCol: String, blockCol: String,
      valCol: String): DataFrame = {
    val y = col(valCol).cast("double")
    val blocks = data.where(y.isNotNull)
      .select(col(keyCol).as("key"), col(blockCol).cast("long").as("_b"),
        fp(y).as("_y"))
      .groupBy(col("key"), col("_b"))
      .agg(count(lit(1)).as("_nb"), sum(dec(col("_y"))).as("_sb"))
    val tot = blocks.groupBy(col("key"))
      .agg(sum(col("_nb")).as("n"), count(lit(1)).as("n_blocks"),
        sum(col("_sb")).as("_s"))
      .where(col("n_blocks") >= 2)
    val j = blocks.join(tot, "key")
      .withColumn("_lo", (col("_s").cast("double") - col("_sb").cast("double")) /
        (col("n") - col("_nb")).cast("double") / 1e4)
    // θ̄ = mean of the leave-out means (6dp-quantized fold, B-sized)
    val bar = j.groupBy(col("key"))
      .agg(sum(fixedPointLong(col("_lo"), 6)).as("_lsum"), count(lit(1)).as("_bb"))
      .select(col("key"),
        (col("_lsum").cast("double") / 1e6 / col("_bb").cast("double"))
          .as("_bar"))
    j.join(bar, "key")
      .withColumn("_d6", fixedPointLong((col("_lo") - col("_bar")) *
        (col("_lo") - col("_bar")), 6))
      .groupBy(col("key"))
      .agg(max(col("n")).as("n"), max(col("n_blocks")).as("n_blocks"),
        max(col("_s")).as("_s2"), sum(col("_d6")).as("_dev"))
      .select(col("key"), col("n"), col("n_blocks"),
        (col("_s2").cast("double") / col("n").cast("double") / 1e4)
          .as("mean"),
        sqrt((col("n_blocks") - 1).cast("double") /
          col("n_blocks").cast("double") *
          (col("_dev").cast("double") / 1e6)).as("se_jack"))
  }

  /** Chapman capture–recapture estimate of the true population two
    * overlapping samples draw from: N̂ = (n₁+1)(n₂+1)/(m+1) − 1 with
    * SE from the standard Chapman variance — the "how much corpus
    * exists that neither crawl saw" estimator, keyed on an exact item
    * hash. One row: n1, n2, m_overlap, n_hat, se. */
  def captureRecapture(data: DataFrame, itemCol: String,
      inACol: String, inBCol: String): DataFrame = {
    val items = data.groupBy(col(itemCol).as("_it"))
      .agg(max(col(inACol).cast("boolean")).as("_a"),
        max(col(inBCol).cast("boolean")).as("_b"))
    val c = items.agg(
      sum(when(col("_a"), 1L).otherwise(0L)).as("n1"),
      sum(when(col("_b"), 1L).otherwise(0L)).as("n2"),
      sum(when(col("_a") && col("_b"), 1L).otherwise(0L)).as("m_overlap"))
    val n1 = col("n1").cast("double"); val n2 = col("n2").cast("double")
    val m = col("m_overlap").cast("double")
    c.withColumn("n_hat",
        (n1 + 1) * (n2 + 1) / (m + 1) - 1.0)
      .withColumn("se", sqrt((n1 + 1) * (n2 + 1) * (n1 - m) * (n2 - m) /
        ((m + 1) * (m + 1) * (m + 2))))
      .select("n1", "n2", "m_overlap", "n_hat", "se")
  }

  /** Chao1 vocabulary-richness estimate per key from the token
    * count-of-counts: Ŝ = D + f₁²/(2f₂) (bias-corrected form when
    * f₂ = 0) — "how many types exist that this corpus hasn't seen
    * yet". One row per key: key, n_tokens, d_types, f1, f2, chao1. */
  def chao1(tokens: DataFrame, keyCol: String, tokCol: String): DataFrame = {
    val cnt = tokens.groupBy(col(keyCol).as("key"), col(tokCol).as("_t"))
      .agg(count(lit(1)).as("_c"))
    cnt.groupBy(col("key"))
      .agg(sum(col("_c")).as("n_tokens"), count(lit(1)).as("d_types"),
        sum(when(col("_c") === 1, 1L).otherwise(0L)).as("f1"),
        sum(when(col("_c") === 2, 1L).otherwise(0L)).as("f2"))
      .withColumn("chao1", when(col("f2") > 0,
        col("d_types").cast("double") +
          col("f1").cast("double") * col("f1").cast("double") /
            (lit(2.0) * col("f2").cast("double")))
        .otherwise(col("d_types").cast("double") +
          col("f1").cast("double") * (col("f1").cast("double") - 1) / 2.0))
      .select("key", "n_tokens", "d_types", "f1", "f2", "chao1")
  }

  /** Good–Turing frequency adjustment per key: unseen-mass estimate
    * p₀ = f₁/N and the adjusted counts r* = (r+1)·S(r+1)/S(r) for
    * r = 1..maxR from the exact count-of-counts. One row per (key, r):
    * key, r, n_r, r_star (NULL when S(r+1) = 0). */
  def goodTuring(tokens: DataFrame, keyCol: String, tokCol: String,
      maxR: Int = 5): DataFrame = {
    val cnt = tokens.groupBy(col(keyCol).as("key"), col(tokCol).as("_t"))
      .agg(count(lit(1)).as("_c"))
    val coc = cnt.where(col("_c") <= maxR + 1)
      .groupBy(col("key"), col("_c").as("r"))
      .agg(count(lit(1)).as("n_r"))
    val nxt = coc.select(col("key"), (col("r") - 1).as("r"),
      col("n_r").as("_n_r1"))
    coc.where(col("r") <= maxR)
      .join(nxt, Seq("key", "r"), "left")
      .select(col("key"), col("r"), col("n_r"),
        ((col("r") + 1).cast("double") * col("_n_r1").cast("double") /
          col("n_r").cast("double")).as("r_star"))
  }
}
