package graft.sim

import graft.text.TextOps.tokens
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Set-similarity self-joins with prefix filtering (PPJoin/AllPairs
  * family, Xiao et al. WWW'08; Bayardo et al. WWW'07) — the exact
  * counterpart of the MinHash-LSH near-dup path: LSH buckets are
  * probabilistic recall, the prefix filter is EXACT (no pair with
  * Jaccard ≥ τ can avoid sharing a prefix token), so this is the
  * verify-stage engine for dedup audits.
  *
  * Scale: pairs come only from the PREFIX postings — each document
  * contributes its |d|−⌈τ·|d|⌉+1 rarest tokens, so the pair work is
  * Σ_prefix-token df², orders of magnitude below the full Σ df² of a
  * naive token join. The global token ranking rides the df-band
  * bucketed device (core.bandedRowNumber — its only unpartitioned
  * window is the df histogram). The prefix postings are grouped by
  * (token, block pair) and one Catalyst generator
  * (graft.expr.PrefixPairs) filters, verifies and emits each pair once
  * at its smallest shared prefix token: no checkpoint, no dedup
  * exchange, no verify join. Hot tokens split into ⌈df/B⌉ blocks so a
  * generator row holds ~B² pairs at most.
  *
  * Determinism: token sets are exact; sizes, intersections and ranks
  * are integers; every pair is emitted exactly once whatever the block
  * size; Jaccard is one integer-ratio division. */
object SimJoin {

  /** All pairs with token-set Jaccard ≥ τ via prefix filtering.
    * Output: a, b (idCol values, a < b), sz_a, sz_b, inter, jaccard. */
  def prefixJaccardJoin(docs: DataFrame, idCol: String, textCol: String,
      tau: Double): DataFrame =
    prefixPairs(docs, idCol, textCol, tau, keepAll = false)

  /** Number of pairs that reach the exact intersection inside the pair
    * generator (every filter passed, emitted once) — the candidate-count
    * gate's measure (r12 verdict item 1): a prefix-, length-, positional-
    * or emit-once regression shows up here as a candidate blowup long
    * before it shows up as bench variance. */
  private[graft] def prefixVerifiedPairs(docs: DataFrame, idCol: String,
      textCol: String, tau: Double): Long =
    prefixPairs(docs, idCol, textCol, tau, keepAll = true).count()

  private def prefixPairs(docs: DataFrame, idCol: String, textCol: String,
      tau: Double, keepAll: Boolean): DataFrame = {
    require(tau > 0 && tau < 1, s"0 < tau < 1: $tau")
    // tokens travel as 56-bit md5 hashes (longs): O(1) comparisons and a
    // total tie order for the rarity rank — the 2^56 collision odds are
    // far below the 4dp hash-compare tolerance everywhere else
    val tok = docs
      .select(col(idCol).as("_id"),
        explode(array_distinct(tokens(col(textCol)))).as("_ts"))
      .where(col("_ts") =!= "")
      .select(col("_id"), graft.text.TextOps.hash56(col("_ts")).as("_tok"))
    // global rarity rank (df asc, token asc) via the df-band bucketed
    // device: the only unpartitioned window rides the df HISTOGRAM
    // (distinct df values — ~hundreds even at corpus scale), never the
    // billion-token vocab itself (r9 verdict item 3)
    val rank = graft.core.bandedRowNumber(
      tok.groupBy(col("_tok")).agg(count(lit(1)).as("_df")),
      band = col("_df"), bandAsc = true, tie = Seq(col("_tok").asc),
      out = "_rk")
    // one row per doc: its token ranks ascending (`_r`, the merge input
    // of the generator) with each rank's df (block sizing below)
    val byDoc = tok.join(rank, "_tok").groupBy(col("_id"))
      .agg(array_sort(collect_list(struct(col("_rk"), col("_df")))).as("_rd"))
      .select(col("_id"), size(col("_rd")).as("_sz"),
        col("_rd._rk").as("_r"), col("_rd"))
    // hot-token block split (r13; guide §2.5 "salt the key" adapted to a
    // self-join): on a template-heavy corpus one prefix token can carry
    // df ≈ all docs (measured 3.8k of 5k at sf0.1), and one generator row
    // per token would own its df²/2 pairs in ONE task. Each token's
    // postings split into g = ⌈df/B⌉ deterministic md5 blocks (corpus df
    // bounds the prefix posting count, so no prefix-df pass), and an
    // entry of block k joins the rows keyed (min(k, j), max(k, j)),
    // j ∈ [0, g): every pair meets in exactly one row, the one of its
    // two blocks, and a row holds ≤ 2 blocks — ~B² pairs. Cold tokens
    // have one block: no replication.
    val blockB = docs.sparkSession.conf
      .getOption("spark.graft.simjoin.blockSize").map(_.toLong)
      .getOrElse(1024L)
    val postings = byDoc
      // prefix length |d| − ⌈τ·|d|⌉ + 1: no pair with Jaccard ≥ τ can
      // avoid sharing a prefix token
      .select(col("_id"), col("_sz"), col("_r"), posexplode(slice(col("_rd"),
        lit(1), (col("_sz") - ceil(lit(tau) * col("_sz").cast("double")) + 1)
          .cast("int"))).as(Seq("_p0", "_e")))
      .withColumn("_g",
        ceil(col("_e._df").cast("double") / blockB.toDouble).cast("int"))
      .withColumn("_blk", pmod(graft.text.TextOps.hash56(
        col("_id").cast("string")), col("_g").cast("long")).cast("int"))
      .withColumn("_j", explode(sequence(lit(0), col("_g") - 1)))
      .select(col("_id"), col("_sz"), col("_r"), col("_p0"), col("_blk"),
        col("_e._rk").as("_tk"), least(col("_blk"), col("_j")).as("_bx"),
        greatest(col("_blk"), col("_j")).as("_by"))
      // spread the rows over a FIXED task count: AQE sizes partitions by
      // bytes, and the posting stream is small (~1.75 MB at sf0.1) while
      // the generator's cost is its pairs, so a coalesced exchange — or
      // none, behind a single-partition rank window — left the whole
      // pair loop in one task. Hash-partitioned on the group key, the
      // aggregation below needs no second exchange.
      .repartition(graft.core.shufflePartitions(docs.sparkSession),
        col("_tk"), col("_bx"), col("_by"))
      .groupBy(col("_tk"), col("_bx"), col("_by"))
      .agg(collect_list(struct(col("_id"), col("_sz"),
        (col("_p0") + 1).as("_pos"), col("_blk"), col("_r"))).as("_p"))
    // one generator pass: length, positional, emit-once and exact
    // intersection per pair (graft.expr.PrefixPairs) — each pair leaves
    // exactly once, so no dedup exchange and no verify join follow
    postings.select(org.apache.spark.sql.GraftColumnBridge.column(
      graft.expr.PrefixPairs(
        org.apache.spark.sql.GraftColumnBridge.expression(
          col("_bx") === col("_by")),
        org.apache.spark.sql.GraftColumnBridge.expression(col("_p")),
        tau, keepAll)))
  }

  /** Exact TF-IDF cosine top-k neighbors per document via the shared-
    * token inverted index: w(t,d) = tf·(ln((1+N)/(1+df))+1) frozen at
    * 6dp, dot products and norms exact integer sums, per-doc rank by
    * (cos desc, neighbor asc). Output: a, b, rank, cos.
    *
    * Scale: pair work is Σ_token df² — the index drops stopword-class
    * tokens (df > N/2, near-zero discrimination) BEFORE the pair join,
    * the same postings-filter dial BM25 uses; on a template-heavy
    * corpus this removes the df≈N tokens whose df² terms dominate.
    * Ranks ride one exchange on the source doc. */
  def tfidfTopK(docs: DataFrame, idCol: String, textCol: String,
      k: Int): DataFrame = {
    val tf = docs
      .select(col(idCol).as("_id"), explode(tokens(col(textCol))).as("_tok"))
      .where(col("_tok") =!= "")
      .groupBy(col("_id"), col("_tok")).agg(count(lit(1)).as("_tf"))
    val n = docs.agg(countDistinct(col(idCol)).as("_n"))
    val df = tf.groupBy(col("_tok")).agg(count(lit(1)).as("_df"))
    val w6 = floor((col("_tf").cast("double") *
      (log((lit(1.0) + col("_n").cast("double")) /
        (lit(1.0) + col("_df").cast("double"))) + 1.0)) * 1e6 + 0.5)
      .cast("long")
    val wtd = tf.join(broadcast(n)).join(df, "_tok")
      .where(col("_df") * 2 <= col("_n"))
      .select(col("_id"), col("_tok"), w6.as("_w"))
    val norms = wtd.groupBy(col("_id"))
      .agg(sum((col("_w") * col("_w")).cast("decimal(38,0)")).as("_n2"))
    val dots = wtd.as("x").join(wtd.as("y"),
        col("x._tok") === col("y._tok") && col("x._id") =!= col("y._id"))
      .groupBy(col("x._id").as("a"), col("y._id").as("b"))
      .agg(sum((col("x._w") * col("y._w")).cast("decimal(38,0)")).as("_dot"))
    val cos = dots
      .join(norms.select(col("_id").as("a"), col("_n2").as("_na")), "a")
      .join(norms.select(col("_id").as("b"), col("_n2").as("_nb")), "b")
      .withColumn("cos", col("_dot").cast("double") /
        sqrt(col("_na").cast("double")) / sqrt(col("_nb").cast("double")))
    cos
      .withColumn("rank", row_number().over(Window.partitionBy(col("a"))
        .orderBy(col("cos").desc, col("b").asc)))
      .where(col("rank") <= k)
      .select("a", "b", "rank", "cos")
  }

  /** Linear-time MMD two-sample test on embeddings (Gretton et al.
    * JMLR'12 §6): both samples order by id, consecutive disjoint
    * quadruples (x₂ⱼ₋₁,x₂ⱼ,y₂ⱼ₋₁,y₂ⱼ) score h = k(x₁,x₂)+k(y₁,y₂)
    * −k(x₁,y₂)−k(x₂,y₁) with the RBF kernel k = exp(−‖a−b‖²/(2σ²));
    * MMD²ₗ = mean h. O(n) kernel evaluations instead of the quadratic
    * energy-distance pass (drift/Drift's exact face) — THE scale path
    * for embedding-shift monitoring. h quantizes at 6dp before the
    * pair-count-sized sum; ‖a−b‖² is an ordered left fold over the
    * (double-cast) vector. One row: m_pairs, mmd2. */
  def mmdLinear(emb: DataFrame, idCol: String, vecCol: String,
      isBCol: String, sigma2: Double): DataFrame = {
    val v = col(vecCol).cast("array<double>")
    val base = emb.where(col(vecCol).isNotNull)
      .select(col(idCol).cast("long").as("_id"), v.as("_v"),
        col(isBCol).cast("boolean").as("_b"))
      .withColumn("_rn", row_number().over(Window.partitionBy(col("_b"))
        .orderBy(col("_id").asc)).cast("long"))
      .withColumn("_j", floor((col("_rn") + 1) / lit(2.0)).cast("long"))
      .withColumn("_odd", pmod(col("_rn"), lit(2)) === 1)
    def side(b: Boolean, odd: Boolean, as: String) = base
      .where(col("_b") === b && col("_odd") === odd)
      .select(col("_j"), col("_v").as(as))
    val quad = side(false, true, "x1").join(side(false, false, "x2"), "_j")
      .join(side(true, true, "y1"), "_j")
      .join(side(true, false, "y2"), "_j")
    def k2(a: Column, b: Column): Column =
      exp(-aggregate(zip_with(a, b, (p, q) => (p - q) * (p - q)),
        lit(0.0), (acc, x) => acc + x) / lit(2.0 * sigma2))
    val h = k2(col("x1"), col("x2")) + k2(col("y1"), col("y2")) -
      k2(col("x1"), col("y2")) - k2(col("x2"), col("y1"))
    quad
      .withColumn("_h6", graft.core.fixedPointLong(h, 6))
      .agg(count(lit(1)).as("m_pairs"),
        (sum(col("_h6")).cast("double") / 1e6 /
          count(lit(1)).cast("double")).as("mmd2"))
  }

  /** All-but-the-top embedding post-processing (Mu & Viswanath,
    * ICLR'18): center the corpus, find the top principal direction by
    * `iters` power-iteration rounds, and report each vector's
    * projection on it plus the residual norm after removing it — the
    * fix isotropy (above) diagnoses: a dominant common direction makes
    * every cosine look high; removing it restores ANN contrast.
    *
    * Determinism: the per-dim mean and each power-iteration direction
    * are 6dp-frozen d-vectors; every cross-row sum quantizes terms to
    * 8dp fixed-point longs (combine-order-free); the iteration is a
    * finite float program the oracle unrolls CTE by CTE. Init
    * u₀ = 1/√d on every dim (deterministic, generically
    * non-orthogonal to the top PC).
    *
    * Scale: the kmeans shape — per round, one (id)-keyed and one
    * (dim)-keyed hash aggregate over the exploded corpus (persisted
    * once); the driver holds only d doubles between rounds. No d×d
    * covariance materializes.
    *
    * Output: (vec_id, coef, res_norm) — coef = (x−μ)·u,
    * res_norm = ‖x−μ−coef·u‖. */
  def allButTop(vecs: DataFrame, idCol: String, vecCol: String,
      dim: Int, iters: Int = 3): DataFrame = {
    val spark = vecs.sparkSession
    import spark.implicits._
    def rha(x: Double): Long =
      if (x >= 0) math.floor(x + 0.5).toLong else -math.floor(-x + 0.5).toLong
    def r6d(x: Double): Double = rha(x * 1e6) / 1e6
    val fp8 = (c: Column) =>
      graft.core.fixedPointLong(c, 8).cast("decimal(38,0)")
    val ex = vecs.where(col(vecCol).isNotNull)
      .select(col(idCol).cast("long").as("_id"),
        posexplode(col(vecCol).cast("array<double>")).as(Seq("_j", "_x")))
      // eager localCheckpoint (GC-cleaned), not an unpersist-less persist
      .localCheckpoint(true)
    val mustats = ex.groupBy("_j")
      .agg(sum(fp8(col("_x"))).as("_s"), count(lit(1)).as("_n"))
      .collect().map(r => r.getAs[Int]("_j") ->
        (BigDecimal(r.getAs[java.math.BigDecimal]("_s")), r.getAs[Long]("_n")))
      .toMap
    val n = mustats.values.headOption.map(_._2).getOrElse(0L)
    require(n > 0, "allButTop on an empty corpus")
    val mu = Array.tabulate(dim)(j =>
      r6d(mustats(j)._1.toDouble / 1e8 / n))
    var u = Array.fill(dim)(r6d(1.0 / math.sqrt(dim.toDouble)))
    def muU = broadcast((0 until dim).map(j => (j, mu(j), u(j)))
      .toDF("_j", "_mu", "_u"))
    def zFrame = ex.join(muU, "_j")
      .groupBy("_id")
      .agg((sum(fp8((col("_x") - col("_mu")) * col("_u")))
        .cast("double") / 1e8).as("_z"))
    for (_ <- 1 to iters) {
      val s8 = zFrame.join(ex, "_id")
        .join(muU, "_j")
        .groupBy("_j")
        .agg(sum(fp8((col("_x") - col("_mu")) * col("_z"))).as("_s8"))
        .collect().map(r => r.getAs[Int]("_j") ->
          BigDecimal(r.getAs[java.math.BigDecimal]("_s8"))).toMap
      val s = Array.tabulate(dim)(j => s8(j).toDouble / 1e8 / n)
      val norm = math.sqrt(
        s.map(x => rha(x * x * 1e8)).sum.toDouble / 1e8)
      require(norm > 0, "degenerate covariance: zero power-iterate")
      u = Array.tabulate(dim)(j => r6d(s(j) / norm))
    }
    zFrame.join(ex, "_id").join(muU, "_j")
      .withColumn("_r", col("_x") - col("_mu") - col("_z") * col("_u"))
      .groupBy(col("_id"), col("_z"))
      .agg(sqrt(sum(fp8(col("_r") * col("_r"))).cast("double") / 1e8)
        .as("res_norm"))
      .select(col("_id").as("vec_id"), col("_z").as("coef"),
        col("res_norm"))
  }

  /** Matryoshka / prefix-truncation distance audit (Kusupati et al.,
    * NeurIPS'22): on an md5-free id-sampled pair set, compare exact
    * Euclidean distances of the FULL vectors vs their first
    * `prefixDim` coordinates — the go/no-go table before storing only
    * vector prefixes (the 2-4× store/bandwidth saving MRL training
    * promises). Same audit shape as [[jlDistortion]], truncation
    * instead of projection.
    *
    * Output one row: prefix_dim, n_pairs, mean_ratio, min_ratio,
    * max_ratio (prefix/full distance; 1 − mean_ratio is the recall
    * hazard proxy). */
  def matryoshkaAudit(vecs: DataFrame, idCol: String, vecCol: String,
      prefixDim: Int, sampleMod: Int = 10): DataFrame = {
    require(prefixDim >= 1, "prefixDim >= 1")
    val spark = vecs.sparkSession
    graft.expr.GraftFunctions.register(spark)
    val fp8 = (c: Column) =>
      graft.core.fixedPointLong(c, 8).cast("decimal(38,0)")
    val sample = vecs
      .where(col(idCol) % sampleMod === 0 && col(vecCol).isNotNull)
      .select(col(idCol).cast("long").as("_id"),
        call_function("vec_validate", col(vecCol)).as("_v"))
      .withColumn("_p", slice(col("_v"), 1, prefixDim))
    val a = sample.select(col("_id").as("_a"), col("_v").as("_va"),
      col("_p").as("_pa"))
    val b = sample.select(col("_id").as("_b"), col("_v").as("_vb"),
      col("_p").as("_pb"))
    a.join(b, col("_a") < col("_b"))
      .withColumn("_df", call_function("vec_euclid", col("_va"), col("_vb")))
      .withColumn("_dp", call_function("vec_euclid", col("_pa"), col("_pb")))
      .where(col("_df") > 0)
      .withColumn("_r", col("_dp") / col("_df"))
      .agg(count(lit(1)).as("n_pairs"), sum(fp8(col("_r"))).as("_sr8"),
        min(col("_r")).as("min_ratio"), max(col("_r")).as("max_ratio"))
      .select(lit(prefixDim).as("prefix_dim"), col("n_pairs"),
        (col("_sr8").cast("double") / 1e8 /
          col("n_pairs").cast("double")).as("mean_ratio"),
        col("min_ratio"), col("max_ratio"))
  }

  /** Embedding-space isotropy diagnostics (Ethayarajh EMNLP'19 /
    * Mu & Viswanath ICLR'18: contextual embedding spaces are
    * anisotropic — a large common-mean component makes every cosine
    * look high and ANN recall collapse along one axis): one row with
    * ‖mean x‖², E‖x‖², isotropy = 1 − ‖mean‖²/E‖x‖² (1 = centered,
    * → 0 = all vectors share a direction), plus the highest-variance
    * dimension and its ratio to the mean per-dim variance (a single
    * rogue dimension is the classic embedding-layer bug).
    *
    * Determinism: per-dim moments are fixed-point decimal sums; the
    * cross-dim reductions sum fixed-point LONGS (order-free); the
    * arg-max dimension resolves on exact integers (ties → smallest
    * dim). Scale: one explode + one dim-keyed aggregate; everything
    * after is dims-sized. */
  def isotropy(emb: DataFrame, idCol: String, vecCol: String): DataFrame = {
    import graft.core.fixedPointLong
    val d = emb.where(col(vecCol).isNotNull)
      .select(col(idCol).as("_id"),
        posexplode(col(vecCol).cast("array<double>")).as(Seq("dim", "x")))
    val per = d.groupBy(col("dim")).agg(
      count(lit(1)).as("_n"),
      sum(fixedPointLong(col("x"), 6).cast("decimal(38,0)")).as("_sx6"),
      sum(fixedPointLong(col("x") * col("x"), 8).cast("decimal(38,0)"))
        .as("_sxx8"))
      .withColumn("_mean",
        col("_sx6").cast("double") / 1e6 / col("_n").cast("double"))
      .withColumn("_var",
        col("_sxx8").cast("double") / 1e8 / col("_n").cast("double") -
          col("_mean") * col("_mean"))
    val agg = per.agg(
      max(col("_n")).as("n"), count(lit(1)).as("dims"),
      sum(fixedPointLong(col("_mean") * col("_mean"), 8)).as("_mn8"),
      sum(col("_sxx8")).as("_sxx8t"),
      sum(fixedPointLong(col("_var"), 8)).as("_v8t"),
      max(fixedPointLong(col("_var"), 8)).as("_vmax8"))
    val top = per.select(col("dim"), fixedPointLong(col("_var"), 8).as("_v8"))
      .join(broadcast(agg.select(col("_vmax8"))),
        col("_v8") === col("_vmax8"))
      .agg(min(col("dim").cast("long")).as("top_var_dim"))
    agg.crossJoin(broadcast(top))
      .withColumn("mean_norm2", col("_mn8").cast("double") / 1e8)
      .withColumn("avg_norm2", col("_sxx8t").cast("double") / 1e8 /
        col("n").cast("double"))
      .withColumn("isotropy",
        when(col("avg_norm2") > 0,
          lit(1.0) - col("mean_norm2") / col("avg_norm2"))
          .otherwise(lit(0.0)))
      .withColumn("var_ratio",
        when(col("_v8t") > 0,
          col("_vmax8").cast("double") /
            (col("_v8t").cast("double") / col("dims").cast("double")))
          .otherwise(lit(0.0)))
      .select("n", "dims", "mean_norm2", "avg_norm2", "isotropy",
        "top_var_dim", "var_ratio")
  }

  /** Per-dimension int8 scalar-quantization error audit: each dimension
    * gets the affine uint8 code q = clamp(⌊(x−min)/scale+½⌋, 0, 255),
    * scale = (max−min)/255, and the audit reports the reconstruction
    * error that a 4×-smaller embedding store would cost — the decision
    * table for quantizing a 100 TB vector corpus (a single wide-range
    * dimension shows up as the mse outlier). Output per dim: dim, vmin,
    * vmax, mse_e6 (mean squared error ×10⁶), max_err_e3 (max |err|
    * ×10³) — scaled so 4dp outputs keep their precision.
    *
    * Determinism: codes are exact floor arithmetic; err² terms freeze
    * at 12dp, |err| at 8dp. Scale: one explode + two dim-keyed
    * aggregates with a broadcast dim-sized min/max join. */
  def int8QuantError(emb: DataFrame, idCol: String,
      vecCol: String): DataFrame = {
    import graft.core.fixedPointLong
    val d = emb.where(col(vecCol).isNotNull)
      .select(posexplode(col(vecCol).cast("array<double>"))
        .as(Seq("dim", "x")))
    val mm = d.groupBy(col("dim"))
      .agg(min(col("x")).as("vmin"), max(col("x")).as("vmax"))
    val scale = (col("vmax") - col("vmin")) / 255.0
    val q = least(lit(255L), greatest(lit(0L),
      floor((col("x") - col("vmin")) / scale + 0.5)))
    val xhat = col("vmin") + q * scale
    val err = when(col("vmax") > col("vmin"), col("x") - xhat)
      .otherwise(lit(0.0))
    d.join(broadcast(mm), "dim")
      .select(col("dim").cast("long").as("dim"), col("vmin"), col("vmax"),
        fixedPointLong(err * err, 12).as("_e12"),
        fixedPointLong(abs(err), 8).as("_a8"))
      .groupBy(col("dim"), col("vmin"), col("vmax"))
      .agg(count(lit(1)).as("_n"),
        sum(col("_e12").cast("decimal(38,0)")).as("_s12"),
        max(col("_a8")).as("_m8"))
      .select(col("dim"), col("vmin"), col("vmax"),
        (col("_s12").cast("double") / 1e6 / col("_n").cast("double"))
          .as("mse_e6"),
        (col("_m8").cast("double") / 1e5).as("max_err_e3"))
  }

  /** Johnson–Lindenstrauss sign-projection distortion audit (Achlioptas
    * 2003 database-friendly ±1 projections): project the embeddings to
    * `k` dimensions with a DETERMINISTIC ±1/√k matrix (sign = md5
    * parity of "i_j", 0-based dim index) and report how well pairwise
    * L2 distances survive on a hash-thinned pair sample — the go/no-go
    * table before running the ANN stack on reduced vectors (k·/d·
    * storage and dot-product cost).
    *
    * Exactness: projected components sum 8dp fixed-point longs per
    * (vec, j); per-pair projected distances quantize each squared term
    * to 8dp; ratio aggregates (mean via 8dp terms, min/max exact
    * comparisons) replay bit-for-bit.
    *
    * Scale: the sign table is d·k rows (broadcast), projection is one
    * explode + hash aggregate (n·d rows in flight, the same shape as
    * every embedding fit here); the DISTORTION AUDIT is pair-sampled
    * by `sampleMod` — the projection itself never touches pairs.
    * Output: one row — k, n_pairs, mean_ratio, min_ratio, max_ratio. */
  def jlDistortion(vecs: DataFrame, idCol: String, vecCol: String,
      dim: Int, k: Int = 16, sampleMod: Int = 10): DataFrame = {
    val spark = vecs.sparkSession
    import spark.implicits._
    graft.expr.GraftFunctions.register(spark)
    val fp8 = (c: Column) =>
      graft.core.fixedPointLong(c, 8).cast("decimal(38,0)")
    val signs = spark.range(dim).select(col("id").as("_i"))
      .crossJoin(spark.range(k).select(col("id").as("_j")))
      .withColumn("_s", when(pmod(graft.text.TextOps.hash56(
        concat(col("_i").cast("string"), lit("_"),
          col("_j").cast("string"))), lit(2L)) === 0L, lit(1.0))
        .otherwise(lit(-1.0)))
    val sample = vecs
      .where(col(idCol) % sampleMod === 0 && col(vecCol).isNotNull)
      .select(col(idCol).cast("long").as("_id"),
        call_function("vec_validate", col(vecCol)).as("_v"))
      .localCheckpoint(true)
    val proj = sample
      .select(col("_id"), posexplode(col("_v")).as(Seq("_i", "_x")))
      .join(broadcast(signs), "_i")
      .groupBy(col("_id"), col("_j"))
      .agg(sum(fp8(col("_x") * col("_s"))).as("_y8"))
      .withColumn("_y",
        col("_y8").cast("double") / 1e8 / math.sqrt(k.toDouble))
    val pa = proj.select(col("_id").as("_a"), col("_j"),
      col("_y").as("_ya"))
    val pb = proj.select(col("_id").as("_b"), col("_j"),
      col("_y").as("_yb"))
    val pd = pa.join(pb, "_j").where(col("_a") < col("_b"))
      .groupBy(col("_a"), col("_b"))
      .agg(sum(fp8((col("_ya") - col("_yb")) *
        (col("_ya") - col("_yb")))).as("_pd8"))
      .withColumn("_dp", sqrt(col("_pd8").cast("double") / 1e8))
    val oa = sample.select(col("_id").as("_a"), col("_v").as("_va"))
    val ob = sample.select(col("_id").as("_b"), col("_v").as("_vb"))
    val od = oa.join(ob, col("_a") < col("_b"))
      .withColumn("_do",
        call_function("vec_euclid", col("_va"), col("_vb")))
      .select(col("_a"), col("_b"), col("_do"))
    pd.join(od, Seq("_a", "_b"))
      .where(col("_do") > 0)
      .withColumn("_r", col("_dp") / col("_do"))
      .agg(count(lit(1)).as("n_pairs"),
        sum(fp8(col("_r"))).as("_sr8"),
        min(col("_r")).as("min_ratio"),
        max(col("_r")).as("max_ratio"))
      .select(lit(k).as("k"), col("n_pairs"),
        (col("_sr8").cast("double") / 1e8 /
          col("n_pairs").cast("double")).as("mean_ratio"),
        col("min_ratio"), col("max_ratio"))
  }
}