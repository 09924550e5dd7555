package graft.model

import graft.core.fixedPointLong
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Behavioral / pipeline-allocation analytics over event and corpus
  * tables: ordered funnels, cohort retention, deterministic weighted
  * sampling (Efraimidis–Spirakis), count-min frequency sketching and
  * temperature-scaled corpus mixing — the product-analytics and
  * data-mixing face the reference's score-centric operators don't cover
  * but every large-scale events/corpus deployment asks for.
  *
  * Determinism: sampling keys and sketch buckets derive from 56-bit md5
  * hashes (the engine-wide hash56 device), float roll-ups are
  * fixed-point-quantized before summing, and every rank breaks ties on
  * the id — all exactly replayable in the DuckDB oracles.
  *
  * Scale: funnels are one groupBy + one join per step (steps are few and
  * fixed); retention is two hash aggregates; weighted sampling is one
  * partitioned rank window; count-min registers are d·w counters (a
  * model, not data); the mix allocation is language-sized. */
object Behavior {

  /** Ordered conversion funnel: a user reaches step k when an event of
    * `steps(k)` occurs STRICTLY after their step-(k−1) completion time
    * (completion = the earliest qualifying event, min ordCol). One row
    * per step: step_idx, step, users, conv (users_k / users_1).
    *
    * Scale: per step one filter + equi-join on user + min-aggregate —
    * work is O(matching events), never a per-user sequence sort. */
  def funnel(data: DataFrame, userCol: String, typeCol: String,
      ordCol: String, steps: Seq[String]): DataFrame = {
    require(steps.nonEmpty, "funnel needs at least one step")
    val stepFrames = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    var reached = data.where(col(typeCol) === steps.head)
      .groupBy(col(userCol).as("_u")).agg(min(col(ordCol)).as("_t"))
    stepFrames += reached.agg(count(lit(1)).as("users"))
      .select(lit(1L).as("step_idx"), lit(steps.head).as("step"), col("users"))
    steps.zipWithIndex.drop(1).foreach { case (st, i) =>
      reached = data.where(col(typeCol) === st)
        .select(col(userCol).as("_u"), col(ordCol).as("_o"))
        .join(reached, "_u")
        .where(col("_o") > col("_t"))
        .groupBy(col("_u")).agg(min(col("_o")).as("_t"))
      stepFrames += reached.agg(count(lit(1)).as("users"))
        .select(lit((i + 1).toLong).as("step_idx"), lit(st).as("step"),
          col("users"))
    }
    val all = stepFrames.reduce(_ unionByName _)
    val first = all.where(col("step_idx") === 1L)
      .select(col("users").as("_u0"))
    all.crossJoin(broadcast(first))
      .select(col("step_idx"), col("step"), col("users"),
        when(col("_u0") > 0,
          col("users").cast("double") / col("_u0").cast("double"))
          .otherwise(lit(0.0)).as("conv"))
  }

  /** Funnel step timing: for every step after the first, the user count
    * and the mean completion gap from the previous step (the same
    * strictly-after min-completion chain as [[funnel]]). `ordCol` is in
    * epoch nanos; gaps report in seconds. Output per step ≥ 2:
    * step_idx, step, users, avg_gap_sec.
    *
    * Determinism: gaps are exact long differences; the mean is an exact
    * decimal-sum / count ratio. Scale: identical to [[funnel]]. */
  def funnelTiming(data: DataFrame, userCol: String, typeCol: String,
      ordCol: String, steps: Seq[String]): DataFrame = {
    require(steps.size >= 2, "funnelTiming needs at least two steps")
    val frames = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    var reached = data.where(col(typeCol) === steps.head)
      .groupBy(col(userCol).as("_u")).agg(min(col(ordCol)).as("_t"))
    steps.zipWithIndex.drop(1).foreach { case (st, i) =>
      val nxt = data.where(col(typeCol) === st)
        .select(col(userCol).as("_u"), col(ordCol).as("_o"))
        .join(reached, "_u")
        .where(col("_o") > col("_t"))
        .groupBy(col("_u"))
        .agg(min(col("_o")).as("_t2"), max(col("_t")).as("_tp"))
      frames += nxt
        .agg(count(lit(1)).as("users"),
          sum((col("_t2") - col("_tp")).cast("decimal(38,0)")).as("_g"))
        .select(lit((i + 1).toLong).as("step_idx"), lit(st).as("step"),
          col("users"),
          when(col("users") > 0, col("_g").cast("double") / 1e9 /
            col("users").cast("double")).otherwise(lit(0.0))
            .as("avg_gap_sec"))
      reached = nxt.select(col("_u"), col("_t2").as("_t"))
    }
    frames.reduce(_ unionByName _)
  }

  /** Cohort retention matrix: cohort = the user's first-activity day,
    * age = activity day − cohort day. One row per (cohort, age) with the
    * distinct-user count and the fraction of the cohort still active.
    * `dayCol` is a pre-bucketed integer day (ts div 86400e9).
    *
    * Scale: distinct (user, day) → per-user min → two hash aggregates;
    * the cohort-size join is cohort-count-sized. */
  def retention(data: DataFrame, userCol: String, dayCol: String,
      maxAge: Int): DataFrame = {
    val ud = data
      .select(col(userCol).as("_u"), col(dayCol).cast("long").as("_d"))
      .distinct()
    val cohort = ud.groupBy(col("_u")).agg(min(col("_d")).as("_c"))
    val sizes = cohort.groupBy(col("_c").as("cohort"))
      .agg(count(lit(1)).as("cohort_users"))
    ud.join(cohort, "_u")
      .select(col("_c").as("cohort"), (col("_d") - col("_c")).as("age"))
      .where(col("age") <= maxAge)
      .groupBy(col("cohort"), col("age")).agg(count(lit(1)).as("users"))
      .join(sizes, "cohort")
      .withColumn("frac",
        col("users").cast("double") / col("cohort_users").cast("double"))
      .select("cohort", "age", "users", "cohort_users", "frac")
  }

  /** Engagement stickiness per period: avg daily active users / period
    * active users (the DAU/MAU ratio at period = 30, DAU/WAU at 7) —
    * THE habit metric; retention says users come back, stickiness says
    * how often. `dayCol` is a pre-bucketed integer day. Output per
    * period: period, days_active, wau, avg_dau, stickiness.
    *
    * Scale: one distinct + two hash aggregates, everything after is
    * period-sized. */
  def stickiness(data: DataFrame, userCol: String, dayCol: String,
      periodDays: Int = 7): DataFrame = {
    require(periodDays >= 2, s"periodDays >= 2: $periodDays")
    val ud = data
      .select(col(userCol).as("_u"), col(dayCol).cast("long").as("_d"))
      .distinct()
      .withColumn("_p", floor(col("_d").cast("double") / periodDays)
        .cast("long"))
    val daily = ud.groupBy(col("_p"), col("_d"))
      .agg(count(lit(1)).as("_dau"))
    val perPeriod = daily.groupBy(col("_p").as("period"))
      .agg(count(lit(1)).as("days_active"), sum(col("_dau")).as("_sdau"))
    val wau = ud.select(col("_p"), col("_u")).distinct()
      .groupBy(col("_p").as("period")).agg(count(lit(1)).as("wau"))
    perPeriod.join(wau, "period")
      .withColumn("avg_dau",
        col("_sdau").cast("double") / col("days_active").cast("double"))
      .withColumn("stickiness", col("avg_dau") / col("wau").cast("double"))
      .select("period", "days_active", "wau", "avg_dau", "stickiness")
  }

  /** Deterministic weighted sampling without replacement (Efraimidis &
    * Spirakis IPL'06, the exponential-race formulation): each row gets
    * key = −ln(u)/w with u = (hash56(id)+1)/2⁵⁶ ∈ (0, 1]; the k SMALLEST
    * keys per group are the sample — exactly the distribution of
    * weighted sampling without replacement, but replayable (no RNG
    * state; the hash is the randomness). Keys freeze at 8dp before the
    * rank so both engines order identically; ties break on id. Output:
    * keyCols…, id, w, es_key, rank.
    *
    * Scale: one partitioned rank window per group — no global sort. */
  def weightedSample(data: DataFrame, keyCols: Seq[String], idCol: String,
      wCol: String, k: Int): DataFrame = {
    require(k >= 1, s"k >= 1: $k")
    val u = (graft.text.TextOps.hash56(col(idCol).cast("string")) + 1)
      .cast("double") / lit(math.pow(2, 56))
    val base = data
      .where(col(wCol).isNotNull && col(wCol) > 0)
      .select((keyCols.map(col) :+ col(idCol).as("id") :+
        col(wCol).cast("double").as("w") :+
        fixedPointLong(-log(u) / col(wCol).cast("double"), 8).as("_es8")): _*)
    val w = Window.partitionBy(keyCols.map(col): _*)
      .orderBy(col("_es8").asc, col("id").asc)
    base.withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= k)
      .withColumn("es_key", col("_es8").cast("double") / 1e8)
      .select((keyCols.map(col) :+ col("id") :+ col("w") :+
        col("es_key") :+ col("rank")): _*)
  }

  /** Count-min sketch (Cormode & Muthukrishnan '05) frequency estimates:
    * d register rows of w counters, bucket r of an item =
    * hash56(r ‖ ':' ‖ item) mod w; estimate = min over rows of the
    * bucket counter. Reported for the top-`topK` items by exact count
    * (the audit view: est ≥ exact always, and the overestimate exposes
    * collision pressure at the chosen d×w). Output: item, exact, est.
    *
    * Scale: the sketch is ONE hash aggregate into d·w counters (a
    * model); exact counts ride the same item aggregate, and the top-k
    * rank uses the banded device — no data-sized global window. */
  def countMinEstimate(data: DataFrame, itemCol: String, d: Int, w: Int,
      topK: Int): DataFrame = {
    require(d >= 1 && w >= 2 && topK >= 1, s"bad args: $d, $w, $topK")
    val items = data.where(col(itemCol).isNotNull)
      .select(col(itemCol).cast("string").as("item"))
    val rowed = items.select(col("item"), explode(array((0 until d).map(r =>
      struct(lit(r).as("r"),
        pmod(graft.text.TextOps.hash56(
          concat(lit(s"$r:"), col("item"))), lit(w.toLong)).as("b"))): _*))
      .as("_h"))
      .select(col("item"), col("_h.r").as("r"), col("_h.b").as("b"))
    val registers = rowed.groupBy(col("r"), col("b"))
      .agg(count(lit(1)).as("reg"))
    val exact = items.groupBy(col("item")).agg(count(lit(1)).as("exact"))
    val top = graft.core.bandedRowNumber(exact, band = col("exact"),
      bandAsc = false, tie = Seq(col("item").asc), out = "_rk",
      maxRank = topK.toLong)
      .where(col("_rk") <= topK).drop("_rk")
    top
      .select(col("item"), col("exact"), explode(array((0 until d).map(r =>
        struct(lit(r).as("r"),
          pmod(graft.text.TextOps.hash56(
            concat(lit(s"$r:"), col("item"))), lit(w.toLong)).as("b"))): _*))
        .as("_h"))
      .select(col("item"), col("exact"), col("_h.r").as("r"),
        col("_h.b").as("b"))
      .join(registers, Seq("r", "b"))
      .groupBy(col("item"), col("exact"))
      .agg(min(col("reg")).as("est"))
  }

  /** RFM segmentation (Hughes '94, the classic behavioral triage):
    * per user, recency = days since last conversion event, frequency =
    * conversion count, monetary = summed conversion value; each metric
    * then lands in a 0–4 quintile via the value-histogram device (the
    * decileLift banding — the only global windows ride the three metric
    * HISTOGRAMS, never the user frame), and segment = r·100 + f·10 + m
    * with r reversed so 4 = most recent. Output per user: user,
    * recency, frequency, monetary, r, f, m, segment.
    *
    * Scale: one filtered aggregate to the per-user metric frame, three
    * histogram passes, three equi-joins back. */
  def rfm(data: DataFrame, userCol: String, dayCol: String,
      typeCol: String, valCol: String, convType: String): DataFrame = {
    val conv = data.where(col(typeCol) === convType &&
      col(valCol).isNotNull)
      .select(col(userCol).as("user"), col(dayCol).cast("long").as("_d"),
        fixedPointLong(col(valCol).cast("double"), 4).as("_v4"))
    val maxDay = conv.agg(max(col("_d")).as("_dmax"))
    val per = conv.groupBy(col("user"))
      .agg(max(col("_d")).as("_last"), count(lit(1)).as("frequency"),
        sum(col("_v4")).as("_m4"))
      .crossJoin(broadcast(maxDay))
      .withColumn("recency", col("_dmax") - col("_last"))
      .withColumn("monetary", col("_m4").cast("double") / 1e4)
      .select(col("user"), col("recency"), col("frequency"),
        col("monetary"), col("_m4"))
    // quintiles via ONE melted (metric, value) histogram → one
    // metric-partitioned cumulative window → a checkpointed
    // histogram-sized bin map broadcast-joined three times (the
    // rankEnsemble device — three independent quintile chains would
    // re-read the conversion aggregate per metric)
    val pairs = array(
      struct(lit("r").as("_k"), (-col("recency")).as("_v")),
      struct(lit("f").as("_k"), col("frequency").as("_v")),
      struct(lit("m").as("_k"), col("_m4").as("_v")))
    val melted = per.select(explode(pairs).as("_p"))
      .select(col("_p._k").as("_k"), col("_p._v").as("_v"))
    val h = melted.groupBy(col("_k"), col("_v"))
      .agg(count(lit(1)).as("_ct"))
    val w = Window.partitionBy(col("_k")).orderBy(col("_v").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy(col("_k"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val bins = h
      .withColumn("_cb", sum(col("_ct")).over(w) - col("_ct"))
      .withColumn("_n", sum(col("_ct")).over(wAll))
      .select(col("_k"), col("_v"),
        least(lit(4L), floor(col("_cb") * 5 / col("_n")).cast("long"))
          .as("_bin"))
      .localCheckpoint(true)
    def band(k: String, metric: Column, out: String)(df: DataFrame) =
      df.join(broadcast(bins.where(col("_k") === k)
        .select(col("_v").as(s"_v_$out"), col("_bin").as(out))),
        metric === col(s"_v_$out")).drop(s"_v_$out")
    val banded = Seq[(DataFrame => DataFrame)](
      band("r", -col("recency"), "r"),
      band("f", col("frequency"), "f"),
      band("m", col("_m4"), "m")).foldLeft(per)((d, f) => f(d))
    banded.select(col("user"), col("recency"), col("frequency"),
      col("monetary"), col("r"), col("f"), col("m"),
      (col("r") * 100 + col("f") * 10 + col("m")).as("segment"))
  }

  /** Linear multi-touch attribution: every conversion spreads one unit
    * of credit equally over the user's STRICTLY-PRIOR non-conversion
    * events (no touches → the conversion self-attributes to the
    * conversion type); per-channel credit and share of all conversions.
    * Output per channel: channel, conversions_touched, credit, share.
    *
    * Determinism: each 1/n credit freezes at 8dp before the per-channel
    * long sum. Scale: the conversion×prior join is WITHIN user —
    * work = Σ_u conv_u·events_u, the per-user analogue of the LSH
    * hot-bucket bound; cap the lookback window if per-user activity is
    * unbounded. */
  def linearAttribution(data: DataFrame, userCol: String, ordCol: String,
      typeCol: String, convType: String): DataFrame = {
    val base = data.select(col(userCol).as("_u"),
      col(ordCol).cast("long").as("_t"), col(typeCol).as("_ty"))
    val conv = base.where(col("_ty") === convType)
      .select(col("_u"), col("_t").as("_ct"))
    val touches = base.where(col("_ty") =!= convType)
      .select(col("_u").as("_u2"), col("_t"), col("_ty"))
    // strictly-prior condition INSIDE the left join: a conversion whose
    // prior-touch set is empty must survive null-extended (it
    // self-attributes), not be filtered away
    val pairs = conv.join(touches,
      col("_u") === col("_u2") && col("_t") < col("_ct"), "left")
    val perConv = pairs.groupBy(col("_u"), col("_ct"))
      .agg(count(col("_t")).as("_n"))
    val credited = pairs.join(perConv, Seq("_u", "_ct"))
      .select(
        when(col("_n") > 0, col("_ty")).otherwise(lit(convType))
          .as("channel"),
        when(col("_n") > 0,
          fixedPointLong(lit(1.0) / col("_n").cast("double"), 8))
          .otherwise(lit(100000000L)).as("_c8"),
        col("_u"), col("_ct"))
    val total = conv.agg(count(lit(1)).as("_tot"))
    credited.groupBy(col("channel"))
      .agg(countDistinct(col("_u"), col("_ct")).as("conversions_touched"),
        sum(col("_c8")).as("_s8"))
      .crossJoin(broadcast(total))
      .select(col("channel"), col("conversions_touched"),
        (col("_s8").cast("double") / 1e8).as("credit"),
        (col("_s8").cast("double") / 1e8 / col("_tot").cast("double"))
          .as("share"))
  }

  /** Temperature-scaled corpus mixing (the multilingual sampling rule of
    * Lample & Conneau '19 / mT5): group share p_g ∝ n_g^α (α < 1 lifts
    * the tail), integer allocation alloc0 = ⌊B·p_g + ½⌋ capped at n_g,
    * then ONE proportional redistribution of the leftover over the
    * uncapped groups (again floor+cap — the remaining crumbs stay
    * unallocated by contract, documented rather than looped). Output per
    * group: group, n, share (4dp), alloc, capped.
    *
    * Scale: everything after the one count aggregate is group-sized. */
  def temperatureMix(data: DataFrame, groupCol: String, alpha: Double,
      budget: Long): DataFrame = {
    require(alpha > 0 && alpha <= 1, s"0 < alpha <= 1: $alpha")
    // n^α as exp(α·ln n): exp/ln carry the engine's established libm
    // parity where pow() does not
    val n = data.groupBy(col(groupCol).as("group"))
      .agg(count(lit(1)).as("n"))
      .withColumn("_pw8", fixedPointLong(
        exp(lit(alpha) * log(col("n").cast("double"))), 8))
    val tot = n.agg(sum(col("_pw8")).as("_tot8"))
    val a0 = n.crossJoin(broadcast(tot))
      .withColumn("share",
        col("_pw8").cast("double") / col("_tot8").cast("double"))
      .withColumn("_alloc0",
        least(floor(lit(budget.toDouble) * col("share") + 0.5).cast("long"),
          col("n")))
      .withColumn("capped", col("_alloc0") === col("n"))
    val left = a0.agg(
      greatest(lit(budget) - sum(col("_alloc0")), lit(0L)).as("_left"),
      sum(when(!col("capped"), col("_pw8")).otherwise(lit(0L))).as("_open8"))
    a0.crossJoin(broadcast(left))
      .withColumn("alloc",
        when(col("capped") || col("_open8") === 0L, col("_alloc0"))
          .otherwise(least(col("n"), col("_alloc0") +
            floor(col("_left").cast("double") *
              (col("_pw8").cast("double") / col("_open8").cast("double")))
              .cast("long"))))
      .select(col("group"), col("n"),
        (floor(col("share") * 1e4 + 0.5) / 1e4).as("share"),
        col("alloc"), col("capped"))
  }

  /** Frequent ordered event sequences (PrefixSpan-lite, Pei et al.
    * ICDE'01 restricted to distinct-step patterns of length 2–3 with
    * arbitrary gaps): support(a→b) = #users with some a strictly
    * before some b; support(a→b→c) additionally requires a b occurrence
    * strictly inside (first a, last c). The discovery complement to the
    * fixed-steps [[funnel]]: funnel MEASURES a given path, this MINES
    * which paths are common enough to measure.
    *
    * Exact, not sampled: existence of a subsequence with arbitrary
    * gaps only needs per-(user, type) first/last timestamps for the
    * outer steps — those frames are (users × event-vocabulary)-sized —
    * plus, for length 3, a middle-step probe joining each user's raw
    * events against their vocab² outer pairs: that intermediate is
    * (events-per-user × vocab²)-sized BEFORE the distinct, so heavy
    * users multiply it (mid events are pre-deduped per (user, type,
    * ts) to trim exact-duplicate rows). Event vocabularies are small
    * by contract; general item streams should be bucketed first.
    *
    * Output: (len, p1, p2, p3, support, support_frac) for patterns
    * with support ≥ `minSupport`; p3 is null for length-2 rows.
    *
    * Scale: one hash aggregate to the (user, type, tmin, tmax) frame,
    * one self-join per pattern length on the user key (vocab²-bounded
    * rows per user), one middle-step join for length 3, hash-aggregate
    * roll-ups — no windows, no per-user sort. */
  def frequentSequences(events: DataFrame, userCol: String,
      typeCol: String, tsCol: String, minSupport: Long): DataFrame = {
    val ut = events
      .where(col(typeCol).isNotNull && col(tsCol).isNotNull)
      .groupBy(col(userCol).as("_u"), col(typeCol).as("_t"))
      .agg(min(col(tsCol)).as("_lo"), max(col(tsCol)).as("_hi"))
      .localCheckpoint(true)
    val nUsers = ut.select(col("_u")).distinct().count()
    val a = ut.select(col("_u"), col("_t").as("p1"), col("_lo").as("_alo"))
    val b = ut.select(col("_u"), col("_t").as("p2"), col("_hi").as("_bhi"))
    val len2 = a.join(b, "_u")
      .where(col("p1") =!= col("p2") && col("_alo") < col("_bhi"))
      .groupBy(col("p1"), col("p2"))
      .agg(count(lit(1)).as("support"))
      .select(lit(2).as("len"), col("p1"), col("p2"),
        lit(null).cast("string").as("p3"), col("support"))
    val c = ut.select(col("_u"), col("_t").as("p3c"), col("_hi").as("_chi"))
    val mid = events.select(col(userCol).as("_u"),
      col(typeCol).as("p2c"), col(tsCol).as("_mts")).distinct()
    val len3 = a.join(c, "_u")
      .where(col("p1") =!= col("p3c") && col("_alo") < col("_chi"))
      .join(mid, "_u")
      .where(col("p2c") =!= col("p1") && col("p2c") =!= col("p3c") &&
        col("_mts") > col("_alo") && col("_mts") < col("_chi"))
      .select(col("_u"), col("p1"), col("p2c"), col("p3c")).distinct()
      .groupBy(col("p1"), col("p2c"), col("p3c"))
      .agg(count(lit(1)).as("support"))
      .select(lit(3).as("len"), col("p1"), col("p2c").as("p2"),
        col("p3c").as("p3"), col("support"))
    len2.unionByName(len3)
      .where(col("support") >= minSupport)
      .withColumn("support_frac",
        col("support").cast("double") / lit(nUsers.toDouble))
  }

  /** Markov-chain (removal-effect) attribution (Anderl et al. 2016
    * "Mapping the customer journey") — the third face of the
    * attribution trio beside [[linearAttribution]] and
    * [[shapleyAttribution]]: journeys become a first-order chain
    * START → touches → CONV/NULL; a channel's credit is its removal
    * effect RE_c = 1 − P(conv | c's outgoing mass redirected to NULL)
    * / P(conv), normalized to shares.
    *
    * Engine shape: one lead() window PARTITIONED BY USER (never
    * global) extracts transitions; one hash aggregate yields the
    * ≤ (k+1)·(k+2) transition-count table (collected, model-sized).
    * Transition probabilities are 6dp-frozen exact count ratios;
    * absorption probabilities come from `rounds` synchronous
    * value-iteration sweeps whose per-state sums walk the sorted
    * channel list then CONV — a fixed float program the oracle unrolls
    * sweep by sweep for the full chain and each removal chain.
    *
    * Output: (channel, removal_effect, share, p_conv) — p_conv is the
    * full chain's START absorption probability, identical on every
    * row.
    *
    * Scale: the window shuffles once on the user key; everything after
    * the transition aggregate is k²-bounded driver arithmetic. */
  def markovAttribution(data: DataFrame, userCol: String, ordCol: String,
      typeCol: String, channels: Seq[String], convType: String,
      rounds: Int = 16): DataFrame = {
    require(channels.nonEmpty && channels.size <= 16, "1..16 channels")
    require(!channels.contains(convType), "conversion is not a channel")
    val spark = data.sparkSession
    import spark.implicits._
    val chans = channels.sorted
    val base = data.select(col(userCol).as("_u"),
      col(ordCol).cast("long").as("_o"), col(typeCol).as("_ty"))
    val convT = base.where(col("_ty") === convType)
      .groupBy("_u").agg(min(col("_o")).as("_ct"))
    val touches = base.where(col("_ty").isin(chans: _*))
      .join(convT, Seq("_u"), "left")
      .where(col("_ct").isNull || col("_o") < col("_ct"))
    val w = Window.partitionBy("_u").orderBy("_o")
    val ordered = touches
      .withColumn("_nxt", lead(col("_ty"), 1).over(w))
      .withColumn("_rn", row_number().over(w))
    val mid = ordered.where(col("_nxt").isNotNull)
      .select(col("_ty").as("src"), col("_nxt").as("tgt"))
    val last = ordered.where(col("_nxt").isNull)
      .select(col("_ty").as("src"),
        when(col("_ct").isNotNull, lit("CONV")).otherwise(lit("NULL"))
          .as("tgt"))
    val first = ordered.where(col("_rn") === 1)
      .select(lit("START").as("src"), col("_ty").as("tgt"))
    val untouched = base.select("_u").distinct()
      .join(touches.select("_u").distinct()
        .withColumn("_has", lit(true)), Seq("_u"), "left")
      .where(col("_has").isNull)
      .join(convT, Seq("_u"), "left")
      .select(lit("START").as("src"),
        when(col("_ct").isNotNull, lit("CONV")).otherwise(lit("NULL"))
          .as("tgt"))
    val counts = mid.unionByName(last).unionByName(first)
      .unionByName(untouched)
      .groupBy("src", "tgt").agg(count(lit(1)).as("_n"))
      .collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    def r6(x: Double): Double = graft.text.TextOps.round6(x)
    val sources = "START" +: chans
    val out = sources.map(s =>
      s -> counts.collect { case ((a, _), n) if a == s => n }.sum).toMap
    def t(s: String, g: String): Double =
      if (out(s) > 0) r6(counts.getOrElse((s, g), 0L).toDouble / out(s))
      else 0.0
    // synchronous value iteration; removed = channel whose state is
    // pinned to 0 (its outgoing mass leaks to NULL implicitly)
    def absorb(removed: Option[String]): Double = {
      var p = sources.map(_ => 0.0).toArray
      var r = 0
      while (r < rounds) {
        val np = Array.tabulate(sources.size) { i =>
          val s = sources(i)
          if (removed.contains(s)) 0.0
          else {
            var acc = 0.0
            chans.foreach { c =>
              val v = if (removed.contains(c)) 0.0
                else p(sources.indexOf(c))
              acc += t(s, c) * v
            }
            acc += t(s, "CONV") * 1.0
            acc
          }
        }
        p = np
        r += 1
      }
      p(0)
    }
    val pFull = absorb(None)
    val re = chans.map { c =>
      val pRm = absorb(Some(c))
      c -> (if (pFull > 0) 1.0 - pRm / pFull else 0.0)
    }
    var reSum = 0.0
    re.foreach(reSum += _._2)
    val rows = re.map { case (c, e) =>
      (c, e, if (reSum > 0) e / reSum else 0.0, pFull)
    }
    spark.createDataset(rows)
      .toDF("channel", "removal_effect", "share", "p_conv")
  }

  /** Exact Shapley-value channel attribution (Shapley 1953 applied to
    * conversion credit, Zhao et al. 2018 "Shapley Value Methods for
    * Attribution Modeling") — the game-theoretic upgrade to
    * [[linearAttribution]]'s equal split: each channel's credit is its
    * average marginal lift over every coalition of the other channels,
    * φᵢ = Σ_{S ⊆ C∖{i}} |S|!·(k−1−|S|)!/k! · (v(S∪{i}) − v(S)),
    * with the characteristic v(S) = the observed conversion rate of
    * users whose prior-touch set is EXACTLY S (unobserved coalitions
    * contribute v = 0 — the standard empirical convention, pinned).
    *
    * Engine shape — the Fellegi-Sunter device again: one aggregate to
    * the 2^k coalition histogram (touch set = bitmask of channels seen
    * strictly before the user's first conversion; never-converting
    * users count with all their touches), exact Shapley on the
    * collected histogram (k ≤ 16 guard), k-row output. v values are
    * 6dp-frozen exact count ratios; each φ sums its 2^(k−1) terms in
    * subset-enumeration order — a finite float program the oracle
    * replays term by term.
    *
    * Output: (channel, phi, touched_users) — Σφᵢ = v(C_obs)−v(∅) holds
    * by construction when all coalitions are observed.
    *
    * Scale: two hash aggregates (first-conversion, per-user bitmask) +
    * one 2^k-row aggregate; no joins beyond the broadcast-sized
    * first-conversion frame. */
  def shapleyAttribution(data: DataFrame, userCol: String, ordCol: String,
      typeCol: String, channels: Seq[String], convType: String):
      DataFrame = {
    require(channels.nonEmpty && channels.size <= 16, "1..16 channels")
    require(!channels.contains(convType), "conversion is not a channel")
    val spark = data.sparkSession
    import spark.implicits._
    val k = channels.size
    val idx = channels.sorted.zipWithIndex.toMap
    val base = data.select(col(userCol).as("_u"),
      col(ordCol).cast("long").as("_t"), col(typeCol).as("_ty"))
    val conv = base.where(col("_ty") === convType)
      .groupBy("_u").agg(min(col("_t")).as("_ct"))
    val idxCol = channels.sorted.zipWithIndex.foldLeft(lit(-1)) {
      case (acc, (c, i)) => when(col("_ty") === c, lit(i)).otherwise(acc)
    }
    val touched = base.where(col("_ty").isin(channels: _*))
      .join(conv, Seq("_u"), "left")
      .where(col("_ct").isNull || col("_t") < col("_ct"))
      .select(col("_u"), idxCol.as("_i")).distinct()
      .groupBy("_u").agg(sum(expr("shiftleft(1L, _i)")).as("_mask"))
    val users = base.select("_u").distinct()
      .join(touched, Seq("_u"), "left")
      .join(conv, Seq("_u"), "left")
      .select(coalesce(col("_mask"), lit(0L)).as("_mask"),
        col("_ct").isNotNull.as("_conv"))
    val hist = users.groupBy("_mask")
      .agg(count(lit(1)).as("_n"),
        sum(when(col("_conv"), 1L).otherwise(0L)).as("_c"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2)))
      .toMap
    def r6(x: Double): Double = graft.text.TextOps.round6(x)
    val v: Long => Double = mask => hist.get(mask)
      .map { case (n, c) => r6(c.toDouble / n.toDouble) }.getOrElse(0.0)
    def fact(n: Int): Double = (1 to n).foldLeft(1.0)(_ * _)
    val rows = channels.sorted.map { ch =>
      val i = idx(ch)
      val others = (0 until k).filter(_ != i)
      // subset-enumeration order: ascending bitmask over the others
      var phi = 0.0
      (0 until (1 << (k - 1))).foreach { sBits =>
        var mask = 0L
        var size = 0
        others.zipWithIndex.foreach { case (o, b) =>
          if ((sBits & (1 << b)) != 0) { mask |= (1L << o); size += 1 }
        }
        val w = fact(size) * fact(k - 1 - size) / fact(k)
        phi += w * (v(mask | (1L << i)) - v(mask))
      }
      val touchedUsers = hist.collect {
        case (m, (n, _)) if (m & (1L << i)) != 0 => n
      }.sum
      (ch, phi, touchedUsers)
    }
    spark.createDataset(rows).toDF("channel", "phi", "touched_users")
  }

  /** Shifted-beta-geometric retention fit (Fader & Hardie, "How to
    * project customer retention", JIM 2007): churn probability is
    * Beta(a, b)-heterogeneous across customers; P(T=1) = a/(a+b),
    * P(T=t) = P(T=t−1)·(b+t−2)/(a+b+t−1). Fit (a, b) by maximum
    * likelihood over an (age, alive) retention curve via a
    * DETERMINISTIC GRID search (the engine's no-Monte-Carlo contract):
    * the recursion is pure rational arithmetic, the log-likelihood
    * quantizes each term at 9dp (order-free), argmax ties break to the
    * smaller (a, b). The projection the cohort-retention matrix
    * (q454) feeds: b/(a−1) is the implied mean lifetime multiplier.
    *
    * Input: one row per age t = 0..T with the count still alive at t
    * (t = 0 = cohort size). All math is driver-side over the T-row
    * curve (model-sized by construction); the oracle replays the grid
    * as a recursive CTE. Output one row: a, b, ll, s_end (fitted
    * survival at T). */
  def sbgFit(curve: Seq[(Int, Long)], aGrid: Seq[Double],
      bGrid: Seq[Double])(implicit spark: org.apache.spark.sql.SparkSession)
      : DataFrame = {
    import spark.implicits._
    val sorted = curve.sortBy(_._1)
    require(sorted.nonEmpty && sorted.head._1 == 0, "curve starts at age 0")
    val alive = sorted.map(_._2)
    val tMax = sorted.last._1
    require(sorted.map(_._1) == (0 to tMax), "contiguous ages 0..T")
    require(tMax >= 1, "curve needs at least one post-cohort age (T >= 1)")
    require(aGrid.nonEmpty && bGrid.nonEmpty &&
      aGrid.forall(_ > 0) && bGrid.forall(_ > 0),
      "aGrid/bGrid must be non-empty and strictly positive")
    val died = (1 to tMax).map(t => alive(t - 1) - alive(t))
    require(died.forall(_ >= 0), "alive counts must be non-increasing")
    def fp9(x: Double): Long = graft.core.fixedPoint(x, 9).toLong
    var best: (Long, Double, Double, Double) = null
    for (a <- aGrid; b <- bGrid) {
      var p = a / (a + b)
      var cum = p
      var ll9 = fp9(died(0) * java.lang.StrictMath.log(p))
      var t = 2
      while (t <= tMax) {
        p = p * (b + t - 2) / (a + b + t - 1)
        cum += p
        ll9 += fp9(died(t - 1) * java.lang.StrictMath.log(p))
        t += 1
      }
      val sEnd = 1.0 - cum
      ll9 += fp9(alive(tMax) * java.lang.StrictMath.log(sEnd))
      if (best == null || ll9 > best._1) best = (ll9, a, b, sEnd)
    }
    Seq((best._2, best._3, best._1.toDouble / 1e9, best._4))
      .toDF("a", "b", "ll", "s_end")
  }

  /** Discrete-time Hawkes self-excitation fit per key (Hawkes 1971,
    * bucketed form): daily event counts c_t follow a Poisson with
    * intensity λ_t = μ + α·E_t where E_t = Σ_{s<t} c_s·e^{−β(t−s)} is
    * the exponentially-decayed excitation of PAST buckets (fixed decay
    * `beta` per bucket). The (μ, α) pair is a deterministic grid MLE —
    * μ over {m/10 · c̄}_{m=1..20} (c̄ = the key's mean daily count) and
    * α over {0.00, 0.05, …, 0.95} — maximizing Σ_t [c_t·ln λ_t − λ_t]
    * with each term 9dp-quantized (order-free) and ties breaking to the
    * smaller (μ, α). α near 1 = bursts feed themselves (viral/cascade/
    * fraud-run); α near 0 = a memoryless Poisson stream. The
    * self-excitation face of the burstiness battery (q446 measures
    * inter-event CV; this fits the generative burst mechanism).
    *
    * Determinism: E_t = e^{−β(t−t₀)} · Σ_{s<t} c_s·e^{β(s−t₀)} — the
    * prefix sum runs in day order inside a per-key window (a total
    * order, so the double fold is bit-reproducible and the oracle
    * replays it verbatim); exp/ln ride libm parity. Day spans are
    * capped at 365 buckets AND β·span < 690 (the rescale computes
    * e^{β·span}, which overflows double past ~709 — a span cap alone
    * only bounds it for small β; r12 advice): longer spans should
    * bucket coarser, faster decays need shorter spans.
    *
    * Scale: one (key, day) hash aggregate; the dense day grid is
    * keys × span rows (calendar-bounded); the grid join is a broadcast
    * of 400 (μ, α) points; the argmax window partitions by key over
    * 400 rows. No data-sized sort anywhere.
    *
    * Output per key: key, n_days, n_events, mu, alpha, ll. */
  def hawkesFit(events: DataFrame, keyCol: String, tsCol: String,
      beta: Double = 0.5, bucketNs: Long = 86400000000000L): DataFrame = {
    require(beta > 0 && beta <= 5, "0 < beta <= 5 per bucket")
    val spark = events.sparkSession
    import spark.implicits._
    val fp9 = (c: Column) =>
      fixedPointLong(c, 9).cast("decimal(38,0)")
    val byDay = events
      .select(col(keyCol).as("key"),
        // integer `div`, never double division: epoch-nanos exceed
        // double's exact-integer range (2^53) — float division would
        // misplace bucket boundaries vs the oracle's `//`
        expr(s"CAST($tsCol AS BIGINT) div $bucketNs").as("_d"))
      .groupBy("key", "_d").agg(count(lit(1)).as("_c"))
    val span = byDay.groupBy("key")
      .agg(min(col("_d")).as("_d0"), max(col("_d")).as("_d1"),
        sum(col("_c")).as("_tot"))
      .withColumn("_guard", assert_true(col("_d1") - col("_d0") < 365 &&
        (col("_d1") - col("_d0")).cast("double") * lit(beta) < 690.0,
        lit("hawkesFit: day span >= 365 or beta*span >= 690 — the " +
          "excitation rescale computes e^{beta*span}, which overflows " +
          "double past ~709; bucket coarser or decay faster")))
      .where(col("_guard").isNull).drop("_guard")
    // dense day grid: zero-count days still contribute the −λ_t term
    val dense = span
      .select(col("key"), col("_d0"), col("_tot"),
        explode(sequence(col("_d0"), col("_d1"))).as("_d"))
      .join(byDay, Seq("key", "_d"), "left")
      .withColumn("_c", coalesce(col("_c"), lit(0L)))
      .withColumn("_t", (col("_d") - col("_d0")).cast("double"))
    val w = Window.partitionBy(col("key")).orderBy(col("_d").asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val ex = dense
      .withColumn("_e", exp(lit(-beta) * col("_t")) *
        coalesce(sum(col("_c").cast("double") *
          exp(lit(beta) * col("_t"))).over(w), lit(0.0)))
    val grid = spark.range(1L, 21L).select(col("id").as("_m"))
      .crossJoin(spark.range(0L, 20L).select(col("id").as("_a")))
      .select(col("_m"), (col("_a").cast("double") * 0.05).as("_alpha"))
    // μ = (m/10)·c̄ with c̄ = tot/span-days — the same double expression
    // on both engines
    val days = span.select(col("key"),
      (col("_d1") - col("_d0") + 1L).as("_nd"))
    val scored = ex.join(broadcast(days), "key")
      .join(broadcast(grid))
      .withColumn("_mu", col("_m").cast("double") / 10.0 *
        (col("_tot").cast("double") / col("_nd").cast("double")))
      .withColumn("_lam", col("_mu") + col("_alpha") * col("_e"))
      .withColumn("_term",
        fp9(col("_c").cast("double") * log(col("_lam")) - col("_lam")))
      .groupBy(col("key"), col("_m"), col("_alpha"))
      .agg(sum(col("_term")).as("_ll9"),
        max(col("_nd")).as("n_days"), max(col("_tot")).as("n_events"),
        max(col("_mu")).as("_muv"))
    val rk = Window.partitionBy(col("key"))
      .orderBy(col("_ll9").desc, col("_m").asc, col("_alpha").asc)
    scored.withColumn("_rk", row_number().over(rk))
      .where(col("_rk") === 1)
      .select(col("key"), col("n_days"), col("n_events"),
        col("_muv").as("mu"), col("_alpha").as("alpha"),
        (col("_ll9").cast("double") / 1e9).as("ll"))
  }
}
