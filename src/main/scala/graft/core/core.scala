package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Core helpers shared by every operator.
  *
  * Output contract (mirrors the reference's tagged-line contract,
  * /root/reference/spark/src/main/scala/org/beymani/spark/dist/StatsBasedOutlierPredictor.scala:278):
  * input columns + `score: double` + `tag: string` where tag ∈
  * {"O" outlier, "N" normal, "I" invalid/missing-model, "A" ambiguous}.
  */
package object core {

  /** Read one driver-generated parquet table (TESTDATA.md).
    * events.parquet carries TIMESTAMP(NANOS) which Spark 4 rejects unless
    * nanos are read as long — set it here so it also holds when the
    * driver hands us its own session. `ts` then arrives as epoch-nanos
    * LongType. */
  // memoize the (immutable) logical plan per session+path: each
  // spark.read.parquet builds a fresh FileIndex (directory listing +
  // footer schema read) — measurable fixed cost when a session runs the
  // whole query suite against the same tables. Weak keys alone would
  // never evict (the cached DataFrames strongly reference their session,
  // pinning the key); holding the inner map softly breaks that cycle —
  // under memory pressure the plans are dropped, the session becomes
  // weakly reachable, and the entry dies.
  private val tableCache = new java.util.WeakHashMap[
    SparkSession, java.lang.ref.SoftReference[collection.mutable.Map[String, DataFrame]]]()

  def table(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    // DOCUMENTED SIDE EFFECT on caller-provided sessions: both flags stay
    // set for the session's lifetime. They cannot be save/restored around
    // the read — the parquet schema converter consults them again when the
    // cached plan executes, so flipping them back would corrupt later jobs
    // over the returned (lazy) DataFrame. Both flags only widen what the
    // session can read (nanos surface as long, micros as TimestampType
    // instants); a driver that needs NTZ inference on its own tables can
    // re-enable it per read.
    try spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    catch { case _: Throwable => () }
    // When the tables carry TIMESTAMP(MICROS) instead, the legacy flag is
    // inert and ts would arrive as TimestampNTZ — force the non-NTZ read
    // path so the normalization below sees a plain TimestampType instant.
    try spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    catch { case _: Throwable => () }
    val path = s"$sfDir/$name.parquet"
    tableCache.synchronized {
      val ref = tableCache.get(spark)
      val inner = Option(ref).flatMap(r => Option(r.get)).getOrElse {
        val m = collection.mutable.Map.empty[String, DataFrame]
        tableCache.put(spark, new java.lang.ref.SoftReference(m))
        m
      }
      inner.getOrElseUpdate(path, normalizeEpochNanos(spark.read.parquet(path)))
    }
  }

  /** Every operator treats driver timestamps as epoch-nanos LongType (the
    * shape TIMESTAMP(NANOS) parquet + nanosAsLong produced). If the driver
    * regenerates the tables at a coarser physical precision the columns
    * surface as timestamps instead — rescale them back to epoch-nanos longs
    * so the downstream contract (and the DuckDB `epoch_ns(...)` oracles,
    * which are precision-agnostic) is unchanged. */
  private[graft] def normalizeEpochNanos(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.types._
    // An NTZ column means the inferTimestampNTZ guard in table() did not
    // take (e.g. a driver-supplied session rejected the conf). Casting NTZ
    // to TimestampType would interpret the wall-clock value in the
    // session timezone — on a non-UTC session every ts silently shifts by
    // the offset and every ts-dependent oracle diverges with no error.
    // Fail loudly instead; same for timestamps nested inside containers,
    // which the top-level rewrite below would silently pass through.
    df.schema.fields.foreach { f =>
      if (f.dataType == TimestampNTZType)
        throw new IllegalStateException(
          s"column '${f.name}' read as TIMESTAMP_NTZ: the " +
            "spark.sql.parquet.inferTimestampNTZ.enabled=false guard did not " +
            "apply to this session, and an NTZ→instant cast would be " +
            "session-timezone-dependent. Read with NTZ inference disabled.")
      def hasNestedTs(t: DataType): Boolean = t match {
        case s: StructType => s.fields.exists(x => hasNestedTs(x.dataType))
        case a: ArrayType => hasNestedTs(a.elementType)
        case m: MapType => hasNestedTs(m.keyType) || hasNestedTs(m.valueType)
        case TimestampType | TimestampNTZType => true
        case _ => false
      }
      f.dataType match {
        case TimestampType => () // rewritten below
        case t if hasNestedTs(t) =>
          throw new IllegalStateException(
            s"column '${f.name}' carries a timestamp nested inside ${t.simpleString}: " +
              "epoch-nanos normalization only rewrites top-level columns, so the " +
              "nested value would silently violate the epoch-nanos-long contract.")
        case _ => ()
      }
    }
    val tsCols = df.schema.fields.collect {
      case f if f.dataType == TimestampType => f.name
    }
    tsCols.foldLeft(df) { (d, c) =>
      d.withColumn(c, unix_micros(col(c)) * lit(1000L))
    }
  }

  /** Exponential rescale to [0,1): 1 - exp(-c*x).
    * Behavior of chombo MathUtils.expScale inferred from call site
    * ZscorePredictor.java:195-197 ("exponential normalization", score in [0,1]).
    */
  def expScale(c: Double, x: Column): Column = lit(1.0) - exp(lit(-c) * x)

  /** Logistic rescale: 1/(1+exp(-c*x)). Call site: InRangeBasedPredictor.scala:94. */
  def logisticScale(c: Double, x: Column): Column =
    lit(1.0) / (lit(1.0) + exp(lit(-c) * x))

  /** Multi-attribute score aggregation with missing-score skip.
    * Mirrors OutlierScoreAggregator.java:80-166 (average / weightedAverage /
    * median / max / min over the non-null per-attribute scores).
    * `scores` are per-attribute score expressions; null = missing (skipped).
    * Stays inside whole-stage codegen (array higher-order functions, no UDF).
    */
  def aggregateScores(
      scores: Seq[Column],
      strategy: String = "average",
      weights: Seq[Double] = Nil): Column = {
    val arr = filter(array(scores: _*), x => x.isNotNull)
    val n = size(arr)
    val res = strategy match {
      case "average" =>
        aggregate(arr, lit(0.0), (acc, x) => acc + x) / n
      case "weightedAverage" =>
        val w = if (weights.nonEmpty) weights else Seq.fill(scores.size)(1.0)
        val pairs = scores.zip(w)
        val num = pairs.map { case (s, wi) => when(s.isNotNull, s * wi).otherwise(lit(0.0)) }
          .reduce(_ + _)
        val den = pairs.map { case (s, wi) => when(s.isNotNull, lit(wi)).otherwise(lit(0.0)) }
          .reduce(_ + _)
        num / den
      case "median" =>
        val sorted = array_sort(arr)
        val half = (n / 2).cast("int")
        when(n % 2 === 1, element_at(sorted, half + 1))
          .otherwise((element_at(sorted, half) + element_at(sorted, half + 1)) / 2.0)
      case "max" => array_max(arr)
      case "min" => array_min(arr)
      case other => throw new IllegalArgumentException(s"unknown aggregation strategy $other")
    }
    when(n === 0, lit(null).cast("double")).otherwise(res)
  }

  /** Threshold → O/N/I labeling (StatsBasedOutlierPredictor.scala:261-277;
    * OutlierUtility.scala:135-165). Null score (missing model) → "I".
    * An optional per-key threshold column overrides the global threshold
    * (OutlierUtility.scala:101-124); null override + requireThreshold → "A".
    */
  def label(score: Column, threshold: Column): Column =
    when(score.isNull, lit("I"))
      .when(threshold.isNull, lit("A"))
      .when(score > threshold, lit("O"))
      .otherwise(lit("N"))

  /** Append score + tag to data given a score expression and fixed threshold. */
  def tagged(df: DataFrame, score: Column, threshold: Double): DataFrame =
    df.withColumn("score", score)
      .withColumn("tag", label(col("score"), lit(threshold)))

  /** Round every double column to `p` places — canonical form for the
    * DuckDB-oracle hash compare. NOT Spark's `round` (BigDecimal
    * HALF_UP on the shortest decimal string): DuckDB rounds the float
    * product (std::round(x·10^p)/10^p), and the two disagree on
    * exact-half decimals (e.g. avg over 16 rows → 44.06625). Replicate
    * DuckDB's arithmetic bit-for-bit: half away from zero on x·10^p.
    * Signed zero is normalized to +0.0: a value that differs from the
    * oracle's only below the rounding threshold must not leak its sign
    * through the hash compare (the oracle SQL normalizes the same way
    * where a -0.0 can arise). One native expression
    * ([[graft.expr.RoundLikeDuck]]) over the child cast to double. */
  def roundLikeDuck(c: Column, p: Int): Column = {
    // The 1e12 passthrough is only sub-ulp-safe when 1e12·10^p
    // exceeds 2^53 (so no genuine rounding is skipped) — that needs
    // p >= 4. For p <= 3 the guard would silently skip real rounding
    // between 1e12 and ~9e15 (advice r7); no caller uses p < 4, and
    // every oracle mirrors the p>=4 shape, so enforce it.
    require(p >= 4 && p <= 9, s"roundLikeDuck requires 4 <= p <= 9, got $p " +
      "(the 1e12 overflow guard is calibrated for that range; " +
      "oracle mirrors replay the same shape)")
    // Spark's floor() yields LONG — |x|·10^p past 2⁶³ clamps to
    // Long.MaxValue and silently corrupts the value (seen on epoch-nanos
    // magnitudes). Above 1e12 a 4–6dp round is below the double's ulp
    // anyway: the value passes through, and any oracle that emits such
    // magnitudes mirrors the guard.
    import org.apache.spark.sql.GraftColumnBridge.{column, expression}
    column(graft.expr.RoundLikeDuck(expression(c.cast("double")), p))
  }

  /** p-dp fixed-point long: floor(|x|·10^p + 0.5) with the sign restored —
    * the half-away-from-zero scaling both engines compute bit-identically
    * (floor of a < 2⁵³ double is exact), so summing these LONGS is
    * order-exact where a double sum is order-nondeterministic. The
    * q116-sessionize pattern, shared by every per-group float roll-up
    * that needs an exact oracle. */
  def fixedPointLong(c: Column, p: Int): Column = {
    val f = math.pow(10, p)
    when(c >= 0, floor(c * f + 0.5)).otherwise(-floor(-c * f + 0.5)).cast("long")
  }

  /** Row-level twin of [[fixedPointLong]]: x·10^p rounded half away from
    * zero, as a whole-valued double. `.toLong` gives the fixed-point long
    * (NaN → 0; ±∞ and |x|·10^p ≥ 2⁶³ clamp to the Long bounds), `/ 10^p`
    * the p-dp rounded value (NaN and ±∞ pass through). */
  def fixedPoint(x: Double, p: Int): Double = scaledHalfAway(x, math.pow(10, p))

  /** x·f rounded half away from zero as a whole-valued double: the one
    * copy of the rule, for [[fixedPoint]] (f = 10^p) and
    * [[graft.expr.RoundLikeDuck.round]]. */
  private[graft] def scaledHalfAway(x: Double, f: Double): Double =
    if (x >= 0) math.floor(x * f + 0.5) else -math.floor(-x * f + 0.5)

  /** The one materialization seam: `df` computed once by one eager job
    * (the job `localCheckpoint(true)` runs), as a GC-cleaned leaf whose
    * statistics are that job's exact row count and rows × row width,
    * not the optimizer's pre-materialization estimate. Later plans start
    * from its rows with its partitioning and ordering. */
  def materialize(df: DataFrame): DataFrame =
    org.apache.spark.sql.GraftLeafBridge.materialize(df)

  /** Cache + right-size a frame an iterative fitter will aggregate many
    * times (r13, guide §1.2 per-task work): persist MEMORY_AND_DISK,
    * count it (the fitters need n anyway), and — when the frame is
    * small — coalesce to ~64k rows per task so a 12–60-round GD loop
    * isn't pure task-scheduling overhead (32 partitions × 60 rounds for
    * q513's fixture measured ~45% of the fit). The row threshold, not a
    * host constant, decides: large inputs keep the session's full
    * parallelism. Returns (handle-to-unpersist, iteration view, n). */
  def iterCache(df: DataFrame): (DataFrame, DataFrame, Long) = {
    val handle = df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val n = handle.count()
    val target = math.max(1L, math.min(
      df.sparkSession.sparkContext.defaultParallelism.toLong,
      (n + 65535L) / 65536L)).toInt
    val view =
      if (target < handle.rdd.getNumPartitions) handle.coalesce(target)
      else handle
    (handle, view, n)
  }

  /** One-row DataFrame of named double parameters — iterative fitters
    * join THIS (broadcast) instead of embedding the round's parameters
    * as literals: literal parameters make every round's generated code
    * unique, so an iters-round fit pays iters Janino compilations; with
    * parameter COLUMNS the generated source is round-invariant and
    * compiles once (r13 — measured 14.4 s → 7.8 s on q513's 60-round
    * fit). The arithmetic is unchanged: a broadcast-joined column and a
    * literal produce the same double sequence. */
  def paramRow(spark: org.apache.spark.sql.SparkSession,
      params: Seq[(String, Double)]): DataFrame = {
    val schema = org.apache.spark.sql.types.StructType(params.map { case (k, _) =>
      org.apache.spark.sql.types.StructField(k,
        org.apache.spark.sql.types.DoubleType, nullable = false) })
    spark.createDataFrame(
      java.util.Collections.singletonList(
        org.apache.spark.sql.Row.fromSeq(params.map(_._2))), schema)
  }

  /** Long-typed sibling of [[paramRow]] for integer round parameters
    * (e.g. HITS' renorm divisor). */
  def paramRowLong(spark: org.apache.spark.sql.SparkSession,
      params: Seq[(String, Long)]): DataFrame = {
    val schema = org.apache.spark.sql.types.StructType(params.map { case (k, _) =>
      org.apache.spark.sql.types.StructField(k,
        org.apache.spark.sql.types.LongType, nullable = false) })
    spark.createDataFrame(
      java.util.Collections.singletonList(
        org.apache.spark.sql.Row.fromSeq(params.map(_._2))), schema)
  }

  /** The session's `spark.sql.shuffle.partitions`: the FIXED task count
    * of an exchange whose per-row cost is not its bytes, which AQE would
    * otherwise coalesce by size onto a core or two. */
  private[graft] def shufflePartitions(spark: SparkSession): Int =
    spark.conf.get("spark.sql.shuffle.partitions").toInt

  /** Flat-window crossover bound for the banded devices (r12 verdict
    * item 3): a frame whose Catalyst size estimate is at most this many
    * bytes routes through the ordinary unpartitioned window — one
    * single-task sort of at most one shuffle-partition's worth of data,
    * exactly the unit every exchange already sorts per task — instead of
    * paying the band device's 2–3 fixed extra stages. Larger (or
    * unestimatable) frames stay banded. The estimate is conservative in
    * the safe direction: Catalyst propagates scan bytes through
    * aggregates/joins mostly un-shrunk, so a 100 TB lineage can never
    * read as "small", while the sub-second stat frames at bench scale
    * (≤ tens of MB) do. Tunable per session via
    * `spark.graft.bandedScan.flatMaxBytes`; 0 disables the flat path. */
  private[graft] def flatMaxBytes(spark: SparkSession): Long =
    try spark.conf.get("spark.graft.bandedScan.flatMaxBytes",
      (128L << 20).toString).toLong
    catch { case _: Throwable => 128L << 20 }

  private[graft] def smallEnoughForFlat(df: DataFrame): Boolean =
    try df.queryExecution.optimizedPlan.stats.sizeInBytes <=
      BigInt(flatMaxBytes(df.sparkSession))
    catch { case _: Throwable => false } // unestimatable → banded (safe)

  /** Distributed global row_number: rank = (rows in strictly-earlier
    * bands) + row_number within the band — bit-identical to
    * `row_number().over(Window.orderBy(band, tie…))` but with NO
    * data-sized unpartitioned window. The only global window rides the
    * band HISTOGRAM (one row per distinct band value — value-range-
    * sized when the band is a df count or a 3dp-frozen score); the
    * per-row window partitions by the band. `tie` must make the order
    * within a band total, and (band, tie…) must equal the intended
    * global order (i.e. the band is the leading sort key, or a monotone
    * function of it).
    *
    * `maxRank`: when only ranks ≤ r matter (top-k, RBO depth), bands
    * whose offset is already ≥ r are dropped BEFORE the join back, so
    * the per-row work is rank-bounded, not data-bounded. */
  def bandedRowNumber(df: DataFrame, band: Column, bandAsc: Boolean,
      tie: Seq[Column], out: String, maxRank: Long = Long.MaxValue): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // flat-window crossover (r12 verdict item 3): bit-identical result
    // (same (band, tie…) total order), one window stage instead of the
    // band device's histogram+join stages, taken only when the plan-time
    // size estimate bounds the single-task sort at one partition's worth.
    // `_brn_flat` is the guard marker: WindowAudit classifies it as
    // metered-small because the ONLY producer is this size-gated branch.
    // maxRank calls keep the band device — its band-offset row-DROP
    // semantics (whole bands kept when their offset < maxRank) would need
    // a second window to replicate flat.
    if (maxRank == Long.MaxValue && smallEnoughForFlat(df)) {
      val w = Window.orderBy(
        (if (bandAsc) col("_brn_flat").asc else col("_brn_flat").desc) +: tie: _*)
      return df.withColumn("_brn_flat", band)
        .withColumn(out, row_number().over(w).cast("long"))
        .drop("_brn_flat")
    }
    val withBand = df.withColumn("_brn_band", band)
    val h = withBand.groupBy(col("_brn_band")).agg(count(lit(1)).as("_brn_ct"))
    val hw = Window
      .orderBy(if (bandAsc) col("_brn_band").asc else col("_brn_band").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    var off = h
      .withColumn("_brn_off", sum(col("_brn_ct")).over(hw) - col("_brn_ct"))
      .select(col("_brn_band"), col("_brn_off"))
    if (maxRank != Long.MaxValue) off = off.where(col("_brn_off") < maxRank)
    val ww = Window.partitionBy(col("_brn_band")).orderBy(tie: _*)
    withBand.join(off, "_brn_band")
      .withColumn(out,
        (col("_brn_off") + row_number().over(ww).cast("long")).cast("long"))
      .drop("_brn_band", "_brn_off")
  }

  /** Distributed global running (inclusive prefix) sum — bit-identical
    * to `sum(v).over(Window.orderBy(ord).rowsBetween(unboundedPreceding,
    * currentRow))` but with NO data-sized unpartitioned window: the only
    * global window rides the band HISTOGRAM (one row per distinct band
    * value), and the per-row window partitions by the band. The
    * bandedRowNumber device for cumulative sums — the ECDF/rank family's
    * scale escape hatch (r10/r11 verdict item 1).
    *
    * Contract: (band, tie…) must equal the intended global order (band
    * is the leading sort key or a monotone function of it — e.g. the
    * 3dp fixedPointLong freeze of the order column, which floor-rounds
    * monotonically), and `tie` must make the order within a band total
    * (cumulative sums over duplicate sort keys are row-nondeterministic
    * in ANY engine). `sums` maps input column → output cumulative
    * column; input column types are preserved (long stays long). */
  def bandedCumSum(df: DataFrame, band: Column, bandAsc: Boolean,
      tie: Seq[Column], sums: Map[String, String]): DataFrame =
    bandedScan(df, band, bandAsc, tie,
      sums.toSeq.map { case (in, out) => BandedAgg(in, out) })

  /** One running-aggregate spec for [[bandedScan]]: `op` ∈ sum|min|max,
    * `inclusive` = frame ends at the current row (false = ends at the
    * previous row, the `rowsBetween(unboundedPreceding, -1)` frame). */
  case class BandedAgg(in: String, out: String, op: String = "sum",
      inclusive: Boolean = true)

  /** Generalized banded prefix scan — running sum / min / max in a
    * global (band, tie…) order, bit-identical to the flat
    * `agg(c).over(Window.orderBy(…))` INCLUDING null frames (an
    * exclusive scan's first row is null, exactly like the flat window),
    * but with NO data-sized unpartitioned window: the global window
    * rides the band HISTOGRAM; the per-row window partitions by band.
    * Same order contract as [[bandedRowNumber]]. */
  def bandedScan(df: DataFrame, band: Column, bandAsc: Boolean,
      tie: Seq[Column], aggs: Seq[BandedAgg]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(aggs.nonEmpty, "at least one running aggregate")
    def agg(op: String, c: Column) = op match {
      case "sum" => sum(c)
      case "min" => min(c)
      case "max" => max(c)
      case o => throw new IllegalArgumentException(s"bandedScan op: $o")
    }
    // flat-window crossover (r12 verdict item 3) — same contract as the
    // bandedRowNumber crossover: identical (band, tie…) order and frame
    // semantics (the flat window IS the definition the band device
    // mirrors, null frames included), taken only below the size bound.
    if (smallEnoughForFlat(df)) {
      def w(inclusive: Boolean) = Window
        .orderBy((if (bandAsc) col("_bcs_flat").asc
          else col("_bcs_flat").desc) +: tie: _*)
        .rowsBetween(Window.unboundedPreceding,
          if (inclusive) Window.currentRow else -1)
      return aggs.foldLeft(df.withColumn("_bcs_flat", band)) { (acc, a) =>
        acc.withColumn(a.out, agg(a.op, col(a.in)).over(w(a.inclusive)))
      }.drop("_bcs_flat")
    }
    val withBand = df.withColumn("_bcs_band", band)
    val haggs = aggs.map(a => agg(a.op, col(a.in)).as(s"_bcs_t_${a.out}"))
    val h = withBand.groupBy(col("_bcs_band"))
      .agg(haggs.head, haggs.tail: _*)
    // prior-band totals: EXCLUSIVE scan over the band histogram (null
    // for the first band — min/max combine below is null-skipping,
    // sum coalesces, both matching the flat window's null frame)
    val hw = Window
      .orderBy(if (bandAsc) col("_bcs_band").asc else col("_bcs_band").desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val off = h.select(col("_bcs_band") +:
      aggs.map(a => agg(a.op, col(s"_bcs_t_${a.out}")).over(hw)
        .as(s"_bcs_off_${a.out}")): _*)
    def ww(inclusive: Boolean) =
      Window.partitionBy(col("_bcs_band")).orderBy(tie: _*)
        .rowsBetween(Window.unboundedPreceding,
          if (inclusive) Window.currentRow else -1)
    aggs.foldLeft(withBand.join(off, "_bcs_band")) { (acc, a) =>
      val offC = col(s"_bcs_off_${a.out}")
      val within = agg(a.op, col(a.in)).over(ww(a.inclusive))
      acc.withColumn(a.out, a.op match {
        case "sum" =>
          // flat parity: null only when the whole frame is empty
          when(offC.isNull && within.isNull, lit(null))
            .otherwise(coalesce(offC, lit(0)) + coalesce(within, lit(0)))
        case "min" => least(offC, within) // least/greatest skip nulls
        case "max" => greatest(offC, within)
      })
    }.drop("_bcs_band" +: aggs.map(a => s"_bcs_off_${a.out}"): _*)
  }

  def canon(df: DataFrame, p: Int = 4): DataFrame = {
    val cols = df.schema.fields.map { f =>
      if (f.dataType == org.apache.spark.sql.types.DoubleType)
        roundLikeDuck(col(f.name), p).as(f.name)
      else col(f.name)
    }
    df.select(cols.toSeq: _*)
  }
}
