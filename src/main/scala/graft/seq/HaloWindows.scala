package graft.seq

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Bounded sliding-frame kernels with partition-boundary halo exchange —
  * the scale path past the one-task-per-key ceiling of window functions.
  *
  * `SeqOps.changePointMeanShift` (misc/ChangePointDetector.scala:108-139
  * re-expressed as window aggregates) is correct but its parallelism is
  * capped at the key cardinality: `Window.partitionBy(key)` puts each
  * key's whole series in one task (SCALING.md §8). On a 1000-executor
  * cluster scoring 5 event types that is 5 busy cores. These kernels
  * instead:
  *
  *  1. range-partition on (key, seq) — one key's series is *split
  *     across* consecutive partitions, so parallelism is data-sized,
  *     not key-sized;
  *  2. exchange a bounded halo between neighbouring partitions
  *     entirely on the executors: the driver sees only per-partition row
  *     COUNTS (O(numPartitions) longs), derives from them a routing
  *     table (which suffix/prefix of which source partition feeds which
  *     neighbour's halo — walking through empty or shorter-than-halo
  *     partitions, which range sampling produces on skewed boundaries),
  *     and the halo rows themselves travel source→target through a
  *     targeted `partitionBy` + `zipPartitions` stitch. No data-sized
  *     collect, no whole-array broadcast: driver memory and broadcast
  *     size stay flat as numPartitions grows;
  *  3. compute each two-flank frame inside a tight per-partition loop
  *     that replicates WindowExec's arithmetic exactly — ascending-index
  *     summation for `avg`, the Welford/CentralMomentAgg update chain for
  *     `var_samp` — so output is bit-identical to the window formulation
  *     and passes the same DuckDB oracle.
  *
  * The sorted base is deliberately NOT persisted: its three passes
  * (counts, halo emit, compute) all share one shuffle dependency, so
  * Spark skips the map stage on the later passes and re-reads the
  * existing shuffle files — only the per-partition sort re-runs. At
  * 100 TB that beats writing a second full copy of the data into the
  * block-manager cache (and leaves nothing for ContextCleaner to chase).
  * Per-task memory is O(rows-per-partition), tunable via
  * `numPartitions` — no per-key ceiling.
  */
object HaloWindows {
  import SeriesKernels.{SPoint, SScore}

  /** A level-shifted row surviving the halo z-test: `isNew` marks the
    * first row of its contiguous shifted run (its predecessor in the key
    * series was not shifted). */
  case class SShift(key: String, seq: Long, z: Double, isNew: Int)

  /** Change-point via two-flank mean-shift statistic — same semantics and
    * bit-identical output to [[SeqOps.changePointMeanShift]] (Welch-style
    * |mean_R − mean_L| / sqrt(varL/w + varR/w) over the two full w-row
    * frames flanking each position; emit rows with stat ≥ critValue).
    * Output columns: key (keyCols joined with "|"), seq, value, stat. */
  def changePointMeanShift(
      data: DataFrame,
      keyCols: Seq[String],
      seqCol: String,
      valCol: String,
      window: Int,
      critValue: Double,
      numPartitions: Int = 0): DataFrame = {
    val spark = data.sparkSession
    import spark.implicits._
    val w = window
    val crit = critValue
    val base = rangeSorted(data, keyCols, seqCol, valCol, numPartitions)
    val out = haloCompute[SScore](base, leftW = w, rightW = w) { (all, s, e) =>
      val (runStart, runEnd) = runExtents(all)
      val res = scala.collection.mutable.ArrayBuffer.empty[SScore]
      var g = s
      while (g < e) {
        // full-frame check from run extents — same as the window
        // variant's row-position fullness counts
        if (g - runStart(g) >= w && runEnd(g) - g >= w) {
          val (mL, vL) = meanVar(all, g - w, g)
          val (mR, vR) = meanVar(all, g, g + w)
          val den = math.sqrt(vL / w + vR / w)
          val diff = math.abs(mR - mL)
          val stat =
            if (den > 0) diff / den
            else if (diff > 0) Double.PositiveInfinity
            else 0.0
          if (stat >= crit) res += SScore(all(g).key, all(g).seq, all(g).value, stat)
        }
        g += 1
      }
      res.iterator
    }
    spark.createDataset(out).toDF("key", "seq", "value", "stat")
  }

  /** Level-shift segmentation — same semantics as
    * [[SeqOps.levelShiftSegments]] on null-free input, per-row z
    * bit-identical. The halo kernel emits only the shifted rows (signed
    * two-flank z with |z| ≥ minZ), each tagged `isNew` when its
    * predecessor row in the key series is not shifted; the predecessor's
    * z is computable locally because the left halo carries `window`+1
    * rows. Segment assembly then runs declaratively over the sparse
    * shifted set — a running sum of `isNew` is the segment id, so a
    * segment spanning a partition boundary is stitched by the (tiny)
    * window aggregation, not by task-local state.
    * Output columns: key, segStart, segEnd, n, avgShift. */
  def levelShiftSegments(
      data: DataFrame,
      keyCols: Seq[String],
      seqCol: String,
      valCol: String,
      window: Int,
      minZ: Double,
      numPartitions: Int = 0): DataFrame = {
    val spark = data.sparkSession
    import spark.implicits._
    val w = window
    val base = rangeSorted(data, keyCols, seqCol, valCol, numPartitions)
    val out = haloCompute[SShift](base, leftW = w + 1, rightW = w) { (all, s, e) =>
      val (runStart, runEnd) = runExtents(all)
      // signed z, NaN when frames are not full or the variance term is 0
      // (the window variant leaves z null in both cases)
      def z(g: Int): Double =
        if (g - runStart(g) >= w && runEnd(g) - g >= w) {
          val (mL, vL) = meanVar(all, g - w, g)
          val (mR, vR) = meanVar(all, g, g + w)
          val den = math.sqrt(vL / w + vR / w)
          if (den > 0) (mR - mL) / den else Double.NaN
        } else Double.NaN
      val res = scala.collection.mutable.ArrayBuffer.empty[SShift]
      var g = s
      while (g < e) {
        val zg = z(g)
        if (!java.lang.Double.isNaN(zg) && math.abs(zg) >= minZ) {
          val zp = if (g > runStart(g)) z(g - 1) else Double.NaN
          val prevShifted = !java.lang.Double.isNaN(zp) && math.abs(zp) >= minZ
          res += SShift(all(g).key, all(g).seq, zg, if (prevShifted) 0 else 1)
        }
        g += 1
      }
      res.iterator
    }
    val shifted = spark.createDataset(out).toDF("key", "seq", "z", "isNew")
    val wk = Window.partitionBy("key").orderBy("seq")
    shifted
      .withColumn("segId",
        sum("isNew").over(wk.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy("key", "segId")
      .agg(
        min("seq").as("segStart"),
        max("seq").as("segEnd"),
        count(lit(1)).as("n"),
        avg("z").as("avgShift"))
      .drop("segId")
  }

  /** Canonical (key, seq, value) rows, range-partitioned on (key, seq) and
    * sorted within partitions. Null values are dropped up front (same as
    * the window variants' count-of-non-null frame fullness on null-free
    * data: a null row must not count toward frame fullness). */
  private def rangeSorted(data: DataFrame, keyCols: Seq[String],
      seqCol: String, valCol: String, numPartitions: Int): RDD[SPoint] = {
    val spark = data.sparkSession
    import spark.implicits._
    val p =
      if (numPartitions > 0) numPartitions
      else graft.core.shufflePartitions(spark)
    data
      .where(col(valCol).isNotNull)
      .select(
        concat_ws("|", keyCols.map(c => col(c).cast("string")): _*).as("key"),
        col(seqCol).cast("long").as("seq"),
        col(valCol).cast("double").as("value"))
      .as[SPoint]
      .repartitionByRange(p, $"key", $"seq")
      .sortWithinPartitions($"key", $"seq", $"value")
      .rdd
  }

  /** Three-pass halo execution over a range-sorted base, driver kept out
    * of the data path:
    *
    *  - pass 1 collects per-partition row COUNTS only (nP longs). From
    *    them the driver derives, for every target partition, which
    *    suffix of which preceding partitions forms its left halo and
    *    which prefix of which following partitions forms its right halo
    *    (walking through empty/short partitions), inverted into a
    *    per-SOURCE routing table of (target, side, take) triples — a few
    *    ints per partition, broadcast;
    *  - pass 2 re-reads the base and emits only the routed suffix/prefix
    *    rows, keyed by target pid, shuffled with an identity partitioner
    *    (O(window) rows per partition move — not the data);
    *  - pass 3 zips the base with its received halos and runs
    *    `compute(all, ownedStart, ownedEnd)` over lh ++ owned ++ rh,
    *    emitting owned rows only so nothing is double-counted. Received
    *    halo rows are re-ordered by the global sort key (key, seq,
    *    value); rows tied on all three are interchangeable for any
    *    frame arithmetic, so the stitched array matches the
    *    single-stream order exactly.
    */
  private def haloCompute[T: scala.reflect.ClassTag](
      base: RDD[SPoint], leftW: Int, rightW: Int)(
      compute: (Array[SPoint], Int, Int) => Iterator[T]): RDD[T] = {
    val counts = base
      .mapPartitionsWithIndex((pid, it) => Iterator.single(pid -> it.count(_ => true)))
      .collect().sortBy(_._1).map(_._2.toLong)
    val nP = base.getNumPartitions

    // suffixFeeds(src) = targets drawing their left halo from src's last
    // `take` rows; prefixFeeds(src) = targets drawing their right halo
    // from src's first `take` rows.
    val suffixFeeds = Array.fill(nP)(List.empty[(Int, Int)])
    val prefixFeeds = Array.fill(nP)(List.empty[(Int, Int)])
    var tgt = 0
    while (tgt < nP) {
      if (counts(tgt) > 0) {
        var need = leftW.toLong
        var src = tgt - 1
        while (need > 0 && src >= 0) {
          if (counts(src) > 0) {
            val take = math.min(need, counts(src))
            suffixFeeds(src) ::= (tgt, take.toInt)
            need -= take
          }
          src -= 1
        }
        need = rightW.toLong
        src = tgt + 1
        while (need > 0 && src < nP) {
          if (counts(src) > 0) {
            val take = math.min(need, counts(src))
            prefixFeeds(src) ::= (tgt, take.toInt)
            need -= take
          }
          src += 1
        }
      }
      tgt += 1
    }
    val sc = base.sparkContext
    val bcSuffix = sc.broadcast(suffixFeeds)
    val bcPrefix = sc.broadcast(prefixFeeds)

    // side: 0 = left halo of the target, 1 = right halo
    val haloRows: RDD[(Int, (Byte, SPoint))] = base.mapPartitionsWithIndex { (pid, it) =>
      val sf = bcSuffix.value(pid)
      val pf = bcPrefix.value(pid)
      if (sf.isEmpty && pf.isEmpty) Iterator.empty
      else {
        val maxTail = if (sf.isEmpty) 0 else sf.map(_._2).max
        val maxHead = if (pf.isEmpty) 0 else pf.map(_._2).max
        val head = scala.collection.mutable.ArrayBuffer.empty[SPoint]
        val tail = new java.util.ArrayDeque[SPoint](maxTail + 1)
        it.foreach { r =>
          if (head.length < maxHead) head += r
          if (maxTail > 0) {
            tail.addLast(r)
            if (tail.size > maxTail) tail.removeFirst()
          }
        }
        val tailArr = tail.toArray(Array.empty[SPoint])
        sf.iterator.flatMap { case (t, k) =>
          tailArr.iterator.drop(math.max(0, tailArr.length - k))
            .map(r => (t, (0: Byte, r)))
        } ++ pf.iterator.flatMap { case (t, k) =>
          head.iterator.take(k).map(r => (t, (1: Byte, r)))
        }
      }
    }.partitionBy(new org.apache.spark.Partitioner {
      override def numPartitions: Int = nP
      override def getPartition(key: Any): Int = key.asInstanceOf[Int]
    })

    base.zipPartitions(haloRows) { (ownedIt, haloIt) =>
      val owned = ownedIt.toArray
      if (owned.isEmpty) Iterator.empty
      else {
        val lb = scala.collection.mutable.ArrayBuffer.empty[SPoint]
        val rb = scala.collection.mutable.ArrayBuffer.empty[SPoint]
        haloIt.foreach { case (_, (side, r)) => if (side == 0) lb += r else rb += r }
        val ord = Ordering.by((p: SPoint) => (p.key, p.seq, p.value))
        val lh = lb.sorted(ord).toArray
        val rh = rb.sorted(ord).toArray
        compute(lh ++ owned ++ rh, lh.length, lh.length + owned.length)
      }
    }
  }

  /** Per-index key-run extents over the stitched array: frames never
    * cross a key boundary. */
  private def runExtents(all: Array[SPoint]): (Array[Int], Array[Int]) = {
    val n = all.length
    val runStart = new Array[Int](n)
    val runEnd = new Array[Int](n)
    var i = 0
    while (i < n) {
      runStart(i) = if (i > 0 && all(i).key == all(i - 1).key) runStart(i - 1) else i
      i += 1
    }
    i = n - 1
    while (i >= 0) {
      runEnd(i) = if (i < n - 1 && all(i).key == all(i + 1).key) runEnd(i + 1) else i + 1
      i -= 1
    }
    (runStart, runEnd)
  }

  /** Frame mean and sample variance with WindowExec's exact arithmetic:
    * mean = ascending-index sum / count (Average), variance = the
    * Welford update chain (CentralMomentAgg) over ascending indices —
    * SlidingWindowFunctionFrame re-aggregates the full frame per output
    * row in row order, and this replicates that bit-for-bit. */
  private def meanVar(a: Array[SPoint], from: Int, until: Int): (Double, Double) = {
    var s = 0.0
    var i = from
    while (i < until) { s += a(i).value; i += 1 }
    var cnt = 0.0
    var m = 0.0
    var m2 = 0.0
    i = from
    while (i < until) {
      cnt += 1.0
      val v = a(i).value
      val d = v - m
      val dN = d / cnt
      m += dN
      m2 += d * (d - dN)
      i += 1
    }
    (s / (until - from), m2 / (cnt - 1.0))
  }
}
