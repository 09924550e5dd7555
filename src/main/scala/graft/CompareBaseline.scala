package graft

import org.apache.spark.sql.functions._

/** Reference-shape vs engine throughput comparison.
  *
  * The reference publishes no benchmark numbers (BASELINE.md), so this
  * main measures the closest substitute: its flagship z-score job
  * re-created faithfully in its own execution shape — RDD `textFile` →
  * per-line `split(",")` → driver-collected stats map → broadcast →
  * per-record predictor map (spark/.../dist/StatsBasedOutlierPredictor
  * .scala:202-278 + chombo NumericalAttrStats fit) — against this
  * engine's DataFrame pipeline on the SAME CSV input, and on parquet
  * (the engine's native format). Both sides run twice; the warm run is
  * reported. */
object CompareBaseline {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = tools.Session()
    // size scan splits to the core count (SCALING.md §7): the 128 MB
    // default yields ~3 tasks for a few-hundred-MB input on 32 cores
    spark.conf.set("spark.sql.files.maxPartitionBytes", s"${8 * 1024 * 1024}")
    val sc = spark.sparkContext

    // one-time: events as CSV, the reference's input format, scaled
    // SPARK_GRAFT_SCALE× (re-keyed copies) so the comparison isn't
    // fixed-overhead-bound
    val scale = sys.env.getOrElse("SPARK_GRAFT_SCALE", "50").toInt
    val csvDir = s"/tmp/graft_ref_csv_x$scale"
    val pqDir = s"/tmp/graft_ref_pq_x$scale"
    if (!new java.io.File(csvDir, "_SUCCESS").exists()) {
      val base = core.table(spark, sfDir, "events")
        .select(col("event_id"), col("event_type"), col("value"))
      val big = (0 until scale).map(i =>
        base.withColumn("event_id", col("event_id") + lit(i.toLong * 1000000000L)))
        .reduce(_ unionByName _)
      big.write.mode("overwrite").option("header", "false").csv(csvDir)
      big.write.mode("overwrite").parquet(pqDir)
    }

    def time(name: String)(f: => Long): Long = {
      f // warm
      val t0 = System.nanoTime()
      val out = f
      println(f"[cmp] $name%-28s ${(System.nanoTime() - t0) / 1e9}%6.2f s (outliers=$out)")
      out
    }

    // ===== reference shape: textFile + split + broadcast stats + map =====
    val zRefCnt = time("reference-style RDD (CSV)") {
      val lines = sc.textFile(csvDir)
      // fit pass (chombo NumericalAttrStats equivalent): reduceByKey partials
      val partials = lines.map { line =>
        val items = line.split(",")
        (items(1), (items(2).toDouble, items(2).toDouble * items(2).toDouble, 1L))
      }.reduceByKey((a, b) => (a._1 + b._1, a._2 + b._2, a._3 + b._3))
        .collect()
      val stats = partials.map { case (k, (s, ss, n)) =>
        val mean = s / n
        k -> (mean, math.sqrt((ss - n * mean * mean) / (n - 1)))
      }.toMap
      val bc = sc.broadcast(stats)
      // score pass: per-line predictor apply + tag, then an outlier count
      // (both sides aggregate the scores so neither can skip the math)
      lines.map { line =>
        val items = line.split(",")
        val (mean, sd) = bc.value(items(1))
        val score = math.abs(items(2).toDouble - mean) / sd
        if (score > 2.0) 1L else 0L
      }.reduce(_ + _)
    }

    // ===== engine: same pipeline, DataFrame over the same CSV =====
    val csvSchema = "event_id LONG, event_type STRING, value DOUBLE"
    val zCsvCnt = time("graft DataFrame (CSV)") {
      val data = spark.read.schema(csvSchema).csv(csvDir)
      val stats = model.Fitters.stats(data, Seq("event_type"), Seq("value"))
      score.Scorers.zscore(data, stats,
        score.Scorers.Cfg(Seq("event_type"), Seq("value"), threshold = 2.0))
        .agg(sum(when(col("tag") === "O", 1L).otherwise(0L))).head().getLong(0)
    }

    // ===== engine on its native columnar format (same rows) =====
    val zPqCnt = time("graft DataFrame (parquet)") {
      val data = spark.read.parquet(pqDir)
      val stats = model.Fitters.stats(data, Seq("event_type"), Seq("value"))
      score.Scorers.zscore(data, stats,
        score.Scorers.Cfg(Seq("event_type"), Seq("value"), threshold = 2.0))
        .agg(sum(when(col("tag") === "O", 1L).otherwise(0L))).head().getLong(0)
    }
    // the race is only apples-to-apples if all three sides compute the
    // same answer — assert it, don't leave the counts to eyeballing
    if (zRefCnt != zCsvCnt || zCsvCnt != zPqCnt) {
      println(s"[cmp] MISMATCH: zscore outlier counts diverge " +
        s"(ref=$zRefCnt csv=$zCsvCnt parquet=$zPqCnt) — RDD mirror and " +
        "Scorers.zscore are no longer computing the same thing")
      throw new IllegalStateException("zscore race correctness check failed")
    }

    // ===== flagship 2: Markov-chain sequence scoring =====
    // reference shape (seq/MarkovChainPredictor.scala:55-137): textFile →
    // keyBy(entity) → groupByKey (whole per-key series in task memory) →
    // in-memory sort → sliding mean of −ln p over a broadcast transition
    // matrix, O spread back over the window. Identical math to
    // SeqOps.markovChainScore(metric=condProb), so both sides must emit
    // the same outlier count.
    val mkScale = math.max(1, scale / 5) // series walk is heavier per row
    val mkCsvDir = s"/tmp/graft_ref_mk_csv_x$mkScale"
    val mkPqDir = s"/tmp/graft_ref_mk_pq_x$mkScale"
    if (!new java.io.File(mkCsvDir, "_SUCCESS").exists()) {
      val base = core.table(spark, sfDir, "events")
        .select(col("user_id"), col("event_id"), col("event_type"))
      val big = (0 until mkScale).map(i =>
        base.withColumn("user_id", col("user_id") + lit(i.toLong * 1000000000L))
          .withColumn("event_id", col("event_id") + lit(i.toLong * 1000000000L)))
        .reduce(_ unionByName _)
      big.write.mode("overwrite").option("header", "false").csv(mkCsvDir)
      big.write.mode("overwrite").parquet(mkPqDir)
    }
    val mkWin = 5
    val mkThr = 1.5

    val mkRefCnt = time("reference-style RDD Markov") {
      val lines = sc.textFile(mkCsvDir)
      val parsed = lines.map { line =>
        val it = line.split(",")
        (it(0).toLong, (it(1).toLong, it(2)))
      }
      val states = parsed.map(_._2._2).distinct().collect().sorted
      val nStates = states.length
      // fit: per-entity in-memory sort → lag pairs → global (from,to) counts
      val pairCounts = parsed.groupByKey().flatMap { case (_, vs) =>
        val sorted = vs.toArray.sortBy(_._1)
        (1 until sorted.length).iterator.map(i =>
          ((sorted(i - 1)._2, sorted(i)._2), 1L))
      }.reduceByKey(_ + _).collect().toMap
      val probs = (for {
        from <- states
        sumFrom = states.map(to => pairCounts.getOrElse((from, to), 0L)).sum
        to <- states
      } yield (from, to) ->
        (pairCounts.getOrElse((from, to), 0L) + 1.0) / (sumFrom + 1.0 * nStates)
      ).toMap
      val bc = sc.broadcast(probs)
      // score: per-entity walk, sliding ascending-sum mean of −ln p
      parsed.groupByKey().map { case (_, vs) =>
        val sorted = vs.toArray.sortBy(_._1)
        val n = sorted.length
        val nll = new Array[Double](n)
        var i = 1
        while (i < n) {
          nll(i) = -math.log(bc.value((sorted(i - 1)._2, sorted(i)._2)))
          i += 1
        }
        val rawO = new Array[Boolean](n)
        i = mkWin
        while (i < n) {
          var s = 0.0
          var k = i - mkWin + 1
          while (k <= i) { s += nll(k); k += 1 }
          rawO(i) = s / mkWin > mkThr
          i += 1
        }
        var cnt = 0L
        i = mkWin // rows with a null score stay I, never O
        while (i < n) {
          var j = i
          var o = false
          while (!o && j < math.min(n, i + mkWin)) { o = rawO(j); j += 1 }
          if (o) cnt += 1
          i += 1
        }
        cnt
      }.reduce(_ + _)
    }

    def engineMarkov(data: org.apache.spark.sql.DataFrame): Long = {
      val trans = model.Fitters.markovTransitions(data, Seq("user_id"),
        "event_id", "event_type", smoothing = 1.0)
      seq.SeqOps.markovChainScore(data, trans, Seq("user_id"), "event_id",
        "event_type", window = mkWin, metric = "condProb", threshold = mkThr)
        .agg(sum(when(col("tag") === "O", 1L).otherwise(0L))).head().getLong(0)
    }
    val mkSchema = "user_id LONG, event_id LONG, event_type STRING"
    val mkCsvCnt = time("graft Markov (CSV)") {
      engineMarkov(spark.read.schema(mkSchema).csv(mkCsvDir))
    }
    val mkPqCnt = time("graft Markov (parquet)") {
      engineMarkov(spark.read.parquet(mkPqDir))
    }
    // the race is only apples-to-apples if both sides compute the same
    // answer — self-check it instead of leaving the counts to eyeballing
    if (mkRefCnt != mkCsvCnt || mkCsvCnt != mkPqCnt) {
      println(s"[cmp] MISMATCH: Markov outlier counts diverge " +
        s"(ref=$mkRefCnt csv=$mkCsvCnt parquet=$mkPqCnt) — RDD mirror and " +
        "SeqOps.markovChainScore are no longer computing the same thing")
      throw new IllegalStateException("Markov race correctness check failed")
    }
    spark.stop()
  }
}
