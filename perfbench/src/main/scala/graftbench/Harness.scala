package graftbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.GraftBenchBridge
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.CacheManager
import org.apache.spark.sql.functions._

/** Closed-loop benchmark harness for SparkEntry queries.
  *
  * One client runs one query at a time in one JVM at `local[cpus]`. A pass
  * runs every workload query once, in an order drawn from the seed; each
  * query is timed in two parts, the call that builds the DataFrame
  * (`SparkEntry.queries(name)(spark, dir)`) and the final `count()`. Between
  * queries, outside the timed region, the harness counts the persistent RDDs
  * and cached relations the query left behind and then drops them, as
  * `graft.Bench` does. Between passes it forces a full GC; after the last
  * one it reads the live heap size.
  *
  * Set-up (session, table warm-up) is repeated [[Setups]] times and each
  * repetition is timed; the first one is timed from JVM start. The last
  * session is the one measured, for exactly `--passes` passes; the first
  * pass is the cold one.
  *
  * With `--trace 1` a [[Recorder]] listens during the first pass and the
  * warm passes of odd index, and is detached during the others, so one run
  * yields both the layer record and the cost of recording it.
  *
  * Everything is written as one JSON object to `--out`.
  */
object Harness {

  /** Set-ups per run; the reported set-up time is their median. */
  val Setups = 3

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val sfDir = a("sf")
    val names = a("queries").split(",").toSeq.filter(_.nonEmpty)
    val seed = a("seed").toLong
    val nPasses = a("passes").toInt
    val trace = a("trace") == "1"
    val cpus = a("cpus")
    val localDir = a("local-dir")

    val all = graft.SparkEntry.queries
    val unknown = names.filterNot(all.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")

    // ---- set-up, repeated; the first repetition also pays JVM start-up
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    val setupS = mutable.ArrayBuffer.empty[Double]
    var spark: SparkSession = null
    for (i <- 1 to Setups) {
      if (spark != null) spark.stop()
      val t0 = System.nanoTime()
      spark = session(cpus, localDir)
      warmUp(spark, sfDir)
      setupS += (if (i == 1) (System.currentTimeMillis() - jvmStart) / 1e3
        else (System.nanoTime() - t0) / 1e9)
    }
    val sc = spark.sparkContext

    // ---- timed passes
    val recorder = new Recorder
    val rng = new Random(seed)
    val passes = (0 until nPasses).map { p =>
      val traced = trace && (p == 0 || p % 2 == 1)
      if (traced) {
        sc.addSparkListener(recorder)
        spark.listenerManager.register(recorder)
      }
      val order = rng.shuffle(names)
      val t0 = System.nanoTime()
      val c0 = cpuNanos()
      val (jit0, gc0) = (jitMs(), gcMs())
      val startMs = System.currentTimeMillis()
      val qs = order.map(n => runQuery(spark, sfDir, p, n, all(n)))
      val wall = (System.nanoTime() - t0) / 1e9
      val cpu = (cpuNanos() - c0) / 1e9
      val (jit, gc) = (jitMs() - jit0, gcMs() - gc0)
      val endMs = System.currentTimeMillis()
      if (traced) {
        GraftBenchBridge.drainListenerBus(sc)
        sc.removeSparkListener(recorder)
        spark.listenerManager.unregister(recorder)
      }
      System.gc()
      Json.obj("pass" -> p, "traced" -> traced, "wall_s" -> wall, "cpu_s" -> cpu,
        "jit_ms" -> jit, "gc_ms" -> gc,
        "start_ms" -> startMs, "end_ms" -> endMs,
        "queries" -> Json.raw(qs.mkString("[", ",", "]")))
    }

    val out = Json.obj(
      "cpus" -> cpus.toInt,
      "setup_s" -> setupS,
      "heap_live_mb" -> liveHeapMb(),
      "passes" -> Json.raw(passes.mkString("[", ",", "]")),
      "trace" -> (if (trace) Json.raw(recorder.toJson) else null))
    Files.writeString(Paths.get(a("out")), out)
    spark.stop()
  }

  /** The session `graft.Bench` builds, with Spark's local directory placed
    * where the caller says. */
  def session(cpus: String, localDir: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.local.dir", localDir)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** `graft.Bench`'s warm-up: touch the tables, then one throwaway plan with
    * codegen, hash aggregation, an exchange, a broadcast join and a window,
    * so that compiler start-up is not charged to the first query. */
  def warmUp(spark: SparkSession, sfDir: String): Unit = {
    import org.apache.spark.sql.expressions.Window
    Seq("events", "lineitem", "documents", "embeddings")
      .foreach(t => graft.core.table(spark, sfDir, t).count())
    val d = spark.range(10000).select(col("id"), (col("id") % 7).as("k"))
    val dim = spark.range(7).select(col("id").as("k"), (col("id") * 2).as("w"))
    d.join(broadcast(dim), "k")
      .groupBy(col("k")).agg(sum(col("id")).as("s"), avg(col("w")).as("a"))
      .withColumn("rn", row_number().over(Window.partitionBy(col("k")).orderBy(col("s"))))
      .count(): Unit
    spark.catalog.clearCache()
  }

  private def runQuery(spark: SparkSession, sfDir: String, pass: Int, name: String,
      fn: (SparkSession, String) => DataFrame): String = {
    val sc = spark.sparkContext
    val span = s"$pass\t$name"
    val compiles0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val startMs = System.currentTimeMillis()
    val c0 = cpuNanos()
    val t0 = System.nanoTime()
    var t1 = t0
    var rows = -1L
    var error: String = null
    try {
      sc.setLocalProperty(Recorder.SpanKey, s"$span\tbuild")
      val df = fn(spark, sfDir)
      t1 = System.nanoTime()
      sc.setLocalProperty(Recorder.SpanKey, s"$span\taction")
      rows = df.count()
    } catch {
      case t: Throwable =>
        if (t1 == t0) t1 = System.nanoTime()
        error = s"${t.getClass.getName}: ${t.getMessage}"
    } finally sc.setLocalProperty(Recorder.SpanKey, null)
    val t2 = System.nanoTime()
    val cpu = (cpuNanos() - c0) / 1e9
    val endMs = System.currentTimeMillis()
    val compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiles0
    val compileMsEst = compiles * CodegenMetrics.METRIC_COMPILATION_TIME.getSnapshot.getMean
    // left-behind state, counted before the cleanup that graft.Bench also does
    val rddsLeft = sc.getPersistentRDDs.size
    val cachedLeft = cachedRelations(spark)
    spark.catalog.clearCache()
    sc.getPersistentRDDs.values.foreach(_.unpersist(false))
    Json.obj("name" -> name, "family" -> family(fn), "start_ms" -> startMs, "end_ms" -> endMs,
      "build_s" -> (t1 - t0) / 1e9, "action_s" -> (t2 - t1) / 1e9, "cpu_s" -> cpu, "rows" -> rows,
      "error" -> Option(error), "compiles" -> compiles, "compile_ms_est" -> compileMsEst,
      "rdds_left" -> rddsLeft, "cached_left" -> cachedLeft)
  }

  /** CPU time used so far by all threads of this JVM (driver, executors,
    * compiler and collector threads). */
  private def cpuNanos(): Long = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  /** Time the JIT compiler threads have spent compiling so far. */
  private def jitMs(): Long = ManagementFactory.getCompilationMXBean.getTotalCompilationTime

  /** Time spent in garbage collection so far, over all collectors. */
  private def gcMs(): Long = {
    import scala.jdk.CollectionConverters._
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum
  }

  /** Simple name of the object that defines a query: the query function is
    * a lambda compiled into that object's class. */
  private def family(fn: AnyRef): String =
    fn.getClass.getName.takeWhile(_ != '$').split('.').last

  /** Number of relations in the session's cache manager. */
  private def cachedRelations(spark: SparkSession): Int = spark match {
    case s: org.apache.spark.sql.classic.SparkSession =>
      val f = classOf[CacheManager].getDeclaredField("cachedData")
      f.setAccessible(true)
      f.get(s.sharedState.cacheManager).asInstanceOf[Seq[_]].size
    case _ => 0
  }

  /** Heap occupied after full collections, in MiB. Collections repeat with
    * pauses so that blocks Spark's context cleaner releases after one
    * (broadcasts and shuffles of dropped plans) are gone by the last. */
  private def liveHeapMb(): Double = {
    (1 to 3).foreach { _ => System.gc(); Thread.sleep(300) }
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }
}
