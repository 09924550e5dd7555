package graft.tools

import org.apache.spark.sql.SparkSession

/** The one SparkSession every graft main (and the test suite) starts
  * from, with the warm-up and between-query cleanup of the bench
  * protocol. A main that needs a different setting changes it after the
  * call, as a runtime conf or log level, next to the reason it needs it. */
object Session {

  /** `local[cpus]` with `cpus` shuffle partitions, UTC, no UI, parquet
    * TIMESTAMP(NANOS) read as epoch-nanos longs, log level ERROR. */
  def apply(cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .getOrCreate()
    // ERROR, not WARN: the graph-fixture `lead` windows alone emit
    // thousands of "WARN WindowExec: No Partition Defined" lines, which
    // drowned the driver's 2 KB stdout tail and blew the bench budget
    // (BENCH_r10/r11 unparseable/timed out — r11 verdict item 2)
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** Untimed warm-up before the first measured query: touch every table,
    * then one throwaway plan exercising whole-stage codegen, hash
    * aggregation, a shuffle exchange, a broadcast join and a window. The
    * table counts alone never invoke the Janino compiler, so its
    * classloader start-up cost otherwise lands in q01–q09 on every pass
    * (the cold-per-query protocol recompiles plans but only pays compiler
    * *infra* start-up once per JVM) and reads as a false 2× regression. */
  def warmUp(spark: SparkSession, sfDir: String): Unit = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    Seq("events", "lineitem", "documents", "embeddings")
      .foreach(t => graft.core.table(spark, sfDir, t).count())
    val d = spark.range(10000).select(col("id"), (col("id") % 7).as("k"))
    val dim = spark.range(7).select(col("id").as("k"), (col("id") * 2).as("w"))
    d.join(broadcast(dim), "k")
      .groupBy(col("k")).agg(sum(col("id")).as("s"), avg(col("w")).as("a"))
      .withColumn("rn",
        row_number().over(Window.partitionBy(col("k")).orderBy(col("s"))))
      .count(): Unit
    spark.catalog.clearCache()
  }

  /** Drops what a query left cached or persisted, outside any timed
    * region, so the next query is measured with only its own state.
    * Returns the number of persistent RDDs found before the drop. */
  def cleanUp(spark: SparkSession): Int = {
    val sc = spark.sparkContext
    val left = sc.getPersistentRDDs.size
    // several operators retain a documented cache for their lazy result
    // (bm25/nb/lm/signature); across 250+ queries those accumulate into
    // GC pressure that bleeds into NEIGHBORS' numbers (the q46-class
    // variance of rounds 6-7)
    spark.catalog.clearCache()
    // clearCache only drops catalog-managed InMemoryRelations;
    // localCheckpoint blocks are GC-managed and otherwise linger until
    // collection, pressuring neighbors' storage exactly like the
    // retained caches above
    sc.getPersistentRDDs.values.foreach(_.unpersist(false))
    left
  }
}
