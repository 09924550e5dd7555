package graft

import graft.tools.Run
import java.io.File
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.LongType

/** The query runner's scale fixture and plan-audit row. */
class RunSpec extends SparkSpec {

  private def filesWithMtimes(f: File): Map[String, Long] =
    if (f.isDirectory) Option(f.listFiles).getOrElse(Array.empty[File]).toSeq
      .flatMap(c => filesWithMtimes(c)).toMap
    else Map(f.getPath -> f.lastModified)

  test("scale fixture: 2x rows and entities, foreign keys join per copy, built once") {
    val root = java.nio.file.Files.createTempDirectory("graft_scale").toFile
    try {
      val dir = Run.scaled(spark, sfDir, 2, root.getPath)
      assert(new File(dir, "_SUCCESS").exists())
      def base(t: String) = core.table(spark, sfDir, t)
      def big(t: String) = core.table(spark, dir, t)
      val tables = Seq("customer", "documents", "embeddings", "events", "lineitem",
        "orders", "part", "supplier")
      tables.foreach { t =>
        assert(big(t).count() == 2 * base(t).count(), t)
        val keys = base(t).schema.fields.collect {
          case f if f.dataType == LongType && (f.name.endsWith("_id") || f.name.endsWith("key")) =>
            f.name
        }
        assert(keys.nonEmpty, t)
        keys.foreach { c =>
          val n = base(t).select(c).distinct().count()
          assert(big(t).select(c).distinct().count() == 2 * n, s"$t.$c")
          // copy 1 holds exactly the base values shifted past every copy-0 value
          val shifted = big(t).where(col(c) >= 1000000000L)
            .select((col(c) - 1000000000L).as(c))
          assert(shifted.distinct().count() == n, s"$t.$c")
          assert(shifted.exceptAll(base(t).select(c)).isEmpty, s"$t.$c")
        }
      }
      Seq("region", "nation").foreach { t =>
        assert(big(t).count() == base(t).count(), t)
        assert(big(t).exceptAll(base(t)).isEmpty && base(t).exceptAll(big(t)).isEmpty, t)
      }
      def joins(d: String) = {
        val o = core.table(spark, d, "orders")
        (o.join(core.table(spark, d, "customer"), col("o_custkey") === col("c_custkey")).count(),
          core.table(spark, d, "lineitem").join(o, col("l_orderkey") === col("o_orderkey")).count())
      }
      val (oc, lo) = joins(sfDir)
      assert(oc > 0 && lo > 0)
      assert(joins(dir) == (2 * oc, 2 * lo))

      val before = filesWithMtimes(new File(dir))
      Thread.sleep(1100) // mtimes have 1 s resolution on some filesystems
      assert(Run.scaled(spark, sfDir, 2, root.getPath) == dir)
      assert(filesWithMtimes(new File(dir)) == before)
    } finally Verify.deleteRecursively(root)
  }

  test("explain: one query built twice in one session prints the same text") {
    def explained(): String = {
      val out = new java.io.ByteArrayOutputStream()
      Console.withOut(out)(Run.explain(spark, sfDir, Seq("q153_source_overlap")))
      out.toString("UTF-8")
    }
    val first = explained()
    assert(first.contains("RDD[1]") && first.contains("#1") && !first.contains("failed"))
    assert(explained() == first)
  }

  test("plans: the q05_zscore row is its PLANS.md line") {
    // the audit reads static plans: AQE off, on a session of its own
    val s = spark.newSession()
    s.conf.set("spark.sql.adaptive.enabled", "false")
    assert(Run.planRow("q05_zscore", SparkEntry.queries("q05_zscore")(s, sfDir)) ==
      "| q05_zscore | 2 | 1 | 1 | 0 | 0 | 0 | 4 |  |")
  }

  test("explain: numbered RDD names are renumbered like RDD[n]") {
    assert(Run.normalized("ZippedPartitionsRDD2[5176] MapPartitionsRDD[5180] RDD[5176]") ==
      "ZippedPartitionsRDD2[1] MapPartitionsRDD[2] RDD[1]")
  }

  test("time: runAll runs the joins count() prunes, and counts the same rows") {
    import org.apache.spark.sql.functions.{lit, max, udf}
    val touched = spark.sparkContext.longAccumulator("right side rows")
    val touch = udf { (x: Long) => touched.add(1L); x }
    val left = spark.range(10).toDF("id")
    val right = spark.range(10).select((col("id") % 3).as("k"), touch(col("id")).as("v"))
      .groupBy("k").agg(max("v").as("mv"))
    val joined = left.join(right, left("id") === right("k"), "left")
      .select(left("id"), right("mv"))
    assert(joined.count() == 10L)
    assert(touched.value == 0L, "count() is expected to prune the left join")
    assert(Run.runAll(joined) == 10L)
    assert(touched.value == 10L)
  }
}
