package graft.tools

import graft.SparkEntry
import java.io.File
import scala.collection.mutable
import scala.util.matching.Regex
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.execution.ExplainMode
import org.apache.spark.sql.functions.{col, count, lit}
import org.apache.spark.sql.types.{LongType, StructField}

/** Runs `SparkEntry` queries by name in one session from [[Session]]:
  *
  * {{{
  * runMain graft.tools.Run time <sfDir> <reps> [q...]    build + run each query, reps times
  * runMain graft.tools.Run explain <sfDir> [q...]        formatted physical plans, normalized
  * runMain graft.tools.Run plans <sfDir>                 write PLANS.md (static plan audit)
  * runMain graft.tools.Run windows <sfDir> [q...]        unpartitioned-window audit
  * runMain graft.tools.Run scale <sfDir> <n> <reps> [q...]  `time` on an n× copy of sfDir
  * }}}
  *
  * With no query names, a mode covers every query; `windows` then does a
  * static plan walk, and with names it executes them. */
object Run {
  private val usage =
    "usage: Run time <sfDir> <reps> [q...] | explain <sfDir> [q...] | plans <sfDir> | " +
      "windows <sfDir> [q...] | scale <sfDir> <n> <reps> [q...]"

  def main(args: Array[String]): Unit = {
    val mode = args.headOption.getOrElse("")
    val sfDir = args.lift(1).getOrElse("")
    val rest = args.drop(2).toSeq
    def int(i: Int): Int = rest.lift(i).flatMap(_.toIntOption).filter(_ >= 1)
      .getOrElse(fail(s"$mode: argument ${i + 3} must be a positive integer"))
    val (nums, names) = mode match {
      case "time" => (Seq(int(0)), rest.drop(1))
      case "scale" => (Seq(int(0), int(1)), rest.drop(2))
      case "explain" | "windows" => (Nil, rest)
      case "plans" if rest.isEmpty => (Nil, Nil)
      case _ => fail(s"unknown mode or arguments: ${args.mkString(" ")}")
    }
    if (sfDir.isEmpty) fail("missing <sfDir>")
    val unknown = names.filterNot(SparkEntry.queries.contains)
    if (unknown.nonEmpty) fail(s"unknown queries: ${unknown.mkString(" ")}")
    val all = if (names.nonEmpty) names else SparkEntry.queries.keys.toSeq.sorted
    val spark = Session()
    try mode match {
      case "time" => time(spark, sfDir, nums(0), all)
      case "scale" =>
        val dir = scaled(spark, sfDir, nums(0))
        println(s"[scale] $dir")
        time(spark, dir, nums(1), all)
      case "explain" => explain(spark, sfDir, all)
      case "plans" =>
        // static plans: AQE's uninstantiated stages hide codegen wrapping
        // (and would re-plan joins at runtime anyway) — audit the
        // compile-time plan
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        plans(spark, sfDir)
      case "windows" => windows(spark, sfDir, names)
    } finally spark.stop()
  }

  private def fail(msg: String): Nothing = {
    System.err.println(s"$msg\n$usage")
    sys.exit(2)
  }

  /** Warm-up, then per rep and query: build + [[runAll]], timed; the
    * cleanup between queries is untimed. Prints seconds, rows and the
    * persistent RDDs the query left behind. */
  def time(spark: SparkSession, sfDir: String, reps: Int, names: Seq[String]): Unit = {
    Session.warmUp(spark, sfDir)
    for (r <- 1 to reps; n <- names) {
      val t0 = System.nanoTime()
      val rows =
        try runAll(SparkEntry.queries(n)(spark, sfDir)).toString
        catch { case t: Throwable => s"FAILED ${t.getClass.getName}: ${t.getMessage}" }
      val s = (System.nanoTime() - t0) / 1e9
      val left = Session.cleanUp(spark)
      println(f"[time] $n%-28s #$r $s%7.3f s rows=$rows rdds=$left")
    }
  }

  /** Runs every operator of `df`'s plan, as writing its rows would, and
    * returns the row count. The rows go to the `noop` sink and the count
    * is an observed metric of the same job. `count()` is not used: the
    * optimizer drops from its plan every join the count does not need. */
  def runAll(df: DataFrame): Long = {
    val rows = Observation()
    df.observe(rows, count(lit(1)).as("n")).write.format("noop").mode("overwrite").save()
    rows.get("n").asInstanceOf[Long]
  }

  /** Per query: its formatted physical plan, [[normalized]] so two
    * builds of one query, in one session or on two commits, print the
    * same text. */
  def explain(spark: SparkSession, sfDir: String, names: Seq[String]): Unit =
    names.foreach { n =>
      println(s"\n===================== $n =====================")
      try println(normalized(SparkEntry.queries(n)(spark, sfDir).queryExecution
        .explainString(ExplainMode.fromString("formatted"))))
      catch { case e: Throwable => println(s"explain failed: ${e.getMessage}") }
    }

  /** `plan` with its session-global numbering taken out: expression ids
    * (`#n`), RDD ids (`RDD[n]`, also in names such as
    * `ZippedPartitionsRDD2[n]`), exchange plan ids (`plan_id=n`) and
    * lambda-variable suffixes (`lambda x_n`) renumbered in order of first
    * use; lambda class names, object hashes and source line numbers
    * dropped. */
  def normalized(plan: String): String = {
    def renumber(s: String, re: Regex): String = {
      val ids = mutable.HashMap.empty[String, Int]
      re.replaceAllIn(s, m => Regex.quoteReplacement(
        m.group(1) + ids.getOrElseUpdate(m.group(2), ids.size + 1)))
    }
    val dropped = Seq(
      """\$\$Lambda[^@\s]*@[0-9a-f]+""".r -> "\\$\\$Lambda",
      """(?<=[\w;$\[])@[0-9a-f]{1,8}\b""".r -> "@",
      """(\w\.scala):\d+""".r -> "$1")
      .foldLeft(plan) { case (s, (re, to)) => re.replaceAllIn(s, to) }
    Seq("""(#)(\d+)""".r, """(RDD\d*\[)(\d+)(?=\])""".r, """(plan_id=)(\d+)""".r,
      """(lambda \w+?_)(\d+)\b""".r).foldLeft(dropped)(renumber)
  }

  /** Plan-shape audit over every query, written to PLANS.md: one markdown
    * row per query with its exchange/join/codegen counts and scale flags.
    * Lets a reviewer scan all plans for nested-loop joins, cartesians and
    * shuffle counts without running anything, and makes plan regressions
    * diffable commit-over-commit.
    *
    * A BNLJ/cartesian flag is not automatically a bug — brute-force ANN
    * reference kernels and the interval join's wide-outlier residual use a
    * broadcast nested loop BY DESIGN (tiny broadcast side); the point is
    * that every such occurrence is visible and accounted for. */
  def plans(spark: SparkSession, sfDir: String): Unit = {
    val sb = new StringBuilder
    sb.append("# PLANS — physical-plan audit (generated by graft.tools.Run plans)\n\n")
    sb.append(s"Scale dir: `$sfDir`. Counts from `queryExecution.executedPlan`;\n")
    sb.append("`WSCG` = whole-stage-codegen spans. BNLJ/cartesian occurrences are\n")
    sb.append("intentional only where the broadcast side is model-sized (brute-force\n")
    sb.append("ANN reference kernels, interval-join wide-outlier residual) — anything\n")
    sb.append("else is a regression.\n\n")
    sb.append("| query | exch | bcast exch | BHJ | SMJ | BNLJ | cartesian | WSCG | flags |\n")
    sb.append("|---|---|---|---|---|---|---|---|---|\n")
    val rows = SparkEntry.queries.toSeq.sortBy(_._1)
      .map { case (name, fn) => planRow(name, fn(spark, sfDir)) }
    rows.foreach(r => sb.append(r).append('\n'))
    java.nio.file.Files.write(java.nio.file.Paths.get("PLANS.md"),
      sb.toString.getBytes("UTF-8"))
    val failures = rows.count(_.contains("PLAN FAILED"))
    println(s"[plan-audit] wrote PLANS.md (${rows.size} queries, $failures failures)")
  }

  /** One PLANS.md row: the counts over `df`'s executed plan, or a
    * PLAN FAILED row when building or planning it throws. */
  def planRow(name: String, df: => DataFrame): String =
    try {
      // string-count over the printed tree: AdaptiveSparkPlanExec is a
      // LeafExecNode, so tree traversal never descends into the actual
      // plan — toString prints it
      val s = df.queryExecution.executedPlan.toString
      def cnt(re: String): Int = re.r.findAllMatchIn(s).size
      val bex = cnt("BroadcastExchange")
      val ex = cnt("""Exchange (hash|range|Single)""")
      val bhj = cnt("BroadcastHashJoin")
      val smj = cnt("SortMergeJoin")
      val bnlj = cnt("BroadcastNestedLoopJoin")
      val cart = cnt("CartesianProduct")
      // toString marks codegen membership as `*(id) Node` — distinct
      // ids = number of whole-stage-codegen spans
      val wscg = """\*\((\d+)\)""".r.findAllMatchIn(s)
        .map(_.group(1)).toSet.size
      val flags = Seq(
        if (cart > 0) Some("CARTESIAN") else None,
        if (bnlj > 0) Some("bnlj") else None,
        if (ex > 6) Some("many-shuffles") else None).flatten.mkString(" ")
      s"| $name | $ex | $bex | $bhj | $smj | $bnlj | $cart | $wscg | $flags |"
    } catch {
      case e: Throwable =>
        s"| $name | — | — | — | — | — | — | — | PLAN FAILED: ${e.getClass.getSimpleName} |"
    }

  /** Unpartitioned-window audit ([[WindowAudit]]). With no names: classify
    * every query's unpartitioned WindowExec nodes by a static plan walk
    * (feed for the PlanShapeSpec whitelist). With names: execute them and
    * report the rows entering each such window (whitelist cap
    * calibration). */
  def windows(spark: SparkSession, sfDir: String, names: Seq[String]): Unit =
    if (names.nonEmpty) names.foreach { name =>
      val rs = WindowAudit.unpartitionedWindowInputRows(SparkEntry.queries(name)(spark, sfDir))
      println(s"$name\t${rs.map { case (f, r) => s"${f.kind}:$r" }.mkString(" ")}")
    }
    else SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      try {
        val fs = WindowAudit.unpartitionedWindows(fn(spark, sfDir))
        if (fs.nonEmpty) {
          val byKind = fs.groupBy(_.kind).view.mapValues(_.size).toMap
          val opens = fs.filter(_.kind == "open").map(_.detail).distinct
          println(s"$name\t$byKind\t${opens.mkString(" | ")}")
        }
      } catch {
        case t: Throwable => println(s"$name\tPLAN-ERROR\t${t.getMessage}")
      }
    }

  /** An n× copy of every table in `sfDir`, built once under
    * `root/<sf>-x<n>/` and marked with `_SUCCESS`; later calls reuse it.
    * Copy i adds i·10⁹ to every LongType column whose name ends in `_id`
    * or `key`, so rows and entities both scale, and the rule (by type and
    * name) keeps foreign keys consistent across tables: copy i of orders
    * joins only copy i of customer. Tables with no such column (region,
    * nation) are written once, unchanged. Tables are read through
    * `core.table`, so the copy holds the normalized columns queries see. */
  def scaled(spark: SparkSession, sfDir: String, n: Int,
      root: String = "/tmp/graft-scale"): String = {
    require(n >= 1, s"scale factor must be >= 1, got $n")
    val dir = new File(root, s"${new File(sfDir).getName}-x$n")
    val marker = new File(dir, "_SUCCESS")
    if (!marker.exists()) {
      val tables = Option(new File(sfDir).list()).getOrElse(Array.empty[String])
        .filter(_.endsWith(".parquet")).sorted
      require(tables.nonEmpty, s"no *.parquet tables in $sfDir")
      tables.foreach { file =>
        val base = graft.core.table(spark, sfDir, file.stripSuffix(".parquet"))
        val keys = base.schema.fields.collect {
          case StructField(c, LongType, _, _) if c.endsWith("_id") || c.endsWith("key") => c
        }
        val out = if (keys.isEmpty) base else (0 until n).map { i =>
          keys.foldLeft(base)((df, c) => df.withColumn(c, col(c) + lit(i * 1000000000L)))
        }.reduce(_ unionByName _)
        out.write.mode("overwrite").parquet(new File(dir, file).getPath)
      }
      marker.createNewFile(): Unit
    }
    dir.getPath
  }
}
