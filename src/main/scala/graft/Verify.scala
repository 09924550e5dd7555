package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args.take(2)
    val only = args.drop(2).toSet // optional query-name filter
    val spark = tools.Session()
    // WARN, not the factory's ERROR: see the start marker below
    spark.sparkContext.setLogLevel("WARN")
    // Freshness guard (round-8): a FULL run wipes outDir first so a stale
    // parquet from an earlier build can never be hashed as current again
    // (the r7 driver gate hashed pre-fix outputs for 3 queries). Partial
    // runs (explicit query filter) only overwrite their own dirs.
    if (only.isEmpty) deleteRecursively(new java.io.File(outDir))
    new java.io.File(outDir).mkdirs()
    val failed = scala.collection.mutable.ListBuffer.empty[String]
    SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only(name) }
      .foreach { case (name, fn) =>
      // start marker interleaves with log4j warnings on stderr, so a
      // WARN (e.g. WindowExec single-partition) is attributable to the
      // query that triggered it when auditing a full run's log
      System.err.println(s"[verify] start $name")
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        failed += name
        // a failed overwrite may leave a partial/stale dir behind — remove
        // it so the gate reports "no spark output" instead of hashing junk
        deleteRecursively(new java.io.File(s"$outDir/$name"))
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // Manifest: git SHA + wall time + run shape, asserted by tools/check.py
    // so outputs from a different commit fail loudly instead of hashing red.
    val sha = gitSha()
    val manifest =
      s"""{"gitSha": ${q(sha)}, "wroteAt": ${q(java.time.Instant.now.toString)},
         | "fullRun": ${only.isEmpty}, "queries": ${SparkEntry.queries.size},
         | "failed": ${failed.sorted.map(q).mkString("[", ",", "]")}}""".stripMargin
    Files.writeString(Paths.get(s"$outDir/verify_manifest.json"), manifest)
    spark.stop()
    if (failed.nonEmpty)
      System.err.println(s"[verify] ${failed.size} queries failed: ${failed.mkString(", ")}")
  }

  private[graft] def deleteRecursively(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles).getOrElse(Array.empty).foreach(deleteRecursively)
    f.delete(): Unit
  }

  /** Best-effort HEAD SHA of the repo we were launched from. */
  private def gitSha(): String =
    try {
      val p = new ProcessBuilder("git", "rev-parse", "HEAD").redirectErrorStream(true).start()
      val out = new String(p.getInputStream.readAllBytes()).trim
      if (p.waitFor() == 0 && out.matches("[0-9a-f]{40}")) out else "unknown"
    } catch { case _: Throwable => "unknown" }
}
