package graft

/** One oracle, one algorithm: each batch kernel and its streaming twin
  * (batch-executed) are gated by the same oracle SQL, and on the same
  * fixture they return the same rows. */
class TwinSpec extends SparkSpec {

  private val twins = Seq(
    "q196_holt_forecast" -> "q197_holt_stream",
    "q405_theta" -> "q432_theta_stream",
    "q407_croston" -> "q431_croston_stream",
    "q322_kalman" -> "q334_kalman_stream",
    "q328_ewma_chart" -> "q335_ewma_stream",
    "q493_adwin" -> "q495_adwin_stream",
    "q503_elo" -> "q504_elo_stream")

  twins.foreach { case (batch, stream) =>
    test(s"$batch and $stream: one oracle, the same rows") {
      assert(SparkEntry.oracleSql(batch) == SparkEntry.oracleSql(stream))
      def rows(q: String) = {
        val df = SparkEntry.queries(q)(spark, sfDir)
        (df.columns.toSeq, df.collect().map(_.toSeq.mkString("|")).sorted.toSeq)
      }
      val (bCols, bRows) = rows(batch)
      val (sCols, sRows) = rows(stream)
      assert(bCols == sCols)
      assert(bRows.nonEmpty)
      assert(bRows == sRows)
    }
  }
}
