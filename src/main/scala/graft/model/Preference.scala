package graft.model

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Pairwise-preference strength fitting — the Bradley–Terry model
  * (Bradley & Terry 1952) via Hunter's MM algorithm (Hunter, Annals of
  * Statistics 2004): P(i beats j) = πᵢ/(πᵢ+πⱼ). THE model behind
  * preference-data pipelines (RLHF comparison data, ranker evaluation,
  * match-outcome strength tables) — fits item strengths from nothing
  * but win/loss pairs.
  */
object Preference {

  /** Fit π by `rounds` parallel-MM updates on the pairwise-count
    * histogram: πᵢ ← Wᵢ / Σ_{j≠i} nᵢⱼ/(πᵢ+πⱼ), renormalized to Σπ = 1
    * each round. Items with no comparisons keep their prior strength.
    *
    * Engine shape — the coalition-histogram device: one aggregate of
    * the comparison stream to the ≤k² (winner, loser) count table
    * (collected; k ≤ 256 guard), driver MM over exact integer counts
    * with every strength 6dp-frozen per round — a finite float program
    * the oracle unrolls round by round. Item iteration, the per-item
    * denominator sum and the normalization sum all walk the SORTED
    * item list, so each float accumulation order is pinned.
    *
    * Output: (item, pi, wins, comparisons, rank) — rank 1 = strongest,
    * ties broken by item name.
    *
    * Scale: one map-side-combined hash aggregate over the comparisons;
    * everything after is k²-bounded driver work. */
  def bradleyTerry(comparisons: DataFrame, winnerCol: String,
      loserCol: String, rounds: Int = 5): DataFrame = {
    val spark = comparisons.sparkSession
    import spark.implicits._
    val counts = comparisons
      .where(col(winnerCol).isNotNull && col(loserCol).isNotNull)
      .groupBy(col(winnerCol).cast("string").as("_w"),
        col(loserCol).cast("string").as("_l"))
      .agg(count(lit(1)).as("_n"))
      .collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    val items = counts.keys.flatMap(p => Seq(p._1, p._2)).toSeq
      .distinct.sorted
    require(items.size <= 256, s"${items.size} items exceeds the guard")
    val k = items.size
    def wins(a: String, b: String): Long = counts.getOrElse((a, b), 0L)
    val w = items.map(i => items.map(j => wins(i, j)).sum)
    val nTot = Array.tabulate(k, k)((i, j) =>
      wins(items(i), items(j)) + wins(items(j), items(i)))
    def r6(x: Double): Double = graft.text.TextOps.round6(x)
    var p = Array.fill(k)(r6(1.0 / k))
    var round = 0
    while (round < rounds) {
      val raw = Array.tabulate(k) { i =>
        var denom = 0.0
        var j = 0
        while (j < k) {
          if (j != i && nTot(i)(j) > 0)
            denom += nTot(i)(j).toDouble / (p(i) + p(j))
          j += 1
        }
        if (denom > 0) w(i).toDouble / denom else p(i)
      }
      var s = 0.0
      raw.foreach(s += _)
      p = Array.tabulate(k)(i => r6(raw(i) / s))
      round += 1
    }
    val ranked = items.indices
      .sortBy(i => (-p(i), items(i)))
      .zipWithIndex.map { case (i, r) => (i, r + 1) }.toMap
    val rows = items.indices.map { i =>
      (items(i), p(i), w(i), nTot(i).sum, ranked(i))
    }
    spark.createDataset(rows)
      .toDF("item", "pi", "wins", "comparisons", "rank")
  }

  case class EloMatch(league: String, ord: Long, winner: String,
      loser: String)
  case class EloOut(league: String, ord: Long, winner: String,
      loser: String, rWinner: Double, rLoser: Double)

  /** Elo rating trajectory (Elo 1978) — the ONLINE face of
    * [[bradleyTerry]] (same logistic win model, sequential instead of
    * batch-MM): per league, matches replay in `ordCol` order and each
    * updates the two players, r_w += K·(1−E), r_l −= K·(1−E) with
    * E = 1/(1+10^((r_l−r_w)/400)). Emits the post-match ratings per
    * match — the trajectory IS the product (k-factor tuning, rating
    * inflation audits), and it is what a streaming twin can emit
    * append-only.
    *
    * Determinism: 10^x is computed as exp(x·ln 10) (the established
    * libm-parity pair — cross-engine pow is not pinned); the recursion
    * is pure sequential float ops, replayable in a recursive-CTE
    * oracle. Unrated players start at `init`.
    *
    * Scale: one shuffle on the league key; per-league state is the
    * item→rating map (item-vocabulary-sized). Leagues are the
    * parallelism unit — a single global ladder is inherently
    * sequential (same contract as every per-key kernel here). */
  def eloTrajectory(matches: Dataset[EloMatch], k: Double = 32.0,
      init: Double = 1000.0): Dataset[EloOut] = {
    val spark = matches.sparkSession
    import spark.implicits._
    matches.groupByKey(_.league).flatMapGroups { (_, it) =>
      var ratings = Map.empty[String, Double]
      it.toArray.sortBy(_.ord).iterator.map { m =>
        val (next, out) = eloStep(k, init)(ratings, m)
        ratings = next
        out
      }
    }
  }

  private val ln10 = math.log(10.0)

  /** One Elo match: (ratings, match) → (ratings, post-match row). The
    * streaming twin steps the same function over its stored ratings. */
  def eloStep(k: Double, init: Double)(r: Map[String, Double],
      m: EloMatch): (Map[String, Double], EloOut) = {
    val rw = r.getOrElse(m.winner, init)
    val rl = r.getOrElse(m.loser, init)
    val e = 1.0 / (1.0 + math.exp(((rl - rw) / 400.0) * ln10))
    val nw = rw + k * (1.0 - e)
    val nl = rl - k * (1.0 - e)
    (r.updated(m.winner, nw).updated(m.loser, nl),
      EloOut(m.league, m.ord, m.winner, m.loser, nw, nl))
  }
}
