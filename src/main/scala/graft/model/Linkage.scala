package graft.model

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Probabilistic record linkage — the Fellegi–Sunter model (Fellegi &
  * Sunter, JASA 1969) with Winkler's EM parameter estimation (Winkler
  * 1988): the canonical entity-resolution scorer, and the principled
  * upgrade to threshold-only dedup — candidate pairs get a
  * log-likelihood-ratio match weight from their field-agreement
  * pattern, learned unsupervised.
  *
  * Engine shape: the EM never touches the pair table after one hash
  * aggregate — with f binary agreement fields there are ≤ 2^f distinct
  * patterns, so E/M steps run on the PATTERN HISTOGRAM (collected,
  * model-sized), exactly like the reference's fit-then-broadcast-score
  * family. The scored output is one broadcast join of 2^f weights back
  * onto the pairs.
  */
object Linkage {

  /** EM over the agreement-pattern histogram, then weight + decision
    * per pair: w(π) = Σᵢ ln(mᵢ/uᵢ) over agreeing fields + Σᵢ
    * ln((1−mᵢ)/(1−uᵢ)) over disagreeing ones; decision = match /
    * possible / nonmatch at (tUpper, tLower).
    *
    * Determinism (the oracle replays every step): the pattern histogram
    * is exact integers; each E-step responsibility g(π) multiplies
    * p·Πmᵢ-terms in field order; per-round sums quantize each pattern's
    * contribution to 9dp fixed-point longs (order-free across
    * patterns); every updated parameter is 6dp-frozen, then clamped to
    * [1e-6, 1−1e-6] before the next round — so three rounds of EM are
    * a finite, bit-replayable float program. Init: p=0.1, mᵢ=0.9,
    * uᵢ=0.1 (Winkler's standard start).
    *
    * Output: every `pairs` column + weight + decision.
    *
    * Scale: one map-side-combined aggregate over the pairs (2^f rows
    * out), a driver EM over that histogram, one broadcast join back.
    * The pair table itself must come from a BLOCKED generator (LSH
    * bands, sort-neighborhood keys) — never all-pairs; this operator
    * adds no shuffle beyond the pattern aggregate. */
  def fellegiSunterEm(pairs: DataFrame, agreeCols: Seq[String],
      rounds: Int = 3, tUpper: Double = 2.0, tLower: Double = -2.0):
      DataFrame = {
    require(agreeCols.nonEmpty && agreeCols.size <= 16,
      "1..16 binary agreement fields")
    val f = agreeCols.size
    def r6(x: Double): Double = graft.text.TextOps.round6(x)
    def clamp(x: Double): Double = math.min(math.max(x, 1e-6), 1.0 - 1e-6)
    def fp9(x: Double): Long = graft.core.fixedPoint(x, 9).toLong

    val hist = pairs
      .groupBy(agreeCols.map(c => col(c).cast("boolean").as(c)): _*)
      .agg(count(lit(1)).as("_n"))
      .collect()
      .map(r => (Array.tabulate(f)(i => r.getBoolean(i)), r.getLong(f)))
    val nTot = hist.map(_._2).sum
    if (nTot == 0L) {
      // Empty pair table: skip the EM (0/0 would seed NaN parameters)
      // and return the empty frame with the output schema attached.
      return pairs
        .withColumn("weight", lit(null).cast("double"))
        .withColumn("decision", lit(null).cast("string"))
    }

    var p = 0.1
    var m = Array.fill(f)(0.9)
    var u = Array.fill(f)(0.1)
    var round = 0
    while (round < rounds) {
      var s9 = 0L // Σ n·g, 9dp
      var sU9 = 0L // Σ n·(1−g), 9dp
      val sm9 = new Array[Long](f) // Σ n·g over agreeing patterns
      val su9 = new Array[Long](f)
      hist.foreach { case (pat, n) =>
        var pm = p
        var pu = 1.0 - p
        var i = 0
        while (i < f) {
          pm *= (if (pat(i)) m(i) else 1.0 - m(i))
          pu *= (if (pat(i)) u(i) else 1.0 - u(i))
          i += 1
        }
        val g = pm / (pm + pu)
        s9 += fp9(n.toDouble * g)
        sU9 += fp9(n.toDouble * (1.0 - g))
        i = 0
        while (i < f) {
          if (pat(i)) {
            sm9(i) += fp9(n.toDouble * g)
            su9(i) += fp9(n.toDouble * (1.0 - g))
          }
          i += 1
        }
      }
      p = clamp(r6(s9.toDouble / 1e9 / nTot.toDouble))
      m = Array.tabulate(f)(i =>
        clamp(r6(sm9(i).toDouble / s9.toDouble)))
      u = Array.tabulate(f)(i =>
        clamp(r6(su9(i).toDouble / sU9.toDouble)))
      round += 1
    }

    val weight: Column = agreeCols.zipWithIndex.map { case (c, i) =>
      when(col(c).cast("boolean"), lit(math.log(m(i) / u(i))))
        .otherwise(lit(math.log((1.0 - m(i)) / (1.0 - u(i)))))
    }.reduce(_ + _)
    pairs
      .withColumn("weight", weight)
      .withColumn("decision",
        when(col("weight") >= tUpper, lit("match"))
          .when(col("weight") <= tLower, lit("nonmatch"))
          .otherwise(lit("possible")))
  }
}
