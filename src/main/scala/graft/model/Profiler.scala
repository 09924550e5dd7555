package graft.model

import graft.core.fixedPointLong
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Data-quality profiling and constraint checking (engine additions, the
  * Deequ/great-expectations idea Spark-first): one pass per column for
  * the profile, one aggregate per rule for the checks — the pre-flight
  * every ingest pipeline runs before fitting models on a new drop.
  *
  * Determinism: counts are exact integers; numeric min/max surface as
  * doubles, lexicographic min/max as strings (binary collation both
  * engines); rates are one integer division, same shape both sides.
  *
  * Scale: `profile` is one hash aggregate per column over the data (no
  * shuffle beyond the partial-agg combine — exact distinct via a
  * count-distinct expand, the only exchange); `checkRows` is a single
  * pass computing every rule's failure count in ONE aggregate;
  * `checkUnique` is one distinct count. Output is rule-sized. */
object Profiler {

  /** Per-column profile: rows, nulls, exact distinct, numeric min/max
    * (null for non-numeric), lexicographic min/max (strings only). One
    * output row per requested column. */
  def profile(df: DataFrame, cols: Seq[String]): DataFrame = {
    val types = df.schema.fields.map(f => f.name -> f.dataType).toMap
    val per = cols.map { c =>
      val numeric = types(c) match {
        case _: NumericType => true
        case _ => false
      }
      val isString = types(c) == StringType
      df.agg(
        count(lit(1)).as("n"),
        sum(when(col(c).isNull, 1L).otherwise(0L)).as("nulls"),
        countDistinct(col(c)).as("n_distinct"),
        (if (numeric) min(col(c)).cast("double") else lit(null).cast("double"))
          .as("min_v"),
        (if (numeric) max(col(c)).cast("double") else lit(null).cast("double"))
          .as("max_v"),
        (if (isString) min(col(c)) else lit(null).cast("string")).as("min_s"),
        (if (isString) max(col(c)) else lit(null).cast("string")).as("max_s"))
        .withColumn("column", lit(c))
        .select("column", "n", "nulls", "n_distinct", "min_v", "max_v",
          "min_s", "max_s")
    }
    per.reduce(_ unionByName _)
  }

  /** Row-predicate constraint battery: each rule is (name, boolean
    * expression); emits per rule the row count, failure count (false or
    * null predicate = failure), pass rate and the verdict against
    * `minRate`. All rules share ONE aggregate pass. */
  def checkRows(df: DataFrame, rules: Seq[(String, Column)],
      minRate: Double): DataFrame = {
    val aggs = rules.zipWithIndex.map { case ((_, pred), i) =>
      sum(when(coalesce(pred, lit(false)), 0L).otherwise(1L)).as(s"_f$i")
    }
    val counted = df.agg(count(lit(1)).as("n"), aggs: _*)
    val rows = rules.zipWithIndex.map { case ((name, _), i) =>
      counted.select(lit(name).as("rule"), col("n"),
        col(s"_f$i").as("failures"))
    }
    rows.reduce(_ unionByName _)
      .withColumn("pass_rate",
        (col("n") - col("failures")).cast("double") / col("n"))
      .withColumn("passed", col("pass_rate") >= minRate)
  }

  /** Uniqueness constraint over a key tuple: failures = rows in excess of
    * distinct tuples (tuples with any null are excluded by the
    * count-distinct convention on both engines — pair with a not-null
    * row rule for a full key check). One row out. */
  def checkUnique(df: DataFrame, cols: Seq[String]): DataFrame =
    df.agg(count(lit(1)).as("n"),
        countDistinct(cols.map(col).head, cols.map(col).tail: _*)
          .as("n_distinct"))
      .select(
        lit("unique:" + cols.mkString(",")).as("rule"),
        col("n"),
        (col("n") - col("n_distinct")).as("failures"),
        (col("n_distinct").cast("double") / col("n")).as("pass_rate"),
        (col("n") === col("n_distinct")).as("passed"))

  /** k-anonymity / l-diversity audit (Sweeney 2002; Machanavajjhala
    * et al. 2007) over quasi-identifier columns: every QI combination's
    * group size (k-anonymity = min group size) and its count of
    * distinct sensitive values (l-diversity = min distinct). One row:
    * groups, min_k, risky_groups, risky_rows, min_l, low_div_groups —
    * the re-identification screen a dataset needs BEFORE release; the
    * PII redactor says what to mask, this says whether the masked
    * release still isolates individuals. All counts exact.
    *
    * Scale: one hash aggregate on the QI key (sensitive distinct via
    * the same aggregate), one k-row reduction. */
  def kAnonymity(df: DataFrame, quasiCols: Seq[String],
      sensitiveCol: String, k: Int = 5, l: Int = 2): DataFrame = {
    require(quasiCols.nonEmpty && k >= 2 && l >= 1,
      s"need quasi cols, k >= 2, l >= 1: $quasiCols, $k, $l")
    val g = df.groupBy(quasiCols.map(col): _*)
      .agg(count(lit(1)).as("_n"),
        countDistinct(col(sensitiveCol)).as("_l"))
    g.agg(count(lit(1)).as("groups"),
      min(col("_n")).as("min_k"),
      sum(when(col("_n") < k, 1L).otherwise(0L)).as("risky_groups"),
      sum(when(col("_n") < k, col("_n")).otherwise(0L)).as("risky_rows"),
      min(col("_l")).as("min_l"),
      sum(when(col("_l") < l, 1L).otherwise(0L)).as("low_div_groups"))
  }

  /** Per-QI-group l-diversity: the distinct-sensitive count AND the
    * entropy form exp(−Σ p ln p) — the k-anonymity screen's per-group
    * detail view (a group can pass distinct-l yet be 99% one value;
    * entropy-l catches that). Sensitive-value terms quantize at 6dp
    * before the group fold. One row per QI group: quasiCols…, n,
    * l_distinct, l_entropy. */
  def lDiversity(df: DataFrame, quasiCols: Seq[String],
      sensitiveCol: String): DataFrame = {
    val c = df.groupBy((quasiCols.map(col) :+
        col(sensitiveCol).as("_sv")): _*)
      .agg(count(lit(1)).as("_c"))
    val g = c.groupBy(quasiCols.map(col): _*)
      .agg(sum(col("_c")).as("n"), count(lit(1)).as("l_distinct"))
    val withN = c.join(g.select((quasiCols.map(col) :+ col("n")): _*),
      quasiCols)
    val ent = withN
      .withColumn("_t", fixedPointLong((col("_c").cast("double") /
        col("n").cast("double")) *
        log(col("_c").cast("double") / col("n").cast("double")), 6))
      .groupBy(quasiCols.map(col): _*)
      .agg(sum(col("_t")).as("_efp"))
    g.join(ent, quasiCols)
      .select(quasiCols.map(col) ++ Seq(col("n"), col("l_distinct"),
        exp(-(col("_efp").cast("double") / 1e6)).as("l_entropy")): _*)
  }

  /** Per-QI-group t-closeness over an ORDERED sensitive attribute:
    * the 1-D earth-mover distance between the group's distribution and
    * the global one, t = Σ_i |cumP_i − cumQ_i| / (m−1) with the cum
    * diffs carried as the exact integers c_cum·N − g_cum·n. One row
    * per QI group: quasiCols…, n, t_emd. */
  def tCloseness(df: DataFrame, quasiCols: Seq[String],
      sensitiveCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val base = df.select((quasiCols.map(col) :+
      col(sensitiveCol).cast("long").as("_sv")): _*)
      .where(col("_sv").isNotNull)
    val glob = base.groupBy(col("_sv")).agg(count(lit(1)).as("_g"))
    val grp = base.groupBy((quasiCols.map(col) :+ col("_sv")): _*)
      .agg(count(lit(1)).as("_c"))
    val keys = grp.select(quasiCols.map(col): _*).distinct()
    // dense (group × ordered sensitive value) frame with zero fill
    val full = glob.crossJoin(keys)
      .join(grp, quasiCols :+ "_sv", "left")
      .withColumn("_c", coalesce(col("_c"), lit(0L)))
    val w = Window.partitionBy(quasiCols.map(col): _*)
      .orderBy(col("_sv").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val gw = Window.orderBy(col("_sv").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val gcum = glob
      .withColumn("_gc", sum(col("_g")).over(gw))
      .crossJoin(broadcast(glob.agg(sum(col("_g")).as("_nt"),
        count(lit(1)).as("_m"))))
    val cum = full.join(gcum.select(col("_sv"), col("_gc"), col("_nt"),
        col("_m")), "_sv")
      .withColumn("_cc", sum(col("_c")).over(w))
      .withColumn("_ng", sum(col("_c")).over(
        Window.partitionBy(quasiCols.map(col): _*)
          .rowsBetween(Window.unboundedPreceding,
            Window.unboundedFollowing)))
      // exact integer |cumP·scale − cumQ·scale|: c_cum·N − g_cum·n
      .withColumn("_d",
        abs(col("_cc") * col("_nt") - col("_gc") * col("_ng"))
          .cast("decimal(38,0)"))
    cum.groupBy(quasiCols.map(col): _*)
      .agg(max(col("_ng")).as("n"), sum(col("_d")).as("_sd"),
        max(col("_nt")).as("_nt2"), max(col("_m")).as("_m2"))
      .select(quasiCols.map(col) ++ Seq(col("n"),
        (col("_sd").cast("double") /
          (col("n").cast("double") * col("_nt2").cast("double") *
            (col("_m2") - 1).cast("double"))).as("t_emd")): _*)
  }
}
