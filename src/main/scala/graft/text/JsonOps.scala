package graft.text

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{MapType, StringType}

/** Schema-on-read profiling of a JSON string column — the first look a
  * pipeline takes at semi-structured sidecar data (event properties,
  * crawl metadata, tool logs) before deciding extraction schemas: which
  * paths exist, how often, with what value types and cardinalities.
  * Engine addition: the reference has no JSON analysis.
  *
  * Mechanics: `from_json(c, map<string,string>)` parses one object level
  * per pass (Spark's Jackson path — nested objects surface as their
  * minified JSON text, which DuckDB's `json_extract_string` reproduces
  * byte-for-byte, so value strings hash-compare across engines); object-
  * valued entries are re-parsed for each extra depth level, paths
  * dot-joined. Each level is one explode + the final hash aggregate —
  * no UDF, no driver structure, path-cardinality-sized output.
  *
  * Value types are classified from the extracted LEXICAL form (integer /
  * number / boolean / object / array / string by regex, identically in
  * both engines). The known limit — a JSON string `"123"` classifies as
  * integer — is inherent to the string-extraction route and documented;
  * a production variant swaps in a typed JSON parser `Expression`. */
object JsonOps {

  /** Per-path profile: occurrences, distinct values, per-type counts,
    * lexicographically smallest value (a stable example). `maxDepth`
    * levels of object nesting are walked (fixed small constant — each
    * level is one more explode over the rows that ARE objects). */
  def jsonProfile(df: DataFrame, jsonCol: String, maxDepth: Int = 2): DataFrame = {
    require(maxDepth >= 1 && maxDepth <= 4, s"maxDepth $maxDepth out of 1..4")
    val parsed = from_json(col(jsonCol), MapType(StringType, StringType))
    // materialize depth-1 once: it feeds BOTH the union output and every
    // deeper level's re-parse — lazily it was Jackson-parsed per branch
    var level = graft.core.materialize(df.where(col(jsonCol).isNotNull)
      .select(explode(parsed).as(Seq("path", "v"))))
    var all = level
    (2 to maxDepth).foreach { _ =>
      level = level.where(col("v").startsWith("{"))
        .select(col("path").as("parent"),
          explode(from_json(col("v"), MapType(StringType, StringType)))
            .as(Seq("k", "v")))
        .select(concat(col("parent"), lit("."), col("k")).as("path"), col("v"))
      all = all.unionByName(level)
    }
    val t = typeOf(col("v"))
    all.groupBy("path").agg(
      count(lit(1)).as("n"),
      countDistinct("v").as("n_distinct"),
      sum(when(t === "integer", 1L).otherwise(0L)).as("n_int"),
      sum(when(t === "number", 1L).otherwise(0L)).as("n_num"),
      sum(when(t === "boolean", 1L).otherwise(0L)).as("n_bool"),
      sum(when(t === "object", 1L).otherwise(0L)).as("n_obj"),
      sum(when(t === "array", 1L).otherwise(0L)).as("n_arr"),
      sum(when(t === "string", 1L).otherwise(0L)).as("n_str"),
      min("v").as("min_v"))
  }

  private def typeOf(v: org.apache.spark.sql.Column) =
    when(v.isNull, "null")
      .when(v.startsWith("{"), "object")
      .when(v.startsWith("["), "array")
      .when(v === "true" || v === "false", "boolean")
      .when(v.rlike("^-?[0-9]+$"), "integer")
      .when(v.rlike("^-?[0-9]+\\.[0-9]+([eE][+-]?[0-9]+)?$"), "number")
      .otherwise("string")
}
