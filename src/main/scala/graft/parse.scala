package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Parse stage — the attributesprocessor `extract` action (SURVEY.md §2.3,
  * ref `internal/processor/attraction/attraction.go: extractAttributes`):
  * regex named-capture groups over the text column become typed fields,
  * in one pass with the custom [[graft.expr.GrokExtract]] Catalyst
  * expression (whole-stage codegen, no UDFs).
  */
object Parse {

  /** `latency=<n>ms` as a long, null when absent. */
  def latencyMs(text: Column): Column =
    // regexp_extract returns "" on miss; nullif before cast avoids NumberFormatException under ANSI
    nullif(regexp_extract(text, "latency=([0-9]+)ms", 1), lit("")).cast("long")

  /** One-pass parse into the ParsedTurn contract. The pattern must name
    * `tool_invoked`, `status` and `latency_ms` groups; a text the pattern
    * does not match gets `tool_invoked = ""`, `status = ""`,
    * `latency_ms = -1`.
    */
  def parseGrok(turns: DataFrame,
                pattern: String = PipelineConfig.default.grokPattern): DataFrame =
    turns
      .withColumn("_g", graft.expr.GrokExtract.grok_extract(col("text"), pattern))
      .withColumn("tool_invoked", coalesce(col("_g.tool_invoked"), lit("")))
      .withColumn("status", coalesce(col("_g.status"), lit("")))
      .withColumn("err_code",
        when(col("_g.status").rlike("^E[0-9]{3}$"), col("_g.status")))
      .withColumn("latency_ms",
        coalesce(col("_g.latency_ms").cast("long"), lit(-1L)))
      .drop("_g")
}
