package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Aggregate stage — per-sink turn counts + per-conversation rollups with
  * explicit skew handling (SURVEY.md §2.7; north rule "salted repartitioning
  * to defuse hot-conversation skew").
  *
  * One shape for every run: [[partials]] makes a single salted shuffle
  * keyed (conv_id, salt, sink); both final tables derive from that small
  * frame ([[sinkCountsFromPartials]], [[convRollupFromPartials]]). Every
  * partial is algebraic — count/sum/min/max and a one-hot `bit_or` tool
  * mask — so map-side partial aggregation collapses each task's rows to
  * its distinct keys before the shuffle, and the salt bounds any hot
  * conversation's share of a reduce task to 1/SALT. The salt is
  * DETERMINISTIC (xxhash64 of row keys, never rand()) so retries route
  * rows identically (SURVEY.md §7.4).
  *
  * Rollup contract: `n_tools_distinct` counts the distinct tools of the
  * tool dimension ([[TranscriptGen.toolNames]]) a conversation invoked.
  * A `tool_invoked` outside the dimension sets no bit — that covers any
  * unknown tool name and the `""` of a turn the grok pattern did not
  * match — so such turns count in `n_turns` but not as a tool.
  */
object Aggregate {

  val DefaultSalt = 16

  /** THE salt-by-layout rule, in one place: conv-clustered input
    * (a [[BucketedCorpus]] scan) aggregates shuffle-free, so there is no
    * shuffle skew to defuse and salting only multiplies the aggregate's
    * group cardinality (measured: ~1.7× extra scan from partials-cache
    * pressure, BASELINE.md round 2). Unclustered input shuffles → keep
    * the skew defense.
    */
  def saltFor(bucketed: Boolean): Int =
    if (bucketed) 1 else DefaultSalt

  /** Per-sink turn counts (batchprocessor-style counters, §2.5) straight
    * from a routed frame — the per-micro-batch streaming counts.
    */
  def sinkCounts(routed: DataFrame): DataFrame =
    routed.groupBy(col(Route.SinkCol)).agg(count(lit(1)).as("n_turns"))

  /** One-hot bit of a tool in the tool dimension, 0 outside it. `bit_or`
    * of these is a FIXED-WIDTH aggregate that stays in codegen'd
    * HashAggregate; `collect_set` would force ObjectHashAggregate with
    * per-group java sets, whose sort-based spill fallback collapses under
    * memory pressure (measured: 210 s vs 14 s on the same 20M-turn corpus).
    */
  def toolMask(toolInvoked: Column): Column = {
    val vocab = TranscriptGen.toolNames
    // shiftleft wraps mod 64 — a larger vocab would silently alias bits
    require(vocab.size <= 64, s"toolMask vocab too large (${vocab.size} > 64)")
    val pos = array_position(typedLit(vocab), toolInvoked)
    when(pos > 0, call_function("shiftleft", lit(1L), (pos - 1).cast("int")))
      .otherwise(lit(0L))
  }

  /** The one aggregate shuffle: per (conv_id, salt, sink) turn and error
    * counts, first/last ts, latency sum and tool mask.
    */
  def partials(routed: DataFrame, salt: Int = DefaultSalt): DataFrame =
    routed
      .withColumn("_salt",
        pmod(xxhash64(col("conv_id"), col("turn_idx")), lit(salt.toLong)))
      .groupBy(col("conv_id"), col("_salt"), col(Route.SinkCol))
      .agg(
        count(lit(1)).as("p_turns"),
        sum(when(col("err_code").isNotNull, 1L).otherwise(0L)).as("p_errors"),
        min(col("ts")).as("p_first"),
        max(col("ts")).as("p_last"),
        sum(col("latency_ms")).as("p_lat"),
        bit_or(toolMask(col("tool_invoked"))).as("p_toolmask"))

  /** Per-sink counts from [[partials]] — tiny final aggregation. */
  def sinkCountsFromPartials(partials: DataFrame): DataFrame =
    partials.groupBy(col(Route.SinkCol)).agg(sum(col("p_turns")).as("n_turns"))

  /** Per-conversation rollup from [[partials]] — tiny final aggregation.
    * Output: (conv_id, n_turns, n_errors, n_tools_distinct, first_ts,
    * last_ts, sum_latency_ms).
    */
  def convRollupFromPartials(partials: DataFrame): DataFrame =
    partials
      .groupBy(col("conv_id"))
      .agg(
        sum(col("p_turns")).as("n_turns"),
        sum(col("p_errors")).as("n_errors"),
        bit_count(bit_or(col("p_toolmask"))).cast("int").as("n_tools_distinct"),
        min(col("p_first")).as("first_ts"),
        max(col("p_last")).as("last_ts"),
        sum(col("p_lat")).as("sum_latency_ms"))

  /** Unsalted single-phase rollup — correctness oracle for the salted plan
    * (results must be identical on in-dimension tools; asserted in
    * AggregateSpec).
    */
  def convRollupUnsalted(parsed: DataFrame): DataFrame =
    parsed.groupBy(col("conv_id")).agg(
      count(lit(1)).as("n_turns"),
      sum(when(col("err_code").isNotNull, 1L).otherwise(0L)).as("n_errors"),
      count_distinct(when(col("tool_invoked") =!= "none", col("tool_invoked"))).cast("int").as("n_tools_distinct"),
      min(col("ts")).as("first_ts"),
      max(col("ts")).as("last_ts"),
      sum(col("latency_ms")).as("sum_latency_ms"))
}
