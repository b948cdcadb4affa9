package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** End-to-end batch pipeline: parse → enrich → route → aggregate
  * (SURVEY.md §3.2 Spark analog). parse/enrich/route are narrow
  * transformations fused by whole-stage codegen (broadcast joins are
  * narrow); the only shuffle is the salted aggregate partials.
  *
  * Every run is config-driven, like the reference's `service/builder`:
  * the coded defaults are just [[PipelineConfig.default]].
  */
final case class PipelineResult(
    routed: DataFrame,
    sinkCounts: DataFrame,
    convRollup: DataFrame)

object Pipeline {

  def defaultSession(master: String = "local[*]", appName: String = "graft"): SparkSession =
    SparkSession.builder()
      .master(master)
      .appName(appName)
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_SHUFFLE", "32"))
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()

  /** Pure transform (no writes) — shared by batch, streaming and service
    * runs: (sample) → parse → enrich → route.
    */
  def transform(turns: DataFrame, roleDim: DataFrame, toolDim: DataFrame,
                cfg: PipelineConfig = PipelineConfig.default): DataFrame = {
    val sampled =
      if (cfg.samplePct < 100.0) Sampler.sampleConversations(turns, cfg.samplePct)
      else turns
    val enriched = Enrich.enrich(Parse.parseGrok(sampled, cfg.grokPattern),
      roleDim, toolDim)
    Route.assign(enriched, cfg.sinkSpecs)
  }

  /** Full batch run with routed write + aggregates + lineage.
    * The routed frame is persisted once (cloningfanout analog) because
    * the partitioned write, the aggregate partials and the lineage all
    * read it.
    */
  def runBatch(spark: SparkSession, turns: DataFrame, outDir: String,
               cfg: PipelineConfig = PipelineConfig.default,
               obs: Option[ObsMetrics] = None,
               batchId: Long = 0L): PipelineResult = {
    val routed = transform(turns, TranscriptGen.roleDim(spark).toDF(),
      TranscriptGen.toolDim(spark).toDF(), cfg).persist()
    // partials is tiny (one row per (conv_id, salt, sink)) but feeds BOTH
    // final aggregates — persist it or the full-data salted shuffle over
    // routed runs twice (Spark does not reuse exchanges across queries).
    val partials = Aggregate.partials(routed).persist()
    try {
      Route.writePartitioned(routed, s"$outDir/routed")
      Aggregate.sinkCountsFromPartials(partials)
        .write.mode("overwrite").parquet(s"$outDir/sink_counts")
      Aggregate.convRollupFromPartials(partials)
        .write.mode("overwrite").parquet(s"$outDir/conv_rollup")
      Obs.writeLineage(routed, batchId, "route", outDir)
      obs.foreach { m =>
        // total routed rows from the (tiny) just-written counts table —
        // never a second full scan of routed (coalesce: sum over an empty
        // counts table is null)
        val n = spark.read.parquet(s"$outDir/sink_counts")
          .agg(coalesce(sum("n_turns"), lit(0L))).head().getLong(0)
        m.sent("route").add(n)
        m.accepted("parse").add(n)
      }
      PipelineResult(
        spark.read.parquet(s"$outDir/routed"),
        spark.read.parquet(s"$outDir/sink_counts"),
        spark.read.parquet(s"$outDir/conv_rollup"))
    } finally {
      partials.unpersist()
      routed.unpersist()
    }
  }
}
