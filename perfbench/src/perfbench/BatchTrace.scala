package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Aggregate, Bench, Enrich, Obs, Parse, Pipeline, Route, TranscriptGen}

/** Traced run of `batch_agent_logs`: per-layer metrics.
  *
  * The transcript layers are timed as a prefix ladder, scan → +parse →
  * +enrich → +route → +aggregate, each prefix forced through an all-columns
  * hash (a `count()` would let Catalyst prune the work); a layer's self time
  * is the difference of consecutive prefix medians. Export (the routed write
  * and the two aggregate tables) and lineage are timed as calls on a
  * persisted routed frame. One traced `runBatch` gives the job/action counts
  * and the unattributed time. The run also drives the streaming layer
  * ([[StreamSegment]]), times the legacy `Bench.pipelineRunFrom`, and repeats
  * the ladder at `local[1]` for the scaling efficiency.
  */
object BatchTrace {

  val Reps = 2
  val Layers = Seq("scan", "parse", "enrich", "route", "aggregate")

  def force(df: DataFrame): Unit = {
    df.select(xxhash64(df.columns.map(col): _*).as("h")).agg(bit_xor(col("h"))).head()
    ()
  }

  /** Each ladder prefix as a frame, in layer order. */
  def prefixes(spark: SparkSession, in: DataFrame): Seq[(String, DataFrame)] = {
    val parsed = Parse.parseGrok(in)
    val enriched = Enrich.enrich(parsed, TranscriptGen.roleDim(spark).toDF(),
      TranscriptGen.toolDim(spark).toDF())
    val routed = Route.assign(enriched, Route.defaultSinks)
    Seq("scan" -> in, "parse" -> parsed, "enrich" -> enriched, "route" -> routed,
      "aggregate" -> Aggregate.convRollupFromPartials(Aggregate.partials(routed)))
  }

  /** Median seconds of each prefix over `reps` rounds. */
  def ladder(spark: SparkSession, in: DataFrame, reps: Int,
             timed: (String, => Unit) => Double): Map[String, Double] = {
    val ps = prefixes(spark, in)
    val samples = (1 to reps).flatMap(_ => ps.map { case (n, df) => n -> timed(n, force(df)) })
    samples.groupBy(_._1).map { case (n, xs) => n -> Stats.median(xs.map(_._2)) }
  }

  def selfTimes(prefix: Map[String, Double]): Map[String, Double] =
    Layers.zipWithIndex.map { case (l, i) =>
      l -> (if (i == 0) prefix(l) else prefix(l) - prefix(Layers(i - 1)))
    }.toMap

  def run(ctx: Ctx): Result = {
    val spark = ctx.spark
    val res = new Result
    val lr = new LayerReport(res)
    val in = BatchAgentLogs.input(ctx)
    val out = s"${ctx.work}/out/batch-trace"

    res.attempted += 1
    Pipeline.runBatch(spark, in, s"$out/untraced") // warm-in

    val t = new Tracer(spark)
    val prefixS = ladder(spark, in, Reps, (n, f) => t.span(n)(f)._1.seconds)
    val self = selfTimes(prefixS)
    Layers.foreach(l => lr.put(s"$l.self_s", self(l), "s"))
    lr.common("scan.self_s", self("scan"), "s")
    val scan = t.spansNamed("scan").last.c
    lr.common("scan.input_bytes", scan.scanFileBytes.toDouble, "bytes")
    lr.common("scan.rows", scan.inputRows.toDouble, "count")

    lr.put("enrich.broadcast_bytes", t.spansNamed("enrich").last.c.broadcastBytes.toDouble, "bytes")
    val agg = t.spansNamed("aggregate").last.c
    lr.put("aggregate.shuffle_write_bytes", agg.shuffleWriteBytes.toDouble, "bytes")
    lr.put("aggregate.task_skew", agg.reduceSkew, "ratio")
    lr.put("aggregate.spill_bytes", agg.spillBytes.toDouble, "bytes")

    // row statistics, then export and lineage as calls, on a persisted routed frame
    val routed = Pipeline.transform(in, TranscriptGen.roleDim(spark).toDF(),
      TranscriptGen.toolDim(spark).toDF()).persist()
    val partials = Aggregate.partials(routed).persist()
    val exportDir = s"$out/export"
    try {
      val sinks = routed.groupBy("sink")
        .agg(count(lit(1)), sum(when(col("status") =!= "", 1L).otherwise(0L))).collect()
      sinks.sortBy(_.getString(0)).foreach { r =>
        lr.put(s"route.rows.${r.getString(0)}", r.getLong(1).toDouble, "count")
      }
      lr.put("parse.grok_hit_ratio", sinks.map(_.getLong(2)).sum.toDouble / ctx.corpusRows, "ratio")
      val partialRows = partials.count()
      lr.put("aggregate.partial_rows", partialRows.toDouble, "count")
      lr.put("aggregate.combine_ratio", partialRows.toDouble / ctx.corpusRows, "ratio")
      val hottest = routed.groupBy("conv_id").count().agg(max("count")).head().getLong(0)
      val evenShare = ctx.corpusRows.toDouble / spark.conf.get("spark.sql.shuffle.partitions").toInt
      lr.put("aggregate.hot_key_over_even_share", hottest / evenShare, "ratio")

      t.span("export") {
        Route.writePartitioned(routed, s"$exportDir/routed")
        Aggregate.sinkCountsFromPartials(partials).write.mode("overwrite")
          .parquet(s"$exportDir/sink_counts")
        Aggregate.convRollupFromPartials(partials).write.mode("overwrite")
          .parquet(s"$exportDir/conv_rollup")
      }
      for (_ <- 1 to Reps) t.span("obs")(Obs.writeLineage(routed, 0L, "route", exportDir))
    } finally { partials.unpersist(); routed.unpersist() }
    CommonLayers.export(lr, t, "export", Seq(exportDir + "/routed", exportDir + "/sink_counts",
      exportDir + "/conv_rollup"))
    val lineageS = CommonLayers.medianSeconds(t, "obs")
    lr.put("obs.lineage_s", lineageS, "s")
    lr.put("obs.lineage_partitions",
      spark.read.parquet(s"$exportDir/_lineage").count().toDouble, "count")

    // one production batch untraced, then one traced
    res.attempted += 2
    t.pause()
    val (untracedS, _) = Stats.time(Pipeline.runBatch(spark, in, s"$out/traced"))
    t.resume()
    val (_, gcS, heapMb) = Jvm.during(t.span("runBatch")(Pipeline.runBatch(spark, in, s"$out/traced")))
    val exportS = CommonLayers.medianSeconds(t, "export")
    val attributed = self.values.sum + exportS + lineageS
    CommonLayers.operation(lr, t, "runBatch", untracedS, attributed, gcS, heapMb)
    CommonLayers.shares(lr, CommonLayers.medianSeconds(t, "runBatch"),
      Layers.map(l => l -> self(l)) ++ Seq("export" -> exportS, "obs" -> lineageS))
    if (!BatchAgentLogs.verify(ctx, s"$out/traced", res)) res.failed += 1

    val (legacyS, legacyTurns) = t.span("legacy")(Bench.pipelineRunFrom(spark, in))._2
    lr.put("legacy.pipeline_e2e_s", legacyS, "s")
    res.report += s"legacy pipeline_e2e: $legacyS s for $legacyTurns turns, " +
      s"traced runBatch ${CommonLayers.medianSeconds(t, "runBatch")} s, untraced runBatch $untracedS s"

    StreamSegment.run(ctx, t, lr, res)
    t.pause()
    t.write(s"${ctx.work}/trace/${BatchAgentLogs.name}-${ctx.seed}.jsonl")

    // single-core baseline: the same ladder at local[1]
    spark.stop()
    val one = Main.session("local[1]")
    try {
      val prefix1 = ladder(one, BatchAgentLogs.input(new Ctx(one, ctx.seed, ctx.seconds, ctx.data, ctx.work)),
        1, (_, f) => Stats.time(f)._1)
      val self1 = selfTimes(prefix1)
      val n = Main.cores.toDouble
      Layers.foreach(l => lr.put(s"$l.eff_1toN", self1(l) / (n * self(l)), "ratio"))
      lr.put("batch.eff_1toN", prefix1("aggregate") / (n * prefixS("aggregate")), "ratio")
      res.report += s"scaling: local[1] vs local[${Main.cores}] over the ladder (reported, not gated)"
    } finally one.stop()

    lr.flush()
    res
  }
}
