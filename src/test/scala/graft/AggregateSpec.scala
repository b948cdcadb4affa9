package graft

import org.apache.spark.sql.functions._

class AggregateSpec extends SparkTestBase {

  private def rollup(parsed: org.apache.spark.sql.DataFrame, salt: Int = Aggregate.DefaultSalt) =
    Aggregate.convRollupFromPartials(
      Aggregate.partials(Route.assign(parsed, Route.defaultSinks), salt))

  test("salted rollup ≡ unsalted rollup on skewed corpus") {
    val turns = TranscriptGen.turns(spark, 500, seed = 42).drop("_truth")
    val parsed = Parse.parseGrok(turns)
    val salted = rollup(parsed, salt = 16)
      .withColumn("n_tools_distinct", col("n_tools_distinct").cast("long"))
    val plain = Aggregate.convRollupUnsalted(parsed)
      .withColumn("n_tools_distinct", col("n_tools_distinct").cast("long"))
    assert(salted.exceptAll(plain).isEmpty && plain.exceptAll(salted).isEmpty)
  }

  test("one-pass partials path ≡ direct aggregates") {
    val turns = TranscriptGen.turns(spark, 400, seed = 42).drop("_truth")
    val routed = Route.assign(Parse.parseGrok(turns), Route.defaultSinks)
    val partials = Aggregate.partials(routed).cache()
    val counts = Aggregate.sinkCountsFromPartials(partials)
    val rollup = Aggregate.convRollupFromPartials(partials)
      .withColumn("n_tools_distinct", col("n_tools_distinct").cast("long"))
    val countsDirect = Aggregate.sinkCounts(routed)
    val rollupDirect = Aggregate.convRollupUnsalted(routed)
      .withColumn("n_tools_distinct", col("n_tools_distinct").cast("long"))
    assert(counts.exceptAll(countsDirect).isEmpty &&
      countsDirect.exceptAll(counts).isEmpty)
    assert(rollup.exceptAll(rollupDirect).isEmpty &&
      rollupDirect.exceptAll(rollup).isEmpty)
    partials.unpersist()
  }

  test("rollup values match a hand-computed conversation") {
    val turns = TranscriptGen.turns(spark, 50, seed = 42).drop("_truth")
    val parsed = Parse.parseGrok(turns)
    val conv = parsed.groupBy("conv_id").count().orderBy(desc("count")).head().getString(0)
    val rows = parsed.where(col("conv_id") === conv).collect()
    val r = rollup(parsed).where(col("conv_id") === conv).head()
    assert(r.getAs[Long]("n_turns") === rows.length)
    assert(r.getAs[Long]("n_errors") === rows.count(_.getAs[String]("err_code") != null))
    assert(r.getAs[Int]("n_tools_distinct") ===
      rows.map(_.getAs[String]("tool_invoked")).filter(_ != "none").distinct.length)
    assert(r.getAs[Long]("sum_latency_ms") === rows.map(_.getAs[Long]("latency_ms")).sum)
  }

  test("salted plan really has two aggregate phases on distinct path") {
    val turns = TranscriptGen.turns(spark, 50, seed = 42).drop("_truth")
    val plan = rollup(Parse.parseGrok(turns)).queryExecution.executedPlan.toString
    // two-phase: partial+final of stage1 (conv_id, _salt, sink) then stage2 (conv_id)
    assert("HashAggregate".r.findAllIn(plan).size >= 4, plan)
  }

  test("rollup contract: out-of-dimension tools and grok misses set no tool bit") {
    import spark.implicits._
    val base = TranscriptGen.turnsDs(spark, 40).toDF()
    val conv = base.select("conv_id").orderBy("conv_id").head().getString(0)
    val ts = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    val extra = Seq(
      Turn(conv, 1000, "assistant", "no structured fields in this turn", "", ts),
      Turn(conv, 1001, "tool", "call tool=zzz status=OK latency=5ms", "zzz", ts)
    ).toDS().toDF()
    val turns = base.unionByName(extra)
    def runWith(cfg: PipelineConfig, name: String) =
      Pipeline.runBatch(spark, turns, tmpDir(s"rollup-contract-$name"), cfg)
        .convRollup.cache()
    val coded = runWith(PipelineConfig.default, "default")
    val fromFile = runWith(PipelineConfig.fromJson(configJson("pipeline.json")), "file")
    assert(coded.exceptAll(fromFile).isEmpty && fromFile.exceptAll(coded).isEmpty)

    // independent count: distinct tool= names per conversation that are in
    // the tool dimension, from the raw text
    val toolRe = "tool=([A-Za-z0-9_]+)".r
    val dim = TranscriptGen.toolNames.toSet
    val expected = turns.select("conv_id", "text").as[(String, String)].collect()
      .groupBy(_._1).map { case (c, rows) =>
        c -> rows.flatMap(r => toolRe.findFirstMatchIn(r._2).map(_.group(1)))
          .filter(dim).distinct.length
      }
    val got = coded.select("conv_id", "n_tools_distinct").as[(String, Int)]
      .collect().toMap
    assert(got === expected)
    // the two extra turns still count as turns of their conversation
    assert(coded.where(col("conv_id") === conv).head().getAs[Long]("n_turns") ===
      turns.where(col("conv_id") === conv).count())
    coded.unpersist(); fromFile.unpersist()
  }
}
