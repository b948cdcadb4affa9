package graft

import org.apache.spark.sql.functions._

/** Config-driven topology (SURVEY.md §3.1 analog): JSON config must build
  * the same pipeline as the coded defaults, and invalid configs must be
  * rejected at load time (the reference's config validation pass).
  */
class ConfigSpec extends SparkTestBase {

  test("default JSON config reproduces the coded pipeline exactly") {
    // the shipped example IS the coded default: it cannot drift
    val cfg = PipelineConfig.fromJson(configJson("pipeline.json"))
    assert(cfg === PipelineConfig.default)
    // and the service example loads and validates
    val svc = ServiceConfig.fromJson(configJson("service.json"))
    assert(svc.pipelines.map(_._1) === Seq("full", "sampled_10pct"))
    assert(svc.pipelines.head._2 === PipelineConfig.default)
    // routed rows of the loaded config equal the coded sink predicates
    val turns = TranscriptGen.turns(spark, 300, seed = 42).drop("_truth")
    val fromCfg = Pipeline.transform(turns,
        TranscriptGen.roleDim(spark).toDF(), TranscriptGen.toolDim(spark).toDF(), cfg)
      .select("conv_id", "turn_idx", "text", Route.SinkCol)
    val coded = Route.assign(Enrich.enrich(Parse.parseGrok(turns),
        TranscriptGen.roleDim(spark).toDF(), TranscriptGen.toolDim(spark).toDF()),
        Seq(SinkSpec("tool_search", col("tool_invoked").isin("search", "browse", "fetch")),
          SinkSpec("errors", col("err_code").rlike("^E5"))))
      .select("conv_id", "turn_idx", "text", Route.SinkCol)
    assert(fromCfg.exceptAll(coded).isEmpty && coded.exceptAll(fromCfg).isEmpty)
  }

  test("config sampling applies conversation-atomic sampling") {
    val cfg = PipelineConfig.default.copy(samplePct = 20.0)
    val turns = TranscriptGen.turns(spark, 300, seed = 42).drop("_truth")
    val routed = Pipeline.transform(turns,
      TranscriptGen.roleDim(spark).toDF(), TranscriptGen.toolDim(spark).toDF(), cfg)
    assert(routed.count() ===
      Sampler.sampleConversations(turns, 20.0).count())
  }

  test("unknown config keys are rejected, naming the key") {
    def badKey(json: String, key: String): Unit = {
      val e = intercept[IllegalArgumentException](PipelineConfig.fromJson(json))
      assert(e.getMessage.contains(s"'$key'"), e.getMessage)
    }
    val pat = "x(?<g>y)"
    badKey(s"""{"grok_pattern": "$pat", "sample_pc": 10,
              |"sinks": [{"name":"a","predicate":"true"}]}""".stripMargin, "sample_pc")
    badKey(s"""{"grok_pattern": "$pat", "salt": 16,
              |"sinks": [{"name":"a","predicate":"true"}]}""".stripMargin, "salt")
    badKey(s"""{"grok_pattern": "$pat",
              |"sinks": [{"name":"a","predicat":"true"}]}""".stripMargin, "predicat")
    // a service config checks each pipeline the same way
    val e = intercept[IllegalArgumentException](ServiceConfig.fromJson(
      s"""{"pipelines": {"p": {"grok_pattern": "$pat", "sinks": [],
         |"sample_pct": 5, "sampel_pct": 5}}}""".stripMargin))
    assert(e.getMessage.contains("'sampel_pct'"), e.getMessage)
  }

  test("invalid configs rejected at load") {
    def bad(json: String): Unit =
      intercept[Exception](PipelineConfig.fromJson(json))
    bad("""{"sinks": []}""")                                    // missing pattern
    bad("""{"grok_pattern": "x(?<g>y)", "sinks": []}""")        // no sinks
    bad("""{"grok_pattern": "no groups here",
           "sinks": [{"name":"a","predicate":"true"}]}""")      // no named groups
    bad("""{"grok_pattern": "x(?<g>y)",
           "sinks": [{"name":"a","predicate":"true"},
                     {"name":"a","predicate":"false"}]}""")     // dup names
    bad("""{"grok_pattern": "x(?<g>y)",
           "sinks": [{"name":"rest","predicate":"true"}]}""")   // reserved name
    bad("""{"grok_pattern": "x(?<g>y)", "sample_pct": 150,
           "sinks": [{"name":"a","predicate":"true"}]}""")      // pct range
  }
}
