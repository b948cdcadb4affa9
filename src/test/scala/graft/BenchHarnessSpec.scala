package graft

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.functions.sum

import BenchHarness.{Level, Measured}

/** The shared bench protocol, its command line and its JSON line. */
class BenchHarnessSpec extends SparkTestBase {

  private lazy val parquetDir = {
    val d = tmpDir("graft-bench-harness") + "/ids"
    spark.range(0, 20000).toDF("id").write.parquet(d)
    d
  }
  private def readAll(): Unit =
    spark.read.parquet(parquetDir).agg(sum("id")).head()

  test("measure: one warm run, then runs timed runs; best time, run-1 bytes") {
    // warm, then timed runs that sleep 600 / 0 / 400 ms: the second timed
    // run must be the reported one
    val sleepMs = Seq(0L, 600L, 0L, 400L)
    var calls = 0
    val m = BenchHarness.measure(spark, 3) { () =>
      readAll(); Thread.sleep(sleepMs(calls)); calls += 1
    }
    assert(calls === 4)
    assert(m.runs.size === 3)
    assert(m.sec === m.runs.min)
    assert(m.runs.indexOf(m.sec) === 1, s"runs: ${m.runs}")
    assert(m.runs(0) >= 0.6 && m.runs(2) >= 0.4)

    // bytes come from the first timed run alone, not from the sum of all
    val one = BenchHarness.measure(spark, 1)(() => readAll())
    assert(one.inputBytes > 0L)
    assert(m.inputBytes === one.inputBytes)
    assert(one.shuffleWriteBytes > 0L) // the sum's partial aggregate
  }

  test("a stage that throws makes measure throw") {
    intercept[IllegalStateException] {
      BenchHarness.measure(spark, 2)(() => throw new IllegalStateException("warm"))
    }
    var calls = 0
    val e = intercept[IllegalStateException] {
      BenchHarness.measure(spark, 2) { () =>
        calls += 1
        if (calls == 3) throw new IllegalStateException("second timed run")
      }
    }
    assert(e.getMessage === "second timed run")
  }

  private def m(sec: Double, in: Long) = Measured(sec, Seq(sec), in, 7L, 5L)

  test("jsonLine: paired line keys and eff = (sec_lo / sec_hi) / (hi / lo)") {
    val lo = Level(2, Seq("b" -> m(8.0, 100L), "a" -> m(4.0, 200L)),
      extras = Map("a" -> "\"recall_at_10\":0.950"))
    val hi = Level(8, Seq("a" -> m(1.6, 210L), "b" -> m(4.0, 90L)))
    val json = new ObjectMapper().readTree(BenchHarness.jsonLine("ann",
      "vecs", 1000L, Seq("dim" -> "64"), Seq(lo, hi)))
    import scala.jdk.CollectionConverters._
    def keys(n: com.fasterxml.jackson.databind.JsonNode) =
      n.fieldNames().asScala.toSeq
    assert(keys(json) === Seq("metric", "vecs", "dim", "eff", "lo", "hi"))
    assert(json.get("metric").asText === "ann_scaling")
    assert(json.get("vecs").asLong === 1000L)
    assert(json.get("dim").asInt === 64)
    assert(keys(json.get("eff")) === Seq("a", "b"))
    def eff(s: String) = json.get("eff").get(s).asDouble
    assert(math.abs(eff("a") - (4.0 / 1.6) / (8.0 / 2)) < 1e-3)
    assert(math.abs(eff("b") - (8.0 / 4.0) / (8.0 / 2)) < 1e-3)
    assert(json.get("lo").get("cores").asInt === 2)
    assert(json.get("hi").get("cores").asInt === 8)
    val a = json.get("lo").get("a")
    assert(keys(a) === Seq("sec", "vecs_per_sec", "recall_at_10",
      "input_bytes", "shuffle_write_bytes", "shuffle_read_bytes"))
    assert(a.get("sec").asDouble === 4.0)
    assert(a.get("vecs_per_sec").asLong === 250L)
    assert(a.get("input_bytes").asLong === 200L)
    assert(keys(json.get("hi").get("a")) === Seq("sec", "vecs_per_sec",
      "input_bytes", "shuffle_write_bytes", "shuffle_read_bytes"))

    val single = new ObjectMapper().readTree(BenchHarness.jsonLine(
      "transcript", "turns", 500L, Nil, Seq(hi)))
    assert(keys(single) === Seq("metric", "turns", "level"))
    assert(single.get("metric").asText === "transcript_throughput")
    assert(single.get("level").get("b").get("turns_per_sec").asLong === 125L)
  }

  test("parseArgs: <n> <lo> [hi] [stage,...]") {
    val known = Seq("build", "probe", "extra")
    val defaults = Seq("build", "probe")
    def parse(args: String*) =
      BenchHarness.parseArgs(args.toArray, 42L, known, defaults)
    assert(parse() === BenchHarness.Args(42L, 8, 8, defaults))
    assert(parse("100", "4") === BenchHarness.Args(100L, 4, 4, defaults))
    // stages run in registry order, whatever order the command line names
    assert(parse("100", "2", "8", "probe,build") ===
      BenchHarness.Args(100L, 2, 8, Seq("build", "probe")))
    assert(parse("100", "2", "2", "extra").stages === Seq("extra"))
    val e = intercept[IllegalArgumentException](
      parse("100", "2", "2", "build,zzz"))
    assert(e.getMessage.contains("unknown stage: zzz"))
    intercept[IllegalArgumentException](parse("1", "2", "2", "build", "x"))
  }

  test("scaling registries: distinct stage names, defaults among them") {
    val mains = Seq(ScalingBench, CurationScalingBench, AnnScalingBench)
    for (main <- mains) {
      val names = main.stages.map(_._1)
      assert(names.distinct === names)
      assert(main.defaults.nonEmpty && main.defaults.forall(names.contains))
    }
    assert(ScalingBench.stages.map(_._1) === Seq("pipeline", "sft", "sftprep"))
  }

  test("Bench headline names are registered queries, each named once") {
    val all = Bench.headline ++ Bench.headlineForced
    all.foreach(name => assert(SparkEntry.queries.contains(name), name))
    assert(all.distinct === all)
    assert(Bench.headline.toSet.intersect(Bench.headlineForced.toSet).isEmpty)
  }
}
