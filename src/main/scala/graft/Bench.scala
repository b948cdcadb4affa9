package graft

import org.apache.spark.sql.SparkSession

/** Driver-run benchmark: headline queries on SPARK_GRAFT_SF_DIR + the
  * end-to-end transcript pipeline. Prints exactly ONE JSON line.
  */
object Bench {

  /** Headline subset: the shapes that dominate 100 TB cost. */
  val headline: Seq[String] = Seq(
    "q_agg_groupby", "q_join_3way", "q_window_lag", "q_json_extract",
    "q_regex_extract", "q_grok_extract", "q_dedup_normalized",
    "q_text_profile", "q_minhash_neardups", "q_ann_bruteforce",
    "q_case_route", "q_agg_countdistinct", "q_decontaminate",
    "q_dup_spans", "q_asof_join", "q_pack_chunks", "q_range_join",
    "q_overlap_join", "q_simhash_sigs", "q_dup_runs", "q_jaccard_neardups",
    "q_semantic_dedup", "q_bm25_topk", "q_knn_graph_lsh",
    "q_paragraph_dedup",
    // round-4 crawl-entry surface: graph rank join + the WET round trip
    "q_rank_docs", "q_wet_read")

  /** Headline rows timed under FULL materialization (all output columns
    * hashed) instead of count(): these queries' expensive work is per-row
    * computed columns (clean-text reassembly, per-doc scores, rendered
    * strings) that do not change the row count, so count() would let
    * Catalyst prune exactly the work the row claims to time — the
    * documented bench trap. Kept separate from [[headline]] so the
    * original rows' semantics stay comparable across rounds.
    */
  val headlineForced: Seq[String] = Seq(
    "q_c4_lines", "q_gopher_rules", "q_lm_score", "q_lm2_score",
    "q_lm3_score", "q_dsir_weights", "q_bloom_decontaminate",
    "q_fuzzy_decontaminate", "q_sft_render", "q_corpus_report",
    "q_bpe_ids", "q_pack_rows",
    // round-4 close: robots decision, NB language ID, corpus overlap
    "q_robots_allowed", "q_langid_ngram", "q_corpus_overlap",
    // round-5: exact-substring span removal (clean-text reassembly is
    // the cost center) and PSL registrable-domain resolution
    "q_dup_span_removal", "q_url_domain_psl")

  /** Transcript pipeline throughput over a turns frame (a parquet scan is
    * the production shape; the vectorized reader feeds codegen directly,
    * unlike the allocation-heavy in-memory generator):
    * parse→enrich→route→aggregate, both aggregates materialized. One
    * full-data pass: the salted partial aggregation is the only shuffle;
    * per-sink counts, per-conversation rollups and the turn count all
    * derive from the (small) partials frame. Returns (seconds, turns).
    *
    * `salt`: pass 1 for conv-clustered (bucketed) input — the aggregation
    * is then shuffle-free, so there is no shuffle skew for the salt to
    * defuse and it only multiplies the aggregate's group cardinality
    * (measured ~1.7× slower at salt=16 on the bucketed corpus).
    */
  def pipelineRunFrom(spark: SparkSession, turns: org.apache.spark.sql.DataFrame,
                      salt: Int = Aggregate.DefaultSalt): (Double, Long) = {
    val routed = Pipeline.transform(turns,
      TranscriptGen.roleDim(spark).toDF(), TranscriptGen.toolDim(spark).toDF())
    val partials = Aggregate.partials(routed, salt = salt).persist()
    var n = 0L
    val sec = BenchHarness.time {
      n = Aggregate.sinkCountsFromPartials(partials)
        .collect().map(_.getLong(1)).sum
      Aggregate.convRollupFromPartials(partials).count()
    }
    partials.unpersist(blocking = true)
    (sec, n)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.local.dir",
        sys.env.getOrElse("SPARK_GRAFT_LOCAL_DIR", "/dev/shm/graft-spark-local"))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    // a query that throws fails the bench: the session stops and the
    // exception exits the JVM nonzero, with no JSON line
    try run(spark, sfDir) finally spark.stop()
  }

  private def run(spark: SparkSession, sfDir: String): Unit = {
    import BenchHarness.{forceAll, time}
    spark.sparkContext.setLogLevel("WARN")

    // JVM/codegen warmup outside the timed region: run every headline
    // query once at sf0.001 (tiny) so generated-code compilation and
    // classloading don't bill the first timed call — the bench measures
    // steady-state throughput (the 100 TB regime), not JIT startup.
    val warmDir = sys.env.getOrElse("SPARK_GRAFT_WARM_DIR", "/root/testdata/sf0.001")
    headline.foreach(name => SparkEntry.queries(name)(spark, warmDir).count())
    headlineForced.foreach(name =>
      forceAll(SparkEntry.queries(name)(spark, warmDir)))

    // best-of-2 per query: the sandbox VM has multi-minute hypervisor-steal
    // windows that inflate single runs up to 4×
    val results = headline.map { name =>
      val fn = SparkEntry.queries(name)
      name -> math.min(time(fn(spark, sfDir).count()),
                       time(fn(spark, sfDir).count()))
    } ++ headlineForced.map { name =>
      val fn = SparkEntry.queries(name)
      name -> math.min(time(forceAll(fn(spark, sfDir))),
                       time(forceAll(fn(spark, sfDir))))
    }

    // the two pipeline rows: best-of-3 after a full-size warm run
    // (single-shot timings are steal-exposed — observed 7× swings between
    // back-to-back invocations), each with the task bytes of its first
    // timed run, so a timing anomaly (steal inflated the round-2
    // pipeline_bucketed row 20×) is told apart from a plan regression
    val gen = TranscriptGen.turnsDs(spark, 145000L).toDF() // ~600k turns
    var pipeTurns = 0L
    val pipe = BenchHarness.measure(spark, 3) { () =>
      pipeTurns = pipelineRunFrom(spark, gen)._2
    }
    val turnsPerSec = pipeTurns / pipe.sec

    // production shape: same pipeline over a conv-bucketed table scan
    // (zero data shuffle — the 100 TB layout; corpus written once,
    // untimed). A failure here (e.g. no /dev/shm) fails the bench.
    val bktDir = sys.env.getOrElse("SPARK_GRAFT_BENCH_BKT_DIR",
      "/dev/shm/graft-bench-bkt")
    BenchHarness.writeOnce(bktDir)(
      BucketedCorpus.write(gen, bktDir, "graft_bench_corpus", buckets = 32))
    val bktTurns = BucketedCorpus.open(spark, bktDir, "graft_bench_corpus", 32)
    val bkt = BenchHarness.measure(spark, 3) { () =>
      pipelineRunFrom(spark, bktTurns, Aggregate.saltFor(bucketed = true))
    }

    // corpus-curation end-to-end: dedup → clusters → decontamination →
    // quality → mixture → redaction → shard/split, one survivor filter
    // pass + one attrition aggregation (CurationPipeline's design claim,
    // timed here as a whole). All columns are forced: count() would let
    // Catalyst prune the PII redaction and shard/split projections.
    def curationRun(): Double = {
      val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      time {
        val (curated, _) = graft.ops.CurationPipeline.curate(
          docs, "doc_id", "text", "lang", evalSet = Some(docs.where(
            org.apache.spark.sql.functions.col("doc_id") % 7 === 0)))
        forceAll(curated)
      }
    }
    curationRun() // warm
    val curSec = math.min(curationRun(), curationRun())

    val all = results :+ ("curation_e2e" -> curSec) :+
      ("pipeline_e2e" -> pipe.sec) :+
      ("pipeline_bucketed" -> bkt.sec)
    val qs = all.map { case (k, v) => "\"" + k + f"\":$v%.3f" }
      .mkString("{", ",", "}")
    val total = all.map(_._2).sum
    def ioJson(m: BenchHarness.Measured): String =
      s"""{"input_bytes":${m.inputBytes},"shuffle_write_bytes":${m.shuffleWriteBytes},"shuffle_read_bytes":${m.shuffleReadBytes}}"""
    println(f"""{"metric":"total","value":$total%.3f,"unit":"sec","queries":$qs,"sf":"$sfDir","pipeline_turns":$pipeTurns,"pipeline_turns_per_sec":$turnsPerSec%.0f,"io":{"pipeline_e2e":${ioJson(pipe)},"pipeline_bucketed":${ioJson(bkt)}}}""")
  }
}
