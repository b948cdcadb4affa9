package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scaling-efficiency evidence for the north rule: the same transcript job
  * on the same input at two parallelism levels (local[8] vs local[32] —
  * the sandbox stand-in for N vs 4N executors; BASELINE.md).
  *
  * `runMain graft.ScalingBench <nConvs> <lo> [hi] [stage,...]`. ~17M turns
  * (5M conversations, the default) is large enough that per-core compute
  * dominates fixed overheads — at ~1M turns the job is ~4 s wall and
  * overhead-bound, which measures nothing. Every stage's turn count must
  * equal the corpus row count.
  *
  * Production shape: the timed job READS the corpus (vectorized parquet
  * scan from tmpfs) rather than generating rows inline. Default layout is
  * the conv-bucketed table (the Iceberg bucket(conv_id) stand-in —
  * zero-shuffle aggregation); SPARK_GRAFT_LAYOUT=scattered measures the
  * naive random layout (salted partial shuffle ≈ 69% of scanned bytes).
  */
object ScalingBench extends BenchHarness.Scaling("transcript", "turns", 5000000L) {

  final class Turns(spark: SparkSession, bucketed: Boolean, dir: String) {
    /** Opened once per level, outside every timed run. */
    val turns: DataFrame =
      if (bucketed) BucketedCorpus.open(spark, dir, "graft_corpus")
      else spark.read.parquet(dir)
    /** Counted once, untimed: every stage must account for each turn. */
    val rows: Long = turns.count()
    private def check(stage: String, n: Long): Unit =
      require(n == rows, s"$stage: $n turns, corpus has $rows")

    /** parse→enrich→route→aggregate, both aggregates materialized. */
    def pipeline(): Unit =
      check("pipeline", Bench.pipelineRunFrom(spark, turns,
        Aggregate.saltFor(bucketed))._2)

    /** [[graft.ops.SftPrep.chatTemplate]] with EVERY output column (the
      * rendered string and the span array included) forced through the
      * all-columns hash. On the conv-bucketed layout the conversation
      * groupBy is exchange-free, so the stage measures pure scan+render
      * compute scaling; on the scattered layout the ENTIRE corpus shuffles
      * on conv_id.
      */
    def sft(): Unit =
      check("sft", hashTurns(graft.ops.SftPrep.chatTemplate(turns)))

    /** The REST of the SFT family — token-span alignment, whole-turn
      * truncation, preference pairs and structural validation, each
      * forced. All four are one window/aggregation on the conversation key
      * (zero exchange on the bucketed layout), so with [[sft]] this times
      * the complete turns→trainer-input pass.
      */
    def sftPrep(): Unit = {
      BenchHarness.forceAll(graft.ops.SftPrep.tokenSpans(turns))
      BenchHarness.forceAll(graft.ops.SftPrep.truncateToBudget(turns, budget = 64))
      val cands = turns.where(col("role") === "assistant")
        .select(col("conv_id"), col("turn_idx"), col("text"),
          (lit(0L) - coalesce(Parse.latencyMs(col("text")), lit(0L)))
            .as("score"))
      BenchHarness.forceAll(graft.ops.SftPrep.preferencePairs(cands,
        "conv_id", "turn_idx", "score", "text"))
      check("sftprep", hashTurns(graft.ops.SftPrep.validateTranscripts(turns)))
    }

    /** One action: the all-columns hash plus the summed `n_turns`. */
    private def hashTurns(r: DataFrame): Long =
      r.select(xxhash64(r.columns.map(col): _*).as("h"),
          col("n_turns").cast("long").as("nt"))
        .agg(bit_xor(col("h")).as("x"), sum(col("nt")).as("n"))
        .head().getLong(1)
  }

  type Corpus = Turns
  val stages: Seq[(String, Turns => Unit)] = Seq(
    "pipeline" -> (_.pipeline()),
    "sft" -> (_.sft()),
    "sftprep" -> (_.sftPrep()))
  val defaults: Seq[String] = Seq("pipeline")
  override def rows(t: Turns, a: BenchHarness.Args): Long = t.rows

  def open(spark: SparkSession, a: BenchHarness.Args): Turns = {
    val bucketed = !sys.env.get("SPARK_GRAFT_LAYOUT").contains("scattered")
    val dir = sys.env.getOrElse("SPARK_GRAFT_CORPUS_DIR",
      s"/dev/shm/graft-corpus-${a.n}" + (if (bucketed) "-bkt" else ""))
    BenchHarness.writeOnce(dir) {
      val gen = TranscriptGen.turnsDs(spark, a.n).toDF()
      if (bucketed) BucketedCorpus.write(gen, dir, "graft_corpus")
      else gen.repartition(128) // many small files → splits never cap parallelism
        .write.mode("overwrite").parquet(dir)
    }
    new Turns(spark, bucketed, dir)
  }
}
