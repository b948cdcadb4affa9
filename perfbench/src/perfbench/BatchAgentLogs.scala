package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Pipeline

/** `batch_agent_logs`: `Pipeline.runBatch` with its default sinks and full
  * export over a parquet corpus that is not clustered by conversation.
  *
  * Why: every pipeline layer does production-sized work here, including the
  * salted aggregate under real key skew (the hottest conversations each hold
  * more turns than one shuffle partition's even share) and the partitioned
  * write. Turn text carries 12–48 words of filler after `detail:`.
  *
  * Size: 60,000 conversations, about 306k turns: half of the 602k-turn
  * corpus on which a 4-core probe measured `runBatch` at 8.0–9.7 s, the
  * most that fits the benchmark's time budget. In a traced run on 4 cores
  * the export is ~70% of an operation and the aggregate ~17%; the hottest
  * conversation holds ~1.8× one shuffle partition's even share.
  *
  * One operation is one `runBatch`; its latency is the call's wall time.
  */
object BatchAgentLogs extends Workload {
  val name = "batch_agent_logs"

  val Convs = 60000L
  val Cap = 20000
  val Hot = 3
  val Files = 8

  def corpusDir(ctx: Ctx): String = s"${ctx.data}/batch"

  /** Turns the `Hot` largest conversations are raised to: 1.25× one shuffle
    * partition's even share of the corpus.
    */
  def hotMin(spark: SparkSession, convs: Long): Int = {
    val total = (0L until convs).map(r => Corpus.zipfSize(r, convs, Cap).toLong).sum
    val parts = spark.conf.get("spark.sql.shuffle.partitions").toInt
    math.ceil(1.25 * total / parts).toInt
  }

  def generate(spark: SparkSession, convs: Long, seed: Long, dir: String): Unit =
    Corpus.transcripts(spark, convs, seed, Cap, Hot, hotMin(spark, convs),
        fillerMin = 12, fillerMax = 48, slices = Files)
      .drop("_rank")
      .repartition(Files, xxhash64(lit(seed), lit("file"), col("conv_id"), col("turn_idx")))
      .sortWithinPartitions(xxhash64(lit(seed), lit("ord"), col("conv_id"), col("turn_idx")))
      .write.parquet(dir)

  def warmUp(spark: SparkSession): Unit = Corpus.warmTranscriptPath(spark)

  def prepare(ctx: Ctx, trace: Boolean): Double = {
    val spark = ctx.spark
    val s = Corpus.cached(corpusDir(ctx), spark.read.parquet(_))(generate(spark, Convs, ctx.seed, _))
    s + (if (trace) StreamSegment.prepare(ctx) else 0.0)
  }

  def input(ctx: Ctx): DataFrame = ctx.spark.read.parquet(corpusDir(ctx))

  /** Sum of the written `sink_counts` table. */
  private def sinkTotal(ctx: Ctx, out: String): Long =
    ctx.spark.read.parquet(s"$out/sink_counts")
      .agg(coalesce(sum("n_turns"), lit(0L))).head().getLong(0)

  def measure(ctx: Ctx): Result = {
    val res = new Result
    val out = s"${ctx.work}/out/batch"
    val times = Ops.loop(ctx.seconds, res) {
      Pipeline.runBatch(ctx.spark, input(ctx), out)
      sinkTotal(ctx, out) == ctx.corpusRows
    }
    if (!verify(ctx, out, res)) res.failed += 1
    Ops.putEndToEnd(res, ctx.corpusRows, times, out)
    res.report += s"turns_per_s = ${ctx.corpusRows / Stats.median(times)} " +
      s"(median of ${times.size} runBatch calls)"
    res
  }

  /** The batch correctness checks, on the output of the last operation.
    * Frames are compared as multisets of rows ([[Corpus.multiset]]).
    */
  def verify(ctx: Ctx, out: String, res: Result): Boolean = {
    val spark = ctx.spark
    val in = input(ctx)
    val routed = spark.read.parquet(s"$out/routed")
    val key = Seq("conv_id", "turn_idx", "text").map(col)
    val (want, got) = (Corpus.multiset(in, key), Corpus.multiset(routed, key))
    res.check("routed union == input on (conv_id, turn_idx, text)", want == got,
      s"input (rows, xor, sum)=$want routed=$got")

    val written = routed.groupBy("sink").agg(count(lit(1)).as("n"))
    val counts = spark.read.parquet(s"$out/sink_counts")
    val countDiff = written.join(counts, Seq("sink"), "full_outer")
      .where(not(coalesce(col("n") === col("n_turns"), lit(false)))).count()
    res.check("sink_counts == count of written partitions", countDiff == 0,
      s"$countDiff sinks differ")

    val rollKey = Seq(col("conv_id"), col("n_turns").cast("long"), col("n_errors").cast("long"))
    val expected = in.groupBy("conv_id").agg(
      count(lit(1)).as("n_turns"),
      sum(when(col("text").rlike("status=E[0-9]{3} "), 1L).otherwise(0L)).as("n_errors"))
    val rollWant = Corpus.multiset(expected, rollKey)
    val rollGot = Corpus.multiset(spark.read.parquet(s"$out/conv_rollup"), rollKey)
    res.check("conv_rollup n_turns/n_errors == groupBy of input", rollWant == rollGot,
      s"groupBy (rows, xor, sum)=$rollWant rollup=$rollGot")
    want == got && countDiff == 0 && rollWant == rollGot
  }

  def traced(ctx: Ctx): Result = BatchTrace.run(ctx)
}
