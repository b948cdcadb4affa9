package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.CurationPipeline

/** `curate_docs`: `CurationPipeline.curate` + `writeCurated` over seeded
  * documents with ~10% exact and ~10% near duplicates, and an eval set
  * sampled from the corpus (so decontamination removes real hits).
  *
  * Why: the curation library is the largest measured cost in the system and
  * no transcript layer runs here, so pipeline changes should not move it,
  * while a dedup change (the minhash band join) shows up only here.
  *
  * Size: 15,000 documents. Near-duplicate resolution (the minhash band
  * join) is then about half of an operation on 4 cores.
  *
  * One operation is one `curate` + `writeCurated`; its latency is their
  * wall time.
  */
object CurateDocs extends Workload {
  val name = "curate_docs"

  val Docs = 15000L
  val Files = 4

  def corpusDir(ctx: Ctx): String = s"${ctx.data}/docs"

  def generate(spark: SparkSession, docs: Long, seed: Long, dir: String): Unit = {
    val d = Corpus.docs(spark, docs, seed, Files)
    d.write.parquet(s"$dir/docs")
    d.where(pmod(xxhash64(lit(seed), lit("eval"), col("doc_id")), lit(100L)) === 0)
      .select("text").coalesce(1).write.parquet(s"$dir/eval")
  }

  /** Shingling, signatures and the quality-stage word functions on a few
    * dozen in-memory docs.
    */
  def warmUp(spark: SparkSession): Unit = {
    import spark.implicits._
    val docs = (0 until 40).map { i =>
      (i.toLong, (0 until 30).map(j => s"w${(i % 25) * 31 + j}").mkString(" "))
    }.toDF("doc_id", "text")
    docs.select(
      graft.ops.Dedup.minhashSignature(graft.ops.Dedup.wordShingles(col("text"), 3)),
      graft.ops.Curation.dupWordRatioFromWords(graft.ops.Curation.normWords(col("text"))))
      .collect()
  }

  def prepare(ctx: Ctx, trace: Boolean): Double = Corpus.cached(corpusDir(ctx),
    d => ctx.spark.read.parquet(s"$d/docs"))(generate(ctx.spark, Docs, ctx.seed, _))

  def docs(ctx: Ctx): DataFrame = ctx.spark.read.parquet(s"${corpusDir(ctx)}/docs")
  def evalSet(ctx: Ctx): DataFrame = ctx.spark.read.parquet(s"${corpusDir(ctx)}/eval")

  /** One operation on `in`; returns the stage report. */
  def curateOnce(ctx: Ctx, in: DataFrame, out: String): Seq[(String, Long)] = {
    val (curated, report) = CurationPipeline.curate(in, "doc_id", "text", "lang",
      evalSet = Some(evalSet(ctx)))
    CurationPipeline.writeCurated(curated, out)
    report
  }

  def measure(ctx: Ctx): Result = {
    val res = new Result
    val out = s"${ctx.work}/out/curate"
    var report = Seq.empty[(String, Long)]
    val times = Ops.loop(ctx.seconds, res) {
      report = curateOnce(ctx, docs(ctx), out)
      report.nonEmpty && report.head._2 == ctx.corpusRows
    }
    if (!verify(ctx, out, report, res)) res.failed += 1
    Ops.putEndToEnd(res, ctx.corpusRows, times, out)
    res.report += s"docs_per_s = ${ctx.corpusRows / Stats.median(times)} " +
      s"(median of ${times.size} curate+writeCurated calls)"
    res.report += s"report = ${report.map { case (k, v) => s"$k:$v" }.mkString(" ")}"
    res
  }

  /** The curation checks, on the last operation's report and output. */
  def verify(ctx: Ctx, out: String, report: Seq[(String, Long)], res: Result): Boolean = {
    val counts = report.map(_._2)
    val monotone = counts.nonEmpty && counts.zip(counts.drop(1)).forall { case (a, b) => b <= a }
    res.check("report counts never increase stage to stage", monotone, report.toString)
    val curated = ctx.spark.read.parquet(out)
    val n = curated.count()
    val last = counts.lastOption.getOrElse(-1L)
    res.check("survivors == last stage count", n == last, s"survivors=$n last=$last")
    val norm = trim(regexp_replace(lower(col("text")), "[^a-z0-9]+", " "))
    val dupTexts = curated.groupBy(norm.as("t")).count().where(col("count") > 1).count()
    res.check("no two survivors share normalized text", dupTexts == 0, s"$dupTexts shared texts")
    val foreign = curated.select("doc_id").join(docs(ctx).select("doc_id"), Seq("doc_id"),
      "left_anti").count()
    res.check("curated ids are a subset of input ids", foreign == 0, s"$foreign foreign ids")
    monotone && n == last && dupTexts == 0 && foreign == 0
  }

  def traced(ctx: Ctx): Result = CurateTrace.run(ctx)
}
