package perfbench

import java.io.File
import java.nio.file.{Files, Paths, StandardCopyOption}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener}

import graft.StreamingPipeline

/** The streaming layer, driven from the traced run of `batch_agent_logs`:
  * `StreamingPipeline.start` (program defaults) on a directory fed
  * open-loop with short, all-grok-hit turns (at most 500 per conversation).
  *
  * It runs the same parse/route/write code as the batch path as many small
  * commits and bypasses the salted partials (its `foreachBatch` runs only
  * `Aggregate.sinkCounts`), so per-batch export cost shows up as lag.
  *
  * All files are written before the clock starts; one thread moves file i
  * into the input directory at `t0 + i / RatePerS` whatever the query does.
  * A file's lag runs from that due time until the micro-batch holding it
  * commits (mapped through the checkpoint's source log). The query is
  * stopped and restarted on its checkpoint once the middle file is due.
  */
object StreamSegment {

  /** Files moved in per second: about 70% of the drain rate measured on a
    * 4-core machine (~2.7 files/s at the default 8 files per trigger).
    */
  val RatePerS = 2.0
  val FileCount = 24
  val ConvsPerFile = 60

  def corpusDir(ctx: Ctx): String = s"${ctx.data}/stream"

  def fileName(i: Int): String = f"f-$i%05d.parquet"

  /** Short, all-grok-hit turns, at most 500 per conversation; each file
    * holds whole conversations.
    */
  def generate(spark: SparkSession, files: Int, seed: Long, dir: String): Unit = {
    val parts = s"$dir/_parts"
    Corpus.transcripts(spark, files.toLong * ConvsPerFile, seed, cap = 500, hot = 0,
        hotMin = 0, fillerMin = 3, fillerMax = 3, slices = 4)
      .withColumn("file_id", pmod(col("_rank"), lit(files.toLong)))
      .drop("_rank")
      .repartition(col("file_id"))
      .sortWithinPartitions("file_id", "conv_id", "turn_idx")
      .write.partitionBy("file_id").parquet(parts)
    for (i <- 0 until files) {
      val d = new File(s"$parts/file_id=$i")
      val pq = Option(d.listFiles()).toSeq.flatten.filter(_.getName.endsWith(".parquet"))
      require(pq.size == 1, s"file $i: expected one parquet part, found ${pq.size}")
      Files.move(pq.head.toPath, Paths.get(dir, fileName(i)))
    }
    Corpus.deleteTree(new File(parts))
  }

  def prepare(ctx: Ctx): Double = Corpus.cached(corpusDir(ctx),
    d => ctx.spark.read.parquet(s"$d/f-*.parquet"))(generate(ctx.spark, FileCount, ctx.seed, _))

  /** Phase durations (ms) of each micro-batch, from its progress event. */
  final class Progress extends StreamingQueryListener {
    val batches = new ConcurrentLinkedQueue[Map[String, Long]]()
    import StreamingQueryListener._
    override def onQueryStarted(e: QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: QueryProgressEvent): Unit =
      batches.add(e.progress.durationMs.asScala.map { case (k, v) => k -> v.longValue() }.toMap)
  }

  /** Commit time of each committed batch: the mtime of its commit-log entry. */
  def commitLog(ckpt: String): Map[Long, Long] =
    Option(new File(s"$ckpt/commits").listFiles()).toSeq.flatten
      .filter(_.getName.forall(_.isDigit))
      .map(f => f.getName.toLong -> Files.getLastModifiedTime(f.toPath).toMillis).toMap

  /** Files each batch read, from the checkpoint's source log. */
  def sourceLog(ckpt: String): Map[Long, Seq[String]] = {
    val dir = new File(s"$ckpt/sources/0")
    val path = "\"path\":\"([^\"]+)\"".r
    Option(dir.listFiles()).toSeq.flatten.filter(_.getName.forall(_.isDigit)).map { f =>
      f.getName.toLong -> path.findAllMatchIn(Corpus.readText(f.getPath)).map { m =>
        val p = m.group(1); p.substring(p.lastIndexOf('/') + 1)
      }.toSeq
    }.toMap
  }

  /** Everything one open-loop run observed. */
  final case class Observed(files: Int, dueMs: Array[Long], movedMs: Array[Long],
                            batches: Seq[Map[String, Long]], resumeS: Double, log: Map[Long, Seq[String]],
                            commits: Map[Long, Long], out: String)

  def runOpenLoop(ctx: Ctx): Observed = {
    val spark = ctx.spark
    val base = s"${ctx.work}/out/stream"
    Corpus.deleteTree(new File(base))
    val (staging, in, out, ckpt) = (s"$base/staging", s"$base/in", s"$base/out", s"$base/ckpt")
    Files.createDirectories(Paths.get(staging)); Files.createDirectories(Paths.get(in))
    val n = FileCount
    for (i <- 0 until n)
      Files.copy(Paths.get(corpusDir(ctx), fileName(i)), Paths.get(staging, fileName(i)))
    val progress = new Progress
    spark.streams.addListener(progress)
    var q: StreamingQuery = StreamingPipeline.start(spark, in, out, ckpt)
    val dueMs = new Array[Long](n); val movedMs = new Array[Long](n)
    val t0 = System.currentTimeMillis() + 500L
    @volatile var moved = 0
    val gen = new Thread(() => {
      for (i <- 0 until n) {
        dueMs(i) = t0 + math.round(i * 1000.0 / RatePerS)
        val wait = dueMs(i) - System.currentTimeMillis()
        if (wait > 0) Thread.sleep(wait)
        Files.move(Paths.get(staging, fileName(i)), Paths.get(in, fileName(i)),
          StandardCopyOption.ATOMIC_MOVE)
        movedMs(i) = System.currentTimeMillis()
        moved = i + 1
      }
    }, "perfbench-open-loop")
    gen.setDaemon(true)
    gen.start()
    try {
      while (moved < n / 2) Thread.sleep(5)
      q.stop()
      val restartMs = System.currentTimeMillis()
      val before = commitLog(ckpt).keySet
      q = StreamingPipeline.start(spark, in, out, ckpt)
      var firstCommit = Option.empty[Long]
      while (firstCommit.isEmpty && q.isActive) {
        Thread.sleep(2)
        firstCommit = (commitLog(ckpt) -- before).values.minOption
      }
      val resumeS = firstCommit.map(c => (c - restartMs) / 1e3).getOrElse(Double.NaN)
      gen.join()
      q.processAllAvailable()
      q.stop()
      org.apache.spark.sql.GraftBridge.waitListenerBusEmpty(spark.sparkContext)
      Observed(n, dueMs, movedMs, progress.batches.asScala.toSeq, resumeS,
        sourceLog(ckpt), commitLog(ckpt), out)
    } finally {
      if (q.isActive) q.stop()
      gen.join()
      spark.streams.removeListener(progress)
    }
  }

  /** Commit time of the batch that read each file. */
  def fileCommitMs(o: Observed): Map[String, Long] =
    o.log.toSeq.flatMap { case (b, fs) => o.commits.get(b).toSeq.flatMap(c => fs.map(_ -> c)) }.toMap

  def run(ctx: Ctx, t: Tracer, lr: LayerReport, res: Result): Unit = {
    val (rows, xor) = Corpus.readDigest(corpusDir(ctx))
    res.report += s"corpus streaming seed=${ctx.seed} rows=$rows xor=$xor"
    val o = t.span("streaming")(runOpenLoop(ctx))._2
    val commits = fileCommitMs(o)
    val lags = (0 until o.files).flatMap(i => commits.get(fileName(i)).map(c => (c - o.dueMs(i)) / 1e3))
    res.attempted += o.files
    val bad = verify(ctx, o, res)
    res.failed += (0 until o.files).count(i =>
      !commits.contains(fileName(i)) || bad.contains(fileName(i)))
    def dur(k: String) = o.batches.flatMap(_.get(k)).map(_ / 1e3)
    def p(xs: Seq[Double], q: Double) = if (xs.isEmpty) Double.NaN else Stats.quantile(xs, q)
    val late = (0 until o.files).map(i => (o.movedMs(i) - o.dueMs(i)) / 1e3)
    lr.put("streaming.lag_p50_s", p(lags, 0.5), "s")
    lr.put("streaming.lag_p90_s", p(lags, 0.9), "s")
    lr.put("streaming.resume_s", o.resumeS, "s")
    lr.put("streaming.rows_per_busy_s", rows / dur("triggerExecution").sum, "1/s")
    lr.put("streaming.batches", o.batches.size.toDouble, "count")
    lr.put("streaming.batch_s_p50", p(dur("triggerExecution"), 0.5), "s")
    lr.put("streaming.batch_s_p90", p(dur("triggerExecution"), 0.9), "s")
    lr.put("streaming.add_batch_s_p50", p(dur("addBatch"), 0.5), "s")
    lr.put("streaming.commit_s_p50", p(dur("commitOffsets"), 0.5), "s")
    lr.put("streaming.files_per_batch_p50", p(o.log.values.map(_.size.toDouble).toSeq, 0.5), "count")
    lr.put("streaming.generator_late_s_max", late.max, "s")
    val (files, bytes) = Corpus.filesAndBytes(o.out)
    lr.put("streaming.output_files", files.toDouble, "count")
    lr.put("streaming.output_bytes", bytes.toDouble, "bytes")
    res.report += s"streaming: files=${o.files} at $RatePerS/s, ${o.batches.size} batches, " +
      s"${lags.size} files committed, restart once at file ${o.files / 2}"
  }

  /** `readRouted` equals the input exactly once; returns the files whose
    * conversations differ.
    */
  def verify(ctx: Ctx, o: Observed, res: Result): Set[String] = {
    val spark = ctx.spark
    val input = spark.read.parquet(s"${corpusDir(ctx)}/f-*.parquet")
      .withColumn("_file", regexp_extract(input_file_name(), "(f-[0-9]+\\.parquet)", 1))
    val key = Seq("conv_id", "turn_idx", "text").map(col)
    val routed = StreamingPipeline.readRouted(spark, o.out).select(key: _*)
    val a = input.select(key: _*)
    val diff = a.exceptAll(routed).union(routed.exceptAll(a))
    val bad = diff.select("conv_id").distinct()
      .join(input.select("conv_id", "_file").distinct(), Seq("conv_id"), "left")
      .select(coalesce(col("_file"), lit("?"))).collect().map(_.getString(0)).toSet
    res.check("readRouted == input exactly once (after restart and drain)", bad.isEmpty,
      s"${bad.size} files differ")
    bad
  }
}
