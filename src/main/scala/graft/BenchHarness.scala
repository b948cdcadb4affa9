package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Task-metrics accumulator: total bytes scanned vs shuffled during a
  * timed region — the plan-level evidence that a job's shuffle is a small
  * fraction of its scan, and the way a timing anomaly (hypervisor steal)
  * is told apart from a plan regression: the bytes don't lie even when
  * the clock does.
  */
private[graft] final class IoListener extends org.apache.spark.scheduler.SparkListener {
  import java.util.concurrent.atomic.AtomicLong
  val input = new AtomicLong; val shufWrite = new AtomicLong
  val shufRead = new AtomicLong
  override def onTaskEnd(
      te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
    val m = te.taskMetrics
    if (m != null) {
      input.addAndGet(m.inputMetrics.bytesRead)
      shufWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      shufRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
    }
  }
  def reset(): Unit = { input.set(0); shufWrite.set(0); shufRead.set(0) }
}

/** The one bench harness: session, timing, forcing, the measure protocol,
  * the command line and the JSON line that every bench main shares.
  * [[ScalingBench]], [[CurationScalingBench]] and [[AnnScalingBench]] are
  * [[Scaling]] stage registries over it; [[Bench]] uses its pieces.
  */
object BenchHarness {

  def time[A](f: => A): Double = {
    val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
  }

  /** Full-materialization action over EVERY output column: count() would
    * let Catalyst prune computed columns that don't change the row count
    * (the documented bench trap).
    */
  def forceAll(df: DataFrame): Unit = {
    import org.apache.spark.sql.functions.{bit_xor, col, xxhash64}
    df.select(xxhash64(df.columns.map(col): _*).as("h"))
      .agg(bit_xor(col("h"))).head()
    ()
  }

  /** The scaling session: one parallelism level per session.
    *
    * SPARK_GRAFT_MASTER overrides the in-process local[cores] master so the
    * SAME job can run under `spark-submit --master local-cluster[N,c,mem]`
    * — N separate executor JVMs, each with its own heap/GC/codegen cache,
    * talking to the driver over the real RPC + shuffle-service paths (the
    * closest local analog to "N and 4N executors"). `cores` must still
    * match the cluster's total cores: partitions are sized from it.
    */
  def session(app: String, cores: Int, partitions: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_GRAFT_MASTER", s"local[$cores]"))
      .appName(app)
      .config("spark.sql.shuffle.partitions", partitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      // AQE's 64MB advisory size would coalesce the reduce stage BELOW the
      // core count at higher parallelism (asymmetric penalty) — partition
      // count is already sized by the caller
      .config("spark.sql.adaptive.coalescePartitions.enabled", "false")
      // shuffle scratch on tmpfs: the single virtio disk is the one shared
      // resource that does NOT scale with local[N] (a real cluster adds
      // local NVMe with every executor); measured ~13 s of non-scaling
      // shuffle IO at local[32] against /tmp
      .config("spark.local.dir",
        sys.env.getOrElse("SPARK_GRAFT_LOCAL_DIR", "/dev/shm/graft-spark-local"))
      // input splits must outnumber cores: at 128 MB default a ~2 GB
      // corpus yields only ~16 splits — half of local[32] sits idle in the
      // scan stage (SURVEY.md §7.4)
      .config("spark.sql.files.maxPartitionBytes", (16 * 1024 * 1024).toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Runs `write` unless `dir/_SUCCESS` exists: a bench corpus is written
    * once, untimed, and scanned by every later run (production shape).
    */
  def writeOnce(dir: String)(write: => Unit): Unit =
    if (!new java.io.File(s"$dir/_SUCCESS").exists()) write

  /** One measured stage: the best timed run, every timed run in order, and
    * the task bytes of the first timed run.
    */
  final case class Measured(sec: Double, runs: Seq[Double], inputBytes: Long,
                            shuffleWriteBytes: Long, shuffleReadBytes: Long)

  /** The one measure protocol: one full-size warm run (codegen and
    * classloading outside the timing), then `runs` timed runs, each after
    * `System.gc()`; the bytes are read from the first timed run after the
    * listener bus drains. The GC releases the finished run's shuffle files
    * (the ContextCleaner acts on GC): at 10M docs each dedup run leaves
    * tens of GB of shuffle files that otherwise pile up until the app
    * exits — measured OOM-killing a paired run with spark.local.dir on
    * tmpfs. A stage that throws makes this throw.
    */
  def measure(spark: SparkSession, runs: Int)(stage: () => Unit): Measured = {
    require(runs >= 1, s"runs must be >= 1: $runs")
    val sc = spark.sparkContext
    def drain(): Unit = org.apache.spark.sql.GraftBridge.waitListenerBusEmpty(sc)
    val io = new IoListener
    sc.addSparkListener(io)
    try {
      stage()
      drain() // no warm-run task event may reach the reset counters
      System.gc()
      io.reset()
      val first = time(stage())
      drain()
      val bytes = (io.input.get, io.shufWrite.get, io.shufRead.get)
      val times = first +: (2 to runs).map { _ => System.gc(); time(stage()) }
      Measured(times.min, times, bytes._1, bytes._2, bytes._3)
    } finally sc.removeSparkListener(io)
  }

  /** `<n> <lo> [hi] [stage,...]`: corpus size, the low (and high)
    * parallelism level, and the stages to time in registry order.
    */
  final case class Args(n: Long, lo: Int, hi: Int, stages: Seq[String])

  /** Parse `<n> <lo> [hi] [stage,...]`: `hi` defaults to `lo` (one level
    * per JVM), the stages to `defaults`; an unknown stage is an error
    * that names it.
    */
  def parseArgs(args: Array[String], defaultN: Long, known: Seq[String],
                defaults: Seq[String]): Args = {
    require(args.length <= 4,
      s"usage: <n> <lo> [hi] [stage,...]; got ${args.mkString(" ")}")
    val lo = args.lift(1).map(_.toInt).getOrElse(8)
    val picked = args.lift(3).map(_.split(",").map(_.trim).toSeq)
      .getOrElse(defaults)
    val unknown = picked.filterNot(known.contains)
    require(unknown.isEmpty, s"unknown stage: ${unknown.mkString(",")} " +
      s"(known: ${known.mkString(",")})")
    Args(args.headOption.map(_.toLong).getOrElse(defaultN), lo,
      args.lift(2).map(_.toInt).getOrElse(lo), known.filter(picked.contains))
  }

  /** One parallelism level's measured stages, plus per-stage JSON
    * fragments (e.g. `"recall_at_10":0.953`) placed after the throughput.
    */
  final case class Level(cores: Int, stages: Seq[(String, Measured)],
                         extras: Map[String, String] = Map.empty)

  /** The scaling JSON line. One level prints `<name>_throughput` with a
    * `level` object; two print `<name>_scaling` with `lo`, `hi` and each
    * stage's `eff = (sec_lo / sec_hi) / (hi / lo)`. `header` holds raw
    * JSON values placed after the row count.
    */
  def jsonLine(name: String, unit: String, n: Long,
               header: Seq[(String, String)], levels: Seq[Level]): String = {
    def level(l: Level): String = l.stages.sortBy(_._1).map { case (s, m) =>
      val extra = l.extras.get(s).map("," + _).getOrElse("")
      f""""$s":{"sec":${m.sec}%.2f,"${unit}_per_sec":${n / m.sec}%.0f$extra,""" +
        s""""input_bytes":${m.inputBytes},"shuffle_write_bytes":${m.shuffleWriteBytes},"shuffle_read_bytes":${m.shuffleReadBytes}}"""
    }.mkString(s"""{"cores":${l.cores},""", ",", "}")
    val head = (s""""$unit":$n""" +: header.map { case (k, v) => s""""$k":$v""" })
      .mkString(",")
    levels match {
      case Seq(one) =>
        s"""{"metric":"${name}_throughput",$head,"level":${level(one)}}"""
      case Seq(l, h) =>
        val (lo, hi) = (l.cores, h.cores)
        val secHi = h.stages.toMap
        val eff = l.stages.sortBy(_._1).map { case (s, m) =>
          f""""$s":${(m.sec / secHi(s).sec) / (hi.toDouble / lo)}%.3f"""
        }.mkString("{", ",", "}")
        s"""{"metric":"${name}_scaling",$head,"eff":$eff,"lo":${level(l)},"hi":${level(h)}}"""
      case _ => throw new IllegalArgumentException(
        s"one or two levels, got ${levels.size}")
    }
  }

  /** A scaling main: a corpus opened once per parallelism level and a
    * registry of named stages over it. `main` parses the command line,
    * runs each level in its own session (lo, then hi when it differs —
    * pair levels within one calm window), measures every selected stage
    * best-of-2 and prints one JSON line. Single-level mode (`lo == hi`)
    * is the honest protocol: measuring both levels in one JVM lets GC debt
    * from the first level's runs pollute the second's (observed ±4×).
    */
  abstract class Scaling(name: String, unit: String, defaultN: Long) {
    type Corpus
    /** Every stage, by name, in run order (builds before their probes). */
    def stages: Seq[(String, Corpus => Unit)]
    /** The stages timed when the command line names none. */
    def defaults: Seq[String]
    /** Shuffle partitions for an `n`-row corpus at `cores`. */
    def partitions(n: Long, cores: Int): Int = cores
    /** Top-level JSON keys after the row count (raw JSON values). */
    def header: Seq[(String, String)] = Nil
    /** Write the corpus once (untimed) and open it on `spark`. */
    def open(spark: SparkSession, a: Args): Corpus
    /** The corpus's `unit` count (the throughput numerator). */
    def rows(c: Corpus, a: Args): Long = a.n
    /** Untimed per-stage JSON fragments, computed after the stages ran. */
    def extras(c: Corpus, a: Args): Map[String, String] = Map.empty

    def main(args: Array[String]): Unit = {
      val a = parseArgs(args, defaultN, stages.map(_._1), defaults)
      val byName = stages.toMap
      val levels = Seq(a.lo, a.hi).distinct.map { cores =>
        val spark = session(s"graft-$name-scaling-$cores", cores,
          partitions(a.n, cores))
        try {
          val c = open(spark, a)
          val measured = a.stages.map { s =>
            val m = measure(spark, 2)(() => byName(s)(c))
            System.err.println(f"[$name-bench ${cores}c] $s runs=" +
              m.runs.map(t => f"$t%.1f").mkString(","))
            s -> m
          }
          (Level(cores, measured, extras(c, a)), rows(c, a))
        } finally spark.stop()
      }
      println(jsonLine(name, unit, levels.head._2, header, levels.map(_._1)))
    }
  }
}
