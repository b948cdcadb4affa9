package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Benchmark entry point, launched by `perfbench/run.py`.
  *
  *   perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *                  --data <dir> --work <dir>
  *
  * Set-up is the program's own `Pipeline.defaultSession` at `local[nproc]`
  * plus a warm-up that runs the workload's code on a tiny input, timed from
  * JVM start. The run then generates the seeded corpus under `--data` unless
  * it is there (not part of set-up; the peak-RSS mark is reset after it),
  * measures the workload and prints report lines followed by one
  * `PERFBENCH_RESULT {json}` line.
  */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Double,
                        trace: Boolean, data: String, work: String)

  private def parse(args: Array[String]): Args = {
    val kv = args.sliding(2, 1).collect {
      case Array(k, v) if k.startsWith("--") && !v.startsWith("--") => k -> v
    }.toMap
    def need(k: String) = kv.getOrElse(k, sys.error(s"missing $k"))
    Args(need("--workload"), need("--seed").toLong, need("--seconds").toDouble,
      kv.getOrElse("--trace", "0") == "1", need("--data"), need("--work"))
  }

  val workloads: Map[String, Workload] =
    Seq(BatchAgentLogs, CurateDocs).map(w => w.name -> w).toMap

  def cores: Int = Runtime.getRuntime.availableProcessors()

  def session(master: String): SparkSession = {
    val s = graft.Pipeline.defaultSession(master, "perfbench")
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Seconds since this JVM started. */
  def sinceJvmStart(): Double =
    (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val w = workloads.getOrElse(a.workload,
      sys.error(s"unknown workload ${a.workload}; known: ${workloads.keys.mkString(", ")}"))
    val spark = session(s"local[$cores]")
    val sessionS = sinceJvmStart()
    w.warmUp(spark)
    val setupS = sinceJvmStart()
    println(f"# setup_s = $setupS%.3f from JVM start (session built at $sessionS%.3f)")
    val ctx = new Ctx(spark, a.seed, a.seconds, a.data, a.work)
    val datagenS = w.prepare(ctx, a.trace)
    Jvm.resetPeakRss()
    val (rows, xor) = Corpus.readDigest(w.corpusDir(ctx))
    ctx.corpusRows = rows
    println(f"# corpus ${w.name} seed=${a.seed} rows=$rows xor=$xor datagen.s=$datagenS%.3f")
    val res = if (a.trace) w.traced(ctx) else {
      val r = w.measure(ctx)
      r.put("setup_s", setupS, "s")
      r.put("peak_rss_mb", Jvm.peakRssMb(), "MB")
      r
    }
    res.report.foreach(l => println(s"# $l"))
    println("PERFBENCH_RESULT " + res.json)
    spark.stop()
  }
}

final case class Metric(value: Double, unit: String)

/** Per-run state shared by the workloads. */
final class Ctx(val spark: SparkSession, val seed: Long, val seconds: Double,
                val data: String, val work: String) {
  var corpusRows = 0L
}

/** What a run prints: outcome counts, metrics, and free-form report lines. */
final class Result {
  var attempted = 0L
  var failed = 0L
  var correct = true
  val metrics: mutable.LinkedHashMap[String, Metric] = mutable.LinkedHashMap.empty
  val report: mutable.ArrayBuffer[String] = mutable.ArrayBuffer.empty

  def put(name: String, value: Double, unit: String): Unit =
    metrics.put(name, Metric(value, unit))

  /** A failed correctness check: recorded, never hidden. */
  def check(name: String, ok: Boolean, detail: => String = ""): Unit = {
    report += s"check $name: ${if (ok) "ok" else "FAILED " + detail}"
    if (!ok) correct = false
  }

  def json: String = {
    val ms = metrics.map { case (k, m) =>
      s""""$k": {"value": ${Json.num(m.value)}, "unit": "${m.unit}"}"""
    }.mkString("{", ", ", "}")
    s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": $ms}"""
  }
}

object Json {
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null"
    else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else d.toString
}

object Ops {
  /** Fewest timed operations per run. */
  val MinOps = 1

  /** Run `op` once untimed (the warm-in: the JIT compiles the code paths
    * the full-size input takes), then timed until `seconds` have passed and
    * at least [[MinOps]] operations completed. Every call counts as
    * attempted; a false result or a throw counts as failed. Returns the
    * timed seconds.
    */
  def loop(seconds: Double, res: Result)(op: => Boolean): Seq[Double] = {
    val times = mutable.ArrayBuffer.empty[Double]
    val cpus = mutable.ArrayBuffer.empty[Double]
    def once(): Option[Double] = {
      res.attempted += 1
      try {
        val c0 = Jvm.cpuSeconds()
        val (s, ok) = Stats.time(op)
        cpus += Jvm.cpuSeconds() - c0
        if (!ok) res.failed += 1
        Some(s)
      } catch {
        case e: Exception =>
          res.failed += 1
          res.report += s"operation failed: $e"
          if (res.failed > 2) throw e
          None
      }
    }
    val warm = once()
    res.report += s"warm-in op seconds=${warm.map(t => f"$t%.3f").getOrElse("failed")} (not timed)"
    val t0 = System.nanoTime()
    while (times.size < MinOps || (System.nanoTime() - t0) / 1e9 < seconds)
      once().foreach(times += _)
    res.report += s"timed ops=${times.size} seconds=${times.map(t => f"$t%.3f").mkString(",")}"
    res.report += s"cpu seconds per op (warm-in first)=${cpus.map(t => f"$t%.3f").mkString(",")}"
    times.toSeq
  }

  /** The end-to-end metrics every workload reports. A run has too few
    * operations to support a percentile above the median, so only the median
    * operation time is used.
    */
  def putEndToEnd(res: Result, rows: Long, times: Seq[Double], out: String): Unit = {
    val (files, bytes) = Corpus.filesAndBytes(out)
    res.put("rows_per_s", rows / Stats.median(times), "1/s")
    res.put("output_files", files.toDouble, "count")
    res.put("output_bytes", bytes.toDouble, "bytes")
  }
}

object Stats {
  /** Linear-interpolated quantile, q in [0, 1]. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  def time[A](f: => A): (Double, A) = {
    val t0 = System.nanoTime()
    val r = f
    ((System.nanoTime() - t0) / 1e9, r)
  }
}

object Jvm {
  /** Restart the `VmHWM` mark from the current resident size (Linux
    * `clear_refs`), so that corpus generation does not count.
    */
  def resetPeakRss(): Unit = Corpus.writeText("/proc/self/clear_refs", "5")

  /** Peak resident set size of this process (`VmHWM`), in MB. */
  def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse(sys.error("no VmHWM in /proc/self/status"))
    line.split("\\s+")(1).toDouble / 1024.0
  }

  /** CPU seconds this process has used, all threads. */
  def cpuSeconds(): Double =
    ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e9

  def gcSeconds(): Double = {
    import scala.jdk.CollectionConverters._
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum / 1e3
  }

  /** Heap pools that hold data across young collections (survivor and old
    * generation). Eden is left out: it fills to its size before every
    * young collection, so its peak says nothing about the work.
    */
  private def retainedPools = {
    import scala.jdk.CollectionConverters._
    ManagementFactory.getMemoryPoolMXBeans.asScala.toSeq
      .filter(p => p.getType == java.lang.management.MemoryType.HEAP && !p.getName.contains("Eden"))
  }

  /** Start a new peak for [[retainedPeakMb]]. */
  def resetHeapPeak(): Unit = retainedPools.foreach(_.resetPeakUsage())

  /** Peak survivor + old-generation use since [[resetHeapPeak]], in MB. */
  def retainedPeakMb(): Double = retainedPools.map(_.getPeakUsage.getUsed).sum / 1048576.0

  /** Run `f`; also return the GC seconds and the retained-heap peak (MB)
    * during it.
    */
  def during[A](f: => A): (A, Double, Double) = {
    resetHeapPeak()
    val gc0 = gcSeconds()
    val r = f
    (r, gcSeconds() - gc0, retainedPeakMb())
  }
}

/** One benchmark workload. */
trait Workload {
  def name: String
  /** Run the workload's code once on a tiny input (part of set-up). */
  def warmUp(spark: SparkSession): Unit
  /** Where the corpus of `ctx.seed` lives; it holds a digest file. */
  def corpusDir(ctx: Ctx): String
  /** Generate the seeded corpus unless it is there (with `trace`, also the
    * traced run's extra inputs); returns generation seconds.
    */
  def prepare(ctx: Ctx, trace: Boolean): Double
  /** Untraced run: end-to-end metrics and correctness checks. */
  def measure(ctx: Ctx): Result
  /** Traced run: per-layer metrics. */
  def traced(ctx: Ctx): Result
}
