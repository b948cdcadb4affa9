package perfbench

import java.util.UUID

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.{GraftBridge, SparkSession}
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener

/** One traced interval. Spans of one run share `runId`; `parent` is the id of
  * the span that was open when this one started (0 for none).
  */
final class Span(val runId: String, val id: Int, val parent: Int, val name: String,
                 val startMs: Long) {
  val startNs: Long = System.nanoTime()
  var endNs: Long = -1L
  def endMs: Long = startMs + (endNs - startNs) / 1000000L
  def seconds: Double = (endNs - startNs) / 1e9
  /** What the listeners saw while this span (or a span inside it) was open. */
  val c = new Counters
}

/** One SQL execution: its call site (Spark's "<action> at <File>:<line>"),
  * wall time and the shuffle bytes its tasks wrote.
  */
final class Execution(val id: Long, val site: String, val startMs: Long, val span: Int) {
  var endMs: Long = -1L
  var shuffleWriteBytes = 0L
  def seconds: Double = (endMs - startMs) / 1e3
  /** The call site's source file, e.g. `Dedup.scala`. */
  def file: String = site.split(" at ").lastOption.map(_.takeWhile(_ != ':')).getOrElse("")
  def action: String = site.split(" at ").headOption.getOrElse("")
}

/** Work the listeners attribute to a span. Mutated only on the listener bus. */
final class Counters {
  var jobs = 0L
  var sqlActions = 0L
  var tasks = 0L
  var inputBytes = 0L
  var inputRows = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var gcMs = 0L
  var sortMs = 0L
  var broadcastBytes = 0L
  var scanFileBytes = 0L
  var rddBlockBytes = 0L
  /** Per stage: (task durations, shuffle bytes read). */
  val stages: mutable.Map[Int, (mutable.ArrayBuffer[Long], Long)] = mutable.Map.empty

  /** Slowest over median task duration of the stage that read the most
    * shuffle bytes (NaN when no stage read shuffle data).
    */
  def reduceSkew: Double = {
    val reduce = stages.values.filter(_._2 > 0)
    if (reduce.isEmpty) Double.NaN
    else {
      val ds = reduce.maxBy(_._2)._1.map(_.toDouble).toSeq
      val med = Stats.median(ds)
      if (med <= 0) Double.NaN else ds.max / med
    }
  }
}

/** Records spans around the benchmark's calls into each layer and
  * attributes Spark's own events to them: a `SparkListener` (jobs, tasks,
  * SQL executions, cached blocks) and a `QueryExecutionListener` (sort time
  * and broadcast sizes from each executed plan). Events are attributed to
  * the spans open when the listener bus delivers them; the bus is drained at
  * every span end, so an action's events land in the span that ran it.
  *
  * Spans stay in memory and are written out by [[write]].
  */
final class Tracer(spark: SparkSession) {
  val runId: String = UUID.randomUUID().toString
  private val spans = mutable.ArrayBuffer.empty[Span]
  @volatile private var open: List[Span] = Nil

  private def attribute(f: Counters => Unit): Unit = open.foreach(s => f(s.c))

  private val executions = mutable.LinkedHashMap.empty[Long, Execution]
  private val stageExec = mutable.Map.empty[Int, Long]

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      attribute(_.jobs += 1)
      Option(e.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
        .foreach(id => e.stageIds.foreach(stageExec(_) = id.toLong))
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null) stageExec.get(e.stageId).flatMap(executions.get)
        .foreach(_.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten)
      if (m != null) attribute { c =>
        c.tasks += 1
        c.inputBytes += m.inputMetrics.bytesRead
        c.inputRows += m.inputMetrics.recordsRead
        c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        c.spillBytes += m.diskBytesSpilled
        c.gcMs += m.jvmGCTime
        val (ds, read) = c.stages.getOrElse(e.stageId, (mutable.ArrayBuffer.empty[Long], 0L))
        ds += e.taskInfo.duration
        c.stages(e.stageId) = (ds, read + m.shuffleReadMetrics.totalBytesRead)
      }
    }

    override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
      val b = e.blockUpdatedInfo
      if (b.blockId.isRDD && b.storageLevel.isValid)
        attribute(_.rddBlockBytes += b.memSize + b.diskSize)
    }

    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart =>
        attribute(_.sqlActions += 1)
        open.headOption.foreach(sp =>
          executions(s.executionId) = new Execution(s.executionId, s.description, s.time, sp.id))
      case x: SparkListenerSQLExecutionEnd =>
        executions.get(x.executionId).foreach(_.endMs = x.time)
      case _ => ()
    }
  }

  private val queryListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val nodes = Tracer.nodes(qe.executedPlan)
      def metric(node: String, key: String): Long =
        nodes.filter(_.nodeName.startsWith(node))
          .flatMap(_.metrics.get(key)).map(_.value).sum
      val sort = metric("Sort", "sortTime")
      val bcast = metric("BroadcastExchange", "dataSize")
      val scanned = metric("Scan", "filesSize")
      attribute { c => c.sortMs += sort; c.broadcastBytes += bcast; c.scanFileBytes += scanned }
    }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  resume()

  /** Attach the listeners. */
  def resume(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(queryListener)
  }

  /** Detach the listeners (for an untraced reference measurement). */
  def pause(): Unit = {
    drain()
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(queryListener)
  }

  def drain(): Unit = GraftBridge.waitListenerBusEmpty(spark.sparkContext)

  /** Run `f` inside a span named `name`. */
  def span[A](name: String)(f: => A): (Span, A) = {
    drain()
    val s = new Span(runId, spans.size + 1, open.headOption.map(_.id).getOrElse(0), name,
      System.currentTimeMillis())
    spans += s
    open = s :: open
    try {
      val r = f
      s.endNs = System.nanoTime()
      (s, r)
    } finally {
      if (s.endNs < 0) s.endNs = System.nanoTime()
      drain()
      open = open.tail
    }
  }

  def spansNamed(name: String): Seq[Span] = spans.filter(_.name == name).toSeq

  /** SQL executions started while `span` was the innermost open span. */
  def executionsIn(span: Span): Seq[Execution] =
    executions.values.filter(x => x.span == span.id && x.endMs >= 0).toSeq

  /** Spans as JSON lines: run id, id, parent, name, start, end, counters. */
  def write(path: String): Unit = {
    val lines = spans.map { s =>
      val c = s.c
      s"""{"run_id": "${s.runId}", "id": ${s.id}, "parent": ${s.parent}, """ +
        s""""name": "${s.name}", "start_ms": ${s.startMs}, "end_ms": ${s.endMs}, """ +
        s""""jobs": ${c.jobs}, "sql_actions": ${c.sqlActions}, "tasks": ${c.tasks}, """ +
        s""""input_bytes": ${c.inputBytes}, "shuffle_write_bytes": ${c.shuffleWriteBytes}, """ +
        s""""spill_bytes": ${c.spillBytes}, "sort_ms": ${c.sortMs}, "gc_ms": ${c.gcMs}}"""
    }
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(path).getParent)
    Corpus.writeText(path, lines.mkString("", "\n", "\n"))
  }
}

object Tracer {
  /** Every node of an executed plan, through adaptive and query-stage
    * wrappers.
    */
  def nodes(p: SparkPlan): Seq[SparkPlan] = {
    val inner = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case _ => p.children ++ p.subqueries
    }
    p +: inner.flatMap(nodes)
  }
}

/** Per-layer output of a traced run: metrics for the final JSON line (the
  * ones every workload measures) plus a full table for the report lines.
  */
final class LayerReport(res: Result) {
  private val table = mutable.LinkedHashMap.empty[String, (Double, String)]

  /** A per-layer value for the report table only. */
  def put(name: String, value: Double, unit: String): Unit = table.put(name, (value, unit))

  /** A per-layer value that also goes into the final JSON line. */
  def common(name: String, value: Double, unit: String): Unit = {
    put(name, value, unit)
    res.put(name, value, unit)
  }

  def notMeasured(name: String, reason: String): Unit =
    res.report += s"not measured: $name ($reason)"

  def flush(): Unit =
    table.foreach { case (k, (v, u)) => res.report += s"layer $k = ${Json.num(v)} $u" }
}

/** Layer metrics both workloads report from their traced runs. */
object CommonLayers {
  /** Median self time of `name` spans. */
  def medianSeconds(t: Tracer, name: String): Double = Stats.median(t.spansNamed(name).map(_.seconds))

  /** Export metrics from the last span named `name`, whose writes went
    * under `dirs`.
    */
  def export(lr: LayerReport, t: Tracer, name: String, dirs: Seq[String]): Unit = {
    val s = t.spansNamed(name).last
    val (files, bytes) = dirs.map(Corpus.filesAndBytes).foldLeft((0L, 0L)) {
      case ((f, b), (f2, b2)) => (f + f2, b + b2)
    }
    lr.common("export.self_s", medianSeconds(t, name), "s")
    lr.put("export.sort_s", s.c.sortMs / 1e3, "s")
    lr.common("export.files", files.toDouble, "count")
    lr.common("export.bytes", bytes.toDouble, "bytes")
    lr.common("export.tasks", s.c.tasks.toDouble, "count")
    lr.common("export.spill_bytes", s.c.spillBytes.toDouble, "bytes")
  }

  /** Metrics of one traced end-to-end operation (the last `name` span),
    * with the GC seconds and retained-heap peak measured around it
    * ([[Jvm.during]]).
    */
  def operation(lr: LayerReport, t: Tracer, name: String, untracedS: Double,
                attributedS: Double, gcS: Double, heapPeakMb: Double): Unit = {
    val s = t.spansNamed(name).last
    val opS = medianSeconds(t, name)
    lr.common("pipeline.op_s", opS, "s")
    lr.common("pipeline.jobs", s.c.jobs.toDouble, "count")
    lr.common("pipeline.sql_actions", s.c.sqlActions.toDouble, "count")
    lr.common("pipeline.shuffle_write_bytes", s.c.shuffleWriteBytes.toDouble, "bytes")
    lr.common("pipeline.spill_bytes", s.c.spillBytes.toDouble, "bytes")
    lr.common("pipeline.cache_bytes", s.c.rddBlockBytes.toDouble, "bytes")
    lr.common("pipeline.unattributed_s", opS - attributedS, "s")
    lr.common("trace.overhead_s", opS - untracedS, "s")
    lr.common("jvm.gc_s", gcS, "s")
    lr.common("jvm.heap_peak_mb", heapPeakMb, "MB")
  }

  /** Each layer's self seconds as a share of the traced operation. */
  def shares(lr: LayerReport, opS: Double, self: Seq[(String, Double)]): Unit =
    self.foreach { case (l, s) => lr.put(s"$l.share_of_op", s / opS, "ratio") }
}
