package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** What the tracer saw during one timed operation. Times are epoch ms. */
final class OpTrace(val id: Int, val name: String, val module: String,
    val kind: String) {
  var start = 0L
  var buildEnd = 0L
  var end = 0L
  var outRows = 0L
  var filesWritten = 0L
  val jobs = ArrayBuffer.empty[(Int, Long, Long)]
  val sqlPhases = ArrayBuffer.empty[(String, Long, Long)]
  var queryExecutions = 0
  var stages = 0
  var tasks = 0
  var taskRunMs = 0L
  var taskCpuNs = 0L
  var gcMs = 0L
  var inputRows = 0L
  var inputBytes = 0L
  var shuffleWrite = 0L
  var shuffleRead = 0L
  var spill = 0L
  val stageTaskMs = scala.collection.mutable.Map.empty[Int, ArrayBuffer[Long]]

  def wallMs: Long = end - start
  def jobBusyMs(from: Long = start, to: Long = end): Long =
    Tracer.unionMs(jobs.map { case (_, s, e) => (s max from, e min to) })
  def worstStageSkew: Option[Double] = stageTaskMs.values
    .filter(_.size >= 2).map { ds =>
      val s = ds.sorted
      val med = s(s.size / 2).max(1L)
      s.last.toDouble / med
    }.maxOption
}

/** Spark listener plus query-execution listener, registered from outside
  * the program. Every event is charged to the operation that is current
  * when the bus delivers it; the runner drains the bus after each
  * operation, so no event crosses an operation boundary. */
final class Tracer(spark: SparkSession) extends SparkListener
    with QueryExecutionListener {
  @volatile var current: OpTrace = _
  val done = ArrayBuffer.empty[OpTrace]
  private val stageOwner = scala.collection.mutable.Map.empty[Int, OpTrace]

  def attach(): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
  }
  def detach(): Unit = {
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(this)
  }
  def drain(): Unit = org.apache.spark.PerfbenchBus.drain(spark.sparkContext)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val t = current
    if (t != null) {
      t.jobs += ((e.jobId, e.time, Long.MaxValue))
      e.stageIds.foreach(stageOwner(_) = t)
    }
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    val t = current
    if (t != null) {
      val i = t.jobs.indexWhere(_._1 == e.jobId)
      if (i >= 0) t.jobs(i) = t.jobs(i).copy(_3 = e.time)
    }
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      stageOwner.get(e.stageInfo.stageId).orElse(Option(current))
        .foreach(_.stages += 1)
    }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val t = stageOwner.getOrElse(e.stageId, current)
    val m = e.taskMetrics
    if (t != null && m != null) {
      t.tasks += 1
      t.taskRunMs += m.executorRunTime
      t.taskCpuNs += m.executorCpuTime
      t.gcMs += m.jvmGCTime
      t.inputRows += m.inputMetrics.recordsRead
      t.inputBytes += m.inputMetrics.bytesRead
      t.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      t.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      t.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      t.stageTaskMs.getOrElseUpdate(e.stageId, ArrayBuffer.empty) +=
        e.taskInfo.duration
    }
  }
  override def onSuccess(funcName: String, qe: QueryExecution,
      durationNs: Long): Unit = record(qe)
  override def onFailure(funcName: String, qe: QueryExecution,
      exception: Exception): Unit = record(qe)
  private def record(qe: QueryExecution): Unit = synchronized {
    val t = current
    if (t != null) {
      t.queryExecutions += 1
      qe.tracker.phases.foreach { case (phase, p) =>
        t.sqlPhases += ((phase, p.startTimeMs, p.endTimeMs))
      }
    }
  }

  def begin(t: OpTrace): Unit = synchronized { current = t }
  def finish(t: OpTrace): Unit = {
    drain()
    synchronized {
      // a job still open at the end belongs to a cancelled operation
      for (i <- t.jobs.indices if t.jobs(i)._3 == Long.MaxValue)
        t.jobs(i) = t.jobs(i).copy(_3 = t.end)
      current = null
      stageOwner.filterInPlace((_, o) => o ne t)
      done += t
    }
  }
}

object Tracer {
  /** Length of the union of closed intervals, in ms. */
  def unionMs(iv: Iterable[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.filter { case (s, e) => e > s }.toSeq.sortBy(_._1).foreach {
      case (s, e) =>
        if (s > curE) {
          if (curE > curS) total += curE - curS
          curS = s; curE = e
        } else curE = curE max e
    }
    if (curE > curS) total += curE - curS
    total
  }

  final case class Span(id: Int, parent: Int, op: Int, name: String,
      layer: String, start: Long, end: Long)

  /** Spans of the traced operations: the operation (layer = the module
    * it exercises), its build and materialize phases, and the SQL
    * planning phases and Spark jobs placed under the phase containing
    * them. */
  def spans(ops: Seq[OpTrace]): Seq[Span] = {
    val out = ArrayBuffer.empty[Span]
    var next = 0
    def add(parent: Int, op: Int, name: String, layer: String, s: Long,
        e: Long): Int = {
      next += 1
      out += Span(next, parent, op, name, layer, s, e)
      next
    }
    ops.foreach { t =>
      val root = add(0, t.id, t.name, t.module, t.start, t.end)
      val build = add(root, t.id, "build", "queries", t.start, t.buildEnd)
      val mat =
        if (t.end > t.buildEnd)
          add(root, t.id, "materialize", "spark.action", t.buildEnd,
            t.end)
        else root
      def under(s: Long): Int = if (s < t.buildEnd) build else mat
      t.sqlPhases.foreach { case (ph, s, e) =>
        add(under(s), t.id, ph, s"sql.$ph", s, e)
      }
      t.jobs.foreach { case (j, s, e) =>
        add(under(s), t.id, s"job $j", "spark", s, e)
      }
    }
    out.toSeq
  }

  /** Per layer: total span time, self time (each span's duration minus
    * the part of it its children cover) and span count. */
  def layerTimes(sp: Seq[Span]): Map[String, (Long, Long, Int)] = {
    val kids = sp.groupBy(_.parent)
    sp.groupBy(_.layer).map { case (layer, ss) =>
      val self = ss.map { s =>
        val covered = unionMs(kids.getOrElse(s.id, Nil)
          .map(c => (c.start max s.start, c.end min s.end)))
        (s.end - s.start - covered).max(0L)
      }.sum
      layer -> ((ss.map(s => s.end - s.start).sum, self, ss.size))
    }
  }
}

/** The per-layer metrics of a traced run: means per traced operation
  * unless the name says otherwise. */
object PerLayer {
  private val MB = 1024.0 * 1024.0

  def metrics(ops: Seq[OpTrace], cpus: Int,
      rounds: Seq[(Int, Boolean, Double)])
      : scala.collection.immutable.ListMap[String, Map[String, Any]] = {
    val n = ops.size.max(1).toDouble
    def mean(f: OpTrace => Double): Double = ops.map(f).sum / n
    def phase(p: String)(t: OpTrace): Double =
      t.sqlPhases.collect { case (`p`, s, e) => (e - s).toDouble }.sum
    val reads = ops.filter(_.kind == "read")
    val writes = ops.filter(_.kind == "write")
    val wallSlots = ops.map(_.wallMs * cpus.toDouble).sum.max(1.0)
    val skews = ops.flatMap(_.worstStageSkew).sorted
    // the fastest round of each kind
    val untraced = rounds.filterNot(_._2).map(_._3).minOption.getOrElse(0.0)
    val traced = rounds.filter(_._2).map(_._3).minOption.getOrElse(0.0)
    val values = Seq(
      "queries.build_ms" -> mean(t =>
        (t.buildEnd - t.start - t.jobBusyMs(t.start, t.buildEnd)).toDouble),
      "sql.analysis_ms" -> mean(phase("analysis")),
      "sql.optimization_ms" -> mean(phase("optimization")),
      "sql.planning_ms" -> mean(phase("planning")),
      "sql.query_executions" -> mean(_.queryExecutions.toDouble),
      "spark.jobs" -> mean(_.jobs.size.toDouble),
      "spark.stages" -> mean(_.stages.toDouble),
      "spark.tasks" -> mean(_.tasks.toDouble),
      "spark.job_busy_ms" -> mean(_.jobBusyMs().toDouble),
      "spark.driver_gap_ms" -> mean(t => (t.wallMs - t.jobBusyMs()).toDouble),
      "spark.task_run_ms" -> mean(_.taskRunMs.toDouble),
      "spark.task_cpu_ms" -> mean(_.taskCpuNs / 1e6),
      "spark.gc_ms" -> mean(_.gcMs.toDouble),
      "spark.slot_busy_ratio" -> ops.map(_.taskRunMs).sum / wallSlots,
      "spark.stage_skew" -> skews.lift(skews.size / 2).getOrElse(1.0),
      "spark.input_rows" -> mean(_.inputRows.toDouble),
      "spark.input_mb" -> mean(_.inputBytes / MB),
      "spark.shuffle_write_mb" -> mean(_.shuffleWrite / MB),
      "spark.shuffle_read_mb" -> mean(_.shuffleRead / MB),
      "spark.spill_mb" -> mean(_.spill / MB),
      "sources.rows_scanned_per_row_returned" ->
        reads.map(_.inputRows).sum.toDouble /
          reads.map(_.outRows).sum.max(1L),
      "sources.files_written" ->
        writes.map(_.filesWritten).sum.toDouble / writes.size.max(1),
      "trace.overhead_pct" ->
        (if (untraced > 0) (traced / untraced - 1.0) * 100.0 else 0.0))
    scala.collection.immutable.ListMap.from(values.map { case (k, v) =>
      k -> Map("value" -> v, "unit" -> unit(k))
    })
  }

  /** A metric's unit, read off its name. */
  def unit(name: String): String = name.split('.').last match {
    case n if n.endsWith("_ms") => "ms"
    case n if n.endsWith("_mb") => "MB"
    case n if n.endsWith("_pct") => "%"
    case n if n.contains("ratio") || n.contains("skew") ||
      n.contains("per_row") => "ratio"
    case _ => "count"
  }

  /** Per operator/source module: operation wall time and count per
    * traced round, jobs and driver gap per operation, and rows scanned
    * per row returned. */
  def modules(ops: Seq[OpTrace], tracedRounds: Int)
      : Seq[scala.collection.immutable.ListMap[String, Any]] =
    ops.groupBy(_.module).toSeq.sortBy(_._1).map { case (m, ts) =>
      scala.collection.immutable.ListMap(
        "module" -> m,
        "ms_per_round" -> ts.map(_.wallMs).sum.toDouble / tracedRounds.max(1),
        "ops_per_round" -> ts.size.toDouble / tracedRounds.max(1),
        "jobs_per_op" -> ts.map(_.jobs.size).sum.toDouble / ts.size,
        "driver_gap_ms_per_op" ->
          ts.map(t => t.wallMs - t.jobBusyMs()).sum.toDouble / ts.size,
        "rows_scanned_per_row_returned" ->
          ts.map(_.inputRows).sum.toDouble / ts.map(_.outRows).sum.max(1L))
    }
}
