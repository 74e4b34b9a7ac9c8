package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.catalyst.optimizer.BuildRight
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, AdaptiveSparkPlanHelper, QueryStageExec}
import org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec
import org.apache.spark.sql.util.QueryExecutionListener

/** One layer boundary crossed by one unit: a call into `Sources.*` or a
  * `Runner.*` stage. Times are epoch milliseconds (the clock Spark stamps
  * its job events with) plus a nanosecond duration for the wall time.
  */
final case class Span(unit: Int, name: String, startMs: Long, endMs: Long,
                      wallNs: Long, gcMs: Long)

/** Per-span engine counters, bucketed from listener events. */
final class SpanCounters {
  var jobs = 0L
  var tasks = 0L
  var taskRunMs = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var outputBytes = 0L
  var rowsOut = 0L
  val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
}

/** Records spans around the benchmark's calls into the program and
  * buckets Spark's public listener counters into them.
  *
  * Every job carries the span it was submitted from as a local property
  * (Spark copies local properties into the job and into the threads that
  * run broadcast and adaptive sub-queries), so task and job events are
  * attributed exactly. Query-planning phases carry no properties and are
  * attributed by the span whose interval holds their start.
  *
  * Nothing here starts a Spark job: the listeners only read events, and
  * the per-unit job count is compared between traced and untraced runs
  * of the same input.
  */
final class Tracer(spark: SparkSession) {
  import Tracer._

  private val sc = spark.sparkContext
  val spans = mutable.ArrayBuffer.empty[Span]
  private val counters = mutable.HashMap.empty[String, SpanCounters]
  private val jobSpan = mutable.HashMap.empty[Int, String]
  private val jobStart = mutable.HashMap.empty[Int, Long]
  private val stageSpan = mutable.HashMap.empty[Int, String]
  private val queries = mutable.ArrayBuffer.empty[(Long, Long, Long)] // (startMs, planMs, nljPairs)
  private val rddBlocks = mutable.HashMap.empty[String, Long]
  private var enabled = false

  private def bucket(key: String): SpanCounters = counters.getOrElseUpdate(key, new SpanCounters)

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      Option(e.properties).flatMap(p => Option(p.getProperty(SpanKey))).foreach { key =>
        jobSpan(e.jobId) = key
        jobStart(e.jobId) = e.time
        e.stageIds.foreach(stageSpan(_) = key)
        bucket(key).jobs += 1
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobSpan.remove(e.jobId).foreach { key =>
        bucket(key).jobIntervals += ((jobStart.remove(e.jobId).get, e.time))
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      stageSpan.get(e.stageId).foreach { key =>
        val c = bucket(key)
        c.tasks += 1
        val m = e.taskMetrics
        if (m != null) {
          c.taskRunMs += m.executorRunTime
          c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
          c.spillBytes += m.diskBytesSpilled
          c.outputBytes += m.outputMetrics.bytesWritten
          c.rowsOut += m.outputMetrics.recordsWritten
        }
      }
    }
    override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
      val b = e.blockUpdatedInfo
      if (b.blockId.isRDD && b.storageLevel.isValid)
        rddBlocks(b.blockId.name) = b.memSize + b.diskSize
    }
  }

  private val queryListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      record(qe)
    private def record(qe: QueryExecution): Unit = {
      val phases = qe.tracker.phases
      if (phases.nonEmpty) {
        val start = phases.values.map(_.startTimeMs).min
        val planMs = phases.values.map(p => p.endTimeMs - p.startTimeMs).sum
        val pairs = nljPairs(qe.executedPlan)
        Tracer.this.synchronized { queries += ((start, planMs, pairs)) }
      }
    }
  }

  /** Turns event collection on or off. Events already queued are drained
    * first, so a traced unit's counters are complete once it is off.
    */
  def setEnabled(on: Boolean): Unit = if (on != enabled) {
    drain()
    if (on) {
      sc.addSparkListener(listener)
      spark.listenerManager.register(queryListener)
    } else {
      sc.removeSparkListener(listener)
      spark.listenerManager.unregister(queryListener)
    }
    enabled = on
  }

  def drain(): Unit = org.apache.spark.perfbench.Bus.drain(sc)

  /** Runs `f` as span `name` of `unit`. The span key rides on every job
    * `f` submits whether or not tracing is on, so traced and untraced
    * units submit identical work.
    */
  def span[T](unit: Int, name: String)(f: => T): T = {
    sc.setLocalProperty(SpanKey, s"$unit/$name")
    val gc0 = gcMillis()
    val ms0 = System.currentTimeMillis()
    val ns0 = System.nanoTime()
    try f
    finally {
      val ns1 = System.nanoTime()
      val ms1 = System.currentTimeMillis()
      sc.setLocalProperty(SpanKey, null)
      if (enabled) spans += Span(unit, name, ms0, ms1, ns1 - ns0, gcMillis() - gc0)
    }
  }

  /** Clears the per-unit block and codegen baselines. */
  def beginUnit(): UnitMark = {
    drain()
    synchronized { rddBlocks.clear() }
    UnitMark(CodeGenerator.compileTime,
      org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount)
  }

  /** Layer metrics of one traced unit, keyed by metric name. */
  def unitMetrics(unit: Int, mark: UnitMark, cores: Int): Map[String, Double] = {
    drain()
    val compileNs = CodeGenerator.compileTime - mark.compileNs
    val classes = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount -
      mark.compiles
    synchronized {
      val mine = spans.filter(_.unit == unit)
      val perSpan = SpanNames.flatMap { name =>
        val s = mine.find(_.name == name)
        val c = counters.getOrElse(s"$unit/$name", new SpanCounters)
        val wall = s.map(_.wallNs / 1e9).getOrElse(0.0)
        val planMs = s.map(sp => queries.collect {
          case (st, p, _) if st >= sp.startMs && st <= sp.endMs => p
        }.sum).getOrElse(0L)
        val gap = s.map(sp => gapMs(sp.startMs, sp.endMs, c.jobIntervals.toSeq) / 1e3).getOrElse(0.0)
        Seq(
          "wall_s" -> wall,
          "jobs" -> c.jobs.toDouble,
          "tasks" -> c.tasks.toDouble,
          "task_run_s" -> c.taskRunMs / 1e3,
          "busy_frac" -> (if (wall > 0) c.taskRunMs / 1e3 / (wall * cores) else 0.0),
          "driver_gap_s" -> gap,
          "plan_s" -> planMs / 1e3,
          "shuffle_write_mb" -> c.shuffleWriteBytes / MB,
          "spill_mb" -> c.spillBytes / MB,
          "output_mb" -> c.outputBytes / MB,
          "rows_out" -> c.rowsOut.toDouble,
          "gc_s" -> s.map(_.gcMs / 1e3).getOrElse(0.0)
        ).map { case (k, v) => s"$name.$k" -> v }
      }
      val inUnit = mine.headOption.map(first => (first.startMs, mine.last.endMs))
      val pairs = inUnit.map { case (a, b) =>
        queries.collect { case (st, _, n) if st >= a && st <= b => n }.sum
      }.getOrElse(0L)
      (perSpan ++ Seq(
        "codegen.compile_s" -> compileNs / 1e9,
        "codegen.classes" -> classes.toDouble,
        "ops.Matching.nlj_pairs" -> pairs.toDouble,
        "ops.Materialize.checkpoint_mb" -> rddBlocks.values.sum / MB,
        "trace.span_wall_s" -> mine.map(_.wallNs).sum / 1e9
      )).toMap
    }
  }
}

final case class UnitMark(compileNs: Long, compiles: Long)

object Tracer extends AdaptiveSparkPlanHelper {
  val SpanKey = "perfbench.span"
  val MB = 1024.0 * 1024.0
  val SpanNames: Seq[String] = Seq("sources", "pipeline.ingest", "pipeline.preprocess",
    "pipeline.validate", "pipeline.merge_trips", "pipeline.export_landings",
    "pipeline.export_tracks", "pipeline.curate")
  val SpanFields: Seq[String] = Seq("wall_s", "jobs", "tasks", "task_run_s", "busy_frac",
    "driver_gap_s", "plan_s", "shuffle_write_mb", "spill_mb", "output_mb", "rows_out", "gc_s")
  /** Every per-unit layer metric; a layer a workload does not run reads 0. */
  val LayerNames: Seq[String] = SpanNames.flatMap(s => SpanFields.map(f => s"$s.$f")) ++ Seq(
    "codegen.compile_s", "codegen.classes", "ops.Matching.nlj_pairs",
    "ops.Materialize.checkpoint_mb", "pipeline.merge_trips.match_yield",
    "sources.corrupt_dropped", "pipeline.curate.keep_frac")

  def gcMillis(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum

  /** Span time not covered by the union of its jobs' run intervals. */
  def gapMs(start: Long, end: Long, jobs: Seq[(Long, Long)]): Long = {
    var covered = 0L
    var reach = start
    jobs.map { case (a, b) => (a.max(start), b.min(end)) }.filter { case (a, b) => b > a }
      .sortBy(_._1).foreach { case (a, b) =>
        if (b > reach) { covered += b - a.max(reach); reach = b }
      }
    (end - start) - covered
  }

  /** Probe rows × broadcast rows of every BroadcastNestedLoopJoin in an
    * executed plan, from the SQL metrics of the nodes feeding it.
    */
  def nljPairs(plan: SparkPlan): Long =
    collect(plan) { case j: BroadcastNestedLoopJoinExec => j }.map { j =>
      val (build, probe) = if (j.buildSide == BuildRight) (j.right, j.left) else (j.left, j.right)
      rowsOf(probe).max(0L) * rowsOf(build).max(0L)
    }.sum

  private def rowsOf(plan: SparkPlan): Long = plan match {
    case p if p.metrics.contains("numOutputRows") => p.metrics("numOutputRows").value
    case a: AdaptiveSparkPlanExec => rowsOf(a.executedPlan)
    case q: QueryStageExec => rowsOf(q.plan)
    case p if p.children.size == 1 => rowsOf(p.children.head)
    case _ => -1L
  }
}
