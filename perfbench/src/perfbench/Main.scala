package perfbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.util.concurrent.{Executors, TimeUnit}

import scala.collection.mutable

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.SparkSession

/** One unit's outcome. `layer` holds the traced unit's layer metrics. */
final case class UnitResult(unit: Int, traced: Boolean, wallS: Double, jobs: Int,
                            retainedMb: Double, errors: Seq[String],
                            layer: Map[String, Double])

/** Closed-loop benchmark of one workload in one process: one client, one
  * unit at a time, warm-up units first, then timed units for the given
  * number of seconds. Prints `PERFBENCH_RESULT <json>` for run.py.
  *
  * Arguments (all required): --workload --inputs --work --report
  * --seconds --trace 0|1 --t0-ms (epoch ms at which set-up began)
  * --cores.
  */
object Main {
  private val UnitTimeoutS = 120L
  /** The first unit of a JVM runs cold (class loading, JIT, first code
    * generation) at two to three times the warm wall time, and the second
    * is still about 10 % slower than the third. Later units drift less
    * than the host's noise on `curate`, but up to 15 % more over the next
    * ten on `dag_bulk`, too many to wait for in a run. Every run times
    * the same positions, after two warm-up units.
    */
  private val WarmupUnits = 2
  /** The traced spans must cover this share of a traced unit's wall time. */
  private val MinSpanCover = 0.95

  def main(args: Array[String]): Unit = {
    val o = args.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
    val name = o("workload")
    val work = o("work")
    val cores = o("cores").toInt
    val traced = o("trace") == "1"
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-$name")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    val sc = spark.sparkContext
    sc.setLogLevel("WARN")
    val answers = new ObjectMapper().readTree(new File(s"${o("inputs")}/answers.json"))
    val wl = Workload(name, spark, o("inputs"), answers)
    val tracer = new Tracer(spark)
    val watchdog = Executors.newSingleThreadScheduledExecutor()
    var reference: Option[String] = None
    var next = 0

    def runUnit(trace: Boolean): UnitResult = {
      val unit = next
      next += 1
      val root = s"$work/stage/u$unit"
      val group = s"perfbench-u$unit"
      tracer.setEnabled(trace)
      val mark = if (trace) tracer.beginUnit() else null
      sc.setJobGroup(group, group, interruptOnCancel = true)
      val dog = watchdog.schedule(new Runnable { def run(): Unit = sc.cancelJobGroup(group) },
        UnitTimeoutS, TimeUnit.SECONDS)
      // A unit's wall time covers its stage root's creation, the program's
      // calls and the release of what they left persisted.
      val t0 = System.nanoTime()
      new File(root).mkdirs()
      val failure =
        try { wl.run(unit, root, tracer); None }
        catch { case e: Exception => Some(s"unit threw: $e") }
      val retained = sc.getRDDStorageInfo.map(r => r.memSize + r.diskSize).sum / Tracer.MB
      sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
      val wall = (System.nanoTime() - t0) / 1e9
      dog.cancel(false)
      sc.clearJobGroup()
      val layer = if (trace) tracer.unitMetrics(unit, mark, cores) else Map.empty[String, Double]
      tracer.setEnabled(false)
      val jobs = sc.statusTracker.getJobIdsForGroup(group).length
      val checked = failure match {
        case Some(f) => Checked(Seq(f), "", Map.empty)
        case None =>
          try wl.check(root)
          catch { case e: Exception => Checked(Seq(s"check threw: $e"), "", Map.empty) }
      }
      val digestError = reference match {
        case Some(d) if checked.errors.isEmpty && d != checked.digest =>
          Seq(s"content hash differs from the warm-up unit's: ${checked.digest} vs $d")
        case None if checked.errors.isEmpty => reference = Some(checked.digest); Nil
        case _ => Nil
      }
      deleteTree(new File(root))
      val cover = if (trace) layer.getOrElse("trace.span_wall_s", 0.0) / wall else 1.0
      val coverError =
        if (cover >= MinSpanCover) Nil
        else Seq(f"spans cover $cover%.3f of the unit, below $MinSpanCover")
      val errors = checked.errors ++ digestError ++ coverError
      errors.foreach(e => System.err.println(s"[perfbench] unit $unit: $e"))
      UnitResult(unit, trace, wall, jobs, retained, errors, layer ++ checked.metrics)
    }

    val warm = (0 until WarmupUnits).map(_ => runUnit(trace = false))
    awaitCompilerIdle(5000L)
    val timedStartMs = System.currentTimeMillis()
    val deadline = System.nanoTime() + (o("seconds").toDouble * 1e9).toLong
    val timed = mutable.ArrayBuffer.empty[UnitResult]
    // Traced runs time untraced, traced, untraced, ... so the untraced
    // median brackets the traced units and cancels the warm-up drift.
    if (traced) timed += runUnit(trace = false)
    while (timed.size < (if (traced) 3 else 2) || System.nanoTime() < deadline) {
      if (traced) timed += runUnit(trace = true)
      timed += runUnit(trace = false)
    }
    watchdog.shutdownNow()

    val setupS = (timedStartMs - o("t0-ms").toLong) / 1e3
    val all = warm ++ timed
    val failed = timed.count(_.errors.nonEmpty)
    val ok = timed.filter(_.errors.isEmpty)
    val plain = ok.filter(!_.traced)
    val walls = plain.map(_.wallS)
    // traced and untraced units must submit the same jobs: the listeners start none
    val jobMismatch = ok.count(t => t.traced && plain.exists(_.jobs != t.jobs))
    val correct = all.forall(_.errors.isEmpty) && jobMismatch == 0

    val metrics: Seq[(String, Double, String)] =
      if (!traced) Seq(
        ("setup_s", setupS, "s"),
        ("wall_s", median(walls), "s"),
        ("rows_per_s", wl.inputRows * plain.size / plain.map(_.wallS).sum, "1/s"))
      else {
        val tracedUnits = ok.filter(_.traced)
        Tracer.LayerNames.map(n => (n, median(tracedUnits.map(_.layer.getOrElse(n, 0.0))), unitOf(n))) ++ Seq(
          ("retained_mb", median(tracedUnits.map(_.retainedMb)), "MB"),
          ("trace.overhead_s", median(tracedUnits.map(_.wallS)) - median(walls), "s"),
          ("trace.span_cover", tracedUnits.map(u => u.layer("trace.span_wall_s") / u.wallS)
            .minOption.getOrElse(0.0), "frac"),
          ("trace.job_mismatch", jobMismatch.toDouble, "count"))
      }

    // Report for a reader: every end-to-end figure, including those that
    // cannot be bounded metrics (the tail needs many units, failed_frac
    // and retained_mb are 0 on a healthy run).
    val tail = tailPercentile(walls)
    val report = new StringBuilder
    report ++= s"""{"workload":"$name","trace":$traced,"setup_s":$setupS,"cores":$cores,"""
    report ++= s""""units":${timed.size},"warmup_units":${warm.size},"failed":$failed,"""
    report ++= s""""failed_frac":${failed.toDouble / timed.size},"""
    report ++= s""""retained_mb_median":${median(timed.map(_.retainedMb))},"""
    report ++= s""""wall_tail_s":${tail.map(_._1).getOrElse(-1.0)},"""
    report ++= s""""wall_tail_pct":${tail.map(_._2).getOrElse(-1.0)},"wall_tail_samples":${walls.size},"""
    report ++= s""""warmup_walls_s":${warm.map(_.wallS).mkString("[", ",", "]")},"""
    report ++= s""""unit_walls_s":${timed.map(u => s"""[${u.traced},${u.wallS},${u.jobs}]""").mkString("[", ",", "]")},"""
    report ++= s""""spans":${tracer.spans.map(s =>
      s"""{"unit":${s.unit},"name":"${s.name}","start_ms":${s.startMs},"end_ms":${s.endMs},"wall_s":${s.wallNs / 1e9},"gc_s":${s.gcMs / 1e3}}""")
      .mkString("[", ",", "]")}}"""
    Files.write(Paths.get(o("report")), report.toString.getBytes(StandardCharsets.UTF_8))

    val json = metrics.map { case (n, v, u) => s""""$n":{"value":${num(v)},"unit":"$u"}""" }
      .mkString(s"""{"correct":$correct,"attempted":${timed.size},"failed":$failed,"metrics":{""", ",", "}}")
    spark.stop()
    println(s"PERFBENCH_RESULT $json")
  }

  /** Waits (at most `maxMs`) until the JIT has compiled nothing for 200 ms,
    * so compilations the warm-up queued do not run inside timed units.
    */
  private def awaitCompilerIdle(maxMs: Long): Unit = {
    val jit = java.lang.management.ManagementFactory.getCompilationMXBean
    val end = System.currentTimeMillis() + maxMs
    var last = -1L
    while (System.currentTimeMillis() < end && jit.getTotalCompilationTime != last) {
      last = jit.getTotalCompilationTime
      Thread.sleep(200)
    }
  }

  private def num(v: Double): String = if (v.isNaN || v.isInfinite) "0" else v.toString

  def median(xs: Iterable[Double]): Double = {
    val sorted = xs.toIndexedSeq.sorted
    if (sorted.isEmpty) 0.0
    else if (sorted.size % 2 == 1) sorted(sorted.size / 2)
    else (sorted(sorted.size / 2 - 1) + sorted(sorted.size / 2)) / 2
  }

  /** The highest percentile with at least ten samples beyond it, as
    * (value, percentile); None with fewer than eleven samples.
    */
  def tailPercentile(xs: Iterable[Double]): Option[(Double, Double)] = {
    val sorted = xs.toIndexedSeq.sorted
    if (sorted.size < 11) None
    else Some((sorted(sorted.size - 11), 100.0 * (sorted.size - 10) / sorted.size))
  }

  private def unitOf(metric: String): String = metric.split('.').last match {
    case m if m.endsWith("_s") => "s"
    case m if m.endsWith("_mb") => "MB"
    case m if m.endsWith("_frac") || m == "match_yield" => "frac"
    case _ => "count"
  }

  private def deleteTree(f: File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }
}
