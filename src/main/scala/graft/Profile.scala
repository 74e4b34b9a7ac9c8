package graft

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue, CountDownLatch, TimeUnit}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, StageInfo}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ExplainMode

/** Dev tool: profile one or more catalog gates. For each gate it prints
  * the formatted physical plan, the wall time of a FRESH construction +
  * noop write after one untimed warm-up write (eager work inside the
  * query fn — checkpoints, iterative convergence loops — is part of its
  * cost, as in Bench), and the Spark jobs that write ran: count, Σjob
  * time, the driver gap (wall − Σjob: analysis, planning and scheduling
  * on the driver) and the slowest jobs with their stage and task counts,
  * each labelled by the SQL operators its final stage runs.
  *
  * Usage: runMain graft.Profile <sfDir> <gate> [gate ...]
  */
object Profile {

  final case class Job(id: Int, seconds: Double, stages: Int, tasks: Int, desc: String)

  final case class Report(gate: String, plan: String, wallS: Double, jobs: Seq[Job]) {
    def driverGapS: Double = wallS - jobs.map(_.seconds).sum
  }

  private val MarkerGroup = "graft.Profile.marker"

  /** Records every finished job except the marker job, whose end releases
    * `drained`: the listener bus delivers events in order, so once the
    * marker has ended every earlier job's events have arrived.
    */
  private[graft] final class JobRecorder extends SparkListener {
    private val started = new ConcurrentHashMap[Int, (Long, Job)]()
    val jobs = new ConcurrentLinkedQueue[Job]()
    @volatile private var markerId = -1
    @volatile private var drained = new CountDownLatch(1)

    override def onJobStart(j: SparkListenerJobStart): Unit =
      if (Option(j.properties).exists(_.getProperty("spark.jobGroup.id") == MarkerGroup))
        markerId = j.jobId
      else started.put(j.jobId, (j.time, Job(j.jobId, 0.0, j.stageInfos.size,
        j.stageInfos.map(_.numTasks).sum, jobLabel(j.stageInfos))))

    override def onJobEnd(j: SparkListenerJobEnd): Unit =
      if (j.jobId == markerId) drained.countDown()
      else Option(started.remove(j.jobId)).foreach { case (t0, job) =>
        jobs.add(job.copy(seconds = math.max(0L, j.time - t0) / 1e3))
      }

    /** Run the marker job and wait until its end event has arrived. */
    def drain(spark: SparkSession): Unit = {
      drained = new CountDownLatch(1)
      val sc = spark.sparkContext
      sc.setJobGroup(MarkerGroup, "profile: listener-bus drain marker")
      try sc.parallelize(Seq(0), 1).count() finally sc.clearJobGroup()
      drained.await(60, TimeUnit.SECONDS)
    }
  }

  /** A job's label: the distinct RDD operation scopes of its final stage
    * (the SQL operators it runs, e.g. `Exchange | WholeStageCodegen (2)`;
    * earlier stages may be skipped shuffle reuse). Stage call sites name
    * the AQE stage thread for most SQL jobs, so they are only the
    * fallback for a stage whose RDDs carry no scope.
    */
  private def jobLabel(stages: Seq[StageInfo]): String =
    stages.maxByOption(_.stageId).fold("") { last =>
      val scopes = last.rddInfos.sortBy(_.id).flatMap(_.scope.map(_.name)).distinct
      if (scopes.nonEmpty) scopes.mkString(" | ") else last.name.takeWhile(_ != '+').trim
    }

  /** Profile `gates` (catalog names, in catalog order) with a listener
    * that is removed again before this returns.
    */
  private[graft] def apply(spark: SparkSession, sfDir: String, gates: Set[String],
                            recorder: JobRecorder = new JobRecorder): Seq[Report] = {
    spark.sparkContext.addSparkListener(recorder)
    try SparkEntry.catalog.filter(q => gates(q.name)).map { q =>
      val df = q.fn(spark, sfDir)
      val plan = df.queryExecution.explainString(ExplainMode.fromString("formatted"))
      // untimed warm-up: the gate's first Janino compile and JIT must not
      // land in the timed write
      df.write.format("noop").mode("overwrite").save()
      scrub(spark)
      recorder.drain(spark)
      recorder.jobs.clear()
      val t0 = System.nanoTime()
      q.fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      val wall = (System.nanoTime() - t0) / 1e9
      recorder.drain(spark)
      scrub(spark)
      Report(q.name, plan, wall, recorder.jobs.asScala.toSeq.sortBy(_.id))
    } finally spark.sparkContext.removeSparkListener(recorder)
  }

  /** Drop what a run left cached or checkpointed. */
  private def scrub(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }

  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: graft.Profile <sfDir> <gate> [gate ...]")
    val spark = Session()
    try Profile(spark, args.head, args.tail.toSet).foreach { r =>
      println(s"==== ${r.gate} ====")
      println(r.plan)
      println(f"==== ${r.gate}: wall ${r.wallS}%.2f s, jobs ${r.jobs.size}, " +
        f"sum(job) ${r.jobs.map(_.seconds).sum}%.2f s, driver-gap ${r.driverGapS}%.2f s ====")
      r.jobs.sortBy(-_.seconds).take(12).foreach { j =>
        println(f"  job ${j.id}%4d  ${j.seconds}%6.2f s  " +
          f"stages=${j.stages}%2d tasks=${j.tasks}%4d  ${j.desc.take(90)}")
      }
    } finally spark.stop()
  }
}
