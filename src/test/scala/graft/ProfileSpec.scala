package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd}

/** Smoke test of the one profiling main, so it cannot rot unseen. */
class ProfileSpec extends SparkTestBase {

  test("Profile reports plan, wall time and jobs for one gate, then removes its listener") {
    val recorder = new Profile.JobRecorder
    val Seq(r) = Profile(spark, "/root/testdata/sf0.001", Set("q_j8_match_1to1"), recorder)
    assert(r.gate == "q_j8_match_1to1")
    assert(r.plan.contains("Physical Plan"), r.plan)
    assert(r.wallS > 0)
    assert(r.jobs.nonEmpty && r.jobs.forall(j => j.tasks > 0 && j.seconds >= 0))
    // jobs are labelled by the operators they run, not by the call site
    // of the AQE thread that submitted them
    assert(r.jobs.forall(j => j.desc.nonEmpty && !j.desc.contains("CompletableFuture")),
      r.jobs.map(_.desc).mkString("\n"))

    // a job after Profile returns reaches a probe listener but not the recorder
    val seen = recorder.jobs.size
    val ended = new CountDownLatch(1)
    val probe = new SparkListener {
      override def onJobEnd(j: SparkListenerJobEnd): Unit = ended.countDown()
    }
    spark.sparkContext.addSparkListener(probe)
    try {
      spark.range(10).count()
      assert(ended.await(60, TimeUnit.SECONDS))
    } finally spark.sparkContext.removeSparkListener(probe)
    assert(recorder.jobs.size == seen)
  }
}
