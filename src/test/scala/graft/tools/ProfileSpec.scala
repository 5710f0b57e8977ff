package graft.tools

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import graft.engine.{BenchPipeline, SparkTestBase}

/** Profile's one listener: the profiled pipeline action counts what the
  * bench action counts, its plan holds one cell join, the listener sees its
  * stages and jobs, and it is gone from the shared session once the run
  * returns. */
class ProfileSpec extends AnyFunSuite {
  val spark = SparkTestBase.spark

  test("pipeline run records stages and job spans, counts as pipelineCounts, detaches") {
    val n = 2000L
    val expected = BenchPipeline.pipelineCounts(spark, n)
    val l = new Profile.Listener
    val r = Profile.pipeline(spark, n, l)
    assert(r.result._1 == expected)
    // one cell join feeds both match legs
    assert(r.result._2.cellJoins == 1, r.result._2)
    assert(r.stages.nonEmpty, "empty stage table")
    assert(r.stages.map(_.runMs).sum > 0, s"no executor time: ${r.stages}")
    assert(r.jobs.nonEmpty && r.jobs.forall(j => j.endMs >= j.startMs), r.jobs)

    // a job after the run reaches a probe listener; listener events arrive
    // in order, so a still-attached profile listener would have seen it too
    val sc = spark.sparkContext
    val group = s"profile-detach-${System.nanoTime}"
    @volatile var job = -1
    @volatile var seen = false
    val probe = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).map(_.getProperty("spark.jobGroup.id")).contains(group))
          job = e.jobId
      override def onJobEnd(e: SparkListenerJobEnd): Unit = if (e.jobId == job) seen = true
    }
    sc.addSparkListener(probe)
    try {
      sc.setJobGroup(group, "after the profiled run")
      sc.parallelize(1 to 10, 2).count()
      val deadline = System.nanoTime + 30L * 1000000000L
      while (!seen && System.nanoTime < deadline) Thread.sleep(20)
      assert(seen, "probe listener did not see the job")
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(probe)
    }
    assert(l.synchronized(l.jobs.size) == r.jobs.size, "the profile listener outlived its run")
  }
}
