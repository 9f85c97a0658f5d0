package graft

import org.scalatest.funsuite.AnyFunSuite

/** The session `GraftSession.local` builds keeps a bounded status store. */
class GraftSessionSpec extends AnyFunSuite {
  import SparkTestSession._

  test("the status store keeps at most RetainedJobs jobs") {
    val sc = spark.sparkContext
    (1 to GraftSession.RetainedJobs + 20).foreach(_ =>
      sc.parallelize(Seq(1), 1).count())
    // the store trims itself asynchronously, after the listener bus
    // delivers the job-end events
    val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
    def kept = sc.statusTracker.getJobIdsForGroup(null).length
    while (kept > GraftSession.RetainedJobs && System.nanoTime() < deadline)
      Thread.sleep(50)
    assert(kept <= GraftSession.RetainedJobs,
      s"$kept jobs kept, bound ${GraftSession.RetainedJobs}")
  }
}
