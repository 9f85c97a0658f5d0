package graft

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageCompleted, SparkListenerTaskEnd}

/** Counts the jobs started, stages completed and tasks ended on one
  * SparkContext — the one job counter Bench, the phase tools and the
  * specs share. Stages count on completion, so skipped stages (shuffle
  * reuse, cache hits) never count; tasks count every attempt that ran.
  * `compiles` counts the generated classes Spark compiled, i.e. misses
  * of its codegen cache (see [[JobCounter.compiles]]).
  *
  * {{{
  * val jc = JobCounter.attach(spark.sparkContext)
  * val before = jc.settled()
  * ... run something ...
  * val cost = jc.settled() - before
  * jc.detach()
  * }}}
  */
final class JobCounter private (sc: SparkContext) extends SparkListener {
  import JobCounter.Counts

  private val jobs = new AtomicLong()
  private val stages = new AtomicLong()
  private val tasks = new AtomicLong()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    jobs.incrementAndGet(); ()
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    stages.incrementAndGet(); ()
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet(); ()
  }

  private def now: Counts =
    Counts(jobs.get, stages.get, tasks.get, JobCounter.compiles())

  /** Listener events post asynchronously: snapshot once the counters are
    * stable (two reads 30 ms apart agree), waiting at most one second. */
  def settled(): Counts = {
    var last = now
    var waited = 0
    while (waited < 1000) {
      Thread.sleep(30); waited += 30
      val cur = now
      if (cur == last) return cur
      last = cur
    }
    last
  }

  /** Run `body` as a named phase and print one line with its wall time
    * and the jobs, stages, tasks and compiles it ran — the phase tools'
    * report. */
  def phase[T](label: String)(body: => T): T = {
    val c0 = now
    val t0 = System.nanoTime()
    val r = body
    val sec = (System.nanoTime() - t0) / 1e9
    println(f"PHASE $label%-22s $sec%8.3f s  ${settled() - c0}")
    r
  }

  def detach(): Unit = sc.removeSparkListener(this)
}

object JobCounter {
  final case class Counts(jobs: Long, stages: Long, tasks: Long,
      compiles: Long) {
    def -(o: Counts): Counts = Counts(jobs - o.jobs, stages - o.stages,
      tasks - o.tasks, compiles - o.compiles)
    override def toString: String =
      f"jobs=$jobs%3d stages=$stages%3d tasks=$tasks%4d compiles=$compiles%3d"
  }

  /** Generated classes compiled so far in this JVM (Spark's codegen
    * metrics; a compile is a codegen-cache miss). The count is JVM-wide,
    * not per SparkContext or per query: when queries run concurrently, as
    * in Verify, their compiles mix together. */
  def compiles(): Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
      .getCount

  def attach(sc: SparkContext): JobCounter = {
    val c = new JobCounter(sc)
    sc.addSparkListener(c)
    c
  }
}
