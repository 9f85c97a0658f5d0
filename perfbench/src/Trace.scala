package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.{SparkContext, Success}
import org.apache.spark.scheduler._

/** One timed call. `parent` is the enclosing span's id (0 at the top). */
final case class Span(id: Int, name: String, parent: Int, iteration: Int,
    traced: Boolean, startMs: Long, endMs: Long) {
  def wallS: Double = (endMs - startMs) / 1000.0
}

/** Records spans around the benchmark's calls into graft. When `traced`
  * is set for a call, the call's Spark jobs run under the job group
  * `pb-<span id>`, which [[LayerListener]] uses to attribute work. */
final class Tracer(sc: SparkContext) {
  private val done = mutable.ArrayBuffer[Span]()
  private var stack = List.empty[Int]
  private var nextId = 1
  var traced = false
  var iteration = 0

  def spans: Seq[Span] = done.toSeq

  def span[T](name: String)(body: => T): T = {
    val id = nextId
    nextId += 1
    val parent = stack.headOption.getOrElse(0)
    stack = id :: stack
    if (traced) sc.setJobGroup(s"pb-$id", name)
    val t0 = System.currentTimeMillis()
    try body
    finally {
      val t1 = System.currentTimeMillis()
      stack = stack.tail
      if (traced) stack.headOption match {
        case Some(p) => sc.setJobGroup(s"pb-$p", "")
        case None => sc.clearJobGroup()
      }
      done += Span(id, name, parent, iteration, traced, t0, t1)
    }
  }
}

/** Task-metric totals of one job group. */
final class GroupStats {
  var tasks = 0L
  var failedTasks = 0L
  var cpuNs = 0L
  var schedMs = 0L
  var gcMs = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var ioBytes = 0L
}

/** A job's group and its submit and end times. */
final case class JobSpan(group: String, startMs: Long, endMs: Long)

/** The one listener the traced run attaches: job intervals by group, and
  * task metrics by the group of the stage that ran them. */
final class LayerListener extends SparkListener {
  val jobs = new ConcurrentHashMap[Int, JobSpan]()
  val groups = new ConcurrentHashMap[String, GroupStats]()
  private val stageGroup = new ConcurrentHashMap[Int, String]()

  private def groupOf(p: java.util.Properties): String =
    Option(p).flatMap(x => Option(x.getProperty("spark.jobGroup.id")))
      .getOrElse("")

  override def onJobStart(e: SparkListenerJobStart): Unit =
    jobs.put(e.jobId, JobSpan(groupOf(e.properties), e.time, -1L))

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(j => jobs.put(e.jobId, j.copy(endMs = e.time)))

  // a stage shared by several jobs runs its tasks for the job that
  // submits it, so tasks are attributed by the submitting group
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    stageGroup.put(e.stageInfo.stageId, groupOf(e.properties))

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val s = groups.computeIfAbsent(stageGroup.getOrDefault(e.stageId, ""),
      _ => new GroupStats)
    s.tasks += 1
    if (e.reason != Success) s.failedTasks += 1
    val m = e.taskMetrics
    val info = e.taskInfo
    if (m != null) {
      s.cpuNs += m.executorCpuTime
      s.gcMs += m.jvmGCTime
      s.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      s.spillBytes += m.diskBytesSpilled
      s.ioBytes += m.inputMetrics.bytesRead + m.outputMetrics.bytesWritten
      // the Spark UI's scheduler delay: task time not spent running,
      // deserializing or serializing the result
      if (info != null && info.finishTime > 0)
        s.schedMs += math.max(0L, info.duration - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime -
          (if (info.gettingResult) info.finishTime - info.gettingResultTime else 0L))
    }
  }

  def failedTasks: Long = groups.values().asScala.map(_.failedTasks).sum

  /** Blocks until every event posted before this call has reached the
    * listener: events arrive in order, so the end of one marker job
    * queues behind all of them. */
  def drain(sc: SparkContext): Unit = {
    val before = jobs.keySet().asScala.toSet
    sc.setJobGroup("pb-drain", "")
    sc.parallelize(Seq(1), 1).count()
    sc.clearJobGroup()
    val deadline = System.currentTimeMillis() + 30000
    def seen = jobs.asScala.exists { case (id, j) =>
      !before(id) && j.group == "pb-drain" && j.endMs >= 0 }
    while (!seen && System.currentTimeMillis() < deadline) Thread.sleep(5)
  }
}

object LayerReport {
  val metricNames: Seq[String] = Seq("wall_s", "driver_gap_s", "jobs", "tasks",
    "executor_cpu_s", "sched_delay_s", "shuffle_write_mb", "spill_mb", "gc_s",
    "io_mb")

  /** The 10 layer metrics of one traced span: the jobs of the span and of
    * every span nested in it. */
  def metrics(span: Span, all: Seq[Span], l: LayerListener): Map[String, Double] = {
    val children = all.groupBy(_.parent)
    def ids(s: Span): Seq[Int] = s.id +: children.getOrElse(s.id, Nil).flatMap(ids)
    val groups = ids(span).map(i => s"pb-$i").toSet
    val js = l.jobs.values().asScala.filter(j => groups(j.group)).toSeq
    val gs = groups.toSeq.flatMap(g => Option(l.groups.get(g)))
    // union of the jobs' intervals inside the span: time the span had at
    // least one job running; the rest is driver-side work
    val intervals = js.map(j => (math.max(j.startMs, span.startMs),
      math.min(if (j.endMs < 0) span.endMs else j.endMs, span.endMs)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L
    var reach = Long.MinValue
    intervals.foreach { case (a, b) =>
      val from = math.max(a, reach)
      if (b > from) covered += b - from
      reach = math.max(reach, b)
    }
    val mb = 1024.0 * 1024.0
    Map(
      "wall_s" -> span.wallS,
      "driver_gap_s" -> ((span.endMs - span.startMs) - covered) / 1000.0,
      "jobs" -> js.size.toDouble,
      "tasks" -> gs.map(_.tasks).sum.toDouble,
      "executor_cpu_s" -> gs.map(_.cpuNs).sum / 1e9,
      "sched_delay_s" -> gs.map(_.schedMs).sum / 1000.0,
      "shuffle_write_mb" -> gs.map(_.shuffleWriteBytes).sum / mb,
      "spill_mb" -> gs.map(_.spillBytes).sum / mb,
      "gc_s" -> gs.map(_.gcMs).sum / 1000.0,
      "io_mb" -> gs.map(_.ioBytes).sum / mb)
  }

  /** Self time: the span's wall minus the wall of the spans directly
    * inside it. */
  def selfS(span: Span, all: Seq[Span]): Double =
    span.wallS - all.filter(_.parent == span.id).map(_.wallS).sum
}
