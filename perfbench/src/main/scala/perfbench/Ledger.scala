package perfbench

import scala.collection.mutable
import org.apache.spark.SparkContext
import org.apache.spark.perfbench.SparkInternals
import org.apache.spark.scheduler._

/** One timed region of the benchmark: wall time on the driver thread, the
  * span that encloses it, and the run (trace) it belongs to. Self time is
  * the span's wall time minus the wall time of its direct children.
  */
final case class Span(id: Int, name: String, parent: Int, traceId: String,
                      startMs: Long, endMs: Long, wallS: Double)

/** Per-job facts from the listener. */
final case class JobRec(id: Int, group: String, submitMs: Long,
                        stageIds: Seq[Int])

/** Per-task facts from the listener (times in ms, sizes in bytes). */
final case class TaskRec(stageId: Int, launchMs: Long, finishMs: Long,
                         runMs: Long, gcMs: Long, shuffleRead: Long,
                         shuffleWrite: Long, spill: Long)

/** Aggregate cost of a set of jobs. */
final case class Cost(jobs: Int, stages: Int, tasks: Int, taskBusyS: Double,
                      gcS: Double, shuffleReadMb: Double,
                      shuffleWriteMb: Double, spillMb: Double)

/** Per-layer cost ledger: a SparkListener that records jobs, completed
  * stages and finished tasks, plus a stack of named spans on the driver
  * thread. Each span sets the job group to its own id, so a job is billed
  * to the span that submitted it; jobs submitted from other threads (whose
  * group is not a span id) are billed to the innermost span that was open
  * when they were submitted.
  */
final class Ledger(sc: SparkContext, val traceId: String) extends SparkListener {
  private val jobs = mutable.ArrayBuffer.empty[JobRec]
  private val stages = mutable.ArrayBuffer.empty[Int]
  private val tasks = mutable.ArrayBuffer.empty[TaskRec]
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var nextId = 0
  private val prefix = "perfbench-span-"
  private val JobGroup = "spark.jobGroup.id"

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val group = Option(e.properties)
      .flatMap(p => Option(p.getProperty(JobGroup)))
      .getOrElse("")
    jobs += JobRec(e.jobId, group, e.time, e.stageIds)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized { stages += e.stageInfo.stageId }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) tasks += TaskRec(e.stageId, e.taskInfo.launchTime,
      e.taskInfo.finishTime, m.executorRunTime, m.jvmGCTime,
      m.shuffleReadMetrics.totalBytesRead,
      m.shuffleWriteMetrics.bytesWritten,
      m.diskBytesSpilled + m.memoryBytesSpilled)
  }

  /** Run `body` inside a span named `name`; nested calls become children. */
  def span[T](name: String)(body: => T): T = {
    val id = synchronized { nextId += 1; nextId }
    val parent = stack.headOption.getOrElse(0)
    val outerGroup = sc.getLocalProperty(JobGroup)
    sc.setJobGroup(prefix + id, name)
    val t0 = System.nanoTime()
    val startMs = System.currentTimeMillis()
    stack = id :: stack
    try body
    finally {
      val wall = (System.nanoTime() - t0) / 1e9
      stack = stack.tail
      synchronized {
        spans += Span(id, name, parent, traceId, startMs,
          System.currentTimeMillis(), wall)
      }
      if (outerGroup == null) sc.clearJobGroup()
      else sc.setJobGroup(outerGroup, "")
    }
  }

  /** Block until the listener has seen every event posted so far. */
  def drain(): Unit = SparkInternals.drainListeners(sc)

  def allSpans: Seq[Span] = synchronized(spans.toList)

  def named(name: String): Seq[Span] = allSpans.filter(_.name == name)

  /** Wall time of `s` minus the wall time of its direct children. */
  def selfTime(s: Span): Double =
    s.wallS - allSpans.filter(_.parent == s.id).map(_.wallS).sum

  /** Ids of `s` and every span nested in it. */
  private def subtree(s: Span): Set[Int] = {
    val all = allSpans
    var ids = Set(s.id)
    var grew = true
    while (grew) {
      val more = all.filter(c => ids.contains(c.parent)).map(_.id).toSet -- ids
      grew = more.nonEmpty
      ids ++= more
    }
    ids
  }

  /** The span a job is billed to: its group's span, or else the innermost
    * span open at submission time.
    */
  private def owner(j: JobRec): Option[Int] =
    if (j.group.startsWith(prefix)) Some(j.group.stripPrefix(prefix).toInt)
    else allSpans.filter(s => s.startMs <= j.submitMs && j.submitMs <= s.endMs)
      .sortBy(s => s.endMs - s.startMs).headOption.map(_.id)

  /** Jobs billed to the given spans and everything nested in them. */
  def jobsOf(ss: Seq[Span]): Seq[JobRec] = {
    val ids = ss.flatMap(subtree).toSet
    synchronized(jobs.toList).filter(j => owner(j).exists(ids.contains))
  }

  def cost(js: Seq[JobRec]): Cost = {
    val stageIds = js.flatMap(_.stageIds).toSet
    val ran = synchronized(stages.toList).filter(stageIds.contains)
    val ts = synchronized(tasks.toList).filter(t => stageIds.contains(t.stageId))
    val mb = 1024.0 * 1024.0
    Cost(js.size, ran.size, ts.size, ts.map(_.runMs).sum / 1e3,
      ts.map(_.gcMs).sum / 1e3, ts.map(_.shuffleRead).sum / mb,
      ts.map(_.shuffleWrite).sum / mb, ts.map(_.spill).sum / mb)
  }

  /** Seconds of [fromMs, toMs] during which no task was running. */
  def idleS(fromMs: Long, toMs: Long): Double = {
    val iv = synchronized(tasks.toList)
      .map(t => (t.launchMs max fromMs, t.finishMs min toMs))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var busy = 0L
    var curA = -1L
    var curB = -1L
    iv.foreach { case (a, b) =>
      if (a > curB) { busy += curB - curA; curA = a; curB = b }
      else curB = curB max b
    }
    busy += curB - curA
    ((toMs - fromMs) - busy) / 1e3
  }

  /** Spans as JSON lines (name, start, end, parent, trace id, self time). */
  def spansJson: Seq[String] = allSpans.sortBy(_.id).map { s =>
    Json(Map("id" -> s.id, "name" -> s.name, "parent" -> s.parent,
      "trace" -> s.traceId, "start_ms" -> s.startMs, "end_ms" -> s.endMs,
      "wall_s" -> s.wallS, "self_s" -> selfTime(s)))
  }
}
