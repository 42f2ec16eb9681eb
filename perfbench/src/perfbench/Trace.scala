package perfbench

import scala.collection.mutable

import org.apache.spark.{PerfbenchBus, SparkContext}
import org.apache.spark.scheduler._

/** One closed span: a timed call into the engine. Times are epoch ms
  * (the clock Spark's events use); `secs` is the nanosecond wall.
  */
final case class Span(id: Int, name: String, parent: Int, startMs: Long, endMs: Long, secs: Double)

final case class JobRec(group: String, startMs: Long, endMs: Long, failed: Boolean)

final case class StageRec(id: Int, group: String, name: String, tasks: Int,
    submitMs: Long, endMs: Long, failed: Boolean)

final case class TaskRec(stage: Int, secs: Double, gcSecs: Double, shuffleRead: Long,
    shuffleWrite: Long, spill: Long, inBytes: Long, inRecords: Long, outBytes: Long)

/** Span and counter recorder. Every span is timed; when `traced`, each
  * span also runs under its own Spark job group and a listener
  * attributes jobs, stages and tasks to the innermost open span. All
  * records stay in memory until [[finish]].
  */
final class Tracer(sc: SparkContext, val traced: Boolean) {
  private val closed = mutable.ArrayBuffer.empty[Span]
  private var open = List.empty[(Int, String)] // innermost first
  private var nextId = 0
  private val jobs = mutable.ArrayBuffer.empty[JobRec]
  private val stages = mutable.ArrayBuffer.empty[StageRec]
  private val tasks = mutable.ArrayBuffer.empty[TaskRec]

  private def group(p: java.util.Properties): String =
    Option(p).flatMap(x => Option(x.getProperty("spark.jobGroup.id"))).getOrElse("")

  private object listener extends SparkListener {
    private val jobStart = mutable.Map.empty[Int, (String, Long)]
    private val stageGroup = mutable.Map.empty[(Int, Int), String]
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      jobStart(e.jobId) = (group(e.properties), e.time)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobStart.remove(e.jobId).foreach { case (g, t) =>
        jobs += JobRec(g, t, e.time, e.jobResult != JobSucceeded)
      }
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
      stageGroup((e.stageInfo.stageId, e.stageInfo.attemptNumber())) = group(e.properties)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      val i = e.stageInfo
      stages += StageRec(i.stageId, stageGroup.remove((i.stageId, i.attemptNumber())).getOrElse(""),
        i.name, i.numTasks, i.submissionTime.getOrElse(0L), i.completionTime.getOrElse(0L),
        i.failureReason.isDefined)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      val m = e.taskMetrics
      if (m != null) tasks += TaskRec(e.stageId, e.taskInfo.duration / 1e3, m.jvmGCTime / 1e3,
        m.shuffleReadMetrics.totalBytesRead, m.shuffleWriteMetrics.bytesWritten,
        m.memoryBytesSpilled + m.diskBytesSpilled, m.inputMetrics.bytesRead,
        m.inputMetrics.recordsRead, m.outputMetrics.bytesWritten)
    }
  }

  if (traced) sc.addSparkListener(listener)

  private def groupId(id: Int) = s"perfbench-$id"

  /** Run `f` as a span; returns its result and wall seconds. */
  def span[A](name: String)(f: => A): (A, Double) = {
    val id = nextId
    nextId += 1
    val parent = open.headOption.map(_._1).getOrElse(-1)
    val (startMs, startNs) = (System.currentTimeMillis(), System.nanoTime())
    open = (id, name) :: open
    if (traced) sc.setJobGroup(groupId(id), name, interruptOnCancel = false)
    var secs = 0.0
    val a = try f finally {
      secs = (System.nanoTime() - startNs) / 1e9
      closed += Span(id, name, parent, startMs, System.currentTimeMillis(), secs)
      open = open.tail
      if (traced) open.headOption match {
        case Some((p, pname)) => sc.setJobGroup(groupId(p), pname, interruptOnCancel = false)
        case None => sc.clearJobGroup()
      }
    }
    (a, secs)
  }

  /** Waits for the listener bus, detaches, and returns the records. */
  def finish(): Trace = {
    if (traced) {
      PerfbenchBus.drain(sc)
      sc.removeSparkListener(listener)
    }
    listener.synchronized {
      Trace(closed.toVector.sortBy(_.id), jobs.toVector, stages.toVector, tasks.toVector, groupId)
    }
  }
}

/** The recorded spans and the Spark work attributed to them. */
final case class Trace(spans: Vector[Span], jobs: Vector[JobRec], stages: Vector[StageRec],
    tasks: Vector[TaskRec], groupId: Int => String) {

  private lazy val children: Map[Int, Vector[Span]] = spans.groupBy(_.parent)

  private def subtree(s: Span): Vector[Span] =
    s +: children.getOrElse(s.id, Vector.empty).flatMap(subtree)

  /** Spans with this name (or under a name prefix ending in '.'). */
  def named(name: String): Vector[Span] =
    spans.filter(s => if (name.endsWith(".")) s.name.startsWith(name) else s.name == name)

  private def groups(ss: Seq[Span]): Set[String] = ss.flatMap(subtree).map(s => groupId(s.id)).toSet

  def jobsOf(ss: Seq[Span]): Vector[JobRec] = { val g = groups(ss); jobs.filter(j => g(j.group)) }
  def stagesOf(ss: Seq[Span]): Vector[StageRec] = { val g = groups(ss); stages.filter(s => g(s.group)) }
  def tasksOf(ss: Seq[Span]): Vector[TaskRec] = tasksOfStages(stagesOf(ss))
  def tasksOfStages(st: Seq[StageRec]): Vector[TaskRec] = {
    val ids = st.map(_.id).toSet
    tasks.filter(t => ids(t.stage))
  }

  /** Span wall not covered by any of its Spark jobs (driver-only time). */
  def driverSecs(s: Span): Double = {
    val iv = jobsOf(Seq(s)).map(j => (math.max(j.startMs, s.startMs), math.min(j.endMs, s.endMs)))
      .filter(x => x._2 > x._1).sortBy(_._1)
    var covered = 0L
    var (curS, curE) = (Long.MinValue, Long.MinValue)
    iv.foreach { case (a, b) =>
      if (a > curE) { if (curE > curS) covered += curE - curS; curS = a; curE = b }
      else curE = math.max(curE, b)
    }
    if (curE > curS) covered += curE - curS
    math.max(0.0, s.secs - covered / 1e3)
  }

  /** Span wall minus the wall of its direct children. */
  def selfSecs(s: Span): Double = s.secs - children.getOrElse(s.id, Vector.empty).map(_.secs).sum

  def toJson: String = Json.render(Map(
    "spans" -> spans.map { s =>
      val t = tasksOf(Seq(s))
      Map("id" -> s.id, "name" -> s.name, "parent" -> s.parent, "start_ms" -> s.startMs,
        "end_ms" -> s.endMs, "wall_s" -> s.secs, "self_s" -> selfSecs(s),
        "jobs" -> jobsOf(Seq(s)).size, "failed_jobs" -> jobsOf(Seq(s)).count(_.failed),
        "tasks" -> t.size, "task_s_sum" -> t.map(_.secs).sum,
        "task_s_max" -> (if (t.isEmpty) 0.0 else t.map(_.secs).max),
        "shuffle_write_bytes" -> t.map(_.shuffleWrite).sum, "spill_bytes" -> t.map(_.spill).sum,
        "input_bytes" -> t.map(_.inBytes).sum, "output_bytes" -> t.map(_.outBytes).sum)
    },
    "stages" -> stages.map { st =>
      val t = tasksOfStages(Seq(st)).map(_.secs).sorted
      Map("id" -> st.id, "group" -> st.group, "name" -> st.name, "tasks" -> st.tasks,
        "wall_s" -> (st.endMs - st.submitMs) / 1e3, "failed" -> st.failed,
        "task_s_max" -> t.lastOption.getOrElse(0.0), "task_s_p50" -> Stats.median(t))
    }))
}
