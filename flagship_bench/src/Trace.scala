package graftbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._

final case class Span(id: Int, name: String, parent: Int, start: Double, end: Double)

/** In-memory spans: name, start, end (epoch ms), parent span (-1 at the
  * top), all under one run id. A disabled tracer records nothing. */
final class Tracer(val runId: String, enabled: Boolean) {

  private val spans = scala.collection.mutable.ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private val epoch0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  def nowMs: Double = epoch0 + (System.nanoTime() - nano0) / 1e6

  def span[T](name: String)(body: => T): T = if (!enabled) body else {
    val id = spans.length
    val start = nowMs
    spans += Span(id, name, stack.headOption.getOrElse(-1), start, Double.NaN)
    stack = id :: stack
    try body
    finally {
      stack = stack.tail
      spans(id) = spans(id).copy(end = nowMs)
    }
  }

  def all: Seq[Span] = spans.toSeq
}

final case class Job(id: Int, submitted: Long, stageIds: Seq[Int], end: Long)
final case class Stage(
    id: Int, attempt: Int, name: String, rddNames: Seq[String], numTasks: Int,
    submitted: Long, completed: Long)
final case class Task(
    stageId: Int, launch: Long, finish: Long, runMs: Long, cpuNs: Long, gcMs: Long,
    shuffleWrite: Long, shuffleRead: Long, diskSpill: Long, memSpill: Long, ok: Boolean)

/** The jobs submitted inside one operation's wall interval, their
  * completed stages and those stages' tasks. */
final case class Window(jobs: Seq[Job], stages: Seq[Stage], tasks: Seq[Task]) {
  def ++(o: Window): Window = Window(jobs ++ o.jobs, stages ++ o.stages, tasks ++ o.tasks)
  def lastJobEnd: Long = if (jobs.isEmpty) -1L else jobs.map(_.end).max
}

/** Job, stage and task metrics from one SparkContext's listener bus.
  * Attribution to a benchmark operation is by time: jobs submitted inside
  * its wall interval are its jobs (operations run one at a time). */
final class JobListener extends SparkListener {
  private val jobs = new ConcurrentLinkedQueue[Job]()
  private val jobEnds = new java.util.concurrent.ConcurrentHashMap[Int, java.lang.Long]()
  private val stages = new ConcurrentLinkedQueue[Stage]()
  private val tasks = new ConcurrentLinkedQueue[Task]()

  override def onJobStart(e: SparkListenerJobStart): Unit =
    jobs.add(Job(e.jobId, e.time, e.stageInfos.map(_.stageId), -1L))
  override def onJobEnd(e: SparkListenerJobEnd): Unit = jobEnds.put(e.jobId, e.time)
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val s = e.stageInfo
    stages.add(Stage(s.stageId, s.attemptNumber(), s.name, s.rddInfos.map(_.name), s.numTasks,
      s.submissionTime.getOrElse(-1L), s.completionTime.getOrElse(-1L)))
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null)
      tasks.add(Task(e.stageId, e.taskInfo.launchTime, e.taskInfo.finishTime,
        m.executorRunTime, m.executorCpuTime, m.jvmGCTime,
        m.shuffleWriteMetrics.bytesWritten, m.shuffleReadMetrics.totalBytesRead,
        m.diskBytesSpilled, m.memoryBytesSpilled, e.taskInfo.successful))
  }

  /** wait until every job seen so far has ended and the bus has gone
    * quiet (events are delivered asynchronously) */
  def drain(): Unit = {
    val deadline = System.currentTimeMillis() + 10000
    var quietRounds = 0
    var lastSeen = -1
    while (quietRounds < 3 && System.currentTimeMillis() < deadline) {
      Thread.sleep(20)
      val seen = jobs.size + jobEnds.size + tasks.size
      val settled = jobs.asScala.forall(j => jobEnds.containsKey(j.id))
      if (settled && seen == lastSeen) quietRounds += 1 else quietRounds = 0
      lastSeen = seen
    }
  }

  def allJobs: Seq[Job] = jobs.asScala.toSeq.map(j => j.copy(end = jobEnds.getOrDefault(j.id, -1L)))
  def allStages: Seq[Stage] = stages.asScala.toSeq
  def allTasks: Seq[Task] = tasks.asScala.toSeq

  /** jobs submitted in [from, to] (epoch ms) */
  def window(from: Double, to: Double): Window = {
    val js = allJobs.filter(j => j.submitted >= math.floor(from) && j.submitted <= math.ceil(to))
    val stageIds = js.flatMap(_.stageIds).toSet
    Window(js, allStages.filter(s => stageIds(s.id)), allTasks.filter(t => stageIds(t.stageId)))
  }
}

/** One [[JobListener]] per SparkContext (job and stage ids restart with
  * each context), attached only around traced operations. */
final class Listeners {
  private val bySc =
    scala.collection.mutable.LinkedHashMap.empty[org.apache.spark.SparkContext, JobListener]

  def traced[T](sc: org.apache.spark.SparkContext, on: Boolean)(body: => T): T =
    if (!on) body
    else {
      val l = bySc.getOrElseUpdate(sc, new JobListener)
      sc.addSparkListener(l)
      try body finally { l.drain(); sc.removeSparkListener(l) }
    }

  def window(from: Double, to: Double): Window =
    bySc.values.map(_.window(from, to)).foldLeft(Window(Nil, Nil, Nil))(_ ++ _)

  def all: Seq[JobListener] = bySc.values.toSeq
}
