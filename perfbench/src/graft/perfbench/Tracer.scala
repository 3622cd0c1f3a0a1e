package graft.perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** The Spark-layer probe: a listener that keeps job, stage and task
  * records in memory (only while attached) and summarises a time window
  * of them. Times are epoch milliseconds, as Spark reports them. */
final class Tracer(spark: SparkSession) extends SparkListener {
  final case class Job(start: Long, var end: Long)
  final case class Stage(name: String, details: String, parents: Seq[Int],
      submitted: Long, completed: Long)
  final case class Task(launch: Long, finish: Long, gcMs: Long,
      shuffleRead: Long, shuffleWrite: Long, spill: Long, accums: Map[String, Long])

  private val jobs = new java.util.concurrent.ConcurrentHashMap[Int, Job]()
  private val stages = new ConcurrentLinkedQueue[Stage]()
  private val tasks = new ConcurrentLinkedQueue[Task]()
  private var attached = false

  def isAttached: Boolean = synchronized(attached)
  def attach(): Unit = synchronized {
    if (!attached) { spark.sparkContext.addSparkListener(this); attached = true }
  }
  def detach(): Unit = synchronized {
    if (attached) { drain(); spark.sparkContext.removeSparkListener(this); attached = false }
  }
  /** Wait until every event posted so far has reached the listener. */
  def drain(): Unit = org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
  def now(): Long = System.currentTimeMillis()

  override def onJobStart(e: SparkListenerJobStart): Unit =
    jobs.put(e.jobId, Job(e.time, -1L))
  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.end = e.time)
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val s = e.stageInfo
    stages.add(Stage(s.name, s.details, s.parentIds,
      s.submissionTime.getOrElse(-1L), s.completionTime.getOrElse(-1L)))
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    val i = e.taskInfo
    if (m != null && i != null) {
      val acc = i.accumulables.iterator.flatMap { a =>
        (a.name, a.update) match {
          case (Some(n), Some(v: java.lang.Long)) if n.startsWith("graft.") => Some(n -> v.longValue)
          case _ => None
        }
      }.toMap
      tasks.add(Task(i.launchTime, i.finishTime, m.jvmGCTime,
        m.shuffleReadMetrics.totalBytesRead, m.shuffleWriteMetrics.bytesWritten,
        m.memoryBytesSpilled + m.diskBytesSpilled, acc))
    }
  }

  private def tasksIn(t0: Long, t1: Long): Seq[Task] =
    tasks.asScala.filter(t => t.launch >= t0 && t.finish <= t1).toSeq

  /** Sum of a graft.* task accumulator over a window; None when no task
    * in the window reported it (the counter does not exist). */
  def accumulator(name: String, t0: Long, t1: Long): Option[Long] = {
    val vs = tasksIn(t0, t1).flatMap(_.accums.get(name))
    if (vs.isEmpty) None else Some(vs.sum)
  }

  /** The spark.* per-layer metrics of a window in which `ops` operations
    * ran, all per operation where they are totals. */
  def sparkMetrics(run: Run, t0: Long, t1: Long, ops: Int): Unit = {
    drain()
    val ts = tasksIn(t0, t1)
    val js = jobs.values.asScala.filter(j => j.start >= t0 && j.end >= 0 && j.end <= t1).toSeq
    val wall = math.max(1L, t1 - t0).toDouble
    val taskMs = ts.map(t => (t.finish - t.launch).toDouble).sum
    run.metric("spark.jobs_per_op", js.size.toDouble / ops, "count")
    if (js.nonEmpty) run.metric("spark.job_ms_p50", Stats.median(js.map(j => (j.end - j.start).toDouble)), "ms")
    run.metric("spark.driver_gap_frac", 1.0 - covered(ts.map(t => (t.launch, t.finish))) / wall, "ratio")
    run.metric("spark.task_busy_frac", taskMs / (wall * run.cores), "ratio")
    if (taskMs > 0) run.metric("spark.gc_frac", ts.map(_.gcMs.toDouble).sum / taskMs, "ratio")
    run.metric("spark.shuffle_read_bytes", ts.map(_.shuffleRead.toDouble).sum / ops, "bytes")
    run.metric("spark.shuffle_write_bytes", ts.map(_.shuffleWrite.toDouble).sum / ops, "bytes")
    run.metric("spark.spill_bytes", ts.map(_.spill.toDouble).sum / ops, "bytes")
  }

  /** Stages that completed inside a window. */
  def stagesIn(t0: Long, t1: Long): Seq[Stage] = {
    drain()
    stages.asScala.filter(s => s.submitted >= t0 && s.completed >= 0 && s.completed <= t1).toSeq
  }

  /** Length of the union of intervals. */
  private def covered(iv: Seq[(Long, Long)]): Double = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total.toDouble
  }
}
