package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentLinkedQueue
import org.apache.spark.PerfbenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import scala.jdk.CollectionConverters._

/** Spark's own counters for one traced call: its top-level SQL
  * executions, its jobs and their tasks. `taskSkew` is the largest
  * max/median task time over the stages that ran two or more tasks (1.0
  * when none did). One query's broadcast jobs run beside its other jobs,
  * so job intervals overlap even when queries run one at a time.
  */
final case class Counters(queries: Seq[Counters.Query], jobRuns: Seq[Counters.Job],
    taskRuns: Seq[Counters.Task]) {
  def jobs: Int = jobRuns.size
  def tasks: Int = taskRuns.size
  def shuffleWriteBytes: Long = taskRuns.map(_.shuffleWrite).sum
  def taskSkew: Double = {
    val skews = taskRuns.groupBy(_.stage).values.filter(_.size >= 2).map { ts =>
      val med = Stats.median(ts.map(_.ms.toDouble))
      if (med > 0) ts.map(_.ms).max / med else 1.0
    }
    (skews ++ Seq(1.0)).max
  }
  def jobIntervals: Seq[(Long, Long)] = jobRuns.map(j => (j.start, j.end))
  def queryIntervals: Seq[(Long, Long)] = queries.map(q => (q.start, q.end))

  /** The queries and jobs that started between `start` and `end` (epoch
    * milliseconds, both included), and the tasks of those jobs.
    */
  def within(start: Long, end: Long): Counters = {
    val js = jobRuns.filter(j => j.start >= start && j.start <= end)
    val stages = js.flatMap(_.stages).toSet
    Counters(queries.filter(q => q.start >= start && q.start <= end), js,
      taskRuns.filter(t => stages(t.stage._1)))
  }
}

object Counters {
  /** A top-level SQL execution; `callSite` is Spark's long call site,
    * one stack frame a line.
    */
  final case class Query(start: Long, end: Long, callSite: String)
  final case class Job(start: Long, end: Long, stages: Seq[Int])
  final case class Task(stage: (Int, Int), ms: Long, shuffleWrite: Long)
}

/** A listener the benchmark registers in traced runs only. Events go into
  * a concurrent queue from the listener-bus thread; [[drain]] reads the
  * queue after the bus is idle, so no event of a finished call is missed
  * and none is read while it is being written.
  */
final class SparkCounters(spark: SparkSession) extends SparkListener {
  private sealed trait Ev
  private final case class JobStarted(id: Int, time: Long, stages: Seq[Int]) extends Ev
  private final case class JobEnded(id: Int, time: Long) extends Ev
  private final case class TaskEnded(task: Counters.Task) extends Ev
  private final case class QueryStarted(id: Long, time: Long, callSite: String) extends Ev
  private final case class QueryEnded(id: Long, time: Long) extends Ev

  private val events = new ConcurrentLinkedQueue[Ev]()

  override def onJobStart(e: SparkListenerJobStart): Unit =
    events.add(JobStarted(e.jobId, e.time, e.stageIds))
  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    events.add(JobEnded(e.jobId, e.time))
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    events.add(TaskEnded(Counters.Task((e.stageId, e.stageAttemptId), e.taskInfo.duration,
      if (m == null) 0L else m.shuffleWriteMetrics.bytesWritten)))
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart if s.rootExecutionId.forall(_ == s.executionId) =>
      events.add(QueryStarted(s.executionId, s.time, s.details))
    case x: SparkListenerSQLExecutionEnd => events.add(QueryEnded(x.executionId, x.time))
    case _ =>
  }

  def register(): Unit = spark.sparkContext.addSparkListener(this)
  def unregister(): Unit = {
    PerfbenchBus.waitIdle(spark.sparkContext)
    spark.sparkContext.removeSparkListener(this)
  }

  /** Everything recorded since the previous drain. */
  def drain(): Counters = {
    PerfbenchBus.waitIdle(spark.sparkContext)
    val evs = Iterator.continually(events.poll()).takeWhile(_ != null).toVector
    val jobStarts = evs.collect { case j: JobStarted => j.id -> j }.toMap
    val jobs = evs.collect {
      case JobEnded(id, t) if jobStarts.contains(id) =>
        Counters.Job(jobStarts(id).time, t, jobStarts(id).stages)
    }
    val queryStarts = evs.collect { case q: QueryStarted => q.id -> q }.toMap
    val queries = evs.collect {
      case QueryEnded(id, t) if queryStarts.contains(id) =>
        Counters.Query(queryStarts(id).time, t, queryStarts(id).callSite)
    }
    Counters(queries, jobs, evs.collect { case TaskEnded(t) => t })
  }

  /** Run `f` as one traced call: its result, wall milliseconds, counters. */
  def span[A](f: => A): (A, Double, Counters) = {
    drain()
    val t0 = System.nanoTime()
    val a = f
    val ms = (System.nanoTime() - t0) / 1e6
    (a, ms, drain())
  }
}

object SparkCounters {
  /** Most intervals open at the same moment. */
  def maxConcurrent(intervals: Seq[(Long, Long)]): Int = {
    val edges = intervals.flatMap { case (s, e) => Seq((s, 1), (e, -1)) }
      .sortBy { case (t, d) => (t, d) } // an end before a start at the same ms
    edges.scanLeft(0)(_ + _._2).max
  }

  /** Milliseconds the JVM has spent in garbage collection so far. */
  def gcMillis(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(0L, b.getCollectionTime)).sum
}
