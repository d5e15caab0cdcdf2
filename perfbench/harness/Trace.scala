package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Spans around the benchmark's calls into each engine module, plus the
  * Spark work (jobs, stages, tasks, planning) that happened meanwhile.
  * Everything is kept in memory and written once when the run ends; the
  * attribution of Spark work to spans is done by `stats.py`.
  *
  * With tracing off (`on == false`) a span only runs its body, so the
  * untraced run that gives the end-to-end numbers pays nothing. */
object Trace {
  @volatile var on = false

  /** Times are epoch microseconds, so they line up with the epoch
    * milliseconds Spark stamps on its listener events. */
  final case class Span(id: Long, parent: Long, req: Long, name: String,
      startUs: Long, endUs: Long)

  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicLong(0L)
  private val stack = ThreadLocal.withInitial[List[(Long, Long)]](() => Nil)
  private val baseMs = System.currentTimeMillis()
  private val baseNs = System.nanoTime()

  def nowUs: Long = baseMs * 1000L + (System.nanoTime() - baseNs) / 1000L

  /** Run `body` inside a span named `name`. A span opened with no span
    * open on its thread starts a new request id; nested spans inherit
    * their parent's. */
  def span[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val id = ids.incrementAndGet()
      val outer = stack.get
      val (parent, req) = outer.headOption.getOrElse((0L, id))
      stack.set((id, req) :: outer)
      val t0 = nowUs
      try body
      finally {
        spans.add(Span(id, parent, req, name, t0, nowUs))
        stack.set(outer)
      }
    }

  private val listener = new Listener
  private val planListener = new PlanListener

  def install(spark: SparkSession): Unit = {
    on = true
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(planListener)
  }

  /** Wait for Spark's listener bus to deliver every event, then dump. */
  def dump(spark: SparkSession): Map[String, Any] = {
    org.apache.spark.BenchBus.drain(spark.sparkContext)
    Map(
      "spans" -> spans.asScala.toSeq.sortBy(_.id).map(s =>
        Seq(s.id, s.parent, s.req, s.name, s.startUs, s.endUs)),
      "jobs" -> listener.jobs.asScala.toSeq,
      "stages" -> listener.stages.asScala.toSeq,
      "tasks" -> listener.tasks.asScala.toSeq,
      "plans" -> planListener.plans.asScala.toSeq)
  }

  /** jobs: [job id, submitted ms, ended ms]; stages: [stage id, job id,
    * submitted ms, completed ms, tasks]; tasks: [launch ms, finish ms,
    * executor run ms, shuffle bytes written, bytes spilled, stage id]. */
  private final class Listener extends SparkListener {
    val jobs = new ConcurrentLinkedQueue[Seq[Long]]()
    val stages = new ConcurrentLinkedQueue[Seq[Long]]()
    val tasks = new ConcurrentLinkedQueue[Seq[Long]]()
    private val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
    private val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]()

    override def onJobStart(e: SparkListenerJobStart): Unit = {
      jobStart.put(e.jobId, e.time)
      e.stageIds.foreach(s => stageJob.put(s, e.jobId))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      jobs.add(Seq(e.jobId.toLong, jobStart.getOrDefault(e.jobId, e.time), e.time))
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val i = e.stageInfo
      stages.add(Seq(i.stageId.toLong, stageJob.getOrDefault(i.stageId, -1).toLong,
        i.submissionTime.getOrElse(0L), i.completionTime.getOrElse(0L), i.numTasks.toLong))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null)
        tasks.add(Seq(e.taskInfo.launchTime, e.taskInfo.finishTime, m.executorRunTime,
          m.shuffleWriteMetrics.bytesWritten, m.diskBytesSpilled + m.memoryBytesSpilled,
          e.stageId.toLong))
    }
  }

  /** plans: [first phase start ms, analysis + optimization + planning ms]
    * from each finished query execution's tracker. */
  private final class PlanListener extends QueryExecutionListener {
    val plans = new ConcurrentLinkedQueue[Seq[Long]]()
    private def record(qe: QueryExecution): Unit = {
      val ph = qe.tracker.phases.values
      if (ph.nonEmpty)
        plans.add(Seq(ph.map(_.startTimeMs).min, ph.map(_.durationMs).sum))
    }
    override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit = record(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = record(qe)
  }
}
