package perfbench

import scala.collection.mutable
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.util.QueryExecutionListener

/** Tracing for the traced run: spans opened and closed by the harness
  * around each operation, plus the scheduler's jobs, stages and task
  * metrics and Catalyst's phase times, all kept in memory and read once
  * the operation is over.
  *
  * A span is one operation (one query, one ETL lifecycle). The harness
  * sets the span id as a local property, so every job started inside it
  * carries the id; stages and tasks reach their span through their job.
  * Timestamps are epoch milliseconds, as Spark's events carry them. */
final class Trace extends SparkListener with QueryExecutionListener {
  import Trace._

  final class Job(val id: Int, val span: String, val start: Long,
      val firstGraftFrame: Option[String], val sqlPlan: Option[String]) {
    @volatile var end: Long = start
  }

  final class Stage(val id: Int, val jobId: Int) {
    var submitted = 0L
    var completed = 0L
    var tasks = 0
    var runMs = 0L
    var cpuNs = 0L
    var gcMs = 0L
    var inputBytes = 0L
    var shuffleWriteBytes = 0L
    var shuffleReadBytes = 0L
    var fetchWaitMs = 0L
    var spillBytes = 0L
  }

  private val lock = new Object
  private val spansBuf = mutable.ArrayBuffer[Span]()
  private val jobsBuf = mutable.ArrayBuffer[Job]()
  private val stagesBuf = mutable.LinkedHashMap[(Int, Int), Stage]()
  private val stageToJob = mutable.Map[Int, Int]()
  // SQL execution id -> (long call site, physical plan)
  private val sqlExecutions = mutable.Map[Long, (String, String)]()
  // per span: Catalyst phase -> ms, and (exchanges, aggregates, windows)
  private val phaseMs = mutable.Map[(String, String), Long]().withDefaultValue(0L)
  private val shapes = mutable.Map[String, (Long, Long, Long)]()
    .withDefaultValue((0L, 0L, 0L))
  private var openSpan: Option[String] = None

  def attach(spark: SparkSession): Unit = {
    // a job's long call site keeps its first 20 frames by default, which
    // adaptive execution's own frames can fill before any program frame
    System.setProperty(CallStackDepthKey, "400")
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
  }

  def detach(spark: SparkSession): Unit = {
    drain(spark)
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(this)
    System.clearProperty(CallStackDepthKey)
  }

  def drain(spark: SparkSession): Unit =
    org.apache.spark.perfbench.ListenerBusAccess.drain(spark.sparkContext)

  /** Run `body` as one span; its id tags every job it starts. */
  def span[T](spark: SparkSession, id: String)(body: => T): T = {
    val sc = spark.sparkContext
    val start = System.currentTimeMillis()
    lock.synchronized { openSpan = Some(id) }
    sc.setLocalProperty(SpanKey, id)
    try body
    finally {
      sc.setLocalProperty(SpanKey, null)
      drain(spark)
      val end = System.currentTimeMillis()
      lock.synchronized {
        spansBuf += Span(id, start, end)
        openSpan = None
      }
    }
  }

  def spans: Seq[Span] = lock.synchronized(spansBuf.toSeq)
  def jobs: Seq[Job] = lock.synchronized(jobsBuf.toSeq)
  def jobsIn(spanIds: Set[String]): Seq[Job] = jobs.filter(j => spanIds(j.span))
  def stagesOf(js: Seq[Job]): Seq[Stage] = {
    val ids = js.map(_.id).toSet
    lock.synchronized(stagesBuf.values.filter(s => ids(s.jobId)).toSeq)
  }
  /** Catalyst phase totals (analysis, optimization, planning), seconds,
    * over every query execution that finished inside the given spans. */
  def phaseSeconds(spanIds: Set[String]): Map[String, Double] =
    lock.synchronized(phaseMs.toSeq.collect {
      case ((span, phase), ms) if spanIds(span) => phase -> ms
    }.groupMapReduce(_._1)(_._2)(_ + _).map { case (k, v) => k -> v / 1e3 })
  /** Exchanges, aggregates and windows summed over the final executed
    * plans of every query execution that finished inside the given
    * spans. */
  def planShape(spanIds: Set[String]): Map[String, Double] = {
    val s = lock.synchronized(spanIds.toSeq.map(shapes))
    Map("plan.exchanges" -> s.map(_._1).sum.toDouble,
      "plan.aggregates" -> s.map(_._2).sum.toDouble,
      "plan.windows" -> s.map(_._3).sum.toDouble)
  }

  // ------------------------------------------------------------ events

  override def onOtherEvent(event: SparkListenerEvent): Unit = event match {
    case e: SparkListenerSQLExecutionStart =>
      lock.synchronized {
        sqlExecutions(e.executionId) = (e.details, e.physicalPlanDescription)
      }
    case _ =>
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val props = Option(e.properties)
    val span = props.flatMap(p => Option(p.getProperty(SpanKey))).getOrElse("")
    val details = e.stageInfos.sortBy(_.stageId).headOption.map(_.details)
      .getOrElse("")
    lock.synchronized {
      // jobs adaptive execution submits from its own threads carry no
      // program frame; their SQL execution's call site does
      val sql = props
        .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
        .flatMap(id => scala.util.Try(id.toLong).toOption)
        .flatMap(sqlExecutions.get)
      val frame = firstGraftFrame(details)
        .orElse(sql.flatMap(x => firstGraftFrame(x._1)))
      jobsBuf += new Job(e.jobId, span, e.time, frame, sql.map(_._2))
      e.stageIds.foreach(s => stageToJob(s) = e.jobId)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = lock.synchronized {
    jobsBuf.reverseIterator.find(_.id == e.jobId).foreach(_.end = e.time)
  }

  private def stage(id: Int, attempt: Int): Stage =
    stagesBuf.getOrElseUpdate((id, attempt),
      new Stage(id, stageToJob.getOrElse(id, -1)))

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    lock.synchronized {
      val s = stage(e.stageInfo.stageId, e.stageInfo.attemptNumber())
      s.submitted = e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    lock.synchronized {
      val i = e.stageInfo
      val s = stage(i.stageId, i.attemptNumber())
      if (s.submitted == 0L) s.submitted = i.submissionTime.getOrElse(0L)
      s.completed = i.completionTime.getOrElse(System.currentTimeMillis())
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = lock.synchronized {
    val s = stage(e.stageId, e.stageAttemptId)
    s.tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      s.runMs += m.executorRunTime
      s.cpuNs += m.executorCpuTime
      s.gcMs += m.jvmGCTime
      s.inputBytes += m.inputMetrics.bytesRead
      s.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      s.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
      s.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
      s.spillBytes += m.diskBytesSpilled
    }
  }

  // QueryExecutionListener: Catalyst's own phase tracker, per execution
  override def onSuccess(funcName: String, qe: QueryExecution,
      durationNs: Long): Unit = recordPhases(qe)
  override def onFailure(funcName: String, qe: QueryExecution,
      exception: Exception): Unit = recordPhases(qe)

  private def recordPhases(qe: QueryExecution): Unit = {
    val shape = scala.util.Try(Layers.shape(qe)).toOption
    lock.synchronized {
      openSpan.foreach { span =>
        qe.tracker.phases.foreach { case (phase, p) =>
          phaseMs((span, phase)) += p.durationMs
        }
        shape.foreach { case (e, a, w) =>
          val (e0, a0, w0) = shapes(span)
          shapes(span) = (e0 + e, a0 + a, w0 + w)
        }
      }
    }
  }
}

object Trace {
  final case class Span(id: String, start: Long, end: Long)

  val SpanKey = "perfbench.span"
  val CallStackDepthKey = "spark.callstack.depth"

  /** The first `graft.` frame of a stage's long call site, as
    * `graft.pkg.Class$.method`; None when no program frame is present. */
  def firstGraftFrame(details: String): Option[String] =
    details.split('\n').iterator.map(_.trim)
      .find(_.startsWith("graft."))
      .map(l => l.takeWhile(_ != '('))

  /** Length of the union of [start, end) intervals, in the same unit. */
  def unionLength(intervals: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    intervals.filter { case (s, e) => e > s }.sortBy(_._1).foreach {
      case (s, e) =>
        if (s > curE) {
          if (curE > curS) total += curE - curS
          curS = s; curE = e
        } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }
}
