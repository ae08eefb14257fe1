package perfbench

import java.util.Properties

import scala.collection.mutable

import org.apache.spark.Success
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.QueryPlanningTracker
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One traced interval: run -> pass -> public call -> Spark job -> stage.
  * Times are epoch milliseconds; `parent` is 0 for the root.
  */
final case class Span(id: Long, name: String, parent: Long,
    start: Double, end: Double)

/** Work counters summed over the tasks, stages and jobs of one span. */
final class Counters {
  var jobs, stages, tasks = 0L
  var taskCpuNs, gcMs, maxTaskMs, schedDelayMs = 0L
  var inputBytes, recordsRead, outputBytes, recordsWritten = 0L
  var shuffleWriteBytes, shuffleReadBytes, spillBytes = 0L
  var planMs = 0L

  def copy(): Counters = {
    val c = new Counters
    c.jobs = jobs; c.stages = stages; c.tasks = tasks
    c.taskCpuNs = taskCpuNs; c.gcMs = gcMs
    c.maxTaskMs = maxTaskMs; c.schedDelayMs = schedDelayMs
    c.inputBytes = inputBytes; c.recordsRead = recordsRead
    c.outputBytes = outputBytes; c.recordsWritten = recordsWritten
    c.shuffleWriteBytes = shuffleWriteBytes
    c.shuffleReadBytes = shuffleReadBytes; c.spillBytes = spillBytes
    c.planMs = planMs
    c
  }
}

/** In-memory tracer. Call spans are opened on the driver thread; their id
  * reaches Spark through the `perfbench.span` local property and comes
  * back in the job and stage events, so the listeners attribute every
  * job, stage and task to the public call that caused it. Nothing is
  * written until the run ends.
  */
final class Tracer(spark: SparkSession) {
  import Tracer.SpanKey

  private val sc = spark.sparkContext
  private var nextId = 0L
  private val spans = mutable.ArrayBuffer.empty[Span]

  // listener-side state; the two listeners run on Spark's listener bus
  // threads, so every access goes through `lock`
  private val lock = new Object
  private val stageSpan = mutable.Map.empty[Int, Long]
  private val jobStart = mutable.Map.empty[Int, (Long, Double)]
  private val jobSpans = mutable.ArrayBuffer.empty[(Int, Long, Double, Double)]
  private val stageSpans =
    mutable.ArrayBuffer.empty[(Int, Long, Double, Double)]
  private val stageJob = mutable.Map.empty[Int, Int]
  private val counters = mutable.Map.empty[Long, Counters]
  // (planning start, plan ms, query) of every SQL execution; the planning
  // start falls inside the one call span that ran it, since calls run one
  // at a time
  private val executions =
    mutable.ArrayBuffer.empty[(Double, Long, QueryExecution)]
  private var fenceSeen = false

  private def spanOf(p: Properties): Long =
    Option(p).flatMap(x => Option(x.getProperty(SpanKey)))
      .map(_.toLong).getOrElse(-1L)

  private def ctr(span: Long): Counters =
    counters.getOrElseUpdate(span, new Counters)

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = lock.synchronized {
      val span = spanOf(e.properties)
      jobStart(e.jobId) = (span, e.time.toDouble)
      e.stageIds.foreach(s => stageJob.getOrElseUpdate(s, e.jobId))
      ctr(span).jobs += 1
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = lock.synchronized {
      jobStart.remove(e.jobId).foreach { case (span, t0) =>
        jobSpans += ((e.jobId, span, t0, e.time.toDouble))
        if (span == Tracer.FenceSpan) fenceSeen = true
      }
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      lock.synchronized {
        stageSpan(e.stageInfo.stageId) = spanOf(e.properties)
      }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      lock.synchronized {
        val info = e.stageInfo
        val span = stageSpan.getOrElse(info.stageId, -1L)
        ctr(span).stages += 1
        for (t0 <- info.submissionTime; t1 <- info.completionTime)
          stageSpans += ((info.stageId, span, t0.toDouble, t1.toDouble))
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = lock.synchronized {
      val c = ctr(stageSpan.getOrElse(e.stageId, -1L))
      c.tasks += 1
      val info = e.taskInfo
      val m = e.taskMetrics
      if (m != null) {
        c.taskCpuNs += m.executorCpuTime
        c.gcMs += m.jvmGCTime
        c.inputBytes += m.inputMetrics.bytesRead
        c.recordsRead += m.inputMetrics.recordsRead
        c.outputBytes += m.outputMetrics.bytesWritten
        c.recordsWritten += m.outputMetrics.recordsWritten
        c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        c.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
        c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        // the Spark UI's scheduler delay: task time not spent running,
        // deserializing, serializing the result or fetching it
        c.schedDelayMs += math.max(0L, info.duration - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime -
          info.gettingResultTime)
      }
      if (e.reason == Success) c.maxTaskMs = math.max(c.maxTaskMs, info.duration)
    }
  }

  private val queryListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution,
        durationNs: Long): Unit = lock.synchronized {
      if (funcName == Tracer.FenceName) fenceSeen = true
      else {
        val phases = qe.tracker.phases
        val planMs = Seq(QueryPlanningTracker.ANALYSIS,
          QueryPlanningTracker.OPTIMIZATION, QueryPlanningTracker.PLANNING)
          .flatMap(phases.get).map(_.durationMs).sum
        phases.get(QueryPlanningTracker.PLANNING).foreach { p =>
          executions += ((p.startTimeMs.toDouble, planMs, qe))
        }
      }
    }
    override def onFailure(funcName: String, qe: QueryExecution,
        exception: Exception): Unit = ()
  }

  sc.addSparkListener(sparkListener)
  spark.listenerManager.register(queryListener)

  /** Detach both listeners; what they recorded stays readable. */
  def close(): Unit = {
    sc.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(queryListener)
  }

  /** Open a span named `name` under `parent`; `body` runs with the span id
    * as the current Spark local property when `call` is set.
    */
  def span[T](name: String, parent: Long, call: Boolean = false)
      (body: Long => T): T = {
    nextId += 1
    val id = nextId
    val t0 = System.currentTimeMillis().toDouble
    val old = sc.getLocalProperty(SpanKey)
    if (call) sc.setLocalProperty(SpanKey, id.toString)
    try body(id)
    finally {
      if (call) sc.setLocalProperty(SpanKey, old)
      spans += Span(id, name, parent, t0, System.currentTimeMillis().toDouble)
    }
  }

  /** Wait until both listeners have seen every event posted so far: a
    * marker job and a marker SQL execution go through the same queues,
    * behind everything earlier.
    */
  def drain(timeoutMs: Long = 60000L): Unit = {
    lock.synchronized { fenceSeen = false }
    sc.setLocalProperty(SpanKey, Tracer.FenceSpan.toString)
    try sc.parallelize(Seq(1), 1).count()
    finally sc.setLocalProperty(SpanKey, null)
    waitFence(timeoutMs)
    lock.synchronized { fenceSeen = false }
    Sinks.evaluate(spark.range(1).toDF(), Tracer.FenceName)
    waitFence(timeoutMs)
  }

  private def waitFence(timeoutMs: Long): Unit = {
    val deadline = System.currentTimeMillis() + timeoutMs
    while (!lock.synchronized(fenceSeen)) {
      if (System.currentTimeMillis() > deadline)
        throw new IllegalStateException("listener bus did not drain")
      Thread.sleep(5)
    }
  }

  private def executionsOf(span: Long) = {
    val s = spans.find(_.id == span).get
    executions.filter { case (t, _, _) => t >= s.start && t < s.end }
  }

  /** Counters of one call span, with plan time from its SQL executions. */
  def counters(span: Long): Counters = lock.synchronized {
    val c = counters.get(span).map(_.copy()).getOrElse(new Counters)
    c.planMs += executionsOf(span).map(_._2).sum
    c
  }

  /** The last SQL execution of `span`, if any. */
  def lastExecution(span: Long): Option[QueryExecution] = lock.synchronized {
    executionsOf(span).lastOption.map(_._3)
  }

  /** Milliseconds of `span` during which none of its jobs ran. */
  def idleMs(span: Long): Double = lock.synchronized {
    val s = spans.find(_.id == span).get
    (s.end - s.start) - Tracer.covered(
      jobSpans.toSeq.collect { case (_, sp, t0, t1) if sp == span => (t0, t1) })
  }

  /** Every span, the Spark jobs and stages included, with self time: the
    * duration less the part of it its children cover.
    */
  def allSpans: Seq[(Span, Double)] = lock.synchronized {
    val jobIds = mutable.Map.empty[Int, Long]
    var id = nextId
    val jobs = jobSpans.filter(_._2 > 0).map { case (job, sp, t0, t1) =>
      id += 1; jobIds(job) = id
      Span(id, s"job $job", sp, t0, t1)
    }
    val stages = stageSpans.filter(_._2 > 0).flatMap { case (st, _, t0, t1) =>
      stageJob.get(st).flatMap(jobIds.get).map { parent =>
        id += 1; Span(id, s"stage $st", parent, t0, t1)
      }
    }
    val all = spans.toSeq ++ jobs ++ stages
    val kids = all.groupBy(_.parent)
    all.sortBy(s => (s.start, s.id)).map { s =>
      val cover = Tracer.covered(
        kids.getOrElse(s.id, Nil).map(k => (k.start, k.end)))
      (s, (s.end - s.start) - cover)
    }
  }
}

object Tracer {
  val SpanKey = "perfbench.span"
  val FenceSpan = 0L
  val FenceName = "perfbench-fence"

  /** Length of the union of intervals. */
  def covered(iv: Seq[(Double, Double)]): Double = {
    var total, reach = 0.0
    var open = false
    iv.sortBy(_._1).foreach { case (a, b) =>
      if (!open || a > reach) { total += b - a; reach = b; open = true }
      else if (b > reach) { total += b - reach; reach = b }
    }
    total
  }
}
