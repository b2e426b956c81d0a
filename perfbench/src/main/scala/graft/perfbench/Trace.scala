package graft.perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One traced interval on the driver thread. `op` is the timed operation
  * it belongs to (-1 outside the timed phase).
  */
final case class Span(id: Int, name: String, parent: Int, op: Int,
                      startNs: Long, endNs: Long, startMs: Long, endMs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Spark work attributed to one span: summed task metrics of the jobs it
  * started.
  */
final class Work {
  var jobs, stages, tasks, failedTasks = 0L
  var taskRunMs, taskCpuNs, gcMs, taskBusyMs, taskWaitMs = 0L
  var shuffleWrite, shuffleRead, spill, input, output = 0L
  def add(o: Work): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks; failedTasks += o.failedTasks
    taskRunMs += o.taskRunMs; taskCpuNs += o.taskCpuNs; gcMs += o.gcMs
    taskBusyMs += o.taskBusyMs; taskWaitMs += o.taskWaitMs
    shuffleWrite += o.shuffleWrite; shuffleRead += o.shuffleRead; spill += o.spill
    input += o.input; output += o.output
  }
}

/** Spans kept in memory, plus the listeners that attribute Spark, Catalyst
  * and streaming work to them. Disabled, every call is a plain pass-through
  * and no listener is registered.
  *
  * A span's id rides on the job as a local property. Jobs started from
  * other threads carry no id and are attributed to the innermost span whose
  * interval holds their start time.
  */
final class Tracer(val on: Boolean) {
  import Tracer._
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var nextId = 0
  private var sc: SparkContext = _
  var op: Int = -1
  /** Driver time the tracer itself spent: drains and trace-only counts. */
  var overheadNs = 0L

  def apply[A](name: String)(body: => A): A = if (!on) body else {
    val id = nextId
    nextId += 1
    val parent = stack.headOption.getOrElse(-1)
    stack = id :: stack
    if (sc != null) sc.setLocalProperty(Tracer.SpanKey, id.toString)
    val t0 = System.nanoTime()
    val w0 = System.currentTimeMillis()
    try body finally {
      val t1 = System.nanoTime()
      stack = stack.tail
      if (sc != null) sc.setLocalProperty(Tracer.SpanKey, stack.headOption.map(_.toString).orNull)
      spans += Span(id, name, parent, op, t0, t1, w0, System.currentTimeMillis())
    }
  }

  /** Run trace-only work, charging its time to the tracing overhead. */
  def overhead[A](body: => A): A = {
    val t0 = System.nanoTime()
    try body finally overheadNs += System.nanoTime() - t0
  }

  // ---- listeners -------------------------------------------------------
  private val jobs = mutable.HashMap.empty[Int, JobRec]
  private val stageJob = mutable.HashMap.empty[Int, Int]
  private val stageSubmitted = mutable.HashMap.empty[(Int, Int), Long]
  private val stageWork = mutable.HashMap.empty[Int, Work]
  val catalyst: mutable.ArrayBuffer[Phases] = mutable.ArrayBuffer.empty
  val progress: mutable.ArrayBuffer[Progress] = mutable.ArrayBuffer.empty
  val streamsStarted: mutable.ArrayBuffer[Long] = mutable.ArrayBuffer.empty

  def attach(spark: SparkSession): Unit = if (on) {
    sc = spark.sparkContext
    val lock = this
    sc.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = lock.synchronized {
        val span = Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.SpanKey)))
          .map(_.toInt).getOrElse(-1)
        jobs(e.jobId) = JobRec(span, e.time)
        e.stageIds.foreach(s => stageJob(s) = e.jobId)
      }
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = lock.synchronized {
        val i = e.stageInfo
        stageSubmitted((i.stageId, i.attemptNumber())) =
          i.submissionTime.getOrElse(System.currentTimeMillis())
      }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = lock.synchronized {
        stageWork.getOrElseUpdate(e.stageInfo.stageId, new Work).stages += 1
      }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = lock.synchronized {
        val w = stageWork.getOrElseUpdate(e.stageId, new Work)
        val info = e.taskInfo
        w.tasks += 1
        if (!info.successful) w.failedTasks += 1
        w.taskBusyMs += info.duration
        stageSubmitted.get((e.stageId, e.stageAttemptId)).foreach(s =>
          w.taskWaitMs += math.max(0L, info.launchTime - s))
        val m = e.taskMetrics
        if (m != null) {
          w.taskRunMs += m.executorRunTime
          w.taskCpuNs += m.executorCpuTime
          w.gcMs += m.jvmGCTime
          w.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          w.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          w.spill += m.diskBytesSpilled
          w.input += m.inputMetrics.bytesRead
          w.output += m.outputMetrics.bytesWritten
        }
      }
    })
    spark.listenerManager.register(new QueryExecutionListener {
      private def record(qe: QueryExecution): Unit = lock.synchronized {
        val ph = qe.tracker.phases
        def ms(p: String): Long = ph.get(p).map(_.durationMs).getOrElse(0L)
        val t = ph.values.map(_.startTimeMs).minOption.getOrElse(System.currentTimeMillis())
        catalyst += Phases(t, ms("analysis"), ms("optimization"), ms("planning"))
      }
      override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit = record(qe)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = record(qe)
    })
    spark.streams.addListener(new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
        lock.synchronized { streamsStarted += Tracer.epochMs(e.timestamp) }
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
        lock.synchronized {
          val p = e.progress
          progress += Progress(Tracer.epochMs(p.timestamp), p.id.toString,
            p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
            p.stateOperators.map(_.numRowsTotal).sum,
            p.stateOperators.map(_.commitTimeMs).sum)
        }
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    })
  }

  /** Wait until every posted listener event has been delivered. */
  def drain(): Unit = if (on) overhead(org.apache.spark.PerfbenchBus.drain(sc))

  // ---- reading the trace -----------------------------------------------
  def all: Seq[Span] = spans.toSeq

  /** Span duration minus the time its child spans cover. */
  def selfSeconds(name: String): Double = {
    val childTime = spans.groupBy(_.parent).map { case (p, cs) => p -> cs.map(_.seconds).sum }
    spans.filter(s => s.name == name && s.op >= 0)
      .map(s => s.seconds - childTime.getOrElse(s.id, 0.0)).sum
  }

  /** Spark work per span id, jobs without a span id placed by start time. */
  def workBySpan: Map[Int, Work] = synchronized {
    val timed = spans.toSeq
    def spanAt(t: Long): Int = timed.filter(s => s.startMs <= t && t <= s.endMs)
      .sortBy(s => s.endMs - s.startMs).headOption.map(_.id).getOrElse(-1)
    val jobSpan = jobs.map { case (j, r) => j -> (if (r.span >= 0) r.span else spanAt(r.timeMs)) }
    val out = mutable.HashMap.empty[Int, Work]
    jobs.foreach { case (j, _) => out.getOrElseUpdate(jobSpan(j), new Work).jobs += 1 }
    stageWork.foreach { case (s, w) =>
      val span = stageJob.get(s).map(jobSpan).getOrElse(-1)
      out.getOrElseUpdate(span, new Work).add(w)
    }
    out.toMap
  }

  def writeSpans(path: String): Unit = if (on)
    Main.writeJson(path, spans.map { s =>
      Map("id" -> s.id, "name" -> s.name, "parent" -> s.parent, "op" -> s.op,
        "start_ms" -> s.startMs, "end_ms" -> s.endMs, "seconds" -> s.seconds)
    })
}

object Tracer {
  private final case class JobRec(span: Int, timeMs: Long)
  /** Catalyst phase times of one query execution. */
  final case class Phases(timeMs: Long, analysis: Long, optimization: Long, planning: Long)
  /** One streaming micro-batch progress report. */
  final case class Progress(timeMs: Long, query: String, durations: Map[String, Long],
                            stateRows: Long, stateCommitMs: Long)
  val SpanKey = "perfbench.span"
  def epochMs(iso: String): Long = java.time.Instant.parse(iso).toEpochMilli
}
