package layerbench

import scala.collection.mutable
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed call into a graft layer, made from the benchmark's own code.
  * `parent` is the enclosing span (0 for none); spans of one operation share
  * `op` (-1 for set-up and layer probes).
  */
final case class Span(id: Int, name: String, layer: String, parent: Int, op: Int,
    startNs: Long, var endNs: Long = 0L) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Spark task totals attributed to one span. */
final class TaskAgg {
  var jobs, stages, tasks = 0L
  var runMs, cpuNs, gcMs = 0L
  var shuffleReadBytes, shuffleWriteBytes, shuffleWriteRecords, spillBytes = 0L
  var reduceTasks = 0L
  var planningMs = 0L
  /** stage id -> task run times (ms), for the chunk-stage skew */
  val stageTaskMs = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]
  val stageCpuNs = mutable.Map.empty[Int, Long]

  def add(o: TaskAgg): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    runMs += o.runMs; cpuNs += o.cpuNs; gcMs += o.gcMs
    shuffleReadBytes += o.shuffleReadBytes; shuffleWriteBytes += o.shuffleWriteBytes
    shuffleWriteRecords += o.shuffleWriteRecords; spillBytes += o.spillBytes
    reduceTasks += o.reduceTasks; planningMs += o.planningMs
  }
}

/** Progress of one streaming trigger, as Spark reports it. */
final case class TriggerProgress(query: String, durations: Map[String, Long],
    stateRows: Long, stateBytes: Long, stateCommitMs: Long)

/** In-memory trace of a traced run. Spans are opened only from the
  * benchmark thread; the listeners below run on Spark's listener bus and
  * read the span table under its lock.
  */
object Trace {
  @volatile var enabled = false
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack = List.empty[Span]
  @volatile private var current: Option[Span] = None
  private val aggs = mutable.Map.empty[Int, TaskAgg]
  private val stageSpan = mutable.Map.empty[Int, Int]
  private val execSpan = mutable.Map.empty[Long, Int]
  private val triggers = mutable.ArrayBuffer.empty[TriggerProgress]
  val GroupPrefix = "layerbench-span-"

  def span[A](name: String, op: Int = -1)(body: => A): A =
    if (!enabled) body else timed(name, op)(body)._1

  /** Runs `body` inside a new span and returns the span with the result. */
  def timed[A](name: String, op: Int = -1)(body: => A): (A, Span) = {
    val sc = org.apache.spark.sql.SparkSession.getDefaultSession.map(_.sparkContext)
    val s = synchronized {
      val sp = Span(spans.size + 1, name, name.takeWhile(_ != ':'),
        stack.headOption.map(_.id).getOrElse(0), op, System.nanoTime())
      spans += sp
      stack = sp :: stack
      current = Some(sp)
      sp
    }
    sc.foreach(_.setJobGroup(GroupPrefix + s.id, name, interruptOnCancel = false))
    try (body, s)
    finally {
      synchronized {
        s.endNs = System.nanoTime()
        stack = stack.tail
        current = stack.headOption
      }
      sc.foreach { c =>
        current match {
          case Some(p) => c.setJobGroup(GroupPrefix + p.id, p.name, interruptOnCancel = false)
          case None => c.clearJobGroup()
        }
      }
    }
  }

  /** Span a job group names, unless that span has already ended (a pool
    * thread that inherited a stale group); then the innermost open span.
    */
  private[layerbench] def resolve(group: Option[String]): Option[Int] = synchronized {
    val tagged = group.filter(_.startsWith(GroupPrefix))
      .flatMap(g => g.stripPrefix(GroupPrefix).toIntOption)
      .filter(id => id >= 1 && id <= spans.size && spans(id - 1).endNs == 0L)
    tagged.orElse(current.map(_.id))
  }

  private[layerbench] def agg(spanId: Int): TaskAgg = aggs.getOrElseUpdate(spanId, new TaskAgg)

  private[layerbench] def onStage(stageId: Int, group: Option[String]): Unit = synchronized {
    resolve(group).foreach { id => stageSpan(stageId) = id; agg(id).stages += 1 }
  }
  private[layerbench] def onJob(group: Option[String]): Unit = synchronized {
    resolve(group).foreach(id => agg(id).jobs += 1)
  }
  private[layerbench] def onExecStart(execId: Long, group: Option[String]): Unit = synchronized {
    resolve(group).foreach(id => execSpan(execId) = id)
  }
  private[layerbench] def onPlanning(execId: Long, ms: Long): Unit = synchronized {
    execSpan.get(execId).orElse(current.map(_.id)).foreach(id => agg(id).planningMs += ms)
  }
  private[layerbench] def onTask(stageId: Int, runMs: Long, cpuNs: Long, gcMs: Long,
      shRead: Long, shWrite: Long, shRecords: Long, spill: Long): Unit = synchronized {
    stageSpan.get(stageId).foreach { id =>
      val a = agg(id)
      a.tasks += 1; a.runMs += runMs; a.cpuNs += cpuNs; a.gcMs += gcMs
      a.shuffleReadBytes += shRead; a.shuffleWriteBytes += shWrite
      a.shuffleWriteRecords += shRecords; a.spillBytes += spill
      if (shRead > 0) a.reduceTasks += 1
      a.stageTaskMs.getOrElseUpdate(stageId, mutable.ArrayBuffer.empty) += runMs
      a.stageCpuNs(stageId) = a.stageCpuNs.getOrElse(stageId, 0L) + cpuNs
    }
  }
  private[layerbench] def onTrigger(t: TriggerProgress): Unit = synchronized { triggers += t }

  def allSpans: Seq[Span] = synchronized(spans.toList)
  def triggersOf(query: String): Seq[TriggerProgress] =
    synchronized(triggers.filter(_.query == query).toList)

  /** Task totals of a span and every span below it. */
  def aggUnder(root: Span): TaskAgg = synchronized {
    val kids = spans.groupBy(_.parent)
    val out = new TaskAgg
    def walk(s: Span): Unit = {
      aggs.get(s.id).foreach { a =>
        out.add(a)
        a.stageTaskMs.foreach { case (k, v) => out.stageTaskMs(k) = v }
        a.stageCpuNs.foreach { case (k, v) => out.stageCpuNs(k) = v }
      }
      kids.getOrElse(s.id, Nil).foreach(walk)
    }
    walk(root)
    out
  }

  /** Self time per layer over the given spans: a span's duration minus the
    * part of it its child spans cover (children of one span never overlap,
    * because spans are opened from one thread).
    */
  def selfSeconds(of: Seq[Span]): Map[String, Double] = {
    val childTime = of.groupBy(_.parent).map { case (p, cs) => p -> cs.map(_.seconds).sum }
    of.groupBy(_.layer).map { case (layer, ss) =>
      layer -> ss.map(s => s.seconds - childTime.getOrElse(s.id, 0.0)).sum
    }
  }

  /** Blocks until the listener bus has delivered every posted event. */
  def drain(spark: org.apache.spark.sql.SparkSession): Unit =
    org.apache.spark.LayerbenchBus.drain(spark.sparkContext)

  def writeSpans(path: java.nio.file.Path): Unit = {
    val lines = allSpans.map { s =>
      s"""{"id":${s.id},"name":"${s.name}","parent":${s.parent},"op":${s.op},""" +
        s""""start_ns":${s.startNs},"end_ns":${s.endNs}}"""
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, lines.mkString("[\n", ",\n", "\n]\n").getBytes("UTF-8"))
  }
}

/** Task, stage and SQL-execution events, attributed to spans by job group. */
final class TaskListener extends SparkListener {
  private def group(p: java.util.Properties): Option[String] =
    Option(p).flatMap(pp => Option(pp.getProperty("spark.jobGroup.id")))

  override def onJobStart(e: SparkListenerJobStart): Unit = Trace.onJob(group(e.properties))
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    Trace.onStage(e.stageInfo.stageId, group(e.properties))
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) Trace.onTask(e.stageId, m.executorRunTime, m.executorCpuTime, m.jvmGCTime,
      m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead,
      m.shuffleWriteMetrics.bytesWritten, m.shuffleWriteMetrics.recordsWritten,
      m.memoryBytesSpilled + m.diskBytesSpilled)
  }
  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
      Trace.onExecStart(s.executionId, s.jobGroupId)
    case _ =>
  }
}

/** Planning phases (analysis, optimization, planning) of every finished
  * query, from `QueryExecution.tracker`. Registered through
  * `spark.sql.queryExecutionListeners` so child sessions report too.
  */
final class PlanningListener extends QueryExecutionListener {
  private def record(qe: QueryExecution): Unit =
    Trace.onPlanning(qe.id, qe.tracker.phases.values.map(_.durationMs).sum)
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)
}

/** Trigger progress of every streaming query. Registered through
  * `spark.sql.streaming.streamingQueryListeners`, because graft runs its
  * streams in a child session whose query manager the parent cannot reach.
  */
final class StreamListener extends StreamingQueryListener {
  import StreamingQueryListener._
  override def onQueryStarted(e: QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: QueryProgressEvent): Unit = {
    val p = e.progress
    val d = p.durationMs.entrySet().toArray(Array.empty[java.util.Map.Entry[String, java.lang.Long]])
      .map(en => en.getKey -> en.getValue.longValue).toMap
    val ops = p.stateOperators.toSeq
    Trace.onTrigger(TriggerProgress(Option(p.name).getOrElse(""), d,
      ops.map(_.numRowsTotal).sum, ops.map(_.memoryUsedBytes).sum, ops.map(_.commitTimeMs).sum))
  }
}
