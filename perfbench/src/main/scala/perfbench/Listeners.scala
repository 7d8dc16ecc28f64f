package perfbench

import java.time.Instant

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener._

/** Scheduler counters of one scope (a query name, or `stream:<name>` for a
  * streaming query's micro-batches).
  */
final class OpsCounters {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var emptyTasks = 0L
  var runTimeMs = 0L
  var taskWaitMs = 0L
  var shuffleWriteBytes = 0L
  var shuffleReadBytes = 0L
  var spillBytes = 0L
  var peakExecMemBytes = 0L
  var gcMs = 0L

  def snapshot: OpsCounters = {
    val c = new OpsCounters
    c.jobs = jobs; c.stages = stages; c.tasks = tasks; c.emptyTasks = emptyTasks
    c.runTimeMs = runTimeMs; c.taskWaitMs = taskWaitMs
    c.shuffleWriteBytes = shuffleWriteBytes; c.shuffleReadBytes = shuffleReadBytes
    c.spillBytes = spillBytes; c.peakExecMemBytes = peakExecMemBytes; c.gcMs = gcMs
    c
  }

  /** Counts accrued since `before` (peak memory is the max seen since). */
  def since(before: OpsCounters): Map[String, Long] = Map(
    "jobs" -> (jobs - before.jobs),
    "stages" -> (stages - before.stages),
    "tasks" -> (tasks - before.tasks),
    "empty_tasks" -> (emptyTasks - before.emptyTasks),
    "run_time_ms" -> (runTimeMs - before.runTimeMs),
    "task_wait_ms" -> (taskWaitMs - before.taskWaitMs),
    "shuffle_write_bytes" -> (shuffleWriteBytes - before.shuffleWriteBytes),
    "shuffle_read_bytes" -> (shuffleReadBytes - before.shuffleReadBytes),
    "spill_bytes" -> (spillBytes - before.spillBytes),
    "peak_exec_mem_bytes" -> peakExecMemBytes,
    "gc_ms" -> (gcMs - before.gcMs))
}

/** Scheduler listener of the traced run: per-scope job/stage/task
  * counters, plus job and stage spans. A job's scope is the local property
  * [[Trace.ScopeProp]] of the submitting thread (a streaming query's thread
  * inherits it from the thread that started the query); failing that, a
  * streaming job's scope is its query name.
  */
final class OpsListener(tracer: Tracer, streamNames: String => Option[String])
  extends SparkListener {
  private val byScope = mutable.Map.empty[String, OpsCounters]
  private val stageScope = mutable.Map.empty[Int, String]
  private val stageParent = mutable.Map.empty[Int, String]
  private val stageSubmitMs = mutable.Map.empty[(Int, Int), Long]
  private val jobInfo = mutable.Map.empty[Int, (String, String, String, Long)]

  def counters(scope: String): OpsCounters = synchronized {
    byScope.getOrElseUpdate(scope, new OpsCounters).snapshot
  }

  def resetPeak(scope: String): Unit = synchronized {
    byScope.getOrElseUpdate(scope, new OpsCounters).peakExecMemBytes = 0L
  }

  private def acc(scope: String) = byScope.getOrElseUpdate(scope, new OpsCounters)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val p = Option(e.properties)
    def prop(k: String) = p.flatMap(x => Option(x.getProperty(k)))
    val streamQ = prop("sql.streaming.queryId")
    val scope = prop(Trace.ScopeProp)
      .orElse(streamQ.flatMap(streamNames).map("stream:" + _)).getOrElse("other")
    val parent = (streamQ, prop("streaming.sql.batchId")) match {
      case (Some(q), Some(b)) => s"trigger/$q/$b/addBatch"
      case _ => prop(Trace.SpanProp).getOrElse("")
    }
    val req = prop("spark.sql.execution.id").map("sql/" + _)
      .orElse(streamQ.map(q => s"trigger/$q/${prop("streaming.sql.batchId").getOrElse("")}"))
      .getOrElse("")
    acc(scope).jobs += 1
    e.stageIds.foreach { s => stageScope(s) = scope; stageParent(s) = s"job/${e.jobId}" }
    jobInfo(e.jobId) = (scope, parent, req, e.time)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobInfo.remove(e.jobId).foreach { case (scope, parent, req, t0) =>
      tracer.add(Span(s"job/${e.jobId}", parent, "spark", s"job:$scope",
        t0 * 1000L, e.time * 1000L, req))
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val i = e.stageInfo
    stageSubmitMs((i.stageId, i.attemptNumber())) =
      i.submissionTime.getOrElse(System.currentTimeMillis())
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    val scope = stageScope.getOrElse(i.stageId, "other")
    acc(scope).stages += 1
    val t0 = stageSubmitMs.remove((i.stageId, i.attemptNumber()))
      .orElse(i.submissionTime).getOrElse(0L)
    val t1 = i.completionTime.getOrElse(t0)
    tracer.add(Span(s"stage/${i.stageId}.${i.attemptNumber()}",
      stageParent.getOrElse(i.stageId, ""), "spark", s"stage:$scope",
      t0 * 1000L, t1 * 1000L, ""))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val a = acc(stageScope.getOrElse(e.stageId, "other"))
    a.tasks += 1
    stageSubmitMs.get((e.stageId, e.stageAttemptId)).foreach { s =>
      a.taskWaitMs += math.max(0L, e.taskInfo.launchTime - s)
    }
    val m = e.taskMetrics
    if (m != null) {
      val records = m.inputMetrics.recordsRead + m.shuffleReadMetrics.recordsRead
      if (records == 0) a.emptyTasks += 1
      a.runTimeMs += m.executorRunTime
      a.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      a.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
      a.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      a.peakExecMemBytes = math.max(a.peakExecMemBytes, m.peakExecutionMemory)
      a.gcMs += m.jvmGCTime
    }
  }
}

/** One streaming progress report, flattened to what the metrics need. */
final case class Progress(query: String, queryId: String, batchId: Long,
                          startMs: Long, durations: Map[String, Long],
                          inputRows: Long,
                          startOffset: String, endOffset: String,
                          stateRows: Long, stateMemBytes: Long,
                          stateCommitMs: Long,
                          observed: Map[String, Long]) {
  def commitMs: Long = startMs + durations.getOrElse("triggerExecution", 0L)
}

/** Streaming progress listener. Every report is kept in memory; callers
  * block on [[await]] for a condition over the reports seen so far, which
  * is re-checked on each new report (no polling). It receives the events of
  * every session through [[SessionListener]], including sessions the
  * engine clones to start its queries on.
  */
final class ProgressListener(tracer: Tracer) extends StreamingQueryListener {
  private val reports = mutable.ArrayBuffer.empty[Progress]
  private val names = mutable.Map.empty[String, String]
  private val failures = mutable.ArrayBuffer.empty[String]

  def nameOf(queryId: String): Option[String] = synchronized(names.get(queryId))

  /** Names a query that was started without a `queryName`. */
  def rename(queryId: String, name: String): Unit = synchronized(names(queryId) = name)

  def all: Seq[Progress] = synchronized {
    reports.toList.map(r => r.copy(query = names.getOrElse(r.queryId, r.query)))
  }

  def failed: Seq[String] = synchronized(failures.toList)

  /** Blocks until `cond(reports)` holds or `timeoutMs` passes; returns
    * whether it held.
    */
  def await(timeoutMs: Long)(cond: Seq[Progress] => Boolean): Boolean = synchronized {
    val deadline = System.currentTimeMillis() + timeoutMs
    var ok = cond(all)
    while (!ok && failures.isEmpty && System.currentTimeMillis() < deadline) {
      wait(math.max(1L, deadline - System.currentTimeMillis()))
      ok = cond(all)
    }
    ok
  }

  override def onQueryStarted(e: QueryStartedEvent): Unit = synchronized {
    if (!names.contains(e.id.toString))
      names(e.id.toString) = Option(e.name).getOrElse(e.id.toString)
  }

  override def onQueryProgress(e: QueryProgressEvent): Unit = {
    val p = e.progress
    val startMs = Instant.parse(p.timestamp).toEpochMilli
    val src = p.sources.headOption
    val ops = p.stateOperators
    val observed = Option(p.observedMetrics).map(_.asScala.toMap).getOrElse(Map.empty)
      .get("ingest_metrics").map { row =>
        row.schema.fieldNames.toSeq.flatMap { f =>
          row.getAs[Any](f) match {
            case n: java.lang.Long => Some(f -> n.longValue)
            case n: java.lang.Integer => Some(f -> n.longValue)
            case _ => None
          }
        }.toMap
      }.getOrElse(Map.empty[String, Long])
    val durations = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
    val rec = Progress(
      query = Option(p.name).getOrElse(p.id.toString), queryId = p.id.toString,
      batchId = p.batchId, startMs = startMs, durations = durations,
      inputRows = p.numInputRows,
      startOffset = src.map(_.startOffset).orNull,
      endOffset = src.map(_.endOffset).orNull,
      stateRows = ops.map(_.numRowsTotal).sum,
      stateMemBytes = ops.map(_.memoryUsedBytes).sum,
      stateCommitMs = ops.map(_.commitTimeMs).sum,
      observed = observed)
    if (tracer.enabled) traceTrigger(rec)
    synchronized {
      reports += rec
      notifyAll()
    }
  }

  /** A trigger span with its phases laid out in execution order. */
  private def traceTrigger(p: Progress): Unit = {
    val id = s"trigger/${p.queryId}/${p.batchId}"
    val t0 = p.startMs * 1000L
    tracer.add(Span(id, "", "streaming", s"trigger:${p.query}", t0,
      p.commitMs * 1000L, id))
    var t = t0
    Seq("latestOffset" -> "sources", "walCommit" -> "streaming",
      "getBatch" -> "sources", "queryPlanning" -> "streaming",
      "addBatch" -> "streaming", "commitOffsets" -> "streaming").foreach {
      case (phase, layer) =>
        val d = p.durations.getOrElse(phase, 0L) * 1000L
        tracer.add(Span(s"$id/$phase", id, layer, s"$phase:${p.query}", t, t + d, id))
        t += d
    }
  }

  override def onQueryIdle(e: QueryIdleEvent): Unit = ()

  override def onQueryTerminated(e: QueryTerminatedEvent): Unit = synchronized {
    e.exception.foreach(x => failures += s"${names.getOrElse(e.id.toString, e.id.toString)}: $x")
    notifyAll()
  }
}

/** Registered through `spark.sql.streaming.streamingQueryListeners`, so
  * every session's query manager, cloned sessions included, gets one; each
  * forwards to the run's [[ProgressListener]].
  */
final class SessionListener extends StreamingQueryListener {
  override def onQueryStarted(e: QueryStartedEvent): Unit =
    SessionListener.target.foreach(_.onQueryStarted(e))
  override def onQueryProgress(e: QueryProgressEvent): Unit =
    SessionListener.target.foreach(_.onQueryProgress(e))
  override def onQueryIdle(e: QueryIdleEvent): Unit = ()
  override def onQueryTerminated(e: QueryTerminatedEvent): Unit =
    SessionListener.target.foreach(_.onQueryTerminated(e))
}

object SessionListener {
  @volatile var target: Option[ProgressListener] = None
}
