package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener._

import scala.collection.mutable

private final case class BatchRec(triggerMs: Long, addBatchMs: Long, planningMs: Long, walMs: Long,
  commitMs: Long, inputRows: Long, stateRows: Long, stateBytes: Long, endMs: Long)

/** Listens to Spark's public listener APIs and attributes what it hears to
  * the query whose job tag the event carries.
  *
  * - Jobs carry the tags that were set on the thread that launched them.
  * - SQL executions carry their tags in `SparkListenerSQLExecutionStart`;
  *   those whose root plan node executes a command (`Execute ...`) are
  *   catalog and DDL commands.
  * - A streaming query's micro-batch jobs run under a job group named after
  *   the query's run id and inherit the tags of the thread that started the
  *   query, which ties the run id, and so its progress reports, to a tag.
  *
  * Callbacks arrive on the listener bus thread; `take` is called after the
  * bus has been drained. */
final class Tracer extends SparkListener {

  private final class JobRec(val tags: Set[String], val start: Long, val stageIds: Seq[Int]) {
    var end: Long = start
    var stagesRun = 0
    var tasks = 0L
    var runMs = 0L
    var cpuNs = 0L
    var gcMs = 0L
    var shuffleRead = 0L
    var shuffleWrite = 0L
    var spill = 0L
    var inputRows = 0L
    var peakMem = 0L
  }

  private final class SqlRec(val tags: Set[String], val start: Long) {
    var end: Long = start
    var command = false
  }

  private val jobs = mutable.Map[Int, JobRec]()
  private val stageJob = mutable.Map[Int, Int]()
  private val sqls = mutable.Map[Long, SqlRec]()
  private val runTags = mutable.Map[String, Set[String]]()
  private val batches = mutable.Map[String, mutable.ArrayBuffer[BatchRec]]()

  private def tagsOf(p: java.util.Properties): Set[String] =
    Option(p).flatMap(x => Option(x.getProperty("spark.job.tags")))
      .map(_.split(",").filter(_.nonEmpty).toSet).getOrElse(Set.empty)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val tags = tagsOf(e.properties)
    jobs(e.jobId) = new JobRec(tags, e.time, e.stageIds)
    e.stageIds.foreach(s => stageJob.getOrElseUpdate(s, e.jobId))
    val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
    group.foreach(g => if (tags.nonEmpty) runTags.getOrElseUpdate(g, tags))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stageJob.get(e.stageInfo.stageId).flatMap(jobs.get).foreach(_.stagesRun += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (jid <- stageJob.get(e.stageId); j <- jobs.get(jid); m <- Option(e.taskMetrics)) {
      j.tasks += 1
      j.runMs += m.executorRunTime
      j.cpuNs += m.executorCpuTime
      j.gcMs += m.jvmGCTime
      j.shuffleRead += m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead
      j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      j.spill += m.diskBytesSpilled
      j.inputRows += m.inputMetrics.recordsRead
      j.peakMem = math.max(j.peakMem, m.peakExecutionMemory)
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = synchronized {
    e match {
      case s: SparkListenerSQLExecutionStart =>
        val r = new SqlRec(s.jobTags, s.time)
        r.command = s.sparkPlanInfo.nodeName.startsWith("Execute ")
        sqls(s.executionId) = r
      case s: SparkListenerSQLExecutionEnd => sqls.get(s.executionId).foreach(_.end = s.time)
      case _ =>
    }
  }

  val streams: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: QueryStartedEvent): Unit = ()
    override def onQueryIdle(e: QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: QueryProgressEvent): Unit = Tracer.this.synchronized {
      val p = e.progress
      def d(k: String): Long = Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)
      val ops = p.stateOperators
      val end = java.time.Instant.parse(p.timestamp).toEpochMilli + d("triggerExecution")
      batches.getOrElseUpdate(p.runId.toString, mutable.ArrayBuffer()) += BatchRec(
        d("triggerExecution"), d("addBatch"), d("queryPlanning"), d("walCommit") + d("commitOffsets"),
        ops.map(_.commitTimeMs).sum, p.numInputRows, ops.map(_.numRowsTotal).sum,
        ops.map(_.memoryUsedBytes).sum, end)
    }
  }

  /** Union length, in seconds, of [start, end] intervals given in ms. */
  private def unionS(iv: Iterable[(Long, Long)]): Double = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.toSeq.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { total += curE - curS; curS = s; curE = e } else curE = math.max(curE, e)
    }
    (total + curE - curS) / 1000.0
  }

  /** The layer figures of the query whose construct step ran under
    * `constructTag` and whose action ran under `actionTag`, and forgets
    * every record attributed to either. Streaming runs started under either
    * tag count as the query's. */
  def take(constructTag: String, actionTag: String): Map[String, Double] = synchronized {
    val cj = jobs.filter(_._2.tags.contains(constructTag))
    val aj = jobs.filter(_._2.tags.contains(actionTag))
    val cmds = sqls.filter { case (_, r) => r.command && r.tags.contains(constructTag) }
    val runs = runTags.collect { case (run, t) if t.contains(constructTag) || t.contains(actionTag) => run }.toSeq
    val bs = runs.flatMap(r => batches.getOrElse(r, Nil))
    val lastPerRun = runs.flatMap(r => batches.get(r).flatMap(_.lastOption))
    def sumL(js: Iterable[JobRec])(f: JobRec => Long): Double = js.iterator.map(f).sum.toDouble
    val ajs = aj.values
    val m = Map(
      "construct.jobs" -> cj.size.toDouble,
      "construct.job_s" -> unionS(cj.values.map(j => (j.start, j.end))),
      "catalog.commands" -> cmds.size.toDouble,
      "catalog.command_s" -> unionS(cmds.values.map(r => (r.start, r.end))),
      "exec.jobs" -> aj.size.toDouble,
      "exec.s" -> unionS(ajs.map(j => (j.start, j.end))),
      "exec.stages" -> sumL(ajs)(_.stagesRun.toLong),
      "exec.stages_skipped" -> sumL(ajs)(j => math.max(0, j.stageIds.size - j.stagesRun).toLong),
      "exec.tasks" -> sumL(ajs)(_.tasks),
      "exec.task_run_s" -> sumL(ajs)(_.runMs) / 1e3,
      "exec.task_cpu_s" -> sumL(ajs)(_.cpuNs) / 1e9,
      "exec.gc_s" -> sumL(ajs)(_.gcMs) / 1e3,
      "exec.shuffle_read_mb" -> sumL(ajs)(_.shuffleRead) / 1048576.0,
      "exec.shuffle_write_mb" -> sumL(ajs)(_.shuffleWrite) / 1048576.0,
      "exec.spill_mb" -> sumL(ajs)(_.spill) / 1048576.0,
      "exec.input_rows" -> sumL(ajs)(_.inputRows),
      "exec.peak_exec_mem_mb" -> (if (ajs.isEmpty) 0.0 else ajs.map(_.peakMem).max / 1048576.0),
      "stream.queries" -> runs.size.toDouble,
      "stream.batches" -> bs.size.toDouble,
      "stream.input_rows" -> bs.map(_.inputRows).sum.toDouble,
      "stream.trigger_s" -> bs.map(_.triggerMs).sum / 1e3,
      "stream.addbatch_s" -> bs.map(_.addBatchMs).sum / 1e3,
      "stream.query_planning_s" -> bs.map(_.planningMs).sum / 1e3,
      "stream.wal_s" -> bs.map(_.walMs).sum / 1e3,
      "stream.state_commit_s" -> bs.map(_.commitMs).sum / 1e3,
      "stream.state_rows" -> lastPerRun.map(_.stateRows).sum.toDouble,
      "stream.state_mb" -> lastPerRun.map(_.stateBytes).sum / 1048576.0)
    cj.keys.foreach(jobs.remove)
    aj.keys.foreach(jobs.remove)
    val live = jobs.keySet
    stageJob.filterInPlace((_, j) => live(j))
    sqls.filterInPlace((_, r) => !r.tags.contains(constructTag) && !r.tags.contains(actionTag))
    runs.foreach { r => runTags.remove(r); batches.remove(r) }
    m
  }

  /** Batch records of one streaming run: (trigger end ms, trigger ms, input rows). */
  def batchesOf(runId: String): Seq[(Long, Long, Long)] = synchronized {
    batches.getOrElse(runId, Nil).map(b => (b.endMs, b.triggerMs, b.inputRows)).toSeq
  }
}
