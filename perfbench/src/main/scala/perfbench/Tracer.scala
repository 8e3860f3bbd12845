package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** One completed stage, with its task metrics summed over its tasks, and the
  * labels of the job that ran it: the benchmark phase (set by
  * [[Tracer.phase]] on the calling thread), whether it belongs to a MOR fold,
  * and the streaming micro-batch it ran for (-1 if none). */
final case class StageRec(
    stageId: Int, jobId: Int, phase: String, fold: Boolean, streamBatch: Long,
    startMs: Long, endMs: Long, cpuS: Double, runS: Double,
    inRecords: Long, shWrite: Long, shRead: Long, outBytes: Long, outRecords: Long)

final case class JobRec(jobId: Int, phase: String, fold: Boolean, streamBatch: Long,
    startMs: Long, @volatile var endMs: Long)

/** Micro-batch progress as the StreamingQueryListener reports it. */
final case class ProgressRec(batchId: Long, rows: Long, tsMs: Long, durations: Map[String, Long])

/** Outside-in tracer: listens on Spark's listener bus and adds nothing to
  * the engine. Only the traced run installs it. */
final class Tracer extends SparkListener {
  private val jobs = new java.util.concurrent.ConcurrentHashMap[Int, JobRec]()
  private val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
  private val execDetails = new java.util.concurrent.ConcurrentHashMap[Long, String]()
  private val stages = new java.util.concurrent.ConcurrentLinkedQueue[StageRec]()

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case x: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
      execDetails.put(x.executionId, x.details)
    case _ =>
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val p = Option(e.properties)
    def prop(k: String): Option[String] = p.flatMap(x => Option(x.getProperty(k)))
    // An async fold thread inherits the properties of the micro-batch that
    // submitted it; the call site of the SQL execution (the thread that ran
    // the action) tells a fold apart. Stages that adaptive execution submits
    // from its own threads carry no engine frame of their own.
    val details = prop("spark.sql.execution.id").flatMap(id => Option(execDetails.get(id.toLong)))
      .getOrElse(e.stageInfos.headOption.map(_.details).getOrElse(""))
    jobs.put(e.jobId, JobRec(e.jobId, prop(Tracer.PhaseKey).getOrElse(""),
      details.contains("graft.ingest.Mor$.fold"),
      Tracer.batchOf(prop("spark.job.description").getOrElse("")), e.time, -1L))
    e.stageIds.foreach(s => stageJob.put(s, e.jobId))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val si = e.stageInfo
    val m = si.taskMetrics
    if (m == null) return
    val job = Option(stageJob.get(si.stageId)).flatMap(j => Option(jobs.get(j.intValue)))
    stages.add(StageRec(si.stageId, job.map(_.jobId).getOrElse(-1),
      job.map(_.phase).getOrElse(""), job.exists(_.fold), job.map(_.streamBatch).getOrElse(-1L),
      si.submissionTime.getOrElse(0L), si.completionTime.getOrElse(0L),
      m.executorCpuTime / 1e9, m.executorRunTime / 1e3,
      m.inputMetrics.recordsRead, m.shuffleWriteMetrics.bytesWritten,
      m.shuffleReadMetrics.totalBytesRead, m.outputMetrics.bytesWritten,
      m.outputMetrics.recordsWritten))
  }

  def jobList: Seq[JobRec] = {
    import scala.jdk.CollectionConverters._
    jobs.values().asScala.toSeq.sortBy(_.jobId)
  }
  def stageList: Seq[StageRec] = {
    import scala.jdk.CollectionConverters._
    stages.asScala.toSeq
  }
}

object Tracer {
  val PhaseKey = "perfbench.phase"

  /** Run `f` with every Spark job it submits from this thread labelled
    * `name`. */
  def phase[T](spark: org.apache.spark.sql.SparkSession, name: String)(f: => T): T = {
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty(PhaseKey)
    sc.setLocalProperty(PhaseKey, name)
    try f finally sc.setLocalProperty(PhaseKey, prev)
  }

  private val batchRe = raw"batch = (\d+)".r
  def batchOf(desc: String): Long =
    batchRe.findFirstMatchIn(desc).map(_.group(1).toLong).getOrElse(-1L)

  /** Sum of GC time of every collector so far, in seconds. */
  def gcSeconds(): Double = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(0L, b.getCollectionTime)).sum / 1e3
  }
}

/** Collects micro-batch progress of every streaming query. */
final class ProgressLog extends StreamingQueryListener {
  private val batches = new java.util.concurrent.ConcurrentLinkedQueue[ProgressRec]()
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    import scala.jdk.CollectionConverters._
    val p = e.progress
    batches.add(ProgressRec(p.batchId, p.numInputRows,
      java.time.Instant.parse(p.timestamp).toEpochMilli,
      p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap))
  }
  def list: Seq[ProgressRec] = {
    import scala.jdk.CollectionConverters._
    batches.asScala.toSeq.sortBy(_.tsMs)
  }
}
