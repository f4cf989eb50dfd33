package graft.perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** The Spark-side listeners of the traced run: jobs/stages/tasks and block
  * updates (SparkListener), Catalyst phase times and file-scan metrics
  * (QueryExecutionListener), and micro-batch progress
  * (StreamingQueryListener). Registered only when tracing is on. Listener
  * events arrive on the bus thread; [[drain]] waits for the bus before the
  * counters are read.
  */
final class SparkTrace(spark: SparkSession) {

  /** One finished Spark job with the task metrics of its stages. */
  final case class Job(id: Int, span: Long, req: String, group: String, desc: String,
      startMs: Long, endMs: Long, ok: Boolean, stages: Int, tasks: Long, runMs: Long,
      cpuMs: Long, shuffleRead: Long, shuffleWrite: Long, spill: Long)

  /** One successful QueryExecution: Catalyst phases and the files/bytes
    * read by its scans under `scanRoot`. */
  final case class Qe(analysisMs: Long, optimizationMs: Long, planningMs: Long,
      files: Long, bytes: Long)

  /** One micro-batch's progress; `startMs` is the trigger's start. */
  final case class Progress(name: String, runId: String, batchId: Long, rows: Long,
      startMs: Long, endMs: Long, durations: Map[String, Long])

  @volatile var scanRoot: String = ""

  val jobs = new ConcurrentLinkedQueue[Job]()
  val qes = new ConcurrentLinkedQueue[Qe]()
  val progress = new ConcurrentLinkedQueue[Progress]()
  val blocksAdded = new AtomicLong(0L)
  val blocksDropped = new AtomicLong(0L)

  private final case class StageAgg(tasks: Long, runMs: Long, cpuMs: Long, sr: Long,
      sw: Long, spill: Long)
  private val stageAgg = new ConcurrentHashMap[Int, StageAgg]()
  private val jobStart = new ConcurrentHashMap[Int, (SparkListenerJobStart, Long)]()

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      jobStart.put(e.jobId, (e, e.time))

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val i = e.stageInfo
      val m = i.taskMetrics
      val agg =
        if (m == null) StageAgg(i.numTasks, 0, 0, 0, 0, 0)
        else StageAgg(i.numTasks, m.executorRunTime, m.executorCpuTime / 1000000L,
          m.shuffleReadMetrics.totalBytesRead, m.shuffleWriteMetrics.bytesWritten,
          m.memoryBytesSpilled + m.diskBytesSpilled)
      stageAgg.put(i.stageId, agg)
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobStart.remove(e.jobId)).foreach { case (s, t0) =>
        val p = Option(s.properties)
        def prop(k: String) = p.flatMap(x => Option(x.getProperty(k))).getOrElse("")
        val st = s.stageIds.flatMap(id => Option(stageAgg.remove(id)))
        val span = scala.util.Try(prop(Trace.SpanProp).toLong).getOrElse(0L)
        val desc = prop("spark.job.description")
        val req = Option(prop(Trace.ReqProp)).filter(_.nonEmpty)
          .orElse(SparkTrace.ReqTag.findFirstMatchIn(desc).map(_.group(1))).getOrElse("")
        jobs.add(Job(e.jobId, span, req, prop("spark.jobGroup.id"), desc, t0, e.time,
          e.jobResult == JobSucceeded, st.size, st.map(_.tasks).sum, st.map(_.runMs).sum,
          st.map(_.cpuMs).sum, st.map(_.sr).sum, st.map(_.sw).sum, st.map(_.spill).sum))
      }

    override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit =
      if (e.blockUpdatedInfo.storageLevel.isValid) blocksAdded.incrementAndGet()
      else blocksDropped.incrementAndGet()
  }

  private val qeListener = new QueryExecutionListener with AdaptiveSparkPlanHelper {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val ph = qe.tracker.phases
      def ms(k: String) = ph.get(k).map(_.durationMs).getOrElse(0L)
      val root = scanRoot
      val scans = collectWithSubqueries(qe.executedPlan) { case s: FileSourceScanExec => s }
        .filter(s => root.nonEmpty &&
          s.relation.location.rootPaths.exists(_.toString.contains(root)))
      def metric(s: SparkPlan, k: String) = s.metrics.get(k).map(_.value).getOrElse(0L)
      qes.add(Qe(ms("analysis"), ms("optimization"), ms("planning"),
        scans.map(metric(_, "numFiles")).sum, scans.map(metric(_, "filesSize")).sum))
    }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  private val streamListener = new StreamingQueryListener {
    import StreamingQueryListener._
    override def onQueryStarted(e: QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: QueryProgressEvent): Unit = {
      val p = e.progress
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
      val start = java.time.Instant.parse(p.timestamp).toEpochMilli
      progress.add(Progress(Option(p.name).getOrElse(""), p.runId.toString, p.batchId,
        p.numInputRows, start, start + d.getOrElse("triggerExecution", 0L), d))
    }
  }

  def register(): Unit = {
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
  }

  /** Wait until every posted listener event has been delivered. */
  def drain(): Unit = org.apache.spark.PerfbenchBus.drain(spark.sparkContext, 30000L)

  final case class Snapshot(jobs: Seq[Job], qes: Seq[Qe], progress: Seq[Progress],
      blocksAdded: Long, blocksDropped: Long)

  /** Everything recorded since the last [[reset]]. */
  def snapshot(): Snapshot = {
    drain()
    Snapshot(jobs.asScala.toSeq, qes.asScala.toSeq, progress.asScala.toSeq,
      blocksAdded.get, blocksDropped.get)
  }

  /** Drop everything recorded so far (set-up work is not the run). */
  def reset(): Unit = {
    drain(); jobs.clear(); qes.clear(); progress.clear()
    blocksAdded.set(0); blocksDropped.set(0)
  }
}

object SparkTrace {
  /** Request tag the play clients put in front of every SQL statement; the
    * gateway copies the statement into its job description. */
  val ReqTag = """/\* req=([A-Za-z0-9_.-]+) \*/""".r

  /** Run id and batch id in the description Structured Streaming gives the
    * jobs of a micro-batch. */
  val BatchTag = """runId = ([0-9a-f-]+)\s+batch = (\d+)""".r
}
