package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** The traced run's recorder. Everything is kept in memory and written at
  * the end of the run.
  *
  *  - Spans: name, start, end, parent and op id, recorded around every op
  *    and every timed public call of the engine.
  *  - Jobs: one record per Spark job from a [[SparkListener]], carrying the
  *    op id of the local property set before each op (jobs submitted from
  *    the engine's own threads have none and are attributed by time window
  *    when the spans are analysed).
  *  - Stages: task totals per stage (run time, CPU, scheduler delay, data
  *    movement, spill, peak memory, and the task-duration skew).
  *  - Streaming progress from a [[StreamingQueryListener]].
  *
  * An untraced run never constructs one, so end-to-end numbers carry no
  * listener cost.
  */
final class Recorder(spark: SparkSession) {
  import Recorder._

  private val epochUs = System.currentTimeMillis() * 1000L
  private val nanoBase = System.nanoTime()
  def nowUs: Long = epochUs + (System.nanoTime() - nanoBase) / 1000L

  private val spans = new ConcurrentLinkedQueue[Span]()
  private val nextSpan = new java.util.concurrent.atomic.AtomicInteger(0)
  private val stack = new ThreadLocal[List[Int]] { override def initialValue(): List[Int] = Nil }
  @volatile private var currentOp: Int = -1
  /** Nanoseconds spent inside the recorder's own bookkeeping. */
  private val selfNs = new java.util.concurrent.atomic.AtomicLong(0L)

  private def charge[T](body: => T): T = {
    val t0 = System.nanoTime()
    try body finally selfNs.addAndGet(System.nanoTime() - t0)
  }

  def withOp[T](op: Int)(body: => T): T = {
    currentOp = op
    try body finally currentOp = -1
  }

  /** Record `body` as a span under the innermost open span of this thread. */
  def span[T](name: String)(body: => T): T = {
    val (id, parent, start) = charge {
      val id = nextSpan.getAndIncrement()
      val parent = stack.get.headOption.getOrElse(-1)
      stack.set(id :: stack.get)
      (id, parent, nowUs)
    }
    try body
    finally charge {
      spans.add(Span(id, parent, name, currentOp, start, nowUs))
      stack.set(stack.get.tail)
    }
  }

  private val jobs = new ConcurrentLinkedQueue[JobRec]()
  private val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String, Seq[Int])]()
  private val stages = new java.util.concurrent.ConcurrentHashMap[(Int, Int), StageAgg]()
  private val progress = new ConcurrentLinkedQueue[Progress]()

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = charge {
      val op = Option(e.properties).flatMap(p => Option(p.getProperty(OpProperty))).orNull
      jobStart.put(e.jobId, (e.time, op, e.stageIds))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = charge {
      Option(jobStart.remove(e.jobId)).foreach { case (t0, op, stageIds) =>
        jobs.add(JobRec(e.jobId, t0 * 1000L, e.time * 1000L, op, stageIds,
          e.jobResult == JobSucceeded))
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = charge {
      val m = e.taskMetrics
      if (m != null) {
        val agg = stages.computeIfAbsent((e.stageId, e.stageAttemptId), _ => new StageAgg)
        val i = e.taskInfo
        val duration = math.max(0L, i.finishTime - i.launchTime)
        agg.synchronized {
          agg.tasks += 1
          agg.durationsMs += duration
          agg.runMs += m.executorRunTime
          agg.cpuNs += m.executorCpuTime
          agg.schedDelayMs += math.max(0L, duration - m.executorRunTime -
            m.executorDeserializeTime - m.resultSerializationTime -
            (if (i.gettingResultTime > 0) i.finishTime - i.gettingResultTime else 0L))
          agg.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          agg.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          agg.spillMem += m.memoryBytesSpilled
          agg.spillDisk += m.diskBytesSpilled
          agg.input += m.inputMetrics.bytesRead
          agg.output += m.outputMetrics.bytesWritten
          agg.peakMem = math.max(agg.peakMem, m.peakExecutionMemory)
        }
      }
    }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = charge {
      val p = e.progress
      def dur(k: String): Long = Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)
      progress.add(Progress(dur("triggerExecution"), dur("walCommit"), p.numInputRows,
        p.stateOperators.map(_.numRowsTotal).sum,
        p.stateOperators.map(_.memoryUsedBytes).sum))
    }
  }

  def attach(): Unit = {
    spark.sparkContext.addSparkListener(listener)
    spark.streams.addListener(streamListener)
  }

  def detach(): Unit = {
    drain()
    spark.sparkContext.removeSparkListener(listener)
    spark.streams.removeListener(streamListener)
  }

  def drain(): Unit = org.apache.spark.perfbenchbridge.ListenerDrain(spark.sparkContext)

  def recorderSeconds: Double = selfNs.get / 1e9

  def allSpans: Seq[Span] = spans.asScala.toSeq.sortBy(s => (s.startUs, s.id))
  def allJobs: Seq[JobRec] = jobs.asScala.toSeq.sortBy(_.jobId)
  def streamingProgress: Seq[Progress] = progress.asScala.toSeq

  /** Per-stage totals joined to the job that submitted the stage. */
  def allStages: Seq[(Int, Int, Option[Int], StageAgg)] = {
    val stageJob = allJobs.flatMap(j => j.stageIds.map(_ -> j.jobId)).toMap
    stages.asScala.toSeq.map { case ((sid, att), agg) => (sid, att, stageJob.get(sid), agg) }
      .sortBy(s => (s._1, s._2))
  }

  def spansJson: Seq[Map[String, Any]] = allSpans.map(s => Map(
    "id" -> s.id, "parent" -> s.parent, "name" -> s.name, "op" -> s.op,
    "start_us" -> s.startUs, "end_us" -> s.endUs))

  def jobsJson: Seq[Map[String, Any]] = allJobs.map(j => Map(
    "job" -> j.jobId, "start_us" -> j.startUs, "end_us" -> j.endUs,
    "op" -> Option(j.op).map(_.toInt), "ok" -> j.ok, "stages" -> j.stageIds))

  def stagesJson: Seq[Map[String, Any]] = allStages.map { case (sid, att, job, a) => Map(
    "stage" -> sid, "attempt" -> att, "job" -> job, "tasks" -> a.tasks,
    "run_ms" -> a.runMs, "cpu_ns" -> a.cpuNs, "sched_delay_ms" -> a.schedDelayMs,
    "task_ms" -> a.durationsMs.toSeq,
    "shuffle_read" -> a.shuffleRead, "shuffle_write" -> a.shuffleWrite,
    "spill_mem" -> a.spillMem, "spill_disk" -> a.spillDisk,
    "input" -> a.input, "output" -> a.output, "peak_mem" -> a.peakMem)
  }

  def progressJson: Seq[Map[String, Any]] = streamingProgress.map(p => Map(
    "trigger_ms" -> p.triggerMs, "wal_commit_ms" -> p.walCommitMs,
    "input_rows" -> p.inputRows, "state_rows" -> p.stateRows, "state_mem" -> p.stateMem))
}

object Recorder {
  /** Local property naming the op a job belongs to. */
  val OpProperty = "perfbench.op"

  final case class Span(id: Int, parent: Int, name: String, op: Int, startUs: Long, endUs: Long)
  final case class JobRec(jobId: Int, startUs: Long, endUs: Long, op: String,
                          stageIds: Seq[Int], ok: Boolean)
  final case class Progress(triggerMs: Long, walCommitMs: Long, inputRows: Long,
                            stateRows: Long, stateMem: Long)

  final class StageAgg {
    var tasks = 0
    val durationsMs = mutable.ArrayBuffer.empty[Long]
    var runMs, cpuNs, schedDelayMs = 0L
    var shuffleRead, shuffleWrite, spillMem, spillDisk, input, output, peakMem = 0L
  }
}
