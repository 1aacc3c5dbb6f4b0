package graft.perfbench

import java.util.UUID

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** One timed interval and the span that caused it. Times are epoch
  * nanoseconds, so spans from the main thread and from listeners share a
  * clock. */
final case class Span(id: Long, parent: Long, kind: String, name: String,
    startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Spark work launched under one phase span (build, plan, exec, check). */
final class Work {
  var jobs = 0
  var stages = 0
  var tasks = 0
  var runMs = 0L
  var gcMs = 0L
  var shuffleRead = 0L
  var shuffleWrite = 0L
  var spill = 0L
  /** Worst max ÷ median task run time over this phase's stages that had
    * at least two tasks. */
  var skew = 0.0
}

object Clock {
  private val offset = System.currentTimeMillis() * 1000000L - System.nanoTime()
  /** Epoch nanoseconds from the monotonic clock. */
  def now(): Long = System.nanoTime() + offset
}

/** Records spans and per-phase counters for the traced passes. The
  * main thread tags every job with the id of the phase span it runs
  * under (the `Tracer.Key` local property); jobs, stages and streaming
  * micro-batches become child spans of that phase. Listener callbacks
  * run on Spark's listener threads, so every access is synchronized;
  * the main thread reads only after draining the bus. */
final class Tracer extends SparkListener {
  private var nextId = 0L
  val spans = mutable.ArrayBuffer[Span]()
  val work = mutable.Map[Long, Work]()
  @volatile var currentPhase = -1L

  private val jobs = mutable.Map[Int, (Long, Long)]()      // job -> (phase, start)
  private val stageJob = mutable.Map[Int, Int]()
  private val stagePhase = mutable.Map[Int, Long]()
  private val stageTaskMs = mutable.Map[Int, mutable.ArrayBuffer[Long]]()

  private val blocks = mutable.Map[String, Long]()
  private var blockBytes = 0L
  var blockPeak = 0L

  var batches = 0L
  var batchRows = 0L
  var batchMs = 0L
  private val stateRows = mutable.Map[UUID, Long]()
  private val queryPhase = mutable.Map[UUID, Long]()

  def id(): Long = synchronized { nextId += 1; nextId }

  def add(s: Span): Unit = synchronized { spans += s }

  private def w(phase: Long): Work = work.getOrElseUpdate(phase, new Work)

  /** Forget the counters of the previous pass; spans are kept. */
  def reset(): Unit = synchronized {
    work.clear()
    blockPeak = blockBytes
    batches = 0L; batchRows = 0L; batchMs = 0L
    stateRows.clear()
  }

  def stateRowsTotal: Long = synchronized { stateRows.values.sum }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val phase = Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.Key)))
      .map(_.toLong).getOrElse(-1L)
    jobs(e.jobId) = (phase, e.time * 1000000L)
    e.stageIds.foreach { s => stageJob(s) = e.jobId; stagePhase(s) = phase }
    w(phase).jobs += 1
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.remove(e.jobId).foreach { case (phase, start) =>
      spans += Span(-e.jobId.toLong - 1, phase, "job", s"job ${e.jobId}",
        start, e.time * 1000000L)
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val info = e.stageInfo
    val phase = stagePhase.getOrElse(info.stageId, -1L)
    w(phase).stages += 1
    for (sub <- info.submissionTime; done <- info.completionTime)
      spans += Span(0L, stageJob.get(info.stageId).map(j => -j.toLong - 1).getOrElse(phase),
        "stage", s"stage ${info.stageId}", sub * 1000000L, done * 1000000L)
    stageTaskMs.remove(info.stageId).filter(_.size >= 2).foreach { ms =>
      val sorted = ms.sorted
      val median = sorted(sorted.size / 2).max(1L)
      w(phase).skew = w(phase).skew.max(sorted.last.toDouble / median)
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      val p = w(stagePhase.getOrElse(e.stageId, -1L))
      p.tasks += 1
      p.runMs += m.executorRunTime
      p.gcMs += m.jvmGCTime
      p.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      p.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      p.spill += m.diskBytesSpilled
      stageTaskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer[Long]()) +=
        m.executorRunTime
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val info = e.blockUpdatedInfo
    if (info.blockId.isRDD) {
      val key = s"${info.blockId.name}@${info.blockManagerId.executorId}"
      val size = if (info.storageLevel.isValid) info.memSize + info.diskSize else 0L
      blockBytes += size - blocks.getOrElse(key, 0L)
      if (size > 0) blocks(key) = size else blocks.remove(key)
      blockPeak = blockPeak.max(blockBytes)
    }
  }

  /** Micro-batch progress from the gates' streaming queries. */
  val streams: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
      Tracer.this.synchronized { queryPhase(e.id) = currentPhase }
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      Tracer.this.synchronized {
        val p = e.progress
        val ms = Option(p.durationMs.get("triggerExecution")).map(_.longValue).getOrElse(0L)
        batches += 1
        batchRows += p.numInputRows
        batchMs += ms
        stateRows(p.id) = p.stateOperators.map(_.numRowsTotal).sum
        val start = java.time.Instant.parse(p.timestamp).toEpochMilli * 1000000L
        spans += Span(0L, queryPhase.getOrElse(p.id, -1L), "batch",
          s"batch ${p.batchId}", start, start + ms * 1000000L)
      }
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }
}

object Tracer {
  /** Local property carrying the id of the phase span a job runs under. */
  val Key = "perfbench.span"

  /** Length of the parts of [start, end) covered by the given intervals. */
  def covered(start: Long, end: Long, intervals: Seq[(Long, Long)]): Long = {
    var total = 0L
    var reach = start
    intervals.map { case (a, b) => (a.max(start), b.min(end)) }
      .filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
        if (b > reach) { total += b - a.max(reach); reach = b }
      }
    total
  }
}
