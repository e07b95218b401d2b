package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicLong, DoubleAdder}
import org.apache.spark.{PerfbenchBridge, Success}
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Spans and per-layer counters of a traced run, recorded from outside
  * the engine: the benchmark's own spans around calls into each module,
  * plus Spark's `SparkListener`, `QueryExecutionListener` and
  * `StreamingQueryListener` callbacks.
  *
  * Counting happens only while [[enabled]]; an untraced run never
  * registers the listeners, and its spans cost one flag check.
  * Spark jobs find their parent span through the `perfbench.span`
  * local property that [[span]] sets on the submitting thread; a job
  * whose tag is no longer live (a pooled thread that inherited an old
  * tag) falls back to the op running at the time, since query ops run
  * one at a time.
  */
final class Recorder(val tracer: Tracer) {
  @volatile var enabled = false
  @volatile var currentOp = 0L
  private val live = ConcurrentHashMap.newKeySet[Long]()

  val jobs, stages, tasks, taskFailures = new AtomicLong
  val taskRunMs, taskCpuNs, taskGcMs, schedDelayMs = new AtomicLong
  val inputBytes, inputRecords, shuffleWrite, shuffleRead, spillBytes = new AtomicLong
  val analysisMs, optimizerMs, planningMs = new AtomicLong
  val artifactBuilds, artifactBuildMs = new AtomicLong
  val streamBatches, streamCommitMs = new AtomicLong
  val streamBatchMs = new ConcurrentHashMap[Long, Long]() // batch seq -> ms
  private val streamSeq = new AtomicLong
  private val stateRows = new ConcurrentHashMap[java.util.UUID, (Long, Long)]()
  /** Spark job time per tagged span (ms), e.g. per pipeline job. */
  val sparkMsBySpan = new ConcurrentHashMap[Long, DoubleAdder]()

  private val jobInfo = new ConcurrentHashMap[Int, (Long, Long, Long)]() // id -> (spanId, parent, startMs)
  private val stageParent = new ConcurrentHashMap[Int, Long]()

  def goLive(id: Long): Unit = live.add(id)
  def retire(id: Long): Unit = live.remove(id)

  /** Run `body` inside a span of `kind`; the span id tags the Spark jobs
    * the calling thread submits.
    */
  def span[T](spark: SparkSession, kind: String, name: String, parent: Long)(
      body: Long => T): T = {
    val id = tracer.nextId()
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty("perfbench.span")
    val t0 = Clock.nowUs()
    live.add(id)
    sc.setLocalProperty("perfbench.span", id.toString)
    try body(id)
    finally {
      sc.setLocalProperty("perfbench.span", prev)
      live.remove(id)
      if (enabled) tracer.add(Span(id, parent, kind, name, t0, Clock.nowUs()))
    }
  }

  private def parentOf(props: java.util.Properties): Long = {
    val tag = Option(props).flatMap(p => Option(p.getProperty("perfbench.span")))
      .map(_.toLong).getOrElse(0L)
    if (tag != 0L && live.contains(tag)) tag else currentOp
  }

  val sparkListener: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = if (enabled) {
      val id = tracer.nextId()
      jobInfo.put(e.jobId, (id, parentOf(e.properties), e.time))
      e.stageIds.foreach(s => stageParent.put(s, id))
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobInfo.remove(e.jobId)).foreach { case (id, parent, start) =>
        jobs.incrementAndGet()
        tracer.add(Span(id, parent, "spark.job", s"job ${e.jobId}", start * 1000, e.time * 1000))
        sparkMsBySpan.computeIfAbsent(parent, _ => new DoubleAdder).add((e.time - start).toDouble)
      }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = if (enabled) {
      val si = e.stageInfo
      stages.incrementAndGet()
      tasks.addAndGet(si.numTasks)
      for (s <- si.submissionTime; c <- si.completionTime)
        tracer.add(Span(tracer.nextId(), stageParent.getOrDefault(si.stageId, currentOp),
          "spark.stage", s"stage ${si.stageId}.${si.attemptNumber()}", s * 1000, c * 1000))
      Option(si.taskMetrics).foreach { m =>
        taskRunMs.addAndGet(m.executorRunTime)
        taskCpuNs.addAndGet(m.executorCpuTime)
        taskGcMs.addAndGet(m.jvmGCTime)
        inputBytes.addAndGet(m.inputMetrics.bytesRead)
        inputRecords.addAndGet(m.inputMetrics.recordsRead)
        shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
        spillBytes.addAndGet(m.diskBytesSpilled)
      }
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (enabled) {
      if (e.reason != Success) taskFailures.incrementAndGet()
      val i = e.taskInfo
      val m = e.taskMetrics
      if (i != null && m != null && i.finished) {
        val delay = (i.finishTime - i.launchTime) - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime -
          (if (i.gettingResult) i.finishTime - i.gettingResultTime else 0L)
        schedDelayMs.addAndGet(math.max(0L, delay))
      }
    }
  }

  val queryListener: QueryExecutionListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      // a first-touch engine artifact is a parquet write into an
      // `artifact_*` scratch dir; these are counted from registration on,
      // since first touches happen in the warm-up
      val artifact = qe.logical.collectFirst {
        case c: InsertIntoHadoopFsRelationCommand => c.outputPath.toString
      }.exists(_.contains("/artifact_"))
      if (artifact) {
        artifactBuilds.incrementAndGet()
        artifactBuildMs.addAndGet(durationNs / 1000000L)
      }
      if (enabled) {
        val ph = qe.tracker.phases
        def ms(k: String) = ph.get(k).map(_.durationMs).getOrElse(0L)
        analysisMs.addAndGet(ms("analysis"))
        optimizerMs.addAndGet(ms("optimization"))
        planningMs.addAndGet(ms("planning"))
      }
    }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  val streamListener: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = if (enabled) {
      val p = e.progress
      streamBatches.incrementAndGet()
      streamBatchMs.put(streamSeq.incrementAndGet(), p.batchDuration)
      val d = p.durationMs
      def ms(k: String): Long = if (d.containsKey(k)) d.get(k).longValue else 0L
      streamCommitMs.addAndGet(ms("walCommit") + ms("commitOffsets"))
      stateRows.put(p.runId, (p.stateOperators.map(_.numRowsTotal).sum,
        p.stateOperators.map(_.memoryUsedBytes).sum))
    }
  }

  /** Last reported state size, summed over streaming queries: (rows, bytes). */
  def streamState: (Long, Long) = {
    var rows, bytes = 0L
    stateRows.values().forEach { case (r, b) => rows += r; bytes += b }
    (rows, bytes)
  }

  def register(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(queryListener)
    spark.streams.addListener(streamListener)
  }

  def drain(spark: SparkSession): Unit = PerfbenchBridge.drainListeners(spark.sparkContext)
}

object Recorder {
  /** GC time of the JVM so far, in ms, over all collectors. */
  def jvmGcMs(): Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(0L, b.getCollectionTime)).sum
  }

  def resetHeapPeak(): Unit = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP).foreach(_.resetPeakUsage())
  }

  /** Sum of the heap pools' peak usage since the last reset, in bytes. */
  def heapPeakBytes(): Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum
  }
}
