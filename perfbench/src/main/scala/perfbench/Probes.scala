package perfbench

import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.Success
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Listener-side counters of the traced run. Listener callbacks run on
  * Spark's listener-bus threads; read only after the bus is drained. */
final class Probes(tracer: Tracer, running: AtomicInteger)
    extends SparkListener {

  private val sums = mutable.Map.empty[String, Double].withDefaultValue(0.0)

  def add(key: String, v: Double): Unit = synchronized { sums(key) += v }

  def get(key: String): Double = synchronized { sums(key) }

  // Spark stamps events with epoch ms; spans use System.nanoTime
  private val epochToNanoNs =
    System.currentTimeMillis() * 1000000L - System.nanoTime()
  private def nanoOf(epochMs: Long): Long = epochMs * 1000000L - epochToNanoNs

  // ---- scheduler and execution ----------------------------------------

  private val TagRe = "perfbench-p([0-9]+)".r
  private val openJobs = mutable.Map.empty[Int, (Long, Int)]

  /** A job belongs to the pipeline whose tag it carries; a job started on
    * a thread that did not inherit the tag goes to the running pipeline.
    * Job spans get their parent client span later, by time ([[Trace.nest]]):
    * events arrive after the client may have moved on. */
  private def owner(props: java.util.Properties): Int =
    Option(props).flatMap(p => Option(p.getProperty("spark.job.tags")))
      .flatMap(t => TagRe.findFirstMatchIn(t)).map(_.group(1).toInt)
      .getOrElse(running.get)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    openJobs(e.jobId) = (nanoOf(e.time), owner(e.properties))
    sums("scheduler.jobs") += 1
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    openJobs.remove(e.jobId).foreach { case (t0, pipeline) =>
      tracer.add(Span(tracer.nextId(), Trace.Job, t0, nanoOf(e.time), -1,
        pipeline))
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    add("scheduler.stages", 1)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    sums("scheduler.tasks") += 1
    if (e.reason != Success) sums("scheduler.task_failures") += 1
    val m = e.taskMetrics
    if (m != null) {
      val info = e.taskInfo
      sums("scheduler.task_deser_ms") += m.executorDeserializeTime
      sums("scheduler.delay_ms") += math.max(0L, info.duration -
        m.executorRunTime - m.executorDeserializeTime -
        m.resultSerializationTime)
      sums("exec.task_run_ms") += m.executorRunTime
      sums("exec.task_cpu_ns") += m.executorCpuTime
      sums("exec.gc_ms") += m.jvmGCTime
      sums("exec.spill_bytes") += m.memoryBytesSpilled
      sums("shuffle.write_bytes") += m.shuffleWriteMetrics.bytesWritten
      sums("shuffle.read_bytes") += m.shuffleReadMetrics.totalBytesRead
      sums("shuffle.fetch_wait_ms") += m.shuffleReadMetrics.fetchWaitTime
      sums("io.input_bytes") += m.inputMetrics.bytesRead
      sums("io.output_bytes") += m.outputMetrics.bytesWritten
    }
  }

  // ---- cache: cached RDD blocks ----------------------------------------

  private val persisted = mutable.Set.empty[Int]
  private val blockBytes = mutable.Map.empty[String, Long]
  private var storedBytes = 0L

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit =
    synchronized {
      val b = e.blockUpdatedInfo
      b.blockId.asRDDId.foreach { rdd =>
        val key = b.blockId.name
        storedBytes -= blockBytes.remove(key).getOrElse(0L)
        if (b.storageLevel.isValid) {
          persisted += rdd.rddId
          blockBytes(key) = b.memSize + b.diskSize
          storedBytes += b.memSize + b.diskSize
        }
        sums("cache.peak_bytes") =
          math.max(sums("cache.peak_bytes"), storedBytes.toDouble)
      }
    }

  def persists: Int = synchronized(persisted.size)

  // ---- Catalyst: planning phases of every executed query -----------------

  val queryListener: QueryExecutionListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution,
        durationNs: Long): Unit = record(qe)
    override def onFailure(funcName: String, qe: QueryExecution,
        exception: Exception): Unit = record(qe)
  }

  private def record(qe: QueryExecution): Unit = {
    val phases = qe.tracker.phases
    Seq("analysis", "optimization", "planning").foreach { p =>
      add(s"catalyst.${p}_ms", phases.get(p).map(_.durationMs).getOrElse(0L)
        .toDouble)
    }
    add("cache.cached_reads",
      "InMemoryTableScan".r.findAllMatchIn(qe.executedPlan.toString).size)
  }

  // ---- Structured Streaming: per-micro-batch progress ---------------------

  private val lastStateRows = mutable.Map.empty[java.util.UUID, Long]

  val streamListener: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(
        e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(
        e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(
        e: StreamingQueryListener.QueryProgressEvent): Unit =
      Probes.this.synchronized {
        val p = e.progress
        val d = p.durationMs.asScala.map { case (k, v) => k -> v.toLong }
          .withDefaultValue(0L)
        sums("streaming.batches") += 1
        sums("streaming.trigger_ms") += d("triggerExecution")
        sums("streaming.add_batch_ms") += d("addBatch")
        sums("streaming.wal_commit_ms") += d("walCommit") + d("commitOffsets")
        sums("streaming.planning_ms") += d("queryPlanning")
        lastStateRows(p.id) = p.stateOperators.map(_.numRowsTotal).sum
      }
  }

  /** Rows held in state at the last progress of each streaming query. */
  def stateRows: Long = synchronized(lastStateRows.values.sum)
}
