package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.DoubleAdder

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.perfbench.ListenerBusDrain
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener._
import org.apache.spark.sql.streaming.StreamingQueryProgress
import org.apache.spark.sql.util.QueryExecutionListener

/** The traced run's probes, all from outside the engine: a
  * `SparkListener` (scheduler and executor counters), a
  * `QueryExecutionListener` (Catalyst phase times), a
  * `StreamingQueryListener` (micro-batch progress) and the JVM's
  * MXBeans. Counters are snapshotted at every pass boundary after the
  * listener bus has drained, so per-pass figures are exact.
  */
final class Tracer(spark: SparkSession) {
  private val counters = Seq(
    "exec.jobs", "exec.stages", "exec.tasks", "exec.task_failures",
    "exec.task_run_s", "exec.task_cpu_s", "exec.task_gc_s",
    "exec.task_deser_s", "exec.input_bytes", "exec.shuffle_write_bytes",
    "exec.shuffle_read_bytes", "plans.analysis_s",
    "plans.optimization_s", "plans.planning_s")
  private val adders = counters.map(_ -> new DoubleAdder).toMap
  private def add(k: String, v: Double): Unit = adders(k).add(v)

  private val jobStarts = new java.util.concurrent.ConcurrentHashMap[Int, Long]
  /** (start, end) epoch ms of every finished job. */
  val jobs = new ConcurrentLinkedQueue[(Long, Long)]
  private val progress = new ConcurrentLinkedQueue[StreamingQueryProgress]

  spark.sparkContext.addSparkListener(new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      add("exec.jobs", 1)
      jobStarts.put(e.jobId, e.time)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobStarts.remove(e.jobId)).foreach(s => jobs.add((s, e.time)))
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      add("exec.stages", 1)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      add("exec.tasks", 1)
      if (e.taskInfo != null && e.taskInfo.failed)
        add("exec.task_failures", 1)
      Option(e.taskMetrics).foreach { m =>
        add("exec.task_run_s", m.executorRunTime / 1e3)
        add("exec.task_cpu_s", m.executorCpuTime / 1e9)
        add("exec.task_gc_s", m.jvmGCTime / 1e3)
        add("exec.task_deser_s", m.executorDeserializeTime / 1e3)
        add("exec.input_bytes", m.inputMetrics.bytesRead.toDouble)
        add("exec.shuffle_write_bytes",
          m.shuffleWriteMetrics.bytesWritten.toDouble)
        add("exec.shuffle_read_bytes",
          m.shuffleReadMetrics.totalBytesRead.toDouble)
      }
    }
  })

  spark.listenerManager.register(new QueryExecutionListener {
    private def phases(qe: QueryExecution): Unit = {
      val ph = qe.tracker.phases
      def ms(p: String) = ph.get(p).map(_.durationMs / 1e3).getOrElse(0.0)
      add("plans.analysis_s", ms("analysis"))
      add("plans.optimization_s", ms("optimization"))
      add("plans.planning_s", ms("planning"))
    }
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
      phases(qe)
    override def onFailure(f: String, qe: QueryExecution,
                           e: Exception): Unit = phases(qe)
  })

  spark.streams.addListener(new StreamingQueryListener {
    override def onQueryStarted(e: QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: QueryProgressEvent): Unit =
      progress.add(e.progress)
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
  })

  /** Counter values at each pass boundary (index 0: before the first
    * pass), the micro-batches each pass ran, and the storage memory
    * held by pinned/cached blocks after each pass.
    */
  val snaps = ArrayBuffer.empty[Map[String, Double]]
  val passProgress = ArrayBuffer.empty[Seq[StreamingQueryProgress]]
  val pinnedBytes = ArrayBuffer.empty[Double]

  def drain(): Unit = ListenerBusDrain(spark.sparkContext)

  def passEnd(): Unit = {
    drain()
    snaps += adders.map { case (k, a) => k -> a.sum() }
    val batch = ArrayBuffer.empty[StreamingQueryProgress]
    var p = progress.poll()
    while (p != null) { batch += p; p = progress.poll() }
    if (snaps.size > 1) passProgress += batch.toSeq
    pinnedBytes += spark.sparkContext.getRDDStorageInfo
      .map(i => (i.memSize + i.diskSize).toDouble).sum
  }

  /** Seconds of `[s, e]` covered by no finished job. */
  def uncoveredSeconds(s: Long, e: Long, js: Seq[(Long, Long)]): Double = {
    val clipped = js.map { case (a, b) => (math.max(a, s), math.min(b, e)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L
    var cur = s
    clipped.foreach { case (a, b) =>
      val from = math.max(a, cur)
      if (b > from) { covered += b - from; cur = b }
    }
    ((e - s) - covered) / 1e3
  }

  /** Jobs that started inside any of the intervals. */
  def jobsIn(intervals: Seq[(Long, Long)]): Int = {
    val js = jobs.asScala.toSeq
    js.count { case (a, _) => intervals.exists { case (s, e) =>
      a >= s && a <= e } }
  }

  /** Per-layer figures common to every workload: counters averaged over
    * the warm passes, the driver gap, streaming progress, pins and JVM.
    */
  def layers(run: Runner): Map[String, Double] = {
    val nWarm = math.max(1, snaps.size - 2)
    val first = snaps(1)
    val last = snaps.last
    val perPass = counters.map(k => k -> (last(k) - first(k)) / nWarm).toMap
    val js = jobs.asScala.toSeq
    val gap = run.warm.map(o => uncoveredSeconds(o.startMs, o.endMs, js)).sum
    val warmBatches = passProgress.drop(1).flatten.toSeq
    def dur(p: StreamingQueryProgress, k: String): Double =
      Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)
    val data = warmBatches.filter(_.numInputRows > 0)
    val batchMs = data.map(dur(_, "triggerExecution")).sorted
    val stateOps = warmBatches.map(_.stateOperators.toSeq)
    val triggerS = warmBatches.map(dur(_, "triggerExecution")).sum / 1e3
    val streamOpsS = run.warm.filter(_.kind == "gate").map(_.seconds).sum
    val jvm = ManagementFactory.getCompilationMXBean
    val os = ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    perPass ++ Map(
      "exec.driver_gap_s" -> gap / nWarm,
      "streaming.batches" -> data.size.toDouble / nWarm,
      "streaming.empty_batches" ->
        (warmBatches.size - data.size).toDouble / nWarm,
      "streaming.gate_overhead_s" ->
        (if (streamOpsS == 0) 0.0 else (streamOpsS - triggerS) / nWarm),
      "streaming.latest_offset_ms" ->
        warmBatches.map(dur(_, "latestOffset")).sum / nWarm,
      "streaming.get_batch_ms" ->
        warmBatches.map(dur(_, "getBatch")).sum / nWarm,
      "streaming.query_planning_ms" ->
        warmBatches.map(dur(_, "queryPlanning")).sum / nWarm,
      "streaming.add_batch_ms" ->
        warmBatches.map(dur(_, "addBatch")).sum / nWarm,
      "streaming.wal_commit_ms" ->
        warmBatches.map(dur(_, "walCommit")).sum / nWarm,
      "streaming.commit_offsets_ms" ->
        warmBatches.map(dur(_, "commitOffsets")).sum / nWarm,
      "streaming.state_commit_ms" ->
        stateOps.flatten.map(_.commitTimeMs.toDouble).sum / nWarm,
      "streaming.state_rows" ->
        (0.0 +: stateOps.map(_.map(_.numRowsTotal.toDouble).sum)).max,
      "streaming.state_memory_bytes" ->
        (0.0 +: stateOps.map(_.map(_.memoryUsedBytes.toDouble).sum)).max,
      "streaming.batch_p50_ms" -> Stats.median(batchMs),
      "streaming.rows_per_s" ->
        (if (batchMs.isEmpty) 0.0
         else data.map(_.numInputRows.toDouble).sum / (batchMs.sum / 1e3)),
      "operators.pinned_bytes" -> pinnedBytes.last,
      "operators.pinned_growth_bytes_per_pass" ->
        (pinnedBytes.last - pinnedBytes(1)) / nWarm,
      "jvm.jit_s" -> jvm.getTotalCompilationTime / 1e3,
      "jvm.gc_s" -> ManagementFactory.getGarbageCollectorMXBeans.asScala
        .map(_.getCollectionTime.toDouble).sum / 1e3,
      "jvm.process_cpu_s" -> os.getProcessCpuTime / 1e9)
  }
}

object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }
}
