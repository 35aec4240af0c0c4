package perfbench

import scala.collection.mutable
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** In-memory spans, written once when the run ends. Hierarchy: workload →
  * op (entry | hour | batch) → layer call. Spans are recorded only while
  * `on`; timing of untraced ops is done by the caller with [[Clock]]. */
final class Trace(val workload: String, val runId: String) {
  final case class Span(id: Int, parent: Int, name: String, op: String,
      startNs: Long, endNs: Long)

  val spans = mutable.ArrayBuffer.empty[Span]
  private var stack = List(0) // 0 is the workload root
  private var nextId = 0
  var on = false

  /** Times `body`; records a span under the innermost open span when on. */
  def apply[T](name: String, op: String = "")(body: => T): (T, Double) = {
    nextId += 1
    val id = nextId
    val parent = stack.head
    if (on) stack = id :: stack
    val t0 = System.nanoTime()
    try {
      val r = body
      val t1 = System.nanoTime()
      if (on) spans += Span(id, parent, name, op, t0, t1)
      (r, (t1 - t0) / 1e9)
    } finally if (on) stack = stack.tail
  }

  /** Self time per span name: duration minus the time its children cover
    * (children of one span run one after another, never overlapping). */
  def selfSeconds: Map[String, Double] = {
    val childNs = spans.groupBy(_.parent).view
      .mapValues(_.map(s => s.endNs - s.startNs).sum).toMap
    spans.groupBy(_.name).view.mapValues(_.map(s =>
      (s.endNs - s.startNs - childNs.getOrElse(s.id, 0L)) / 1e9).sum).toMap
  }

  def writeJsonl(path: String): Unit = {
    val w = new java.io.PrintWriter(path, "UTF-8")
    try spans.foreach { s =>
      w.println(Json.obj(Seq("id" -> s.id, "parent" -> s.parent, "name" -> s.name,
        "op" -> s.op, "start_ns" -> s.startNs, "end_ns" -> s.endNs,
        "workload" -> workload, "run_id" -> runId)))
    } finally w.close()
  }
}

object Clock {
  def time[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }
}

/** Engine-wide job/stage/task counters. Attached only around traced ops;
  * events arrive on the single listener-bus thread, so plain fields are
  * safe once [[drain]] has returned. */
final class SparkStats(sc: SparkContext) extends SparkListener {
  var jobs, stages, tasks, failedTasks = 0L
  var runNs, gcMs, inBytes, shWrite, shRead, spill = 0L

  override def onJobStart(e: SparkListenerJobStart): Unit = jobs += 1
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = stages += 1
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks += 1
    if (e.reason != org.apache.spark.Success) failedTasks += 1
    val m = e.taskMetrics
    if (m != null) {
      runNs += m.executorRunTime * 1000000L
      gcMs += m.jvmGCTime
      inBytes += m.inputMetrics.bytesRead
      shWrite += m.shuffleWriteMetrics.bytesWritten
      shRead += m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead
      spill += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  def attach(): Unit = sc.addSparkListener(this)
  def detach(): Unit = { drain(); sc.removeSparkListener(this) }
  def drain(): Unit = org.apache.spark.BenchAccess.drainListeners(sc)

  /** Per-op averages over `ops` traced ops; parallelism is task time over
    * the wall time of the traced executions times the cores. */
  def metrics(ops: Int, execWallS: Double, cores: Int, storagePeakMb: Double): Seq[(String, Double)] = {
    val n = math.max(ops, 1).toDouble
    val mb = 1024.0 * 1024.0
    Seq(
      "spark.jobs" -> jobs / n,
      "spark.stages" -> stages / n,
      "spark.tasks" -> tasks / n,
      "spark.tasks_failed" -> failedTasks.toDouble,
      "spark.task_s" -> runNs / 1e9 / n,
      "spark.gc_s" -> gcMs / 1e3 / n,
      "spark.input_mb" -> inBytes / mb / n,
      "spark.shuffle_write_mb" -> shWrite / mb / n,
      "spark.shuffle_read_mb" -> shRead / mb / n,
      "spark.spill_mb" -> spill / mb / n,
      "spark.storage_mb_peak" -> storagePeakMb,
      "spark.parallelism" -> (if (execWallS > 0) runNs / 1e9 / (execWallS * cores) else 0.0))
  }
}

/** Planning time of the last SQL execution that ended: analysis,
  * optimization and physical planning as that execution's own planning
  * tracker recorded them (millisecond resolution). A `noop` write plans its
  * query under a new write command, so this is the write's planning, read
  * without planning anything twice. Registered only around traced ops;
  * callbacks arrive on the listener bus, so [[lastS]] is read after
  * [[SparkStats.drain]]. */
final class PlanTimes extends QueryExecutionListener {
  @volatile private var last: (String, Double) = ("", 0.0)

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    last = funcName -> qe.tracker.phases.collect {
      case (p, s) if Set("analysis", "optimization", "planning")(p) => s.durationMs
    }.sum / 1e3
  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()

  def reset(): Unit = last = ("", 0.0)
  def lastS: (String, Double) = last
}

object Storage {
  /** MB held by cached and checkpointed RDD blocks (pins, caches). */
  def mb(sc: SparkContext): Double =
    sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / (1024.0 * 1024.0)
}
