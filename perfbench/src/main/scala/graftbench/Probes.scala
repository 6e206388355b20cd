package graftbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicLong, DoubleAdder}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener._
import org.apache.spark.sql.util.QueryExecutionListener

/** Spark-side counters, read as deltas around the timed phase. Every
  * counter is fed by a listener the benchmark registers; the engine is
  * not touched. Spark's listener bus is asynchronous, so [[settle]]
  * waits for the counters to stop moving before they are read.
  */
final class SparkProbe extends SparkListener {
  val jobs = new AtomicLong
  val stages = new AtomicLong
  val tasks = new AtomicLong
  val taskMs = new AtomicLong
  val shuffleBytes = new AtomicLong
  val scanBytes = new AtomicLong

  override def onJobStart(e: SparkListenerJobStart): Unit = { jobs.incrementAndGet(); () }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = { stages.incrementAndGet(); () }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      taskMs.addAndGet(m.executorRunTime)
      shuffleBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten + m.shuffleReadMetrics.totalBytesRead)
      scanBytes.addAndGet(m.inputMetrics.bytesRead)
    }
    ()
  }

  def snapshot: Map[String, Long] = Map(
    "jobs" -> jobs.get, "stages" -> stages.get, "tasks" -> tasks.get,
    "task_ms" -> taskMs.get, "shuffle_bytes" -> shuffleBytes.get, "scan_bytes" -> scanBytes.get)

  /** Wait until three polls 50 ms apart read the same counters. */
  def settle(): Unit = {
    var prev = snapshot
    var stable = 0
    var polls = 0
    while (stable < 3 && polls < 200) {
      Thread.sleep(50)
      val cur = snapshot
      if (cur == prev) stable += 1 else { stable = 0; prev = cur }
      polls += 1
    }
  }
}

/** Query-planning phases and action durations, by action name. A
  * lake write reports as `command`, a `count()` as `count`.
  */
final class PlanProbe extends QueryExecutionListener {
  val phases = new ConcurrentLinkedQueue[(String, Long)]()
  val actions = new ConcurrentLinkedQueue[(String, Double)]()

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    actions.add(funcName -> durationNs / 1e6)
    qe.tracker.phases.foreach { case (phase, s) => phases.add(phase -> s.durationMs) }
  }
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  def phaseMs(phase: String): Seq[Double] =
    phases.asScala.collect { case (p, ms) if p == phase => ms.toDouble }.toSeq
  def actionMs(name: String): Seq[Double] =
    actions.asScala.collect { case (n, ms) if n == name => ms }.toSeq
  def clear(): Unit = { phases.clear(); actions.clear() }
}

/** One streaming query's life: its span from start to termination and
  * what its progress reports said about its micro-batches.
  */
final class QueryLife(val startNs: Long) {
  @volatile var endNs: Long = 0L
  @volatile var failed: Boolean = false
  val batches = new AtomicLong
  val inputRows = new AtomicLong
  val durations = new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()
  val stateRows = new AtomicLong
  val stateBytes = new AtomicLong
  val stateCommitMs = new AtomicLong
  val stateStores = new AtomicLong
  def ms: Double = (endNs - startNs) / 1e6
  def duration(k: String): Long = Option(durations.get(k)).map(_.longValue).getOrElse(0L)
}

/** Times every streaming query from start to termination. The start
  * event is delivered synchronously by `DataStreamWriter.start()`, the
  * termination event through the listener bus; [[awaitAll]] waits for
  * the latter before a run reads the spans.
  */
final class StreamProbe(detail: Boolean) extends StreamingQueryListener {
  private val lives = new java.util.concurrent.ConcurrentHashMap[java.util.UUID, QueryLife]()
  val finished = new ConcurrentLinkedQueue[QueryLife]()

  override def onQueryStarted(e: QueryStartedEvent): Unit = {
    lives.put(e.runId, new QueryLife(System.nanoTime())); ()
  }
  override def onQueryProgress(e: QueryProgressEvent): Unit = {
    val life = lives.get(e.progress.runId)
    if (life != null) {
      val p = e.progress
      life.batches.incrementAndGet()
      life.inputRows.addAndGet(p.numInputRows)
      if (detail) {
        p.durationMs.asScala.foreach { case (k, v) =>
          life.durations.merge(k, v, (a: java.lang.Long, b: java.lang.Long) => a + b)
        }
        p.stateOperators.foreach { s =>
          life.stateRows.set(s.numRowsTotal)
          life.stateBytes.set(s.memoryUsedBytes)
          life.stateCommitMs.addAndGet(s.commitTimeMs)
          life.stateStores.set(s.numStateStoreInstances.toLong)
        }
      }
    }
  }
  override def onQueryTerminated(e: QueryTerminatedEvent): Unit = {
    val life = lives.remove(e.runId)
    if (life != null) {
      life.endNs = System.nanoTime()
      life.failed = e.exception.isDefined
      finished.add(life)
    }
  }

  /** Wait (bounded) until every started query has reported its end. */
  def awaitAll(): Unit = {
    val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
    while (!lives.isEmpty && System.nanoTime() < deadline) Thread.sleep(2)
  }

  def drain(): Seq[QueryLife] = {
    val out = Seq.newBuilder[QueryLife]
    var l = finished.poll()
    while (l != null) { out += l; l = finished.poll() }
    out.result()
  }
}

object Probes {
  def gcSeconds: Double =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(b.getCollectionTime, 0L)).sum / 1000.0

  /** Live heap after full collections: what the run still holds. */
  def liveHeapMb(): Double = {
    val mem = java.lang.management.ManagementFactory.getMemoryMXBean
    System.gc(); System.gc()
    mem.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
  }

  def register(spark: SparkSession, sp: SparkProbe, pp: PlanProbe): Unit = {
    spark.sparkContext.addSparkListener(sp)
    spark.listenerManager.register(pp)
  }
}
