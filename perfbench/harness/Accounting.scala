package graft.perfbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.ListenerBusBridge
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval of the traced run. Times are epoch milliseconds, the
  * clock Spark stamps its own job and task events with. */
final case class Span(id: Long, parent: Long, name: String,
    start: Double, end: Double)

/** Epoch-millisecond clock with nanosecond resolution. */
object Clock {
  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  def nowMs: Double = baseMs + (System.nanoTime() - baseNs) / 1e6
}

/** Per-layer accounting through Spark's public listener interfaces.
  *
  * The harness opens spans around its calls into the program (`pass`,
  * `query`, `queries.build`, `exec.action`, ...). The innermost open span's
  * id travels to Spark as a thread-local job property, so every job a span
  * starts becomes a `spark.job` child span. Stage and task events are
  * folded into counters, never kept one by one.
  *
  * Counters accumulate until [[window]] is called; the harness calls it
  * after each query, once the listener bus has drained, so each query's
  * counters hold exactly that query's events. With `enabled = false` no
  * listener is registered and only the harness spans are kept; with
  * `enabled = true` the session must have been built with
  * [[Accounting.sessionListenerConfs]].
  */
final class Accounting(spark: SparkSession, enabled: Boolean) {
  import Accounting._

  private val sc = spark.sparkContext
  private val nextId = new AtomicLong(0)
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val spanNames = new java.util.concurrent.ConcurrentHashMap[Long, String]()
  @volatile private var current = 0L

  // Guarded by `this`: listener callbacks arrive on several bus threads.
  private val counters = mutable.Map.empty[String, Double].withDefaultValue(0.0)
  private val taskIntervals = mutable.ArrayBuffer.empty[(Double, Double)]
  private val jobs = mutable.Map.empty[Int, (Long, Double, Seq[Int])]
  private val submittedStages = mutable.Set.empty[Int]

  private def add(key: String, v: Double): Unit = counters(key) += v

  /** Run `body` inside a span named `name`; jobs it starts link to it. */
  def span[T](name: String, parent: Long)(body: Long => T): T = {
    val id = nextId.incrementAndGet()
    spanNames.put(id, name)
    val outer = current
    sc.setLocalProperty(SpanProp, id.toString)
    current = id
    val start = Clock.nowMs
    try body(id)
    finally {
      val end = Clock.nowMs
      synchronized { spans += Span(id, parent, name, start, end) }
      sc.setLocalProperty(SpanProp, if (outer == 0) null else outer.toString)
      current = outer
    }
  }

  /** Wait for the listener bus, then return and reset the counters
    * gathered since the last call. `busyMs` is the union of task run
    * intervals clipped to [fromMs, toMs]. */
  def window(fromMs: Double, toMs: Double): (Map[String, Double], Double) = {
    if (enabled) ListenerBusBridge.drain(sc)
    synchronized {
      val snapshot = counters.toMap
      val busy = unionLength(taskIntervals.toSeq, fromMs, toMs)
      counters.clear()
      taskIntervals.clear()
      (snapshot, busy)
    }
  }

  def allSpans: Seq[Span] = synchronized(spans.toList)

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Accounting.this.synchronized {
      val parent = Option(e.properties).flatMap(p => Option(p.getProperty(SpanProp)))
        .map(_.toLong).getOrElse(current)
      jobs(e.jobId) = (parent, e.time.toDouble, e.stageIds)
      add("scheduler.jobs", 1)
      add("scheduler.stages", e.stageIds.size)
      Option(spanNames.get(parent)) match {
        case Some("queries.build") => add("queries.build_jobs", 1)
        case Some("exec.action") => add("exec.action_jobs", 1)
        case _ =>
      }
    }

    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      Accounting.this.synchronized { submittedStages += e.stageInfo.stageId }

    override def onJobEnd(e: SparkListenerJobEnd): Unit = Accounting.this.synchronized {
      jobs.remove(e.jobId).foreach { case (parent, start, stageIds) =>
        spans += Span(nextId.incrementAndGet(), parent, "spark.job", start, e.time.toDouble)
        add("scheduler.skipped_stages", stageIds.count(s => !submittedStages.contains(s)))
        submittedStages --= stageIds
      }
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Accounting.this.synchronized {
      val info = e.taskInfo
      add("scheduler.tasks", 1)
      if (info.failed || info.killed) add("scheduler.failed_tasks", 1)
      taskIntervals += ((info.launchTime.toDouble, info.finishTime.toDouble))
      add("scheduler.task_wall_s", (info.finishTime - info.launchTime) / 1e3)
      val m = e.taskMetrics
      if (m != null) {
        add("exec.task_s", m.executorRunTime / 1e3)
        add("exec.cpu_s", m.executorCpuTime / 1e9)
        add("exec.gc_s", m.jvmGCTime / 1e3)
        add("exec.deser_s", m.executorDeserializeTime / 1e3)
        add("shuffle.write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
        add("shuffle.read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
        add("shuffle.fetch_wait_s", m.shuffleReadMetrics.fetchWaitTime / 1e3)
        add("spill.bytes", m.diskBytesSpilled.toDouble)
        add("scan.bytes_read", m.inputMetrics.bytesRead.toDouble)
        add("scan.records_read", m.inputMetrics.recordsRead.toDouble)
        add("output.bytes_written", m.outputMetrics.bytesWritten.toDouble)
        add("output.records_written", m.outputMetrics.recordsWritten.toDouble)
      }
    }

    override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
      val b = e.blockUpdatedInfo
      if (b.blockId.isRDD && b.storageLevel.isValid) Accounting.this.synchronized {
        add("storage.rdd_blocks_written", 1)
        add("storage.rdd_mb_written", (b.memSize + b.diskSize) / MB)
      }
    }
  }

  private[perfbench] def recordPlan(qe: QueryExecution): Unit = synchronized {
    add("plans.executions", 1)
    val phases = qe.tracker.phases
    def ph(name: String) = phases.get(name).map(_.durationMs / 1e3).getOrElse(0.0)
    add("plans.analysis_s", ph("analysis"))
    add("plans.optimization_s", ph("optimization"))
    add("plans.planning_s", ph("planning"))
  }

  private[perfbench] def recordProgress(p: StreamingQueryProgress): Unit = synchronized {
    def dur(k: String) = Option(p.durationMs.get(k)).map(_.longValue / 1e3).getOrElse(0.0)
    add("stream.batches", 1)
    add("stream.batch_s", p.batchDuration / 1e3)
    add("stream.planning_s", dur("queryPlanning"))
    add("stream.wal_commit_s", dur("walCommit"))
    add("stream.state_commit_s", p.stateOperators.map(_.commitTimeMs).sum / 1e3)
    add("stream.state_rows", p.stateOperators.map(_.numRowsUpdated).sum.toDouble)
  }

  if (enabled) {
    sc.addSparkListener(sparkListener)
    active = this
  }

  /** Stop accounting: unregister the listener and detach the session ones. */
  def close(): Unit = if (enabled) {
    ListenerBusBridge.drain(sc)
    sc.removeSparkListener(sparkListener)
    active = null
  }
}

object Accounting {
  val SpanProp = "perfbench.span"
  private val MB = 1024.0 * 1024.0

  /** The accounting that session-level listeners report to. */
  @volatile private[perfbench] var active: Accounting = null

  /** Static session confs that install [[PlanListener]] and
    * [[StreamListener]] on every session of the application, including
    * the ones queries derive with `newSession()` (the streaming family
    * does), which a listener registered on one session would miss. */
  val sessionListenerConfs: Map[String, String] = Map(
    "spark.sql.queryExecutionListeners" -> classOf[PlanListener].getName,
    "spark.sql.streaming.streamingQueryListeners" -> classOf[StreamListener].getName)

  /** Total length of the union of `intervals`, clipped to [from, to]. */
  def unionLength(intervals: Seq[(Double, Double)], from: Double, to: Double): Double = {
    var covered = 0.0
    var reach = from
    intervals.map { case (s, e) => (math.max(s, from), math.min(e, to)) }
      .filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
        if (e > reach) { covered += e - math.max(s, reach); reach = e }
      }
    covered
  }
}

/** Catalyst phase times of every query execution, to the active accounting. */
final class PlanListener extends QueryExecutionListener {
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    Option(Accounting.active).foreach(_.recordPlan(qe))
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    Option(Accounting.active).foreach(_.recordPlan(qe))
}

/** Micro-batch progress of every streaming query, to the active accounting. */
final class StreamListener extends StreamingQueryListener {
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    Option(Accounting.active).foreach(_.recordProgress(e.progress))
}
