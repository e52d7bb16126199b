package graftbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.Success
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Outside-in tracer: three public Spark listeners registered from the
  * benchmark, attributing every job, stage, task, planned query and
  * streaming trigger to the operation scope that caused it.
  *
  * The scope is a local property set on the driver thread before each
  * operation (next to a job group of the same name). Local properties
  * are inherited by threads the operation starts, so streaming
  * micro-batch threads, which replace the job group with their own run
  * id, still carry the scope. Work outside any scope (warm-up, checks)
  * is not counted.
  *
  * Counts are kept per scope in memory; spans (one per operation, one
  * per job) are kept in memory and written out by [[dump]] at the end
  * of the run. */
final class Recorder(spark: SparkSession) {
  import Recorder._

  /** counter name -> value, per scope */
  private val counts = new ConcurrentHashMap[String, ConcurrentHashMap[String, AtomicLong]]()
  private val maxes = new ConcurrentHashMap[String, AtomicLong]()
  private val stageScope = new ConcurrentHashMap[Int, String]()
  private val stageSubmitted = new ConcurrentHashMap[Int, Long]()
  private val jobSpans = new ConcurrentHashMap[Int, Array[Any]]()
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val events = new AtomicLong()

  private def add(scope: String, key: String, v: Long): Unit = if (scope != null) {
    counts.computeIfAbsent(scope, _ => new ConcurrentHashMap[String, AtomicLong]())
      .computeIfAbsent(key, _ => new AtomicLong()).addAndGet(v)
    events.incrementAndGet()
  }

  private def max(key: String, v: Long): Unit =
    maxes.computeIfAbsent(key, _ => new AtomicLong()).accumulateAndGet(v, math.max)

  private def scopeOf(p: java.util.Properties): String =
    if (p == null) null else p.getProperty(ScopeKey)

  val sparkListener: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val scope = scopeOf(e.properties)
      add(scope, "sched.jobs", 1)
      val site = e.stageInfos.map(_.name).mkString(";")
      if (BarrierSites.exists(site.contains)) add(scope, "sched.barrier_jobs", 1)
      if (scope != null) jobSpans.put(e.jobId, Array(scope, site, e.time))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      val s = jobSpans.remove(e.jobId)
      if (s != null) synchronized {
        spans += Span("job", s(0).toString, s(1).toString, s(2).asInstanceOf[Long], e.time)
      }
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
      val scope = scopeOf(e.properties)
      if (scope != null) {
        val id = e.stageInfo.stageId
        stageScope.put(id, scope)
        stageSubmitted.put(id, e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis()))
        add(scope, "sched.stages", 1)
        if (e.stageInfo.attemptNumber() > 0) add(scope, "fail.stages_retried", 1)
      }
    }
    override def onTaskStart(e: SparkListenerTaskStart): Unit = {
      val scope = stageScope.get(e.stageId)
      val sub = stageSubmitted.get(e.stageId)
      if (scope != null && sub != 0L)
        add(scope, "sched.task_launch_wait_ms", math.max(0L, e.taskInfo.launchTime - sub))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val scope = stageScope.get(e.stageId)
      if (scope == null) return
      add(scope, "sched.tasks", 1)
      if (e.reason != Success) add(scope, "fail.tasks_failed", 1)
      val m = e.taskMetrics
      if (m != null) {
        val sr = m.shuffleReadMetrics
        val records = m.inputMetrics.recordsRead + sr.recordsRead
        if (records > 0) add(scope, "sched.useful_tasks", 1)
        add(scope, "exec.run_ms", m.executorRunTime)
        add(scope, "exec.cpu_ms", m.executorCpuTime / 1000000L)
        add(scope, "exec.gc_ms", m.jvmGCTime)
        add(scope, "shuffle.write_bytes", m.shuffleWriteMetrics.bytesWritten)
        add(scope, "shuffle.read_bytes", sr.totalBytesRead)
        add(scope, "shuffle.fetch_wait_ms", sr.fetchWaitTime)
        add(scope, "mem.spill_bytes", m.memoryBytesSpilled + m.diskBytesSpilled)
        add(scope, "io.output_bytes", m.outputMetrics.bytesWritten)
        max("mem.peak_exec_bytes", m.peakExecutionMemory)
      }
    }
  }

  val queryListener: QueryExecutionListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      phases(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      phases(qe)
    // delivered on the listener thread: attributed to the operation
    // running at delivery
    private def phases(qe: QueryExecution): Unit =
      qe.tracker.phases.foreach { case (phase, summary) =>
        add(currentScope, s"catalyst.${phase}_ms", summary.durationMs)
      }
  }

  val streamListener: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val scope = currentScope
      val p = e.progress
      add(scope, "streaming.triggers", 1)
      p.durationMs.asScala.foreach { case (k, v) => add(scope, s"streaming.${k}_ms", v) }
      p.stateOperators.foreach { op =>
        add(scope, "streaming.state_rows", op.numRowsTotal)
        max("streaming.state_mem_bytes", op.memoryUsedBytes)
      }
    }
  }

  /** Operation running while attached; cleared by [[settle]]. */
  @volatile private var currentScope: String = _
  private var attached = false

  def attach(): Unit = if (!attached) {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(queryListener)
    spark.streams.addListener(streamListener)
    attached = true
  }

  def detach(): Unit = if (attached) {
    quiesce()
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(queryListener)
    spark.streams.removeListener(streamListener)
    currentScope = null
    attached = false
  }

  /** After an operation: wait for its listener events, then stop
    * attributing events to it (work between operations is not counted). */
  def settle(): Unit = { quiesce(); currentScope = null }

  /** Run `body` as operation `scope`: job group + scope property set on
    * this thread, and one operation span recorded. */
  def scoped[T](scope: String)(body: => T): T = {
    val sc = spark.sparkContext
    sc.setJobGroup(scope, scope, interruptOnCancel = false)
    sc.setLocalProperty(ScopeKey, scope)
    if (attached) currentScope = scope
    val t0 = System.currentTimeMillis()
    try body
    finally {
      val t1 = System.currentTimeMillis()
      sc.setLocalProperty(ScopeKey, null)
      sc.clearJobGroup()
      if (attached) synchronized { spans += Span("op", scope, "", t0, t1) }
    }
  }

  /** Wait until the asynchronous listener bus has delivered everything
    * the finished operations posted: no event for 300 ms and no job
    * still open (bounded at 10 s). */
  def quiesce(): Unit = {
    val deadline = System.currentTimeMillis() + 10000
    var last = -1L
    while (System.currentTimeMillis() < deadline &&
      (events.get() != last || !jobSpans.isEmpty)) {
      last = events.get()
      Thread.sleep(300)
    }
  }

  /** Sum of one counter over all operations. */
  def total(key: String): Long =
    counts.values.asScala.collect { case m if m.containsKey(key) => m.get(key).get }.sum

  def peak(key: String): Long = Option(maxes.get(key)).map(_.get).getOrElse(0L)

  /** Seconds spent in jobs whose call site mentions `site`. */
  def jobSeconds(site: String): Double = synchronized {
    spans.filter(s => s.kind == "job" && s.site.contains(site))
      .map(s => s.endMs - s.startMs).sum / 1000.0
  }

  /** Write every span as one JSON line. */
  def dump(path: java.nio.file.Path): Unit = synchronized {
    java.nio.file.Files.write(path, spans.map(s => Json.obj("kind" -> s.kind,
      "scope" -> s.scope, "site" -> s.site, "start_ms" -> s.startMs,
      "end_ms" -> s.endMs)).asJava)
  }
}

/** A span: an operation (scope = its name) or a Spark job inside one. */
final case class Span(kind: String, scope: String, site: String, startMs: Long, endMs: Long)

object Recorder {
  val ScopeKey = "graftbench.scope"
  /** Call sites of jobs that only materialize a barrier. */
  val BarrierSites = Seq("localCheckpoint", "checkpoint", "cache", "persist")
}
