package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler._
import org.apache.spark.sql.{SparkSession, SqlExecutionEvents}
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryProgress

/** One timed call into a layer, made from the benchmark's own code (or, for
  * micro-batches, reconstructed from Spark's progress events). `start` and
  * `end` are milliseconds on the run's monotonic clock. */
final case class Span(id: Int, parent: Int, layer: String, name: String,
    start: Double, end: Double, counters: Map[String, Double]) {
  def ms: Double = end - start
}

/** Task-level work of the Spark jobs run under one span. */
final class Work {
  var jobs = 0L; var stages = 0L; var tasks = 0L
  var taskRunMs = 0.0; var shuffleReadBytes = 0L; var shuffleWriteBytes = 0L
  var spillBytes = 0L; var peakExecMem = 0L
  def add(o: Work): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks; taskRunMs += o.taskRunMs
    shuffleReadBytes += o.shuffleReadBytes; shuffleWriteBytes += o.shuffleWriteBytes
    spillBytes += o.spillBytes; peakExecMem = math.max(peakExecMem, o.peakExecMem)
  }
}

/** What one SQL action (a collect, a write, a micro-batch's sink write)
  * planned and did, read from its QueryExecution after it finished. */
final case class Action(executionId: Long, funcName: String, wallMs: Double,
    analysisMs: Double, optimizationMs: Double, planningMs: Double,
    scans: Seq[Scan], exchanges: Int, windows: Int,
    writeFiles: Long, writeBytes: Long, writeRows: Long,
    batchRows: Long)

final case class Scan(root: String, files: Long, bytes: Long, rows: Long)

/** Records spans around the benchmark's calls into each layer and collects
  * Spark's own accounting through its listeners: a SparkListener for jobs,
  * stages and tasks, and for the end of each SQL execution (the event a
  * QueryExecutionListener receives), whose plan gives the action's
  * planning phases and scan/write SQL metrics; and a StreamingQueryListener
  * for micro-batch progress. A disabled tracer runs every body unchanged
  * and registers nothing, which is what the untraced runs use. */
final class Tracer(val enabled: Boolean, val runId: String) {
  private val t0 = System.nanoTime()
  /** Wall-clock milliseconds at which [[clock]] reads 0. */
  val wallOrigin: Long = System.currentTimeMillis()
  def clock(): Double = (System.nanoTime() - t0) / 1e6

  private val spansBuf = mutable.ArrayBuffer[Span]()
  private var nextId = 0
  private val stack = new ThreadLocal[List[Int]] { override def initialValue(): List[Int] = Nil }
  private val SpanProp = "perfbench.span"

  private var spark: SparkSession = _

  // ---- listener state (written on Spark's listener-bus thread)
  private val jobSpan = mutable.Map[Int, Int]()
  private val stageJob = mutable.Map[Int, Int]()
  private val workBySpan = mutable.Map[Int, Work]()
  private val execSpan = mutable.Map[Long, Int]()
  private val execStart = mutable.Map[Long, Long]()
  private val actionsBuf = mutable.ArrayBuffer[Action]()
  private val progressBuf = mutable.ArrayBuffer[StreamingQueryProgress]()
  val total = new Work

  private object Plans extends AdaptiveSparkPlanHelper

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      val props = Option(e.properties)
      val span = props.flatMap(p => Option(p.getProperty(SpanProp))).map(_.toInt).getOrElse(0)
      jobSpan(e.jobId) = span
      props.flatMap(p => Option(p.getProperty("spark.sql.execution.id"))).foreach { x =>
        if (span != 0) execSpan(x.toLong) = span
      }
      e.stageIds.foreach(s => stageJob(s) = e.jobId)
      work(e.jobId).foreach(_.jobs += 1)
      total.jobs += 1
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = Tracer.this.synchronized {
      stageJob.get(e.stageInfo.stageId).foreach(j => work(j).foreach(_.stages += 1))
      total.stages += 1
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart => Tracer.this.synchronized(execStart(s.executionId) = s.time)
      case x: SparkListenerSQLExecutionEnd =>
        SqlExecutionEvents.queryExecution(x).foreach { qe =>
          val wall = Tracer.this.synchronized(execStart.remove(x.executionId)).map(x.time - _).getOrElse(0L)
          val a = describe(x.executionId, SqlExecutionEvents.name(x), qe, wall.toDouble)
          Tracer.this.synchronized(actionsBuf += a)
        }
      case _ => ()
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      val m = e.taskMetrics
      if (m != null) {
        val w = new Work
        w.tasks = 1
        w.taskRunMs = m.executorRunTime.toDouble
        w.shuffleReadBytes = m.shuffleReadMetrics.totalBytesRead
        w.shuffleWriteBytes = m.shuffleWriteMetrics.bytesWritten
        w.spillBytes = m.memoryBytesSpilled + m.diskBytesSpilled
        w.peakExecMem = m.peakExecutionMemory
        stageJob.get(e.stageId).foreach(j => work(j).foreach(_.add(w)))
        total.add(w)
      }
    }
  }

  private def work(job: Int): Option[Work] =
    jobSpan.get(job).map(s => workBySpan.getOrElseUpdate(s, new Work))

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      Tracer.this.synchronized(progressBuf += e.progress)
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  private def describe(executionId: Long, funcName: String, qe: QueryExecution, wallMs: Double): Action = {
    val phases = qe.tracker.phases
    def phase(n: String) = phases.get(n).map(p => (p.endTimeMs - p.startTimeMs).toDouble).getOrElse(0.0)
    val plan = qe.executedPlan
    def metric(p: SparkPlan, k: String): Long = p.metrics.get(k).map(_.value).getOrElse(0L)
    val scans = Plans.collectWithSubqueries(plan) { case s: FileSourceScanExec => s }.map { s =>
      Scan(s.relation.location.rootPaths.headOption.map(_.toString).getOrElse(""),
        metric(s, "numFiles"), metric(s, "filesSize"), metric(s, "numOutputRows"))
    }
    val writes = Plans.collect(plan) { case w: DataWritingCommandExec => w.cmd.metrics }
    def wsum(k: String) = writes.map(_.get(k).map(_.value).getOrElse(0L)).sum
    // a foreachBatch DataFrame wraps the micro-batch's already-planned
    // rows, so its write reads them through one existing-RDD scan
    val batchRows = Plans.collect(plan) {
      case p if p.nodeName.contains("ExistingRDD") => metric(p, "numOutputRows")
    }.sum
    Action(executionId, funcName, wallMs, phase("analysis"), phase("optimization"), phase("planning"),
      scans,
      Plans.collect(plan) { case e: ShuffleExchangeLike => e }.size,
      Plans.collect(plan) { case w: WindowExec => w }.size,
      wsum("numFiles"), wsum("numOutputBytes"), wsum("numOutputRows"),
      batchRows)
  }

  private var codegen0 = 0L
  private var gc0 = 0L
  private def gcMs(): Long =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ >= 0).sum

  /** Attach the listeners to `s`; a no-op when disabled. */
  def attach(s: SparkSession): Unit = if (enabled) {
    spark = s
    s.sparkContext.addSparkListener(listener)
    s.streams.addListener(streamListener)
    codegen0 = WholeStageCodegenExec.codeGenTime
    gc0 = gcMs()
  }

  /** Wait for every posted event, then detach. Returns the codegen and GC
    * milliseconds spent since [[attach]]. */
  def detach(): (Double, Double) = if (!enabled) (0.0, 0.0) else {
    ListenerBusDrain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(listener)
    spark.streams.removeListener(streamListener)
    ((WholeStageCodegenExec.codeGenTime - codegen0) / 1e6, (gcMs() - gc0).toDouble)
  }

  /** Time `body` as a call into `layer`. Spark jobs it starts on this
    * thread are tagged with the span so their task work is attributed. */
  def span[T](layer: String, name: String, parent: Int = -1)(body: => T): T =
    if (!enabled) body else {
      val id = synchronized { nextId += 1; nextId }
      val par = if (parent >= 0) parent else stack.get.headOption.getOrElse(0)
      val sc = spark.sparkContext
      val prev = sc.getLocalProperty(SpanProp)
      stack.set(id :: stack.get)
      sc.setLocalProperty(SpanProp, id.toString)
      val s = clock()
      try body
      finally {
        val e = clock()
        sc.setLocalProperty(SpanProp, prev)
        stack.set(stack.get.tail)
        synchronized(spansBuf += Span(id, par, layer, name, s, e, Map.empty))
      }
    }

  /** Record a span measured elsewhere (a micro-batch from its progress). */
  def record(layer: String, name: String, parent: Int, start: Double, end: Double,
      counters: Map[String, Double]): Unit = if (enabled) synchronized {
    nextId += 1
    spansBuf += Span(nextId, parent, layer, name, start, end, counters)
  }

  def currentSpan: Int = stack.get.headOption.getOrElse(0)

  def spans: Seq[Span] = synchronized(spansBuf.toList)
  def actions: Seq[Action] = synchronized(actionsBuf.toList)
  def progress: Seq[StreamingQueryProgress] = synchronized(progressBuf.toList)
  def workOf(span: Int): Work = synchronized(workBySpan.getOrElse(span, new Work))
  /** Actions whose jobs ran under `span` or one of its descendants. */
  def actionsUnder(span: Int): Seq[Action] = synchronized {
    val kids = descendants(span)
    actionsBuf.filter(a => execSpan.get(a.executionId).exists(kids)).toList
  }
  private def descendants(root: Int): Set[Int] = {
    val byParent = spansBuf.groupBy(_.parent)
    def go(id: Int): Set[Int] = Set(id) ++ byParent.getOrElse(id, Nil).flatMap(c => go(c.id))
    go(root)
  }

  /** Write every span with its counters, and each action, as JSON. */
  def dump(file: java.nio.file.Path, extra: Map[String, Any]): Unit = if (enabled) {
    val spanJs = spans.map { s =>
      Map("run" -> runId, "id" -> s.id, "parent" -> s.parent, "layer" -> s.layer,
        "name" -> s.name, "start_ms" -> s.start, "end_ms" -> s.end,
        "counters" -> (s.counters ++ workCounters(workOf(s.id))))
    }
    val actJs = actions.map { a =>
      Map("run" -> runId, "execution_id" -> a.executionId, "span" -> execSpanOf(a.executionId),
        "func" -> a.funcName, "wall_ms" -> a.wallMs, "analysis_ms" -> a.analysisMs,
        "optimization_ms" -> a.optimizationMs, "planning_ms" -> a.planningMs,
        "exchanges" -> a.exchanges, "window_execs" -> a.windows,
        "write_files" -> a.writeFiles, "write_bytes" -> a.writeBytes, "write_rows" -> a.writeRows,
        "scans" -> a.scans.map(s => Map("root" -> s.root, "files" -> s.files, "bytes" -> s.bytes,
          "rows" -> s.rows)))
    }
    Util.writeAtomically(file.getParent, file,
      Util.json(extra ++ Map("spans" -> spanJs, "actions" -> actJs)) + "\n")
  }
  private def execSpanOf(id: Long): Int = synchronized(execSpan.getOrElse(id, 0))

  private def workCounters(w: Work): Map[String, Double] =
    if (w.jobs == 0 && w.tasks == 0) Map.empty
    else Map("jobs" -> w.jobs.toDouble, "stages" -> w.stages.toDouble, "tasks" -> w.tasks.toDouble,
      "task_run_ms" -> w.taskRunMs, "shuffle_read_bytes" -> w.shuffleReadBytes.toDouble,
      "shuffle_write_bytes" -> w.shuffleWriteBytes.toDouble, "spill_bytes" -> w.spillBytes.toDouble,
      "peak_exec_mem" -> w.peakExecMem.toDouble)
}
