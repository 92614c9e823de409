package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.catalyst.catalog._
import org.apache.spark.sql.classic.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.PerfbenchBridge

/** Records what the program does from outside it: harness spans (timers
  * around the public entry points, always on) and, while attached, the
  * Spark listener bus (jobs, stages, tasks, SQL executions with their
  * QueryExecution), the streaming progress bus and the external-catalog
  * listener. Everything is kept in
  * memory as flat records and written once at the end of the run; the
  * analysis (span trees, self time, per-layer sums) is `perfbench/trace.py`.
  *
  * Times are epoch milliseconds, the clock Spark's own events carry.
  */
final class Recorder(spark: SparkSession) {
  type Rec = Map[String, Any]
  val records = new ConcurrentLinkedQueue[Rec]()
  private val ids = new AtomicLong()
  private val t0Ms = System.currentTimeMillis().toDouble
  private val t0Ns = System.nanoTime()

  /** Epoch ms with the monotonic clock's resolution. */
  def nowMs: Double = t0Ms + (System.nanoTime() - t0Ns) / 1e6

  private def add(kind: String, fields: (String, Any)*): Unit =
    records.add(Map("kind" -> kind) ++ fields)

  /** Run `body` as span `name` of trace `trace`; jobs it launches carry
    * the span id as the `perfbench.span` local property, which is how
    * the analysis parents them.
    */
  def span[A](name: String, trace: String, attrs: (String, Any)*)(body: => A): A = {
    val sc = spark.sparkContext
    val id = ids.incrementAndGet()
    val parent = Option(sc.getLocalProperty(Recorder.SpanProp))
    sc.setLocalProperty(Recorder.SpanProp, id.toString)
    val start = nowMs
    var ok = false
    try { val a = body; ok = true; a }
    finally {
      add("span", Seq("id" -> id, "name" -> name, "trace" -> trace,
        "parent" -> parent.map(_.toLong).getOrElse(0L), "start" -> start,
        "end" -> nowMs, "ok" -> ok) ++ attrs: _*)
      sc.setLocalProperty(Recorder.SpanProp, parent.orNull)
    }
  }

  private def props(p: java.util.Properties, key: String): Any =
    Option(p).flatMap(x => Option(x.getProperty(key))).orNull

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      add("job_start", "job" -> e.jobId, "time" -> e.time,
        "stages" -> e.stageIds.toList,
        "callsite" -> e.stageInfos.sortBy(_.stageId).lastOption.map(_.name).orNull,
        "span" -> props(e.properties, Recorder.SpanProp),
        "exec" -> props(e.properties, "spark.sql.execution.id"),
        "batch" -> props(e.properties, "streaming.sql.batchId"),
        "query" -> props(e.properties, "sql.streaming.queryId"))
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      add("job_end", "job" -> e.jobId, "time" -> e.time,
        "ok" -> (e.jobResult == JobSucceeded))
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val i = e.stageInfo
      val m = i.taskMetrics
      add("stage", "stage" -> i.stageId, "attempt" -> i.attemptNumber(),
        "name" -> i.name, "tasks" -> i.numTasks,
        "submit" -> i.submissionTime.getOrElse(0L),
        "end" -> i.completionTime.getOrElse(0L),
        "run_ms" -> (if (m == null) 0L else m.executorRunTime),
        "gc_ms" -> (if (m == null) 0L else m.jvmGCTime),
        "shuffle_write" -> (if (m == null) 0L else m.shuffleWriteMetrics.bytesWritten),
        "shuffle_read" -> (if (m == null) 0L else m.shuffleReadMetrics.totalBytesRead),
        "spill" -> (if (m == null) 0L else m.memoryBytesSpilled + m.diskBytesSpilled),
        "scan_bytes" -> (if (m == null) 0L else m.inputMetrics.bytesRead),
        "scan_rows" -> (if (m == null) 0L else m.inputMetrics.recordsRead))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      add("task", "stage" -> e.stageId, "launch" -> e.taskInfo.launchTime,
        "finish" -> e.taskInfo.finishTime, "ok" -> e.taskInfo.successful)
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart =>
        add("exec_start", "exec" -> s.executionId, "time" -> s.time,
          "root" -> s.rootExecutionId.getOrElse(s.executionId),
          "description" -> s.description)
      case s: SparkListenerSQLExecutionEnd =>
        add("exec_end", Seq("exec" -> s.executionId, "time" -> s.time,
          "ok" -> !PerfbenchBridge.failed(s)) ++
          PerfbenchBridge.queryExecution(s).map(Recorder.actionStats).getOrElse(Nil): _*)
      case _ =>
    }
  }

  /** Catalog events arrive synchronously on the calling thread, so the
    * open harness span is still the thread's local property here.
    */
  private val catalogListener = new ExternalCatalogEventListener {
    private val open = new ThreadLocal[(String, Double)]
    override def onEvent(e: ExternalCatalogEvent): Unit = {
      val name = e.getClass.getSimpleName
      if (name.endsWith("PreEvent")) open.set((name.stripSuffix("PreEvent"), nowMs))
      else Option(open.get).foreach { case (op, start) =>
        open.remove()
        add("ddl", "op" -> op, "start" -> start, "end" -> nowMs,
          "span" -> spark.sparkContext.getLocalProperty(Recorder.SpanProp))
      }
    }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      add("progress", "json" -> e.progress.json)
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  private val catalog = spark.sharedState.externalCatalog
  @volatile var attached = false

  def attach(): Unit = if (!attached) {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.streams.addListener(streamListener)
    catalog.addListener(catalogListener)
    attached = true
  }

  /** Detach after the listener bus has delivered everything posted so far. */
  def detach(): Unit = if (attached) {
    drain()
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.streams.removeListener(streamListener)
    catalog.removeListener(catalogListener)
    attached = false
  }

  def drain(): Unit = PerfbenchBridge.drain(spark.sparkContext)

  def toSeq: Seq[Rec] = records.asScala.toSeq
}

object Recorder {
  val SpanProp = "perfbench.span"

  /** Every operator of an executed plan, looking through adaptive
    * wrappers and query stages (the final plan after AQE ran).
    */
  def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => nodes(q.plan)
    case other => other +: other.children.flatMap(nodes)
  }

  /** Planner phase times, plan row counts and write metrics of one
    * finished action.
    */
  def actionStats(qe: QueryExecution): Seq[(String, Any)] = {
    val phases = qe.tracker.phases.map { case (k, v) => k -> v.durationMs }
    val plan = nodes(qe.executedPlan)
    def metric(p: SparkPlan, key: String): Long = p.metrics.get(key).map(_.value).getOrElse(0L)
    val writes = plan.collect { case w: DataWritingCommandExec => w }
    Seq("analysis_ms" -> phases.getOrElse("analysis", 0L),
      "optimization_ms" -> phases.getOrElse("optimization", 0L),
      "planning_ms" -> phases.getOrElse("planning", 0L),
      "operator_rows" -> plan.map(metric(_, "numOutputRows")).sum,
      "writes" -> writes.size,
      "write_bytes" -> writes.map(metric(_, "numOutputBytes")).sum,
      "write_files" -> writes.map(metric(_, "numFiles")).sum)
  }
}
