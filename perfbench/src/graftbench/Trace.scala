package graftbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._

/** A timed interval the benchmark opened around a call into graft. */
final case class Span(id: Int, name: String, start: Long, end: Long, parent: Int, run: String)

/** One finished Spark job, attributed to a layer by the benchmark span
  * that issued it, or for stream jobs by their plan ([[Tracer]]).
  */
final case class JobRec(id: Int, start: Long, end: Long, layer: String, tasks: Int,
    runS: Double, cpuS: Double, gcS: Double, shuffleWrite: Long, spill: Long,
    bytesRead: Long, bytesWritten: Long, rowsWritten: Long)

/** Planning phases and scan sizes of one finished Dataset action. */
final case class QeRec(end: Long, planMs: Double, files: Long, bytes: Long)

/** Per-trigger numbers from `StreamingQueryProgress`. */
final case class TriggerRec(batchId: Long, rows: Long, triggerMs: Long, addBatchMs: Long)

/** Spans plus Spark listener events for one traced run. Nothing is
  * registered, and `span` only runs its body, when tracing is off.
  * Times are `System.nanoTime` on the driver, in ns; listener event
  * times are converted from wall-clock ms at arrival.
  */
final class Tracer(spark: SparkSession, val on: Boolean, run: String) {
  private val spans = new ConcurrentLinkedQueue[Span]
  private val jobs = new ConcurrentLinkedQueue[JobRec]
  private val qes = new ConcurrentLinkedQueue[QeRec]
  private val triggers = new ConcurrentLinkedQueue[TriggerRec]
  private var nextId = 0
  private var stack = List.empty[Int]
  // wall-clock ms -> driver nanoTime, for listener timestamps
  private val wallToNano = System.nanoTime() - System.currentTimeMillis() * 1000000L
  private def nanoOf(wallMs: Long): Long = wallMs * 1000000L + wallToNano

  /** The layer the benchmark thread is driving; jobs inherit it as a
    * local property.
    */
  private val LayerProp = "graftbench.layer"

  def span[T](name: String, layer: String = null)(body: => T): T =
    if (!on) body
    else {
      val id = { nextId += 1; nextId }
      val parent = stack.headOption.getOrElse(0)
      stack = id :: stack
      val prev = spark.sparkContext.getLocalProperty(LayerProp)
      if (layer != null) spark.sparkContext.setLocalProperty(LayerProp, layer)
      val t0 = System.nanoTime()
      try body
      finally {
        spans.add(Span(id, name, t0, System.nanoTime(), parent, run))
        stack = stack.tail
        if (layer != null) spark.sparkContext.setLocalProperty(LayerProp, prev)
      }
    }

  /** Layer of a SQL execution the benchmark thread did not issue inside a
    * layer span. Spark pins every job of a streaming query to the call
    * site of its `start()`, so the micro-batch's executions are told
    * apart by what their plan touches: a plan over a target table (its
    * path, or its staging directory beside it) is the merge, one that
    * also round-robin repartitions it is compaction, and the rest (batch
    * cache, metadata and routing collects) is the merger loop.
    */
  private def layerOf(details: String, plan: String): String =
    if (!details.contains("graft.streaming.StreamPipeline$.streamToTable")) "other"
    else if (!plan.contains(CdcRun.TablesDir)) "merger"
    else if (plan.contains("RoundRobinPartitioning")) "compact"
    else "merge"

  private val jobStarts = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]
  private val execLayer = new java.util.concurrent.ConcurrentHashMap[Long, String]
  private val jobStages = new java.util.concurrent.ConcurrentHashMap[Int, Seq[Int]]
  private val stageDone = new java.util.concurrent.ConcurrentHashMap[Int, StageInfo]

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val prop = Option(e.properties).map(_.getProperty(LayerProp)).orNull
      val exec = Option(e.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
        .flatMap(id => Option(execLayer.get(id.toLong)))
      jobStarts.put(e.jobId, (nanoOf(e.time), Option(prop).orElse(exec).getOrElse("other")))
      jobStages.put(e.jobId, e.stageIds)
    }
    // a SQL execution's jobs (AQE stages too) carry its id; its start
    // event carries the call site of the action that started it
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart =>
        execLayer.put(s.executionId, layerOf(s.details, s.physicalPlanDescription))
      case _ => ()
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      stageDone.put(e.stageInfo.stageId, e.stageInfo)
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      val (start, layer) = Option(jobStarts.remove(e.jobId)).getOrElse((nanoOf(e.time), "other"))
      val stages = Option(jobStages.remove(e.jobId)).getOrElse(Nil)
        .flatMap(s => Option(stageDone.remove(s))).filter(_.taskMetrics != null)
      val m = stages.map(_.taskMetrics)
      jobs.add(JobRec(e.jobId, start, nanoOf(e.time), layer, stages.map(_.numTasks).sum,
        m.map(_.executorRunTime).sum / 1e3, m.map(_.executorCpuTime).sum / 1e9,
        m.map(_.jvmGCTime).sum / 1e3, m.map(_.shuffleWriteMetrics.bytesWritten).sum,
        m.map(t => t.memoryBytesSpilled + t.diskBytesSpilled).sum,
        m.map(_.inputMetrics.bytesRead).sum, m.map(_.outputMetrics.bytesWritten).sum,
        m.map(_.outputMetrics.recordsWritten).sum))
    }
  }

  private def scans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
    case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
    case q: QueryStageExec => scans(q.plan)
    case s: FileSourceScanExec => Seq(s)
    case other => other.children.flatMap(scans) ++ other.subqueries.flatMap(scans)
  }

  /** (files, bytes) the file scans of an executed plan read. */
  def scanned(p: SparkPlan): (Long, Long) = {
    val s = scans(p)
    def metric(name: String) = s.flatMap(_.metrics.get(name)).map(_.value).sum
    (metric("numFiles"), metric("filesSize"))
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val phases = qe.tracker.phases.values.map(p => p.durationMs.toDouble).sum
      val (files, bytes) = scanned(qe.executedPlan)
      qes.add(QeRec(System.nanoTime(), phases, files, bytes))
    }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      if (p.numInputRows > 0) {
        val d = p.durationMs.asScala
        triggers.add(TriggerRec(p.batchId, p.numInputRows,
          d.get("triggerExecution").map(_.longValue).getOrElse(0L),
          d.get("addBatch").map(_.longValue).getOrElse(0L)))
      }
    }
  }

  if (on) {
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
  }

  /** Drain the listener bus so every event of finished work is recorded. */
  def flush(): Unit = if (on) {
    val deadline = System.nanoTime() + 10000000000L
    while (!jobStarts.isEmpty && System.nanoTime() < deadline) Thread.sleep(5)
    Thread.sleep(200)
  }

  def close(): Unit = if (on) {
    spark.sparkContext.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
    spark.streams.removeListener(streamListener)
  }

  def allSpans: Seq[Span] = spans.asScala.toSeq.sortBy(_.start)
  def allJobs: Seq[JobRec] = jobs.asScala.toSeq.sortBy(_.start)
  def allQes: Seq[QeRec] = qes.asScala.toSeq
  def allTriggers: Seq[TriggerRec] = triggers.asScala.toSeq.sortBy(_.batchId)

  def spansNamed(prefix: String): Seq[Span] = allSpans.filter(_.name.startsWith(prefix))

  def jobsIn(s: Span): Seq[JobRec] = allJobs.filter(j => j.start >= s.start && j.start <= s.end)

  /** Seconds of `s` not covered by any job interval: driver-only time. */
  def driverOnlyS(s: Span, js: Seq[JobRec]): Double = {
    val iv = js.map(j => (math.max(j.start, s.start), math.min(j.end, s.end))).filter(x => x._2 > x._1).sortBy(_._1)
    var covered = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.foreach { case (a, b) =>
      if (a > curE) { if (curE > curS) covered += curE - curS; curS = a; curE = b }
      else curE = math.max(curE, b)
    }
    if (curE > curS) covered += curE - curS
    math.max(0L, (s.end - s.start) - covered) / 1e9
  }

  /** Spans as JSON lines: name, start/end (ns, driver clock), parent, run. */
  def writeSpans(path: String): Unit = {
    val f = new java.io.File(path)
    f.getParentFile.mkdirs()
    val w = new java.io.PrintWriter(f, "UTF-8")
    try allSpans.foreach { s =>
      w.println(Json.obj(Seq("id" -> s.id, "name" -> s.name, "start_ns" -> s.start,
        "end_ns" -> s.end, "parent" -> s.parent, "run" -> s.run)))
    } finally w.close()
  }
}

/** Engine-wide per-layer numbers and their hand-off to the result. */
object Layers {
  def spark(tracer: Tracer, timed: Span, jobs: Seq[JobRec],
      l: scala.collection.mutable.LinkedHashMap[String, (Double, String)]): Unit = {
    l("spark.jobs") = (jobs.size.toDouble, "count")
    l("spark.tasks") = (jobs.map(_.tasks).sum.toDouble, "count")
    l("spark.executor_run_s") = (jobs.map(_.runS).sum, "s")
    l("spark.executor_cpu_s") = (jobs.map(_.cpuS).sum, "s")
    l("spark.shuffle_write_bytes") = (jobs.map(_.shuffleWrite).sum.toDouble, "B")
    l("spark.spill_bytes") = (jobs.map(_.spill).sum.toDouble, "B")
    l("spark.gc_s") = (jobs.map(_.gcS).sum, "s")
    l("spark.driver_only_s") = (tracer.driverOnlyS(timed, jobs), "s")
    l("spark.plan_ms") = (tracer.allQes.filter(q => q.end >= timed.start && q.end <= timed.end).map(_.planMs).sum, "ms")
  }

  def put(res: Result, l: scala.collection.mutable.LinkedHashMap[String, (Double, String)]): Unit =
    l.foreach { case (k, (v, u)) => res.metric(k, v, u) }
}
