package walrusbench

import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlanInfo}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.execution.ui.{SparkListenerSQLAdaptiveExecutionUpdate, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** A timed interval at a layer boundary. `op` is the id of the root span
  * of the client operation it belongs to; `group` is the Spark job group
  * its jobs carry, which is how jobs are attributed back to it. */
final case class Span(id: Long, parent: Long, op: Long, name: String,
    layer: String, startNs: Long, endNs: Long, group: String) {
  def durNs: Long = endNs - startNs
}

/** Task-metric totals of one Spark job (summed over its stages' tasks). */
final class TaskTotals {
  var tasks = 0L; var runMs = 0L; var cpuNs = 0L; var gcMs = 0L
  var schedMs = 0L; var shuffleWrite = 0L; var shuffleRead = 0L
  var spill = 0L; var inputBytes = 0L
  def +=(o: TaskTotals): Unit = {
    tasks += o.tasks; runMs += o.runMs; cpuNs += o.cpuNs; gcMs += o.gcMs
    schedMs += o.schedMs; shuffleWrite += o.shuffleWrite
    shuffleRead += o.shuffleRead; spill += o.spill
    inputBytes += o.inputBytes
  }
}

final case class JobRec(id: Int, group: String, execId: Long,
    startNs: Long, var endNs: Long, stages: Seq[Int])

/** One SQL execution as the QueryExecutionListener saw it: planning phase
  * time and the SQL metrics of its scan and join nodes. */
final case class ExecRec(accIds: Seq[Long], planMs: Double,
    metrics: Map[String, Long])

/** One micro-batch as the StreamingQueryListener saw it. */
final case class TriggerRec(runId: String, startNs: Long,
    durations: Map[String, Long], rows: Long)

/** In-memory tracer for the traced run. Spans are recorded around every
  * call the benchmark makes into a module; Spark's own listeners supply
  * jobs, stages, tasks, plan phases, scan/join SQL metrics and stream
  * progress, attributed to spans by job group. With `on = false` every
  * method is a pass-through and no listener is attached. */
final class Tracer(spark: SparkSession, val on: Boolean) {
  private val ids = new AtomicLong(0)
  private val spansQ = new ConcurrentLinkedQueue[Span]
  private val stack = new ThreadLocal[List[Span]] { override def initialValue = Nil }
  private val clockOffsetNs = System.nanoTime() - System.currentTimeMillis() * 1000000L
  private def msToNs(ms: Long): Long = ms * 1000000L + clockOffsetNs

  private val jobsQ = new ConcurrentLinkedQueue[JobRec]
  private val jobEnd = new java.util.concurrent.ConcurrentHashMap[Int, java.lang.Long]
  private val stageTotals = new java.util.concurrent.ConcurrentHashMap[Int, TaskTotals]
  private val execsQ = new ConcurrentLinkedQueue[ExecRec]
  private val triggersQ = new ConcurrentLinkedQueue[TriggerRec]
  // SQL metric accumulator id -> SQL execution id, from the plans the
  // execution start/adaptive-update events carry
  private val accExec = new java.util.concurrent.ConcurrentHashMap[Long, java.lang.Long]

  private def registerPlan(execId: Long, p: SparkPlanInfo): Unit = {
    p.metrics.foreach(m => accExec.put(m.accumulatorId, execId))
    p.children.foreach(registerPlan(execId, _))
  }

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val p = Option(e.properties)
      val group = p.flatMap(x => Option(x.getProperty("spark.jobGroup.id"))).getOrElse("")
      val exec = p.flatMap(x => Option(x.getProperty("spark.sql.execution.id")))
        .map(_.toLong).getOrElse(-1L)
      jobsQ.add(JobRec(e.jobId, group, exec, msToNs(e.time), -1L, e.stageIds))
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart => registerPlan(s.executionId, s.sparkPlanInfo)
      case u: SparkListenerSQLAdaptiveExecutionUpdate => registerPlan(u.executionId, u.sparkPlanInfo)
      case _ =>
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      jobEnd.put(e.jobId, msToNs(e.time))
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      val i = e.taskInfo
      val t = stageTotals.computeIfAbsent(e.stageId, _ => new TaskTotals)
      t.synchronized {
        t.tasks += 1
        if (m != null) {
          t.runMs += m.executorRunTime
          t.cpuNs += m.executorCpuTime
          t.gcMs += m.jvmGCTime
          t.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          t.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          t.spill += m.diskBytesSpilled
          t.inputBytes += m.inputMetrics.bytesRead
          if (i != null && i.finishTime > 0)
            t.schedMs += math.max(0L, i.duration - m.executorRunTime -
              m.executorDeserializeTime - m.resultSerializationTime -
              i.gettingResultTime)
        }
      }
    }
  }

  private object planHelper extends AdaptiveSparkPlanHelper

  private val execListener = new QueryExecutionListener {
    override def onSuccess(func: String, qe: QueryExecution, durationNs: Long): Unit = {
      val phases = qe.tracker.phases
      val planMs = Seq("analysis", "optimization", "planning")
        .flatMap(phases.get).map(_.durationMs.toDouble).sum
      val m = mutable.Map.empty[String, Long].withDefaultValue(0L)
      val accIds = mutable.ArrayBuffer.empty[Long]
      planHelper.foreach(qe.executedPlan) { node =>
        accIds ++= node.metrics.valuesIterator.map(_.id)
        val isScan = node.nodeName.contains("Scan")
        val isJoin = node.isInstanceOf[BaseJoinExec] || node.nodeName.contains("Join")
        node.metrics.foreach { case (k, v) =>
          if (isScan) m(s"scan.$k") += v.value
          if (isJoin && k == "numOutputRows") m("join.numOutputRows") += v.value
        }
      }
      execsQ.add(ExecRec(accIds.toSeq, planMs, m.toMap))
    }
    override def onFailure(func: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val start = java.time.Instant.parse(p.timestamp).toEpochMilli
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
      triggersQ.add(TriggerRec(p.runId.toString, msToNs(start), d,
        p.numInputRows))
    }
  }

  if (on) {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(execListener)
    spark.streams.addListener(streamListener)
  }

  /** Times `f` as a span; its Spark jobs carry a job group unique to it. */
  def span[T](name: String, layer: String)(f: => T): T = {
    if (!on) return f
    val parent = stack.get.headOption
    val id = ids.incrementAndGet()
    val group = s"wb-$id"
    val sc = spark.sparkContext
    val saved = Seq("spark.jobGroup.id", "spark.job.description",
      "spark.job.interruptOnCancel").map(k => k -> sc.getLocalProperty(k))
    sc.setJobGroup(group, name)
    stack.set(Span(id, 0, 0, name, layer, 0, 0, group) :: stack.get)
    val t0 = System.nanoTime()
    try f
    finally {
      val t1 = System.nanoTime()
      stack.set(stack.get.tail)
      saved.foreach { case (k, v) => sc.setLocalProperty(k, v) }
      spansQ.add(Span(id, parent.map(_.id).getOrElse(0L),
        parent.map(_.op).getOrElse(id), name, layer, t0, t1, group))
    }
  }

  /** Records a client-side span whose Spark work runs on another thread
    * (a server connection or a stream) under the shared job group `group`;
    * jobs of that group are attributed to it by time. */
  def record(name: String, layer: String, startNs: Long, endNs: Long,
      group: String): Unit =
    if (on) {
      val id = ids.incrementAndGet()
      spansQ.add(Span(id, 0L, id, name, layer, startNs, endNs, group))
    }

  private val adopted = new java.util.concurrent.ConcurrentHashMap[String, Span]

  /** Makes the current span the parent of a stream's trigger spans (the
    * stream's jobs carry its run id as their job group). */
  def adoptStream(runId: String): Unit =
    if (on) stack.get.headOption.foreach(s => adopted.put(runId, s))

  /** Stops listening after draining the listener bus, then joins jobs,
    * executions and triggers to spans. */
  def finish(): TraceData = {
    if (!on) return TraceData.empty
    org.apache.spark.walrusbench.ListenerBus.drain(spark)
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(execListener)
    spark.streams.removeListener(streamListener)
    val jobs = jobsQ.asScala.toSeq.map { j =>
      j.endNs = Option(jobEnd.get(j.id)).map(_.longValue).getOrElse(j.startNs); j
    }
    val totals = jobs.map { j =>
      val t = new TaskTotals
      j.stages.flatMap(s => Option(stageTotals.get(s))).foreach(t += _)
      j.id -> t
    }.toMap
    triggersQ.asScala.foreach { t =>
      val id = ids.incrementAndGet()
      val p = Option(adopted.get(t.runId))
      spansQ.add(Span(id, p.map(_.id).getOrElse(0L), p.map(_.op).getOrElse(id),
        "streaming.trigger", "streaming", t.startNs,
        t.startNs + t.durations.getOrElse("triggerExecution", 0L) * 1000000L, t.runId))
    }
    val execs = execsQ.asScala.flatMap(e =>
      e.accIds.iterator.flatMap(a => Option(accExec.get(a))).toSeq.headOption
        .map(_.longValue -> e)).toMap
    TraceData(spansQ.asScala.toSeq, jobs, totals, execs, triggersQ.asScala.toSeq)
  }
}

/** Everything a traced run collected, with span ↔ job attribution. */
final case class TraceData(spans: Seq[Span], jobs: Seq[JobRec],
    totals: Map[Int, TaskTotals], execs: Map[Long, ExecRec],
    triggers: Seq[TriggerRec]) {

  /** Jobs per span: a span's group identifies its jobs; when several spans
    * share a group (server connections, one stream), the span whose
    * interval contains the job's start wins. */
  lazy val jobsBySpan: Map[Long, Seq[JobRec]] = {
    val byGroup = spans.groupBy(_.group).map { case (g, ss) => g -> ss.sortBy(_.startNs) }
    val slackNs = 2000000L
    jobs.flatMap { j =>
      byGroup.get(j.group).flatMap { ss =>
        if (ss.size == 1) ss.headOption
        else ss.find(s => j.startNs >= s.startNs - slackNs && j.startNs <= s.endNs + slackNs)
      }.map(_.id -> j)
    }.groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }
  }

  def jobsOf(s: Span): Seq[JobRec] = jobsBySpan.getOrElse(s.id, Nil)

  def totalsOf(js: Seq[JobRec]): TaskTotals = {
    val t = new TaskTotals
    js.flatMap(j => totals.get(j.id)).foreach(t += _)
    t
  }

  def execsOf(js: Seq[JobRec]): Seq[ExecRec] =
    js.map(_.execId).distinct.flatMap(execs.get)

  /** Length of the union of intervals, clipped to [lo, hi]. */
  def covered(iv: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    var total = 0L
    var curS = Long.MinValue; var curE = Long.MinValue
    iv.map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }
      .filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
        if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
        else curE = math.max(curE, e)
      }
    if (curE > curS) total += curE - curS
    total
  }

  /** Span time not covered by its Spark jobs: driver-side work. */
  def driverNs(s: Span): Long =
    s.durNs - covered(jobsOf(s).map(j => (j.startNs, j.endNs)), s.startNs, s.endNs)

  /** Self time per layer: each span minus the part its child spans and
    * jobs cover; jobs count to `spark` (their union, so overlapping
    * concurrent jobs are not double counted). */
  def selfTimesS: Map[String, Double] = {
    val children = spans.groupBy(_.parent)
    val out = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    spans.foreach { s =>
      val iv = children.getOrElse(s.id, Nil).map(c => (c.startNs, c.endNs)) ++
        jobsOf(s).map(j => (j.startNs, j.endNs))
      out(s.layer) += (s.durNs - covered(iv, s.startNs, s.endNs)) / 1e9
    }
    val allJobs = jobsBySpan.values.flatten.map(j => (j.startNs, j.endNs)).toSeq
    out("spark") += covered(allJobs, Long.MinValue, Long.MaxValue) / 1e9
    out.toMap
  }

  /** Writes spans (client, module and Spark-job spans) as JSON lines. */
  def write(path: Path): Unit = {
    Files.createDirectories(path.getParent)
    val w = Files.newBufferedWriter(path)
    try {
      def line(id: String, parent: Long, op: Long, name: String, layer: String,
          s: Long, e: Long): Unit =
        w.write(s"""{"id":"$id","parent":$parent,"op":$op,"name":"$name",""" +
          s""""layer":"$layer","start_ns":$s,"end_ns":$e}""" + "\n")
      spans.sortBy(_.startNs).foreach { s =>
        line(s.id.toString, s.parent, s.op, s.name, s.layer, s.startNs, s.endNs)
        jobsOf(s).foreach(j =>
          line(s"job-${j.id}", s.id, s.op, "spark.job", "spark", j.startNs, j.endNs))
      }
    } finally w.close()
  }
}

object TraceData {
  val empty: TraceData = TraceData(Nil, Nil, Map.empty, Map.empty, Nil)
}
