package perfbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryProgress
import org.apache.spark.sql.util.QueryExecutionListener

/** One traced interval: a harness call into a layer, a Spark job, or
  * a streaming trigger phase. Times are epoch milliseconds. */
final case class Span(id: Long, parent: Long, layer: String, name: String,
    startMs: Double, endMs: Double)

/** One finished Spark job with the task metrics of its stages. */
final class JobRec(val id: Int, val startMs: Double, val props: Map[String, String]) {
  var endMs: Double = startMs
  var stages = 0
  var tasks = 0
  var runMs = 0.0
  var cpuMs = 0.0
  var gcMs = 0.0
  var inputBytes = 0L
  var shuffleReadBytes = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  def queryId: Option[String] = props.get("sql.streaming.queryId")
  def spanId: Long = props.get(Tracer.SpanKey).map(_.toLong).getOrElse(0L)
}

/** Query planning phases of one finished Dataset action. */
final case class PlanRec(analysisMs: Double, optimizationMs: Double, planningMs: Double)

/** Layer attribution from outside the program: spans the benchmark
  * records around each call into a layer, plus the jobs, tasks and
  * planning phases Spark reports through its listener interfaces.
  * With `enabled = false` nothing is registered and `span` only runs
  * its body, which is how every end-to-end run measures. */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  import Tracer._

  private val nextId = new AtomicLong(0L)
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = new ThreadLocal[List[Span]] { override def initialValue() = Nil }
  private val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  private val stageJob = mutable.HashMap.empty[Int, Int]
  private val plans = mutable.ArrayBuffer.empty[PlanRec]
  /** streaming query id of each trigger phase span */
  private val phaseQuery = mutable.HashMap.empty[Long, String]
  @volatile private var attached = false
  private val lock = new Object

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = lock.synchronized {
      val props = Option(e.properties).map(_.asScala.toMap).getOrElse(Map.empty)
      val j = new JobRec(e.jobId, e.time.toDouble, props)
      j.stages = e.stageInfos.size
      e.stageIds.foreach(s => stageJob(s) = e.jobId)
      jobs(e.jobId) = j
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = lock.synchronized {
      jobs.get(e.jobId).foreach(_.endMs = e.time.toDouble)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = lock.synchronized {
      for (jid <- stageJob.get(e.stageId); j <- jobs.get(jid); m <- Option(e.taskMetrics)) {
        j.tasks += 1
        j.runMs += m.executorRunTime
        j.cpuMs += m.executorCpuTime / 1e6
        j.gcMs += m.jvmGCTime
        j.inputBytes += m.inputMetrics.bytesRead
        j.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
        j.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        j.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  private val planListener = new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = {
      val ph = qe.tracker.phases
      def d(k: String) = ph.get(k).map(_.durationMs.toDouble).getOrElse(0.0)
      lock.synchronized(plans += PlanRec(d("analysis"), d("optimization"), d("planning")))
    }
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  /** attach the listeners (traced part of a run). */
  def attach(): Unit = if (enabled && !attached) {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(planListener)
    attached = true
  }

  /** detach them (untraced part of a traced run). Waits for queued
    * listener events so that no traced job is half counted. */
  def detach(): Unit = if (attached) {
    drainEvents()
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(planListener)
    attached = false
  }

  /** block until the listener bus has delivered every posted event. */
  def drainEvents(): Unit =
    if (attached) org.apache.spark.ListenerBusAccess.waitUntilEmpty(spark.sparkContext)

  /** run `body` as a call into `layer`; spans nest per thread, and
    * Spark jobs submitted inside carry the span id. */
  def span[T](layer: String, name: String)(body: => T): T =
    if (!attached) body
    else {
      val sc = spark.sparkContext
      val parent = stack.get.headOption.map(_.id).getOrElse(0L)
      val id = nextId.incrementAndGet()
      val prevSpan = sc.getLocalProperty(SpanKey)
      val prevLayer = sc.getLocalProperty(LayerKey)
      sc.setLocalProperty(SpanKey, id.toString)
      sc.setLocalProperty(LayerKey, layer)
      val open = Span(id, parent, layer, name, epochMs, 0.0)
      stack.set(open :: stack.get)
      try body
      finally {
        stack.set(stack.get.tail)
        sc.setLocalProperty(SpanKey, prevSpan)
        sc.setLocalProperty(LayerKey, prevLayer)
        lock.synchronized(spans += open.copy(endMs = epochMs))
      }
    }

  /** the id of the innermost open span on this thread, 0 for none. */
  def currentSpan: Long = stack.get.headOption.map(_.id).getOrElse(0L)

  /** add trigger and phase spans for the progress reports of one
    * streaming query; `phaseLayer` names the layer of each phase. */
  def addTriggers(parent: Long, triggerLayer: String,
      progress: Seq[StreamingQueryProgress], phaseLayer: String => String): Unit =
    if (attached) lock.synchronized {
      progress.foreach { p =>
        val t0 = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
        val dur = p.durationMs.asScala.map { case (k, v) => k -> v.toDouble }
        val tid = nextId.incrementAndGet()
        spans += Span(tid, parent, triggerLayer, s"trigger:${p.name}#${p.batchId}",
          t0, t0 + dur.getOrElse("triggerExecution", 0.0))
        var at = t0
        PhaseOrder.foreach { ph =>
          dur.get(ph).foreach { ms =>
            val pid = nextId.incrementAndGet()
            spans += Span(pid, tid, phaseLayer(ph), ph, at, at + ms)
            phaseQuery(pid) = p.id.toString
            at += ms
          }
        }
      }
    }

  def allJobs: Seq[JobRec] = lock.synchronized(jobs.values.toList)

  /** (jobs, plans) recorded so far: a mark for `jobsSince`/`plansSince`. */
  def mark: (Int, Int) = lock.synchronized((jobs.size, plans.size))
  def jobsSince(m: (Int, Int)): Seq[JobRec] = lock.synchronized(jobs.values.drop(m._1).toList)
  def plansSince(m: (Int, Int)): Seq[PlanRec] = lock.synchronized(plans.drop(m._2).toList)

  /** every span, with one child span per Spark job; a job's parent is
    * the trigger phase of its streaming query that holds its start,
    * else the harness span that submitted it. */
  def allSpans: Seq[Span] = lock.synchronized {
    val base = spans.toList
    val byId = base.map(s => s.id -> s).toMap
    val phases = base.filter(s => phaseQuery.contains(s.id))
    val jobSpans = jobs.values.toList.map { j =>
      val phase = j.queryId.flatMap(q => phases.find(p =>
        phaseQuery(p.id) == q && p.startMs <= j.startMs && j.startMs <= p.endMs))
      val parent = phase.orElse(byId.get(j.spanId))
      Span(nextId.incrementAndGet(), parent.map(_.id).getOrElse(0L),
        parent.map(_.layer).orElse(j.props.get(LayerKey)).getOrElse("spark"),
        s"job#${j.id}", j.startMs, j.endMs)
    }
    base ++ jobSpans
  }
}

object Tracer {
  val SpanKey = "perfbench.span"
  val LayerKey = "perfbench.layer"

  /** order of the micro-batch phases inside one trigger. */
  val PhaseOrder: Seq[String] =
    Seq("latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch", "commitOffsets")

  private val nanoBase = System.nanoTime()
  private val epochBase = System.currentTimeMillis().toDouble

  /** epoch milliseconds with sub-millisecond resolution. */
  def epochMs: Double = epochBase + (System.nanoTime() - nanoBase) / 1e6

  /** self time of each layer: a span's duration minus the part of it
    * that its children cover. */
  def selfTimeByLayer(spans: Seq[Span]): Map[String, Double] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val cs = kids.getOrElse(s.id, Nil)
        .map(c => (math.max(c.startMs, s.startMs), math.min(c.endMs, s.endMs)))
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var covered = 0.0
      var curA = Double.NaN
      var curB = Double.NaN
      cs.foreach { case (a, b) =>
        if (curA.isNaN) { curA = a; curB = b }
        else if (a <= curB) curB = math.max(curB, b)
        else { covered += curB - curA; curA = a; curB = b }
      }
      if (!curA.isNaN) covered += curB - curA
      s.layer -> math.max(0.0, (s.endMs - s.startMs) - covered)
    }.groupBy(_._1).map { case (k, v) => k -> v.map(_._2).sum }
  }

  /** wall time in [fromMs, toMs] covered by no job. */
  def uncoveredMs(jobs: Seq[JobRec], fromMs: Double, toMs: Double): Double = {
    val iv = jobs.map(j => (math.max(j.startMs, fromMs), math.min(j.endMs, toMs)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0.0
    var curA = Double.NaN
    var curB = Double.NaN
    iv.foreach { case (a, b) =>
      if (curA.isNaN) { curA = a; curB = b }
      else if (a <= curB) curB = math.max(curB, b)
      else { covered += curB - curA; curA = a; curB = b }
    }
    if (!curA.isNaN) covered += curB - curA
    math.max(0.0, (toMs - fromMs) - covered)
  }

  /** (traced − untraced) / untraced, in percent, of paired operation times. */
  def overheadPct(traced: Seq[Double], untraced: Seq[Double]): Double =
    if (traced.isEmpty || untraced.isEmpty) 0.0
    else 100.0 * (Stats.median(traced) - Stats.median(untraced)) / Stats.median(untraced)

  def spansJson(spans: Seq[Span]): String = Stats.json(spans.map(s =>
    mutable.LinkedHashMap[String, Any]("id" -> s.id, "parent" -> s.parent,
      "layer" -> s.layer, "name" -> s.name, "start_ms" -> s.startMs,
      "end_ms" -> s.endMs)))
}
