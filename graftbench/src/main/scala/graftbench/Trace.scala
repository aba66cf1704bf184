package graftbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.util.QueryExecutionListener

/** Wall clock shared by spans and listener events: epoch milliseconds as a
  * double, with nanoTime resolution between calls. */
object Clock {
  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  def nowMs: Double = baseMs + (System.nanoTime() - baseNs) / 1e6
}

/** One span: a call into a library layer made by the benchmark. */
final class Span(val id: Long, val parent: Long, val trace: Long,
    val name: String, val layer: String, val start: Double) {
  var end: Double = start
  def wallMs: Double = end - start
}

/** Spans around each call the benchmark makes into the library, kept in
  * memory and written out at exit. Single client thread: the stack needs
  * no locking. Each open span is also published as a Spark local property
  * so the jobs it submits (from this thread or threads it spawns) carry
  * its id to the listener. Disabled, `span` is a plain call. */
final class Tracer(sc: SparkContext, tracing: Boolean) {
  /** Spans are recorded only while active: the timed loop, not set-up. */
  var active = false
  def on: Boolean = tracing && active
  val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil
  private var nextId = 1L
  private var trace = 0L

  /** A new trace: one benchmark operation. */
  def op[T](name: String)(body: => T): T = { trace += 1; span(name, "bench")(body) }

  def span[T](name: String, layer: String)(body: => T): T =
    if (!on) body
    else {
      val s = new Span(nextId, stack.headOption.map(_.id).getOrElse(0L),
        trace, name, layer, Clock.nowMs)
      nextId += 1
      spans += s
      stack = s :: stack
      val prev = sc.getLocalProperty(Tracer.SpanKey)
      sc.setLocalProperty(Tracer.SpanKey, s.id.toString)
      try body
      finally {
        s.end = Clock.nowMs
        stack = stack.tail
        sc.setLocalProperty(Tracer.SpanKey, prev)
      }
    }

  /** `span`, also returning the span it recorded (None when inactive). */
  def spanned[T](name: String, layer: String)(body: => T): (T, Option[Span]) = {
    var made: Option[Span] = None
    val r = span(name, layer) { made = stack.headOption; body }
    (r, made)
  }

  /** Spans as JSON lines, then self time per layer (a span's wall minus
    * the part its child spans cover). */
  def write(path: String): Map[String, Double] = {
    val children = spans.groupBy(_.parent)
    val selfByLayer = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    spans.foreach { s =>
      val kids = children.getOrElse(s.id, Nil).map(k => (k.start, k.end))
      selfByLayer(s.layer) += s.wallMs - Intervals.covered(kids, s.start, s.end)
    }
    val w = new java.io.PrintWriter(path, "UTF-8")
    try {
      spans.foreach { s =>
        w.println(Check.json.writeValueAsString(Map("id" -> s.id, "parent" -> s.parent,
          "trace" -> s.trace, "name" -> s.name, "layer" -> s.layer,
          "start_ms" -> s.start, "end_ms" -> s.end)))
      }
      w.println(Check.json.writeValueAsString(Map("self_s_by_layer" ->
        selfByLayer.map { case (l, ms) => l -> ms / 1e3 }.toMap)))
    } finally w.close()
    selfByLayer.toMap.map { case (l, ms) => l -> ms / 1e3 }
  }
}

object Tracer { val SpanKey = "graftbench.span" }

object Intervals {
  /** Length of [lo, hi] covered by the union of `ivs`. */
  def covered(ivs: Iterable[(Double, Double)], lo: Double, hi: Double): Double = {
    var total = 0.0
    var curS = Double.NaN
    var curE = Double.NaN
    ivs.map { case (s, e) => (s.max(lo), e.min(hi)) }.filter(x => x._2 > x._1)
      .toSeq.sortBy(_._1).foreach { case (s, e) =>
        if (curS.isNaN || s > curE) {
          if (!curS.isNaN) total += curE - curS
          curS = s; curE = e
        } else curE = curE.max(e)
      }
    if (!curS.isNaN) total += curE - curS
    total
  }
}

final case class JobRec(id: Int, span: Long, execId: Long, start: Double) {
  @volatile var end: Double = start
}

final case class StageRec(tasks: Int, cpuNs: Long, shuffleWrite: Long, spill: Long)

/** One finished query execution: its planning time, the files and rows
  * its scans read (`cacheFillRows`: rows file scans fed into a cache this
  * execution filled), and, for a table write, the output path and rows. */
final case class QeRec(funcName: String, start: Double, durMs: Double,
    planMs: Double, files: Long, rowsScanned: Long, cacheFillRows: Long,
    outPath: Option[String], rowsOut: Long)

/** Counts at the span boundaries, taken from outside the library: a
  * SparkListener for jobs, stages, tasks, task CPU, shuffle, spill and
  * storage memory, plus a QueryExecutionListener for planning phases and
  * executed-plan scan metrics. Storage is always tracked (it feeds
  * `cache_peak_mb` and the set-up cache sizes); everything else only when
  * tracing. */
final class Recorder(tracing: Boolean)
    extends SparkListener with QueryExecutionListener {

  val jobs = new java.util.concurrent.ConcurrentHashMap[Int, JobRec]()
  val stages = new java.util.concurrent.ConcurrentHashMap[Int, StageRec]()
  private val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
  val countExecs = java.util.concurrent.ConcurrentHashMap.newKeySet[Long]()
  val qes = new ConcurrentLinkedQueue[QeRec]()
  @volatile private var lastEvent = Clock.nowMs

  // storage: in-memory bytes per block of each cached RDD, their sum, and
  // its peak. An unpersist removes its blocks without per-block updates,
  // so the RDD's unpersist event clears them.
  private val blocks = mutable.Map.empty[Int, mutable.Map[String, Long]]
  private var current = 0L
  private var peak = 0L

  def storageNow: Long = synchronized(current)
  def resetPeak(): Unit = synchronized { peak = current }
  def peakBytes: Long = synchronized(peak)

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
    val info = e.blockUpdatedInfo
    info.blockId.asRDDId.foreach { id => synchronized {
      val rdd = blocks.getOrElseUpdate(id.rddId, mutable.Map.empty)
      val key = info.blockManagerId.executorId + "/" + id.name
      val mem = if (info.storageLevel.useMemory) info.memSize else 0L
      current += mem - rdd.getOrElse(key, 0L)
      if (mem == 0L) rdd.remove(key) else rdd(key) = mem
      peak = peak.max(current)
    } }
  }

  override def onUnpersistRDD(e: SparkListenerUnpersistRDD): Unit = synchronized {
    blocks.remove(e.rddId).foreach(rdd => current -= rdd.values.sum)
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = if (tracing) {
    lastEvent = Clock.nowMs
    val props = Option(e.properties)
    def prop(k: String) = props.flatMap(p => Option(p.getProperty(k)))
    val span = prop(Tracer.SpanKey).map(_.toLong).getOrElse(0L)
    val exec = prop("spark.sql.execution.id").map(_.toLong).getOrElse(-1L)
    jobs.put(e.jobId, JobRec(e.jobId, span, exec, e.time.toDouble))
    e.stageIds.foreach(s => stageJob.putIfAbsent(s, e.jobId))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = if (tracing) {
    lastEvent = Clock.nowMs
    Option(jobs.get(e.jobId)).foreach(_.end = e.time.toDouble)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = if (tracing) {
    lastEvent = Clock.nowMs
    val si = e.stageInfo
    Option(si.taskMetrics).foreach { m =>
      stages.put(si.stageId, StageRec(si.numTasks, m.executorCpuTime,
        m.shuffleWriteMetrics.bytesWritten, m.memoryBytesSpilled + m.diskBytesSpilled))
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart if tracing =>
      lastEvent = Clock.nowMs
      if (s.description.startsWith("count at")) countExecs.add(s.executionId)
    case _ =>
  }

  def jobOfStage(stage: Int): Option[Int] = Option(stageJob.get(stage)).map(_.toInt)

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    if (tracing) {
      lastEvent = Clock.nowMs
      val phases = qe.tracker.phases.values
      val start =
        if (phases.nonEmpty) phases.map(_.startTimeMs).min.toDouble
        else Clock.nowMs - durationNs / 1e6
      val plan = qe.executedPlan
      val scans = Plans.scans(plan)
      val write = Plans.writes(plan).headOption
      qes.add(QeRec(funcName, start, durationNs / 1e6,
        phases.map(_.durationMs).sum.toDouble,
        scans.map(_._1).sum, scans.map(_._2).sum, Plans.cacheFillRows(plan),
        write.map(_._1), write.map(_._2).getOrElse(0L)))
    }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  /** Wait until listener events stop arriving (the bus is asynchronous). */
  def drain(): Unit = if (tracing) {
    val deadline = Clock.nowMs + 5000
    Thread.sleep(200)
    while (Clock.nowMs - lastEvent < 300 && Clock.nowMs < deadline) Thread.sleep(100)
  }
}

object Recorder {
  def install(spark: SparkSession, tracing: Boolean): Recorder = {
    val r = new Recorder(tracing)
    spark.sparkContext.addSparkListener(r)
    if (tracing) spark.listenerManager.register(r)
    r
  }
}

/** Executed-plan metrics, through adaptive query stages. */
object Plans extends AdaptiveSparkPlanHelper {
  private def metric(p: SparkPlan, name: String): Long =
    p.metrics.get(name).map(_.value).getOrElse(0L)

  /** (files read, rows output) per scan. */
  def scans(plan: SparkPlan): Seq[(Long, Long)] = collectWithSubqueries(plan) {
    case s: FileSourceScanExec => (metric(s, "numFiles"), metric(s, "numOutputRows"))
    case s: InMemoryTableScanExec => (0L, metric(s, "numOutputRows"))
  }

  /** Rows the file scans under the in-memory relations of `plan` read.
    * Cache plans keep their metrics, so this is meaningful only for the
    * execution that filled the cache. */
  def cacheFillRows(plan: SparkPlan): Long = collectWithSubqueries(plan) {
    case s: InMemoryTableScanExec =>
      scans(s.relation.cacheBuilder.cachedPlan).map(_._2).sum
  }.sum

  /** (output path, rows written) per table write. */
  def writes(plan: SparkPlan): Seq[(String, Long)] = collect(plan) {
    case w: DataWritingCommandExec => w.cmd match {
      case i: InsertIntoHadoopFsRelationCommand =>
        (i.outputPath.toString, i.metrics.get("numOutputRows").map(_.value).getOrElse(0L))
      case other => (other.nodeName, 0L)
    }
  }
}

/** Per-op roll-ups of the recorder's counts over a set of spans. */
final class Layers(tracer: Tracer, rec: Recorder, cores: Int) {
  import Layers._

  private val jobsBySpan: Map[Long, Seq[JobRec]] =
    rec.jobs.values.asScala.toSeq.groupBy(_.span)
  private val stagesByJob: Map[Int, Seq[StageRec]] =
    rec.stages.asScala.toSeq.flatMap { case (sid, st) =>
      rec.jobOfStage(sid).map(_ -> st) }.groupBy(_._1).map { case (j, xs) => j -> xs.map(_._2) }
  private val children: Map[Long, Seq[Span]] = tracer.spans.toSeq.groupBy(_.parent)
  private val qeList = rec.qes.asScala.toSeq

  /** The benchmark operations: root spans, one per trace. */
  def opSpans: Seq[Span] = tracer.spans.toSeq.filter(_.parent == 0L)

  def subtree(s: Span): Seq[Span] = s +: children.getOrElse(s.id, Nil).flatMap(subtree)

  /** Jobs submitted inside `spans` (each job belongs to its innermost span). */
  def jobsOf(spans: Seq[Span]): Seq[JobRec] = spans.flatMap(s => jobsBySpan.getOrElse(s.id, Nil))

  def counts(js: Seq[JobRec]): Counts = {
    val st = js.flatMap(j => stagesByJob.getOrElse(j.id, Nil))
    Counts(js.size, st.map(_.tasks).sum, st.map(_.cpuNs).sum / 1e6,
      st.map(_.shuffleWrite).sum, st.map(_.spill).sum)
  }

  /** Span wall not covered by any of its jobs: the driver-side gap. */
  def driverGapMs(s: Span, js: Seq[JobRec]): Double =
    s.wallMs - Intervals.covered(js.map(j => (j.start, j.end)), s.start, s.end)

  /** Query executions whose planning started inside the span. */
  def qesIn(s: Span): Seq[QeRec] = qeList.filter(q => q.start >= s.start && q.start <= s.end)

  def cpuUtil(cpuMs: Double, wallMs: Double): Double =
    if (wallMs <= 0) 0.0 else cpuMs / (wallMs * cores)
}

object Layers {
  final case class Counts(jobs: Int, tasks: Int, cpuMs: Double,
      shuffleWrite: Long, spill: Long)

  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
  val MB: Double = 1024.0 * 1024.0
}
