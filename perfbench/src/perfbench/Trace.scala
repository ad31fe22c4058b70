package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

import com.sun.management.{GarbageCollectionNotificationInfo => GcInfo}

/** Spans around the benchmark's own calls into the engine, plus Spark
  * listener data charged to them.
  *
  * A span sets the local property [[SpanKey]] on the calling thread for
  * its duration, so every job the call starts carries the span id —
  * including SQL broadcast builds (their threads capture the caller's
  * properties) and `foreachBatch` bodies (the callback runs on the
  * stream thread, which opens its own spans). Jobs from long-lived pool
  * threads inherit a stale id from the thread's creation; those are
  * charged to the innermost span open at the job's start instead (the
  * benchmark is a single closed-loop caller, so spans never overlap).
  *
  * Each job is charged twice, each time exclusively:
  *  - to a LAYER, the repo module that asked for it: the nearest
  *    `graft.*` frame of the submitting call stack (the `JobAttr`
  *    technique), looking through the `GraftSqlShim` pin helper and
  *    utility frames. Jobs started on SQL executor threads (broadcast
  *    builds, adaptive query stages) carry no engine frame; they take
  *    the layer of the engine job they feed, the next one of the op.
  *  - to a MECHANISM: `shim.pin` (the job materializes a pinned,
  *    local-checkpointed leaf), `sql.broadcast` (a build on a SQL thread),
  *    `sql.stage` (an adaptive query stage) or `action` (anything else).
  */
final class Tracer(spark: SparkSession) {
  import Tracer._

  private val sc: SparkContext = spark.sparkContext
  private val epochMs0 = System.currentTimeMillis()
  private val nano0 = System.nanoTime()
  /** Wall clock in ms on the listener's time base, at ns resolution. */
  def nowMs: Double = epochMs0 + (System.nanoTime() - nano0) / 1e6

  private val spans = mutable.ArrayBuffer.empty[SpanRec]
  private val open = mutable.Stack.empty[SpanRec]
  private val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  private val plans = new java.util.concurrent.ConcurrentLinkedQueue[(Double, Double)]()
  private var inlineNs = 0L

  /** Time spent by tracing code on the caller thread (span bookkeeping,
    * directory walks) — the part of tracing that can lengthen an op. */
  def chargeInline(ns: Long): Unit = synchronized { inlineNs += ns }
  def inlineSeconds: Double = synchronized(inlineNs / 1e9)

  def span[T](name: String, kind: String)(f: => T): T = {
    val t0 = System.nanoTime()
    val rec = synchronized {
      val r = SpanRec(spans.size, name, kind,
        open.headOption.map(_.id).getOrElse(-1), open.size, nowMs,
        gcMs, codegen)
      spans += r; open.push(r); r
    }
    val prev = sc.getLocalProperty(SpanKey)
    sc.setLocalProperty(SpanKey, rec.id.toString)
    chargeInline(System.nanoTime() - t0)
    try f
    finally {
      val t1 = System.nanoTime()
      sc.setLocalProperty(SpanKey, prev)
      synchronized {
        rec.endMs = nowMs; rec.gcEnd = gcMs; rec.codegenEnd = codegen
        open.pop()
      }
      chargeInline(System.nanoTime() - t1)
    }
  }

  /** Run `f` with Spark's call-site override cleared on this thread. A
    * stream thread pins its jobs' call site to the query's `start()`
    * site, which would hide the frames inside a `foreachBatch` body. */
  def withStackCallSites[T](f: => T): T = {
    val keys = Seq("callSite.short", "callSite.long") // CallSite.SHORT/LONG_FORM
    val saved = keys.map(sc.getLocalProperty)
    keys.foreach(sc.setLocalProperty(_, null))
    try f finally keys.zip(saved).foreach { case (k, v) => sc.setLocalProperty(k, v) }
  }

  private val listener = new SparkListener {
    override def onJobStart(js: SparkListenerJobStart): Unit = {
      val prop = Option(js.properties).flatMap(p =>
        Option(p.getProperty(SpanKey))).map(_.toInt).getOrElse(-1)
      js.stageIds.foreach(s => stageJob.putIfAbsent(s, js.jobId))
      val (mech, module, frames) = classify(js)
      jobs.put(js.jobId, JobRec(js.jobId, js.time.toDouble, prop, mech,
        module, frames))
    }
    override def onJobEnd(je: SparkListenerJobEnd): Unit =
      Option(jobs.get(je.jobId)).foreach(_.endMs = je.time.toDouble)
    override def onTaskEnd(te: SparkListenerTaskEnd): Unit = {
      Option(stageJob.get(te.stageId)).flatMap(id => Option(jobs.get(id)))
        .foreach(j => j.synchronized(j.add(te)))
    }
  }

  private val planListener = new org.apache.spark.sql.util.QueryExecutionListener {
    def onSuccess(funcName: String,
        qe: org.apache.spark.sql.execution.QueryExecution,
        durationNs: Long): Unit = record(qe)
    def onFailure(funcName: String,
        qe: org.apache.spark.sql.execution.QueryExecution,
        exception: Exception): Unit = record(qe)
    private def record(qe: org.apache.spark.sql.execution.QueryExecution) = {
      val ph = qe.tracker.phases
      val ps = Seq("analysis", "optimization", "planning").flatMap(ph.get)
      if (ps.nonEmpty)
        plans.add((ps.map(_.startTimeMs).min.toDouble,
          ps.map(_.durationMs).sum / 1e3))
    }
  }

  private var peakHeapBytes = 0L
  private val heapPools = java.lang.management.ManagementFactory
    .getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP).map(_.getName).toSet
  private val gcListener: javax.management.NotificationListener = (n, _) =>
    if (n.getType == GcInfo.GARBAGE_COLLECTION_NOTIFICATION) {
      val used = GcInfo.from(n.getUserData.asInstanceOf[
        javax.management.openmbean.CompositeData]).getGcInfo
        .getMemoryUsageAfterGc.asScala
        .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
      synchronized { peakHeapBytes = math.max(peakHeapBytes, used) }
    }
  private val gcEmitters = java.lang.management.ManagementFactory
    .getGarbageCollectorMXBeans.asScala
    .collect { case e: javax.management.NotificationEmitter => e }
  gcEmitters.foreach(_.addNotificationListener(gcListener, null, null))

  /** Largest heap occupancy right after a collection (heap pools summed)
    * since the tracer started, MB: the heap the run's live data needs,
    * whatever size the collector let the heap grow to. */
  def peakHeapAfterGcMb: Double = synchronized(peakHeapBytes / (1024.0 * 1024.0))

  sc.addSparkListener(listener)
  spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    .listenerManager.register(planListener)

  /** Wait for the listener bus, so every event of finished work is in. */
  def settle(): Unit = org.apache.spark.perfbench.Bus.drain(sc)

  def close(): Unit = {
    settle()
    gcEmitters.foreach(_.removeNotificationListener(gcListener))
    sc.removeSparkListener(listener)
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .listenerManager.unregister(planListener)
  }

  // ---- attribution -------------------------------------------------------

  private def within(s: SpanRec, t: Double): Boolean =
    t >= s.startMs - 1.0 && t <= s.endMs + 1.0

  /** The op span (kind `kind`) each job belongs to: its property's
    * span, or — for a stale property — the innermost span open at its
    * start; then walked up to the op. */
  private def owner(j: JobRec, byId: Map[Int, SpanRec]): Option[SpanRec] = {
    val viaProp = byId.get(j.spanProp).filter(within(_, j.startMs))
    viaProp.orElse {
      j.fallback = true
      spans.filter(within(_, j.startMs)).sortBy(-_.depth).headOption
    }
  }

  private def opOf(s: SpanRec, ops: Set[Int],
      byId: Map[Int, SpanRec]): Option[Int] =
    if (ops(s.id)) Some(s.id)
    else if (s.parent < 0) None
    else opOf(byId(s.parent), ops, byId)

  /** Per-op accounting for every span of `kind`: wall, job time per
    * layer (overlaps split evenly between the jobs running, so layers
    * sum to the union of job time), driver-only remainder, counters. */
  def ops(kind: String): Seq[OpStats] = synchronized {
    settle()
    val opSpans = spans.filter(_.kind == kind)
    val opIds = opSpans.map(_.id).toSet
    val byId = spans.map(s => s.id -> s).toMap
    val perOp = mutable.Map.empty[Int, mutable.ArrayBuffer[JobRec]]
    jobs.values.asScala.foreach { j =>
      owner(j, byId).flatMap(opOf(_, opIds, byId)).foreach(op =>
        perOp.getOrElseUpdate(op, mutable.ArrayBuffer.empty) += j)
    }
    resolveLayers(perOp)
    val planList = plans.asScala.toSeq
    opSpans.toSeq.map { s =>
      val js = perOp.getOrElse(s.id, mutable.ArrayBuffer.empty).toSeq
      val busy = mutable.Map.empty[String, Double].withDefaultValue(0.0)
      val busyMech = mutable.Map.empty[String, Double].withDefaultValue(0.0)
      // sweep: each instant of job time is split over the jobs running
      val edges = js.flatMap { j =>
        val a = math.max(j.startMs, s.startMs)
        val b = math.min(if (j.endMs > 0) j.endMs else s.endMs, s.endMs)
        if (b > a) Seq((a, 1, j), (b, -1, j)) else Nil
      }.sortBy(e => (e._1, e._2))
      val active = mutable.Set.empty[JobRec]
      var last = s.startMs
      edges.foreach { case (t, d, j) =>
        if (active.nonEmpty) {
          val share = (t - last) / active.size
          active.foreach { a => busy(a.layer) += share; busyMech(a.mech) += share }
        }
        last = t
        if (d > 0) active += j else active -= j
      }
      val wall = (s.endMs - s.startMs) / 1e3
      val jobSec = busy.values.sum / 1e3
      // accounting gaps: jobs of this op running outside its span (their
      // time outside is charged nowhere), and jobs of other ops or none
      // running inside it (their time is missing from this op's layers)
      val clipped = js.count(j => j.startMs < s.startMs - 1.0 || j.endMs < 0 ||
        j.endMs > s.endMs + 1.0)
      val mine = js.map(_.id).toSet
      val foreign = jobs.values.asScala.count(j => !mine(j.id) &&
        j.startMs < s.endMs - 1.0 && (j.endMs < 0 || j.endMs > s.startMs + 1.0))
      OpStats(s, wall, wall - jobSec, busy.map { case (k, v) => k -> v / 1e3 }.toMap,
        busyMech.map { case (k, v) => k -> v / 1e3 }.toMap,
        js, planList.filter(p => within(s, p._1)).map(_._2).sum, clipped, foreign)
    }
  }

  def fallbackJobs: Int = jobs.values.asScala.count(_.fallback)

  /** Give each job without an engine frame (a broadcast build or an
    * adaptive query stage, run just before the engine job that consumes
    * it) the layer of the next engine job of the same op — else of the
    * previous one. */
  private def resolveLayers(perOp: collection.Map[Int, mutable.ArrayBuffer[JobRec]]): Unit =
    perOp.values.foreach { js =>
      val sorted = js.sortBy(_.id)
      sorted.foreach { j =>
        j.layer = j.module
          .orElse(sorted.find(k => k.id > j.id && k.module.isDefined).flatMap(_.module))
          .orElse(sorted.findLast(k => k.id < j.id && k.module.isDefined).flatMap(_.module))
          .getOrElse("other")
      }
    }

  /** One line per job: id, op span, layer, start/end ms, tasks, frame. */
  def dumpJobs(f: java.io.File): Unit = synchronized {
    settle()
    val byId = spans.map(s => s.id -> s).toMap
    val w = new java.io.PrintWriter(f, "UTF-8")
    try {
      w.println("job\tspan\tspan_kind\tlayer\tmechanism\tstart_ms\tend_ms\ttasks\tframes")
      jobs.values.asScala.toSeq.sortBy(_.id).foreach { j =>
        val sp = owner(j, byId)
        w.println(Seq(j.id, sp.map(_.name).getOrElse(""), sp.map(_.kind).getOrElse(""),
          j.layer, j.mech, f"${j.startMs}%.0f", f"${j.endMs}%.0f", j.tasks, j.frames)
          .mkString("\t"))
      }
    } finally w.close()
  }
}

object Tracer {
  val SpanKey = "perfbench.span"

  /** Layers (repo modules) and mechanisms, each an exclusive split of
    * job time. A read op's jobs are `store.read` by span kind. */
  val Layers: Seq[String] = Seq("core.iterative", "core.incremental",
    "store.write", "operators.dedup", "streaming", "other")
  val Mechanisms: Seq[String] = Seq("shim.pin", "sql.broadcast", "sql.stage",
    "action")

  final case class SpanRec(id: Int, name: String, kind: String,
      parent: Int, depth: Int, startMs: Double, gcStart: Long,
      codegenStart: (Long, Double)) {
    var endMs: Double = Double.MaxValue
    var gcEnd: Long = gcStart
    var codegenEnd: (Long, Double) = codegenStart
  }

  final case class JobRec(id: Int, startMs: Double, spanProp: Int,
      mech: String, module: Option[String], frames: String) {
    var layer: String = module.getOrElse("other")
    var endMs: Double = -1
    var fallback = false
    var tasks = 0L
    var failedTasks = 0L
    var emptyTasks = 0L
    var runMs = 0L
    var cpuNs = 0L
    var deserMs = 0L
    var schedDelayMs = 0L
    var shuffleReadBytes = 0L
    var shuffleWriteBytes = 0L
    var fetchWaitMs = 0L
    var spillBytes = 0L

    def add(te: SparkListenerTaskEnd): Unit = {
      tasks += 1
      if (!te.taskInfo.successful) failedTasks += 1
      val m = te.taskMetrics
      if (m != null) {
        if (m.inputMetrics.recordsRead == 0 &&
            m.shuffleReadMetrics.recordsRead == 0) emptyTasks += 1
        runMs += m.executorRunTime
        cpuNs += m.executorCpuTime
        deserMs += m.executorDeserializeTime
        shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
        shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
        spillBytes += m.diskBytesSpilled
        // the Spark UI's scheduler delay: task wall not spent running,
        // deserializing, serializing or fetching its result
        val ti = te.taskInfo
        val dur = ti.finishTime - ti.launchTime
        val getting = if (ti.gettingResultTime > 0)
          ti.finishTime - ti.gettingResultTime else 0L
        schedDelayMs += math.max(0L, dur - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime - getting)
      }
    }
  }

  final case class OpStats(span: SpanRec, wallS: Double, driverOnlyS: Double,
      busyS: Map[String, Double], busyMechS: Map[String, Double],
      jobs: Seq[JobRec], planS: Double, clippedJobs: Int, foreignJobs: Int) {
    def jobsIn(layer: String): Int = jobs.count(_.layer == layer)
    def jobsVia(mech: String): Int = jobs.count(_.mech == mech)
    def sum(f: JobRec => Long): Long = jobs.map(f).sum
    def gcS: Double = (span.gcEnd - span.gcStart) / 1e3
    def codegenCompiles: Long = span.codegenEnd._1 - span.codegenStart._1
    def codegenS: Double = (span.codegenEnd._2 - span.codegenStart._2) / 1e3
  }

  def gcMs: Long = java.lang.management.ManagementFactory
    .getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  /** (compiles, estimated total compile ms). Spark keeps compile times
    * in a decaying-reservoir histogram, so the time is count × mean — an
    * estimate; the count is exact. */
  def codegen: (Long, Double) = {
    val h = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
    (h.getCount, h.getCount * h.getSnapshot.getMean)
  }

  /** Frames that never name a layer: the pin helper and utilities. */
  private val Transparent = Seq("GraftSqlShim", "graft.util.",
    "graft.functions.", "graft.core.Adaptive")

  /** Nearest-frame rules, first match wins. */
  private val ByFrame: Seq[(scala.util.matching.Regex, String)] = Seq(
    """graft\.core\.IterativeJob|graft\.algorithms\.PageRank[$.]""".r ->
      "core.iterative",
    ("""graft\.core\.(IncrementalJob|StaticSource|PreservedState)""" +
      """|graft\.algorithms\.Incremental""").r -> "core.incremental",
    """graft\.operators\.Dedup[$.]""".r -> "operators.dedup",
    """graft\.streaming\.""".r -> "streaming",
    """graft\.(core\.SegmentedStateStore|operators\.)""".r -> "store.write")

  /** (mechanism, layer if the stack names one, first engine frames). */
  def classify(js: SparkListenerJobStart): (String, Option[String], String) = {
    val result = js.stageInfos.sortBy(_.stageId).lastOption
    val lines = result.map(_.details).getOrElse("").linesIterator.map(_.trim).toSeq
    val engine = lines.filter(l => l.contains("graft.") || l.contains("perfbench."))
    val module = engine.find(l => !Transparent.exists(l.contains)).map { f =>
      if (f.contains("perfbench.")) "other"
      else ByFrame.collectFirst {
        case (re, l) if re.findFirstIn(f).isDefined => l
      }.getOrElse("other")
    }
    val finalRdd = result.toSeq.flatMap(_.rddInfos).sortBy(-_.id).headOption
    val mech =
      if (finalRdd.exists(_.storageLevel.isValid)) "shim.pin"
      else if (engine.nonEmpty) "action"
      else if (result.exists(org.apache.spark.perfbench.Bus.isMapStage)) "sql.stage"
      else "sql.broadcast"
    (mech, module, engine.take(3).mkString(" < "))
  }
}
