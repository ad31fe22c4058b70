package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.algorithms.{IncrementalPageRank, PageRank}
import graft.core.SegmentedStateStore
import graft.operators.{DedupClusterStore, KeyedUpsertStore, LmCountsStore}
import graft.streaming.{DeltaFiles, StreamMaintain}

/** Everything one run shares: the session, the seed, the work directory,
  * the optional tracer, and the op / failure tallies. */
final class Ctx(val spark: SparkSession, val seed: Long, val seconds: Int,
    val cores: Int, work: String, val tracer: Option[Tracer],
    val sessionS: Double) {
  var attempted = 0L
  var failed = 0L
  private val notes = mutable.ArrayBuffer.empty[String]

  def span[T](name: String, kind: String)(f: => T): T =
    tracer.fold(f)(_.span(name, kind)(f))

  private val t0 = System.nanoTime()
  /** Progress line: elapsed seconds since the run's context was made. */
  def phase(name: String): Unit =
    System.err.println(f"[perfbench] +${(System.nanoTime() - t0) / 1e9}%.1f s: $name")

  def note(s: String): Unit = {
    System.err.println(s"[perfbench] $s"); notes += s
  }
  def notesSeq: Seq[String] = notes.toSeq

  /** One attempted op; a throw counts it failed and is rethrown. */
  def op[T](what: String)(f: => T): T = {
    attempted += 1
    try f catch { case e: Throwable =>
      failed += 1; note(s"FAILED $what: $e"); throw e
    }
  }

  /** One untimed correctness check; false or a throw counts it failed. */
  def check(what: String)(ok: => Boolean): Unit = {
    attempted += 1
    val pass = try ok catch { case e: Throwable => note(s"$what threw $e"); false }
    if (!pass) { failed += 1; note(s"CHECK FAILED: $what") }
  }

  def dir(name: String): String = {
    val d = new java.io.File(work, name)
    Util.deleteRec(d)
    d.getPath
  }

  /** The run's set-up, timed as one span, storage drained after it. */
  def setup[T](what: String)(f: => T): (T, Double) = Util.time {
    val out = span(what, "setup")(f)
    Util.drain(spark, what)
    out
  }

  /** Walk store dirs only when tracing; the walk time is charged as
    * tracing overhead. */
  def walk(roots: Seq[String]): Map[String, (Long, Long)] = tracer.fold(
    Map.empty[String, (Long, Long)]) { t =>
    val t0 = System.nanoTime()
    val s = Util.snapshot(roots)
    t.chargeInline(System.nanoTime() - t0)
    s
  }
}

/** The closed-loop stream driver shared by the stream workloads: stage a
  * fixed batch sequence with `DeltaFiles.stage`, drain it with
  * `DeltaFiles.runToEnd`; each `foreachBatch` call applies the batch
  * through the maintainer, then (outside the batch's latency) walks
  * the store dirs when tracing, does the freshness read and checks
  * storage hygiene. The stream delivers the next batch only after the
  * callback returns. The first `warm` batches are the untimed warmup;
  * the measured drain starts when the last of them returns. */
final class StreamLoop(ctx: Ctx, stores: Seq[String],
    schema: org.apache.spark.sql.types.StructType,
    apply: (DataFrame, Long) => Seq[Option[Double]], read: () => Unit) {
  val batchS = mutable.ArrayBuffer.empty[Double]
  val readS = mutable.ArrayBuffer.empty[Double]
  val gapS = mutable.ArrayBuffer.empty[Double]
  val touched = mutable.ArrayBuffer.empty[Double]
  val filesWritten = mutable.ArrayBuffer.empty[(Int, Long)]
  var replayed = 0
  var warmS = 0.0
  /** Time inside callbacks spent outside the maintainer (reads,
    * hygiene, tracing walks), measured batches only. */
  var asideS = 0.0
  /** Wall of the measured drain, trigger overheads included. */
  var drainS = 0.0

  def run(drop: String, warm: Int): Unit = {
    var lastExit = System.nanoTime()
    var windowStart = lastExit
    DeltaFiles.runToEnd(ctx.spark, schema, drop, timeoutMs = 170000L) {
      (batch, bid) =>
        val entry = System.nanoTime()
        val record = bid >= warm
        if (record && bid > 0) gapS += (entry - lastExit) / 1e9
        val before = if (record) ctx.walk(stores) else Map.empty[String, (Long, Long)]
        val (advice, dt) = Util.time(ctx.op(s"batch $bid")(
          ctx.span(s"batch $bid", if (record) "batch" else "warm-batch")(
            ctx.tracer.fold(apply(batch, bid))(_.withStackCallSites(apply(batch, bid))))))
        if (record) {
          batchS += dt
          if (advice.forall(_.isEmpty)) replayed += 1
          touched ++= advice.flatten
          filesWritten += Util.written(before, ctx.walk(stores))
        }
        // a warm-up batch reads once, enough to warm the read path
        val rs = (1 to (if (record) StreamLoop.ReadsPerCommit else 1)).map { i =>
          Util.time(ctx.op(s"read $i after batch $bid")(
            ctx.span(s"read $bid.$i", if (record) "read" else "warm-read")(read())))._2
        }
        if (record) readS ++= rs
        System.err.println(f"[perfbench] batch $bid: $dt%.3f s, reads " +
          rs.map(r => f"$r%.3f").mkString(" ") + " s")
        ctx.op(s"hygiene after batch $bid")(Util.drain(ctx.spark, s"batch $bid"))
        lastExit = System.nanoTime()
        if (record) asideS += (lastExit - entry) / 1e9 - dt
        else { warmS += (lastExit - entry) / 1e9; windowStart = lastExit }
    }
    drainS = (System.nanoTime() - windowStart) / 1e9
  }
}

object StreamLoop {
  /** Freshness reads after each measured commit: more samples for
    * `read_p50_s`. */
  val ReadsPerCommit = 3
}

object Workloads {
  val Damping = 0.8

  /** metric name -> (value, unit) */
  type Metrics = Map[String, (Double, String)]

  def all: Map[String, Ctx => Metrics] = Map(
    "pr_stream" -> PrStream.run,
    "corpus_stream" -> CorpusStream.run)

  def mb(bytes: Double): Double = bytes / (1024.0 * 1024.0)

  /** End-to-end metrics every workload reports. Two more go to the notes
    * only, being too noisy for the largest bound a metric may have (0.25)
    * on a shared 4-core machine: the batch-latency tail (at a few batches
    * per run no percentile has 10 samples beyond it; the maximum it falls
    * back to spread 0.28 over ten runs) and `base_s`, the set-up's one
    * from-scratch store build, which runs while the JVM is still warming. */
  def endToEnd(ctx: Ctx, setupS: Double, baseS: Double,
      batchS: Seq[Double], rowsPerS: Double, readS: Seq[Double],
      stores: Seq[String]): Map[String, (Double, String)] = {
    val (lv, tailV) = Util.tail(batchS)
    ctx.note(f"batch latency: n=${batchS.size} p50=${Util.median(batchS)}%.4f s " +
      f"tail=p$lv ($tailV%.4f s, ${batchS.count(_ > tailV)} samples above)")
    ctx.note(f"session start ${ctx.sessionS}%.3f s; base_s=$baseS%.4f s")
    Map(
      "setup_s" -> (ctx.sessionS + setupS, "s"),
      "batch_p50_s" -> (Util.median(batchS), "s"),
      "delta_rows_per_s" -> (rowsPerS, "rows/s"),
      "read_p50_s" -> (Util.median(readS), "s"),
      "store_mb" -> (mb(Util.bytes(stores).toDouble), "MB"),
      "peak_rss_mb" -> (Util.peakRssMb, "MB"))
  }

  /** Per-layer metrics over the measured batches, the reads and (for
    * the iterative layer) the base build. Per-batch values are means
    * over the batches, so the layers' busy times and `driver.only_s` add
    * up to the mean batch wall. That holds only if each op's jobs run
    * inside its span and no other job does: checked here. */
  def perLayer(ctx: Ctx, t: Tracer, writeKind: String,
      extra: Map[String, (Double, String)]): Map[String, (Double, String)] = {
    val w = t.ops(writeKind)
    val r = t.ops("read")
    val b = t.ops("base")
    val n = w.size.toDouble
    def per(f: Tracer.OpStats => Double): Double = w.map(f).sum / n
    // the iterative layer runs in the from-scratch base build
    val layerM = Seq(
      "core.iterative.jobs" -> (b.map(_.jobsIn("core.iterative")).sum.toDouble, "count"),
      "core.iterative.busy_s" -> (b.map(_.busyS.getOrElse("core.iterative", 0.0)).sum, "s")
    ) ++ Tracer.Layers.filter(_ != "core.iterative").flatMap { l =>
      val (jobsName, busyName) = l match {
        case "store.write" => ("store.write_jobs_per_batch", "store.write_busy_s")
        case other => (s"$other.jobs_per_batch", s"$other.busy_s")
      }
      Seq(jobsName -> (per(_.jobsIn(l).toDouble), "count"),
        busyName -> (per(_.busyS.getOrElse(l, 0.0)), "s"))
    } ++ Tracer.Mechanisms.filter(_ != "action").flatMap { m =>
      Seq(s"${m}_jobs_per_batch" -> (per(_.jobsVia(m).toDouble), "count"),
        s"${m}_busy_s" -> (per(_.busyMechS.getOrElse(m, 0.0)), "s"))
    }
    val tasks = w.map(_.sum(_.tasks)).sum
    val all = w ++ r ++ b
    val (clipped, foreign) = (all.map(_.clippedJobs).sum, all.map(_.foreignJobs).sum)
    System.err.println(f"[perfbench] trace: ${w.size} $writeKind ops, " +
      f"${r.size} reads, ${b.size} base builds, ${all.map(_.jobs.size).sum} jobs; " +
      f"$clipped run past their op's span, $foreign inside another op's; " +
      f"${t.fallbackJobs} attributed by time (stale span property)")
    ctx.check("trace: every op's jobs run inside its span and no other job does")(
      clipped == 0 && foreign == 0)
    (layerM ++ Seq(
      "driver.only_s" -> (per(_.driverOnlyS), "s"),
      "sched.jobs_per_batch" -> (per(_.jobs.size.toDouble), "count"),
      "sched.tasks_per_batch" -> (per(_.sum(_.tasks).toDouble), "count"),
      "sched.delay_s" -> (per(_.sum(_.schedDelayMs) / 1e3), "s"),
      "sched.empty_task_frac" ->
        (if (tasks == 0) 0.0 else w.map(_.sum(_.emptyTasks)).sum.toDouble / tasks,
          "ratio"),
      "sched.failed_tasks" ->
        ((w ++ r).map(_.sum(_.failedTasks)).sum.toDouble, "count"),
      "sql.plan_s" -> (per(_.planS), "s"),
      "sql.codegen_compiles" -> (per(_.codegenCompiles.toDouble), "count"),
      "sql.codegen_s" -> (per(_.codegenS), "s"),
      "store.read_busy_s" ->
        (if (r.isEmpty) 0.0 else r.map(_.busyS.values.sum).sum / r.size, "s"),
      "exec.run_s" -> (per(_.sum(_.runMs) / 1e3), "s"),
      "exec.cpu_s" -> (per(_.sum(_.cpuNs) / 1e9), "s"),
      "exec.deser_s" -> (per(_.sum(_.deserMs) / 1e3), "s"),
      "shuffle.write_mb" -> (per(o => mb(o.sum(_.shuffleWriteBytes).toDouble)), "MB"),
      "shuffle.read_mb" -> (per(o => mb(o.sum(_.shuffleReadBytes).toDouble)), "MB"),
      "shuffle.fetch_wait_s" -> (per(_.sum(_.fetchWaitMs) / 1e3), "s"),
      "shuffle.spill_mb" -> (per(o => mb(o.sum(_.spillBytes).toDouble)), "MB"),
      "jvm.gc_s" -> (per(_.gcS), "s"),
      "jvm.peak_heap_mb" -> (t.peakHeapAfterGcMb, "MB"))).toMap ++ extra
  }

  /** Per-layer metrics the stream loop measures itself. */
  def loopExtras(ctx: Ctx, loop: StreamLoop, stores: Seq[String],
      traceStartS: Double): Map[String, (Double, String)] = {
    val n = loop.batchS.size.toDouble
    val t = ctx.tracer.get
    Map(
      "streaming.trigger_gap_s" -> (Util.median(loop.gapS.toSeq), "s"),
      "streaming.replayed_batches" -> (loop.replayed.toDouble, "count"),
      "store.files_per_batch" -> (loop.filesWritten.map(_._1).sum / n, "count"),
      "store.mb_written_per_batch" ->
        (mb(loop.filesWritten.map(_._2).sum.toDouble) / n, "MB"),
      "store.touched_frac" -> (Util.mean(loop.touched.toSeq), "ratio"),
      "store.live_dirs" -> (Util.liveBucketDirs(stores).toDouble, "count"),
      "trace.overhead_pct" ->
        (100.0 * (t.inlineSeconds - traceStartS) / loop.drainS, "%"))
  }
}

/** The incremental half: a seeded edge-delta stream maintained into a
  * rank store and an edge store by `StreamMaintain.pageRankBatch`, with
  * a freshness read of sampled ranks after every commit. */
object PrStream {
  val Nodes = 5000L
  val BaseIterations = 2
  val BatchIterations = 2
  val Buckets = 16
  val RefBuckets = 4
  val Rewire = 50
  val Remove = 20
  /** Untimed warm-up batches leading the stream: the first batch of a
    * JVM takes about twice as long as the later ones, which still fall
    * by ~20% over the next few (on pr_stream about 6.0, 4.0, 3.3, then
    * 3.1 s). Each further warm-up batch costs ~5 s a run (its batch and
    * its step of the reference chain), and with two of them runs on a
    * loaded machine took ~70 s, too long for the evaluation's budget. */
  val WarmBatches = 1

  /** Batch count: fixed by --seconds, so the schedule (and every exact
    * per-batch count) repeats run to run; sized so the drain takes about
    * --seconds on a 4-core machine at the commit that defined it. */
  def batchesFor(seconds: Int): Int = math.max(3, math.round(seconds / 4.0).toInt)

  def run(ctx: Ctx): Workloads.Metrics = {
    val spark = ctx.spark
    def build(edgesPath: String, rank: String, edge: String): Unit =
      ctx.span("base build", "base") {
        val edges = spark.read.parquet(edgesPath)
        ctx.span("IncrementalPageRank.preserveTo", "call")(
          IncrementalPageRank.preserveTo(spark, rank, edges, Workloads.Damping,
            BaseIterations, numPartitions = ctx.cores, nBuckets = Buckets))
        ctx.span("IncrementalPageRank.initEdgeStore", "call")(
          IncrementalPageRank.initEdgeStore(spark, edge, edges, nBuckets = Buckets))
      }
    val sample = Gen.distinctLongs(Gen.rng(ctx.seed, 303), 100, Nodes)
    def loopOver(rank: String, edge: String) = new StreamLoop(ctx,
      Seq(rank, edge), Gen.EdgeDeltaSchema,
      (batch, bid) => Seq(StreamMaintain.pageRankBatch(spark, rank, edge, batch,
        bid, Workloads.Damping, BatchIterations, numPartitions = ctx.cores)
        .map(_.touchedFraction)),
      () => readRanks(spark, rank, sample))

    val (edgesPath, rank, edge) = (ctx.dir("edges"), ctx.dir("rank"), ctx.dir("edge"))
    val (buildS, setupS) = ctx.setup("setup") {
      Gen.graph(spark, Nodes, ctx.seed).write.parquet(edgesPath)
      Util.time(build(edgesPath, rank, edge))._2
    }

    // the warm-up batches lead the stream; the measured batches follow
    val batches = Gen.edgeBatches(Nodes, ctx.seed,
      WarmBatches + batchesFor(ctx.seconds), Rewire, Remove)
    val measured = batches.drop(WarmBatches)
    val (drop, stageS) = Util.time {
      val d = DeltaFiles.stage(batches.map(_.df(spark)))
      Util.drain(spark, "staging", gc = true); d
    }
    val loop = loopOver(rank, edge)
    ctx.phase("set-up done")
    val inline0 = ctx.tracer.map(_.inlineSeconds).getOrElse(0.0)
    try ctx.span("drain", "drain")(loop.run(drop, WarmBatches))
    catch { case e: Throwable => ctx.note(s"stream failed: $e") }
    val rows = measured.map(_.rows.size).sum.toDouble
    val e2e = Workloads.endToEnd(ctx, setupS + loop.warmS + stageS,
      buildS, loop.batchS.toSeq, rows / (loop.drainS - loop.asideS),
      loop.readS.toSeq, Seq(rank, edge))
    val traced = ctx.tracer.map(t => Workloads.perLayer(ctx, t, "batch",
      Workloads.loopExtras(ctx, loop, Seq(rank, edge), inline0))).getOrElse(Map.empty)

    ctx.phase("drain done")
    // untimed correctness: the same batches as a frame-fed incrementalSeg
    // chain on a second store with a different bucket count
    ctx.check(s"all ${batches.size} batches applied") {
      loop.batchS.size == measured.size &&
        SegmentedStateStore.openForRead(spark, rank).appliedBatch == batches.size - 1
    }
    val rank2 = ctx.dir("rank_ref")
    var graph = spark.read.parquet(edgesPath).select("src", "dst").localCheckpoint(true)
    def ranks(p: String): Map[Long, Double] =
      SegmentedStateStore.openForRead(spark, p).preserved.out.collect()
        .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // the reference store: a second base run from the same edges
    IncrementalPageRank.preserveTo(spark, rank2, graph, Workloads.Damping,
      BaseIterations, numPartitions = ctx.cores, nBuckets = RefBuckets)
    ctx.check("base run ranks == PageRank.runNaive (6 dp)") {
      val naive = PageRank.runNaive(graph, Workloads.Damping, BaseIterations)
      val want = naive.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
      naive.unpersist(blocking = true)
      val got = ranks(rank2)
      got.keySet == want.keySet &&
        got.forall { case (n, v) => math.abs(v - want(n)) < 5e-7 }
    }
    ctx.check("reference chain builds") {
      batches.foreach { b =>
        val chg = b.srcs.toSeq
        import spark.implicits._
        val next = graph.filter(!col("src").isin(chg: _*))
          .unionByName(b.upserts.toDF("src", "dst")).localCheckpoint(true)
        IncrementalPageRank.incrementalSeg(spark, rank2, next, chg.toDF("src"),
          Workloads.Damping, BatchIterations, numPartitions = ctx.cores)
          .unpersist(blocking = false)
        graph = next
      }
      true
    }
    ctx.check("stream ranks == incrementalSeg chain (1e-12)") {
      val (got, want) = (ranks(rank), ranks(rank2))
      got.keySet == want.keySet &&
        got.forall { case (n, v) => math.abs(v - want(n)) < 1e-12 }
    }
    ctx.check("edge store == PageRank.prepare(final graph)") {
      KeyedUpsertStore.rows(spark, edge).select("src", "dst", "deg").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet ==
        PageRank.prepare(graph).collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    }
    // the checks pin their own frames: release them, no leak check
    Util.drain(spark, "correctness checks", leakCheck = false)
    ctx.phase("checks done")
    if (ctx.tracer.isDefined) traced else e2e
  }

  def readRanks(spark: SparkSession, store: String, ids: Seq[Long]): Unit = {
    val got = SegmentedStateStore.openForRead(spark, store).preserved.out
      .filter(col("node").isin(ids: _*)).collect()
    require(got.nonEmpty, s"freshness read of ${ids.size} ranks returned nothing")
  }
}

/** The text-store half: a seeded document stream maintained into text
  * stores by `StreamMaintain.corpusBatch`, with probe reads after every
  * batch. */
object CorpusStream {
  val Docs = 1000L
  val Buckets = 16
  val Upserts = 20
  val Removes = 10
  /** Untimed warm-up batches leading the stream, as in [[PrStream]]. */
  val WarmBatches = PrStream.WarmBatches

  def batchesFor(seconds: Int): Int = PrStream.batchesFor(seconds)

  /** The store kinds maintained (`StreamMaintain.corpusBatch` kinds):
    * the near-dup clusters (connected components) and the bigram LM
    * counts. The dup-span store is left out for the time budget, and the
    * TF-IDF store because `corpusBatch` maintains it wrongly when an
    * upsert rewrites a live document (see README.md, "Known defect"). */
  val Kinds: Seq[String] = Seq("lmcounts", "dedupclusters")

  /** Build every store of `Kinds` over `docs`: (kind, path) pairs. */
  def build(spark: SparkSession, ctx: Ctx, docs: DataFrame, tag: String)
      : Seq[(String, String)] = Kinds.map { kind =>
    val p = ctx.dir(s"${kind}_$tag")
    kind match {
      case "lmcounts" => ctx.span("LmCountsStore.init", "call")(
        LmCountsStore.init(spark, p, docs, "doc_id", "text", nBuckets = Buckets))
      case "dedupclusters" => ctx.span("DedupClusterStore.init", "call")(
        DedupClusterStore.init(spark, p, docs, "doc_id", "text", maxHamming = 3,
          nBuckets = Buckets))
    }
    kind -> p
  }

  def lastBatch(spark: SparkSession, kind: String, p: String): Long = kind match {
    case "lmcounts" => LmCountsStore.lastBatch(spark, p)
    case "dedupclusters" => DedupClusterStore.lastBatch(spark, p)
  }

  def run(ctx: Ctx): Workloads.Metrics = {
    val spark = ctx.spark
    import spark.implicits._
    val base = Gen.corpus(Docs, ctx.seed)
    val sample = Gen.distinctLongs(Gen.rng(ctx.seed, 303), 100, Docs)
    // the LM probe: the sampled documents' base texts
    val probe = sample.map(id => id -> base(id.toInt)._2).toDF("doc_id", "text")
    def loopOver(stores: Seq[(String, String)]) = new StreamLoop(ctx,
      stores.map(_._2), Gen.DocDeltaSchema,
      (batch, bid) => {
        val a = StreamMaintain.corpusBatch(spark, stores, batch, bid)
        stores.map { case (k, _) => a.get(k).map(_.touchedFraction) }
      },
      () => {
        val at = stores.toMap
        at.get("dedupclusters").foreach(cp =>
          ctx.span("DedupClusterStore.clusters", "call")(
            require(DedupClusterStore.clusters(spark, cp)
              .filter(col("id").isin(sample: _*)).collect().nonEmpty,
              "cluster probe read returned nothing")))
        at.get("lmcounts").foreach(lp =>
          ctx.span("LmCountsStore.scoreAgainst", "call")(
            require(LmCountsStore.scoreAgainst(spark, lp, probe, "doc_id", "text")
              .collect().length == sample.size, "LM probe read lost documents")))
      })
    def dirsOf(s: Seq[(String, String)]) = s.map(_._2)

    val ((stores, buildS), setupS) = ctx.setup("setup") {
      val docsPath = ctx.dir("docs")
      base.toDF("doc_id", "text").write.parquet(docsPath)
      Util.time(ctx.span("base build", "base")(
        build(spark, ctx, spark.read.parquet(docsPath), "live")))
    }

    // the warm-up batches lead the stream; the measured batches follow
    val (batches, finalCorpus) = Gen.docBatches(base, ctx.seed,
      WarmBatches + batchesFor(ctx.seconds), Upserts, Removes)
    val measured = batches.drop(WarmBatches)
    val (drop, stageS) = Util.time {
      val d = DeltaFiles.stage(batches.map(_.df(spark)))
      Util.drain(spark, "staging", gc = true); d
    }
    val loop = loopOver(stores)
    ctx.phase("set-up done")
    val inline0 = ctx.tracer.map(_.inlineSeconds).getOrElse(0.0)
    try ctx.span("drain", "drain")(loop.run(drop, WarmBatches))
    catch { case e: Throwable => ctx.note(s"stream failed: $e") }
    val rows = measured.map(_.rows.size).sum.toDouble
    val e2e = Workloads.endToEnd(ctx, setupS + loop.warmS + stageS,
      buildS, loop.batchS.toSeq, rows / (loop.drainS - loop.asideS),
      loop.readS.toSeq, dirsOf(stores))
    val traced = ctx.tracer.map(t => Workloads.perLayer(ctx, t, "batch",
      Workloads.loopExtras(ctx, loop, dirsOf(stores), inline0))).getOrElse(Map.empty)

    ctx.phase("drain done")
    // untimed correctness: each store equals a twin built fresh on the
    // final corpus (the StreamingSpec `readingsOf` pattern)
    ctx.check(s"all ${batches.size} batches applied") {
      loop.batchS.size == measured.size && stores.forall { case (k, p) =>
        lastBatch(spark, k, p) == batches.size - 1 }
    }
    val finalDocs = finalCorpus.toDF("doc_id", "text")
    val fresh = build(spark, ctx, finalDocs, "fresh")
    stores.zip(fresh).foreach { case ((kind, p), (_, twin)) =>
      ctx.check(s"$kind store == twin built on the final corpus") {
        val (got, want) = (reading(spark, kind, p, finalDocs),
          reading(spark, kind, twin, finalDocs))
        got.nonEmpty && got.keySet == want.keySet &&
          got.forall { case (k, v) => close(v, want(k)) }
      }
    }
    // the checks pin their own frames: release them, no leak check
    Util.drain(spark, "correctness checks", leakCheck = false)
    ctx.phase("checks done")
    if (ctx.tracer.isDefined) traced else e2e
  }

  /** Read-out of a store, keyed by document: its cluster, or its
    * bigram count and mean NLL scored against the store's model (the
    * StreamingSpec `readingsOf` pattern, scoring the whole final corpus
    * rather than one probe document). */
  def reading(spark: SparkSession, kind: String, p: String, docs: DataFrame)
      : Map[Long, Seq[Double]] = {
    val df = kind match {
      case "lmcounts" => LmCountsStore.scoreAgainst(spark, p, docs, "doc_id", "text")
        .selectExpr("doc_id", "cast(nb as double)", "avg_nll")
      case "dedupclusters" => DedupClusterStore.clusters(spark, p)
        .selectExpr("id", "cast(comp as double)")
    }
    val rows = df.collect()
    val byDoc = rows.map(r => r.getLong(0) -> (1 until r.size).map(r.getDouble)).toMap
    require(byDoc.size == rows.length, s"$kind read-out repeats a document")
    byDoc
  }

  /** Equal readings: `avg_nll` is rounded to 6 decimal places after a
    * floating-point sum whose order follows the store's file layout, so
    * one unit in the last place is allowed. */
  def close(a: Seq[Double], b: Seq[Double]): Boolean =
    a.size == b.size && a.zip(b).forall { case (x, y) => math.abs(x - y) <= 1.5e-6 }
}
