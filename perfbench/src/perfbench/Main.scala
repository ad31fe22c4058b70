package perfbench

import org.apache.spark.sql.SparkSession

/** One benchmark run: one workload, one seed, in one JVM on
  * `local[<cores>]`. Prints the result as the last stdout line:
  * `{"correct":…,"attempted":…,"failed":…,"metrics":{name:{value,unit}}}`
  * — end-to-end metrics untraced (`--trace 0`), per-layer metrics from a
  * traced run (`--trace 1`). Everything else goes to stderr and to
  * `<out>/<workload>-seed<seed>-trace<t>.json`.
  *
  * Usage: perfbench.Main --workload <name> --seed <n> --seconds <s>
  *   --trace <0|1> --work <dir> --out <dir> [--cores <n>]
  */
object Main {
  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = args("workload")
    val run = Workloads.all.getOrElse(workload, sys.error(
      s"unknown workload '$workload' (${Workloads.all.keys.toSeq.sorted.mkString(", ")})"))
    val seed = args("seed").toLong
    val seconds = args("seconds").toInt
    val trace = args("trace") == "1"
    val cores = args.get("cores").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors())
    val work = new java.io.File(args("work"))
    val out = new java.io.File(args("out"))
    out.mkdirs()

    val canaryStart = Util.canary()
    // deep call sites: the default 20 frames stop short of the graft
    // frames under the SQL and streaming machinery
    sys.props("spark.callstack.depth") = "80"
    val (spark, sessionS) = Util.time {
      val s = SparkSession.builder()
        .master(s"local[$cores]")
        .config("spark.sql.shuffle.partitions", cores.toString)
        .config("spark.ui.enabled", "false")
        .config("spark.local.dir", new java.io.File(work, "spark-local").getPath)
        .config("spark.sql.warehouse.dir", new java.io.File(work, "warehouse").getPath)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.codegen.cache.maxEntries", "5000")
        .getOrCreate()
      s.sparkContext.setLogLevel("WARN")
      graft.util.LogQuiet()
      s
    }
    val tracer = if (trace) Some(new Tracer(spark)) else None
    val ctx = new Ctx(spark, seed, seconds, cores, work.getPath, tracer, sessionS)

    val (metrics, error) =
      try (run(ctx), None)
      catch { case e: Throwable =>
        e.printStackTrace()
        ctx.failed += 1; ctx.attempted += 1
        (Map.empty[String, (Double, String)], Some(e.toString))
      }
    tracer.foreach { t =>
      t.dumpJobs(new java.io.File(out, s"$workload-seed$seed-jobs.tsv"))
      t.close()
    }
    val canaryEnd = Util.canary()
    val correct = ctx.failed == 0 && error.isEmpty

    def num(d: Double): String =
      if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    def str(s: String): String = "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
    val metricsJson = metrics.toSeq.sortBy(_._1).map { case (k, (v, u)) =>
      s"${str(k)}:{\"value\":${num(v)},\"unit\":${str(u)}}"
    }.mkString("{", ",", "}")
    val result = s"""{"correct":$correct,"attempted":${ctx.attempted},""" +
      s""""failed":${ctx.failed},"metrics":$metricsJson}"""
    val detail = s"""{"workload":${str(workload)},"seed":$seed,"seconds":$seconds,""" +
      s""""trace":$trace,"cores":$cores,"error_rate":""" +
      num(ctx.failed.toDouble / math.max(1L, ctx.attempted)) +
      s""","canary_s":{"start":${num(canaryStart)},"end":${num(canaryEnd)}},""" +
      s""""notes":${ctx.notesSeq.map(str).mkString("[", ",", "]")},""" +
      s""""result":$result}"""
    val f = new java.io.File(out, s"$workload-seed$seed-trace${if (trace) 1 else 0}.json")
    java.nio.file.Files.write(f.toPath, detail.getBytes("UTF-8"))
    System.err.println(s"[perfbench] canary start=${num(canaryStart)} s end=${num(canaryEnd)} s; " +
      s"error_rate=${ctx.failed}/${ctx.attempted}; details in $f")
    spark.stop()
    println(result)
    System.out.flush()
    // a run that ends reports failed checks in its result; only a run
    // that could not finish exits non-zero
    sys.exit(if (error.isEmpty) 0 else 1)
  }
}
