package perfbench

import java.io.File

import org.apache.spark.sql.SparkSession

/** Storage hygiene, store-directory walks, memory and load readings,
  * and the order statistics the metrics use. */
object Util {

  def time[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }

  // ---- storage hygiene ---------------------------------------------------

  /** Cached / checkpointed RDD partitions still held by the block manager. */
  def residualBlocks(spark: SparkSession): Int =
    spark.sparkContext.getRDDStorageInfo.map(_.numCachedPartitions).sum

  /** The `Bench.drainStorage` pattern: drop catalog caches and every
    * persistent RDD (local checkpoints included), then require the
    * block manager to read 0 cached partitions. A leak fails the op
    * loudly instead of slowing the ops after it. Releases the engine
    * issued asynchronously get `graceMs` to land first. */
  def drain(spark: SparkSession, what: String, gc: Boolean = false,
      graceMs: Long = 2000L, leakCheck: Boolean = true): Unit = {
    val deadline = System.currentTimeMillis() + graceMs
    var held = if (leakCheck) residualBlocks(spark) else 0
    while (held > 0 && System.currentTimeMillis() < deadline) {
      Thread.sleep(5); held = residualBlocks(spark)
    }
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = true))
    if (gc) System.gc()
    if (held > 0)
      throw new IllegalStateException(
        s"storage leak after $what: $held cached partitions still held " +
          s"${graceMs} ms after the op returned")
  }

  // ---- directories -------------------------------------------------------

  def deleteRec(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles).toSeq.flatten.foreach(deleteRec)
    f.delete(); ()
  }

  def files(root: File): Seq[File] =
    if (!root.exists) Nil
    else if (root.isFile) Seq(root)
    else Option(root.listFiles).toSeq.flatten.sortBy(_.getName).flatMap(files)

  def bytes(roots: Seq[String]): Long =
    roots.flatMap(r => files(new File(r))).map(_.length).sum

  /** path -> (size, mtime) for every file under `roots`. */
  def snapshot(roots: Seq[String]): Map[String, (Long, Long)] =
    roots.flatMap(r => files(new File(r)))
      .map(f => f.getPath -> (f.length, f.lastModified)).toMap

  /** Files written between two snapshots: (count, bytes). */
  def written(before: Map[String, (Long, Long)],
      after: Map[String, (Long, Long)]): (Int, Long) = {
    val fresh = after.filter { case (p, v) => !before.get(p).contains(v) }
    (fresh.size, fresh.values.map(_._1).sum)
  }

  /** Live bucket directories (`_b=<n>`) of the stores, outside the
    * retired-epoch and staging areas. */
  def liveBucketDirs(roots: Seq[String]): Int = {
    def walk(d: File): Int =
      if (!d.isDirectory || d.getName.startsWith("seg_")) 0
      else (if (d.getName.startsWith("_b=")) 1 else 0) +
        Option(d.listFiles).toSeq.flatten.map(walk).sum
    roots.map(r => walk(new File(r))).sum
  }

  // ---- process readings --------------------------------------------------

  /** Peak resident set of this JVM (`VmHWM`), MB. */
  def peakRssMb: Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(Double.NaN)
    finally src.close()
  }

  /** The `Bench` CPU canary: a fixed single-threaded register loop. Its
    * time rises with ambient load on the machine; informational only. */
  def canary(): Double = {
    val t0 = System.nanoTime()
    var x = 0x9E3779B97F4A7C15L
    var i = 0
    while (i < (1 << 26)) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1 }
    if (x == 42L) System.err.println("[perfbench] canary fixed point")
    (System.nanoTime() - t0) / 1e9
  }

  // ---- order statistics --------------------------------------------------

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  /** The highest whole-percent level with at least 10 samples strictly
    * above its value (nearest-rank), as (level, value); with 10 or fewer
    * samples no level qualifies and the maximum is reported as level 100. */
  def tail(xs: Seq[Double]): (Int, Double) = {
    val s = xs.sorted
    val n = s.size
    if (n <= 10) (100, s.last)
    else {
      // nearest rank r = ceil(p/100 * n); samples above it = n - r
      val lv = (99 to 1 by -1).find(p => n - math.ceil(p / 100.0 * n).toInt >= 10)
        .getOrElse(1)
      (lv, s(math.ceil(lv / 100.0 * n).toInt - 1))
    }
  }
}
