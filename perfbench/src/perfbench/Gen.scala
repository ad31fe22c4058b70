package perfbench

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Seeded input generators and fixed delta schedules. Every input the
  * engine sees is a pure function of (seed, sizes): the same seed gives
  * byte-identical parquet inputs and the same micro-batch sequence. */
object Gen {

  /** splitmix64 finalizer: a well-mixed 64-bit hash of `x`. */
  def mix(x: Long): Long = {
    var z = x + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  def hash(seed: Long, parts: Long*): Long =
    parts.foldLeft(mix(seed))((h, p) => mix(h ^ p))

  def rng(seed: Long, parts: Long*): java.util.SplittableRandom =
    new java.util.SplittableRandom(hash(seed, parts: _*))

  // ---- graphs ------------------------------------------------------------

  /** Standard-normal-ish value per id: Irwin–Hall mean of four seeded
    * uniform hashes, rescaled to unit variance. */
  private def zApprox(id: Column, seed: Long): Column = {
    val us = (1 to 4).map { k =>
      pmod(xxhash64(id, lit(seed), lit(k)), lit(1000000007L))
        .cast("double") / 1000000007.0
    }
    (us.reduce(_ + _) - 2.0) * math.sqrt(3.0)
  }

  /** Power-law edge list with the `Generators.graphTyped("pg")` shape:
    * out-degree ceil(lognormal(-1, 2.3)) capped at n/2, destinations
    * uniform, self-loops dropped. Columns (src, dst). */
  def graph(spark: SparkSession, n: Long, seed: Long): DataFrame =
    spark.range(n).select(col("id").as("src"))
      .withColumn("deg", least(ceil(exp(lit(-1.0) + lit(2.3) *
        zApprox(col("src"), seed))), lit(n / 2)).cast("int"))
      .select(col("src"), explode(sequence(lit(1), col("deg"))).as("k"))
      .select(col("src"),
        pmod(xxhash64(col("src"), col("k"), lit(seed + 1)), lit(n)).as("dst"))
      .filter(col("src") =!= col("dst"))
      .distinct()

  val EdgeDeltaSchema: StructType = StructType(Seq(
    StructField("src", LongType), StructField("dst", LongType),
    StructField("op", StringType)))

  /** One micro-batch of the PageRank delta stream: every 4th batch
    * removes `removeSrcs` sources (op "D"); the others rewire
    * `rewireSrcs` sources, each to 1-4 fresh destinations (op "U"). */
  final case class EdgeBatch(rows: Seq[(Long, Option[Long], String)]) {
    def srcs: Set[Long] = rows.map(_._1).toSet
    def upserts: Seq[(Long, Long)] =
      rows.collect { case (s, Some(d), "U") => (s, d) }
    def df(spark: SparkSession): DataFrame = {
      import scala.jdk.CollectionConverters._
      spark.createDataFrame(rows.map { case (s, d, op) =>
        Row(s, d.map(Long.box).orNull, op) }.asJava, EdgeDeltaSchema)
    }
  }

  def edgeBatches(n: Long, seed: Long, count: Int, rewireSrcs: Int,
      removeSrcs: Int): Seq[EdgeBatch] =
    (0 until count).map { i =>
      val r = rng(seed, 101, i)
      val removal = i % 4 == 3
      val srcs = distinctLongs(r, if (removal) removeSrcs else rewireSrcs, n)
      EdgeBatch(srcs.flatMap { s =>
        if (removal) Seq((s, None, "D"))
        else {
          val dsts = distinctLongs(r, 1 + r.nextInt(4), n).filter(_ != s)
          (if (dsts.isEmpty) Seq((s + 1) % n) else dsts)
            .map(d => (s, Some(d), "U"))
        }
      })
    }

  /** `k` distinct longs uniform in [0, n), in draw order. */
  def distinctLongs(r: java.util.SplittableRandom, k: Int, n: Long): Seq[Long] = {
    val seen = scala.collection.mutable.LinkedHashSet.empty[Long]
    while (seen.size < math.min(k.toLong, n)) seen += r.nextLong(n)
    seen.toSeq
  }

  // ---- document corpus ---------------------------------------------------

  /** ~30-word vocabulary, the size of the sf documents table's. */
  private val Vocab = Vector("spark", "line", "column", "order", "small",
    "sort", "fast", "value", "scan", "hash", "slow", "group", "batch",
    "query", "agg", "table", "key", "stream", "window", "join", "part",
    "filter", "merge", "big", "the", "a", "data", "customer", "vector",
    "grid")

  private def word(seed: Long, parts: Long*): String =
    Vocab(java.lang.Math.floorMod(hash(seed, parts: _*), Vocab.size.toLong).toInt)

  /** Text of the document with content id `gid`: 8-79 tokens. */
  def textOf(seed: Long, gid: Long): String = {
    val ntok = 8 + java.lang.Math.floorMod(hash(seed, gid, 7), 72L).toInt
    (0 until ntok).map(j => word(seed, gid, j, 5)).mkString(" ")
  }

  /** `text` with its first token replaced: a near-duplicate. */
  def nearDup(seed: Long, text: String, salt: Long): String = {
    val toks = text.split(" ")
    (word(seed, salt, 13) +: toks.drop(1)).mkString(" ")
  }

  /** Base corpus with the `ScaleBench.genDocs` shape: every id%10==9
    * document is a near-duplicate of id-1 (first token differs), every
    * id%100==50 document an exact duplicate of id-7. */
  def corpus(n: Long, seed: Long): Seq[(Long, String)] =
    (0L until n).map { id =>
      if (id % 10 == 9) id -> nearDup(seed, textOf(seed, id - 1), id)
      else if (id % 100 == 50) id -> textOf(seed, id - 7)
      else id -> textOf(seed, id)
    }

  val DocDeltaSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType),
    StructField("op", StringType)))

  final case class DocBatch(rows: Seq[(Long, Option[String], String)]) {
    def df(spark: SparkSession): DataFrame = {
      import scala.jdk.CollectionConverters._
      spark.createDataFrame(rows.map { case (id, t, op) =>
        Row(id, t.orNull, op) }.asJava, DocDeltaSchema)
    }
  }

  /** Document stream over the corpus: every 4th batch removes `removes`
    * live documents; the others upsert `upserts` documents — a third
    * rewrite live documents under their own ids, a third bring back ids
    * removed by an earlier batch (new ids while none are gone), the rest
    * arrive under new ids — with texts drawn as fresh content,
    * near-duplicates or exact duplicates of a live document. Returns
    * the batches and the final corpus they leave. */
  def docBatches(base: Seq[(Long, String)], seed: Long, count: Int,
      upserts: Int, removes: Int): (Seq[DocBatch], Seq[(Long, String)]) = {
    val live = scala.collection.mutable.LinkedHashMap(base: _*)
    val gone = scala.collection.mutable.ArrayBuffer.empty[Long]
    var nextId = base.map(_._1).max + 1
    val batches = (0 until count).map { i =>
      val r = rng(seed, 202, i)
      def pickLive(k: Int): Seq[Long] = {
        val ids = live.keysIterator.toIndexedSeq
        distinctLongs(r, k, ids.size.toLong).map(j => ids(j.toInt))
      }
      if (i % 4 == 3) {
        val out = pickLive(removes)
        out.foreach(live.remove)
        gone ++= out
        DocBatch(out.map(id => (id, None, "D")))
      } else {
        val rewrite = pickLive(upserts / 3)
        val back = gone.take(upserts / 3).toSeq
        gone --= back
        val ids = rewrite ++ back ++
          (rewrite.size + back.size until upserts).map { _ => nextId += 1; nextId - 1 }
        val rows = ids.map { id =>
          val donor = pickLive(1).head
          val text = r.nextInt(3) match {
            case 0 => textOf(seed,
              1000000L + java.lang.Math.floorMod(hash(seed, i, id), 1000000L))
            case 1 => nearDup(seed, live(donor), hash(seed, i, id, 3))
            case _ => live(donor)
          }
          (id, text)
        }
        rows.foreach { case (id, t) => live(id) = t }
        DocBatch(rows.map { case (id, t) => (id, Some(t), "U") })
      }
    }
    (batches, live.toSeq)
  }
}
