package freshbench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** Seeded, position-addressable randomness: every draw is a pure function of
  * (seed, stream, a, b), so the generator and the closed-form oracles agree
  * on every value without sharing state. SplitMix64 finalizer. */
object Mix {
  private def fin(x: Long): Long = {
    var z = x + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
  def hash(seed: Long, stream: Long, a: Long, b: Long = 0L): Long =
    fin(fin(fin(fin(seed) ^ stream) ^ a) ^ b)
  /** Uniform in [0, n). */
  def below(n: Long, seed: Long, stream: Long, a: Long, b: Long = 0L): Long =
    java.lang.Math.floorMod(hash(seed, stream, a, b), n)
  def unit(seed: Long, stream: Long, a: Long, b: Long = 0L): Double =
    (hash(seed, stream, a, b) >>> 11).toDouble / (1L << 53).toDouble
}

/** One version of a cell: the `STRUCT<ts, value>` element of a cell column. */
final case class Version(ts: Long, value: Double)

/** A seeded entity table: `entity_id` 0 until n plus `cells` group-family
  * cells `g_c<i>`, each holding 1 to 3 versions, newest first. Values are
  * integers in [0, 1000) stored as doubles, so every expression scorer's
  * result is exact in double arithmetic. Cell i's newest age is uniform in
  * [1, R_i] with R_i = L_i / (1 - staleShare), so `ShelfLife(L_i)` marks a
  * `staleShare` of the rows stale. */
final class EntityTable(val seed: Long, val n: Int, val cells: Int,
    val staleShare: Double, val asOf: Long) {
  val shelfLifeMs: Array[Long] = Array.tabulate(cells)(i => (i + 1) * 3600000L)
  def flat(i: Int): String = s"g_c$i"

  /** versions(id)(cell), newest first with strictly decreasing ts. */
  val versions: Array[Array[Array[Version]]] = Array.tabulate(n) { id =>
    Array.tabulate(cells) { c =>
      val k = 1 + Mix.below(3, seed, 11, id, c).toInt
      val range = math.round(shelfLifeMs(c) / (1.0 - staleShare))
      var ts = asOf - 1 - Mix.below(range, seed, 12, id, c)
      Array.tabulate(k) { v =>
        if (v > 0) ts -= 1 + Mix.below(3600000L, seed, 13, id, c * 8 + v)
        Version(ts, Mix.below(1000, seed, 14, id, c * 8 + v).toDouble)
      }
    }
  }

  /** `ShelfLife` semantics: fresh iff the cell has values and
    * asOf - newest ts <= shelf life. */
  def stale(id: Int, c: Int): Boolean = {
    val vs = versions(id)(c)
    vs.isEmpty || asOf - vs.head.ts > shelfLifeMs(c)
  }

  val cellType: ArrayType = ArrayType(StructType(Seq(
    StructField("ts", LongType, nullable = false),
    StructField("value", DoubleType, nullable = true))))
  val schema: StructType = StructType(
    StructField("entity_id", LongType, nullable = false) +:
      (0 until cells).map(c => StructField(flat(c), cellType, nullable = true)))

  def frame(spark: SparkSession, partitions: Int): DataFrame = {
    val rows = (0 until n).map { id =>
      Row.fromSeq(id.toLong +: versions(id).toSeq.map(_.toSeq.map(v => Row(v.ts, v.value))))
    }
    spark.createDataFrame(spark.sparkContext.parallelize(rows, partitions), schema)
  }
}

/** A seeded corpus of lowercase alphanumeric words separated by single
  * spaces. Documents at index >= 1 are, with probability `copyShare`, a
  * near-copy of a uniformly drawn earlier original document with 1 to
  * `maxSubs` word positions substituted (a substitution may redraw the same
  * word). Copying only originals keeps every near-dup cluster a star around
  * its source, so the components' diameter, and with it the number of
  * label-propagation rounds, does not depend on the seed. */
final class Corpus(val seed: Long, val n: Int, val vocab: Int,
    val copyShare: Double, val maxSubs: Int) {
  private val alphabet = "abcdefghijklmnopqrstuvwxyz0123456789"
  val words: Array[String] = Array.tabulate(vocab) { w =>
    val len = 3 + Mix.below(6, seed, 21, w).toInt
    (0 until len).map(i => alphabet(Mix.below(alphabet.length, seed, 22, w, i).toInt)).mkString
  }
  /** source(i) = Some(earlier original) for planted near-copies. */
  val source: Array[Option[Int]] = {
    val originals = scala.collection.mutable.ArrayBuffer.empty[Int]
    Array.tabulate(n) { i =>
      if (i > 0 && Mix.unit(seed, 23, i) < copyShare)
        Some(originals(Mix.below(originals.length, seed, 24, i).toInt))
      else { originals += i; None }
    }
  }
  val tokens: Array[Array[String]] = {
    val out = new Array[Array[String]](n)
    for (i <- 0 until n) out(i) = source(i) match {
      case Some(s) =>
        val t = out(s).clone()
        val subs = 1 + Mix.below(maxSubs, seed, 25, i).toInt
        for (k <- 0 until subs)
          t(Mix.below(t.length, seed, 26, i, k).toInt) =
            words(Mix.below(vocab, seed, 27, i, k).toInt)
        t
      case None =>
        val len = 20 + Mix.below(40, seed, 28, i).toInt
        Array.tabulate(len)(k => words(Mix.below(vocab, seed, 29, i, k).toInt))
    }
    out
  }
  def text(i: Int): String = tokens(i).mkString(" ")

  val schema: StructType = StructType(Seq(
    StructField("doc_id", LongType, nullable = false),
    StructField("text", StringType, nullable = false)))
  def frame(spark: SparkSession, partitions: Int): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(
      (0 until n).map(i => Row(i.toLong, text(i))), partitions), schema)
}
