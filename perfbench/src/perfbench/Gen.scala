package perfbench

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** Seeded input generators. Every value is a pure function of
  * (seed, index), so the same seed gives the same lake, batches, key
  * lists and corpus, and the driver can recompute the expected rows of
  * any key without reading the lake back. The library only ever sees
  * the generated DataFrames. */
object Gen {

  /** splitmix64 finalizer: a well-mixed 64-bit hash of one long. */
  def mix(a: Long): Long = {
    var z = a + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  def h(seed: Long, a: Long, b: Long = 0L): Long = mix(mix(mix(seed) ^ a) ^ b)

  def below(x: Long, n: Int): Int = java.lang.Math.floorMod(x, n.toLong).toInt

  // ── lineitem ──────────────────────────────────────────────────────

  /** The TPC-H-like lineitem schema of the repo's test data. */
  val lineitemSchema: StructType = StructType(Seq(
    StructField("l_orderkey", LongType, nullable = false),
    StructField("l_partkey", LongType, nullable = false),
    StructField("l_suppkey", LongType, nullable = false),
    StructField("l_linenumber", IntegerType, nullable = false),
    StructField("l_quantity", DoubleType, nullable = false),
    StructField("l_extendedprice", DoubleType, nullable = false),
    StructField("l_discount", DoubleType, nullable = false),
    StructField("l_tax", DoubleType, nullable = false),
    StructField("l_returnflag", StringType, nullable = false),
    StructField("l_linestatus", StringType, nullable = false),
    StructField("l_shipdate", TimestampType, nullable = false)))

  /** Order keys are multiples of 4: the other residues inside the
    * domain are absent keys that still land inside some file's range. */
  def keyOf(order: Long): Long = order * 4L

  val ShipBaseMs: Long = 788918400000L // 1995-01-01T00:00:00Z
  val ShipDays: Int = 2500
  private val DayMs = 86400000L

  def shipdate(day: Int): Timestamp = new Timestamp(ShipBaseMs + day * DayMs)

  private val ReturnFlags = Array("A", "N", "R")
  private val LineStatuses = Array("O", "F")
  private val Langs = Array("en", "de", "fr", "zh", "es")

  /** The 1..7 lines of one order, about 4 on average. */
  def linesOf(seed: Long, order: Long): Array[Row] = {
    val n = 1 + below(h(seed, order, 0x11L), 7)
    Array.tabulate(n) { i =>
      val r = h(seed, order, i + 1L)
      val r2 = mix(r)
      val qty = 1 + below(r, 50)
      Row(keyOf(order), 1L + below(r >>> 8, 20000), 1L + below(r >>> 24, 1000), i + 1,
        qty.toDouble, (qty * (900 + below(r2, 100000))) / 100.0,
        below(r2 >>> 20, 11) / 100.0, below(r2 >>> 28, 9) / 100.0,
        ReturnFlags(below(r2 >>> 36, 3)), LineStatuses(below(r2 >>> 40, 2)),
        shipdate(below(r2 >>> 44, ShipDays)))
    }
  }

  /** Lineitem rows of the orders [from, until), generated on the executors. */
  def lineitem(spark: SparkSession, seed: Long, from: Long, until: Long,
               slices: Int): DataFrame = {
    val rdd = spark.sparkContext.range(from, until, 1L, slices).flatMap(o => linesOf(seed, o))
    spark.createDataFrame(rdd, lineitemSchema)
  }

  /** The same rows built on the driver, as a local relation: an ingest
    * client hands the library a batch it already holds. */
  def lineitemLocal(spark: SparkSession, seed: Long, from: Long, until: Long): (DataFrame, Seq[Row]) = {
    val rows = (from until until).flatMap(o => linesOf(seed, o))
    val jrows = new java.util.ArrayList[Row](rows.size)
    rows.foreach(jrows.add)
    (spark.createDataFrame(jrows, lineitemSchema), rows)
  }

  // ── documents ─────────────────────────────────────────────────────

  val Vocab: Array[String] = ("a the batch part spark line column order small sort fast value " +
    "scan hash slow group agg filter query big key window row table stream merge data " +
    "vector customer join index page file commit log shard node lake text token word " +
    "model train eval score rank").split(" ")

  val docSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType, nullable = false),
    StructField("text", StringType, nullable = false),
    StructField("lang", StringType, nullable = false),
    StructField("source", StringType, nullable = false)))

  def docText(seed: Long, i: Long): String = {
    val n = 20 + below(h(seed, i, 0xD0CL), 80)
    val sb = new java.lang.StringBuilder()
    var j = 0
    while (j < n) {
      if (j > 0) sb.append(' ')
      sb.append(Vocab(below(h(seed, i, 0x1000L + j), Vocab.length)))
      j += 1
    }
    sb.toString
  }

  /** About 5% of base docs get an exact twin under the fresh id
    * `nDocs + i`. */
  def hasTwin(seed: Long, i: Long): Boolean = below(h(seed, i, 0x7717L), 20) == 0

  def twinsOf(seed: Long, nDocs: Long): Seq[(Long, Long)] =
    (0L until nDocs).filter(hasTwin(seed, _)).map(i => (i, nDocs + i))

  private def docRows(seed: Long, nDocs: Long, i: Long): Seq[Row] = {
    val text = docText(seed, i)
    val lang = Langs(below(h(seed, i, 0x1A1L), Langs.length))
    val src = "src" + below(h(seed, i, 0x5C5L), 20)
    val base = Row(i, text, lang, src)
    if (hasTwin(seed, i)) Seq(base, Row(nDocs + i, text, lang, src)) else Seq(base)
  }

  /** `nDocs` base docs plus their planted twins. */
  def documents(spark: SparkSession, seed: Long, nDocs: Long, slices: Int): DataFrame = {
    val rdd = spark.sparkContext.range(0L, nDocs, 1L, slices).flatMap(i => docRows(seed, nDocs, i))
    spark.createDataFrame(rdd, docSchema)
  }
}
