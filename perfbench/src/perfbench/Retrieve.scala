package perfbench

import java.sql.Timestamp

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.lake.{Clause, ClusteredWriter, Lakeshack, Metastore}

/** Zone-map-pruned retrieval through `Lakeshack.fromStats(...).query`,
  * collected to the driver. Closed loop, one client. */
object Retrieve extends Workload {
  val name = "retrieve"

  val NOrders = 100000L // about 400k rows
  val NFiles = 64
  val SetupReps = 3
  val PlanSize = 1000
  /** Untimed reads on the cold build before the timed set-ups. */
  val WarmReads = 60
  /** Reads every run makes, however fast; count-type metrics are taken
    * over the traced reads among these, so they repeat for one seed. A
    * run ends on a whole block of the mix. */
  val MinReads = 40
  val Projection = Seq("l_orderkey", "l_partkey", "l_quantity", "l_extendedprice")

  final case class Q(id: Int, kind: String, keys: Seq[Long], shipFrom: Option[Timestamp],
                     cols: Option[Seq[String]]) {
    def clauses: Seq[Clause] = shipFrom.map(t => Clause("l_shipdate", ">=", t)).toSeq
  }

  /** One block of the mix: 12 single present keys (60%), 5 reads of 16
    * keys spread over the domain with a 4-column projection (25%), 2
    * single keys with a shipdate lower bound (10%), 1 absent key inside
    * the domain (5%). Every block holds this mix exactly, so runs of a
    * whole number of blocks compare like with like across seeds. */
  val Block: Seq[String] = Seq.fill(12)("point") ++ Seq.fill(5)("multi") ++
    Seq.fill(2)("point_date") :+ "absent"

  /** The seeded query plan over a lake of `nOrders` orders: blocks of
    * the mix, each in a seeded order, with seeded keys and bounds. */
  def plan(seed: Long, nOrders: Long, size: Int): Seq[Q] = {
    val r = new java.util.Random(Gen.mix(seed ^ 0x5E7L))
    def order(): Long = (r.nextDouble() * nOrders).toLong
    val kinds = (0 until size / Block.size).flatMap { _ =>
      val b = Block.toArray
      for (i <- b.indices.reverse) { val j = r.nextInt(i + 1); val t = b(i); b(i) = b(j); b(j) = t }
      b.toSeq
    }
    kinds.zipWithIndex.map {
      case ("point", i) => Q(i, "point", Seq(Gen.keyOf(order())), None, None)
      case ("multi", i) =>
        val stride = nOrders / 16
        val keys = (0 until 16).map(s => Gen.keyOf(s * stride + (r.nextDouble() * stride).toLong))
        Q(i, "multi", keys, None, Some(Projection))
      case ("point_date", i) =>
        Q(i, "point_date", Seq(Gen.keyOf(order())), Some(Gen.shipdate(r.nextInt(Gen.ShipDays))), None)
      case (_, i) => Q(i, "absent", Seq(Gen.keyOf(order()) + 1 + r.nextInt(3)), None, None)
    }
  }

  final case class Truth(hash: (Int, Seq[Int]), files: Int)

  /** Expected results of every planned query from ONE unpruned plain
    * read of the lake: per query, the multiset hash of its projected
    * rows and the number of files that hold them. */
  def groundTruth(ctx: Ctx, lakeDir: String, qs: Seq[Q]): Map[Int, Truth] = {
    val spark = ctx.spark
    val planRows = new java.util.ArrayList[Row]()
    qs.foreach(q => q.keys.foreach(k => planRows.add(Row(q.id, k, q.shipFrom.orNull))))
    val planDf = spark.createDataFrame(planRows, StructType(Seq(
      StructField("qid", IntegerType), StructField("key", LongType),
      StructField("ship_from", TimestampType))))
    val names = Gen.lineitemSchema.fieldNames.toSeq
    val rows = spark.read.parquet(lakeDir)
      .join(broadcast(planDf), col("l_orderkey") === col("key"))
      .where(col("ship_from").isNull || col("l_shipdate") >= col("ship_from"))
      .select((col("qid") +: input_file_name().as("file") +: names.map(col)): _*)
      .collect()
    val byQ = rows.groupBy(_.getInt(0))
    qs.map { q =>
      val got = byQ.getOrElse(q.id, Array.empty[Row])
      val cols = q.cols.getOrElse(names)
      val projected = got.map(r => Row.fromSeq(cols.map(c => r.get(2 + names.indexOf(c)))))
      q.id -> Truth(Stats.rowSetHash(projected), got.map(_.getString(1)).distinct.length)
    }.toMap
  }

  final case class ReadTrace(scanFiles: Long, scanBytes: Long, filesTotal: Long,
                             pruneMs: Double, truthFiles: Int)

  def run(ctx: Ctx): Report = {
    val spark = ctx.spark
    val c = ctx.client
    val qs = plan(ctx.seed, NOrders, PlanSize)

    // set-up: fixture write, footer harvest, persisted stats, engine
    // open, one warm-up read
    val dirs = ArrayBuffer[String]()
    def build(scale: Double): (String, Lakeshack) = {
      val lakeDir = ctx.dir(s"lake${dirs.size}")
      dirs += lakeDir
      val statsDir = lakeDir + "_stats"
      val orders = (NOrders * scale).toLong
      c.span("ClusteredWriter.write") {
        ClusteredWriter.write(Gen.lineitem(spark, ctx.seed, 0L, orders, ctx.cores),
          lakeDir, "l_orderkey", NFiles)
      }
      val stats = c.span("Metastore.harvest") {
        val st = Metastore.buildFromFooters(spark, lakeDir, "l_orderkey", Seq("l_shipdate")).cache()
        st.count(); st
      }
      c.span("Metastore.update")(Metastore.update(spark, statsDir, stats))
      stats.unpersist()
      val lake = c.span("Lakeshack.fromStats") {
        Lakeshack.fromStats(spark, lakeDir, statsDir, "l_orderkey", Seq("l_shipdate"))
      }
      c.span("warmup")(lake.query(Seq(Gen.keyOf(0L))).collect())
      (lakeDir, lake)
    }
    val (coldS, setupS, (dir, lake)) = Workload.setups(c, SetupReps, Workload.WarmScale)(build) {
      case (_, cold) =>
        plan(ctx.seed ^ 0xC01DL, (NOrders * Workload.WarmScale).toLong, WarmReads)
          .foreach(q => cold.query(q.keys, q.clauses, q.cols).collect())
    }
    dirs.init.foreach(d => { Workload.deleteTree(d); Workload.deleteTree(d + "_stats") })
    val truth = groundTruth(ctx, dir, qs)
    Workload.settle()

    // measured closed loop
    val traces = ArrayBuffer[ReadTrace]()
    val t0 = System.nanoTime()
    var i = 0
    while (i < qs.size &&
      ((System.nanoTime() - t0) / 1e9 < ctx.seconds || i < MinReads || i % Block.size != 0)) {
      val q = qs(i)
      val traceThis = c.traced && i % 2 == 0
      c.op(q.kind, traceThis) {
        val df: DataFrame = c.span("Lakeshack.query")(lake.query(q.keys, q.clauses, q.cols))
        val tel = lake.lastTelemetry
        val rows = c.span("Lakeshack.collect")(df.collect())
        (df, tel, rows)
      }.foreach { case ((df, tel, rows), rec) =>
        if (Stats.rowSetHash(rows) != truth(q.id).hash)
          c.fail(s"retrieve q${q.id} (${q.kind}): ${rows.length} rows differ from the unpruned read")
        if (rec.traced && i < MinReads) {
          val (files, bytes) = Plans.scanTotals(df.queryExecution.executedPlan)
          val t = tel.getOrElse(throw new IllegalStateException("query left no telemetry"))
          traces += ReadTrace(files, bytes, t.filesTotal, t.pruneSec * 1000, truth(q.id).files)
        }
      }
      i += 1
    }
    val kinds = Seq("point", "multi", "point_date", "absent")
    val reads = kinds.flatMap(k => c.samples(k))
    val loopS = c.ops.map(_.ms).sum / 1000
    val human =
      Workload.latency("read", reads) ++
        kinds.flatMap(k => Workload.latency(s"read_$k", c.samples(k)).take(1))

    val layer = if (!c.traced) Nil else {
      def med(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else Stats.median(xs)
      val scanned = traces.map(_.scanFiles).sum.toDouble
      Seq(
        Metric("Metastore.harvest_s", med(c.spanMs("Metastore.harvest")) / 1000, "s", SetupReps),
        Metric("Metastore.update_s", med(c.spanMs("Metastore.update")) / 1000, "s", SetupReps),
        Metric("Lakeshack.fromStats_s", med(c.spanMs("Lakeshack.fromStats")) / 1000, "s", SetupReps),
        Metric("Lakeshack.query_ms", med(c.spanMs("Lakeshack.query")), "ms"),
        Metric("Lakeshack.prune_ms", med(traces.map(_.pruneMs).toSeq), "ms", traces.size),
        Metric("Lakeshack.collect_ms", med(c.spanMs("Lakeshack.collect")), "ms"),
        Metric("Lakeshack.files_scanned_frac", scanned / traces.map(_.filesTotal).sum, "fraction",
          traces.size),
        Metric("Lakeshack.prune_precision",
          if (scanned > 0) traces.map(_.truthFiles).sum / scanned else 0.0, "fraction", traces.size),
        Metric("Lakeshack.bytes_scanned_per_read", traces.map(_.scanBytes).sum.toDouble / traces.size,
          "bytes", traces.size))
    }
    Report(coldS, setupS, kinds,
      Metric("work_per_s", reads.size / loopS, "1/s", reads.size, "reads per second of op time"),
      human, layer)
  }
}
