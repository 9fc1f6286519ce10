package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.Row

import graft.lake.{SnapshotCatalog, SnapshotLog}

/** Reads beside writes on the snapshot table format. Each cycle appends
  * one batch with `SnapshotLog.appendBatch`, then makes 4 SQL reads
  * through a `SnapshotCatalog` on the same table; every 10th cycle
  * compacts. Closed loop, one client. */
object Ingest extends Workload {
  val name = "ingest"

  val BaseOrders = 150000L // about 600k rows
  val BatchOrders = 2500L // about 10k rows
  val BaseFiles = 16
  val CompactEvery = 10
  /** Cycles every run makes, however fast; count-type metrics are taken
    * over these, so they repeat for one seed. */
  val MinCycles = 10
  val SetupReps = 5
  /** Untimed cycles on the cold build before the timed set-ups. */
  val WarmCycles = 5

  def rowsOf(seed: Long, orders: Seq[Long]): Seq[Row] = orders.flatMap(o => Gen.linesOf(seed, o))

  def run(ctx: Ctx): Report = {
    val spark = ctx.spark
    val c = ctx.client
    val root = ctx.dir("snap")
    spark.conf.set("spark.sql.catalog.snap", classOf[SnapshotCatalog].getName)
    spark.conf.set("spark.sql.catalog.snap.root", root)

    // set-up: base table write, one warm-up SQL read
    val names = ArrayBuffer[String]()
    def build(scale: Double): (String, Long) = {
      val tname = s"lineitem${names.size}"
      names += tname
      val orders = (BaseOrders * scale).toLong
      c.span("SnapshotLog.write") {
        SnapshotLog.write(Gen.lineitem(spark, ctx.seed, 0L, orders, ctx.cores), s"$root/$tname",
          clusterColumn = Some("l_orderkey"), nFiles = BaseFiles)
      }
      c.span("warmup") {
        spark.sql(s"SELECT * FROM snap.$tname WHERE l_orderkey IN (${Gen.keyOf(0L)})").collect()
      }
      (tname, orders)
    }
    // the cold build takes untimed cycles: appends, reads and a compaction
    val (coldS, setupS, (tname, _)) = Workload.setups(c, SetupReps, Workload.WarmScale)(build) {
      case (cold, orders) =>
        (1 to WarmCycles).foreach { i =>
          val from = orders + (i - 1) * BatchOrders
          SnapshotLog.appendBatch(Gen.lineitemLocal(spark, ctx.seed, from, from + BatchOrders)._1,
            s"$root/$cold", s"warm-$i", Some("l_orderkey"), nFiles = 1)
          (0 until 4).foreach { r =>
            spark.sql(s"SELECT * FROM snap.$cold WHERE l_orderkey IN (${Gen.keyOf(from + r)})").collect()
          }
        }
        SnapshotLog.compact(spark, s"$root/$cold", "l_orderkey", BaseFiles)
    }
    names.init.foreach(n => Workload.deleteTree(s"$root/$n"))
    val table = s"$root/$tname"
    var expectedRows = (0L until BaseOrders).map(o => Gen.linesOf(ctx.seed, o).length.toLong).sum

    val rng = new java.util.Random(Gen.mix(ctx.seed ^ 0x1A6EL))
    def pick(from: Long, until: Long): Long = from + (rng.nextDouble() * (until - from)).toLong
    var committed = BaseOrders
    var appendedRows = 0L
    var rewrittenBytes = 0L
    val liveFiles = ArrayBuffer[Double]()
    val readFiles = ArrayBuffer[(Long, Long)]() // (scanned, live) per traced read
    var spaceRatio = 0.0

    val t0 = System.nanoTime()
    var cycle = 0
    while (cycle < MinCycles || (System.nanoTime() - t0) / 1e9 < ctx.seconds) {
      cycle += 1
      val inWindow = cycle <= MinCycles
      val traceThis = c.traced && cycle % 2 == 1
      val (from, until) = (committed, committed + BatchOrders)
      val (batch, batchRows) = Gen.lineitemLocal(spark, ctx.seed, from, until)
      c.op("append", traceThis) {
        c.span("SnapshotLog.appendBatch") {
          SnapshotLog.appendBatch(batch, table, s"batch-$cycle", Some("l_orderkey"), nFiles = 1)
        }
      }.foreach { case (v, _) => if (v < 0) c.fail(s"ingest cycle $cycle: batch not committed") }
      committed = until
      expectedRows += batchRows.size
      appendedRows += batchRows.size
      val live = if (c.traced) SnapshotLog.state(spark, table).files.size.toLong else 0L
      if (c.traced && inWindow) liveFiles += live.toDouble

      (0 until 4).foreach { r =>
        val orders = Seq.fill(2)(if (r % 2 == 0) pick(from, until) else pick(0L, until))
        val sql = s"SELECT * FROM snap.$tname WHERE l_orderkey IN (${orders.map(Gen.keyOf).mkString(", ")})"
        c.op("read", traceThis) {
          val df = c.span("SnapshotCatalog.plan") {
            val d = spark.sql(sql); d.queryExecution.executedPlan; d
          }
          (df, c.span("SnapshotCatalog.exec")(df.collect()))
        }.foreach { case ((df, rows), rec) =>
          if (Stats.rowSetHash(rows) != Stats.rowSetHash(rowsOf(ctx.seed, orders.distinct)))
            c.fail(s"ingest cycle $cycle read $r: ${rows.length} rows differ from the appended rows")
          if (rec.traced && inWindow)
            readFiles += (Plans.scanTotals(df.queryExecution.executedPlan)._1 -> live)
        }
      }

      if (cycle % CompactEvery == 0) {
        c.op("compact", traceThis) {
          c.span("SnapshotLog.compact")(SnapshotLog.compact(spark, table, "l_orderkey", BaseFiles))
        }.foreach { _ =>
          val n = spark.sql(s"SELECT count(*) FROM snap.$tname").collect()(0).getLong(0)
          if (n != expectedRows) c.fail(s"ingest compaction at cycle $cycle: $n rows, expected $expectedRows")
          if (c.traced && inWindow) {
            val st = SnapshotLog.state(spark, table)
            rewrittenBytes += st.files.map(f => new java.io.File(s"$table/$f").length()).sum
          }
        }
      }
      if (c.traced) {
        c.setup(c.span("SnapshotLog.currentVersion")(SnapshotLog.currentVersion(spark, table)))
        if (cycle == MinCycles) {
          val liveBytes = SnapshotLog.state(spark, table).files
            .map(f => new java.io.File(s"$table/$f").length()).sum
          spaceRatio = Workload.treeBytes(table).toDouble / liveBytes
        }
      }
    }

    val reads = c.samples("read")
    val human = Workload.latency("read", reads) ++ Workload.latency("write", c.samples("append")) ++
      Workload.latency("compact", c.samples("compact")).take(1)
    val opS = c.ops.map(_.ms).sum / 1000

    val layer = if (!c.traced) Nil else {
      def med(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else Stats.median(xs)
      val appends = c.perOp.filter(_.op.kind == "append")
      Seq(
        Metric("SnapshotLog.appendBatch_ms", med(c.spanMs("SnapshotLog.appendBatch")), "ms"),
        Metric("SnapshotLog.commit_self_ms", med(appends.map(_.selfMs)), "ms", appends.size,
          "append wall minus its Spark job intervals"),
        Metric("SnapshotLog.currentVersion_ms", med(c.spanMs("SnapshotLog.currentVersion")), "ms"),
        Metric("SnapshotCatalog.plan_ms", med(c.spanMs("SnapshotCatalog.plan")), "ms"),
        Metric("SnapshotCatalog.exec_ms", med(c.spanMs("SnapshotCatalog.exec")), "ms"),
        Metric("SnapshotCatalog.files_scanned_frac",
          readFiles.map(_._1).sum.toDouble / math.max(1L, readFiles.map(_._2).sum), "fraction",
          readFiles.size),
        Metric("SnapshotLog.live_files", med(liveFiles.toSeq), "count", liveFiles.size),
        Metric("SnapshotLog.compact_bytes_rewritten", rewrittenBytes.toDouble, "bytes"),
        Metric("SnapshotLog.bytes_per_user_byte", spaceRatio, "ratio", 0,
          s"table dir bytes / live file bytes after cycle $MinCycles"))
    }
    Report(coldS, setupS, Seq("read"),
      Metric("work_per_s", appendedRows / opS, "1/s", cycle, "rows committed per second of op time"),
      human, layer)
  }
}
