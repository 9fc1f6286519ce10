package perfbench

import java.nio.file.{Path, Paths}

import org.apache.spark.sql.SparkSession

/** Entry point of one benchmark run:
  * `perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *  --work <dir> --trace-out <file>`.
  * Prints every metric by name, unit and sample count, then one JSON
  * object as the last stdout line; exits 1 when any check failed. */
object Main {

  val Workloads: Seq[Workload] = Seq(Retrieve, Ingest, DedupPasses)

  /** Every per-layer metric a traced run reports, with its unit. A
    * workload that does not reach a layer reports 0 for it. */
  val LayerMetrics: Seq[(String, String)] = Seq(
    "Metastore.harvest_s" -> "s", "Metastore.update_s" -> "s", "Lakeshack.fromStats_s" -> "s",
    "Lakeshack.query_ms" -> "ms", "Lakeshack.prune_ms" -> "ms", "Lakeshack.collect_ms" -> "ms",
    "Lakeshack.files_scanned_frac" -> "fraction", "Lakeshack.prune_precision" -> "fraction",
    "Lakeshack.bytes_scanned_per_read" -> "bytes",
    "SnapshotLog.appendBatch_ms" -> "ms", "SnapshotLog.commit_self_ms" -> "ms",
    "SnapshotLog.currentVersion_ms" -> "ms", "SnapshotCatalog.plan_ms" -> "ms",
    "SnapshotCatalog.exec_ms" -> "ms", "SnapshotCatalog.files_scanned_frac" -> "fraction",
    "SnapshotLog.live_files" -> "count", "SnapshotLog.compact_bytes_rewritten" -> "bytes",
    "SnapshotLog.bytes_per_user_byte" -> "ratio",
    "Dedup.candidates_s" -> "s", "Dedup.verify_s" -> "s", "Dedup.candidate_pairs" -> "count",
    "Dedup.survivor_pairs" -> "count", "Dedup.survivor_frac" -> "fraction",
    "spark.jobs_per_op" -> "count", "spark.tasks_per_op" -> "count", "driver.self_ms" -> "ms",
    "driver.self_frac" -> "fraction", "spark.job_frac" -> "fraction",
    "spark.executor_run_ms" -> "ms", "spark.shuffle_write_bytes" -> "bytes",
    "spark.spill_bytes" -> "bytes", "spark.task_skew" -> "ratio", "jvm.gc_ms" -> "ms",
    "trace.overhead_frac" -> "fraction")

  /** The percentile `op_tail_ms` reports. It is fixed, so every run of
    * every workload gates the same statistic; the tail-rule percentile,
    * which depends on the sample count, is printed beside it. */
  val TailPct = 75

  private def arg(args: Array[String], key: String): String = {
    val i = args.indexOf(key)
    require(i >= 0 && i + 1 < args.length, s"missing $key")
    args(i + 1)
  }

  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.lang.Double.toString(v)

  def line(m: Metric): String =
    s"metric ${m.name} ${num(m.value)} ${m.unit}" +
      (if (m.samples > 0) s" n=${m.samples}" else "") +
      (if (m.note.nonEmpty) s" (${m.note})" else "")

  def main(args: Array[String]): Unit = {
    val wname = arg(args, "--workload")
    val seed = arg(args, "--seed").toLong
    val seconds = arg(args, "--seconds").toDouble
    val traced = arg(args, "--trace") == "1"
    val work = Paths.get(arg(args, "--work")).toAbsolutePath
    val traceOut = Paths.get(arg(args, "--trace-out")).toAbsolutePath
    val workload = Workloads.find(_.name == wname).getOrElse {
      System.err.println(s"unknown workload '$wname'; known: ${Workloads.map(_.name).mkString(", ")}")
      sys.exit(2)
    }
    val stampIn = HostLoad.stamp()
    println(s"host-load at start: ${stampIn.render}")
    val (spark, sessionS) = Workload.timedS(session(work))
    val cores = spark.sparkContext.defaultParallelism
    println(s"workload $wname seed $seed seconds $seconds trace ${if (traced) 1 else 0} " +
      s"cores $cores session_s $sessionS")
    val client = new Client(spark, traced)
    val ctx = Ctx(spark, client, seed, seconds, work, cores)
    val ok = try {
      val rep = workload.run(ctx)
      val stampOut = HostLoad.stamp()
      println(s"host-load at end: ${stampOut.render}")
      report(ctx, workload, rep, traceOut, stampIn, stampOut)
    } catch {
      case e: Throwable =>
        e.printStackTrace()
        false
    } finally spark.stop()
    sys.exit(if (ok) 0 else 1)
  }

  def session(work: Path): SparkSession = {
    val cores = Runtime.getRuntime.availableProcessors()
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Print the run's metrics and its JSON line; true when every check passed. */
  def report(ctx: Ctx, w: Workload, rep: Report, traceOut: Path,
             in: HostLoad, out: HostLoad): Boolean = {
    val c = ctx.client
    val head = rep.headline.flatMap(k => c.samples(k))
    val untracedHead = rep.headline.flatMap(k => c.samples(k, Some(false)))
    require(head.nonEmpty, s"${w.name}: no ${rep.headline.mkString("/")} op completed")
    val setup = Metric("setup_s", Stats.median(rep.setupS), "s", rep.setupS.size,
      "median of set-ups: " + rep.setupS.map(num).mkString(", "))
    // the gated numbers come from untraced ops only
    val opBase = if (untracedHead.nonEmpty) untracedHead else head
    val e2e = Seq(setup,
      Metric("op_p50_ms", Stats.median(opBase), "ms", opBase.size, rep.headline.mkString("+")),
      Metric("op_tail_ms", Stats.pct(opBase, TailPct), "ms", opBase.size, s"p$TailPct"),
      rep.opsPerS)
    val failFrac = Metric("fail_frac", c.failed.toDouble / math.max(1L, c.attempted), "fraction",
      c.attempted.toInt, s"threw=${c.threw} failed_check=${c.bad} attempted=${c.attempted}")
    val cold = Metric("setup_cold_s", rep.setupColdS, "s", 1,
      "cold phase: small build plus warm-up ops, outside setup_s")
    (rep.human :+ cold :+ failFrac).foreach(m => println(line(m)))
    println("op_ms in run order: " + c.ops.filter(o => rep.headline.contains(o.kind))
      .map(o => f"${o.ms}%.1f${if (o.traced) "t" else ""}").mkString(" "))

    val layer: Seq[Metric] = if (!c.traced) Nil else {
      val perOp = c.perOp
      val headOps = perOp.filter(b => rep.headline.contains(b.op.kind))
      def med(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else Stats.median(xs)
      val tracedHead = rep.headline.flatMap(k => c.samples(k, Some(true)))
      val overhead =
        if (tracedHead.isEmpty || untracedHead.isEmpty) 0.0
        else Stats.median(tracedHead) / Stats.median(untracedHead) - 1
      val n = headOps.size
      val generic = Seq(
        Metric("spark.jobs_per_op", Stats.mean(headOps.map(_.jobs.toDouble)), "count", n),
        Metric("spark.tasks_per_op", Stats.mean(headOps.map(_.tasks.toDouble)), "count", n),
        Metric("driver.self_ms", med(headOps.map(_.selfMs)), "ms", n),
        Metric("driver.self_frac", med(headOps.map(b => b.selfMs / b.op.ms)), "fraction", n,
          "driver wall outside Spark jobs / op wall"),
        Metric("spark.job_frac", med(headOps.map(b => b.jobMs / b.op.ms)), "fraction", n,
          "union of Spark job intervals / op wall"),
        Metric("spark.executor_run_ms", med(headOps.map(_.executorRunMs.toDouble)), "ms", n),
        Metric("spark.shuffle_write_bytes", med(headOps.map(_.shuffleWriteBytes.toDouble)), "bytes", n),
        Metric("spark.spill_bytes", headOps.map(_.spillBytes).sum.toDouble, "bytes", n, "total"),
        Metric("spark.task_skew", med(headOps.map(_.skew)), "ratio", n),
        Metric("jvm.gc_ms", Stats.mean(headOps.map(_.op.gcMs.toDouble)), "ms", n, "mean per op"),
        Metric("trace.overhead_frac", overhead, "fraction", tracedHead.size + untracedHead.size,
          "traced / untraced op median - 1"))
      // per-kind breakdown of every traced op, for the reader
      perOp.groupBy(_.op.kind).toSeq.sortBy(_._1).foreach { case (k, bs) =>
        println(f"trace kind $k%-12s ops ${bs.size}%4d wall_p50_ms ${med(bs.map(_.op.ms))}%.2f " +
          f"driver_self_p50_ms ${med(bs.map(_.selfMs))}%.2f job_p50_ms ${med(bs.map(_.jobMs))}%.2f " +
          f"jobs/op ${Stats.mean(bs.map(_.jobs.toDouble))}%.2f tasks/op ${Stats.mean(bs.map(_.tasks.toDouble))}%.2f")
      }
      val given = (rep.layer ++ generic).map(m => m.name -> m).toMap
      val unknown = given.keySet -- LayerMetrics.map(_._1)
      require(unknown.isEmpty, s"unregistered layer metrics: ${unknown.mkString(", ")}")
      val all = LayerMetrics.map { case (name, unit) =>
        given.getOrElse(name, Metric(name, 0.0, unit, 0, "layer not reached by this workload"))
      }
      Trace.write(traceOut, c, Seq(
        "workload" -> ("\"" + w.name + "\""), "seed" -> ctx.seed.toString,
        "host_load_start" -> in.json, "host_load_end" -> out.json,
        "layer_metrics" -> all.map(m => s""""${m.name}":${num(m.value)}""").mkString("{", ",", "}")),
        perOp)
      println(s"trace written to $traceOut")
      all
    }
    (e2e ++ layer).foreach(m => println(line(m)))
    val ok = c.failed == 0
    val shown = if (c.traced) layer else e2e
    val metrics = shown.map(m => s""""${m.name}":{"value":${num(m.value)},"unit":"${m.unit}"}""")
      .mkString("{", ",", "}")
    println(s"""{"correct":$ok,"attempted":${c.attempted},"failed":${c.failed},"metrics":$metrics}""")
    ok
  }
}
