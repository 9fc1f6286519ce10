package perfbench

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.col

import graft.ops.Dedup

/** Repeated full MinHash near-dup passes (64 hashes, 32 bands, J >= 0.5)
  * over a seeded corpus with planted exact twins, every output column
  * collected. Closed loop, one client. */
object DedupPasses extends Workload {
  val name = "dedup"

  val NDocs = 8000L
  val SetupReps = 5
  /** Passes every run makes, however fast; every other one is traced
    * in a traced run. */
  val MinPasses = 6
  /** Untimed full passes on the cold build before the timed set-ups. */
  val WarmPasses = 2

  /** One near-dup pass in the dedup_minhash configuration. */
  def nearDup(docs: DataFrame): DataFrame =
    Dedup.minhashNearDup(docs, "doc_id", "text", threshold = 0.5, numHashes = 64, bands = 32)

  def run(ctx: Ctx): Report = {
    val spark = ctx.spark
    val c = ctx.client

    // set-up: corpus write, one warm-up pass over a quarter of it
    var builds = 0
    def build(scale: Double): String = {
      val dir = ctx.dir(s"docs$builds")
      builds += 1
      val n = (NDocs * scale).toLong
      c.span("corpus.write")(Gen.documents(spark, ctx.seed, n, ctx.cores).write.parquet(dir))
      c.span("warmup") {
        nearDup(spark.read.parquet(dir).where(col("doc_id") < n / 4)).collect()
      }
      dir
    }
    // the cold build is full size and takes untimed full passes
    val (coldS, setupS, dir) = Workload.setups(c, SetupReps, 1.0)(build) { cold =>
      (1 to WarmPasses).foreach(_ => nearDup(spark.read.parquet(cold)).collect())
    }
    (0 until builds - 1).foreach(i => Workload.deleteTree(ctx.dir(s"docs$i")))
    val twins = Gen.twinsOf(ctx.seed, NDocs)
    val nDocs = NDocs + twins.size
    var pairHash: Option[(Int, Seq[Int])] = None
    var candidatePairs, survivorPairs = -1L

    val t0 = System.nanoTime()
    var pass = 0
    while (pass < MinPasses || (System.nanoTime() - t0) / 1e9 < ctx.seconds) {
      val traceThis = c.traced && pass % 2 == 0
      val docs = spark.read.parquet(dir)
      c.op("pass", traceThis) {
        if (!traceThis) (nearDup(docs).collect(), -1L)
        else {
          // the same two calls minhashNearDup makes, staged so each is timed
          val cands = c.span("Dedup.minhashCandidates") {
            val cd = Dedup.minhashCandidates(docs, "doc_id", "text", numHashes = 64, bands = 32).persist()
            cd.write.format("noop").mode("overwrite").save()
            cd
          }
          val out = c.span("Dedup.verifiedJaccard") {
            Dedup.verifiedJaccard(docs, cands, "doc_id", "text", 3, 0.5).collect()
          }
          val n = cands.count()
          cands.unpersist()
          (out, n)
        }
      }.foreach { case ((out, nCand), _) =>
        val found = out.map(r => (math.min(r.getLong(0), r.getLong(1)), math.max(r.getLong(0), r.getLong(1))))
          .toSet
        val missed = twins.count(t => !found.contains(t))
        if (missed > 0) c.fail(s"dedup pass $pass: $missed of ${twins.size} planted twin pairs missing")
        val hash = Stats.rowSetHash(out.map(r => Row(r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))))
        if (pairHash.exists(_ != hash)) c.fail(s"dedup pass $pass: pair set differs from pass 0")
        pairHash = Some(hash)
        if (nCand >= 0 && candidatePairs < 0) { candidatePairs = nCand; survivorPairs = out.length }
      }
      pass += 1
    }

    val passes = c.samples("pass")
    val base = { val u = c.samples("pass", Some(false)); if (u.nonEmpty) u else passes }
    val docsPerS = nDocs * base.size / (base.sum / 1000)
    val human = Workload.latency("pass", passes).take(1) :+
      Metric("docs_per_s", docsPerS, "docs/s", base.size, s"$nDocs docs x passes / pass wall") :+
      Metric("pairs_found", pairHash.map(_._1.toDouble).getOrElse(0.0), "count", 0,
        s"${twins.size} planted twin pairs")

    val layer = if (!c.traced) Nil else {
      def med(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else Stats.median(xs)
      Seq(
        Metric("Dedup.candidates_s", med(c.spanMs("Dedup.minhashCandidates")) / 1000, "s"),
        Metric("Dedup.verify_s", med(c.spanMs("Dedup.verifiedJaccard")) / 1000, "s"),
        Metric("Dedup.candidate_pairs", candidatePairs.toDouble, "count"),
        Metric("Dedup.survivor_pairs", survivorPairs.toDouble, "count"),
        Metric("Dedup.survivor_frac",
          if (candidatePairs > 0) survivorPairs.toDouble / candidatePairs else 0.0, "fraction"))
    }
    Report(coldS, setupS, Seq("pass"), Metric("work_per_s", docsPerS, "1/s", base.size,
      "docs per second of pass wall"), human, layer)
  }
}
