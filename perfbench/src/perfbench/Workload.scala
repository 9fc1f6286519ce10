package perfbench

import java.nio.file.Path

import org.apache.spark.sql.SparkSession

/** A named value with its unit; `samples` is the count it was taken
  * over (0 when it is a single measurement), `note` says how. */
final case class Metric(name: String, value: Double, unit: String, samples: Int = 0,
                        note: String = "")

final case class Ctx(spark: SparkSession, client: Client, seed: Long, seconds: Double,
                     work: Path, cores: Int) {
  def dir(name: String): String = work.resolve(name).toString
}

/** What a workload hands back to the runner.
  *  - `setupColdS`: seconds of the cold phase (small build and warm-up ops);
  *  - `setupS`: seconds of each timed set-up repetition;
  *  - `headline`: the op kinds whose latency the gated op metrics report;
  *  - `opsPerS`: the workload's work rate for `work_per_s`;
  *  - `human`: the workload's own metrics, printed by name;
  *  - `layer`: per-layer metrics of a traced run. */
final case class Report(setupColdS: Double, setupS: Seq[Double], headline: Seq[String],
                        opsPerS: Metric, human: Seq[Metric], layer: Seq[Metric])

trait Workload {
  def name: String
  def run(ctx: Ctx): Report
}

object Workload {
  /** Set-up. First a cold phase, untimed in the gated numbers: one build
    * at `warmScale` of the inputs, then `warm` runs the workload's ops
    * on that build until class loading and JIT have settled. Then `reps`
    * timed builds at full scale, each after a full collection. `build`
    * builds into fresh directories; the last build is the one measured.
    * Returns the cold seconds, the seconds of each timed build, and the
    * last build. */
  def setups[F](c: Client, reps: Int, warmScale: Double)(build: Double => F)(warm: F => Unit)
      : (Double, Seq[Double], F) = {
    val cold = timedS(warm(build(warmScale)))._2
    val timed = (1 to reps).map { _ => settle(); timedS(c.setup(build(1.0))) }
    settle()
    (cold, timed.map(_._2), timed.last._1)
  }

  /** Scale of the cold build. */
  val WarmScale = 0.2

  /** A full collection before each timed phase, so no phase pays for
    * the garbage of the one before it. */
  def settle(): Unit = System.gc()

  def timedS[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val out = body
    (out, (System.nanoTime() - t0) / 1e9)
  }

  /** Latency metrics of one op kind: median and the tail-rule percentile. */
  def latency(prefix: String, xs: Seq[Double]): Seq[Metric] =
    if (xs.isEmpty) Nil
    else {
      val tail = Stats.tail(xs) match {
        case Some((p, v)) => Metric(s"${prefix}_tail_ms", v, "ms", xs.size, s"p$p")
        case None => Metric(s"${prefix}_tail_ms", xs.max, "ms", xs.size,
          "max (no percentile has 10 samples beyond it)")
      }
      Seq(Metric(s"${prefix}_p50_ms", Stats.median(xs), "ms", xs.size), tail)
    }

  def deleteTree(p: String): Unit = {
    val f = new java.io.File(p)
    if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(c => deleteTree(c.getPath)))
    f.delete()
  }

  def treeBytes(p: String): Long = {
    val f = new java.io.File(p)
    if (f.isDirectory) Option(f.listFiles).map(_.map(c => treeBytes(c.getPath)).sum).getOrElse(0L)
    else f.length()
  }
}
