package perfbench

/** Order statistics over latency samples. */
object Stats {

  /** Linear-interpolated percentile, `p` in [0, 100]. */
  def pct(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    val s = xs.sorted
    val pos = (s.size - 1) * p / 100.0
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: Seq[Double]): Double = pct(xs, 50)

  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  /** The tail rule: the highest of p99, p95, p90, p75 that has at least
    * ten samples strictly above it. None when even p75 has fewer. */
  def tail(xs: Seq[Double]): Option[(Int, Double)] =
    Seq(99, 95, 90, 75).iterator.map(p => p -> pct(xs, p))
      .find { case (_, v) => xs.count(_ > v) >= 10 }

  /** Order-independent multiset hash of rows: count plus the sorted
    * per-row hashes over every column. */
  def rowSetHash(rows: Iterable[org.apache.spark.sql.Row]): (Int, Seq[Int]) = {
    val hs = rows.iterator.map(r => scala.util.hashing.MurmurHash3.seqHash(r.toSeq)).toArray
    java.util.Arrays.sort(hs)
    (hs.length, hs.toSeq)
  }
}
