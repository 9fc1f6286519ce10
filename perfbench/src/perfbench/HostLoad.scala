package perfbench

/** Host-load stamp: the 1-minute load average and the time of a fixed
  * single-threaded CPU loop. Taken at the start and the end of a run, so
  * a run made on a busy host identifies itself. Not a gated metric. */
final case class HostLoad(loadavg: Double, calibMs: Double) {
  def render: String = f"loadavg $loadavg%.2f calib_ms $calibMs%.1f"
  def json: String = s"""{"loadavg":${Main.num(loadavg)},"calib_ms":${Main.num(calibMs)}}"""
}

object HostLoad {
  private def loop(): Long = {
    var h = 1469598103934665603L
    var i = 0
    while (i < 100000000) { h = (h ^ i) * 1099511628211L; i += 1 }
    h
  }

  def stamp(): HostLoad = {
    val load = try {
      new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get("/proc/loadavg")), "UTF-8")
        .split(" ").head.toDouble
    } catch { case _: Exception => -1.0 }
    val t0 = System.nanoTime()
    val h = loop()
    val ms = (System.nanoTime() - t0) / 1e6
    if (h == 42L) println("calibration fixpoint") // keeps the loop from being elided
    HostLoad(load, ms)
  }
}
