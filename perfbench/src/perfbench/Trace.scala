package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** A span around one public library call: ids are per run, `parent` is
  * -1 at the top of an op, `op` is the op the call belongs to (-1 in
  * set-up). Times are `System.nanoTime`. */
final case class Span(id: Int, name: String, parent: Int, op: Long, startNs: Long, endNs: Long) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** One timed client operation. Wall-clock ms bound it too, so Spark job
  * intervals (stamped in wall-clock ms by the scheduler) can be clipped
  * to it. */
final class OpRec(val id: Long, val kind: String, val traced: Boolean) {
  var startNs, endNs, startMs, endMs, gcMs = 0L
  def ms: Double = (endNs - startNs) / 1e6
}

/** What the benchmark's listener saw of one Spark job or task. */
final case class JobRec(op: Long, startMs: Long, var endMs: Long = -1L)
final case class TaskRec(op: Long, stageId: Int, runMs: Long, shuffleWriteBytes: Long,
                         spillBytes: Long)

/** Benchmark-owned listener: attributes jobs and tasks to ops through
  * the `perfbench.op` local property that traced ops set. */
final class JobProbe extends SparkListener {
  val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val stageOp = new ConcurrentHashMap[Int, Long]()
  val tasks = new ConcurrentLinkedQueue[TaskRec]()

  override def onJobStart(e: SparkListenerJobStart): Unit =
    Option(e.properties).flatMap(p => Option(p.getProperty(JobProbe.OpKey))).foreach { o =>
      jobs.put(e.jobId, JobRec(o.toLong, e.time))
      e.stageIds.foreach(s => stageOp.put(s, o.toLong))
    }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val op = stageOp.get(e.stageId)
    if (op != null && e.taskMetrics != null) {
      val m = e.taskMetrics
      tasks.add(TaskRec(op, e.stageId, m.executorRunTime, m.shuffleWriteMetrics.bytesWritten,
        m.memoryBytesSpilled + m.diskBytesSpilled))
    }
  }

  /** Wait until every job it saw start has ended (the listener bus is
    * asynchronous; task events of a job precede its end event). */
  def drain(timeoutMs: Long = 20000L): Boolean = {
    val until = System.currentTimeMillis() + timeoutMs
    while (jobs.values.asScala.exists(_.endMs < 0) && System.currentTimeMillis() < until)
      Thread.sleep(20)
    jobs.values.asScala.forall(_.endMs >= 0)
  }
}

object JobProbe {
  val OpKey = "perfbench.op"
}

/** The run's client: times ops, counts failures, and in a traced run
  * records spans and Spark job attribution. Spans stay in memory until
  * [[Trace.write]] at the end of the run. */
final class Client(val spark: SparkSession, val traced: Boolean) {
  val probe: Option[JobProbe] =
    if (traced) { val p = new JobProbe; spark.sparkContext.addSparkListener(p); Some(p) } else None
  val spans = ArrayBuffer[Span]()
  val ops = ArrayBuffer[OpRec]()
  var attempted, threw, bad = 0L

  private var recording = false
  private var stack: List[Int] = Nil
  private var currentOp = -1L

  /** Record a span around `body` when recording (in a traced op, or in
    * set-up of a traced run). */
  def span[T](name: String)(body: => T): T =
    if (!recording) body
    else {
      val id = spans.size
      val parent = stack.headOption.getOrElse(-1)
      spans += null
      stack = id :: stack
      val t0 = System.nanoTime()
      try body
      finally {
        spans(id) = Span(id, name, parent, currentOp, t0, System.nanoTime())
        stack = stack.tail
      }
    }

  /** Set-up work; spans recorded in a traced run. */
  def setup[T](body: => T): T = {
    recording = traced
    try body finally recording = false
  }

  /** Run one timed op. `traceThis` marks it traced (spans, job
    * attribution); it must be false in an untraced run. Returns None
    * when the op threw; the exception is counted and printed. */
  def op[T](kind: String, traceThis: Boolean)(body: => T): Option[(T, OpRec)] = {
    val rec = new OpRec(attempted, kind, traceThis && traced)
    attempted += 1
    if (rec.traced) {
      spark.sparkContext.setLocalProperty(JobProbe.OpKey, rec.id.toString)
      recording = true; currentOp = rec.id
    }
    val gc0 = Client.gcMs()
    rec.startMs = System.currentTimeMillis()
    rec.startNs = System.nanoTime()
    try {
      val out = span(kind)(body)
      rec.endNs = System.nanoTime()
      rec.endMs = System.currentTimeMillis()
      rec.gcMs = Client.gcMs() - gc0
      ops += rec
      Some(out -> rec)
    } catch {
      case e: Exception =>
        threw += 1
        System.out.println(s"op $kind #${rec.id} threw: $e")
        None
    } finally {
      if (rec.traced) {
        spark.sparkContext.setLocalProperty(JobProbe.OpKey, null)
        recording = false; currentOp = -1L
      }
    }
  }

  /** Count a result that failed its check. */
  def fail(what: String): Unit = {
    bad += 1
    System.out.println(s"check failed: $what")
  }

  def failed: Long = threw + bad

  def samples(kind: String, tracedOnly: Option[Boolean] = None): Seq[Double] =
    ops.iterator.filter(o => o.kind == kind && tracedOnly.forall(_ == o.traced)).map(_.ms).toSeq

  def spanMs(name: String): Seq[Double] = spans.iterator.filter(_.name == name).map(_.ms).toSeq

  /** Spark breakdown of every traced op; read only after the last op. */
  lazy val perOp: Seq[OpSpark] = Trace.breakdown(this)
}

object Client {
  def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(b => math.max(0L, b.getCollectionTime)).sum
}

/** Per-op Spark breakdown of a traced run. */
final case class OpSpark(op: OpRec, jobs: Int, tasks: Int, jobMs: Double, selfMs: Double,
                         executorRunMs: Long, shuffleWriteBytes: Long, spillBytes: Long,
                         skew: Double)

object Trace {

  /** Length of the union of [s, e) intervals, each clipped to [lo, hi). */
  def unionMs(iv: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    val cl = iv.map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }.filter(x => x._2 > x._1)
      .sortBy(_._1)
    var total = 0L; var curS = -1L; var curE = -1L
    cl.foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** Join each traced op with the jobs and tasks the listener saw for it. */
  def breakdown(c: Client): Seq[OpSpark] = c.probe match {
    case None => Nil
    case Some(p) =>
      p.drain()
      val jobsByOp = p.jobs.values.asScala.toSeq.groupBy(_.op)
      val tasksByOp = p.tasks.asScala.toSeq.groupBy(_.op)
      c.ops.filter(_.traced).map { o =>
        val js = jobsByOp.getOrElse(o.id, Nil)
        val ts = tasksByOp.getOrElse(o.id, Nil)
        val jobMs = unionMs(js.map(j => (j.startMs, if (j.endMs < 0) o.endMs else j.endMs)),
          o.startMs, o.endMs).toDouble
        val skew = if (ts.isEmpty) 0.0 else {
          val longest = ts.groupBy(_.stageId).values.maxBy(_.map(_.runMs).sum)
          val med = Stats.median(longest.map(_.runMs.toDouble))
          if (med > 0) longest.map(_.runMs).max / med else 1.0
        }
        OpSpark(o, js.size, ts.size, jobMs, math.max(0.0, o.ms - jobMs),
          ts.map(_.runMs).sum, ts.map(_.shuffleWriteBytes).sum, ts.map(_.spillBytes).sum, skew)
      }.toSeq
  }

  private def q(s: String): String = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""

  /** Write the run's spans, ops and jobs as one JSON document. */
  def write(path: java.nio.file.Path, c: Client, header: Seq[(String, String)],
            perOp: Seq[OpSpark]): Unit = {
    val sb = new StringBuilder("{")
    header.foreach { case (k, v) => sb.append(q(k)).append(':').append(v).append(',') }
    sb.append("\"spans\":[")
    sb.append(c.spans.iterator.filter(_ != null).map { s =>
      s"""{"id":${s.id},"name":${q(s.name)},"parent":${s.parent},"op":${s.op},""" +
        s""""start_ns":${s.startNs},"end_ns":${s.endNs}}"""
    }.mkString(","))
    sb.append("],\"ops\":[")
    sb.append(perOp.map { b =>
      s"""{"op":${b.op.id},"kind":${q(b.op.kind)},"wall_ms":${b.op.ms},"jobs":${b.jobs},""" +
        s""""tasks":${b.tasks},"job_ms":${b.jobMs},"driver_self_ms":${b.selfMs},""" +
        s""""executor_run_ms":${b.executorRunMs},"shuffle_write_bytes":${b.shuffleWriteBytes},""" +
        s""""spill_bytes":${b.spillBytes},"task_skew":${b.skew},"gc_ms":${b.op.gcMs}}"""
    }.mkString(","))
    sb.append("]}")
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, sb.toString.getBytes("UTF-8"))
  }
}
