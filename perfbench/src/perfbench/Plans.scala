package perfbench

import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.datasources.FilePartition
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec

/** Reads scan counters off an executed physical plan. */
object Plans {

  /** (files, bytes) summed over the plan's file scan nodes, descending
    * into adaptive plans and their query stages. Read after the action
    * has run: the V1 scan metrics are filled by execution. A V2 scan
    * reports no file metrics, so its planned file splits are counted. */
  def scanTotals(plan: SparkPlan): (Long, Long) = {
    var files = 0L; var bytes = 0L
    def walk(p: SparkPlan): Unit = {
      p match {
        case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
        case q: QueryStageExec => walk(q.plan)
        case s: FileSourceScanExec =>
          s.metrics.get("numFiles").foreach(m => files += m.value)
          s.metrics.get("filesSize").foreach(m => bytes += m.value)
        case b: BatchScanExec =>
          val splits = b.partitions.flatten.collect { case fp: FilePartition => fp.files.toSeq }.flatten
          files += splits.map(_.filePath.toString).distinct.size
          bytes += splits.map(_.length).sum
        case _ => ()
      }
      p.children.foreach(walk)
    }
    walk(plan)
    (files, bytes)
  }
}
