package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.scalatest.Assertions._

/** Executed-plan witnesses for the specs that pin snapshot file skipping. */
object ScanMetrics extends AdaptiveSparkPlanHelper {

  /** numFiles of every parquet scan in `df`'s executed plan, adaptive
    * query stages included — the witness that the SnapshotFileIndex
    * genuinely skipped files on the PLAIN read path, not just that
    * results matched. Collects `df` to populate the metrics; measure a
    * fresh frame each time, since a scan's numFiles is posted when its
    * lazy file listing first resolves, not on a re-collect.
    */
  def scanFileCounts(df: DataFrame): Seq[Long] = {
    df.collect()
    val scans = collect(df.queryExecution.executedPlan) {
      case s: FileSourceScanExec => s
    }
    assert(scans.nonEmpty, "no FileSourceScanExec in the executed plan")
    scans.map(_.metrics("numFiles").value)
  }

  /** Files scanned in total by `df`'s executed plan. */
  def scannedFiles(df: DataFrame): Long = scanFileCounts(df).sum
}
