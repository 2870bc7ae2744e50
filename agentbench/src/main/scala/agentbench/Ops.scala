package agentbench

import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec

/** What the scans of one op read, from its executed plan. `rows` counts
  * the rows of the scans that carry an embedding column (the rows fed to
  * scoring); `buckets` counts bucket directories a store scan opened. */
final case class ScanStats(files: Long, bytes: Long, rows: Long, scoredRows: Long,
                           buckets: Int)

object ScanStats {
  val Empty = ScanStats(0, 0, 0, 0, 0)
}

/** One benchmark operation as measured: a request on the serve workloads,
  * one lane run on the lane workload. */
final case class OpResult(id: Long, kind: String, startUs: Long, buildUs: Long,
                          endUs: Long, error: Option[String], resultRows: Int,
                          phasesMs: Map[String, Double], scan: ScanStats) {
  def ok: Boolean = error.isEmpty
  def latencyMs: Double = (endUs - startUs) / 1000.0
  def buildMs: Double = (buildUs - startUs) / 1000.0
}

object Ops extends AdaptiveSparkPlanHelper {
  val PlanningPhases = Seq("analysis", "optimization", "planning")

  /** Builds the op's DataFrame, collects it and checks the rows. Latency
    * covers build and collect only; the check runs after the clock stops.
    * A thrown exception or a wrong answer is recorded as the op's error. */
  def run(spark: SparkSession, id: Long, kind: String, traced: Boolean)
         (build: => DataFrame)(check: Array[Row] => Option[String]): OpResult = {
    val sc = spark.sparkContext
    sc.setLocalProperty(Trace.OpProperty, id.toString)
    val t0 = Trace.nowMicros()
    var t1 = t0
    try {
      val df = build
      t1 = Trace.nowMicros()
      val rows = df.collect()
      val t2 = Trace.nowMicros()
      val err = try check(rows) catch {
        case NonFatal(e) => Some(s"check failed: $e")
      }
      val phases = df.queryExecution.tracker.phases.collect {
        case (k, v) if PlanningPhases.contains(k) => k -> v.durationMs.toDouble
      }
      OpResult(id, kind, t0, t1, t2, err, rows.length, phases,
        if (traced) scanStats(df) else ScanStats.Empty)
    } catch {
      case NonFatal(e) =>
        OpResult(id, kind, t0, t1, Trace.nowMicros(), Some(e.toString), 0, Map.empty,
          ScanStats.Empty)
    } finally sc.setLocalProperty(Trace.OpProperty, null)
  }

  def scanStats(df: DataFrame): ScanStats = {
    val plan = df.queryExecution.executedPlan
    val parts = collectWithSubqueries(plan) {
      case s: FileSourceScanExec =>
        val rows = s.metrics.get("numOutputRows").map(_.value).getOrElse(0L)
        ScanStats(s.metrics.get("numFiles").map(_.value).getOrElse(0L),
          s.metrics.get("filesSize").map(_.value).getOrElse(0L), rows,
          if (s.output.exists(_.name == "embedding")) rows else 0L, 0)
      case b: BatchScanExec =>
        // the store reads one parquet file per bucket directory and scores
        // every row of it, so the files' footers give the rows scored
        val files = b.inputPartitions.flatMap(p =>
          scala.util.Try(p.getClass.getMethod("file").invoke(p).toString).toOption)
        val rows = files.map(footerRows).sum
        ScanStats(files.size, files.map(f => new java.io.File(f).length()).sum, rows,
          if (b.output.exists(_.name == "embedding")) rows else 0L,
          files.map(f => new java.io.File(f).getParent).distinct.size)
    }
    parts.foldLeft(ScanStats.Empty)((a, b) => ScanStats(a.files + b.files,
      a.bytes + b.bytes, a.rows + b.rows, a.scoredRows + b.scoredRows, a.buckets + b.buckets))
  }

  private def footerRows(file: String): Long = {
    val r = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(file), new org.apache.hadoop.conf.Configuration()))
    try r.getRecordCount finally r.close()
  }
}
