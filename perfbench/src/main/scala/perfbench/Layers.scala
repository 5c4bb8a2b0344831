package perfbench

import scala.collection.mutable

/** The per-layer metrics of the traced run, named after the engine module
  * each one measures. Every traced run reports every name; a layer a
  * workload does not run reads 0. */
final class Layers {
  private val vals = mutable.LinkedHashMap.empty[String, Double]
  private val notes = mutable.ArrayBuffer.empty[String]
  /** Span lists of the traced passes, as [[Tracer.toJson]] gives them. */
  val spans = mutable.ArrayBuffer.empty[String]

  def set(name: String, v: Double, basis: String = ""): Unit = {
    require(Layers.units.contains(name), s"unknown per-layer metric $name")
    vals(name) = v
    if (basis.nonEmpty) notes += s"  $name = $basis"
  }

  def values: Seq[(String, Metric)] =
    Layers.all.map { case (n, u, _) => n -> Metric(vals.getOrElse(n, 0.0), u) }

  def bases: Seq[String] = notes.toSeq

  /** Spans and counts, written once when the traced run ends. */
  def json(run: Run): String = {
    val m = values.map { case (n, x) => s""""$n": ${Main.json(x.value)}""" }.mkString(",\n  ")
    s"""{"workload": "${run.workload}", "seed": ${run.seed},\n "metrics": {\n  $m},\n "spans": [${spans.filter(_.nonEmpty).mkString(",\n")}]}"""
  }
}

object Layers {
  /** (name, unit, better) — the `per_layer` list of BENCHMARK.json. */
  val all: Seq[(String, String, String)] = Seq(
    ("sources.Delimited.self_s", "s", "lower"),
    ("sources.Delimited.rows_in", "count", "higher"),
    ("sources.Delimited.quarantine_ratio", "ratio", "lower"),
    ("functions.KeyFunctions.self_s", "s", "lower"),
    ("operators.RegionSort.self_s", "s", "lower"),
    ("operators.RegionSort.shuffle_bytes", "bytes", "lower"),
    ("operators.RegionSort.shuffle_records", "count", "lower"),
    ("operators.RegionSort.fetch_wait_s", "s", "lower"),
    ("operators.RegionSort.input_read_ratio", "ratio", "lower"),
    ("operators.RegionSort.region_skew", "ratio", "lower"),
    ("plans.RegionAlignedSort.row_shuffle_bytes", "bytes", "lower"),
    ("plans.RegionAlignedSort.row_shuffle_records", "count", "lower"),
    ("plans.RegionAlignedSort.row_fetch_wait_s", "s", "lower"),
    ("plans.RegionAlignedSort.cell_shuffle_bytes", "bytes", "lower"),
    ("plans.RegionAlignedSort.cell_shuffle_records", "count", "lower"),
    ("plans.RegionAlignedSort.cell_fetch_wait_s", "s", "lower"),
    ("operators.CellOps.self_s", "s", "lower"),
    ("operators.CellOps.cells_out", "count", "higher"),
    ("operators.CellOps.spill_bytes", "bytes", "lower"),
    ("BulkLoad.SortedParquetCellSink.write_s", "s", "lower"),
    ("BulkLoad.SortedParquetCellSink.postCommit_s", "s", "lower"),
    ("BulkLoad.SortedParquetCellSink.bytes_written", "bytes", "lower"),
    ("BulkLoad.SortedParquetCellSink.files_written", "count", "lower"),
    ("sources.CellManifest.write_s", "s", "lower"),
    ("sources.CellManifest.read_s", "s", "lower"),
    ("sources.CellManifest.footer_opens", "count", "lower"),
    ("streaming.StreamingIngest.body_s", "s", "lower"),
    ("streaming.StreamingIngest.engine_s", "s", "lower"),
    ("streaming.StreamingIngest.deferred_s", "s", "lower"),
    ("streaming.StreamingIngest.jobs_per_batch", "jobs/batch", "lower"),
    ("sources.CellCompaction.sweep_s", "s", "lower"),
    ("sources.CellCompaction.sweeps", "count", "lower"),
    ("sources.CellCompaction.bytes_rewritten", "bytes", "lower"),
    ("sources.CellCompaction.stall_s", "s", "lower"),
    ("sources.CellScan.plan_s", "s", "lower"),
    ("sources.CellScan.exec_s", "s", "lower"),
    ("sources.CellScan.files_kept", "files/op", "lower"),
    ("sources.CellScan.rows_scanned_per_row_returned", "ratio", "lower"),
    ("sources.CellScan.jobs_per_op", "jobs/op", "lower"),
    ("operators.Dedup.corpusDedup_s", "s", "lower"),
    ("operators.Dedup.clusters_s", "s", "lower"),
    ("operators.Dedup.pairs_verified", "count", "higher"),
    ("operators.Dedup.clusters", "count", "higher"),
    ("operators.Dedup.shuffle_bytes", "bytes", "lower"),
    ("operators.Dedup.shuffle_records_per_doc", "records/doc", "lower"),
    ("operators.Dedup.checkpoint_jobs", "count", "lower"),
    ("GraftSession.jobs", "count", "lower"),
    ("GraftSession.tasks", "count", "lower"),
    ("GraftSession.scheduler_delay_s", "s", "lower"),
    ("GraftSession.gc_s", "s", "lower"),
    ("GraftSession.executor_cpu_s", "s", "lower"),
    ("trace.overhead_s", "s", "lower"))

  val units: Map[String, String] = all.map(x => x._1 -> x._2).toMap

  /** The end-to-end metrics — the `end_to_end` list of BENCHMARK.json —
    * that every workload reports: (name, unit, better). `rows_per_s`
    * counts what the workload's client moves through the engine: input
    * lines on the ingest workloads, documents on `corpus_dedup`, cells
    * returned on `serve_reads`. */
  val endToEnd: Seq[(String, String, String)] = Seq(
    ("setup_s", "s", "lower"),
    ("rows_per_s", "records/s", "higher"),
    ("peak_rss_mb", "MB", "lower"))

  /** End-to-end figures only some workloads have. They are printed in the
    * run's report, above the result line, but are not in the result line
    * or BENCHMARK.json: that line holds the same metrics on every workload. */
  val workloadOnly: Seq[(String, String, String)] = Seq(
    ("space_amp", "ratio", "lower"),
    ("write_amp", "ratio", "lower"),
    ("batch_p50_s", "s", "lower"),
    ("batch_tail_s", "s", "lower"),
    ("get_p50_ms", "ms", "lower"),
    ("get_tail_ms", "ms", "lower"),
    ("multiget_p50_ms", "ms", "lower"),
    ("multiget_tail_ms", "ms", "lower"),
    ("scan_p50_ms", "ms", "lower"),
    ("scan_tail_ms", "ms", "lower"),
    ("dedup_recall", "ratio", "higher"))

  /** GraftSession (scheduler) totals over a traced pass. */
  def session(l: Layers, agg: Agg, jobs: Int): Unit = {
    l.set("GraftSession.jobs", jobs)
    l.set("GraftSession.tasks", agg.tasks)
    l.set("GraftSession.scheduler_delay_s", agg.schedDelayS)
    l.set("GraftSession.gc_s", agg.gcS)
    l.set("GraftSession.executor_cpu_s", agg.cpuS)
  }
}
