package perfbench

import java.io.File

import graft.{BulkLoad, SortedParquetCellSink}
import graft.functions.keys
import graft.operators.{CellOps, RegionSort}
import graft.sources.{CellManifest, Delimited}
import graft.streaming.StreamingIngest
import org.apache.spark.PerfbenchBus
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** Helpers shared by the ingest workloads. */
object Ingest {
  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** Bytes of a served layout: part files plus the manifest. */
  def layoutBytes(dir: File): Long =
    Parquet.partFiles(dir).map(_.length).sum +
      Option(new File(dir, CellManifest.FileName)).filter(_.isFile).map(_.length).getOrElse(0L)

  /** Rows per region from a manifest: the largest over the mean. */
  def skew(dir: File): Double = {
    val rows = Parquet.manifest(dir).toSeq.flatMap(_.values.map(_.rows.toDouble))
    if (rows.isEmpty || rows.sum == 0) 0.0 else rows.max / (rows.sum / rows.size)
  }

  /** Self time of each stage of a lazy chain: each prefix of `stages` is
    * run from scratch `reps` times (fastest kept), and a stage's self time
    * is its prefix's time minus the previous prefix's. */
  def prefixSelfTimes(stages: Seq[(String, () => Unit)], reps: Int = 2): Map[String, Double] = {
    val cumulative = stages.map { case (n, body) => n -> (1 to reps).map(_ => Io.timed(body())).min }
    cumulative.zip(("", 0.0) +: cumulative).map { case ((n, t), (_, prev)) => n -> (t - prev) }.toMap
  }

  /** The chain a positional keyed load builds, up to the exchange, out of
    * the engine's public pieces: `keyed` mirrors `BulkLoad.fromPositional`. */
  def keyed(parsed: DataFrame): DataFrame = {
    val keyOk = Gen.KeyFields.map(i => col(s"c$i").isNotNull).reduce(_ && _)
    parsed.where(keyOk).select(
      (keys.md5CompositeKey(Gen.KeyFields.map(i => col(s"c$i"))).as("row") +:
        (0 until Gen.Arity).map(i => col(s"c$i"))): _*)
  }

  def exploded(rows: DataFrame): DataFrame =
    CellOps.explodeIndexed(rows, col("row"), "c", (0 until Gen.Arity).map(i => col(s"c$i")))
      .sortWithinPartitions(col("row"), col("family"), col("qualifier"))
}

/** `bulk_load`: one seeded CSV drop loaded the way the CLI's `csv` format
  * loads it — strict `BulkLoad.csv`, default `Config` (10 regions, sampled
  * range exchange), `SortedParquetCellSink.write`, then `postCommit` —
  * with the quarantine written beside the cells. */
object BulkLoadWorkload extends Workload {
  import Ingest._
  import Io._
  val name = "bulk_load"
  val Rows = 80000
  val WarmRows = 2000
  /** Loads per second of `--seconds`. */
  val LoadsPerSecond = 0.6

  private def input(run: Run) = run.path("in/drop.csv")
  private def records(run: Run) = Gen.records(run.seed, Rows)

  def generate(run: Run): Unit = {
    write(input(run), Gen.csvBytes(records(run)))
    write(run.path("in/warm.csv"), Gen.csvBytes(Gen.records(run.seed + 1, WarmRows)))
  }

  def setUp(run: Run): Unit = {
    load(run.spark, run.path("in/warm.csv"), run.path("warm"), Tracer.off(run.spark.sparkContext))
    Io.delete(new File(run.path("warm")))
  }

  /** One load: cells under `out/cells`, quarantine under `out/quarantine`. */
  def load(spark: SparkSession, input: String, out: String, t: Tracer): Unit = {
    val r = t.span("BulkLoad.csv")(BulkLoad.csv(spark, input, BulkLoad.Config()))
    val cells = s"$out/cells"
    if (t.enabled) {
      // write = writeData + manifest; split so each gets its own span
      t.span("SortedParquetCellSink.writeData")(SortedParquetCellSink.writeData(r.cells, cells))
      t.span("CellManifest.write")(CellManifest.write(spark, cells))
    } else r.sink.write(r.cells, cells)
    t.span("quarantine.write")(r.quarantined.write.mode("overwrite").parquet(s"$out/quarantine"))
    t.span("postCommit")(r.sink.postCommit(cells))
  }

  def measure(run: Run): Unit = {
    val inBytes = new File(input(run)).length.toDouble
    val rates, writeAmps = collection.mutable.ArrayBuffer.empty[Double]
    val outs = collection.mutable.ArrayBuffer.empty[File]
    // one untimed load of the real input first: the set-ups' small drop
    // leaves the JIT short of steady state at this input size
    run.op("warm-up load")(load(run.spark, input(run), run.path("out/warm"), Tracer.off(run.spark.sparkContext)))
    Io.delete(new File(run.path("out/warm")))
    val start = System.nanoTime()
    for (i <- 0 until run.count(LoadsPerSecond, 2)) {
      val out = run.path(s"out/load-$i")
      val w0 = Io.fsBytesWritten()
      val t0 = System.nanoTime()
      if (run.op(s"load $i")(load(run.spark, input(run), out, Tracer.off(run.spark.sparkContext))).isDefined) {
        rates += Rows / secondsSince(t0)
        writeAmps += (Io.fsBytesWritten() - w0) / inBytes
        outs += new File(out)
      }
    }
    run.report += f"  [measured ${secondsSince(start)}%.2f s]"
    val recs = records(run)
    val expected = Check.fingerprint(recs.iterator.flatMap(Gen.strictCells))
    val expectedQ = recs.count(_.emptyKey).toLong
    val spaceAmps = outs.zipWithIndex.map { case (out, i) =>
      checkLoad(run, out, expected, expectedQ, full = i == 0)
      val amp = layoutBytes(new File(out, "cells")) / inBytes
      Io.delete(out)
      amp
    }
    if (rates.nonEmpty) {
      run.put("rows_per_s", Stats.median(rates.toSeq), "records/s")
      run.put("space_amp", Stats.median(spaceAmps.toSeq), "ratio")
      run.put("write_amp", Stats.median(writeAmps.toSeq), "ratio")
    }
    run.report += s"  loads: ${rates.map(r => f"$r%.0f").mkString(", ")} lines/s, each of $Rows lines (${inBytes.toLong} bytes), expected ${expected._1} cells, $expectedQ quarantined"
  }

  /** The first load's every cell is checked; the others by their counts
    * (footer rows against the manifest and the prediction). */
  private def checkLoad(run: Run, out: File, expected: (Long, Long), expectedQ: Long, full: Boolean): Unit = {
    val cells = new File(out, "cells")
    val manifest = Parquet.manifest(cells)
    val parts = Parquet.partFiles(cells)
    run.check(s"${out.getName} layout") {
      Check.noStaleEntries(parts.map(_.getName), manifest) ++ (
        if (full) Check.matches("cells", Check.fileset(Parquet.regionFiles(cells), manifest), expected)
        else Check.counts(parts.map(f => f.getName -> Parquet.rowCount(f)), manifest, expected._1))
    }
    run.check(s"${out.getName} quarantine") {
      val q = Parquet.partFiles(new File(out, "quarantine")).map(Parquet.rowCount).sum
      if (q == expectedQ) Nil else Seq(s"$q rows quarantined, expected $expectedQ")
    }
  }

  def traced(run: Run, layers: Layers): Unit = {
    val spark = run.spark
    val in = input(run)
    val inBytes = new File(in).length.toDouble
    val tr = Traced.abba(run, layers)((t, tag) => load(spark, in, run.path(s"trace/$tag"), t))
    val t = tr.tracer
    val recs = records(run)
    val out = new File(run.path("trace/t2"))
    checkLoad(run, out, Check.fingerprint(recs.iterator.flatMap(Gen.strictCells)),
      recs.count(_.emptyKey).toLong, full = true)
    val write = tr.under("SortedParquetCellSink.writeData")
    val cellsDir = new File(out, "cells")
    val quarantined = Parquet.partFiles(new File(out, "quarantine")).map(Parquet.rowCount).sum

    // growing prefixes of the load chain, each forced through the noop sink
    def parsed = Delimited.strictCsv(spark, in, Gen.Arity)
    var k = 0
    def dir() = { k += 1; run.path(s"trace/prefix-$k") }
    val self = prefixSelfTimes(Seq(
      "parse" -> (() => noop(parsed)),
      "key" -> (() => noop(keyed(parsed))),
      "exchange" -> (() => noop(keyed(parsed).repartitionByRange(BulkLoad.Config().regions, col("row")))),
      "explode_sort" -> (() => noop(BulkLoad.csv(spark, in).cells)),
      "write" -> (() => SortedParquetCellSink.writeData(BulkLoad.csv(spark, in).cells, dir())),
      "manifest" -> (() => { val d = dir(); SortedParquetCellSink.write(BulkLoad.csv(spark, in).cells, d) }),
      "postCommit" -> (() => { val d = dir(); val r = BulkLoad.csv(spark, in)
        r.sink.write(r.cells, d); r.sink.postCommit(d) })))

    layers.set("sources.Delimited.self_s", self("parse"), "noop-forced parse prefix")
    layers.set("sources.Delimited.rows_in", Rows)
    layers.set("sources.Delimited.quarantine_ratio", quarantined.toDouble / Rows,
      s"$quarantined quarantined / $Rows lines")
    layers.set("functions.KeyFunctions.self_s", self("key"), "+key prefix minus parse prefix")
    layers.set("operators.RegionSort.self_s", self("exchange"), "+exchange prefix minus +key prefix")
    layers.set("operators.RegionSort.shuffle_bytes", write.shuffleBytes)
    layers.set("operators.RegionSort.shuffle_records", write.shuffleRecords)
    layers.set("operators.RegionSort.fetch_wait_s", write.fetchWaitS)
    layers.set("operators.RegionSort.input_read_ratio", write.inputBytes / inBytes,
      s"${write.inputBytes} bytes read by the write's jobs (sampling pass included) / ${inBytes.toLong} input bytes")
    layers.set("operators.RegionSort.region_skew", skew(cellsDir), "largest region's cells / mean over regions")
    layers.set("operators.CellOps.self_s", self("explode_sort"), "+explode/sort prefix minus +exchange prefix")
    layers.set("operators.CellOps.cells_out", Parquet.manifest(cellsDir).toSeq.flatMap(_.values.map(_.rows)).sum)
    layers.set("operators.CellOps.spill_bytes", write.spillBytes)
    layers.set("BulkLoad.SortedParquetCellSink.write_s", self("write"), "+write prefix minus +explode/sort prefix")
    layers.set("BulkLoad.SortedParquetCellSink.postCommit_s", t.seconds("postCommit"))
    layers.set("BulkLoad.SortedParquetCellSink.bytes_written", write.outputBytes)
    layers.set("BulkLoad.SortedParquetCellSink.files_written", write.filesWritten)
    layers.set("sources.CellManifest.write_s", t.seconds("CellManifest.write"),
      f"span; +manifest prefix minus +write prefix = ${self("manifest")}%.4f s")
    layers.set("sources.CellManifest.footer_opens", tr.footerOpens)
    Layers.session(layers, tr.all, tr.jobs.size)
    Io.delete(new File(run.path("trace")))
  }
}

/** `stream_ingest`: a backlog of small seeded files drained by
  * `StreamingIngest.run` — csv-compat naive split, one file per trigger,
  * a minor compaction every [[CompactEvery]] batches. */
object StreamIngestWorkload extends Workload {
  import Ingest._
  import Io._
  val name = "stream_ingest"
  val LinesPerFile = 500
  /** Backlog files (= micro-batches) per second of `--seconds`. */
  val FilesPerSecond = 3.5
  val CompactEvery = 5
  val cfg: BulkLoad.Config = BulkLoad.Config(compatNaiveSplit = true)
  /** The boundaries StreamingIngest fixes for an unsplit config. */
  val splits: Array[Array[Byte]] = RegionSort.uniformMd5Splits(cfg.regions)

  private def inDir(run: Run) = run.path("in/stream")
  private def files(run: Run) = run.count(FilesPerSecond, 12)
  private def lines(run: Run) = files(run) * LinesPerFile
  private def records(run: Run) = Gen.records(run.seed, lines(run))

  def generate(run: Run): Unit = {
    records(run).grouped(LinesPerFile).zipWithIndex.foreach { case (recs, f) =>
      write(f"${inDir(run)}/part-$f%05d.csv", Gen.csvBytes(recs.toSeq))
    }
    Gen.records(run.seed + 1, 200).grouped(100).zipWithIndex.foreach { case (recs, f) =>
      write(run.path(f"in/warm_stream/part-$f%05d.csv"), Gen.csvBytes(recs.toSeq))
    }
  }

  def drain(spark: SparkSession, in: String, out: String): Seq[StreamingIngest.BatchResult] =
    StreamingIngest.run(spark, in, out, s"$out/_checkpoint", cfg, ",",
      maxFilesPerTrigger = 1, compactEvery = CompactEvery)

  def setUp(run: Run): Unit = {
    drain(run.spark, run.path("in/warm_stream"), run.path("warm"))
    Io.delete(new File(run.path("warm")))
  }

  /** One drain of the whole backlog: every file is one micro-batch. */
  def measure(run: Run): Unit = {
    val spark = run.spark
    val n = files(run)
    val inBytes = Io.sizeOf(new File(inDir(run))).toDouble
    val listener = BatchListener.attach(spark)
    val out = new File(run.path("out/drain"))
    val w0 = Io.fsBytesWritten()
    val t0 = System.nanoTime()
    val res = run.op("drain")(drain(spark, inDir(run), out.getPath))
    val secs = secondsSince(t0)
    PerfbenchBus.drain(spark.sparkContext)
    val written = Io.fsBytesWritten() - w0
    val triggers = listener.drain().map(_._2)
    spark.streams.removeListener(listener)
    run.report += f"  [measured $secs%.2f s]"
    val recs = records(run)
    val expected = Check.fingerprint(recs.iterator.flatMap(Gen.naiveCells))
    val expectedQ = recs.count(Gen.naiveRejected).toLong
    run.attempted += n // every micro-batch is an operation
    run.failed += math.max(0, n - res.map(_.size).getOrElse(0))
    res.foreach { r =>
      run.check("batches") {
        if (r.size == n && triggers.size == n) Nil
        else Seq(s"${r.size} batch results and ${triggers.size} triggers for $n files")
      }
      checkDrain(run, out, expected, expectedQ)
      run.put("rows_per_s", lines(run) / secs, "records/s")
      run.put("space_amp", servedDirs(out).map(layoutBytes).sum / inBytes, "ratio")
      run.put("write_amp", written / inBytes, "ratio")
      run.putLatency("batch", triggers, "s", 1.0)
    }
    Io.delete(out)
    run.report += s"  drain: $n files x $LinesPerFile lines (${inBytes.toLong} bytes), " +
      s"compaction every $CompactEvery batches, expected ${expected._1} cells, $expectedQ quarantined"
  }

  /** The served layout after a drain: the compacted serving dir plus the
    * batch filesets landed since the last sweep. */
  private def servedDirs(out: File): Seq[File] =
    new File(out, "serving") +: batchDirs(out)

  private def batchDirs(out: File): Seq[File] =
    Option(out.listFiles()).toSeq.flatten.filter(d => d.isDirectory && d.getName.matches("batch_\\d+")).sortBy(_.getName)

  private def checkDrain(run: Run, out: File, expected: (Long, Long), expectedQ: Long): Unit = {
    run.check(s"${out.getName} layout") {
      val serving = new File(out, "serving")
      val sm = Parquet.manifest(serving)
      // each minor sweep installs one fileset, named part-<stamp>-<i>
      val sweeps = Parquet.regionFiles(serving).groupBy(_.name.split("-")(1)).values.toSeq
        .map(fs => Check.fileset(fs, sm))
      val batches = batchDirs(out).map(d => Check.fileset(Parquet.regionFiles(d), Parquet.manifest(d), Some(splits)))
      val all = sweeps ++ batches
      val merged = Check.Layout(all.map(_.cells).sum, all.map(_.hash).sum, Nil, all.flatMap(_.problems))
      Check.matches("served cells", merged, expected) ++
        Check.noStaleEntries(Parquet.partFiles(serving).map(_.getName), sm)
    }
    run.check(s"${out.getName} quarantine") {
      val q = Option(out.listFiles()).toSeq.flatten.filter(_.getName.endsWith(".quarantine"))
        .flatMap(Parquet.partFiles).map(Parquet.rowCount).sum
      if (q == expectedQ) Nil else Seq(s"$q rows quarantined, expected $expectedQ")
    }
  }

  def traced(run: Run, layers: Layers): Unit = {
    val spark = run.spark
    val in = inDir(run)
    var res: Seq[StreamingIngest.BatchResult] = Nil
    var trigger = Map.empty[Long, Double]
    val tr = Traced.abba(run, layers) { (t, tag) =>
      if (!t.enabled) drain(spark, in, run.path(s"trace/$tag"))
      else {
        val batchListener = BatchListener.attach(spark)
        res = t.span("StreamingIngest.run")(drain(spark, in, run.path(s"trace/$tag")))
        PerfbenchBus.drain(spark.sparkContext)
        spark.streams.removeListener(batchListener)
        trigger = batchListener.drain().toMap
      }
    }
    val out = new File(run.path("trace/u2"))
    val recs = records(run)
    checkDrain(run, out, Check.fingerprint(recs.iterator.flatMap(Gen.naiveCells)), recs.count(Gen.naiveRejected).toLong)
    val quarantined = Option(out.listFiles()).toSeq.flatten
      .filter(_.getName.endsWith(".quarantine")).flatMap(Parquet.partFiles).map(Parquet.rowCount).sum
    // compaction re-sorts cells with the cell-level exchange; batches
    // exchange rows
    val compaction = tr.all.filter(_.runs("RegionAlignedSort"))
    val rows = tr.all.filter(s => !s.runs("RegionAlignedSort"))

    // per-batch trigger, body and sweep accounting
    val batches = res.sortBy(_.batchId).zipWithIndex.map { case (b, i) =>
      (trigger.getOrElse(b.batchId, 0.0), b.secs, (i + 1) % CompactEvery == 0)
    }
    val (swept, plain) = batches.partition(_._3)
    val enginePerBatch = if (plain.isEmpty) 0.0 else Stats.median(plain.map(b => b._1 - b._2))
    val sweepS = swept.map(b => b._1 - b._2 - enginePerBatch).sum
    def mean(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else xs.sum / xs.size
    layers.set("streaming.StreamingIngest.body_s", res.map(_.secs).sum, "sum of foreachBatch body seconds")
    layers.set("streaming.StreamingIngest.engine_s", batches.map(b => b._1 - b._2).sum - sweepS,
      "sum of (trigger - body) minus sweep time")
    layers.set("streaming.StreamingIngest.deferred_s", res.map(_.deferredSecs).sum)
    layers.set("streaming.StreamingIngest.jobs_per_batch",
      tr.jobs.size.toDouble / math.max(1, res.size), s"${tr.jobs.size} jobs / ${res.size} batches")
    layers.set("sources.CellCompaction.sweep_s", sweepS,
      f"sum over sweep batches of (trigger - body - median non-sweep engine time $enginePerBatch%.4f s)")
    layers.set("sources.CellCompaction.sweeps", swept.size)
    layers.set("sources.CellCompaction.bytes_rewritten", compaction.outputBytes)
    layers.set("sources.CellCompaction.stall_s", mean(swept.map(_._1)) - mean(plain.map(_._1)),
      "mean trigger of sweep batches - mean trigger of the others")
    layers.set("plans.RegionAlignedSort.row_shuffle_bytes", rows.shuffleBytes)
    layers.set("plans.RegionAlignedSort.row_shuffle_records", rows.shuffleRecords)
    layers.set("plans.RegionAlignedSort.row_fetch_wait_s", rows.fetchWaitS)
    layers.set("plans.RegionAlignedSort.cell_shuffle_bytes", compaction.shuffleBytes)
    layers.set("plans.RegionAlignedSort.cell_shuffle_records", compaction.shuffleRecords)
    layers.set("plans.RegionAlignedSort.cell_fetch_wait_s", compaction.fetchWaitS)
    layers.set("operators.CellOps.cells_out", res.map(_.cells).sum)
    layers.set("operators.CellOps.spill_bytes", rows.spillBytes)
    layers.set("BulkLoad.SortedParquetCellSink.write_s", res.map(_.phases.getOrElse("write", 0.0)).sum,
      "sum of per-batch write phases (the lazy parse/key/exchange/sort run inside them)")
    layers.set("BulkLoad.SortedParquetCellSink.postCommit_s", res.map(_.phases.getOrElse("post_commit", 0.0)).sum)
    layers.set("BulkLoad.SortedParquetCellSink.bytes_written", rows.outputBytes, "cells and quarantine, outside compaction")
    layers.set("BulkLoad.SortedParquetCellSink.files_written", rows.filesWritten)
    layers.set("sources.CellManifest.write_s", res.map(_.deferredSecs).sum,
      "deferred lane: manifest write plus cell-count readback")
    layers.set("sources.CellManifest.footer_opens", tr.footerOpens)
    Layers.session(layers, tr.all, tr.jobs.size)

    // the same parse/key/exchange/explode chain over the whole backlog as
    // one batch, forced through noop prefix by prefix
    def parsed = Delimited.naiveSplit(spark, in, ",", Gen.Arity)._1
    val self = prefixSelfTimes(Seq(
      "parse" -> (() => noop(parsed)),
      "key" -> (() => noop(keyed(parsed))),
      "exchange" -> (() => noop(graft.plans.RegionAlignedRowExchange(keyed(parsed), splits))),
      "explode_sort" -> (() => noop(exploded(graft.plans.RegionAlignedRowExchange(keyed(parsed), splits))))))
    layers.set("sources.Delimited.self_s", self("parse"), "noop-forced parse of the whole backlog")
    layers.set("sources.Delimited.rows_in", lines(run))
    layers.set("sources.Delimited.quarantine_ratio", quarantined.toDouble / lines(run),
      s"$quarantined quarantined / ${lines(run)} lines")
    layers.set("functions.KeyFunctions.self_s", self("key"), "+key minus parse, whole backlog")
    layers.set("operators.CellOps.self_s", self("explode_sort"), "+explode/sort minus +exchange, whole backlog")
    Io.delete(new File(run.path("trace")))
  }
}
