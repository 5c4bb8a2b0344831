package perfbench

import java.io.File
import java.util.SplittableRandom

import scala.collection.mutable

import graft.{BulkLoad, SortedParquetCellSink}
import graft.operators.RegionSort
import graft.sources.{CellManifest, CellScan}
import org.apache.spark.PerfbenchBus
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** `serve_reads`: set-up bulk-loads a seeded table into [[Regions]]
  * explicit uniform-MD5 regions; one client then issues a seeded mix of
  * point Gets (present and absent keys), multi-Gets of [[MultiGetKeys]]
  * keys and one-byte prefix scans, collecting each result. Its
  * `rows_per_s` is cells returned per second of reading. */
object ServeReadsWorkload extends Workload {
  import Io._
  val name = "serve_reads"
  val Rows = 20000
  val Regions = 64
  val MultiGetKeys = 8
  /** Reads of each kind in one set-up's warm-up. */
  val WarmReads = 3
  /** Reads of each kind in one pass of the traced run. */
  val TracedReads = 10
  /** Reads of each kind per second of `--seconds`. */
  val ReadsPerSecond = 3.5
  val splits: Array[Array[Byte]] = RegionSort.uniformMd5Splits(Regions)
  val cfg: BulkLoad.Config = BulkLoad.Config(splits = Some(splits.toSeq))

  private def table(run: Run) = run.path("serve/table")
  private def records(run: Run) = Gen.records(run.seed, Rows)

  def generate(run: Run): Unit = {
    write(run.path("in/table.csv"), Gen.csvBytes(records(run)))
  }

  def load(spark: SparkSession, in: String, out: String, t: Tracer): Unit = {
    val r = BulkLoad.csv(spark, in, cfg)
    if (t.enabled) {
      t.span("SortedParquetCellSink.writeData")(SortedParquetCellSink.writeData(r.cells, out))
      t.span("CellManifest.write")(CellManifest.write(spark, out))
    } else r.sink.write(r.cells, out)
    t.span("postCommit")(r.sink.postCommit(out))
  }

  /** Build the served table, then warm the read path with a few reads of
    * each kind (a schedule of their own, not the measured one). */
  def setUp(run: Run): Unit = {
    val spark = run.spark
    Io.delete(new File(table(run)))
    load(spark, run.path("in/table.csv"), table(run), Tracer.off(spark.sparkContext))
    schedule(records(run), run.seed + 1, WarmReads).foreach(_.exec(spark, table(run)).collect())
  }

  /** One read: its kind, the call, and the cells it must return. */
  final case class Op(kind: String, exec: (SparkSession, String) => DataFrame, expected: () => Seq[Cell])

  /** A seeded schedule over a table of `recs`: `perKind` Gets (two in
    * three on present keys, the rest on absent ones), `perKind` multi-Gets
    * of [[MultiGetKeys]] keys (three in four present) and `perKind` prefix
    * scans on the first key byte of a present row, in seeded order. */
  def schedule(recs: Seq[Gen.Rec], seed: Long, perKind: Int): Seq[Op] = {
    val rng = new SplittableRandom(seed * 7919 + 17)
    val keyable = recs.filterNot(_.emptyKey).toArray
    val byKey = keyable.map(r => Gen.hex(Gen.rowKey(r.fields)) -> r).toMap
    lazy val byFirstByte = keyable.groupBy(r => Gen.rowKey(r.fields)(0))
    def present() = Gen.rowKey(keyable(rng.nextInt(keyable.length)).fields)
    def absent() = Array.fill(64)(rng.nextInt(256).toByte)
    def cells(k: Array[Byte]) = byKey.get(Gen.hex(k)).toSeq.flatMap(Gen.strictCells)
    val kinds = scala.util.Random.javaRandomToRandom(new java.util.Random(rng.nextLong()))
      .shuffle(Seq.tabulate(3 * perKind)(i => i % 3))
    kinds.zipWithIndex.map {
      case (0, i) =>
        val k = if (i % 3 == 0) absent() else present()
        Op("get", (s, d) => CellScan.get(s, d, k), () => cells(k))
      case (1, _) =>
        val ks = Seq.fill(MultiGetKeys)(if (rng.nextInt(4) == 0) absent() else present())
        Op("multiget", (s, d) => CellScan.multiGet(s, d, ks), () => ks.distinctBy(Gen.hex).flatMap(cells))
      case (_, _) =>
        val p = present().take(1)
        Op("scan", (s, d) => CellScan.scanPrefix(s, d, p),
          () => byFirstByte.getOrElse(p(0), Array.empty[Gen.Rec]).toSeq.flatMap(Gen.strictCells))
    }
  }

  private def toCells(rows: Array[Row]): Seq[Cell] = rows.toSeq.map(r =>
    Cell(r.getAs[Array[Byte]]("row"), r.getAs[Array[Byte]]("family"),
      r.getAs[Array[Byte]]("qualifier"), r.getAs[Array[Byte]]("value")))

  def measure(run: Run): Unit = {
    val spark = run.spark
    val dir = table(run)
    val recs = records(run)
    run.check("served table layout") {
      val expected = Check.fingerprint(recs.iterator.flatMap(Gen.strictCells))
      val m = Parquet.manifest(new File(dir))
      Check.matches("served table", Check.fileset(Parquet.regionFiles(new File(dir)), m, Some(splits)), expected) ++
        Check.noStaleEntries(Parquet.partFiles(new File(dir)).map(_.getName), m)
    }
    val samples = mutable.LinkedHashMap("get" -> mutable.ArrayBuffer.empty[Double],
      "multiget" -> mutable.ArrayBuffer.empty[Double], "scan" -> mutable.ArrayBuffer.empty[Double])
    val results = mutable.ArrayBuffer.empty[(Op, Array[Row])]
    val start = System.nanoTime()
    schedule(recs, run.seed, run.count(ReadsPerSecond, 11)).foreach { op =>
      val t0 = System.nanoTime()
      run.op(op.kind)(op.exec(spark, dir).collect()).foreach { rows =>
        samples(op.kind) += secondsSince(t0)
        results += ((op, rows))
      }
    }
    run.report += f"  [measured ${secondsSince(start)}%.2f s]"
    results.zipWithIndex.foreach { case ((op, rows), i) =>
      run.check(s"${op.kind} $i")(Check.sameCells(op.kind, op.expected(), toCells(rows)).toSeq)
    }
    samples.foreach { case (kind, s) => run.putLatency(kind, s.toSeq, "ms", 1e3) }
    val returned = results.map(_._2.length).sum
    val readS = samples.values.map(_.sum).sum
    if (readS > 0) run.put("rows_per_s", returned / readS, "records/s")
    run.report += s"  reads: ${samples.map { case (k, s) => s"${s.size} $k" }.mkString(", ")} " +
      f"over $Rows rows in $Regions regions; $returned cells returned in $readS%.3f s of reads"
  }

  def traced(run: Run, layers: Layers): Unit = {
    val spark = run.spark
    val sc = spark.sparkContext
    val dir = table(run)
    val recs = records(run)

    // the set-up's load, traced on its own: the row exchange and the sink
    val loadListener = TaskListener.attach(sc)
    val lt = new Tracer(sc)
    run.op("traced set-up load")(lt.span("setup.load")(load(spark, run.path("in/table.csv"), run.path("trace/table"), lt)))
    PerfbenchBus.drain(sc)
    sc.removeSparkListener(loadListener)
    layers.spans += lt.toJson
    val setupLoad = Traced(lt, loadListener, 0L)

    // the reads, in ABBA passes of one schedule
    val ops = schedule(recs, run.seed, TracedReads)
    val reads = ops.length
    var kept, returned = 0L
    val tr = Traced.abba(run, layers) { (t, _) =>
      kept = 0L
      returned = 0L
      ops.foreach { op =>
        t.span(s"read.${op.kind}") {
          val df = t.span("CellScan.plan")(op.exec(spark, dir))
          kept += CellScan.lastKeptFiles.get()
          val rows = t.span("collect")(df.collect())
          returned += rows.length
          if (t.enabled) run.check(s"traced ${op.kind}")(Check.sameCells(op.kind, op.expected(), toCells(rows)).toSeq)
        }
      }
    }
    val t = tr.tracer
    // one manifest read per read, timed on its own after the passes
    val manifestS = (1 to reads).map(_ => timed(CellManifest.read(spark, dir))).sum
    val readAgg = tr.all
    val write = setupLoad.under("SortedParquetCellSink.writeData")

    layers.set("sources.CellScan.plan_s", t.seconds("CellScan.plan"), s"$reads reads, call until the DataFrame returns")
    layers.set("sources.CellScan.exec_s", t.seconds("collect"), s"$reads reads, collect")
    layers.set("sources.CellScan.files_kept", kept.toDouble / reads, s"$kept files kept / $reads reads")
    layers.set("sources.CellScan.rows_scanned_per_row_returned", readAgg.inputRecords.toDouble / math.max(1L, returned),
      s"${readAgg.inputRecords} cells read / $returned cells returned")
    layers.set("sources.CellScan.jobs_per_op", tr.jobs.size.toDouble / reads, s"${tr.jobs.size} jobs / $reads reads")
    layers.set("sources.CellManifest.read_s", manifestS, s"$reads separate CellManifest.read calls")
    layers.set("sources.CellManifest.write_s", lt.seconds("CellManifest.write"), "set-up load")
    layers.set("sources.CellManifest.footer_opens", tr.footerOpens, s"over $reads reads")
    layers.set("plans.RegionAlignedSort.row_shuffle_bytes", setupLoad.all.shuffleBytes, "set-up load")
    layers.set("plans.RegionAlignedSort.row_shuffle_records", setupLoad.all.shuffleRecords, "set-up load")
    layers.set("plans.RegionAlignedSort.row_fetch_wait_s", setupLoad.all.fetchWaitS, "set-up load")
    layers.set("BulkLoad.SortedParquetCellSink.write_s", lt.seconds("SortedParquetCellSink.writeData"),
      "set-up load, the lazy parse/key/exchange/sort included")
    layers.set("BulkLoad.SortedParquetCellSink.postCommit_s", lt.seconds("postCommit"), "set-up load")
    layers.set("BulkLoad.SortedParquetCellSink.bytes_written", write.outputBytes, "set-up load")
    layers.set("BulkLoad.SortedParquetCellSink.files_written", write.filesWritten, "set-up load")
    Layers.session(layers, readAgg, tr.jobs.size)
    Io.delete(new File(run.path("trace")))
  }
}
