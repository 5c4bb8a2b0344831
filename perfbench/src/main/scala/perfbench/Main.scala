package perfbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

final case class Metric(value: Double, unit: String)

/** State of one benchmark invocation: the session, the operation ledger
  * (attempted / failed — an operation is a run, a batch, a read or a
  * check), the metrics and the human-readable report. */
final class Run(val workload: String, val seed: Long, val seconds: Double,
                val work: File, val cpus: Int) {
  var spark: SparkSession = _
  var attempted = 0L
  var failed = 0L
  val problems = mutable.ArrayBuffer.empty[String]
  val metrics = mutable.LinkedHashMap.empty[String, Metric]
  val report = mutable.ArrayBuffer.empty[String]

  def path(rel: String): String = new File(work, rel).getPath

  /** One engine operation: counted, and a throw counts it failed. */
  def op[T](what: String)(body: => T): Option[T] = {
    attempted += 1
    try Some(body)
    catch {
      case scala.util.control.NonFatal(e) =>
        failed += 1
        problems += s"$what failed: $e"
        None
    }
  }

  /** One output check: failed when it reports any problem. */
  def check(what: String)(found: => Seq[String]): Unit = {
    attempted += 1
    val p = try found catch { case scala.util.control.NonFatal(e) => Seq(s"check threw $e") }
    if (p.nonEmpty) {
      failed += 1
      problems ++= p.take(5).map(x => s"$what: $x")
    }
  }

  def put(name: String, value: Double, unit: String): Unit = {
    require(Main.declared.contains(name), s"$name is not declared in Layers")
    metrics(name) = Metric(value, unit)
  }

  /** How many operations a run makes: `perSecond` × `--seconds` (at least
    * `min`). The rates are calibrated so a run takes about `--seconds` on
    * 4 cores; fixing the count, not the time, keeps sample counts — and so
    * the tail percentiles — the same however fast the engine is. */
  def count(perSecond: Double, min: Int): Int = math.max(min, math.round(perSecond * seconds).toInt)

  /** Median and tail of a latency sample (`scale` converts seconds to the
    * metric's unit), with the tail's percentile and sample count noted. Too
    * few samples for a tail is a failed check. */
  def putLatency(prefix: String, secs: Seq[Double], unit: String, scale: Double): Unit =
    Stats.tail(secs) match {
      case Some(t) =>
        put(s"${prefix}_p50_$unit", Stats.median(secs) * scale, unit)
        put(s"${prefix}_tail_$unit", t.value * scale, unit)
        report += f"  ${prefix}_tail_$unit is p${t.percentile}%.1f of ${t.samples} samples"
      case None => check(s"$prefix samples")(Seq(s"${secs.length} samples, too few for a tail percentile"))
    }
}

/** A workload: generates its inputs, sets up, measures a closed loop with
  * one client, checks what it produced, and answers a traced pass. */
trait Workload {
  def name: String
  def generate(run: Run): Unit
  /** One set-up after the session starts: warm-up (and, where the
    * workload serves data, building what it serves). */
  def setUp(run: Run): Unit
  def measure(run: Run): Unit
  def traced(run: Run, layers: Layers): Unit
}

object Main {
  /** Set-ups per run; `setup_s` is their median. */
  val SetUps = 3

  /** Every metric name a run may report. */
  val declared: Set[String] = (Layers.endToEnd ++ Layers.workloadOnly ++ Layers.all).map(_._1).toSet

  val workloads: Map[String, Workload] =
    Seq(BulkLoadWorkload, StreamIngestWorkload, ServeReadsWorkload, CorpusDedupWorkload)
      .map(w => w.name -> w).toMap

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    if (opts.contains("--train")) train(new File(opts("--train")))
    val w = workloads.getOrElse(opts.getOrElse("--workload", ""), {
      System.err.println(s"usage: --workload <${workloads.keys.toSeq.sorted.mkString("|")}> " +
        "--seed <n> --seconds <s> --trace <0|1> --work <dir> [--report <file>]")
      sys.exit(2)
    })
    val run = new Run(w.name, opts("--seed").toLong, opts("--seconds").toDouble,
      new File(opts("--work")), Runtime.getRuntime.availableProcessors())
    val trace = opts.getOrElse("--trace", "0") == "1"
    val exit = try execute(w, run, trace, opts.get("--report")) finally {
      if (run.spark != null) run.spark.stop()
    }
    sys.exit(exit)
  }

  /** Runs one set-up of every workload and exits: the class-loading
    * profile run.py dumps into a class-data-sharing archive after a build,
    * so each run's JVM maps those classes instead of loading them. */
  private def train(work: File): Unit = {
    workloads.values.foreach { w =>
      val run = new Run(w.name, 0L, 1.0, new File(work, w.name), Runtime.getRuntime.availableProcessors())
      w.generate(run)
      run.spark = graft.GraftSession.local(s"perfbench-${w.name}", run.cpus)
      try w.setUp(run) finally run.spark.stop()
    }
    sys.exit(0)
  }

  private def execute(w: Workload, run: Run, trace: Boolean, reportFile: Option[String]): Int = {
    val t0 = System.nanoTime()
    def phase(what: String): Unit = run.report += f"  [$what at ${(System.nanoTime() - t0) / 1e9}%.2f s]"
    w.generate(run)
    phase("generated")
    // the traced run reports no set-up time, so it sets up once
    val setups = (1 to (if (trace) 1 else SetUps)).map { _ =>
      if (run.spark != null) run.spark.stop()
      val t0 = System.nanoTime()
      run.spark = graft.GraftSession.local(s"perfbench-${w.name}", run.cpus)
      w.setUp(run)
      (System.nanoTime() - t0) / 1e9
    }
    phase("set up")
    val layers = new Layers
    if (trace) {
      w.traced(run, layers)
      layers.values.foreach { case (n, m) => run.put(n, m.value, m.unit) }
      run.report ++= layers.bases
      reportFile.foreach { f =>
        val p = new java.io.PrintWriter(f, "UTF-8")
        try p.println(layers.json(run)) finally p.close()
      }
    } else {
      run.put("setup_s", Stats.median(setups), "s")
      val rss = new RssSampler
      rss.start()
      try w.measure(run) finally run.put("peak_rss_mb", rss.finish(), "MB")
      run.report += f"  set-ups: ${setups.map(s => f"$s%.3f").mkString(", ")} s (median reported)"
    }
    phase("done")
    // the result line holds every metric of its list, on every workload
    val required = (if (trace) Layers.all else Layers.endToEnd).map(_._1)
    run.check("result metrics") {
      required.filterNot(run.metrics.contains).map(n => s"$n was not measured")
    }
    val errorRate = run.failed.toDouble / math.max(1L, run.attempted)
    println(s"perfbench ${w.name} seed=${run.seed} seconds=${run.seconds} trace=${if (trace) 1 else 0} " +
      s"cpus=${run.cpus} xmx_mb=${Runtime.getRuntime.maxMemory / (1 << 20)}")
    run.metrics.foreach { case (n, m) => println(f"  $n%-52s ${m.value}%14.6f ${m.unit}") }
    println(f"  ${"error_rate"}%-52s $errorRate%14.6f ratio (${run.failed} of ${run.attempted} operations)")
    run.report.foreach(println)
    run.problems.take(20).foreach(p => println(s"  FAILED: $p"))
    val metricsJson = required.flatMap(n => run.metrics.get(n).map(m =>
      s""""$n": {"value": ${json(m.value)}, "unit": "${m.unit}"}""")).mkString(", ")
    println(s"""{"correct": ${run.failed == 0}, "attempted": ${run.attempted}, """ +
      s""""failed": ${run.failed}, "metrics": {$metricsJson}}""")
    if (run.failed == 0) 0 else 1
  }

  def json(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.math.BigDecimal.valueOf(d).toPlainString
}
