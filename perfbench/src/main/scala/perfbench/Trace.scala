package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Spans around the benchmark's calls into the engine. Each span sets a
  * Spark local property while it is open, so every job (and its stages)
  * submitted from inside it — including from threads the engine starts
  * there — carries the span id, and [[TaskListener]] can attribute task
  * metrics to it. Spans stay in memory until the run writes its report. */
final class Tracer(sc: SparkContext, val enabled: Boolean = true) {
  import Tracer._
  val runId: String = java.util.UUID.randomUUID().toString
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var open: List[Span] = Nil

  /** Runs `body` inside a new span (a plain call when tracing is off). */
  def span[T](name: String)(body: => T): T = if (!enabled) body else {
    val s = Span(spans.length, name, open.headOption.map(_.id), System.nanoTime())
    spans += s
    val prev = sc.getLocalProperty(SpanKey)
    sc.setLocalProperty(SpanKey, s.id.toString)
    open = s :: open
    try body
    finally {
      s.end = System.nanoTime()
      open = open.tail
      sc.setLocalProperty(SpanKey, prev)
    }
  }

  def all: Seq[Span] = spans.toSeq
  def named(name: String): Seq[Span] = spans.filter(_.name == name).toSeq
  def seconds(name: String): Double = named(name).map(_.seconds).sum

  /** Span ids of `s` and everything opened inside it. */
  def subtree(s: Span): Set[Int] = {
    val kids = spans.filter(_.parent.contains(s.id))
    kids.flatMap(subtree).toSet + s.id
  }

  /** Duration minus the part of it covered by direct child spans. */
  def selfSeconds(s: Span): Double = {
    val kids = spans.filter(_.parent.contains(s.id)).map(k => (k.start, k.end)).sortBy(_._1)
    var covered = 0L
    var (lo, hi) = (Long.MinValue, Long.MinValue)
    kids.foreach { case (a, b) =>
      if (a > hi) { covered += math.max(0L, hi - lo); lo = a; hi = b }
      else hi = math.max(hi, b)
    }
    covered += math.max(0L, hi - lo)
    (s.end - s.start - covered) / 1e9
  }

  /** The spans as JSON objects, comma-separated. */
  def toJson: String = spans.map { s =>
    s"""{"run":"$runId","id":${s.id},"name":"${s.name}","parent":${s.parent.getOrElse("null")},""" +
      s""""start_ns":${s.start},"end_ns":${s.end},"self_s":${selfSeconds(s)}}"""
  }.mkString(",\n")
}

object Tracer {
  val SpanKey = "perfbench.span"
  /** A tracer that records nothing: the untraced code path. */
  def off(sc: SparkContext): Tracer = new Tracer(sc, enabled = false)
  final case class Span(id: Int, name: String, parent: Option[Int], start: Long) {
    var end: Long = start
    def seconds: Double = (end - start) / 1e9
  }
}

/** Task metrics summed per stage, plus the physical plan of the SQL
  * execution the stage belongs to and the span its job was submitted
  * under. */
final class StageSum(val plan: String, val span: Option[Int]) {
  var tasks = 0L
  var cpuS, gcS, schedDelayS, fetchWaitS = 0.0
  var shuffleWriteBytes, shuffleWriteRecords = 0L
  var inputBytes, inputRecords, outputBytes, filesWritten, spillBytes = 0L
  /** The stage's physical plan mentions `node`. */
  def runs(node: String): Boolean = plan.contains(node)
}

/** A job: the span it was submitted under and its stages' call sites. */
final case class JobRec(span: Option[Int], stageNames: Seq[String])

/** Registered only for a traced pass: sums task metrics per stage and
  * keeps each job's span and stages. */
final class TaskListener extends SparkListener {
  val stages = new java.util.concurrent.ConcurrentHashMap[Int, StageSum]()
  val jobs = new java.util.concurrent.ConcurrentHashMap[Int, JobRec]()
  private val plans = new java.util.concurrent.ConcurrentHashMap[Long, String]()

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
      plans.put(s.executionId, s.physicalPlanDescription)
    case _ =>
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    def prop(k: String) = Option(e.properties).flatMap(p => Option(p.getProperty(k)))
    val span = prop(Tracer.SpanKey).map(_.toInt)
    val plan = prop("spark.sql.execution.id").flatMap(id => Option(plans.get(id.toLong))).getOrElse("")
    e.stageInfos.foreach(si => stages.putIfAbsent(si.stageId, new StageSum(plan, span)))
    jobs.put(e.jobId, JobRec(span, e.stageInfos.map(_.name)))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val s = stages.get(e.stageId)
    val m = e.taskMetrics
    if (s != null && m != null) s.synchronized {
      val info = e.taskInfo
      s.tasks += 1
      s.cpuS += m.executorCpuTime / 1e9
      s.gcS += m.jvmGCTime / 1e3
      s.schedDelayS += math.max(0L, info.duration - m.executorRunTime -
        m.executorDeserializeTime - m.resultSerializationTime - info.gettingResultTime) / 1e3
      s.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      s.shuffleWriteRecords += m.shuffleWriteMetrics.recordsWritten
      s.fetchWaitS += m.shuffleReadMetrics.fetchWaitTime / 1e3
      s.inputBytes += m.inputMetrics.bytesRead
      s.inputRecords += m.inputMetrics.recordsRead
      s.outputBytes += m.outputMetrics.bytesWritten
      // a write task that wrote records wrote one file
      if (m.outputMetrics.recordsWritten > 0) s.filesWritten += 1
      s.spillBytes += m.diskBytesSpilled + m.memoryBytesSpilled
    }
  }

  def stagesIn(spans: Set[Int]): Seq[StageSum] =
    stages.values().asScala.filter(_.span.exists(spans)).toSeq
  def jobsIn(spans: Set[Int]): Seq[JobRec] =
    jobs.values().asScala.filter(_.span.exists(spans)).toSeq
}

object TaskListener {
  /** Registers a new listener after draining the bus, so no event posted
    * earlier reaches it. */
  def attach(sc: SparkContext): TaskListener = {
    org.apache.spark.PerfbenchBus.drain(sc)
    val l = new TaskListener
    sc.addSparkListener(l)
    l
  }
}

/** One traced pass: its tracer, the task listener that ran beside it, and
  * the footer opens it caused. */
final case class Traced(tracer: Tracer, listener: TaskListener, footerOpens: Long) {
  def root: Tracer.Span = tracer.all.head
  /** Stages of the spans called `name` and everything inside them. */
  def under(name: String): Agg = Agg(listener.stagesIn(tracer.named(name).flatMap(tracer.subtree).toSet))
  def all: Agg = Agg(listener.stagesIn(tracer.subtree(root)))
  def jobs: Seq[JobRec] = listener.jobsIn(tracer.subtree(root))
}

object Traced {
  /** Driver-side footer opens so far (`CellScan.footerOpens` plus
    * `CellManifest.statReads`). */
  def footerOpens(): Long =
    graft.sources.CellScan.footerOpens.get() + graft.sources.CellManifest.statReads.get()

  /** The traced run's passes over one workload body: a discarded warm-up
    * pass, then untraced, traced, traced, untraced (ABBA, so a warm-up
    * trend cancels out of the overhead). `pass(tracer, tag)` runs the body
    * once; `tag` (w, u1, t1, t2, u2) names the pass for its output paths.
    * Each traced pass gets its own tracer and task listener; the second is
    * returned for the per-layer figures. Sets `trace.overhead_s` to the
    * traced passes' mean minus the untraced passes' mean. */
  def abba(run: Run, layers: Layers)(pass: (Tracer, String) => Unit): Traced = {
    val sc = run.spark.sparkContext
    def untraced(tag: String) = run.op(s"untraced pass $tag")(Io.timed(pass(Tracer.off(sc), tag)))
    def traced(tag: String) = {
      val listener = TaskListener.attach(sc)
      val t = new Tracer(sc)
      val fo0 = footerOpens()
      val secs = run.op(s"traced pass $tag")(Io.timed(t.span(run.workload)(pass(t, tag))))
      org.apache.spark.PerfbenchBus.drain(sc)
      sc.removeSparkListener(listener)
      (secs, Traced(t, listener, footerOpens() - fo0))
    }
    untraced("w")
    val u1 = untraced("u1")
    val (t1, _) = traced("t1")
    val (t2, kept) = traced("t2")
    val u2 = untraced("u2")
    val (ts, us) = (Seq(t1, t2).flatten, Seq(u1, u2).flatten)
    if (ts.size == 2 && us.size == 2)
      layers.set("trace.overhead_s", ts.sum / 2 - us.sum / 2,
        f"mean of traced passes ${ts.map(x => f"$x%.4f").mkString(", ")} s - " +
          f"mean of untraced passes ${us.map(x => f"$x%.4f").mkString(", ")} s")
    layers.spans += kept.tracer.toJson
    kept
  }
}

/** Sums over a set of stages. */
final case class Agg(stages: Seq[StageSum]) {
  private def sumL(f: StageSum => Long) = stages.map(f).sum
  private def sumD(f: StageSum => Double) = stages.map(f).sum
  def tasks: Long = sumL(_.tasks)
  def cpuS: Double = sumD(_.cpuS)
  def gcS: Double = sumD(_.gcS)
  def schedDelayS: Double = sumD(_.schedDelayS)
  def shuffleBytes: Long = sumL(_.shuffleWriteBytes)
  def shuffleRecords: Long = sumL(_.shuffleWriteRecords)
  def fetchWaitS: Double = sumD(_.fetchWaitS)
  def inputBytes: Long = sumL(_.inputBytes)
  def inputRecords: Long = sumL(_.inputRecords)
  def outputBytes: Long = sumL(_.outputBytes)
  def filesWritten: Long = sumL(_.filesWritten)
  def spillBytes: Long = sumL(_.spillBytes)
  def filter(p: StageSum => Boolean): Agg = Agg(stages.filter(p))
}

/** Trigger durations of every micro-batch that read input. */
final class BatchListener extends StreamingQueryListener {
  val triggers = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Double)]()
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    if (p.numInputRows > 0)
      triggers.add((p.batchId, p.durationMs.get("triggerExecution").toDouble / 1e3))
  }
  /** (batch id, trigger seconds) collected so far, then cleared. */
  def drain(): Seq[(Long, Double)] = {
    val out = triggers.asScala.toSeq.sortBy(_._1)
    triggers.clear()
    out
  }
}

object BatchListener {
  def attach(spark: org.apache.spark.sql.SparkSession): BatchListener = {
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    val l = new BatchListener
    spark.streams.addListener(l)
    l
  }
}

/** Peak resident set size of this process, sampled every 10 ms while on. */
final class RssSampler extends Thread("perfbench-rss") {
  setDaemon(true)
  @volatile private var running = true
  @volatile var peakKb: Long = 0L
  private val status = java.nio.file.Paths.get("/proc/self/status")

  def sample(): Long =
    java.nio.file.Files.readAllLines(status).asScala
      .find(_.startsWith("VmRSS:")).map(_.split("\\s+")(1).toLong).getOrElse(0L)

  override def run(): Unit =
    while (running) {
      peakKb = math.max(peakKb, sample())
      Thread.sleep(10)
    }

  def finish(): Double = {
    running = false
    join()
    peakKb = math.max(peakKb, sample())
    peakKb / 1024.0
  }
}

object Io {
  def write(path: String, bytes: Array[Byte]): Unit = {
    val f = new java.io.File(path)
    f.getParentFile.mkdirs()
    java.nio.file.Files.write(f.toPath, bytes)
  }

  def secondsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** Runs `body` and returns its wall-clock seconds. */
  def timed(body: => Unit): Double = { val t0 = System.nanoTime(); body; secondsSince(t0) }

  /** Bytes written through Hadoop's local file system by every thread of
    * this process since start (executors run in-process under local[n]). */
  def fsBytesWritten(): Long =
    org.apache.hadoop.fs.FileSystem.getAllStatistics.asScala
      .filter(_.getScheme == "file").map(_.getBytesWritten).sum

  def sizeOf(f: java.io.File): Long =
    if (f.isFile) f.length() else Option(f.listFiles()).toSeq.flatten.map(sizeOf).sum

  def delete(f: java.io.File): Unit = {
    Option(f.listFiles()).toSeq.flatten.foreach(delete)
    f.delete()
  }
}
