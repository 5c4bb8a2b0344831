package perfbench

import graft.operators.Dedup
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** `corpus_dedup`: a seeded corpus with near-duplicate clusters planted at
  * known Jaccard similarities, run through `Dedup.corpusDedup` (word
  * 3-gram MinHash-LSH plus exact verification at Jaccard ≥ 0.7) and then
  * `Dedup.clusters` over the verified pairs. */
object CorpusDedupWorkload extends Workload {
  import Io._
  val name = "corpus_dedup"
  val BaseDocs = 1500
  val Clusters = 150
  val Words = 60
  /** Dedup runs per second of `--seconds`. */
  val RunsPerSecond = 0.6
  /** Untimed dedup runs on the real corpus before the timed ones. */
  val WarmRuns = 2

  private def input(run: Run) = run.path("in/corpus.jsonl")
  private def corpus(run: Run) = Gen.corpus(run.seed, BaseDocs, Clusters, Words)
  private val pairSchema = StructType(Seq(StructField("a", LongType), StructField("b", LongType)))

  def generate(run: Run): Unit = {
    write(input(run), Gen.corpusJsonl(corpus(run)))
    write(run.path("in/warm.jsonl"), Gen.corpusJsonl(Gen.corpus(run.seed + 1, 80, 10, Words)))
  }

  /** Verified pairs (a, b, jaccard), then (doc_id, cluster_id). */
  def dedup(spark: SparkSession, in: String, t: Tracer): (Array[Row], Array[Row]) = {
    val docs = spark.read.schema("doc_id BIGINT, text STRING").json(in)
    val pairs = t.span("Dedup.corpusDedup")(
      Dedup.corpusDedup(docs, Gen.ShingleN, Gen.Threshold).collect())
    val edges = spark.createDataFrame(
      java.util.Arrays.asList(pairs.map(r => Row(r.getAs[Long]("a"), r.getAs[Long]("b"))): _*), pairSchema)
    (pairs, t.span("Dedup.clusters")(Dedup.clusters(edges).collect()))
  }

  def setUp(run: Run): Unit = dedup(run.spark, run.path("in/warm.jsonl"), Tracer.off(run.spark.sparkContext))

  def measure(run: Run): Unit = {
    val spark = run.spark
    val c = corpus(run)
    val outputs = collection.mutable.ArrayBuffer.empty[(Array[Row], Array[Row])]
    val rates = collection.mutable.ArrayBuffer.empty[Double]
    // untimed runs on the real corpus first: the set-ups' small corpus
    // leaves the JIT short of steady state at this size (after one such
    // run, timed runs still sped up by up to 25% from the first to the fifth)
    for (i <- 0 until WarmRuns)
      run.op(s"warm-up dedup $i")(dedup(spark, input(run), Tracer.off(spark.sparkContext)))
    for (i <- 0 until run.count(RunsPerSecond, 2)) {
      val t0 = System.nanoTime()
      run.op(s"dedup $i")(dedup(spark, input(run), Tracer.off(spark.sparkContext))).foreach { out =>
        rates += c.docs.length / secondsSince(t0)
        outputs += out
      }
    }
    val text = c.docs.toMap
    val truth = Gen.truthPairs(c)
    val recalls = outputs.zipWithIndex.map { case (out, k) => check(run, s"dedup $k", out, text, truth) }
    if (rates.nonEmpty) {
      run.put("rows_per_s", Stats.median(rates.toSeq), "records/s")
      run.put("dedup_recall", Stats.median(recalls.toSeq), "ratio")
    }
    run.report += s"  dedup runs: ${rates.map(r => f"$r%.0f").mkString(", ")} docs/s over ${c.docs.length} docs, " +
      s"${c.planted.size} planted clusters, ${truth.size} truth pairs at Jaccard >= ${Gen.Threshold}"
  }

  /** Checks one dedup output; returns its recall against the planted truth. */
  private def check(run: Run, what: String, out: (Array[Row], Array[Row]),
                    text: Map[Long, String], truth: Seq[(Long, Long)]): Double = {
    val (pairs, clusters) = out
    val clusterOf = clusters.map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("cluster_id")).toMap
    run.check(what) {
      Check.dedup(pairs.map(r => (r.getAs[Long]("a"), r.getAs[Long]("b"), r.getAs[Double]("jaccard"))).toSeq,
        clusterOf, text, Gen.Threshold)
    }
    Check.recall(truth, clusterOf)
  }

  def traced(run: Run, layers: Layers): Unit = {
    val spark = run.spark
    var out: (Array[Row], Array[Row]) = (Array.empty, Array.empty)
    val tr = Traced.abba(run, layers)((t, _) => out = dedup(spark, input(run), t))
    val t = tr.tracer
    val c = corpus(run)
    check(run, "traced dedup", out, c.docs.toMap, Gen.truthPairs(c))
    val agg = tr.all
    val checkpointJobs = tr.jobs.count(_.stageNames.exists(n => n.startsWith("localCheckpoint") || n.startsWith("checkpoint")))
    layers.set("operators.Dedup.corpusDedup_s", t.seconds("Dedup.corpusDedup"), "call plus collecting the verified pairs")
    layers.set("operators.Dedup.clusters_s", t.seconds("Dedup.clusters"), "call plus collecting the clusters")
    layers.set("operators.Dedup.pairs_verified", out._1.length)
    layers.set("operators.Dedup.clusters", out._2.map(_.getAs[Long]("cluster_id")).distinct.length)
    layers.set("operators.Dedup.shuffle_bytes", agg.shuffleBytes)
    layers.set("operators.Dedup.shuffle_records_per_doc", agg.shuffleRecords.toDouble / c.docs.length,
      s"${agg.shuffleRecords} shuffle records / ${c.docs.length} docs")
    layers.set("operators.Dedup.checkpoint_jobs", checkpointJobs, s"of ${tr.jobs.size} jobs")
    Layers.session(layers, agg, tr.jobs.size)
  }
}
