package perfbench

import java.nio.charset.StandardCharsets.UTF_8

import org.scalatest.funsuite.AnyFunSuite

/** Self-tests of the benchmark harness: its generators, checkers, tail
  * rule and metric names. Run with `sbt test` inside perfbench/. */
class HarnessSpec extends AnyFunSuite {

  test("the same seed gives byte-identical inputs; another seed gives other inputs") {
    assert(Gen.csvBytes(Gen.records(7, 2000)).sameElements(Gen.csvBytes(Gen.records(7, 2000))))
    assert(!Gen.csvBytes(Gen.records(7, 2000)).sameElements(Gen.csvBytes(Gen.records(8, 2000))))
    val c = Gen.corpusJsonl(Gen.corpus(7, 200, 20, 40))
    assert(c.sameElements(Gen.corpusJsonl(Gen.corpus(7, 200, 20, 40))))
    assert(!c.sameElements(Gen.corpusJsonl(Gen.corpus(8, 200, 20, 40))))
  }

  test("generated drops have the fixture's shape and planted shares") {
    val recs = Gen.records(3, 20000)
    assert(recs.forall(_.fields.length == Gen.Arity))
    val quoted = recs.count(_.quoted).toDouble / recs.length
    val emptyKey = recs.count(_.emptyKey).toDouble / recs.length
    assert(quoted > 0.01 && quoted < 0.03, quoted)
    assert(emptyKey > 0.002 && emptyKey < 0.01, emptyKey)
    // a quoted comma is one field to the strict reader, two to the naive split
    assert(recs.filter(_.quoted).forall(Gen.naiveRejected))
    assert(recs.filterNot(_.quoted).forall(r => !Gen.naiveRejected(r)))
    assert(recs.map(_.fields(1)).distinct.length == recs.length, "eia_id keeps row keys unique")
  }

  test("planted clusters reach their Jaccard targets and truth excludes the low ones") {
    val c = Gen.corpus(5, 300, 40, 60)
    val truth = Gen.truthPairs(c)
    assert(truth.nonEmpty)
    val text = c.docs.toMap
    truth.foreach { case (a, b) =>
      assert(Gen.jaccard(Gen.shingles(text(a)), Gen.shingles(text(b))) >= Gen.Threshold)
    }
    assert(truth.length < c.planted.map(g => g.size * (g.size - 1) / 2).sum, "some planted pairs sit below the threshold")
  }

  test("the planted chain links only neighbours, with ids ascending along it") {
    Seq(1L, 2L, 3L).foreach { seed =>
      val c = Gen.corpus(seed, 300, 40, 60)
      val chain = c.planted.last
      assert(chain.length == Gen.ChainDocs && chain == chain.sorted)
      val sh = chain.map(id => Gen.shingles(c.docs.toMap.apply(id)))
      for (i <- sh.indices; j <- sh.indices if i < j) {
        val linked = Gen.jaccard(sh(i), sh(j)) >= Gen.Threshold
        assert(linked == (j == i + 1), s"seed $seed: docs $i and $j")
      }
    }
  }

  // ---- layout checker ----

  private val splits = graft.operators.RegionSort.uniformMd5Splits(4)

  /** Cells of `recs` laid out the way a correct load lays them out: one
    * file per region in KeyValue order, with a matching manifest. */
  private def layout(recs: Seq[Gen.Rec]): Seq[(String, Seq[Cell])] = {
    val cells = recs.flatMap(Gen.strictCells).sorted(Check.cellOrdering)
    def region(row: Array[Byte]) = splits.count(s => Check.compareBytes(row, s) >= 0)
    (0 to splits.length).map(i => f"part-$i%05d-x.parquet" -> cells.filter(c => region(c.row) == i))
  }

  private def manifestOf(files: Seq[(String, Seq[Cell])]): Option[Map[String, Check.ManifestEntry]] =
    Some(files.map { case (n, cs) =>
      n -> Check.ManifestEntry(cs.length, cs.headOption.map(_.row), cs.lastOption.map(_.row)) }.toMap)

  private def check(files: Seq[(String, Seq[Cell])], manifest: Option[Map[String, Check.ManifestEntry]],
                    expected: (Long, Long), withSplits: Boolean = false): Seq[String] =
    Check.matches("t", Check.fileset(files.map { case (n, cs) => Check.RegionFile(n, () => cs.iterator) },
      manifest, if (withSplits) Some(splits) else None), expected)

  private val recs = Gen.records(11, 400)
  private val expected = Check.fingerprint(recs.iterator.flatMap(Gen.strictCells))

  test("the checker accepts a correct layout") {
    val files = layout(recs)
    assert(check(files, manifestOf(files), expected, withSplits = true).isEmpty)
  }

  /** Move region 2's first row (all its cells) to the end of region 1. The
    * global order survives, so only the region bounds and the manifest can
    * tell. */
  private def moveRow(files: Seq[(String, Seq[Cell])]): Seq[(String, Seq[Cell])] = {
    val (n1, f1) = files(1)
    val (n2, f2) = files(2)
    val row = f2.head.row
    val (moved, rest) = f2.partition(c => Check.compareBytes(c.row, row) == 0)
    files.updated(1, n1 -> (f1 ++ moved)).updated(2, n2 -> rest)
  }

  test("the checker rejects one row moved across a region boundary") {
    val files = layout(recs)
    val corrupt = moveRow(files)
    // against the manifest the sink wrote
    assert(check(corrupt, manifestOf(files), expected).exists(_.contains("manifest")))
    // even with a manifest rewritten to match, the region bounds catch it
    assert(check(corrupt, manifestOf(corrupt), expected, withSplits = true).exists(_.contains("region")))
  }

  test("the checker rejects one dropped cell") {
    val files = layout(recs)
    val (n, f) = files(0)
    val dropped = files.updated(0, n -> (f.take(3) ++ f.drop(4)))
    assert(check(dropped, manifestOf(dropped), expected).exists(_.contains("cells, expected")))
  }

  test("the checker rejects a changed value, an out-of-order cell and a missing manifest") {
    val files = layout(recs)
    val (n, f) = files(0)
    val changed = files.updated(0, n -> f.updated(5, f(5).copy(value = "x".getBytes(UTF_8))))
    assert(check(changed, manifestOf(changed), expected).exists(_.contains("contents differ")))
    val swapped = files.updated(0, n -> f.updated(1, f(2)).updated(2, f(1)))
    assert(check(swapped, manifestOf(swapped), expected).exists(_.contains("order")))
    assert(check(files, None, expected).contains("no manifest"))
  }

  test("the count check rejects a manifest or a total that disagrees") {
    val files = layout(recs)
    val rows = files.map { case (n, cs) => n -> cs.length.toLong }
    assert(Check.counts(rows, manifestOf(files), expected._1).isEmpty)
    assert(Check.counts(rows, manifestOf(moveRow(files)), expected._1).nonEmpty)
    assert(Check.counts(rows.updated(0, rows(0)._1 -> (rows(0)._2 - 1)), manifestOf(files), expected._1).nonEmpty)
  }

  // ---- read checker ----

  test("the checker rejects a wrong Get result") {
    val want = Gen.strictCells(recs.filterNot(_.emptyKey).head)
    assert(Check.sameCells("get", want, want.reverse).isEmpty)
    assert(Check.sameCells("get", want, want.tail).nonEmpty)
    assert(Check.sameCells("get", want, want.updated(2, want(2).copy(value = "y".getBytes(UTF_8)))).nonEmpty)
    assert(Check.sameCells("get", Nil, want.take(1)).nonEmpty, "an absent key must return nothing")
    assert(Check.sameCells("get", Nil, Nil).isEmpty)
  }

  test("the dedup check rejects a pair below the threshold and a wrong cluster") {
    val text = Map(1L -> "a b c d e f", 2L -> "a b c d e f", 3L -> "a b c x y z")
    assert(Check.dedup(Seq((1L, 2L, 1.0)), Map(1L -> 1L, 2L -> 1L), text, 0.7).isEmpty)
    assert(Check.dedup(Seq((1L, 3L, 0.2)), Map(1L -> 1L, 3L -> 1L), text, 0.7).nonEmpty)
    assert(Check.dedup(Seq((1L, 2L, 1.0)), Map(1L -> 1L, 2L -> 2L), text, 0.7).nonEmpty)
    assert(Check.recall(Seq((1L, 2L), (1L, 3L)), Map(1L -> 1L, 2L -> 1L)) == 0.5)
  }

  // ---- tail rule ----

  test("the tail picker never reports a percentile with fewer than ten samples beyond it") {
    val rng = new java.util.SplittableRandom(1)
    for (n <- 0 to 400) {
      val xs = Seq.fill(n)(rng.nextInt(50).toDouble) // ties included
      Stats.tail(xs) match {
        case None => assert(n <= Stats.TailBeyond)
        case Some(t) =>
          val rank = math.round(t.percentile * n / 100).toInt
          assert(n - rank >= Stats.TailBeyond, s"n=$n p=${t.percentile}")
          assert(n - (rank + 1) < Stats.TailBeyond, "it is the highest such percentile")
          assert(t.value == xs.sorted.apply(rank - 1) && t.samples == n)
      }
    }
  }

  // ---- names ----

  test("BENCHMARK.json names exactly the harness's workloads and metrics") {
    val f = new java.io.File("../BENCHMARK.json")
    assume(f.isFile, "run from perfbench/ in a full checkout")
    val json = new com.fasterxml.jackson.databind.ObjectMapper().readTree(f)
    def names(key: String) = {
      val it = json.get(key).elements()
      Iterator.continually(it).takeWhile(_.hasNext).map(_.next()).map(n =>
        (n.get("name").asText(), Option(n.get("unit")).map(_.asText()).getOrElse(""))).toSeq
    }
    assert(names("workloads").map(_._1).toSet == Main.workloads.keySet)
    assert(names("per_layer") == Layers.all.map(x => (x._1, x._2)))
    assert(names("end_to_end") == Layers.endToEnd.map(x => (x._1, x._2)))
  }
}
