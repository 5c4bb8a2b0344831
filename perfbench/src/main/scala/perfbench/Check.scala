package perfbench

import scala.util.hashing.MurmurHash3

/** Output checks. The layout and read checks are pure functions over
  * cells, so the self-tests can feed them corrupted layouts; [[Parquet]]
  * is the thin adapter that streams cells out of the written files. */
object Check {

  /** Unsigned lexicographic byte order (HBase `Bytes.compareTo`). */
  def compareBytes(a: Array[Byte], b: Array[Byte]): Int = {
    val n = math.min(a.length, b.length)
    var i = 0
    while (i < n) {
      val d = (a(i) & 0xff) - (b(i) & 0xff)
      if (d != 0) return d
      i += 1
    }
    a.length - b.length
  }

  /** KeyValue order: (row, family, qualifier), then value as a tiebreak
    * so multisets sort deterministically. */
  val cellOrdering: Ordering[Cell] = (x: Cell, y: Cell) => {
    var c = compareBytes(x.row, y.row)
    if (c == 0) c = compareBytes(x.family, y.family)
    if (c == 0) c = compareBytes(x.qualifier, y.qualifier)
    if (c == 0) c = compareBytes(x.value, y.value)
    c
  }

  private def coordinate(x: Cell, y: Cell): Int = {
    var c = compareBytes(x.row, y.row)
    if (c == 0) c = compareBytes(x.family, y.family)
    if (c == 0) c = compareBytes(x.qualifier, y.qualifier)
    c
  }

  /** 64-bit hash of one cell; summed over a layout it is an
    * order-independent multiset fingerprint. */
  def cellHash(c: Cell): Long = {
    def chain(seed: Int) = Seq(c.row, c.family, c.qualifier, c.value)
      .foldLeft(seed)((h, b) => MurmurHash3.bytesHash(b, h))
    (chain(0x5bd1e995).toLong << 32) | (chain(0x1b873593).toLong & 0xffffffffL)
  }

  /** Cell count and multiset fingerprint of an expected cell stream. */
  def fingerprint(cells: Iterator[Cell]): (Long, Long) =
    cells.foldLeft((0L, 0L)) { case ((n, h), c) => (n + 1, h + cellHash(c)) }

  /** One region file: its name and a re-openable stream of its cells in
    * file order. */
  final case class RegionFile(name: String, cells: () => Iterator[Cell])

  /** A manifest line: recorded row count and row bounds. */
  final case class ManifestEntry(rows: Long, lo: Option[Array[Byte]], hi: Option[Array[Byte]])

  /** What a checked fileset held: cell count, fingerprint, cells per file. */
  final case class Layout(cells: Long, hash: Long, perFile: Seq[Long], problems: Seq[String])

  /** Region index encoded in a Spark task output name `part-NNNNN-…`. */
  private val TaskPart = """part-(\d{5})-.*""".r

  /** Check one written fileset:
    *  - each file is in unsigned (row, family, qualifier) order;
    *  - key ranges are disjoint and ascending across files in name order;
    *  - with `splits`, each file's rows lie inside its region's bounds;
    *  - the manifest lists each file with its row count and first/last
    *    row keys. */
  def fileset(files: Seq[RegionFile], manifest: Option[Map[String, ManifestEntry]],
              splits: Option[Array[Array[Byte]]] = None): Layout = {
    val problems = Vector.newBuilder[String]
    var total = 0L
    var hash = 0L
    var prevLast: Option[(String, Array[Byte])] = None
    val perFile = files.sortBy(_.name).map { f =>
      var n = 0L
      var first: Array[Byte] = null
      var prev: Cell = null
      f.cells().foreach { c =>
        if (prev != null && coordinate(prev, c) > 0)
          problems += s"${f.name}: cell $n out of (row, family, qualifier) order"
        if (first == null) first = c.row
        prev = c
        n += 1
        hash += cellHash(c)
      }
      total += n
      if (first != null) {
        prevLast.foreach { case (pn, last) =>
          if (compareBytes(last, first) >= 0)
            problems += s"${f.name}: key range overlaps or precedes $pn"
        }
        prevLast = Some((f.name, prev.row))
        for (s <- splits; TaskPart(idx) <- Some(f.name)) {
          val i = idx.toInt
          if (i > 0 && compareBytes(first, s(i - 1)) < 0)
            problems += s"${f.name}: first row precedes region $i's start key"
          if (i < s.length && compareBytes(prev.row, s(i)) >= 0)
            problems += s"${f.name}: last row reaches region ${i + 1}'s start key"
        }
      }
      manifest.foreach { m =>
        m.get(f.name) match {
          case None => problems += s"${f.name}: not in the manifest"
          case Some(e) =>
            if (e.rows != n) problems += s"${f.name}: manifest says ${e.rows} rows, file has $n"
            if (n > 0 && !(e.lo.exists(compareBytes(_, first) == 0) &&
                e.hi.exists(compareBytes(_, prev.row) == 0)))
              problems += s"${f.name}: manifest row bounds differ from the file's"
        }
      }
      n
    }
    if (manifest.isEmpty) problems += "no manifest"
    Layout(total, hash, perFile, problems.result())
  }

  /** The manifest lists no file that is not live. */
  def noStaleEntries(live: Seq[String], manifest: Option[Map[String, ManifestEntry]]): Seq[String] =
    manifest.toSeq.flatMap(_.keys.filterNot(live.toSet).map(k => s"manifest lists missing file $k"))

  /** The cheap check: per-file row counts (from the footers) equal the
    * manifest's, and they sum to the predicted cell count. */
  def counts(files: Seq[(String, Long)], manifest: Option[Map[String, ManifestEntry]],
             expectedCells: Long): Seq[String] = {
    val total = files.map(_._2).sum
    (if (total != expectedCells) Seq(s"$total cells, expected $expectedCells") else Nil) ++
      (if (manifest.isEmpty) Seq("no manifest") else Nil) ++
      files.flatMap { case (name, rows) =>
        manifest.flatMap(_.get(name)) match {
          case None => if (manifest.isDefined) Seq(s"$name: not in the manifest") else Nil
          case Some(e) if e.rows != rows => Seq(s"$name: manifest says ${e.rows} rows, file has $rows")
          case _ => Nil
        }
      }
  }

  /** Compare a layout's cells with the generator's prediction. */
  def matches(what: String, got: Layout, expected: (Long, Long)): Seq[String] =
    got.problems ++
      (if (got.cells != expected._1) Seq(s"$what: ${got.cells} cells, expected ${expected._1}") else Nil) ++
      (if (got.cells == expected._1 && got.hash != expected._2) Seq(s"$what: cell contents differ from the prediction") else Nil)

  /** A read result must hold exactly the predicted cells (as a multiset). */
  def sameCells(what: String, expected: Seq[Cell], got: Seq[Cell]): Option[String] = {
    val e = expected.sorted(cellOrdering)
    val g = got.sorted(cellOrdering)
    if (e.length != g.length) Some(s"$what: ${g.length} cells, expected ${e.length}")
    else e.zip(g).collectFirst {
      case (x, y) if cellOrdering.compare(x, y) != 0 => s"$what: got $y where $x was expected"
    }
  }

  /** Dedup output checks: every emitted pair is a < b with exact Jaccard
    * at or above the threshold (and the engine's figure agrees with it);
    * every clustered doc's id is the least id of its pair component. */
  def dedup(pairs: Seq[(Long, Long, Double)], clusters: Map[Long, Long],
            text: Map[Long, String], threshold: Double): Seq[String] = {
    val problems = Vector.newBuilder[String]
    pairs.foreach { case (a, b, j) =>
      val exact = Gen.jaccard(Gen.shingles(text(a)), Gen.shingles(text(b)))
      if (a >= b) problems += s"pair ($a, $b) is not ordered a < b"
      if (exact < threshold) problems += f"pair ($a, $b): exact Jaccard $exact%.4f below $threshold"
      if (math.abs(exact - j) > 1e-9) problems += f"pair ($a, $b): engine Jaccard $j%.6f, exact $exact%.6f"
    }
    // union-find over the emitted pairs: cluster id = least id in component
    val parent = scala.collection.mutable.HashMap.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (a, b, _) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val nodes = parent.keySet.toSet
    if (clusters.keySet != nodes)
      problems += s"clusters cover ${clusters.size} docs, pairs touch ${nodes.size}"
    nodes.foreach { d =>
      if (clusters.get(d).exists(_ != find(d)))
        problems += s"doc $d: cluster ${clusters(d)}, component minimum ${find(d)}"
    }
    problems.result()
  }

  /** Share of truth pairs whose two docs landed in one cluster. */
  def recall(truth: Seq[(Long, Long)], clusters: Map[Long, Long]): Double =
    if (truth.isEmpty) 1.0
    else truth.count { case (a, b) => clusters.get(a).exists(c => clusters.get(b).contains(c)) }
      .toDouble / truth.size
}

/** Streams cells and manifests out of a written cell directory with the
  * parquet library directly, not through Spark, so the checker shares no
  * read path with the engine it checks. */
object Parquet {
  import org.apache.hadoop.conf.Configuration
  import org.apache.hadoop.fs.Path
  import org.apache.parquet.hadoop.ParquetReader
  import org.apache.parquet.hadoop.example.GroupReadSupport

  private val conf = new Configuration()

  def cells(file: String): Iterator[Cell] = new Iterator[Cell] {
    private val reader = ParquetReader.builder(new GroupReadSupport(), new Path(file))
      .withConf(conf).build()
    private var nextG = reader.read()
    def hasNext: Boolean = {
      if (nextG == null) reader.close()
      nextG != null
    }
    def next(): Cell = {
      val g = nextG
      nextG = reader.read()
      Cell(g.getBinary("row", 0).getBytes, g.getBinary("family", 0).getBytes,
        g.getBinary("qualifier", 0).getBytes, g.getBinary("value", 0).getBytes)
    }
  }

  def partFiles(dir: java.io.File): Seq[java.io.File] =
    Option(dir.listFiles()).toSeq.flatten
      .filter(f => f.isFile && f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
      .sortBy(_.getName)

  /** The sink's region manifest (`name \t length \t rows \t lo \t hi`). */
  def manifest(dir: java.io.File): Option[Map[String, Check.ManifestEntry]] = {
    val f = new java.io.File(dir, "_graft_region_manifest.tsv")
    if (!f.isFile) None
    else {
      val src = scala.io.Source.fromFile(f, "UTF-8")
      try Some(src.getLines().filter(_.nonEmpty).map { l =>
        val t = l.split("\t", -1)
        def key(s: String) = if (s == "-") None else Some(unhex(s))
        t(0) -> Check.ManifestEntry(t(2).toLong, key(t(3)), key(t(4)))
      }.toMap) finally src.close()
    }
  }

  private def unhex(s: String): Array[Byte] =
    s.grouped(2).map(Integer.parseInt(_, 16).toByte).toArray

  /** Rows (records) per part file, from the parquet footers. */
  def rowCount(file: java.io.File): Long = {
    val r = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(new Path(file.getPath), conf))
    try r.getRecordCount finally r.close()
  }

  def regionFiles(dir: java.io.File, only: java.io.File => Boolean = _ => true): Seq[Check.RegionFile] =
    partFiles(dir).filter(only).map(f => Check.RegionFile(f.getName, () => cells(f.getPath)))
}
