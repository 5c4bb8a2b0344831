package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest
import java.util.SplittableRandom

/** One cell as the engine lays it out: (row, family, qualifier, value). */
final case class Cell(row: Array[Byte], family: Array[Byte],
                      qualifier: Array[Byte], value: Array[Byte]) {
  override def toString: String =
    s"Cell(${Gen.hex(row)}, ${new String(family, UTF_8)}, ${Gen.hex(qualifier)}, ${new String(value, UTF_8)})"
}

/** Seeded input generators and the outputs they predict. Everything here
  * is a pure function of the seed: the same seed gives byte-identical
  * files, and the engine only ever sees the bytes written from here. */
object Gen {

  val Arity = 9
  val KeyFields: Seq[Int] = Seq(0, 1, 2, 3)
  val Family: Array[Byte] = "c".getBytes(UTF_8)

  /** Utility names in the shape of the reference sample; the second group
    * carries an embedded comma, so CSV must quote it. */
  private val PlainNames = Array(
    "Alabama Power Co", "Georgia Power Co", "Gulf Power Co", "Mississippi Power Co",
    "Entergy Arkansas Inc", "Entergy Louisiana Inc", "Entergy Texas Inc",
    "Southwestern Electric Power Co", "Public Service Co of Oklahoma",
    "Appalachian Power Co", "Kentucky Power Co", "Ohio Power Co",
    "Indiana Michigan Power Co", "Kentucky Utilities Co", "Louisville Gas & Electric Co",
    "Duquesne Light Co", "West Penn Power Co", "Monongahela Power Co",
    "Potomac Edison Co", "Jersey Central Power & Light Co", "Atlantic City Electric Co",
    "Delmarva Power", "Baltimore Gas & Electric Co", "Potomac Electric Power Co",
    "Consolidated Edison Co-NY Inc", "Niagara Mohawk Power Corp", "Central Hudson Gas & Elec Corp",
    "Orange & Rockland Utils Inc", "Rochester Gas & Electric Corp", "New York State Elec & Gas Corp",
    "PacifiCorp", "Idaho Power Co", "Avista Corp", "Puget Sound Energy Inc",
    "Portland General Electric Co", "Nevada Power Co", "Sierra Pacific Power Co",
    "Arizona Public Service Co", "Tucson Electric Power Co", "El Paso Electric Co")
  private val CommaNames = Array(
    "Duke Energy Carolinas, LLC", "Duke Energy Progress, Inc", "Duke Energy Florida, LLC",
    "Duke Energy Indiana, LLC", "Duke Energy Ohio, Inc", "Ameren Illinois, Co",
    "Union Electric Co, Ameren Missouri", "Northern States Power Co, Minnesota",
    "Public Service Co of Colorado, Xcel", "Westar Energy, Inc")
  private val States = Array(
    "AL", "AK", "AZ", "AR", "CA", "CO", "CT", "DE", "DC", "FL", "GA", "HI", "ID", "IL",
    "IN", "IA", "KS", "KY", "LA", "ME", "MD", "MA", "MI", "MN", "MS", "MO", "MT", "NE",
    "NV", "NH", "NJ", "NM", "NY", "NC", "ND", "OH", "OK", "OR", "PA", "PR", "RI", "SC",
    "SD", "TN", "TX", "UT", "VT", "VA", "WA", "WV", "WI", "WY")
  private val ServiceTypes = Array("Bundled", "Delivery", "Energy")

  /** Share of lines whose utility name holds a quoted comma. */
  val QuotedShare = 0.02
  /** Share of lines with one empty key field (zip or utility name). */
  val EmptyKeyShare = 0.005

  /** One generated record, as the strict RFC-4180 reader parses it. An
    * empty string is an empty field. */
  final case class Rec(fields: Array[String]) {
    /** The CSV line: the name is quoted when it holds a comma. */
    def line: String = fields.map(f => if (f.contains(",")) "\"" + f + "\"" else f).mkString(",")
    def quoted: Boolean = fields.exists(_.contains(","))
    def emptyKey: Boolean = KeyFields.exists(i => fields(i).isEmpty)
  }

  private def rate(r: SplittableRandom): String =
    "0." + (0 until 12).map(_ => ('0' + r.nextInt(10)).toChar).mkString

  /** `n` records. Field 1 (eia_id) is the record's index, so every row key
    * is distinct. */
  def records(seed: Long, n: Int): Array[Rec] = {
    val r = new SplittableRandom(seed)
    Array.tabulate(n) { i =>
      val name =
        if (r.nextDouble() < QuotedShare) CommaNames(r.nextInt(CommaNames.length))
        else PlainNames(r.nextInt(PlainNames.length))
      val f = Array(
        f"${r.nextInt(100000)}%05d", (100000 + i).toString, name,
        States(r.nextInt(States.length)), ServiceTypes(r.nextInt(ServiceTypes.length)),
        "Investor Owned", rate(r), rate(r), rate(r))
      if (r.nextDouble() < EmptyKeyShare) f(if (r.nextBoolean()) 0 else 2) = ""
      Rec(f)
    }
  }

  def csvBytes(recs: Seq[Rec]): Array[Byte] =
    recs.iterator.map(_.line + "\n").mkString.getBytes(UTF_8)

  private def md5(s: String): Array[Byte] =
    MessageDigest.getInstance("MD5").digest(s.getBytes(UTF_8))

  /** The composite row key: raw MD5 of each key field, concatenated. */
  def rowKey(fields: Seq[String]): Array[Byte] = KeyFields.flatMap(i => md5(fields(i))).toArray

  def qualifier(i: Int): Array[Byte] = java.nio.ByteBuffer.allocate(4).putInt(i).array()

  private def cellsOf(fields: Seq[String]): Seq[Cell] = {
    val row = rowKey(fields)
    fields.zipWithIndex.collect { case (v, i) if v != null =>
      Cell(row, Family, qualifier(i), v.getBytes(UTF_8)) }
  }

  /** Cells the strict reader + composite key predict for one record (an
    * empty field reads as null, so it emits no cell; a record with an
    * empty key field is quarantined and emits none). */
  def strictCells(rec: Rec): Seq[Cell] =
    if (rec.emptyKey) Seq.empty else cellsOf(rec.fields.map(f => if (f.isEmpty) null else f).toSeq)

  /** The reference's naive `split(",")` tokens of a record's line. */
  def naiveTokens(rec: Rec): Array[String] = rec.line.split(",", -1)

  /** Cells the naive split predicts: only lines of exactly 9 tokens are
    * kept, and empty tokens are empty values, not nulls. */
  def naiveCells(rec: Rec): Seq[Cell] = {
    val t = naiveTokens(rec)
    if (t.length != Arity) Seq.empty else cellsOf(t.toSeq)
  }
  def naiveRejected(rec: Rec): Boolean = naiveTokens(rec).length != Arity

  def hex(b: Array[Byte]): String = b.map(x => f"${x & 0xff}%02x").mkString

  // ---- corpus with planted near-duplicate clusters ----

  /** Word n-gram size and the Jaccard threshold the dedup runs with. */
  val ShingleN = 3
  val Threshold = 0.7
  /** Base-to-variant Jaccard targets the planted clusters are cut to; the
    * lowest sits below [[Threshold]], so truth excludes some planted pairs. */
  val PlantedJaccards = Array(0.95, 0.85, 0.75, 0.6)

  /** Docs in the planted chain: each is a near-duplicate (Jaccard 0.81)
    * of the one before it and of no other (0.66 at distance two), and ids
    * ascend along it. `Dedup.clusters` propagates the least id one hop per
    * round, so the chain sets its round count to ChainDocs (the random
    * clusters, stars of at most four docs, never need more) and a run's
    * work is the same on every seed. */
  val ChainDocs = 4

  final case class Corpus(docs: Array[(Long, String)], planted: Seq[Seq[Long]])

  def shingles(text: String, n: Int = ShingleN): Set[String] = {
    val t = text.split(" ", -1)
    if (t.length < n) Set.empty else t.sliding(n).map(_.mkString(" ")).toSet
  }

  def jaccard(a: Set[String], b: Set[String]): Double = {
    val common = a.count(b.contains)
    common.toDouble / (a.size + b.size - common)
  }

  /** `baseDocs` random documents of `words` words over a seeded
    * vocabulary, then `clusters` of them each get 1–3 variants mutated
    * word by word until their Jaccard to the base falls to a planted
    * target, and one more base starts the [[ChainDocs]] chain. Doc ids are
    * a seeded permutation, so clusters are scattered. */
  def corpus(seed: Long, baseDocs: Int, clusters: Int, words: Int): Corpus = {
    val r = new SplittableRandom(seed)
    val vocab = Array.fill(4000) {
      (0 until 3 + r.nextInt(7)).map(_ => ('a' + r.nextInt(26)).toChar).mkString
    }
    def word() = vocab(r.nextInt(vocab.length))
    val bases = Array.fill(baseDocs)(Array.fill(words)(word()))
    val groups = (0 until math.min(clusters, baseDocs)).map { c =>
      val base = bases(c)
      val baseSh = shingles(base.mkString(" "))
      val variants = (0 until 1 + r.nextInt(3)).map { _ =>
        val target = PlantedJaccards(r.nextInt(PlantedJaccards.length))
        val v = base.clone()
        while (jaccard(baseSh, shingles(v.mkString(" "))) > target) v(r.nextInt(words)) = word()
        v
      }
      base +: variants
    }
    // the chain: each step replaces two more words, at positions three
    // apart and away from the ends, so each step swaps six whole shingles
    val slots = scala.util.Random.javaRandomToRandom(new java.util.Random(r.nextLong()))
      .shuffle((2 until words - 2 by 3).toList)
    val chain = (1 until ChainDocs).scanLeft(bases(groups.length)) { (prev, step) =>
      val v = prev.clone()
      slots.slice(2 * (step - 1), 2 * step).foreach { p =>
        var w = word()
        while (w == prev(p)) w = word()
        v(p) = w
      }
      v
    }
    val texts = (groups :+ chain).flatten.map(_.mkString(" ")) ++
      bases.drop(groups.length + 1).map(_.mkString(" "))
    // seeded permutation of ids 1..N
    val ids = (1L to texts.length.toLong).toArray
    for (i <- ids.length - 1 to 1 by -1) {
      val j = r.nextInt(i + 1); val t = ids(i); ids(i) = ids(j); ids(j) = t
    }
    val chainAt = groups.map(_.length).sum
    java.util.Arrays.sort(ids, chainAt, chainAt + ChainDocs)
    var next = 0
    val planted = (groups :+ chain).map(g => g.map { _ => val id = ids(next); next += 1; id })
    Corpus(texts.indices.map(i => (ids(i), texts(i))).toArray, planted)
  }

  /** Planted pairs (a < b) whose exact Jaccard reaches [[Threshold]]. */
  def truthPairs(c: Corpus): Seq[(Long, Long)] = {
    val text = c.docs.toMap
    c.planted.flatMap { g =>
      for {
        a <- g; b <- g if a < b
        if jaccard(shingles(text(a)), shingles(text(b))) >= Threshold
      } yield (a, b)
    }
  }

  def corpusJsonl(c: Corpus): Array[Byte] =
    c.docs.iterator.map { case (id, t) => s"""{"doc_id":$id,"text":"$t"}""" + "\n" }
      .mkString.getBytes(UTF_8)
}
