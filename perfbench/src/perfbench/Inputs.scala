package perfbench

import graft.fixtures.{CodeFile, CorpusGen}
import graft.tokenize.CodeTokenizer
import org.apache.spark.sql.{Dataset, SparkSession}

/** One search-workload operation. */
sealed trait Op { def kind: String }
final case class Bmw(query: String) extends Op { val kind = "bmw" }
final case class BoolQ(must: Seq[String], should: Seq[String]) extends Op { val kind = "bool" }
final case class Phrase(phrase: String) extends Op { val kind = "phrase" }
final case class Prefix(prefix: String) extends Op { val kind = "prefix" }

/** Every input the engine sees, derived from the run's seed. The corpus is
  * `CorpusGen.row` over a rowId range offset by the seed (same shape, other
  * rows); queries and delta batches come from a benchmark-side RNG. Terms
  * are drawn zipf-weighted inside each vocabulary class, so head terms
  * repeat the way real traffic does.
  */
final class Inputs(val seed: Long, val corpusDocs: Int) {
  import Inputs.DocWords
  /** Seeds own disjoint rowId ranges of this width. */
  private val RangePerSeed = 100000000L
  val rowBase: Long = (seed % 90L) * RangePerSeed
  private val deltaBase = rowBase + RangePerSeed / 2

  def corpus(spark: SparkSession, partitions: Int): Dataset[CodeFile] =
    rows(spark, spark.range(rowBase, rowBase + corpusDocs, 1, partitions))

  private def rows(spark: SparkSession, ids: Dataset[java.lang.Long]): Dataset[CodeFile] = {
    import spark.implicits._
    ids.as[Long].map(CorpusGen.row)
  }

  private val rng = new java.util.Random(seed * 0x9e3779b97f4a7c15L + 1)

  /** Row ids of the next delta batch: distinct, disjoint from the corpus and
    * from earlier batches, RNG-chosen.
    */
  private var nextDelta = deltaBase
  def deltaBatch(spark: SparkSession, size: Int, partitions: Int): (Seq[Long], Dataset[CodeFile]) = {
    import spark.implicits._
    val ids = (0 until size).map { _ => nextDelta += 1 + rng.nextInt(4); nextDelta }
    (ids, ids.toDS().repartition(partitions).map(CorpusGen.row))
  }

  private def zipfCdf(n: Int, s: Double): Array[Double] = {
    val w = Array.tabulate(n)(i => 1.0 / math.pow(i + 1, s))
    val total = w.sum
    w.scanLeft(0.0)(_ + _ / total).tail
  }
  private val kwCdf = zipfCdf(CorpusGen.Keywords.length, 1.1)
  private val midCdf = zipfCdf(CorpusGen.MidIds.length, 1.1)
  private val rareCdf = zipfCdf(CorpusGen.RareIds.length, 0.8)
  private def pick(cdf: Array[Double], r: java.util.Random): Int = {
    val i = java.util.Arrays.binarySearch(cdf, r.nextDouble())
    math.min(cdf.length - 1, if (i >= 0) i else -i - 1)
  }

  /** One term of a vocabulary class: 0 keyword, 1 mid-frequency
    * identifier, 2 rare identifier.
    */
  def term(cls: Int, r: java.util.Random = rng): String = cls match {
    case 0 => CorpusGen.Keywords(pick(kwCdf, r))
    case 1 => CorpusGen.MidIds(pick(midCdf, r))
    case _ => CorpusGen.RareIds(pick(rareCdf, r))
  }

  /** BMW query shapes (term classes), used in a fixed cycle so every run
    * asks the same mix of short and long, common and rare queries; only the
    * terms differ between seeds.
    */
  private val Shapes = Array(Seq(1), Seq(1, 0), Seq(2, 1), Seq(0, 1, 2), Seq(1, 1), Seq(2), Seq(0, 2),
    Seq(1, 2, 1))
  private var nextShape = 0
  def bmwQuery(): String = {
    val shape = Shapes(nextShape % Shapes.length)
    nextShape += 1
    shape.map(term(_)).mkString(" ")
  }

  /** Two adjacent tokens of a corpus document, so phrases occur. */
  def phrase(): String = {
    val toks = CodeTokenizer.tokenize(CorpusGen.row(rowBase + rng.nextInt(corpusDocs)).content)
    val i = rng.nextInt(math.max(1, toks.length - 1))
    toks.slice(i, i + 2).mkString(" ")
  }

  def prefix(): String = {
    val t = CorpusGen.MidIds(pick(midCdf, rng))
    t.take(math.min(t.length, 5))
  }

  /** The query loop's op schedule: a fixed 20-op cycle (16 top-10 BMW,
    * 2 bool, 1 phrase, 1 prefix; every kind within the first 12 ops) with
    * seeded terms, so every run has the same proportions and only the terms
    * differ.
    */
  def nextOp(i: Int): Op = (i % 20) match {
    case 3 | 15 => BoolQ(Seq(term(1)), Seq(term(0), term(2)))
    case 7 => Phrase(phrase())
    case 11 => Prefix(prefix())
    case _ => Bmw(bmwQuery())
  }

  /** The fixed correctness sample: one BMW query of each shape and one bool
    * query, drawn from an RNG of their own, so the sample depends only on
    * the seed and not on how many ops the timed loop ran.
    */
  val checkOps: Seq[Op] = {
    val r = new java.util.Random(seed * 0x2545f4914f6cdd1dL + 7)
    Shapes.toSeq.map(shape => Bmw(shape.map(term(_, r)).mkString(" "))) :+
      BoolQ(Seq(term(1, r)), Seq(term(0, r), term(2, r)))
  }

  /** A seeded `documents` table (doc_id, text, lang, source, n_chars) of the
    * shape of the driver's fixture table: `n` docs of 8–100 words over its
    * 30-word vocabulary, five languages, 20 sources, and about one doc in
    * twenty a near-duplicate (one word changed, " dup" appended) of an
    * earlier one, so the pair kernels find pairs.
    */
  def documents(spark: SparkSession, n: Int): org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    val r = new java.util.Random(seed * 0x5deece66dL + 11)
    val langs = Seq("en", "en", "en", "de", "es", "fr", "zh")
    val texts = scala.collection.mutable.ArrayBuffer.empty[Seq[String]]
    val rows = (0 until n).map { i =>
      val words =
        if (i >= 20 && r.nextInt(20) == 0) {
          val base = texts(r.nextInt(texts.size))
          base.updated(r.nextInt(base.size), DocWords(r.nextInt(DocWords.size))) :+ "dup"
        } else Seq.fill(8 + r.nextInt(93))(DocWords(r.nextInt(DocWords.size)))
      texts += words
      val text = words.mkString(" ")
      (i.toLong, text, langs(r.nextInt(langs.size)), s"src${i % 20}", text.length.toLong)
    }
    rows.toDF("doc_id", "text", "lang", "source", "n_chars")
  }

  /** Distinct queries for the batch phase, the BMW shapes in a fixed cycle,
    * drawn from an RNG of their own: they depend only on the seed, not on
    * how many ops the timed loop ran.
    */
  def batchQueries(n: Int): Seq[String] = {
    val r = new java.util.Random(seed * 0x61c8864680b583ebL + 13)
    val seen = scala.collection.mutable.LinkedHashSet.empty[String]
    var i = 0
    while (seen.size < n) { seen += Shapes(i % Shapes.length).map(term(_, r)).mkString(" "); i += 1 }
    seen.toSeq
  }
}

object Inputs {
  /** The vocabulary of the driver's fixture `documents` table. */
  val DocWords: IndexedSeq[String] = IndexedSeq("a", "agg", "batch", "big", "column", "customer", "data",
    "fast", "filter", "group", "hash", "join", "key", "line", "merge", "order", "part", "query", "row",
    "scan", "slow", "small", "sort", "spark", "stream", "table", "the", "value", "vector", "window")
}
