package graft

import graft.fixtures.CorpusGen
import graft.index.{IndexConfig, InvertedIndex}
import graft.io.Tables
import graft.oracle.ExhaustiveScorer
import graft.query.IndexReader
import graft.tokenize.CodeTokenizer
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import scala.jdk.CollectionConverters._

/** Table-handle gate: a warm IndexReader opens each committed segment table
  * once, so repeating a query starts no Spark job from `graft.io.Tables`
  * (where a read without a schema runs its parquet schema-inference job),
  * and its answers still equal the exhaustive from-raw-text oracles.
  */
class ReaderHandlesSpec extends SparkSpec with BeforeAndAfterAll {
  import spark.implicits._

  val N = 600L
  val dir = "/tmp/graft_test_handles"
  val cfg: IndexConfig = IndexConfig(partitions = 8, heavyDfThreshold = 200L, saltRunDocs = 200L)

  lazy val corpus = CorpusGen.dataset(spark, N, 8)

  override def beforeAll(): Unit = {
    super.beforeAll()
    Tables.delete(spark, "/tmp", "graft_test_handles")
    InvertedIndex.build(spark, corpus, dir, cfg, runId = "handles")
    ()
  }

  /** The long-form call site of every stage of every job `body` starts. A
    * sentinel job run after `body` flushes the listener: a listener sees
    * its events in order, so once the sentinel arrives every earlier job
    * start has been seen.
    */
  def jobCallSites(body: => Unit): Seq[String] = {
    val sc = spark.sparkContext
    val sentinel = s"graft-handles-sentinel-${System.nanoTime()}"
    val sites = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val flushed = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        if (js.properties != null &&
            js.properties.getProperty("spark.job.description") == sentinel)
          flushed.countDown()
        else js.stageInfos.foreach(s => sites.add(s.details))
    }
    sc.addSparkListener(listener)
    try {
      body
      sc.setJobDescription(sentinel)
      try sc.parallelize(Seq(1), 1).count() finally sc.setJobDescription(null)
      assert(flushed.await(60, java.util.concurrent.TimeUnit.SECONDS), "listener never flushed")
    } finally sc.removeSparkListener(listener)
    sites.asScala.toSeq
  }

  test("warm reader: repeated BMW/bool/phrase/prefix queries run no Tables job; answers == oracle") {
    val reader = new IndexReader(spark, dir)
    val (bmwQ, must, should, mustNot) = ("def val z100_id", Seq("def", "buf_buf"), Seq("z100_id"), Seq("class"))
    val (phrase, prefix) = ("def val", "z10")
    def run() = (
      reader.searchBmw(bmwQ, 10).map(h => (h.docId, h.score)).toSeq,
      reader.searchBoolDf(must, should, mustNot)
        .orderBy(desc("score"), asc("docId")).as[(Long, Double)].collect().toSeq,
      reader.matchPhraseDf(phrase).as[(Long, Int)].collect().toMap,
      reader.matchPrefixDf(prefix).as[(Long, Long)].collect().toMap)

    val cold = run() // opens the handles
    var warm = cold
    val sites = jobCallSites { warm = run() }
    val fromTables = sites.filter(_.contains("graft.io.Tables"))
    assert(fromTables.isEmpty,
      s"warm queries started ${fromTables.size} job stage(s) from graft.io.Tables:\n" +
        fromTables.map(_.linesIterator.take(3).mkString(" | ")).mkString("\n"))
    assert(sites.nonEmpty, "the warm queries ran no job at all — the listener saw nothing")
    assert(warm == cold, "warm answers differ from the cold ones")

    val oracleDocs = corpus.toDF()
      .join(Tables.read(spark, dir, InvertedIndex.DocsTable)
        .select("docId", "repo", "path", "commit"), Seq("repo", "path", "commit"))
      .select(col("docId"), col("content")).as[ExhaustiveScorer.OracleDoc]
    val oracle = ExhaustiveScorer.prepare(spark, oracleDocs)
    def sameRanks(got: Seq[(Long, Double)], want: Seq[(Long, Double)], what: String): Unit = {
      assert(got.nonEmpty, s"$what: empty — the fixture does not exercise it")
      assert(got.map(_._1) == want.map(_._1), s"$what ranks: $got vs $want")
      got.zip(want).foreach { case (g, w) =>
        assert(math.abs(g._2 - w._2) <= 1e-9 * math.max(1.0, math.abs(w._2)), s"$what score drift")
      }
    }
    val (bmw, bool, phraseTf, prefixCnt) = warm
    sameRanks(bmw, oracle.topK(bmwQ, 10).map(h => (h.docId, h.score)).toSeq, "BMW")
    sameRanks(bool, oracle.topKBool(must, should, mustNot, N.toInt)
      .map(h => (h.docId, h.score)).toSeq, "bool")

    val tokens = oracleDocs.collect().map(d => d.docId -> CodeTokenizer.tokenize(d.content))
    val p = CodeTokenizer.tokenize(phrase)
    val wantPhrase = tokens.iterator
      .map { case (id, ts) => id -> ts.sliding(p.length).count(_.sameElements(p)) }
      .filter(_._2 > 0).toMap
    assert(phraseTf.nonEmpty && phraseTf == wantPhrase, "phrase tf vs token-stream oracle")
    val wantPrefix = tokens.iterator
      .map { case (id, ts) => id -> ts.filter(_.startsWith(prefix)).distinct.length.toLong }
      .filter(_._2 > 0).toMap
    assert(prefixCnt.nonEmpty && prefixCnt == wantPrefix, "prefix membership vs raw-token oracle")
  }
}
