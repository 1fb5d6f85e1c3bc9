package perfbench

import graft.codec.PostingsCodec
import graft.fixtures.{CodeFile, CorpusGen}
import graft.index.{DeltaIndex, IndexConfig, InvertedIndex}
import graft.io.Tables
import graft.oracle.ExhaustiveScorer
import graft.query.IndexReader
import graft.tokenize.CodeTokenizer
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import scala.collection.mutable
import scala.util.control.NonFatal

/** Run-wide settings, all from the command line. */
final case class Settings(workload: String, seed: Long, seconds: Int, trace: Boolean,
    root: String, cores: Int, docs: Int, corrupt: Boolean,
    compact: Boolean, sfDir: Option[String], maxRows: Int)

/** What the workloads share: the session, the tracer, the seeded inputs, the
  * op accounting and the sample lists the metrics are computed from.
  */
final class Ctx(val spark: SparkSession, val tr: Tracer, val s: Settings, val sessionStarts: Seq[Double]) {
  /** Session start time of the run: the median of its timed starts. */
  val sessionStartS: Double = Stats.median(sessionStarts)
  import spark.implicits._
  val res = new Result
  val in = new Inputs(s.seed, s.docs)
  val cfg: IndexConfig = IndexConfig.auto(s.docs.toLong, s.cores)
  val samples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  val builds = mutable.ArrayBuffer.empty[InvertedIndex.BuildReport]
  private var hadoopFs: org.apache.hadoop.fs.FileSystem = _

  def sample(name: String, v: Double): Unit = samples.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += v
  def get(name: String): Seq[Double] = samples.getOrElse(name, Nil).toSeq

  def ms(t0: Long): Double = (System.nanoTime() - t0) / 1e6

  private val runStart = System.nanoTime()
  /** Progress line on stderr: seconds since the workload started. */
  def log(what: String): Unit = System.err.println(f"[perfbench] ${ms(runStart) / 1000}%7.1f s  $what")

  /** One counted operation: its wall time goes to `sampleName`; a thrown
    * exception is a failed op, logged, and never rethrown.
    */
  def attempt[A](spanName: String, sampleName: String = "")(body: => A): Option[A] = {
    res.attempted += 1
    val t0 = System.nanoTime()
    try {
      val a = tr.span(spanName)(body)
      if (sampleName.nonEmpty) sample(sampleName, ms(t0))
      Some(a)
    } catch {
      case NonFatal(e) =>
        res.failed += 1
        val msg = s"$spanName failed: ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}"
        System.err.println(s"[perfbench] $msg")
        res.note(msg)
        None
    }
  }

  def wrongAnswer(what: String): Unit = {
    res.wrong += 1
    res.failed += 1
    res.note(s"wrong answer: $what")
    System.err.println(s"[perfbench] wrong answer: $what")
  }

  def path(p: String): String = s"${s.root}/$p"

  def fs: org.apache.hadoop.fs.FileSystem = {
    if (hadoopFs == null)
      hadoopFs = new org.apache.hadoop.fs.Path(s.root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    hadoopFs
  }
  def bytesUnder(p: String): Long = fs.getContentSummary(new org.apache.hadoop.fs.Path(p)).getLength
  def delete(p: String): Unit = { fs.delete(new org.apache.hadoop.fs.Path(p), true); () }

  /** Stage the seeded corpus as a parquet table and return its reader. */
  def stage(dir: String): Dataset[CodeFile] = tr.span("setup.stage") {
    in.corpus(spark, s.cores).write.mode("overwrite").parquet(dir)
    spark.read.parquet(dir).as[CodeFile]
  }

  def build(src: Dataset[CodeFile], idx: String, runId: String): Unit =
    attempt("index.build", "build_ms")(InvertedIndex.build(spark, src, idx, cfg, runId))
      .foreach(builds += _)

  /** A fresh reader with its lazy stats and analyzer forced. */
  def openReader(idx: String): IndexReader = tr.span("io.reader_open") {
    val r = new IndexReader(spark, idx)
    r.stats; r.analyzer
    r
  }

  /** Run one search op; BMW and bool ops return their top-10 hits. Traced
    * runs time the dictionary lookup ahead of the search call, so the
    * search itself then finds the terms in the reader's dictionary memo.
    */
  def runOp(r: IndexReader, op: Op): Seq[(Long, Double)] = tr.span("query") {
    op match {
      case Bmw(q) =>
        if (tr.enabled) tr.span("query.dictionary")(r.termMeta(r.analyze(q)))
        val (d0, s0, n0) = (r.decodedBlocksAcc.value, r.skippedBlocksAcc.value, r.scoredDocsAcc.value)
        val hits = tr.span("query.bmw")(r.searchBmw(q, 10))
        sample("bmw_decoded", (r.decodedBlocksAcc.value - d0).toDouble)
        sample("bmw_skipped", (r.skippedBlocksAcc.value - s0).toDouble)
        sample("bmw_scored", (r.scoredDocsAcc.value - n0).toDouble)
        hits.toSeq.map(h => (h.docId, h.score))
      case BoolQ(must, should) =>
        val df = tr.span("query.construct")(r.searchBoolDf(must, should))
        tr.span("query.exec")(df.orderBy(desc("score"), asc("docId")).limit(10).collect())
          .toSeq.map(row => (row.getLong(0), row.getDouble(1)))
      case Phrase(p) =>
        val df = tr.span("query.construct")(r.matchPhraseDf(p))
        tr.span("query.exec")(df.count()); Nil
      case Prefix(p) =>
        val df = tr.span("query.construct")(r.matchPrefixDf(p))
        tr.span("query.exec")(df.count()); Nil
    }
  }

  /** The closed query loop: ops from the seeded schedule, one at a time,
    * until `seconds` have passed.
    */
  def queryLoop(r: IndexReader): Unit = {
    val codegen0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    var i = 0
    val t0 = System.nanoTime()
    while (ms(t0) < s.seconds * 1000.0) {
      val op = in.nextOp(i); i += 1
      attempt("op", "query_ms")(runOp(r, op))
    }
    sample("loop_codegen", (CodegenMetrics.METRIC_COMPILATION_TIME.getCount - codegen0).toDouble)
    log(s"query loop: $i ops")
  }

  val BatchSeconds = 4

  /** `searchBmwBatch` throughput over 128 distinct queries: one untimed
    * round (it fills the reader's dictionary memo), then timed rounds for
    * `BatchSeconds` (at least five); queries / the interquartile mean of the
    * round times. Round times spread by ±15% with the host's load, so a
    * median of a few rounds jumps between neighbours; the middle half's
    * mean over more rounds does not.
    */
  def batchPhase(r: IndexReader): Unit = {
    val qs = in.batchQueries(128)
    attempt("query.batch")(r.searchBmwBatch(qs, 10))
    val t0 = System.nanoTime()
    var n = 0
    while (n < 5 || ms(t0) < BatchSeconds * 1000.0) {
      attempt("query.batch", "batch_round_ms")(r.searchBmwBatch(qs, 10))
      n += 1
    }
    val rounds = get("batch_round_ms")
    res.note(s"batch rounds: ${rounds.map(v => f"$v%.0f").mkString(", ")} ms")
    if (rounds.nonEmpty)
      res.e2e("batch_qps", qs.size / (Stats.interquartileMean(rounds) / 1000.0), "1/s", rounds.size)
  }

  /** The exhaustive BM25 scorer over `src`, with doc ids taken from the
    * docs table(s) `docIds` (repo, path, commit -> docId).
    */
  def oracle(src: Dataset[CodeFile], docIds: DataFrame): ExhaustiveScorer.Prepared = tr.span("check.oracle") {
    val docs = src.toDF().join(docIds.select("docId", "repo", "path", "commit"), Seq("repo", "path", "commit"))
      .select(col("docId"), col("content")).as[ExhaustiveScorer.OracleDoc]
    val prep = ExhaustiveScorer.prepare(spark, docs)
    prep.rows.persist()
    prep
  }

  def oracleAnswer(o: ExhaustiveScorer.Prepared, op: Op, k: Int): Seq[(Long, Double)] = op match {
    case Bmw(q) => o.topK(q, k).toSeq.map(h => (h.docId, h.score))
    case BoolQ(m, sh) => o.topKBool(m, sh, Nil, k).toSeq.map(h => (h.docId, h.score))
    case other => sys.error(s"no reference answer for ${other.kind}")
  }

  /** The reference answers of `ops`, computed concurrently (the check runs
    * after every measurement, so its Spark jobs may overlap); a failed one
    * is a failed op.
    */
  def oracleAnswers(o: ExhaustiveScorer.Prepared, ops: Seq[Op], k: Int): Seq[Option[Seq[(Long, Double)]]] = {
    import scala.concurrent.{Await, ExecutionContext, Future}
    val pool = java.util.concurrent.Executors.newFixedThreadPool(s.cores)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      val fs = ops.map(op => Future(scala.util.Try(oracleAnswer(o, op, k))))
      fs.map(f => Await.result(f, scala.concurrent.duration.Duration.Inf)).zip(ops).map {
        case (scala.util.Success(a), _) => res.attempted += 1; Some(a)
        case (scala.util.Failure(e), op) =>
          res.attempted += 1; res.failed += 1
          res.note(s"check.oracle_query ($op) failed: ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}")
          None
      }
    } finally pool.shutdown()
  }

  /** Replace the first non-empty answer's top score, for the self-check that
    * a wrong answer is caught.
    */
  def maybeCorrupt(answers: Seq[Seq[(Long, Double)]]): Seq[Seq[(Long, Double)]] =
    if (!s.corrupt) answers
    else {
      val i = answers.indexWhere(_.nonEmpty)
      if (i < 0) answers
      else answers.updated(i, answers(i).updated(0, (answers(i).head._1, answers(i).head._2 + 1e-3)))
    }

  /** Single-threaded micro-measurements of the tokenizer and the postings
    * codec (traced runs only).
    */
  def microLayers(idx: String): Unit = {
    val docs = (0 until 400).map(i => CorpusGen.row(in.rowBase + i).content)
    val tokRuns = (0 until 5).map { _ =>
      val t0 = System.nanoTime()
      var toks = 0L
      docs.foreach(d => toks += CodeTokenizer.tfPos(d).iterator.map(_._2.toLong).sum)
      toks / ((System.nanoTime() - t0) / 1e9)
    }
    res.layer("tokenize.tokens_per_s", Stats.median(tokRuns), "1/s", tokRuns.size)

    val post = Tables.read(spark, idx, InvertedIndex.PostingsTable)
    val totals = post.agg(sum("count"), sum(length(col("docDeltas")) + length(col("tfs")) +
      length(col("dls")) + coalesce(length(col("pos")), lit(0)))).collect()(0)
    res.layer("codec.bytes_per_posting", totals.getLong(1).toDouble / math.max(1L, totals.getLong(0)),
      "B", totals.getLong(0))
    val blocks = post.select("firstDocId", "count", "docDeltas", "tfs", "dls").limit(4000).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getAs[Array[Byte]](2), r.getAs[Array[Byte]](3), r.getAs[Array[Byte]](4)))
    val mb = blocks.iterator.map(b => b._3.length + b._4.length + b._5.length).sum / 1e6
    val decoded = blocks.map(b => (PostingsCodec.decodeDocIds(b._1, b._2, b._3),
      PostingsCodec.decodeTfs(b._2, b._4), PostingsCodec.decodeDls(b._2, b._5)))
    def rate(body: => Unit): Double = Stats.median((0 until 5).map { _ =>
      val t0 = System.nanoTime(); body; mb / ((System.nanoTime() - t0) / 1e9)
    })
    res.layer("codec.decode_mb_per_s", rate(blocks.foreach { b =>
      PostingsCodec.decodeDocIds(b._1, b._2, b._3); PostingsCodec.decodeTfs(b._2, b._4)
      PostingsCodec.decodeDls(b._2, b._5)
    }), "MB/s", blocks.length)
    res.layer("codec.encode_mb_per_s", rate(decoded.foreach { case (ids, tfs, dls) =>
      PostingsCodec.encodeDocIds(ids); PostingsCodec.encodeTfs(tfs); PostingsCodec.encodeDls(dls)
    }), "MB/s", blocks.length)
  }

  /** Record the peak resident set of this JVM (VmHWM) so far, in MB. Called
    * before the correctness check, so the oracle's memory is not in it.
    */
  def recordPeakRss(): Unit = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    val mb = try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024.0
    }.getOrElse(Double.NaN)
    finally src.close()
    res.e2e("peak_rss_mb", mb, "MB", 1)
  }

  /** The end-to-end metrics every index workload reports. */
  def commonMetrics(setupMs: Seq[Double], indexBytesRatio: Double): Unit = {
    res.e2e("setup_s", sessionStartS + Stats.median(setupMs) / 1000.0, "s", setupMs.size)
    def list(xs: Seq[Double]) = xs.map(v => f"$v%.2f").mkString(", ")
    res.note(f"set-up: median session start $sessionStartS%.2f s (of ${list(sessionStarts)} s) + median " +
      f"${Stats.median(setupMs) / 1000}%.2f s (of ${list(setupMs.map(_ / 1000))} s)")
    val b = get("build_ms")
    if (b.nonEmpty) res.e2e("build_docs_per_s", s.docs / (Stats.median(b) / 1000.0), "docs/s", b.size)
    res.e2e("index_bytes_per_src_byte", indexBytesRatio, "ratio", 1)
    val rq = get("refresh_query_ms")
    if (rq.nonEmpty) res.e2e("refresh_query_p50_ms", Stats.median(rq), "ms", rq.size)
    val q = get("query_ms")
    if (q.nonEmpty) {
      res.e2e("query_p50_ms", Stats.median(q), "ms", q.size)
      res.e2e("query_p90_ms", Stats.pct(q, 90), "ms", q.size)
    }
  }
}

/** `ingest`: the write path. The seeded corpus is staged (the set-up, done
  * `Stagings` times); one timed full build; one delta round: add a batch of
  * `DeltaDocs` new docs, discover segments, open a fresh reader and run its
  * first query; then the query loop for `seconds` on the composite index, a
  * batch-query phase, and the correctness check. With `compact`, the delta
  * is then compacted and the compacted index is checked too.
  */
object Ingest {
  val DeltaDocs = 200
  val Stagings = 5

  def run(c: Ctx): Unit = {
    import c.spark.implicits._
    val s = c.s
    val setupMs = (0 until Stagings).map { i =>
      val t0 = System.nanoTime()
      c.stage(c.path(s"src$i"))
      if (i < Stagings - 1) c.delete(c.path(s"src$i"))
      c.ms(t0)
    }
    val srcDir = c.path(s"src${Stagings - 1}")
    val src = c.spark.read.parquet(srcDir).as[CodeFile]
    val idx = c.path("idx")
    c.build(src, idx, "base")
    c.log("built")
    val bytesRatio = c.bytesUnder(idx).toDouble / c.bytesUnder(srcDir)

    val (batchIds, batch) = c.in.deltaBatch(c.spark, DeltaDocs, s.cores)
    val added = c.attempt("index.delta", "delta_ms")(DeltaIndex.addDocuments(c.spark, idx, batch, c.cfg, "delta"))
    val deltaIds = if (added.isDefined) batchIds else Nil
    c.attempt("lineage.segments", "segments_ms")(DeltaIndex.segmentDirs(c.spark, idx))
    val t0 = System.nanoTime()
    var reader: IndexReader = null
    c.attempt("refresh") {
      reader = c.openReader(idx)
      c.runOp(reader, Bmw(c.in.bmwQuery()))
    }.foreach(_ => c.sample("refresh_query_ms", c.ms(t0)))
    if (reader == null) return
    c.queryLoop(reader)
    c.commonMetrics(setupMs, bytesRatio)
    val d = c.get("delta_ms")
    if (d.nonEmpty) c.res.layer("delta_add_p50_s", Stats.median(d) / 1000.0, "s", d.size)

    // correctness: the composite reader answers the check queries exactly
    // as the exhaustive scorer over the union, numbered by the segments
    val all = src.unionByName(deltaIds.toDS().map(CorpusGen.row))
    val checks = c.in.checkOps
    val got = c.maybeCorrupt(checks.map(op => c.attempt("check.composite")(c.runOp(reader, op)).getOrElse(Nil)))
    c.batchPhase(reader)
    c.recordPeakRss()
    if (s.trace) c.microLayers(idx)
    val keyCols = Seq("repo", "path", "commit")
    val segDocs = reader.segments.map(seg => Tables.read(c.spark, seg, InvertedIndex.DocsTable)
      .select("docId", keyCols: _*)).reduce(_ unionByName _)
    val oracle = c.oracle(all, segDocs)
    val want = c.tr.span("check.oracle_query")(c.oracleAnswers(oracle, checks, 50))
    checks.zip(got).zip(want).zipWithIndex.foreach {
      case (((op, hits), Some(deep)), i) =>
        Check.sameRanking(hits, deep.take(10)).foreach(e => c.wrongAnswer(s"ingest composite check $i ($op): $e"))
      case _ => ()
    }
    if (s.compact) {
      // compaction renumbers the docs: map its hits back through the
      // document key, and let equal-score docs come in either order
      def keyed(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(r => (r.getString(1), r.getString(2), r.getString(3)) -> r.getLong(0)).toMap
      val segId = keyed(segDocs)
      c.attempt("index.compact", "compact_ms")(DeltaIndex.compact(c.spark, idx, all, c.cfg, "compact"))
      c.get("compact_ms").foreach(v => c.res.layer("compact_s", v / 1000.0, "s", 1))
      val compacted = c.openReader(idx)
      val toSeg = keyed(Tables.read(c.spark, idx, InvertedIndex.DocsTable).select("docId", keyCols: _*))
        .map { case (k, id) => id -> segId.getOrElse(k, -1L) }
      checks.zip(want).zipWithIndex.foreach {
        case ((op, Some(deep)), i) => c.attempt("check.compacted") {
          val hits = c.runOp(compacted, op).map { case (d, sc) => (toSeg.getOrElse(d, -1L), sc) }
          Check.sameRankingUpToTies(hits, deep, 10)
            .foreach(e => c.wrongAnswer(s"ingest compacted check $i ($op): $e"))
        }
        case _ => ()
      }
    }
    oracle.rows.unpersist()
    c.log("checked")
  }
}

/** `search`: a read-only closed loop over one single-segment index. Set-up:
  * stage the corpus, build, open a reader, run one query of each kind. Then
  * three refreshes (a fresh reader and its first query), the mixed query
  * loop for `seconds`, the batch phase, and the correctness check against
  * the exhaustive scorer.
  */
object Search {
  def run(c: Ctx): Unit = {
    val s = c.s
    val t0 = System.nanoTime()
    val srcDir = c.path("src")
    val idx = c.path("idx")
    val src = c.stage(srcDir)
    c.build(src, idx, "setup")
    var reader = c.openReader(idx)
    Seq(Bmw(c.in.bmwQuery()), BoolQ(Seq(CorpusGen.MidIds(3)), Seq(c.in.term(1))), Phrase(c.in.phrase()),
      Prefix(c.in.prefix())).foreach(op => c.attempt("warmup")(c.runOp(reader, op)))
    val setupMs = Seq(c.ms(t0))
    c.log("set-up")
    for (_ <- 0 until 3) {
      val t0 = System.nanoTime()
      c.attempt("refresh") {
        reader = c.openReader(idx)
        c.runOp(reader, Bmw(c.in.bmwQuery()))
      }.foreach(_ => c.sample("refresh_query_ms", c.ms(t0)))
    }
    c.queryLoop(reader)
    c.commonMetrics(setupMs, c.bytesUnder(idx).toDouble / c.bytesUnder(srcDir))
    c.batchPhase(reader)
    c.recordPeakRss()
    if (s.trace) c.microLayers(idx)

    import c.spark.implicits._
    c.log("batch phase done")
    val checks = c.in.checkOps
    val got = c.maybeCorrupt(checks.map(op => c.attempt("check.engine")(c.runOp(reader, op)).getOrElse(Nil)))
    val oracle = c.oracle(c.spark.read.parquet(srcDir).as[CodeFile],
      Tables.read(c.spark, idx, InvertedIndex.DocsTable))
    val want = c.tr.span("check.oracle_query")(c.oracleAnswers(oracle, checks, 10))
    checks.zip(got).zip(want).zipWithIndex.foreach {
      case (((op, hits), Some(w)), j) =>
        Check.sameRanking(hits, w).foreach(e => c.wrongAnswer(s"search check $j ($op): $e"))
      case _ => ()
    }
    oracle.rows.unpersist()
    c.log("checked")
  }
}
