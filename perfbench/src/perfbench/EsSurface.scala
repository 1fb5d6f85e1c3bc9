package perfbench

import graft.SparkEntry
import graft.driver.DocumentsIndex
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The driver-contract catalogue (`SparkEntry.queries`) over a prebuilt
  * `DocumentsIndex` of a table directory. A pass rebuilds the engine's
  * indexes for that directory, runs an untimed warm-up pass that also writes
  * each row's result for the DuckDB comparison, then a timed pass that runs
  * every row once, `fn(spark, dir)` then `.count()`.
  *
  * The `es_surface` workload runs the whole catalogue over a given table
  * directory; traced `search` runs measure the driver and ops layers on
  * `SampleRows` over a seeded `documents` table.
  */
object EsSurface {
  val PairKernels = Seq("td_neardup_minhash", "td_ngram_jaccard", "td_simhash_pairs")

  /** The fixed catalogue sample: the three pair kernels and rows of the
    * a (aggregation) and b (search) families that read only `documents`;
    * b15 goes through the delta index.
    */
  val SampleRows: Seq[String] = PairKernels ++ Seq("b02_corpus_stats", "b03_dictionary", "b08_bm25_topk",
    "b15_delta_match", "b16_phrase", "b17_bool", "b18_prefix", "a20_histogram", "a25_composite",
    "a31_multi_terms", "a44_string_stats")
  val SampleDocs = 500

  /** One row of the timed pass: construct and execute wall times. */
  final case class Row(name: String, constructMs: Double, execMs: Double) {
    def totalMs: Double = constructMs + execMs
  }
  final case class Pass(setupMs: Double, rows: Seq[Row], codegen: Long)

  /** `es_surface`: the catalogue over `--sf-dir`. The returned function
    * reports the per-layer metrics once the trace is complete.
    */
  def run(c: Ctx): () => Unit = {
    val sf = c.s.sfDir.getOrElse(sys.error("es_surface needs --sf-dir <table directory>"))
    val p = pass(c, sf, SparkEntry.queries.toSeq.take(c.s.maxRows))
    val r = c.res
    val rowMs = p.rows.map(_.totalMs)
    r.e2e("setup_s", c.sessionStartS + p.setupMs / 1000.0, "s", 1)
    r.e2e("rows_total_s", rowMs.sum / 1000.0, "s", rowMs.size)
    r.e2e("row_p50_ms", Stats.median(rowMs), "ms", rowMs.size)
    r.e2e("row_p90_ms", Stats.pct(rowMs, 90), "ms", rowMs.size)
    c.recordPeakRss()
    () => layers(c, p)
  }

  /** The catalogue sample, in traced runs of another workload: a seeded
    * `documents` table in the run's `tables` directory (checked against
    * DuckDB like `es_surface`), one pass over `SampleRows`. Its Spark work
    * runs under the `driver.catalogue` span, which the run's spark.* totals
    * leave out.
    */
  def sample(c: Ctx): () => Unit = {
    val sf = c.path("tables")
    val p = c.tr.span("driver.catalogue") {
      c.in.documents(c.spark, SampleDocs).coalesce(1).write.parquet(s"$sf/documents.parquet")
      pass(c, sf, SampleRows.map(n => n -> SparkEntry.queries(n)))
    }
    () => layers(c, p)
  }

  private def pass(c: Ctx, sf: String, rows: Seq[(String, (SparkSession, String) => DataFrame)]): Pass = {
    val out = c.path("rows")
    val t0 = System.nanoTime()
    c.tr.span("setup.rebuild") {
      DocumentsIndex.rebuild(c.spark, sf)
      DocumentsIndex.rebuildDelta(c.spark, sf)
    }
    val written = rows.flatMap { case (name, fn) =>
      c.attempt("driver.warmup")(fn(c.spark, sf).write.mode("overwrite").parquet(s"$out/$name")).map(_ => name)
    }
    val setupMs = c.ms(t0)
    writeOracleSql(s"$out/oracle_sql.json", written)

    val codegen0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val timed = rows.flatMap { case (name, fn) =>
      c.attempt(s"driver.row.$name") {
        val r0 = System.nanoTime()
        val df = c.tr.span("driver.construct")(fn(c.spark, sf))
        val conMs = c.ms(r0)
        val e0 = System.nanoTime()
        c.tr.span("driver.exec")(df.count())
        Row(name, conMs, c.ms(e0))
      }
    }
    c.res.note(s"catalogue: ${written.size} of ${rows.size} rows written for the oracle check")
    Pass(setupMs, timed, CodegenMetrics.METRIC_COMPILATION_TIME.getCount - codegen0)
  }

  private def layers(c: Ctx, p: Pass): Unit = {
    val l = new Layers(c)
    val r = c.res
    val timed = p.rows
    r.layer("driver.construct_ms", timed.map(_.constructMs).sum, "ms", timed.size)
    r.layer("driver.construct_jobs", l.jobsUnder("driver.construct").size.toDouble, "count", timed.size)
    val qe = l.qesUnder("driver.exec")
    r.layer("driver.analysis_ms", qe.map(_.analysisMs).sum, "ms", qe.size)
    r.layer("driver.optimization_ms", qe.map(_.optimizationMs).sum, "ms", qe.size)
    r.layer("driver.planning_ms", qe.map(_.planningMs).sum, "ms", qe.size)
    r.layer("driver.exec_ms", timed.map(_.execMs).sum, "ms", timed.size)
    r.layer("driver.exec_jobs", l.jobsUnder("driver.exec").size.toDouble, "count", timed.size)
    r.layer("driver.rows_construct_dominated", timed.count(t => t.constructMs > t.execMs).toDouble, "count",
      timed.size)
    r.layer("driver.codegen_compiles", p.codegen.toDouble, "count", timed.size)
    val pk = timed.filter(t => PairKernels.contains(t.name))
    r.layer("ops.pair_kernels_exec_ms", pk.map(_.execMs).sum, "ms", pk.size)
    r.layer("ops.pair_kernels_task_cpu_s",
      PairKernels.flatMap(n => l.jobsUnder(s"driver.row.$n")).map(_.cpuMs).sum / 1000, "s", pk.size)
    def family(prefix: String) = timed.filter(_.name.startsWith(prefix))
    for ((metric, prefix) <- Seq("ops.family_td_s" -> "td_", "driver.family_a_s" -> "a", "driver.family_b_s" -> "b")) {
      val f = family(prefix)
      r.layer(metric, f.map(_.totalMs).sum / 1000, "s", f.size)
    }
  }

  private def writeOracleSql(path: String, names: Seq[String]): Unit = {
    def q(s: String) = "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"; case '\r' => "\\r"; case '\t' => "\\t"
      case ch if ch < ' ' => f"\\u${ch.toInt}%04x"; case ch => ch.toString
    } + "\""
    val sql = SparkEntry.oracleSql
    val body = names.filter(sql.contains).map(n => s"${q(n)}:${q(sql(n))}").mkString("{", ",\n", "}")
    val w = new java.io.PrintWriter(path, "UTF-8")
    try w.println(body) finally w.close()
  }
}
