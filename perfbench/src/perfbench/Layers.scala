package perfbench

/** Per-layer metrics of a traced run: spans name the layer a call went
  * into; each Spark job and query execution is attributed to the innermost
  * span open when it started, and counts for that span and its ancestors.
  * Layers with no work in a workload report 0 with sample count 0.
  */
final class Layers(c: Ctx) {
  private val spans = c.tr.spans
  private val depth = SpanTree.depths(spans)
  private val lin = SpanTree.lineage(spans)
  private val jobs = c.tr.jobRecords
  private val qes = c.tr.queryExecutions
  private def owner(t: Long): Seq[String] =
    SpanTree.innermostAt(spans, depth, t).map(s => lin(s.id)).getOrElse(Nil)
  private val jobOwner = jobs.map(j => j.jobId -> owner(j.timeMs)).toMap
  private val qeOwner = qes.map(q => q -> owner(q.timeMs))

  def named(n: String): Seq[Span] = spans.filter(_.name == n)
  def jobsUnder(n: String): Seq[JobRec] = jobs.filter(j => jobOwner(j.jobId).contains(n))
  def qesUnder(n: String): Seq[QeRec] = qeOwner.collect { case (q, o) if o.contains(n) => q }
  private def per(total: Double, n: Int): Double = if (n == 0) 0.0 else total / n
  private def meanMs(n: String): (Double, Int) = { val s = named(n); (per(s.map(_.durMs).sum, s.size), s.size) }

  /** The index, lineage, io and query layers. */
  def report(): Unit = {
    val r = c.res
    val cores = c.s.cores

    // index: stage walls from BuildReport, jobs and tasks from the listener
    val nb = c.builds.size
    for (st <- Seq("registry", "stats", "postings", "dictionary")) {
      val ws = c.builds.flatMap(_.results.filter(_.stage == st).map(_.wallSec))
      r.layer(s"index.${st}_s", per(ws.sum, ws.size), "s", ws.size)
    }
    val bj = jobsUnder("index.build")
    val buildSpans = named("index.build")
    r.layer("index.build_jobs", per(bj.size, nb), "count", nb)
    r.layer("index.build_task_cpu_s", per(bj.map(_.cpuMs).sum / 1000, nb), "s", nb)
    r.layer("index.build_shuffle_write_mb", per(bj.map(_.shuffleWriteBytes).sum / 1e6, nb), "MB", nb)
    r.layer("index.build_spill_mb", per(bj.map(_.spillBytes).sum / 1e6, nb), "MB", nb)
    val buildWall = buildSpans.map(_.durMs).sum
    r.layer("index.build_core_util", if (buildWall == 0) 0.0 else bj.map(_.taskMs).sum / (cores * buildWall),
      "ratio", nb)
    val deltas = named("index.delta")
    r.layer("index.delta_jobs", per(jobsUnder("index.delta").size, deltas.size), "count", deltas.size)
    val buildMs = Stats.median(buildSpans.map(_.durMs))
    val deltaMs = Stats.median(deltas.map(_.durMs))
    r.layer("index.delta_fixed_cost_ratio",
      if (deltas.isEmpty || buildSpans.isEmpty) 0.0
      else deltaMs / (Ingest.DeltaDocs.toDouble / c.s.docs * buildMs), "ratio", deltas.size)

    val (segMs, segN) = meanMs("lineage.segments")
    r.layer("lineage.segment_discovery_ms", segMs, "ms", segN)
    r.layer("lineage.segment_discovery_jobs", per(jobsUnder("lineage.segments").size, segN), "count", segN)
    val (openMs, openN) = meanMs("io.reader_open")
    r.layer("io.reader_open_ms", openMs, "ms", openN)
    r.layer("io.reader_open_jobs", per(jobsUnder("io.reader_open").size, openN), "count", openN)

    // query: per query op of the timed loop (and ingest's queries)
    val queries = named("query")
    val nq = queries.size
    val (dictMs, dictN) = meanMs("query.dictionary")
    r.layer("query.dictionary_ms", dictMs, "ms", dictN)
    r.layer("query.dictionary_jobs", per(jobsUnder("query.dictionary").size, dictN), "count", dictN)
    val (bmwMs, bmwN) = meanMs("query.bmw")
    r.layer("query.bmw_ms", bmwMs, "ms", bmwN)
    val qj = jobsUnder("query")
    r.layer("query.jobs_per_query", per(qj.size, nq), "count", nq)
    r.layer("query.task_cpu_ms_per_query", per(qj.map(_.cpuMs).sum, nq), "ms", nq)
    val dec = c.get("bmw_decoded").sum
    val skip = c.get("bmw_skipped").sum
    val nb2 = c.get("bmw_decoded").size
    r.layer("query.bmw_blocks_decoded", per(dec, nb2), "count", nb2)
    r.layer("query.bmw_blocks_skipped", per(skip, nb2), "count", nb2)
    r.layer("query.bmw_skip_ratio", if (dec + skip == 0) 0.0 else skip / (dec + skip), "ratio", nb2)
    r.layer("query.bmw_docs_scored", per(c.get("bmw_scored").sum, nb2), "count", nb2)
    val (conMs, conN) = meanMs("query.construct")
    r.layer("query.construct_ms", conMs, "ms", conN)
    val qq = qesUnder("query")
    r.layer("query.analysis_ms", per(qq.map(_.analysisMs).sum, nq), "ms", nq)
    r.layer("query.optimization_ms", per(qq.map(_.optimizationMs).sum, nq), "ms", nq)
    r.layer("query.planning_ms", per(qq.map(_.planningMs).sum, nq), "ms", nq)
    r.layer("query.exec_ms", per(qq.map(_.execMs).sum, nq), "ms", nq)
    val cg = c.get("loop_codegen")
    r.layer("query.codegen_compiles", cg.sum, "count", cg.size)
  }

  /** Spark totals over the run (without a catalogue sample's jobs), and
    * self time per span name.
    */
  def totals(): Unit = {
    val r = c.res
    val jobs = this.jobs.filterNot(j => jobOwner(j.jobId).contains("driver.catalogue"))
    r.layer("spark.jobs", jobs.size.toDouble, "count", jobs.size)
    r.layer("spark.tasks", jobs.map(_.tasks).sum.toDouble, "count", jobs.size)
    r.layer("spark.task_cpu_s", jobs.map(_.cpuMs).sum / 1000, "s", jobs.size)
    r.layer("spark.gc_s", jobs.map(_.gcMs).sum / 1000, "s", jobs.size)
    r.layer("spark.shuffle_write_mb", jobs.map(_.shuffleWriteBytes).sum / 1e6, "MB", jobs.size)
    r.layer("spark.spill_mb", jobs.map(_.spillBytes).sum / 1e6, "MB", jobs.size)

    // self time per span name, summed: where the run's time went with the
    // children (engine calls nested in benchmark calls) taken out; the
    // per-row es_surface spans only group their construct and exec children
    val self = SpanTree.selfTimes(spans)
    spans.filterNot(_.name.startsWith("driver.row.")).groupBy(_.name).toSeq.sortBy(_._1).foreach { case (n, ss) =>
      r.layer(s"self_ms.$n", ss.map(sp => self(sp.id)).sum, "ms", ss.size)
    }
    r.layer("trace.spans", spans.size.toDouble, "count", spans.size)
  }
}
