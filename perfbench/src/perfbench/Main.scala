package perfbench

import org.apache.spark.sql.SparkSession
import scala.collection.mutable

/** Benchmark JVM entry point. `run.py` builds the classpath, sizes the JVM
  * and the per-run temp root, and turns the result file this writes into
  * the printed report.
  *
  *   perfbench.Main <workload> --seed N --seconds S --trace 0|1 --root DIR
  *     --result FILE [--cores N --offheap-mb N --docs N ...]
  *
  * Workloads: ingest, search, es_surface (needs --sf-dir), selftest.
  */
object Main {
  val SessionStarts = 3

  def main(argv: Array[String]): Unit = {
    val workload = argv.headOption.getOrElse(sys.error("usage: perfbench.Main <workload> [--opt value]..."))
    if (workload == "selftest") { SelfTest.run(); return }
    val opts = argv.tail.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => sys.error(s"bad option ${other.mkString(" ")}")
    }.toMap
    def opt(k: String) = opts.getOrElse(k, sys.error(s"missing --$k"))
    def int(k: String, d: Int) = opts.get(k).map(_.toInt).getOrElse(d)
    val cores = int("cores", Runtime.getRuntime.availableProcessors())
    val s = Settings(workload, opt("seed").toLong, opt("seconds").toInt, opt("trace") == "1",
      opt("root"), cores, docs = int("docs", 20000),
      corrupt = opts.get("corrupt").contains("1"), compact = opts.get("compact").contains("1"),
      sfDir = opts.get("sf-dir"),
      maxRows = int("max-rows", Int.MaxValue))
    val offHeapMb = int("offheap-mb", 1024)

    def start(): SparkSession = {
      val spark = SparkSession.builder()
        .master(s"local[$cores]")
        .appName(s"perfbench-$workload")
        .config("spark.sql.shuffle.partitions", cores.toString)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.local.dir", s"${s.root}/spark-local")
        .config("spark.sql.warehouse.dir", s"${s.root}/warehouse")
        .config("spark.hadoop.hadoop.tmp.dir", s"${s.root}/hadoop-tmp")
        .config("spark.memory.offHeap.enabled", "true")
        .config("spark.memory.offHeap.size", (offHeapMb.toLong << 20).toString)
        .config("spark.hadoop.fs.file.impl", classOf[HermeticFs].getName)
        .getOrCreate()
      spark.sparkContext.setLogLevel("ERROR")
      spark
    }
    // session start is timed SessionStarts times (stop, start again) and
    // the median taken: the first start is cold (class loading), the
    // others are not, so one cold sample does not decide setup_s
    System.setProperty(HermeticFs.TmpProperty, s"${s.root}/tmp")
    val startS = mutable.ArrayBuffer.empty[Double]
    var spark: SparkSession = null
    for (_ <- 0 until SessionStarts) {
      if (spark != null) spark.stop()
      val t0 = System.nanoTime()
      spark = start()
      startS += (System.nanoTime() - t0) / 1e9
    }

    val tracer = new Tracer(s.trace)
    tracer.attach(spark)
    val c = new Ctx(spark, tracer, s, startS.toSeq)
    try {
      HermeticFs.verify(spark.sparkContext.hadoopConfiguration)
      val layers: () => Unit = workload match {
        case "ingest" => Ingest.run(c); () => new Layers(c).report()
        case "search" =>
          Search.run(c)
          // traced runs also measure the driver and ops layers, on a fixed
          // sample of the catalogue over a seeded documents table
          val es = if (s.trace) Some(EsSurface.sample(c)) else None
          () => { new Layers(c).report(); es.foreach(_()) }
        case "es_surface" => EsSurface.run(c)
        case other => sys.error(s"unknown workload $other (ingest, search, es_surface, selftest)")
      }
      if (s.trace) {
        tracer.flush(spark)
        layers()
        new Layers(c).totals()
        tracer.writeSpans(s"${s.root}/spans.jsonl")
      }
      val w = new java.io.PrintWriter(opt("result"), "UTF-8")
      try w.println(c.res.toJson) finally w.close()
    } finally spark.stop()
  }
}
