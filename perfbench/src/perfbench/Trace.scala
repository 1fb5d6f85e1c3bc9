package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** One timed call. Times are epoch milliseconds with sub-millisecond
  * fraction, taken from one monotonic clock so they compare with each other
  * and (at millisecond resolution) with Spark's event timestamps.
  */
final case class Span(id: Int, parent: Int, traceId: Int, name: String,
    start: Double, end: Double) {
  def durMs: Double = end - start
}

/** A Spark job as seen by the listener, with its tasks' totals. */
final class JobRec(val jobId: Int, val timeMs: Long, val stageIds: Seq[Int]) {
  var tasks = 0L
  var taskMs = 0.0
  var cpuMs = 0.0
  var gcMs = 0.0
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
}

/** One finished Dataset action, from the QueryExecutionListener. */
final case class QeRec(timeMs: Long, analysisMs: Double, optimizationMs: Double,
    planningMs: Double, execMs: Double, marker: Boolean)

/** Spans recorded around the benchmark's calls into the engine, plus the
  * Spark jobs, tasks and query executions seen while they were open. With
  * `enabled = false`, `span` only runs its body and nothing is recorded.
  *
  * One client thread opens spans (the benchmark is a single closed loop);
  * the Spark listeners run on Spark's listener threads and only append to
  * concurrent queues, so the two never share mutable state.
  */
final class Tracer(val enabled: Boolean) {
  private val nanoBase = System.nanoTime()
  private val epochBase = System.currentTimeMillis().toDouble
  def nowMs: Double = epochBase + (System.nanoTime() - nanoBase) / 1e6

  private val done = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack.empty[(Int, Int, String, Double)] // id, traceId, name, start
  private var nextId = 1
  private var nextTrace = 1

  def spans: Seq[Span] = done.toSeq

  /** Time `body` as a span named `name`, child of the innermost open span.
    * A span opened with no parent starts a new trace id.
    */
  def span[A](name: String)(body: => A): A = {
    if (!enabled) return body
    val id = nextId; nextId += 1
    val traceId = if (stack.isEmpty) { nextTrace += 1; nextTrace - 1 } else stack.top._2
    val parent = if (stack.isEmpty) 0 else stack.top._1
    stack.push((id, traceId, name, nowMs))
    try body
    finally {
      val (_, _, _, start) = stack.pop()
      done += Span(id, parent, traceId, name, start, nowMs)
    }
  }

  // ---- Spark side -------------------------------------------------------

  private val jobs = new ConcurrentLinkedQueue[JobRec]()
  private val stageToJob = new java.util.concurrent.ConcurrentHashMap[Int, JobRec]()
  private val qes = new ConcurrentLinkedQueue[QeRec]()
  @volatile private var lastEndedJob = -1
  private val MarkerText = "perfbench_flush_marker"

  private val jobListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val j = new JobRec(e.jobId, e.time, e.stageIds)
      e.stageIds.foreach(s => stageToJob.put(s, j))
      jobs.add(j)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = lastEndedJob = math.max(lastEndedJob, e.jobId)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val j = stageToJob.get(e.stageId)
      if (j != null && e.taskInfo != null) j.synchronized {
        j.tasks += 1
        j.taskMs += e.taskInfo.duration.toDouble
        val m = e.taskMetrics
        if (m != null) {
          j.cpuMs += m.executorCpuTime / 1e6
          j.gcMs += m.jvmGCTime.toDouble
          j.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
          j.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        }
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val ph = qe.tracker.phases
      def ms(p: String) = ph.get(p).map(_.durationMs.toDouble).getOrElse(0.0)
      val t = ph.values.map(_.endTimeMs).maxOption.getOrElse(System.currentTimeMillis())
      val marker = qe.logical.toString.contains(MarkerText)
      qes.add(QeRec(t, ms("analysis"), ms("optimization"), ms("planning"), durationNs / 1e6, marker))
    }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  /** Register the listeners (traced runs only). */
  def attach(spark: SparkSession): Unit = if (enabled) {
    spark.sparkContext.addSparkListener(jobListener)
    spark.listenerManager.register(qeListener)
  }

  /** Wait until both listener queues have delivered every event posted so
    * far: run one marker action, and wait for its job end and its query
    * execution event (each queue delivers in order).
    */
  def flush(spark: SparkSession): Unit = if (enabled) {
    import org.apache.spark.sql.functions.lit
    spark.range(0, 1, 1, 1).select(lit(MarkerText).as("m")).collect()
    val markerJob = jobs.asScala.map(_.jobId).maxOption.getOrElse(-1)
    val deadline = System.nanoTime() + 30_000_000_000L
    while ((lastEndedJob < markerJob || !qes.asScala.exists(_.marker)) && System.nanoTime() < deadline)
      Thread.sleep(5)
    spark.sparkContext.removeSparkListener(jobListener)
    spark.listenerManager.unregister(qeListener)
  }

  def jobRecords: Seq[JobRec] = jobs.asScala.toSeq.sortBy(_.jobId)
  def queryExecutions: Seq[QeRec] = qes.asScala.filterNot(_.marker).toSeq

  /** Write the spans as JSON lines. */
  def writeSpans(path: String): Unit = {
    val w = new java.io.PrintWriter(path, "UTF-8")
    try done.sortBy(_.id).foreach { s =>
      w.println(f"""{"id":${s.id},"parent":${s.parent},"trace":${s.traceId},"name":"${s.name}","start_ms":${s.start}%.3f,"end_ms":${s.end}%.3f}""")
    } finally w.close()
  }
}

/** Pure functions over a finished span tree. */
object SpanTree {
  /** Span duration minus the part of its interval that its children cover
    * (overlapping children count once).
    */
  def selfTimes(spans: Seq[Span]): Map[Int, Double] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val ivs = kids.getOrElse(s.id, Nil)
        .map(c => (math.max(c.start, s.start), math.min(c.end, s.end)))
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var covered = 0.0
      var curA = Double.NaN
      var curB = Double.NaN
      ivs.foreach { case (a, b) =>
        if (curA.isNaN || a > curB) {
          if (!curA.isNaN) covered += curB - curA
          curA = a; curB = b
        } else curB = math.max(curB, b)
      }
      if (!curA.isNaN) covered += curB - curA
      s.id -> (s.durMs - covered)
    }.toMap
  }

  /** The innermost span open at `timeMs` (Spark event times are whole
    * milliseconds, so a span's interval is widened to whole milliseconds).
    * Innermost = deepest; ties go to the latest start.
    */
  def innermostAt(spans: Seq[Span], depth: Map[Int, Int], timeMs: Long): Option[Span] = {
    val t = timeMs.toDouble
    spans.iterator.filter(s => math.floor(s.start) <= t && t <= math.ceil(s.end))
      .maxByOption(s => (depth(s.id), s.start))
  }

  def depths(spans: Seq[Span]): Map[Int, Int] = {
    val byId = spans.map(s => s.id -> s).toMap
    val memo = mutable.Map.empty[Int, Int]
    def d(id: Int): Int = memo.getOrElseUpdate(id,
      byId.get(id).map(s => if (s.parent == 0) 0 else 1 + d(s.parent)).getOrElse(0))
    spans.map(s => s.id -> d(s.id)).toMap
  }

  /** Names of a span and all of its ancestors. */
  def lineage(spans: Seq[Span]): Map[Int, Seq[String]] = {
    val byId = spans.map(s => s.id -> s).toMap
    spans.map { s =>
      val b = Seq.newBuilder[String]
      var cur: Option[Span] = Some(s)
      while (cur.isDefined) { b += cur.get.name; cur = byId.get(cur.get.parent) }
      s.id -> b.result()
    }.toMap
  }
}
