package graft.perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}

object Stats {
  /** Nearest-rank percentile `q` (0–100] of `xs`; 0 for no samples. */
  def pct(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val rank = math.ceil(q / 100.0 * s.length).toInt
      s(math.min(s.length - 1, math.max(0, rank - 1)))
    }

  def median(xs: Seq[Double]): Double = pct(xs, 50)

  /** Length of the union of `[start, end)` intervals clipped to `[lo, hi)`. */
  def covered(intervals: Seq[(Double, Double)], lo: Double, hi: Double): Double = {
    var total = 0.0
    var reach = lo
    intervals.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
        if (b > reach) { total += b - math.max(a, reach); reach = b }
      }
    total
  }
}

/** A span around one call into a layer: name, start, end, the span that
  * caused it (0 for none) and the run it belongs to.
  */
final case class Span(id: Long, parent: Long, name: String, startMs: Double,
                      endMs: Double, runId: String) {
  def ms: Double = endMs - startMs
}

/** In-memory span recorder; spans are written out once, when the run
  * ends. Disabled, `span` only runs its body.
  */
final class Tracer(val enabled: Boolean, val runId: String) {
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicLong()
  private val stack = ThreadLocal.withInitial[List[Long]](() => Nil)

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = ids.incrementAndGet()
      val parent = stack.get.headOption.getOrElse(0L)
      stack.set(id :: stack.get)
      val t0 = Clock.nowMs
      try body
      finally {
        stack.set(stack.get.tail)
        spans.add(Span(id, parent, name, t0, Clock.nowMs, runId))
      }
    }

  def all: Seq[Span] = spans.asScala.toSeq
  def named(name: String): Seq[Span] = all.filter(_.name == name)

  def write(f: java.io.File): Unit = {
    f.getParentFile.mkdirs()
    val out = new java.io.PrintWriter(f, "UTF-8")
    try all.sortBy(_.id).foreach { s =>
      out.println(f"""{"id":${s.id},"parent":${s.parent},"name":"${s.name}",""" +
        f""""start_ms":${s.startMs}%.3f,"end_ms":${s.endMs}%.3f,"run":"${s.runId}"}""")
    } finally out.close()
  }
}

/** Local property that tags the jobs a benchmark thread launches. */
object Phase {
  val Key = "perfbench.phase"
  def apply[T](sc: org.apache.spark.SparkContext, phase: String)(body: => T): T = {
    val prev = sc.getLocalProperty(Key)
    sc.setLocalProperty(Key, phase)
    try body finally sc.setLocalProperty(Key, prev)
  }
}

/** Job, stage and task accounting from Spark's listener bus, grouped by
  * the phase tag of the launching thread and by streaming query.
  */
final class JobLog extends SparkListener {
  final case class Job(id: Int, phase: String, queryId: String, batch: String,
                       stages: Seq[Int], startMs: Double) {
    @volatile var endMs: Double = Double.NaN
    @volatile var ok: Boolean = true
  }
  final case class Task(stage: Int, ms: Double, bytesWritten: Long)

  private val jobs = new ConcurrentHashMap[Int, Job]()
  /** stage id -> the stage reads the binlog source (a DataSourceRDD). */
  private val scanStage = new ConcurrentHashMap[Int, java.lang.Boolean]()
  private val tasks = new ConcurrentLinkedQueue[Task]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    def prop(k: String) = Option(e.properties).map(_.getProperty(k)).orNull
    jobs.put(e.jobId, Job(e.jobId, prop(Phase.Key), prop("sql.streaming.queryId"),
      prop("streaming.sql.batchId"), e.stageIds, e.time.toDouble))
    e.stageInfos.foreach(st =>
      scanStage.put(st.stageId, st.rddInfos.exists(_.name.contains("DataSourceRDD"))))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach { j =>
      j.endMs = e.time.toDouble
      j.ok = e.jobResult == JobSucceeded
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    if (e.taskInfo != null && e.taskInfo.successful)
      tasks.add(Task(e.stageId, e.taskInfo.duration.toDouble,
        Option(e.taskMetrics).map(_.outputMetrics.bytesWritten).getOrElse(0L)))

  def isScan(stage: Int): Boolean = Option(scanStage.get(stage)).exists(_.booleanValue)

  def tasksByStage: Map[Int, Seq[Task]] = tasks.asScala.toSeq.groupBy(_.stage)

  def jobsWhere(f: Job => Boolean): Seq[Job] = jobs.values().asScala.toSeq.filter(f)
}

/** Every `StreamingQueryProgress` the session reports, in arrival order. */
final class ProgressLog extends StreamingQueryListener {
  val events = new ConcurrentLinkedQueue[StreamingQueryProgress]()
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    events.add(e.progress)
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()

  /** Progress of every batch of query `id` that read its source. */
  def batches(id: java.util.UUID): Seq[Batch] =
    events.asScala.toSeq
      .filter(p => p.id == id && p.sources.nonEmpty && p.sources.head.endOffset != null)
      .map(Batch(_))
}

/** One micro-batch as its progress report describes it. */
final case class Batch(p: StreamingQueryProgress) {
  val startMs: Double = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
  def dur(k: String): Double = Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)
  val endMs: Double = startMs + dur("triggerExecution")
  val end: Pos = {
    val o = graft.sources.BinlogOffset.fromJson(p.sources.head.endOffset)
    Pos(graft.binlog.BinlogReader.fileOrdinal(o.file), o.pos)
  }
  def rows: Long = p.numInputRows
}
