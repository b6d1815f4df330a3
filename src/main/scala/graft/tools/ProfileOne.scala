package graft.tools

import org.apache.spark.scheduler._
import scala.collection.mutable

/** Dev harness (guide §1): run one `SparkEntry.queries` entry with a
  * job-level listener and print where the wall-clock goes — per-job wall
  * time, task time, and the driver-side gaps between jobs. Usage:
  *   sbt "runMain graft.tools.ProfileOne <queryName> [sfDir] [reps]"
  *
  * The jobs of the TIMED rep only are reported (warm-up rep excluded),
  * sorted by wall duration, with the call site so a job maps back to the
  * operator line that launched it. "gap" is the time between one job's
  * completion and the next job's submission — driver-side work (planning,
  * FS listing, collect processing, non-Spark compute) shows up there.
  */
object ProfileOne {
  private final case class JobRec(id: Int, submitted: Long, var completed: Long,
                                  site: String, exec: Option[Long], var tasks: Int,
                                  var taskTimeMs: Long)

  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: ProfileOne <queryName> [sfDir] [reps]")
    val name = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val reps = if (args.length > 2) args(2).toInt else 1
    val fn = graft.SparkEntry.queries.getOrElse(name,
      sys.error(s"unknown query '$name'"))
    val spark = graft.core.GraftConf.local("graft-profile",
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)

    val jobs = mutable.LinkedHashMap[Int, JobRec]()
    val stageToJob = mutable.HashMap[Int, Int]()
    // per-stage-callsite aggregation: (stages, tasks, wall ms, task ms)
    val bySite = mutable.HashMap[String, (Int, Int, Long, Long)]()
    // each SQL execution's (description, call-site stack)
    val execSite = mutable.HashMap[Long, (String, String)]()
    // the first graft.* frame of a call-site stack, with the action's name:
    // inside a foreachBatch every stage's short name is the writeStream line
    def graftFrame(name: String, details: String): Option[String] =
      Option(details).getOrElse("").linesIterator
        .find(l => l.contains("graft.") && !l.contains("ProfileOne"))
        .map(f => s"${name.takeWhile(_ != ' ')} @ ${f.trim}")
    @volatile var recording = false
    val listener = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case x: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
          jobs.synchronized { execSite(x.executionId) = (x.description, x.details) }
        case _ => ()
      }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        if (recording) {
          val si = e.stageInfo
          val wall = (for (s <- si.submissionTime; c <- si.completionTime)
            yield c - s).getOrElse(0L)
          // a stage submitted from the adaptive-execution pool carries the
          // pool thread's stack, with no graft frame: take its SQL
          // execution's call site instead, then the job's short call site
          // (the name GraftSession.withCallSite sets, which has no stack),
          // then the execution's own name (this harness's count of the
          // gate's result has no graft frame but its own)
          jobs.synchronized {
            val job = stageToJob.get(si.stageId).flatMap(jobs.get)
            val exec = job.flatMap(_.exec).flatMap(execSite.get)
            val key = graftFrame(si.name, si.details)
              .orElse(exec.flatMap { case (desc, details) => graftFrame(desc, details) })
              .orElse(job.map(_.site).filter(_ != "?"))
              .orElse(exec.map(_._1))
              .getOrElse(si.name)
            val (n, t, w, tt) = bySite.getOrElse(key, (0, 0, 0L, 0L))
            bySite(key) = (n + 1, t + si.numTasks, w + wall, tt)
          }
        }
      override def onJobStart(e: SparkListenerJobStart): Unit = if (recording) {
        def prop(k: String) = Option(e.properties).flatMap(p => Option(p.getProperty(k)))
        jobs.synchronized {
          jobs(e.jobId) = JobRec(e.jobId, e.time, -1L, prop("callSite.short").getOrElse("?"),
            prop("spark.sql.execution.id").map(_.toLong), 0, 0L)
          e.stageIds.foreach(sid => stageToJob(sid) = e.jobId)
        }
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        jobs.synchronized { jobs.get(e.jobId).foreach(_.completed = e.time) }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        jobs.synchronized {
          for (jid <- stageToJob.get(e.stageId); j <- jobs.get(jid)) {
            j.tasks += 1
            if (e.taskInfo != null) j.taskTimeMs += e.taskInfo.duration
          }
        }
    }
    spark.sparkContext.addSparkListener(listener)

    try {
      // warm-up rep: JIT, codegen cache, parquet footers
      val w0 = System.nanoTime()
      fn(spark, sfDir).count()
      println(f"[profile] $name warm-up: ${(System.nanoTime() - w0) / 1e9}%.2f s")
      (1 to reps).foreach { rep =>
        jobs.synchronized { jobs.clear(); stageToJob.clear(); bySite.clear() }
        recording = true
        val cg0 = org.apache.spark.metrics.source.CodegenMetrics
          .METRIC_COMPILATION_TIME.getCount
        val cgMs0 = org.apache.spark.metrics.source.CodegenMetrics
          .METRIC_COMPILATION_TIME.getSnapshot.getValues.sum
        val t0 = System.nanoTime()
        val n = fn(spark, sfDir).count()
        val wallSec = (System.nanoTime() - t0) / 1e9
        recording = false
        val cg1 = org.apache.spark.metrics.source.CodegenMetrics
          .METRIC_COMPILATION_TIME.getCount
        val cgMs1 = org.apache.spark.metrics.source.CodegenMetrics
          .METRIC_COMPILATION_TIME.getSnapshot.getValues.sum
        println(f"[profile] codegen compiles this rep: ${cg1 - cg0}, " +
          f"~${(cgMs1 - cgMs0) / 1e6}%.0f ms compile time")
        Thread.sleep(300) // drain listener bus
        val recs = jobs.synchronized { jobs.values.toVector }.sortBy(_.submitted)
        val totalJobMs = recs.collect { case r if r.completed > 0 => r.completed - r.submitted }.sum
        println(f"[profile] $name rep $rep: $n rows, wall $wallSec%.2f s, " +
          f"${recs.size} jobs, sum(job wall) ${totalJobMs / 1e3}%.2f s, " +
          f"outside-jobs ${wallSec - totalJobMs / 1e3}%.2f s")
        // gaps between consecutive jobs (driver-side time)
        val gaps = recs.sliding(2).collect {
          case Vector(a, b) if a.completed > 0 => (b.submitted - a.completed, a.id, b.id)
        }.toVector.sortBy(-_._1)
        println("[profile] top jobs by wall ms:")
        recs.sortBy(r => -(r.completed - r.submitted)).take(30).foreach { r =>
          val wall = if (r.completed > 0) r.completed - r.submitted else -1L
          println(f"  job ${r.id}%4d wall ${wall}%6d ms tasks ${r.tasks}%4d " +
            f"taskTime ${r.taskTimeMs}%7d ms  ${r.site}")
        }
        println("[profile] top gaps between jobs (driver-side) ms:")
        gaps.take(20).foreach { case (g, a, b) =>
          println(f"  after job $a%4d -> before job $b%4d: $g%6d ms")
        }
        // histogram of job walls
        val buckets = Seq(0L, 50L, 100L, 250L, 500L, 1000L, 5000L, Long.MaxValue)
        val walls = recs.collect { case r if r.completed > 0 => r.completed - r.submitted }
        val hist = buckets.sliding(2).map { case Seq(lo, hi) =>
          val c = walls.count(w => w >= lo && w < hi)
          s"[$lo,${if (hi == Long.MaxValue) "inf" else hi}):$c"
        }.mkString(" ")
        println(s"[profile] job-wall histogram ms: $hist")
        println("[profile] stages by callsite (stages/tasks/sum stage-wall ms):")
        jobs.synchronized { bySite.toVector }.sortBy(-_._2._3).take(30)
          .foreach { case (site, (n, t, w, _)) =>
            println(f"  $w%7d ms  stages $n%3d tasks $t%5d  $site")
          }
      }
    } finally spark.stop()
  }
}
