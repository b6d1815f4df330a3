package graft.perfbench

import java.io.File

import org.apache.spark.sql.streaming.StreamingQuery

import graft.binlog.BinlogReader

/** Per-layer metrics of a traced run. Every traced run reports every name
  * in [[all]]; a layer the workload does not exercise reads 0.
  */
object Layers {
  val all: Seq[(String, String)] = Seq(
    "binlog.decode_mb_per_s_1t" -> "MB/s",
    "binlog.events" -> "count",
    "sources.scan_task_s" -> "s",
    "sources.scan_task_skew" -> "ratio",
    "sources.partitions" -> "count",
    "sources.latest_offset_ms_p50" -> "ms",
    "sources.get_batch_ms_p50" -> "ms",
    "engine.trigger_wait_ms_p50" -> "ms",
    "engine.batch_ms_p50" -> "ms",
    "engine.batch_ms_p99" -> "ms",
    "engine.wal_commit_ms_p50" -> "ms",
    "engine.commit_offsets_ms_p50" -> "ms",
    "engine.query_planning_ms_p50" -> "ms",
    "engine.batches" -> "count",
    "engine.rows_per_batch_p50" -> "count",
    "engine.lag_bytes_end" -> "bytes",
    "materializer.add_batch_ms_p50" -> "ms",
    "materializer.jobs_per_batch" -> "count",
    "materializer.bytes_written_per_row" -> "bytes",
    "fp.append_ms_p50" -> "ms",
    "band.append_ms_p50" -> "ms",
    "maintenance.measure_ms_p50" -> "ms",
    "maintenance.fold_ms_p50" -> "ms",
    "maintenance.folds" -> "count",
    "log.segments_max" -> "count",
    "probe.fp_ms_p50" -> "ms",
    "probe.band_ms_p50" -> "ms",
    "probe.jobs_per_probe" -> "count",
    "probe.driver_gap_share" -> "share",
    "probe.retried_jobs_per_probe" -> "count",
    "driver.jobs" -> "count",
    "driver.gap_share" -> "share",
    "gen.late_ms_p99" -> "ms")

  private def put(r: Run, name: String, v: Double): Unit = {
    val unit = all.collectFirst { case (`name`, u) => u }
      .getOrElse(throw new IllegalArgumentException(s"unknown layer metric $name"))
    r.layer(name) = (v, unit)
  }

  /** Single-thread decode of the workload's own binlog files through the
    * binlog module, repeated for at least one second.
    */
  def binlog(r: Run, files: Seq[File]): Unit = {
    def pass(): Long = files.map { f =>
      var n = 0L
      BinlogReader.eventIterator(BinlogReader.mapFile(f.getPath), 4L).foreach(_ => n += 1)
      n
    }.sum
    val bytes = files.map(_.length).sum
    val t0 = System.nanoTime()
    val events = r.tr.span("binlog.decode")(pass())
    var passes = 1
    while (System.nanoTime() - t0 < 1000000000L) { r.tr.span("binlog.decode")(pass()); passes += 1 }
    put(r, "binlog.decode_mb_per_s_1t", bytes * passes / 1e6 / ((System.nanoTime() - t0) / 1e9))
    put(r, "binlog.events", events.toDouble)
  }

  /** Source-scan tasks of the catch-up micro-batches: per batch, the
    * first stage that reads the binlog source; later stages over the same
    * data read a cache.
    */
  def sources(r: Run, q: StreamingQuery, lo: Double, hi: Double): Unit =
    r.jobs.foreach { jl =>
      val js = jl.jobsWhere(j => j.queryId == q.id.toString && j.startMs >= lo && j.startMs < hi)
      val byStage = jl.tasksByStage
      val scans = js.groupBy(_.batch).values.toSeq.flatMap { g =>
        g.flatMap(_.stages).filter(st => jl.isScan(st) && byStage.contains(st)).minOption
      }.map(byStage)
      if (scans.nonEmpty) {
        put(r, "sources.scan_task_s", scans.map(_.map(_.ms).sum).sum / scans.size / 1000)
        put(r, "sources.scan_task_skew",
          Stats.median(scans.map(ts => ts.map(_.ms).max / math.max(1.0, Stats.median(ts.map(_.ms))))))
        put(r, "sources.partitions", Stats.median(scans.map(_.size.toDouble)))
      }
    }

  /** Micro-batch engine figures from the query's progress reports. */
  def engine(r: Run, q: StreamingQuery, lo: Double, hi: Double, lagEnd: Long): Unit = {
    val all = r.progress.batches(q.id).sortBy(_.p.batchId)
    val bs = all.filter(b => b.rows > 0 && b.startMs >= lo && b.startMs < hi)
    def p50(k: String) = Stats.median(bs.map(_.dur(k)))
    put(r, "sources.latest_offset_ms_p50", p50("latestOffset"))
    put(r, "sources.get_batch_ms_p50", p50("getBatch"))
    put(r, "engine.trigger_wait_ms_p50", Stats.median(all.sliding(2).collect {
      case Seq(a, b) if b.startMs >= lo && b.startMs < hi => math.max(0.0, b.startMs - a.endMs)
    }.toSeq))
    put(r, "engine.batch_ms_p50", p50("triggerExecution"))
    put(r, "engine.batch_ms_p99", Stats.pct(bs.map(_.dur("triggerExecution")), 99))
    put(r, "engine.wal_commit_ms_p50", p50("walCommit"))
    put(r, "engine.commit_offsets_ms_p50", p50("commitOffsets"))
    put(r, "engine.query_planning_ms_p50", p50("queryPlanning"))
    put(r, "engine.batches", bs.size.toDouble)
    put(r, "engine.rows_per_batch_p50", Stats.median(bs.map(_.rows.toDouble)))
    put(r, "engine.lag_bytes_end", lagEnd.toDouble)
    put(r, "materializer.add_batch_ms_p50", p50("addBatch"))
    r.jobs.foreach { jl =>
      val js = jl.jobsWhere(j => j.queryId == q.id.toString && j.startMs >= lo && j.startMs < hi)
      val written = js.flatMap(_.stages).flatMap(st => jl.tasksByStage.getOrElse(st, Nil))
        .map(_.bytesWritten).sum
      if (bs.nonEmpty) {
        put(r, "materializer.jobs_per_batch", js.size.toDouble / bs.size)
        put(r, "materializer.bytes_written_per_row", written.toDouble / math.max(1L, bs.map(_.rows).sum))
      }
    }
  }

  /** Append, measure and fold spans of the screening sink. */
  def screen(r: Run, segmentsMax: Int): Unit = {
    def p50(n: String) = Stats.median(r.tr.named(n).map(_.ms))
    put(r, "fp.append_ms_p50", p50("fp.append"))
    put(r, "band.append_ms_p50", p50("band.append"))
    put(r, "maintenance.measure_ms_p50", p50("maintenance.measure"))
    put(r, "maintenance.fold_ms_p50", p50("maintenance.fold"))
    put(r, "maintenance.folds", r.tr.named("maintenance.fold").size.toDouble)
    put(r, "log.segments_max", segmentsMax.toDouble)
    put(r, "probe.fp_ms_p50", p50("probe.fp"))
    put(r, "probe.band_ms_p50", p50("probe.band"))
  }

  /** Jobs, failed (retried) jobs and driver-side gaps per probe of the
    * read client, whose jobs carry phase tag `phase` and whose probes are
    * the spans named `probe.*`.
    */
  def probeJobs(r: Run, phase: String): Unit = r.jobs.foreach { jl =>
    val probes = r.tr.all.filter(_.name.startsWith("probe."))
    val js = jl.jobsWhere(_.phase == phase)
    if (probes.nonEmpty) {
      val spans = js.map(j => (j.startMs, if (j.endMs.isNaN) j.startMs else j.endMs))
      val wall = probes.map(_.ms).sum
      val inJobs = probes.map(p => Stats.covered(spans, p.startMs, p.endMs)).sum
      put(r, "probe.jobs_per_probe", js.size.toDouble / probes.size)
      put(r, "probe.retried_jobs_per_probe", js.count(!_.ok).toDouble / probes.size)
      put(r, "probe.driver_gap_share", if (wall > 0) 1 - inJobs / wall else 0.0)
    }
  }

  /** Job count and the share of the window with no Spark job running. */
  def driver(r: Run, lo: Double, hi: Double): Unit = r.jobs.foreach { jl =>
    val js = jl.jobsWhere(j => j.startMs >= lo && j.startMs < hi)
    val spans = js.map(j => (j.startMs, if (j.endMs.isNaN) hi else j.endMs))
    put(r, "driver.jobs", js.size.toDouble)
    put(r, "driver.gap_share", 1 - Stats.covered(spans, lo, hi) / (hi - lo))
  }

  def generator(r: Run, ol: OpenLoop): Unit =
    put(r, "gen.late_ms_p99", Stats.pct(ol.lateMs, 99))
}
