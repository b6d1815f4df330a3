package graft.perfbench

import java.io.File
import java.util.SplittableRandom

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.operators.{CdcBinlog, Layout, TextAnalysis}
import graft.streaming.CdcMaterializer

/** State shared by one run: the session, its listeners, the tracer, and
  * the tallies and metrics the run reports.
  */
final class Run(val s: SparkSession, val work: File, val tr: Tracer,
                val jobs: Option[JobLog], val progress: ProgressLog,
                val seed: Long, val seconds: Double) {
  var attempted = 0L
  var failed = 0L
  val e2e = mutable.LinkedHashMap.empty[String, (Double, String)]
  val layer = mutable.LinkedHashMap.empty[String, (Double, String)]

  def attempt(): Unit = synchronized(attempted += 1)
  def fail(what: String): Unit = synchronized {
    failed += 1
    System.err.println(s"[perfbench] failed: $what")
  }
  /** Count one checked operation; a false `ok` is a failure. */
  def check(ok: Boolean, what: => String): Unit = { attempt(); if (!ok) fail(what) }

  def log(msg: String): Unit =
    System.err.println(f"[perfbench] ${(Clock.nowMs - Clock.startMs) / 1000}%.1fs $msg")
}

object Workloads {
  val TriggerMs = 200L
  val MB = 1e6

  // ---- shared pieces ----------------------------------------------------

  /** Mismatches between collected (id, n, txt) rows and the generator's
    * final state: missing, extra and differing keys.
    */
  def diffState(expected: collection.Map[Int, (Long, String)], rows: Seq[Row]): Long = {
    val got = rows.map(r => r.getInt(0) -> ((r.getLong(1), r.getString(2)))).toMap
    val extra = got.keySet.diff(expected.keySet).size
    val bad = expected.count { case (k, v) => !got.get(k).contains(v) }
    (extra + bad).toLong + (rows.size - got.size) // duplicate keys count too
  }

  private def stream(r: Run, dir: File, maxBytes: Long): DataFrame =
    r.s.readStream.format("mysql-binlog")
      .option("payloadDdl", Kv.PayloadDdl)
      .option("maxBytesPerTrigger", maxBytes.toString)
      .load(dir.getPath)

  /** Newest committed end coordinate of query `q` (progress events). */
  private def committed(r: Run, q: StreamingQuery): Pos = {
    val bs = r.progress.batches(q.id)
    if (bs.isEmpty) Pos(0, 0) else bs.map(_.end).max
  }

  private def awaitCommitted(r: Run, q: StreamingQuery, target: Pos, timeoutS: Double): Boolean = {
    val deadline = System.nanoTime() + (timeoutS * 1e9).toLong
    while (committed(r, q) < target && System.nanoTime() < deadline) {
      if (q.exception.isDefined) throw q.exception.get
      Thread.sleep(5)
    }
    committed(r, q) >= target
  }

  /** A closed-loop client thread: runs `op` back to back until stopped. */
  final class Client(name: String, op: Int => Unit) extends Thread(name) {
    setDaemon(true)
    @volatile private var stopping = false
    override def run(): Unit = {
      var i = 0
      while (!stopping) { op(i); i += 1 }
    }
    def finish(): Unit = { stopping = true; join() }
  }

  /** Freshness of every live transaction due after `warmupMs`: due time
    * to the end of the first micro-batch whose committed offset covers
    * the transaction. An uncovered transaction is a failure.
    */
  private def freshness(r: Run, q: StreamingQuery, gen: OpenLoop, warmupMs: Double): Seq[Double] = {
    val bs = r.progress.batches(q.id).sortBy(_.p.batchId)
    val out = mutable.ArrayBuffer.empty[Double]
    val t0 = Clock.epochMs(gen.startNs)
    var b = 0
    (0 until gen.written).foreach { i =>
      while (b < bs.length && bs(b).end < gen.end(i)) b += 1
      val due = Clock.epochMs(gen.dueNs(i))
      r.attempt()
      if (b == bs.length) r.fail(s"transaction $i not delivered")
      else if (due - t0 >= warmupMs) out += bs(b).endMs - due
    }
    out.toSeq
  }

  private def putLatency(r: Run, xs: Seq[Double]): Unit = {
    r.e2e("latency_ms_p50") = (Stats.pct(xs, 50), "ms")
    r.e2e("latency_ms_p95") = (Stats.pct(xs, 95), "ms")
    r.log(f"latency samples ${xs.size} p50 ${Stats.pct(xs, 50)}%.1f p95 ${Stats.pct(xs, 95)}%.1f")
  }

  // ---- replica -------------------------------------------------------------

  /** Keep a table current: drain a backlog through the materializer, then
    * hold a fixed open-loop rate of single-row transactions.
    */
  def replica(r: Run): Unit = {
    val dir = new File(r.work, "binlog")
    val gen = new ChangeGen(r.seed, keys = 20000, skew = 0.99, deleteShare = 0.1, TextModel.Plain)
    val bd = new BinlogDir(dir)
    val ts = System.currentTimeMillis() / 1000
    (0 until Sizes.replicaBacklogTxns).foreach(_ => bd.append(ts, gen.txn(1)))
    val backlogEnd = bd.head
    val backlogRows = gen.rows
    val backlogBytes = bd.totalBytes
    val live = (0 until (Sizes.replicaRate * r.seconds).toInt).map(_ => gen.txn(1))
    val table = new File(r.work, "table").getPath

    val t0 = Clock.nowMs
    val q = CdcMaterializer.materialize(stream(r, dir, 1L << 20), "id", table,
      new File(r.work, "ckpt").getPath, nBuckets = 16, trigger = Trigger.ProcessingTime(TriggerMs))
    try {
      require(awaitCommitted(r, q, backlogEnd, 120), "catch-up did not finish")
      val t1 = Clock.nowMs
      r.e2e("throughput_mb_per_s") = (backlogBytes / MB / ((t1 - t0) / 1000), "MB/s")
      r.log(f"catch-up: $backlogRows rows, $backlogBytes bytes in ${t1 - t0}%.0f ms")

      val ol = new OpenLoop(bd, live, Sizes.replicaRate)
      ol.begin()
      ol.join()
      bd.close()
      val t2 = Clock.nowMs
      val lagEnd = bd.bytesAfter(committed(r, q))
      val drained = awaitCommitted(r, q, bd.head, 60)
      r.check(drained, "replica backlog did not drain after the live phase")
      val t3 = Clock.nowMs
      putLatency(r, freshness(r, q, ol, Sizes.warmupMs))
      val rows = CdcMaterializer.readTable(r.s, table).select("id", "n", "txt").collect().toSeq
      val bad = diffState(gen.live, rows)
      r.check(bad == 0, s"replica table: $bad keys differ from the generator's final state")
      Layers.generator(r, ol)
      if (r.tr.enabled) {
        Layers.binlog(r, bd.files)
        Layers.sources(r, q, t0, t1)
        Layers.engine(r, q, t1 + Sizes.warmupMs, t2, lagEnd)
        Layers.driver(r, t1, t2)
      }
      r.log(f"live: ${ol.written} txns, lag at end $lagEnd bytes, drain ${t3 - t2}%.0f ms")
    } finally q.stop()
  }

  // ---- screen ----------------------------------------------------------------

  /** Per-batch latest images of the touched documents, versioned by batch. */
  def images(batch: DataFrame, batchId: Long): DataFrame =
    batch.filter(col("_delta_type") =!= "update-before")
      .groupBy(col("id"))
      .agg(max(struct(CdcMaterializer.fileSeq(col("log_file")).as("fo"),
        col("log_file").as("lf"), col("log_pos").as("lp"), col("log_seq").as("ls"),
        col("_delta_type").as("dt"), col("txt").as("t"))).as("m"))
      .select(col("id").cast("long").as("doc_id"), col("m.t").as("text"),
        lit(batchId).as("ver"), (col("m.dt") === "delete").as("deleted"))

  /** Ingest with screening state kept current: every micro-batch appends
    * to the fingerprint log and the LSH band log and then runs the
    * program's maintenance policy, while one closed-loop client screens
    * documents for exact and near duplicates.
    */
  def screen(r: Run): Unit = {
    val dir = new File(r.work, "binlog")
    val docs = Sizes.screenDocs
    val gen = new ChangeGen(r.seed, keys = docs, skew = 0.99, deleteShare = 0.05,
      new TextModel.Screen(families = docs / 16, exactShare = 0.15, nearShare = 0.25, r.seed))
    val bd = new BinlogDir(dir)
    val ts = System.currentTimeMillis() / 1000
    (0 until docs by 100).foreach(i => bd.append(ts, gen.load(i, math.min(100, docs - i))))
    val backlogEnd = bd.head
    val backlogBytes = bd.totalBytes
    val live = (0 until (Sizes.screenRate * r.seconds).toInt).map(_ => gen.txn(1))
    val fpLog = new File(r.work, "fplog").getPath
    val bandLog = new File(r.work, "bandlog").getPath
    val s = r.s
    val sc = s.sparkContext
    val segsMax = new java.util.concurrent.atomic.AtomicInteger()

    // the program's cadence contract: the O(log) measure runs on every
    // second append of each log, as cdcm19 runs its band leg
    val fpCadence = new CdcBinlog.MaintenanceCadence(Sizes.measureEvery)
    val bandCadence = new CdcBinlog.MaintenanceCadence(Sizes.measureEvery)
    def maintain(cadence: CdcBinlog.MaintenanceCadence, log: String,
                 fold: (SparkSession, String) => Unit): Unit = if (cadence.due()) {
      val adv = r.tr.span("maintenance.measure") {
        CdcBinlog.logMaintenanceAdvice(CdcBinlog.cdcLogStats(s, log), maxSegments = Sizes.maxSegments)
      }
      segsMax.accumulateAndGet(adv.nSegments, math.max)
      if (adv.compact) r.tr.span("maintenance.fold") { fold(s, log) }
    }

    val t0 = Clock.nowMs
    val q = stream(r, dir, 1L << 20).writeStream
      .option("checkpointLocation", new File(r.work, "ckpt").getPath)
      .trigger(Trigger.ProcessingTime(Sizes.screenTriggerMs))
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val imgs = images(batch, batchId).persist()
        try if (!imgs.isEmpty) {
          val seg = f"b$batchId%06d"
          r.tr.span("fp.append") {
            CdcBinlog.appendCdcFpSegment(imgs.select(col("doc_id"), col("ver"), col("deleted"),
              TextAnalysis.fingerprint(col("text")).as("fp")).coalesce(4), fpLog, seg)
          }
          r.tr.span("band.append") {
            CdcBinlog.appendCdcFpSegment(CdcBinlog.cdcm15BandImages(imgs).coalesce(4), bandLog, seg)
          }
          maintain(fpCadence, fpLog, CdcBinlog.compactCdcFpLog)
          maintain(bandCadence, bandLog, CdcBinlog.compactCdcBandLog)
        } finally imgs.unpersist()
        ()
      }
      .start()
    try {
      require(awaitCommitted(r, q, backlogEnd, 120), "catch-up did not finish")
      val t1 = Clock.nowMs
      r.e2e("throughput_mb_per_s") = (backlogBytes / MB / ((t1 - t0) / 1000), "MB/s")
      r.log(f"catch-up: $docs docs, $backlogBytes bytes in ${t1 - t0}%.0f ms")

      val ol = new OpenLoop(bd, live, Sizes.screenRate)
      val rr = new SplittableRandom(r.seed ^ 0x9a0beL)
      // one read screens one document for exact, then near duplicates
      val prober = new Client("perfbench-prober", _ => Phase(sc, "probe") {
        val k = gen.keyDraw(rr).toLong
        r.attempt()
        try {
          r.tr.span("probe.fp") {
            Layout.retryOnceOnMissing(CdcBinlog.cdcFpProbe(s, fpLog, k).collect())
          }
          r.tr.span("probe.band") {
            Layout.retryOnceOnMissing(CdcBinlog.cdcNearDupProbe(s, bandLog, k).collect())
          }
        } catch { case e: Exception => r.fail(s"screening of doc $k: $e") }
      })
      ol.begin()
      prober.start()
      ol.join()
      bd.close()
      prober.finish()
      val t2 = Clock.nowMs
      val lagEnd = bd.bytesAfter(committed(r, q))
      val drained = awaitCommitted(r, q, bd.head, 60)
      r.check(drained, "screen backlog did not drain after the live phase")
      putLatency(r, freshness(r, q, ol, Sizes.warmupMs))
      q.stop()
      checkScreen(r, gen, fpLog, bandLog)
      r.log("screening state checked")
      Layers.generator(r, ol)
      if (r.tr.enabled) {
        Layers.binlog(r, bd.files)
        Layers.sources(r, q, t0, t1)
        Layers.engine(r, q, t1 + Sizes.warmupMs, t2, lagEnd)
        Layers.driver(r, t1, t2)
        Layers.screen(r, segsMax.get)
        Layers.probeJobs(r, "probe")
      }
      r.log(f"live: ${ol.written} txns, lag at end $lagEnd bytes")
    } finally q.stop()
  }

  /** Quiescent screening state against groups recomputed from the final
    * images: the duplicate-group report, and sampled exact and near
    * probes against the batch screen over a band log rebuilt from those
    * images alone.
    */
  def checkScreen(r: Run, gen: ChangeGen, fpLog: String, bandLog: String): Unit = {
    val s = r.s
    import s.implicits._
    val finals = gen.live.toSeq.map { case (id, (_, t)) => (id.toLong, t, 0L, false) }
      .toDF("doc_id", "text", "ver", "deleted")
    val fps = finals.select($"doc_id", TextAnalysis.fingerprint($"text").as("fp")).collect()
      .map(x => x.getLong(0) -> x.getString(1)).toMap
    val byFp = fps.groupBy(_._2).map { case (fp, m) => fp -> m.keys.toSeq.sorted }
    val wantGroups = byFp.collect { case (fp, ids) if ids.size >= 2 => (fp, ids.head, ids.size.toLong) }.toSet
    val gotGroups = CdcBinlog.cdcFpGroups(s, fpLog).collect()
      .map(x => (x.getString(0), x.getLong(1), x.getLong(2))).toSet
    r.check(gotGroups == wantGroups,
      s"fp groups: ${gotGroups.diff(wantGroups).size} unexpected, ${wantGroups.diff(gotGroups).size} missing")

    val fresh = new File(r.work, "bandlog-rebuilt").getPath
    CdcBinlog.appendCdcFpSegment(CdcBinlog.cdcm15BandImages(finals), fresh, "b000000")
    val rr = new SplittableRandom(r.seed ^ 0xc0ffeeL)
    val sample = (0 until Sizes.checkedProbes).map(_ => gen.keyDraw(rr).toLong).distinct
    val wantNear = CdcBinlog.cdcNearDupProbeBatch(s, fresh, sample.toDF("doc_id")).collect()
      .map(x => (x.getLong(0), (x.getLong(1), x.getLong(2), x.getDouble(3)))).toSeq
      .groupBy(_._1).map { case (k, v) => k -> v.map(_._2).sorted }
    sample.foreach { k =>
      val gotFp = CdcBinlog.cdcFpProbe(s, fpLog, k).collect().map(_.getLong(0)).toSeq.sorted
      val wantFp = fps.get(k).map(fp => byFp(fp).filter(_ != k)).getOrElse(Nil)
      r.check(gotFp == wantFp, s"fp probe of doc $k: got $gotFp, want $wantFp")
      val gotNear = CdcBinlog.cdcNearDupProbe(s, bandLog, k).collect()
        .map(x => (x.getLong(0), x.getLong(1), x.getDouble(2))).toSeq.sorted
      val want = wantNear.getOrElse(k, Nil)
      r.check(gotNear == want, s"near-dup probe of doc $k: got ${gotNear.size} pairs, want ${want.size}")
    }
  }
}

/** Input sizes and rates, fixed per workload. */
object Sizes {
  val replicaBacklogTxns = 12000
  val replicaRate = 500.0
  val screenDocs = 4000
  val screenRate = 50.0
  /** Screening batches every 2 s leave the prober idle cores between them. */
  val screenTriggerMs = 2000L
  val measureEvery = 2
  val warmupMs = 3000.0
  val maxSegments = 8
  val checkedProbes = 3
}
