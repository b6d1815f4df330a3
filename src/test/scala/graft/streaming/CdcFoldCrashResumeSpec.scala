package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener, Trigger}
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** The one maintenance crash CdcIndexRestartSpec doesn't reach: the
  * FOLD ITSELF dying while the ingest pipeline holds a live checkpoint.
  * A fold writes a whole new generation and commits it by adding one
  * manifest version ([[graft.operators.Layout.fold]]), so it can die in
  * two places, each reconstructed here with REAL content from a real
  * run killed mid-stream and a real fold:
  *  - before the manifest commit (the fold's version taken back): the
  *    OLD generation is still current and carries no fence (a stale
  *    fence over an UNFOLDED index would silently drop legitimate
  *    replays); the orphan generation is ignored by every reader and
  *    deleted by the next fold;
  *  - after the manifest commit (the dead fold's lease left behind): the
  *    NEW generation is current with its fence, and the resumed
  *    stream's replayed batch must respect it against seg=base.
  * Either way the resumed stream must keep appending, and the final
  * answer must match the uninterrupted gate's (or run's).
  */
class CdcFoldCrashResumeSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "8")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private val dir = "/root/testdata/sf0.001"

  private def rmTree(work: java.nio.file.Path): Unit = {
    val tw = java.nio.file.Files.walk(work)
    try tw.sorted(java.util.Comparator.reverseOrder())
      .forEach(p => java.nio.file.Files.deleteIfExists(p))
    finally tw.close()
  }

  private lazy val cap = {
    val fix = graft.operators.CdcBinlog.fixtureDir(dir)
    val totalBytes = new java.io.File(fix).listFiles()
      .filter(f => f.isFile && f.getName.startsWith("binlog.0"))
      .map(_.length).sum
    math.max(totalBytes / 8, 1L)
  }

  private def changeStream = {
    import graft.operators.CdcBinlog
    spark.readStream.format("mysql-binlog")
      .option("payloadDdl", CdcBinlog.payloadDdl)
      .option("maxBytesPerTrigger", cap.toString)
      .load(CdcBinlog.fixtureDir(dir))
  }

  private def start(work: java.nio.file.Path, trigger: Trigger): StreamingQuery = {
    import graft.operators.{CdcBinlog, TextAnalysis}
    val idx = work.resolve("index").toString
    changeStream.writeStream
      .option("checkpointLocation", work.resolve("ckpt").toString)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val imgs = CdcBinlog.cdcm4BatchImages(batch, batchId).persist()
        try {
          if (!imgs.isEmpty)
            TextAnalysis.appendCdcTextSegment(imgs, idx, f"b$batchId%06d",
              nBuckets = 16)
        } finally imgs.unpersist()
        ()
      }
      .trigger(trigger)
      .start()
  }

  private def segCount(root: String): Int =
    graft.operators.ManifestFixtures.segs(spark, root).size

  /** Run a stream with `startFn`, kill it once `commits` non-empty
    * batches are in and while batches remain (`commits` ≤ segments < 8,
    * retried), and return the work dir.
    */
  private def killedMidStream(name: String, structure: String, commits: Int)
                             (startFn: (java.nio.file.Path, Trigger) => StreamingQuery)
      : java.nio.file.Path = {
    var work: java.nio.file.Path = null
    var landed = false
    var attempt = 0
    while (!landed && attempt < 5) {
      attempt += 1
      work = java.nio.file.Files.createTempDirectory(name)
      val committed = new java.util.concurrent.CountDownLatch(commits)
      val listener = new StreamingQueryListener {
        override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
        override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
        override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
          if (e.progress.numInputRows > 0) committed.countDown()
      }
      spark.streams.addListener(listener)
      try {
        val q1 = startFn(work, Trigger.ProcessingTime(0))
        assert(committed.await(120, java.util.concurrent.TimeUnit.SECONDS))
        q1.stop(); q1.awaitTermination()
      } finally spark.streams.removeListener(listener)
      val segs = segCount(work.resolve(structure).toString)
      landed = segs >= commits && segs < 8
      if (!landed) rmTree(work)
    }
    assert(landed, "kill never landed mid-stream in 5 attempts")
    work
  }

  /** Crash before the commit: run `fold` for real, then take its
    * manifest version back. Returns the orphan generation, marked with a
    * sentinel file the next fold must delete.
    */
  private def crashBeforeCommit(root: String)(fold: => Unit): java.nio.file.Path = {
    import graft.operators.{Layout, ManifestFixtures}
    val oldGen = ManifestFixtures.generation(spark, root)
    val oldSegs = ManifestFixtures.segs(spark, root)
    fold
    val newGen = ManifestFixtures.generation(spark, root)
    ManifestFixtures.uncommit(spark, root)
    assert(ManifestFixtures.generation(spark, root) === oldGen,
      "taking the fold's version back did not restore the old generation")
    assert(ManifestFixtures.segs(spark, root) === oldSegs)
    assert(Layout.fenceOf(spark, root).isEmpty,
      "the uncommitted fold's replay fence is visible over the UNFOLDED " +
        "structure — a resume would silently drop legitimate replays")
    val orphan = java.nio.file.Paths.get(newGen)
    java.nio.file.Files.writeString(orphan.resolve("sentinel"), "orphan")
    orphan
  }

  /** Crash after the commit: run `fold` for real and leave its lease
    * behind, held by a process that is dead.
    */
  private def crashAfterCommit(root: String)(fold: => Unit): Unit = {
    import graft.operators.Layout
    fold
    assert(Layout.fenceOf(spark, root).isDefined,
      "the committed fold lost its replay fence — a replayed batch " +
        "would double rows against seg=base")
    val dead = new ProcessBuilder("true").start()
    dead.waitFor()
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$root.foldlock"),
      s"pid=${dead.pid()};host=${java.net.InetAddress.getLocalHost.getHostName};" +
        "ts=0;nonce=0")
  }

  private def assertOrphanGone(orphan: java.nio.file.Path): Unit =
    assert(!java.nio.file.Files.exists(orphan.resolve("sentinel")),
      s"the next fold left the crashed fold's generation $orphan behind")

  private def probe(work: java.nio.file.Path): Seq[String] = {
    import graft.operators.{CdcBinlog, TextAnalysis}
    TextAnalysis.bm25TopKViaCdcIndex(spark, work.resolve("index").toString,
        CdcBinlog.cdcm4Terms, 100, nBuckets = 16)
      .orderBy("r_sparse").collect().map(_.toString).toSeq
  }

  private def foldText(work: java.nio.file.Path): Unit =
    graft.operators.TextAnalysis.compactCdcTextIndex(spark,
      work.resolve("index").toString, nBuckets = 16)

  private lazy val textWant = {
    graft.functions.GraftFunctions.register(spark)
    graft.operators.CdcBinlog.cdcm4IndexFreshness(spark, dir)
      .collect().map(_.toString).toSeq
  }

  test("fold crash before the manifest commit: the old generation stays current, resume + re-fold match the gate") {
    val want = textWant
    val work = killedMidStream("graft-foldcrash", "index", 1)(start)
    val idx = work.resolve("index").toString
    val orphan = crashBeforeCommit(idx)(foldText(work))
    assert(probe(work).nonEmpty)

    val q2 = start(work, Trigger.AvailableNow())
    q2.awaitTermination()
    foldText(work)
    assertOrphanGone(orphan)
    assert(probe(work) === want,
      "crash + resume + re-fold diverged from the uninterrupted gate")
    rmTree(work)
  }

  test("fold crash after the manifest commit: the fold is current, resume respects the fence") {
    val want = textWant
    val work = killedMidStream("graft-foldcrash", "index", 1)(start)
    crashAfterCommit(work.resolve("index").toString)(foldText(work))

    val q2 = start(work, Trigger.AvailableNow())
    q2.awaitTermination()
    assert(probe(work) === want,
      "resume after a committed fold diverged from the uninterrupted gate — " +
        "a replayed folded batch doubled rows against seg=base")
    foldText(work) // the dead fold's lease must not block the next one
    assert(probe(work) === want)
    rmTree(work)
  }

  // ---- the ANN twin: quantizer through the crash -----------------------

  private def startAnn(work: java.nio.file.Path, trigger: Trigger): StreamingQuery = {
    import graft.operators.{CdcBinlog, Similarity}
    val idx = work.resolve("annindex").toString
    changeStream.writeStream
      .option("checkpointLocation", work.resolve("ckpt").toString)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val imgs = CdcBinlog.cdcm5BatchImages(batch, batchId).persist()
        try {
          if (!imgs.isEmpty)
            Similarity.appendCdcAnnSegment(imgs, idx, f"b$batchId%06d")
        } finally imgs.unpersist()
        ()
      }
      .trigger(trigger)
      .start()
  }

  private def centroids(work: java.nio.file.Path): Seq[(Int, Seq[Double])] = {
    val gen = graft.operators.ManifestFixtures.generation(spark,
      work.resolve("annindex").toString)
    spark.read.parquet(s"$gen/centroids")
      .collect().map(r => (r.getInt(0), r.getSeq[Double](1))).sortBy(_._1).toSeq
  }

  private def annProbe(work: java.nio.file.Path): Seq[String] = {
    import org.apache.spark.sql.functions.{max, struct}
    import spark.implicits._
    val idx = work.resolve("annindex").toString
    val view = graft.operators.Layout.committedView(spark, idx).get
    val live = view.read("doclog").groupBy($"vec_id")
      .agg(max(struct($"ver", $"deleted")).as("m"))
      .select($"vec_id", $"m.ver".as("ver"), $"m.deleted".as("deleted"))
      .filter(!$"deleted")
    val probeVec = view.read("cells")
      .join(live.select($"vec_id", $"ver"), Seq("vec_id", "ver"))
      .orderBy($"vec_id").select($"embedding")
      .head().getSeq[Long](0)
    graft.operators.Similarity.mipsTopKViaCdcAnnIndex(spark, idx, probeVec, 100)
      .orderBy("r_dense").collect().map(_.toString).toSeq
  }

  /** An uninterrupted same-cap run (same admission → same batch 0 →
    * value-identical quantizer, the cdcm5 restart leg's contract),
    * folded with `fold` unless it is None: (centroids, probe).
    */
  private def annReference(fold: Option[String => Unit]): (Seq[(Int, Seq[Double])], Seq[String]) = {
    graft.functions.GraftFunctions.register(spark)
    val ref = java.nio.file.Files.createTempDirectory("graft-annfold-ref")
    val qRef = startAnn(ref, Trigger.AvailableNow())
    qRef.awaitTermination()
    assert(segCount(ref.resolve("annindex").toString) >= 3)
    fold.foreach(_(ref.resolve("annindex").toString))
    try (centroids(ref), annProbe(ref)) finally rmTree(ref)
  }

  private def compactAnn(idx: String): Unit =
    graft.operators.Similarity.compactCdcAnnIndex(spark, idx)

  /** The ANN compactor shares the text twin's protocol, but its fold
    * carries one artifact the text index doesn't have: the coarse
    * quantizer, written as a COPY into the new generation. A crash
    * before the commit must leave the OLD centroids current
    * byte-exactly (the invariant that keeps a future fold that REBUILDS
    * the quantizer from silently re-clustering an unfolded index), and
    * the resumed stream plus a re-fold must match an uninterrupted
    * same-cap run on both the probe AND the quantizer.
    */
  test("ANN fold crash before the manifest commit: the old quantizer stays current; resume + re-fold match") {
    val (wantCent, wantProbe) = annReference(Some(compactAnn))
    val work = killedMidStream("graft-annfold", "annindex", 1)(startAnn)
    val idx = work.resolve("annindex").toString
    val preFoldCent = centroids(work)
    assert(preFoldCent === wantCent,
      "same-cap admission produced a different quantizer — the reference " +
        "run is not comparable and the test premise broke")
    val orphan = crashBeforeCommit(idx)(compactAnn(idx))
    assert(centroids(work) === preFoldCent,
      "the uncommitted fold moved the current quantizer")

    val q2 = startAnn(work, Trigger.AvailableNow())
    q2.awaitTermination()
    compactAnn(idx)
    assertOrphanGone(orphan)
    assert(centroids(work) === wantCent,
      "the re-fold after the crash changed the quantizer")
    assert(annProbe(work) === wantProbe,
      "crash + resume + re-fold diverged from the uninterrupted run")
    rmTree(work)
  }

  test("ANN fold crash after the manifest commit: the folded quantizer is current; resume + re-fold match") {
    val (wantCent, wantProbe) = annReference(Some(compactAnn))
    val work = killedMidStream("graft-annfold", "annindex", 1)(startAnn)
    val idx = work.resolve("annindex").toString
    crashAfterCommit(idx)(compactAnn(idx))
    assert(centroids(work) === wantCent, "the fold changed the quantizer")

    val q2 = startAnn(work, Trigger.AvailableNow())
    q2.awaitTermination()
    compactAnn(idx)
    assert(centroids(work) === wantCent,
      "the re-fold after the crash changed the quantizer")
    assert(annProbe(work) === wantProbe,
      "crash + resume + re-fold diverged from the uninterrupted run")
    rmTree(work)
  }

  /** The requantize twin: unlike a compact, the new generation carries
    * a REBUILT quantizer, so the two crash states diverge in what they
    * must preserve — a crash before the commit leaves the FIRST-BATCH
    * centroids current with the OLD cells (assignments and quantizer
    * always travel together in one generation), while a crash after it
    * leaves the NEW quantizer current with its re-assigned base. Either
    * way the resumed stream's replayed batch sits at or below the
    * committed fence (if any) and must be skipped, and the exact probe —
    * partition-invariant by construction — must match an uninterrupted
    * same-cap run that never requantized at all.
    */
  test("requantize crash before the manifest commit: the old quantizer stays current; a re-run rebuilds the same one; resume respects the fence") {
    import graft.operators.{Layout, Similarity}
    val (_, wantProbe) = annReference(None)
    // >= 2 segments so the requantize has real multi-batch state to consume
    val work = killedMidStream("graft-annrq", "annindex", 2)(startAnn)
    val idx = work.resolve("annindex").toString
    val preCent = centroids(work) // the first batch's quantizer
    var reqCent: Seq[(Int, Seq[Double])] = null
    var reqFence: Option[Long] = None
    val orphan = crashBeforeCommit(idx) {
      Similarity.requantizeCdcAnnIndex(spark, idx)
      reqCent = centroids(work)
      reqFence = Layout.fenceOf(spark, idx)
    }
    assert(reqCent !== preCent, "the rebuild kept the first-batch quantizer")
    assert(reqFence.isDefined)
    assert(centroids(work) === preCent,
      "the uncommitted requantize moved the current quantizer")

    // the re-run rebuilds the SAME quantizer over the same consumed
    // state (the re-cluster is deterministic: seeded by the k smallest
    // live ids, exact decimal means, deterministic argmax tie-breaks)
    Similarity.requantizeCdcAnnIndex(spark, idx)
    assertOrphanGone(orphan)
    assert(centroids(work) === reqCent,
      "re-running the requantize over the same corpus rebuilt a different quantizer")
    assert(Layout.fenceOf(spark, idx) === reqFence)

    val q2 = startAnn(work, Trigger.AvailableNow())
    q2.awaitTermination()
    assert(centroids(work) === reqCent,
      "resumed ingest replaced the rebuilt quantizer — appends must never touch it")
    assert(segCount(idx) > 1,
      "the resumed stream appended nothing — the fence swallowed live batches")
    assert(annProbe(work) === wantProbe,
      "requantize + crash + resume diverged from the uninterrupted run")
    rmTree(work)
  }

  test("requantize crash after the manifest commit: the new quantizer is current; resume respects the fence") {
    import graft.operators.Similarity
    val (_, wantProbe) = annReference(None)
    val work = killedMidStream("graft-annrq", "annindex", 2)(startAnn)
    val idx = work.resolve("annindex").toString
    val preCent = centroids(work)
    crashAfterCommit(idx)(Similarity.requantizeCdcAnnIndex(spark, idx))
    val reqCent = centroids(work)
    assert(reqCent !== preCent, "the rebuild kept the first-batch quantizer")

    // resume from the SAME checkpoint: the replayed batch is at or
    // below the fence (skipped — its rows live in the rebuilt base);
    // the remaining batches append under the NEW quantizer
    val q2 = startAnn(work, Trigger.AvailableNow())
    q2.awaitTermination()
    assert(centroids(work) === reqCent,
      "resumed ingest replaced the rebuilt quantizer — appends must never touch it")
    assert(segCount(idx) > 1,
      "the resumed stream appended nothing — the fence swallowed live batches")
    assert(annProbe(work) === wantProbe,
      "requantize + crash + resume diverged from the uninterrupted run")
    rmTree(work)
  }

  // ---- the band-log twin: near-dup state through the crash -------------

  private def startBand(work: java.nio.file.Path, trigger: Trigger): StreamingQuery = {
    import graft.operators.CdcBinlog
    val log = work.resolve("bandlog").toString
    changeStream.writeStream
      .option("checkpointLocation", work.resolve("ckpt").toString)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val imgs = CdcBinlog.cdcm15BandImages(
          CdcBinlog.cdcm4BatchImages(batch, batchId)).persist()
        try {
          if (!imgs.isEmpty)
            CdcBinlog.appendCdcFpSegment(imgs, log, f"b$batchId%06d")
          ()
        } finally imgs.unpersist()
        ()
      }
      .trigger(trigger)
      .start()
  }

  private def bandReport(work: java.nio.file.Path): Seq[String] =
    graft.operators.CdcBinlog
      .cdcNearDupPairs(spark, work.resolve("bandlog").toString)
      .collect().map(_.toString).toSeq

  private def foldBand(work: java.nio.file.Path): Unit =
    graft.operators.CdcBinlog.compactCdcBandLog(spark, work.resolve("bandlog").toString)

  // the gate's own answer is admission-invariant (the report depends
  // only on final latest images), so it is the ground truth for a
  // differently-capped crash run too
  private lazy val bandWant = {
    graft.functions.GraftFunctions.register(spark)
    val want = graft.operators.CdcBinlog.cdcm15NearDupFreshness(spark, dir)
      .collect().map(_.toString).toSeq
    assert(want.nonEmpty)
    want
  }

  test("band-log fold crash before the manifest commit: the old generation stays current, resume + re-fold match the gate") {
    val want = bandWant
    val work = killedMidStream("graft-bandfoldcrash", "bandlog", 1)(startBand)
    val orphan = crashBeforeCommit(work.resolve("bandlog").toString)(foldBand(work))

    val q2 = startBand(work, Trigger.AvailableNow())
    q2.awaitTermination()
    foldBand(work)
    assertOrphanGone(orphan)
    assert(bandReport(work) === want,
      "band-log crash + resume + re-fold diverged from the gate")
    rmTree(work)
  }

  test("band-log fold crash after the manifest commit: the fold is current, resume respects the fence") {
    val want = bandWant
    val work = killedMidStream("graft-bandfoldcrash", "bandlog", 1)(startBand)
    crashAfterCommit(work.resolve("bandlog").toString)(foldBand(work))

    val q2 = startBand(work, Trigger.AvailableNow())
    q2.awaitTermination()
    assert(bandReport(work) === want,
      "band-log resume after a committed fold diverged from the gate — a " +
        "replayed folded batch doubled band rows against seg=base")
    foldBand(work) // the dead fold's lease must not block the next one
    assert(bandReport(work) === want)
    rmTree(work)
  }
}
