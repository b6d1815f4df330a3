package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener, Trigger}
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** The CDC-maintained indexes' exactly-once story END-TO-END, one leg
  * per freshness gate: the cdcm4 (text), cdcm5 (ANN) and cdcm6 (dedup)
  * pipelines killed mid-stream and resumed from the same checkpoint
  * must probe identically to an uninterrupted run. Segment idempotence
  * (batch-id-addressed overwrites) is what makes the replayed batch
  * harmless; these specs measure the whole contract instead of
  * asserting it — checkpointed binlog offsets + idempotent segment
  * rewrites + merge-on-read liveness, through a real kill. The ANN leg
  * additionally pins QUANTIZER IDENTITY: the coarse centroids are
  * derived once, from the first batch (`Similarity.appendCdcAnnSegment`
  * first-batch contract), and a resume must NOT re-derive them — a
  * restart that re-ran batch 0's centroid derivation against different
  * admission boundaries would silently re-cluster the whole index.
  */
class CdcIndexRestartSpec extends AnyFunSuite with BeforeAndAfterAll {

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

  /** The admission cap that forces ~9 micro-batches out of the sf0.001
    * fixture — small enough that a kill after the first commit lands
    * mid-stream with room on both sides.
    */
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

  /** Kill-then-resume protocol shared by the three legs: start the
    * pipeline, wait for the first committed batch, stop (graceful kill —
    * the crash seam is the checkpoint boundary, same as StreamRestartSpec);
    * racy by nature, so retry with a fresh work dir until the kill
    * landed mid-stream (`segCount` in (0, 8) — a full drain at cap/8 is
    * ~9 segments). Then resume from the SAME checkpoint and index state
    * with AvailableNow and drain. Returns the work dir for probing.
    */
  private def killThenResume(prefix: String,
      start: (java.nio.file.Path, Trigger) => StreamingQuery,
      segCount: java.nio.file.Path => Int): java.nio.file.Path = {
    var work: java.nio.file.Path = null
    var landed = false
    var attempt = 0
    while (!landed && attempt < 5) {
      attempt += 1
      work = java.nio.file.Files.createTempDirectory(prefix)
      val firstCommit = new java.util.concurrent.CountDownLatch(1)
      val listener = new StreamingQueryListener {
        override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
        override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
        override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
          if (e.progress.numInputRows > 0) firstCommit.countDown()
      }
      spark.streams.addListener(listener)
      try {
        val q1 = start(work, Trigger.ProcessingTime(0))
        assert(firstCommit.await(120, java.util.concurrent.TimeUnit.SECONDS))
        q1.stop(); q1.awaitTermination()
      } finally spark.streams.removeListener(listener)
      val segs = segCount(work)
      landed = segs >= 1 && segs < 8
      if (!landed) rmTree(work)
    }
    assert(landed, s"$prefix: kill never landed mid-stream in 5 attempts")
    val before = segCount(work)
    val q2 = start(work, Trigger.AvailableNow())
    q2.awaitTermination()
    info(s"$prefix: $before segments at the kill, ${segCount(work)} after resume")
    work
  }

  /** The committed segment count of the structure at `root`. */
  private def segDirs(root: java.nio.file.Path): Int =
    graft.operators.ManifestFixtures.segs(spark, root.toString).size

  private def segNames(root: java.nio.file.Path): Set[String] =
    graft.operators.ManifestFixtures.segs(spark, root.toString)

  private def gen(root: String): String =
    graft.operators.ManifestFixtures.generation(spark, root)

  test("cdcm4 pipeline: kill mid-stream, resume, probe == uninterrupted run") {
    import graft.operators.{CdcBinlog, TextAnalysis}

    // reference: the gate's own uninterrupted run
    val want = CdcBinlog.cdcm4IndexFreshness(spark, dir)
      .collect().map(_.toString).toSeq

    def start(work: java.nio.file.Path, trigger: Trigger) = {
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
    val work = killThenResume("graft-cdcm4-restart", start,
      w => segDirs(w.resolve("index")))

    val got = TextAnalysis
      .bm25TopKViaCdcIndex(spark, work.resolve("index").toString,
        CdcBinlog.cdcm4Terms, 100, nBuckets = 16)
      .orderBy("r_sparse").collect().map(_.toString).toSeq
    assert(got === want,
      "resumed CDC index probe differs from the uninterrupted run — " +
        "a batch seam dropped or duplicated index state")
    rmTree(work)
  }

  /** cdcm5's leg. The reference run here is a from-scratch AvailableNow
    * drain of the SAME pipeline at the SAME cap (not the gate, whose
    * cap/4 admission makes a different batch 0 and therefore a
    * different — equally valid — quantizer): with identical admission
    * boundaries the uninterrupted and resumed runs must agree on the
    * probe AND on the quantizer itself, value-exactly (centroids are
    * exact decimal means of a deterministic batch 0).
    */
  test("cdcm5 pipeline: kill mid-stream, resume — probe AND quantizer identical") {
    import graft.operators.{CdcBinlog, Similarity}

    def start(work: java.nio.file.Path, trigger: Trigger) = {
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

    def centroids(work: java.nio.file.Path): Seq[(Int, Seq[Double])] =
      spark.read.parquet(s"${gen(work.resolve("annindex").toString)}/centroids")
        .collect().map(r => (r.getInt(0), r.getSeq[Double](1))).sortBy(_._1).toSeq

    def probe(work: java.nio.file.Path): Seq[String] = {
      import spark.implicits._
      val idx = work.resolve("annindex").toString
      val doclog = spark.read.parquet(s"${gen(idx)}/doclog")
      val live = doclog.groupBy($"vec_id")
        .agg(org.apache.spark.sql.functions.max(
          org.apache.spark.sql.functions.struct($"ver", $"deleted")).as("m"))
        .select($"vec_id", $"m.ver".as("ver"), $"m.deleted".as("deleted"))
        .filter(!$"deleted")
      val probeVec = spark.read.parquet(s"${gen(idx)}/cells")
        .join(live.select($"vec_id", $"ver"), Seq("vec_id", "ver"))
        .orderBy($"vec_id").select($"embedding")
        .head().getSeq[Long](0)
      Similarity.mipsTopKViaCdcAnnIndex(spark, idx, probeVec, 100)
        .orderBy("r_dense").collect().map(_.toString).toSeq
    }

    // uninterrupted reference at the same cap
    val ref = java.nio.file.Files.createTempDirectory("graft-cdcm5-ref")
    val qRef = start(ref, Trigger.AvailableNow())
    qRef.awaitTermination()
    assert(segDirs(ref.resolve("annindex")) >= 3)
    val wantProbe = probe(ref)
    val wantCent = centroids(ref)

    val work = killThenResume("graft-cdcm5-restart", start,
      w => segDirs(w.resolve("annindex")))

    // the quantizer must be the one batch 0 defined — value-exact
    // (first-batch contract: a resume NEVER re-derives centroids)
    assert(centroids(work) === wantCent,
      "resumed CDC ANN index re-derived its coarse quantizer — " +
        "the first-batch centroid contract broke across the restart")
    assert(probe(work) === wantProbe,
      "resumed CDC ANN probe differs from the uninterrupted run")
    rmTree(ref); rmTree(work)
  }

  /** The cdcm7 seam: a kill AFTER the mid-stream compaction. The resumed
    * run replays at most one uncommitted batch — if the fold already
    * consumed that batch's segment, the manifest's replay fence skips
    * the replay instead of doubling rows against seg=base (the
    * CdcReplayFenceSpec seam, here driven through a real checkpoint
    * restart); the resumed gate code may also fold AGAIN (its in-memory
    * segment counter restarts), which must stay probe-invariant. The
    * landing condition requires seg=base present and the drain
    * incomplete, so every attempt exercises resume-over-a-compacted-base.
    */
  test("cdcm7 pipeline: kill AFTER the mid-stream compaction, resume, probe matches") {
    import graft.operators.{CdcBinlog, Layout, TextAnalysis}

    def start(work: java.nio.file.Path, trigger: Trigger) = {
      val idx = work.resolve("index").toString
      val appended = new java.util.concurrent.atomic.AtomicInteger(0)
      changeStream.writeStream
        .option("checkpointLocation", work.resolve("ckpt").toString)
        .foreachBatch { (batch: DataFrame, batchId: Long) =>
          val imgs = CdcBinlog.cdcm4BatchImages(batch, batchId).persist()
          try {
            if (!imgs.isEmpty &&
                TextAnalysis.appendCdcTextSegment(imgs, idx, f"b$batchId%06d",
                  nBuckets = 16) &&
                appended.incrementAndGet() == 3)
              TextAnalysis.compactCdcTextIndex(spark, idx, nBuckets = 16)
          } finally imgs.unpersist()
          ()
        }
        .trigger(trigger)
        .start()
    }

    // uninterrupted reference at the same cap and compaction point
    val ref = java.nio.file.Files.createTempDirectory("graft-cdcm7-ref")
    val qRef = start(ref, Trigger.AvailableNow())
    qRef.awaitTermination()
    def probe(w: java.nio.file.Path) = TextAnalysis
      .bm25TopKViaCdcIndex(spark, w.resolve("index").toString,
        CdcBinlog.cdcm4Terms, 100, nBuckets = 16)
      .orderBy("r_sparse").collect().map(_.toString).toSeq
    val want = probe(ref)

    // landing = the fold already happened (seg=base) AND the drain is
    // incomplete; resume from the same checkpoint over the compacted base
    var work: java.nio.file.Path = null
    var landed = false
    var attempt = 0
    while (!landed && attempt < 6) {
      attempt += 1
      work = java.nio.file.Files.createTempDirectory("graft-cdcm7-restart")
      val commits = new java.util.concurrent.CountDownLatch(4)
      val listener = new StreamingQueryListener {
        override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
        override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
        override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
          if (e.progress.numInputRows > 0) commits.countDown()
      }
      spark.streams.addListener(listener)
      try {
        val q1 = start(work, Trigger.ProcessingTime(0))
        assert(commits.await(120, java.util.concurrent.TimeUnit.SECONDS))
        q1.stop(); q1.awaitTermination()
      } finally spark.streams.removeListener(listener)
      val segs = segNames(work.resolve("index"))
      landed = segs.contains("seg=base") && segs.size < 7
      if (!landed) rmTree(work)
    }
    assert(landed, "kill never landed after the compaction in 6 attempts")

    // the documented maintenance-resume step (a no-op unless the kill
    // interrupted a publish): recover, then resume from the checkpoint
    val idxPath = new org.apache.hadoop.fs.Path(work.resolve("index").toString)
    info("recoverPublish: " + Layout.recoverPublish(
      idxPath.getFileSystem(spark.sparkContext.hadoopConfiguration), idxPath))
    val q2 = start(work, Trigger.AvailableNow())
    q2.awaitTermination()
    assert(probe(work) === want,
      "resume over a compacted base diverged from the uninterrupted run — " +
        "a replayed folded batch doubled rows, or the re-fold broke liveness")
    rmTree(ref); rmTree(work)
  }

  /** cdcm10's leg: ONE checkpoint feeding TWO maintained indexes. A
    * replayed batch re-appends to BOTH structures (batch-addressed
    * segment overwrites make each idempotent independently), and the
    * resumed fan-out must keep them consistent with each other — the
    * final union probe matches the gate's uninterrupted run.
    */
  test("cdcm10 pipeline: kill mid-stream, resume — both routed indexes identical") {
    import graft.operators.{CdcBinlog, TextAnalysis}
    val want = CdcBinlog.cdcm10MultiIndexRouting(spark, dir)
      .collect().map(_.toString).toSeq

    val fix = java.nio.file.Paths.get(CdcBinlog.fixtureDir(dir), "multi").toString
    // /8 ≈ 9 micro-batches: the shared landing condition (segs < 8)
    // must exclude a full drain, or a too-fast kill window would pass
    // the test vacuously with nothing left to resume
    val multiCap = {
      val totalBytes = new java.io.File(fix).listFiles()
        .filter(f => f.isFile && f.getName.startsWith("binlog.0"))
        .map(_.length).sum
      math.max(totalBytes / 8, 1L)
    }
    val tables = Seq("d1", "d2")
    def start(work: java.nio.file.Path, trigger: Trigger) = {
      spark.readStream.format("mysql-binlog")
        .option("payloadDdl", CdcBinlog.payloadDdl)
        .option("maxBytesPerTrigger", multiCap.toString)
        .load(fix)
        .writeStream
        .option("checkpointLocation", work.resolve("ckpt").toString)
        .foreachBatch { (batch: DataFrame, batchId: Long) =>
          val b = batch.persist()
          try tables.foreach { tbl =>
            val imgs = CdcBinlog.cdcm4BatchImages(
              b.filter(b("table") === tbl), batchId).persist()
            try {
              if (!imgs.isEmpty)
                TextAnalysis.appendCdcTextSegment(imgs,
                  work.resolve(s"idx_$tbl").toString, f"b$batchId%06d",
                  nBuckets = 16)
              ()
            } finally imgs.unpersist()
          } finally b.unpersist()
          ()
        }
        .trigger(trigger)
        .start()
    }
    val work = killThenResume("graft-cdcm10-restart", start,
      w => segDirs(w.resolve("idx_d1")))

    val got = tables.map { tbl =>
      import org.apache.spark.sql.functions.lit
      TextAnalysis.bm25TopKViaCdcIndex(spark,
          work.resolve(s"idx_$tbl").toString, CdcBinlog.cdcm4Terms, 50,
          nBuckets = 16)
        .select(lit(tbl).as("tbl"),
          org.apache.spark.sql.functions.col("doc_id"),
          org.apache.spark.sql.functions.col("bm25"),
          org.apache.spark.sql.functions.col("r_sparse"))
    }.reduce(_.unionAll(_)).orderBy("tbl", "r_sparse")
      .collect().map(_.toString).toSeq
    assert(got === want,
      "resumed multi-table fan-out diverged from the uninterrupted gate — " +
        "a batch seam treated the two routed indexes inconsistently")
    rmTree(work)
  }

  /** cdcm11's leg: ONE checkpoint resuming HETEROGENEOUS structures —
    * the replayed batch re-appends idempotently to the text index while
    * the vector index's first-batch quantizer contract must hold (the
    * resumed run must NOT re-derive d2's centroids); the union probe
    * matches the gate's uninterrupted run.
    */
  test("cdcm11 pipeline: kill mid-stream, resume — text and vector legs identical") {
    import graft.operators.{CdcBinlog, Similarity, TextAnalysis}
    import org.apache.spark.sql.functions.{col, lit, max, struct}
    val want = CdcBinlog.cdcm11HeteroIndexRouting(spark, dir)
      .collect().map(_.toString).toSeq

    val fix = java.nio.file.Paths.get(CdcBinlog.fixtureDir(dir), "multi").toString
    val heteroCap = {
      val totalBytes = new java.io.File(fix).listFiles()
        .filter(f => f.isFile && f.getName.startsWith("binlog.0"))
        .map(_.length).sum
      math.max(totalBytes / 8, 1L)
    }
    def start(work: java.nio.file.Path, trigger: Trigger) = {
      val txtIdx = work.resolve("idx_text").toString
      val annIdx = work.resolve("idx_ann").toString
      spark.readStream.format("mysql-binlog")
        .option("payloadDdl", CdcBinlog.payloadDdl)
        .option("maxBytesPerTrigger", heteroCap.toString)
        .load(fix)
        .writeStream
        .option("checkpointLocation", work.resolve("ckpt").toString)
        .foreachBatch { (batch: DataFrame, batchId: Long) =>
          val b = batch.persist()
          try {
            val t = CdcBinlog.cdcm4BatchImages(
              b.filter(b("table") === "d1"), batchId).persist()
            try {
              if (!t.isEmpty)
                TextAnalysis.appendCdcTextSegment(t, txtIdx,
                  f"b$batchId%06d", nBuckets = 8)
              ()
            } finally t.unpersist()
            val v = CdcBinlog.cdcm5BatchImages(
              b.filter(b("table") === "d2"), batchId).persist()
            try {
              if (!v.isEmpty)
                Similarity.appendCdcAnnSegment(v, annIdx, f"b$batchId%06d")
              ()
            } finally v.unpersist()
          } finally b.unpersist()
          ()
        }
        .trigger(trigger)
        .start()
    }
    val work = killThenResume("graft-cdcm11-restart", start,
      w => segDirs(w.resolve("idx_text")))

    val annIdx = work.resolve("idx_ann").toString
    val doclog = spark.read.parquet(s"${gen(annIdx)}/doclog")
    import spark.implicits._
    val live = doclog.groupBy($"vec_id")
      .agg(max(struct($"ver", $"deleted")).as("m"))
      .select($"vec_id", $"m.ver".as("ver"), $"m.deleted".as("deleted"))
      .filter(!$"deleted")
    val probeVec = spark.read.parquet(s"${gen(annIdx)}/cells")
      .join(live.select($"vec_id", $"ver"), Seq("vec_id", "ver"))
      .orderBy($"vec_id").select($"embedding")
      .head().getSeq[Long](0)
    val textLeg = TextAnalysis
      .bm25TopKViaCdcIndex(spark, work.resolve("idx_text").toString,
        CdcBinlog.cdcm4Terms, 50, nBuckets = 8)
      .select(lit("text").as("leg"), col("doc_id").cast("long").as("key_id"),
        col("bm25").as("score"), col("r_sparse").as("r"))
    val annLeg = Similarity
      .mipsTopKViaCdcAnnIndex(spark, annIdx, probeVec, 50)
      .select(lit("ann").as("leg"), col("vec_id").cast("long").as("key_id"),
        col("dot").cast("double").as("score"), col("r_dense").as("r"))
    val got = textLeg.unionAll(annLeg).orderBy("leg", "r")
      .collect().map(_.toString).toSeq
    assert(got === want,
      "resumed heterogeneous fan-out diverged from the uninterrupted gate — " +
        "a replayed batch treated the two structure kinds inconsistently " +
        "or the resumed vector leg re-derived its quantizer")
    rmTree(work)
  }

  /** cdcm12's leg: ONE checkpoint resuming THREE structure kinds — the
    * text index, the vector index and the fp log, with the gate's
    * staggered folds running under the resumed pass too (the in-memory
    * append counters restart, so the resume may fold again — which must
    * stay probe-invariant). The kill is required to land AFTER the text
    * fold (seg=base present), so every attempt exercises
    * resume-over-a-compacted-base with two more structures in flight;
    * quantizer identity is pinned across the restart (the resumed run
    * must NOT re-derive d2's centroids).
    */
  test("cdcm12 pipeline: kill after a fold, resume — all three structures identical") {
    import graft.operators.{CdcBinlog, Layout, Similarity, TextAnalysis}
    import org.apache.spark.sql.functions.{col, lit, max, md5, row_number, struct, expr}
    val want = CdcBinlog.cdcm12TriFanout(spark, dir)
      .collect().map(_.toString).toSeq

    val fix = java.nio.file.Paths.get(CdcBinlog.fixtureDir(dir), "multi").toString
    val triCap = math.max(CdcBinlog.fixtureBinlogBytes(spark, fix) / 8, 1L)
    def start(work: java.nio.file.Path, trigger: Trigger) = {
      val txtIdx = work.resolve("idx_text").toString
      val annIdx = work.resolve("idx_ann").toString
      val fpLog = work.resolve("fplog").toString
      val txtAppends = new java.util.concurrent.atomic.AtomicInteger(0)
      val annAppends = new java.util.concurrent.atomic.AtomicInteger(0)
      spark.readStream.format("mysql-binlog")
        .option("payloadDdl", CdcBinlog.payloadDdl)
        .option("maxBytesPerTrigger", triCap.toString)
        .load(fix)
        .writeStream
        .option("checkpointLocation", work.resolve("ckpt").toString)
        .foreachBatch { (batch: DataFrame, batchId: Long) =>
          import spark.implicits._
          val b = batch.persist()
          try {
            val t = CdcBinlog.cdcm4BatchImages(
              b.filter(b("table") === "d1"), batchId).persist()
            try {
              if (!t.isEmpty) {
                if (TextAnalysis.appendCdcTextSegment(t, txtIdx,
                      f"b$batchId%06d", nBuckets = 8) &&
                    txtAppends.incrementAndGet() == 3)
                  TextAnalysis.compactCdcTextIndex(spark, txtIdx, nBuckets = 8)
                val fp = t.withColumn("fp",
                    md5(TextAnalysis.normalize(
                      expr("substring_index(word, '_', 1)"))))
                  .select($"doc_id", $"ver", $"deleted", $"fp")
                  .coalesce(4)
                CdcBinlog.appendCdcFpSegment(fp, fpLog, f"b$batchId%06d")
                ()
              }
            } finally t.unpersist()
            val v = CdcBinlog.cdcm5BatchImages(
              b.filter(b("table") === "d2"), batchId).persist()
            try {
              if (!v.isEmpty &&
                  Similarity.appendCdcAnnSegment(v, annIdx, f"b$batchId%06d") &&
                  annAppends.incrementAndGet() == 4)
                Similarity.compactCdcAnnIndex(spark, annIdx)
              ()
            } finally v.unpersist()
          } finally b.unpersist()
          ()
        }
        .trigger(trigger)
        .start()
    }

    def centroids(work: java.nio.file.Path): Seq[(Int, Seq[Double])] =
      spark.read.parquet(s"${gen(work.resolve("idx_ann").toString)}/centroids")
        .collect().map(r => (r.getInt(0), r.getSeq[Double](1))).sortBy(_._1).toSeq

    // landing = the text fold already happened AND the drain is
    // incomplete (full drain at /8 is ~9 text appends → base + ~6 segs)
    var work: java.nio.file.Path = null
    var landed = false
    var attempt = 0
    while (!landed && attempt < 6) {
      attempt += 1
      work = java.nio.file.Files.createTempDirectory("graft-cdcm12-restart")
      val commits = new java.util.concurrent.CountDownLatch(4)
      val listener = new StreamingQueryListener {
        override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
        override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
        override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
          if (e.progress.numInputRows > 0) commits.countDown()
      }
      spark.streams.addListener(listener)
      try {
        val q1 = start(work, Trigger.ProcessingTime(0))
        assert(commits.await(120, java.util.concurrent.TimeUnit.SECONDS))
        q1.stop(); q1.awaitTermination()
      } finally spark.streams.removeListener(listener)
      val segs = segNames(work.resolve("idx_text"))
      landed = segs.contains("seg=base") && segs.size < 6
      if (!landed) rmTree(work)
    }
    assert(landed, "kill never landed after the text fold in 6 attempts")
    val centAtKill = centroids(work)

    // the documented maintenance-resume step on both FOLDING structures
    // (a no-op unless the kill interrupted a publish), then resume
    for (idx <- Seq("idx_text", "idx_ann")) {
      val p = new org.apache.hadoop.fs.Path(work.resolve(idx).toString)
      info(s"recoverPublish($idx): " + Layout.recoverPublish(
        p.getFileSystem(spark.sparkContext.hadoopConfiguration), p))
    }
    val q2 = start(work, Trigger.AvailableNow())
    q2.awaitTermination()

    assert(centroids(work) === centAtKill,
      "the resumed vector leg re-derived its quantizer across the restart")

    import spark.implicits._
    val annIdx = work.resolve("idx_ann").toString
    val doclog = spark.read.parquet(s"${gen(annIdx)}/doclog")
    val live = doclog.groupBy($"vec_id")
      .agg(max(struct($"ver", $"deleted")).as("m"))
      .select($"vec_id", $"m.ver".as("ver"), $"m.deleted".as("deleted"))
      .filter(!$"deleted")
    val probeVec = spark.read.parquet(s"${gen(annIdx)}/cells")
      .join(live.select($"vec_id", $"ver"), Seq("vec_id", "ver"))
      .orderBy($"vec_id").select($"embedding")
      .head().getSeq[Long](0)
    val textLeg = TextAnalysis
      .bm25TopKViaCdcIndex(spark, work.resolve("idx_text").toString,
        CdcBinlog.cdcm4Terms, 50, nBuckets = 8)
      .select(lit("text").as("leg"), col("doc_id").cast("long").as("key_id"),
        col("bm25").as("score"), col("r_sparse").as("r"))
    val annLeg = Similarity
      .mipsTopKViaCdcAnnIndex(spark, annIdx, probeVec, 50)
      .select(lit("ann").as("leg"), col("vec_id").cast("long").as("key_id"),
        col("dot").cast("double").as("score"), col("r_dense").as("r"))
    val fpLeg = CdcBinlog.cdcFpGroups(spark, work.resolve("fplog").toString)
      .withColumn("r", row_number().over(
        org.apache.spark.sql.expressions.Window.orderBy($"keeper_doc_id")).cast("long"))
      .select(lit("fp").as("leg"), $"keeper_doc_id".cast("long").as("key_id"),
        $"n_docs".cast("double").as("score"), $"r")
    val got = textLeg.unionAll(annLeg).unionAll(fpLeg).orderBy("leg", "r")
      .collect().map(_.toString).toSeq
    assert(got === want,
      "resumed three-way fan-out diverged from the uninterrupted gate — " +
        "a replayed batch treated the three structure kinds inconsistently, " +
        "a re-fold broke liveness, or a fence crossed structures")
    rmTree(work)
  }

  test("cdcm6 pipeline: kill mid-stream, resume, duplicate groups identical") {
    import graft.operators.{CdcBinlog, TextAnalysis}
    import org.apache.spark.sql.functions.md5

    def start(work: java.nio.file.Path, trigger: Trigger) = {
      import spark.implicits._
      val log = work.resolve("fplog").toString
      changeStream.writeStream
        .option("checkpointLocation", work.resolve("ckpt").toString)
        .foreachBatch { (batch: DataFrame, batchId: Long) =>
          val imgs = CdcBinlog.cdcm4BatchImages(batch, batchId)
            .withColumn("fp", md5(TextAnalysis.normalize($"word")))
            .select($"doc_id", $"ver", $"deleted", $"fp")
            .coalesce(4)
            .persist()
          try {
            if (!imgs.isEmpty)
              CdcBinlog.appendCdcFpSegment(imgs, log, f"b$batchId%06d")
          } finally imgs.unpersist()
          ()
        }
        .trigger(trigger)
        .start()
    }

    def groups(work: java.nio.file.Path): Seq[String] =
      CdcBinlog.cdcFpGroups(spark, work.resolve("fplog").toString)
        .collect().map(_.toString).toSeq

    val ref = java.nio.file.Files.createTempDirectory("graft-cdcm6-ref")
    val qRef = start(ref, Trigger.AvailableNow())
    qRef.awaitTermination()
    assert(segDirs(ref.resolve("fplog")) >= 3)
    val want = groups(ref)
    assert(want.nonEmpty, "reference run found no duplicate groups — thin data")

    val work = killThenResume("graft-cdcm6-restart", start,
      w => segDirs(w.resolve("fplog")))
    assert(groups(work) === want,
      "resumed CDC dedup state differs from the uninterrupted run — " +
        "a batch seam dropped or duplicated fingerprint log rows")
    rmTree(ref); rmTree(work)
  }

  test("cdcm15 pipeline: kill AFTER the mid-stream band-log fold, resume, near-dup report matches") {
    import graft.operators.{CdcBinlog, Layout}

    // the gate's pipeline: band images appended per batch, the log
    // folded after the third append (the newest maintained-state kind
    // gets the family's strongest proof — kill past the fold, resume
    // from the same checkpoint, report identical)
    def start(work: java.nio.file.Path, trigger: Trigger) = {
      val log = work.resolve("bandlog").toString
      val appended = new java.util.concurrent.atomic.AtomicInteger(0)
      changeStream.writeStream
        .option("checkpointLocation", work.resolve("ckpt").toString)
        .foreachBatch { (batch: DataFrame, batchId: Long) =>
          val imgs = CdcBinlog.cdcm15BandImages(
            CdcBinlog.cdcm4BatchImages(batch, batchId)).persist()
          try {
            if (!imgs.isEmpty &&
                CdcBinlog.appendCdcFpSegment(imgs, log, f"b$batchId%06d") &&
                appended.incrementAndGet() == 3)
              CdcBinlog.compactCdcBandLog(spark, log)
          } finally imgs.unpersist()
          ()
        }
        .trigger(trigger)
        .start()
    }

    def report(w: java.nio.file.Path): Seq[String] =
      CdcBinlog.cdcNearDupPairs(spark, w.resolve("bandlog").toString)
        .collect().map(_.toString).toSeq

    val ref = java.nio.file.Files.createTempDirectory("graft-cdcm15-ref")
    val qRef = start(ref, Trigger.AvailableNow())
    qRef.awaitTermination()
    assert(segDirs(ref.resolve("bandlog")) >= 3)
    val want = report(ref)
    assert(want.nonEmpty, "reference run found no near-dup pairs — thin data")

    // landing = the fold already happened (seg=base) AND the drain is
    // incomplete; resume from the same checkpoint over the folded base
    var work: java.nio.file.Path = null
    var landed = false
    var attempt = 0
    while (!landed && attempt < 6) {
      attempt += 1
      work = java.nio.file.Files.createTempDirectory("graft-cdcm15-restart")
      val commits = new java.util.concurrent.CountDownLatch(4)
      val listener = new StreamingQueryListener {
        override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
        override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
        override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
          if (e.progress.numInputRows > 0) commits.countDown()
      }
      spark.streams.addListener(listener)
      try {
        val q1 = start(work, Trigger.ProcessingTime(0))
        assert(commits.await(120, java.util.concurrent.TimeUnit.SECONDS))
        q1.stop(); q1.awaitTermination()
      } finally spark.streams.removeListener(listener)
      val segs = segNames(work.resolve("bandlog"))
      landed = segs.contains("seg=base") && segs.size < 7
      if (!landed) rmTree(work)
    }
    assert(landed, "kill never landed after the band-log fold in 6 attempts")

    // the documented maintenance-resume step (a no-op unless the kill
    // interrupted a publish): recover, then resume from the checkpoint
    val logPath = new org.apache.hadoop.fs.Path(work.resolve("bandlog").toString)
    info("recoverPublish: " + Layout.recoverPublish(
      logPath.getFileSystem(spark.sparkContext.hadoopConfiguration), logPath))
    val q2 = start(work, Trigger.AvailableNow())
    q2.awaitTermination()
    assert(report(work) === want,
      "resume over a folded band log diverged from the uninterrupted " +
        "run — a replayed folded batch doubled band rows past the fence, " +
        "or the fold broke merge-on-read liveness")
    rmTree(ref); rmTree(work)
  }
}
