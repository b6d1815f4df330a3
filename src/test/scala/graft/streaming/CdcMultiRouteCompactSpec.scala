package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** The routing × maintenance matrix cell: BOTH of cdcm10's routed
  * indexes fold mid-stream, inside the same serialized foreachBatch
  * pass that keeps appending to them — each route keeps its own fold
  * schedule (d1 after its 2nd append, d2 after its 3rd, deliberately
  * staggered), and the final union probe must equal the
  * never-compacted gate. What this adds over cdcm7 (one index, one
  * fold) and IndexCompactionSpec (static folds): the folds interleave
  * with appends to the OTHER index in the same driver pass, so any
  * cross-route state bleed in the compactor (a shared staging name, a
  * fence read from the wrong root) shows up as a probe mismatch.
  */
class CdcMultiRouteCompactSpec extends AnyFunSuite with BeforeAndAfterAll {

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

  test("both routed indexes fold mid-stream on staggered schedules; probe matches the gate") {
    import graft.operators.{CdcBinlog, TextAnalysis}
    val want = CdcBinlog.cdcm10MultiIndexRouting(spark, dir)
      .collect().map(_.toString).toSeq

    val fix = java.nio.file.Paths.get(CdcBinlog.fixtureDir(dir), "multi").toString
    val cap = {
      val totalBytes = new java.io.File(fix).listFiles()
        .filter(f => f.isFile && f.getName.startsWith("binlog.0"))
        .map(_.length).sum
      math.max(totalBytes / 6, 1L)
    }
    val tables = Seq("d1", "d2")
    val foldAfter = Map("d1" -> 2, "d2" -> 3)
    // Atomic like every other cross-thread counter in this suite: the
    // tallies mutate on the streaming microbatch thread and read on the
    // test thread after processAllAvailable
    val appends = Map("d1" -> new java.util.concurrent.atomic.AtomicInteger(0),
      "d2" -> new java.util.concurrent.atomic.AtomicInteger(0))
    val folded = Map("d1" -> new java.util.concurrent.atomic.AtomicInteger(0),
      "d2" -> new java.util.concurrent.atomic.AtomicInteger(0))
    val work = java.nio.file.Files.createTempDirectory("graft-mrc")
    def idxOf(tbl: String) = work.resolve(s"idx_$tbl").toString

    val q = spark.readStream.format("mysql-binlog")
      .option("payloadDdl", CdcBinlog.payloadDdl)
      .option("maxBytesPerTrigger", cap.toString)
      .load(fix)
      .writeStream
      .option("checkpointLocation", work.resolve("ckpt").toString)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val b = batch.persist()
        try tables.foreach { tbl =>
          val imgs = CdcBinlog.cdcm4BatchImages(
            b.filter(b("table") === tbl), batchId).persist()
          try {
            if (!imgs.isEmpty &&
                TextAnalysis.appendCdcTextSegment(imgs, idxOf(tbl),
                  f"b$batchId%06d", nBuckets = 8)) {
              if (appends(tbl).incrementAndGet() == foldAfter(tbl)) {
                TextAnalysis.compactCdcTextIndex(spark, idxOf(tbl), nBuckets = 8)
                folded(tbl).incrementAndGet()
              }
            }
          } finally imgs.unpersist()
        } finally b.unpersist()
        ()
      }
      .start()
    try q.processAllAvailable() finally q.stop()

    tables.foreach { tbl =>
      assert(folded(tbl).get() === 1, s"$tbl never reached its fold point " +
        s"(${appends(tbl).get()} appends) — thin batching, raise the cap divisor")
      val segs = graft.operators.ManifestFixtures.segs(spark, idxOf(tbl))
      assert(segs.contains("seg=base") &&
        segs.size == appends(tbl).get() - foldAfter(tbl) + 1,
        s"$tbl: expected seg=base + ${appends(tbl).get() - foldAfter(tbl)} " +
          s"post-fold segments, got $segs")
    }
    val got = tables.map { tbl =>
      import org.apache.spark.sql.functions.{col, lit}
      TextAnalysis.bm25TopKViaCdcIndex(spark, idxOf(tbl),
          CdcBinlog.cdcm4Terms, 50, nBuckets = 8)
        .select(lit(tbl).as("tbl"), col("doc_id"), col("bm25"), col("r_sparse"))
    }.reduce(_.unionAll(_)).orderBy("tbl", "r_sparse")
      .collect().map(_.toString).toSeq
    assert(got === want,
      "staggered per-route folds diverged from the never-compacted gate — " +
        "cross-route state bled through the compactor")
    rmTree(work)
  }

  /** The heterogeneous twin, with the fences themselves pinned: a text
    * fold (after its 3rd append) and an ANN fold (after its 4th) fire on
    * DIFFERENT batches of the same shared foreachBatch, and afterwards
    * each structure's replay fence must equal the ordinal of ITS OWN
    * last pre-fold batch — not the other's (a fence written to or read
    * from the wrong root silently drops one route's replays). The union
    * probe must still match the never-compacted cdcm11 gate.
    */
  test("hetero staggered folds leave exact per-structure fences; probe matches cdcm11") {
    import graft.operators.{CdcBinlog, Layout, Similarity, TextAnalysis}
    val want = CdcBinlog.cdcm11HeteroIndexRouting(spark, dir)
      .collect().map(_.toString).toSeq

    val fix = java.nio.file.Paths.get(CdcBinlog.fixtureDir(dir), "multi").toString
    val cap = math.max(CdcBinlog.fixtureBinlogBytes(spark, fix) / 6, 1L)
    val work = java.nio.file.Files.createTempDirectory("graft-mrc-hetero")
    val txtIdx = work.resolve("idx_text").toString
    val annIdx = work.resolve("idx_ann").toString
    val txtBatches = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val annBatches = new java.util.concurrent.ConcurrentLinkedQueue[Long]()

    val q = spark.readStream.format("mysql-binlog")
      .option("payloadDdl", CdcBinlog.payloadDdl)
      .option("maxBytesPerTrigger", cap.toString)
      .load(fix)
      .writeStream
      .option("checkpointLocation", work.resolve("ckpt").toString)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val b = batch.persist()
        try {
          val t = CdcBinlog.cdcm4BatchImages(
            b.filter(b("table") === "d1"), batchId).persist()
          try {
            if (!t.isEmpty &&
                TextAnalysis.appendCdcTextSegment(t, txtIdx,
                  f"b$batchId%06d", nBuckets = 8)) {
              txtBatches.add(batchId)
              if (txtBatches.size == 3)
                TextAnalysis.compactCdcTextIndex(spark, txtIdx, nBuckets = 8)
            }
          } finally t.unpersist()
          val v = CdcBinlog.cdcm5BatchImages(
            b.filter(b("table") === "d2"), batchId).persist()
          try {
            if (!v.isEmpty &&
                Similarity.appendCdcAnnSegment(v, annIdx, f"b$batchId%06d")) {
              annBatches.add(batchId)
              if (annBatches.size == 4)
                Similarity.compactCdcAnnIndex(spark, annIdx)
            }
          } finally v.unpersist()
        } finally b.unpersist()
        ()
      }
      .start()
    try q.processAllAvailable() finally q.stop()

    val txtIds = txtBatches.toArray.toVector.map(_.asInstanceOf[Long])
    val annIds = annBatches.toArray.toVector.map(_.asInstanceOf[Long])
    assert(txtIds.size >= 5 && annIds.size >= 5,
      s"thin batching (text=${txtIds.size}, ann=${annIds.size} appends) — " +
        "raise the cap divisor")
    def fence(idx: String): Option[Long] = Layout.fenceOf(spark, idx)
    assert(fence(txtIdx) === Some(txtIds(2)),
      s"text fence ${fence(txtIdx)} != its own 3rd appended batch ${txtIds(2)}")
    assert(fence(annIdx) === Some(annIds(3)),
      s"ann fence ${fence(annIdx)} != its own 4th appended batch ${annIds(3)}")
    assert(fence(txtIdx) !== fence(annIdx),
      "the two structures share a fence ordinal — per-structure staggering lost")

    import spark.implicits._
    import org.apache.spark.sql.functions.{col, lit, max, struct}
    val doclog = spark.read.parquet(s"${graft.operators.ManifestFixtures.generation(spark, annIdx)}/doclog")
    val live = doclog.groupBy($"vec_id")
      .agg(max(struct($"ver", $"deleted")).as("m"))
      .select($"vec_id", $"m.ver".as("ver"), $"m.deleted".as("deleted"))
      .filter(!$"deleted")
    val probeVec = spark.read.parquet(s"${graft.operators.ManifestFixtures.generation(spark, annIdx)}/cells")
      .join(live.select($"vec_id", $"ver"), Seq("vec_id", "ver"))
      .orderBy($"vec_id").select($"embedding")
      .head().getSeq[Long](0)
    val textLeg = TextAnalysis
      .bm25TopKViaCdcIndex(spark, txtIdx, CdcBinlog.cdcm4Terms, 50, nBuckets = 8)
      .select(lit("text").as("leg"), col("doc_id").cast("long").as("key_id"),
        col("bm25").as("score"), col("r_sparse").as("r"))
    val annLeg = Similarity
      .mipsTopKViaCdcAnnIndex(spark, annIdx, probeVec, 50)
      .select(lit("ann").as("leg"), col("vec_id").cast("long").as("key_id"),
        col("dot").cast("double").as("score"), col("r_dense").as("r"))
    val got = textLeg.unionAll(annLeg).orderBy("leg", "r")
      .collect().map(_.toString).toSeq
    assert(got === want,
      "hetero staggered folds diverged from the never-compacted gate — " +
        "a fold was visible to the other structure's probe")
    rmTree(work)
  }

  /** The LIFECYCLE ops under the same multiplex (VERDICT r17 #4):
    * cdcm13's requantize and cdcm14's re-bucket are proven under
    * single-structure ingest; production CDC is a multiplex, and the
    * marker/fence interplay ACROSS routes is the one composition they
    * hadn't run. Here the text route RE-BUCKETS 8→32 after its 3rd
    * append (appends thereafter are marker-driven, cdcm14's appender)
    * and the ANN route REQUANTIZES after its 4th append (appends
    * thereafter assign against the published rebuilt centroids,
    * cdcm13's contract) — staggered, inside one shared foreachBatch.
    * Pinned: per-structure fences at each route's own ordinal, the
    * grown `_nbuckets` marker with physical occupation past the old
    * range, centroids genuinely CHANGED, and the union probe still
    * matching the never-maintained cdcm11 gate.
    */
  test("hetero staggered re-bucket + requantize under the shared pass; probe matches cdcm11") {
    import graft.operators.{CdcBinlog, Layout, Similarity, TextAnalysis}
    val want = CdcBinlog.cdcm11HeteroIndexRouting(spark, dir)
      .collect().map(_.toString).toSeq

    val fix = java.nio.file.Paths.get(CdcBinlog.fixtureDir(dir), "multi").toString
    val cap = math.max(CdcBinlog.fixtureBinlogBytes(spark, fix) / 6, 1L)
    val work = java.nio.file.Files.createTempDirectory("graft-mrc-lifecycle")
    val txtIdx = work.resolve("idx_text").toString
    val annIdx = work.resolve("idx_ann").toString
    val txtBatches = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val annBatches = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val preCentroids =
      new java.util.concurrent.atomic.AtomicReference[Seq[String]](Nil)

    val q = spark.readStream.format("mysql-binlog")
      .option("payloadDdl", CdcBinlog.payloadDdl)
      .option("maxBytesPerTrigger", cap.toString)
      .load(fix)
      .writeStream
      .option("checkpointLocation", work.resolve("ckpt").toString)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val b = batch.persist()
        try {
          val t = CdcBinlog.cdcm4BatchImages(
            b.filter(b("table") === "d1"), batchId).persist()
          try {
            // cdcm14's MARKER-DRIVEN appender: each batch buckets by
            // the recorded count, whatever the last re-bucket left
            val nb = TextAnalysis.cdcTextIndexBucketCount(spark, txtIdx)
              .getOrElse(8)
            if (!t.isEmpty &&
                TextAnalysis.appendCdcTextSegment(t, txtIdx,
                  f"b$batchId%06d", nBuckets = nb)) {
              txtBatches.add(batchId)
              if (txtBatches.size == 3)
                TextAnalysis.rebucketCdcTextIndex(spark, txtIdx, 32)
            }
          } finally t.unpersist()
          val v = CdcBinlog.cdcm5BatchImages(
            b.filter(b("table") === "d2"), batchId).persist()
          try {
            if (!v.isEmpty &&
                Similarity.appendCdcAnnSegment(v, annIdx, f"b$batchId%06d")) {
              annBatches.add(batchId)
              if (annBatches.size == 4) {
                preCentroids.set(spark.read.parquet(
                    s"${graft.operators.ManifestFixtures.generation(spark, annIdx)}/centroids")
                  .orderBy("cell").collect().map(_.toString).toSeq)
                Similarity.requantizeCdcAnnIndex(spark, annIdx, k = 16)
              }
            }
          } finally v.unpersist()
        } finally b.unpersist()
        ()
      }
      .start()
    try q.processAllAvailable() finally q.stop()

    val txtIds = txtBatches.toArray.toVector.map(_.asInstanceOf[Long])
    val annIds = annBatches.toArray.toVector.map(_.asInstanceOf[Long])
    assert(txtIds.size >= 5 && annIds.size >= 5,
      s"thin batching (text=${txtIds.size}, ann=${annIds.size} appends) — " +
        "raise the cap divisor")
    def fence(idx: String): Option[Long] = Layout.fenceOf(spark, idx)
    // per-structure fences at each route's OWN lifecycle point
    assert(fence(txtIdx) === Some(txtIds(2)),
      s"text fence ${fence(txtIdx)} != its own 3rd appended batch ${txtIds(2)}")
    assert(fence(annIdx) === Some(annIds(3)),
      s"ann fence ${fence(annIdx)} != its own 4th appended batch ${annIds(3)}")
    assert(fence(txtIdx) !== fence(annIdx),
      "the two structures share a fence ordinal — per-structure staggering lost")
    // the re-bucket really landed AND the marker drove later appends:
    // recorded count grown, postings physically occupy buckets >= 8
    assert(TextAnalysis.cdcTextIndexBucketCount(spark, txtIdx) === Some(32))
    val grownDirs = new java.io.File(
        s"${graft.operators.ManifestFixtures.generation(spark, txtIdx)}/postings").listFiles()
      .filter(_.getName.startsWith("seg=")).flatMap(_.listFiles())
      .map(_.getName).filter(_.startsWith("tb="))
      .map(_.stripPrefix("tb=").toInt).toSet
    assert(grownDirs.exists(_ >= 8),
      s"no postings landed beyond the old 8-bucket range: $grownDirs")
    // the requantize really replaced the quantizer
    val postCentroids = spark.read.parquet(
        s"${graft.operators.ManifestFixtures.generation(spark, annIdx)}/centroids")
      .orderBy("cell").collect().map(_.toString).toSeq
    assert(preCentroids.get().nonEmpty && postCentroids != preCentroids.get(),
      "requantize left the centroids unchanged — the rebuild never published")

    import spark.implicits._
    import org.apache.spark.sql.functions.{col, lit, max, struct}
    val doclog = spark.read.parquet(s"${graft.operators.ManifestFixtures.generation(spark, annIdx)}/doclog")
    val live = doclog.groupBy($"vec_id")
      .agg(max(struct($"ver", $"deleted")).as("m"))
      .select($"vec_id", $"m.ver".as("ver"), $"m.deleted".as("deleted"))
      .filter(!$"deleted")
    val probeVec = spark.read.parquet(s"${graft.operators.ManifestFixtures.generation(spark, annIdx)}/cells")
      .join(live.select($"vec_id", $"ver"), Seq("vec_id", "ver"))
      .orderBy($"vec_id").select($"embedding")
      .head().getSeq[Long](0)
    val textLeg = TextAnalysis
      .bm25TopKViaCdcIndex(spark, txtIdx, CdcBinlog.cdcm4Terms, 50, nBuckets = 32)
      .select(lit("text").as("leg"), col("doc_id").cast("long").as("key_id"),
        col("bm25").as("score"), col("r_sparse").as("r"))
    val annLeg = Similarity
      .mipsTopKViaCdcAnnIndex(spark, annIdx, probeVec, 50)
      .select(lit("ann").as("leg"), col("vec_id").cast("long").as("key_id"),
        col("dot").cast("double").as("score"), col("r_dense").as("r"))
    val got = textLeg.unionAll(annLeg).orderBy("leg", "r")
      .collect().map(_.toString).toSeq
    assert(got === want,
      "staggered lifecycle ops diverged from the never-maintained gate — " +
        "a re-bucket or requantize bled across routes")
    rmTree(work)
  }

  /** The maintenance-DAEMON shape: all FOUR maintained-structure kinds
    * (text index, ANN index, fp log, band log) maintained off one
    * shared pass, each folding on ITS OWN measured policy —
    * textMaintenanceAdvice (quarter-of-postings budget, 2-bucket
    * start), annMaintenanceAdvice (growth trigger, k=2 start),
    * logMaintenanceAdvice (2-segment budget, driving BOTH logs) — with
    * no hardcoded schedule anywhere. What this adds over cdcm16/17/18
    * (one policy, one structure each) and the lifecycle leg above
    * (hardcoded schedules, two structures): the policies fire on
    * DIFFERENT batches chosen by their own measurements, so the
    * fence/marker interplay across routes is exercised at
    * policy-chosen points, not author-chosen ones. Truth: text+ANN
    * union probe == the never-maintained cdcm11 gate; fp groups and
    * the near-dup report == append-only unmaintained twin logs built
    * in the same pass.
    */
  test("maintenance daemon: all four maintained kinds fold by their own policies under the shared pass") {
    import graft.operators.{CdcBinlog, Layout, Similarity, TextAnalysis}
    import org.apache.spark.sql.functions.{col, lit, max, md5, struct, sum}
    val want = CdcBinlog.cdcm11HeteroIndexRouting(spark, dir)
      .collect().map(_.toString).toSeq

    val fix = java.nio.file.Paths.get(CdcBinlog.fixtureDir(dir), "multi").toString
    val cap = math.max(CdcBinlog.fixtureBinlogBytes(spark, fix) / 6, 1L)
    val work = java.nio.file.Files.createTempDirectory("graft-mrc-daemon")
    val txtIdx = work.resolve("idx_text").toString
    val annIdx = work.resolve("idx_ann").toString
    val fpIdx = work.resolve("fplog").toString
    val fpTwin = work.resolve("fplog_twin").toString
    val bandIdx = work.resolve("bandlog").toString
    val bandTwin = work.resolve("bandlog_twin").toString

    val txtFired = new java.util.concurrent.atomic.AtomicInteger(0)
    val annFired = new java.util.concurrent.atomic.AtomicInteger(0)
    val fpFired = new java.util.concurrent.atomic.AtomicInteger(0)
    val bandFired = new java.util.concurrent.atomic.AtomicInteger(0)
    val lastNb = new java.util.concurrent.atomic.AtomicInteger(2)
    val lastK = new java.util.concurrent.atomic.AtomicInteger(2)
    // the batch each structure's LAST fold fired on — its fence must
    // end up exactly there (policy-chosen, not author-chosen)
    val txtFenceAt = new java.util.concurrent.atomic.AtomicLong(-1L)
    val annFenceAt = new java.util.concurrent.atomic.AtomicLong(-1L)
    val fpFenceAt = new java.util.concurrent.atomic.AtomicLong(-1L)
    val bandFenceAt = new java.util.concurrent.atomic.AtomicLong(-1L)
    // Atomic like the fired/fence counters beside them — the tallies
    // mutate on the microbatch thread and read on the test thread
    val appends = Map(
      "txt" -> new java.util.concurrent.atomic.AtomicInteger(0),
      "ann" -> new java.util.concurrent.atomic.AtomicInteger(0),
      "fp" -> new java.util.concurrent.atomic.AtomicInteger(0),
      "band" -> new java.util.concurrent.atomic.AtomicInteger(0))

    def txtAdvice() = {
      val stats = TextAnalysis.cdcTextIndexStats(spark, txtIdx)
      val total = stats.agg(sum(col("n_postings"))).head().getLong(0)
      TextAnalysis.textMaintenanceAdvice(stats,
        probeReadBudget = math.max(1L, total / 4))
    }
    def annAdvice() = Similarity.annMaintenanceAdvice(
      Similarity.cdcAnnIndexStats(spark, annIdx), skewRatio = Double.MaxValue)
    def fpAdvice() = CdcBinlog.logMaintenanceAdvice(
      CdcBinlog.cdcLogStats(spark, fpIdx), maxSegments = 2)
    def bandAdvice() = CdcBinlog.logMaintenanceAdvice(
      CdcBinlog.cdcLogStats(spark, bandIdx), maxSegments = 2)

    val q = spark.readStream.format("mysql-binlog")
      .option("payloadDdl", CdcBinlog.payloadDdl)
      .option("maxBytesPerTrigger", cap.toString)
      .load(fix)
      .writeStream
      .option("checkpointLocation", work.resolve("ckpt").toString)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val b = batch.persist()
        try {
          val t = CdcBinlog.cdcm4BatchImages(
            b.filter(b("table") === "d1"), batchId).persist()
          try {
            val nb = TextAnalysis.cdcTextIndexBucketCount(spark, txtIdx)
              .getOrElse(2)
            if (!t.isEmpty &&
                TextAnalysis.appendCdcTextSegment(t, txtIdx,
                  f"b$batchId%06d", nBuckets = nb)) {
              appends("txt").incrementAndGet()
              var a = txtAdvice()
              while (a.rebucket && a.suggestedBuckets > lastNb.get()) {
                txtFired.incrementAndGet(); txtFenceAt.set(batchId)
                lastNb.set(a.suggestedBuckets)
                TextAnalysis.rebucketCdcTextIndex(spark, txtIdx,
                  a.suggestedBuckets)
                a = txtAdvice()
              }
            }
            // the fp route rides the SAME d1 images (the daemon shape:
            // one decode, N structures)
            val fpImgs = t.withColumn("fp",
                md5(TextAnalysis.normalize(col("word"))))
              .select(col("doc_id"), col("ver"), col("deleted"), col("fp"))
            if (!t.isEmpty &&
                CdcBinlog.appendCdcFpSegment(fpImgs, fpIdx, f"b$batchId%06d")) {
              appends("fp").incrementAndGet()
              assert(CdcBinlog.appendCdcFpSegment(fpImgs, fpTwin,
                f"b$batchId%06d"), "the unmaintained twin refused an append")
              val a = fpAdvice()
              if (a.compact) {
                fpFired.incrementAndGet(); fpFenceAt.set(batchId)
                CdcBinlog.compactCdcFpLog(spark, fpIdx)
              }
            }
            // the band route: the FOURTH maintained kind, same d1
            // images, its own policy over the same log-advice family
            val bandImgs = CdcBinlog.cdcm15BandImages(t)
            if (!t.isEmpty &&
                CdcBinlog.appendCdcFpSegment(bandImgs, bandIdx,
                  f"b$batchId%06d")) {
              appends("band").incrementAndGet()
              assert(CdcBinlog.appendCdcFpSegment(bandImgs, bandTwin,
                f"b$batchId%06d"), "the unmaintained band twin refused an append")
              val a = bandAdvice()
              if (a.compact) {
                bandFired.incrementAndGet(); bandFenceAt.set(batchId)
                CdcBinlog.compactCdcBandLog(spark, bandIdx)
              }
            }
          } finally t.unpersist()
          val v = CdcBinlog.cdcm5BatchImages(
            b.filter(b("table") === "d2"), batchId).persist()
          try {
            if (!v.isEmpty &&
                Similarity.appendCdcAnnSegment(v, annIdx, f"b$batchId%06d",
                  k = 2)) {
              appends("ann").incrementAndGet()
              var a = annAdvice()
              while (a.requantize && a.suggestedK > lastK.get()) {
                annFired.incrementAndGet(); annFenceAt.set(batchId)
                lastK.set(a.suggestedK)
                Similarity.requantizeCdcAnnIndex(spark, annIdx,
                  k = a.suggestedK)
                a = annAdvice()
              }
            }
          } finally v.unpersist()
        } finally b.unpersist()
        ()
      }
      .start()
    try q.processAllAvailable() finally q.stop()

    assert(appends("txt").get() >= 5 && appends("ann").get() >= 5 &&
      appends("fp").get() >= 5 && appends("band").get() >= 5,
      s"thin batching ($appends) — raise the cap divisor")
    assert(txtFired.get() >= 1, "the text policy never fired under pressure")
    assert(annFired.get() >= 1, "the ANN growth policy never fired")
    assert(fpFired.get() >= 1, "the fp segment-budget policy never fired")
    assert(bandFired.get() >= 1, "the band segment-budget policy never fired")
    // every policy satisfied at stream end (each append was followed by
    // a measure-and-fold, so owing maintenance cannot survive)
    assert(!txtAdvice().rebucket, s"text owes maintenance: ${txtAdvice()}")
    assert(!annAdvice().requantize, s"ann owes maintenance: ${annAdvice()}")
    assert(!fpAdvice().compact, s"fp owes maintenance: ${fpAdvice()}")
    assert(!bandAdvice().compact, s"band owes maintenance: ${bandAdvice()}")
    // per-structure fences at each policy's OWN chosen batch
    def fence(idx: String): Option[Long] = Layout.fenceOf(spark, idx)
    assert(fence(txtIdx) === Some(txtFenceAt.get()),
      s"text fence ${fence(txtIdx)} != its policy's chosen batch ${txtFenceAt.get()}")
    assert(fence(annIdx) === Some(annFenceAt.get()),
      s"ann fence ${fence(annIdx)} != its policy's chosen batch ${annFenceAt.get()}")
    assert(fence(fpIdx) === Some(fpFenceAt.get()),
      s"fp fence ${fence(fpIdx)} != its policy's chosen batch ${fpFenceAt.get()}")
    assert(fence(bandIdx) === Some(bandFenceAt.get()),
      s"band fence ${fence(bandIdx)} != its policy's chosen batch ${bandFenceAt.get()}")
    assert(fence(fpTwin).isEmpty && fence(bandTwin).isEmpty,
      "an unmaintained twin grew a fence")
    // marker/quantizer state matches the policies' last suggestions
    assert(TextAnalysis.cdcTextIndexBucketCount(spark, txtIdx)
      === Some(lastNb.get()))
    assert(lastNb.get() > 2 && lastK.get() > 2,
      s"policies fired but nothing grew (nb=${lastNb.get()}, k=${lastK.get()})")

    // truth 1: text+ANN union probe == the never-maintained cdcm11 gate
    import spark.implicits._
    val doclog = spark.read.parquet(s"${graft.operators.ManifestFixtures.generation(spark, annIdx)}/doclog")
    val live = doclog.groupBy($"vec_id")
      .agg(max(struct($"ver", $"deleted")).as("m"))
      .select($"vec_id", $"m.ver".as("ver"), $"m.deleted".as("deleted"))
      .filter(!$"deleted")
    val probeVec = spark.read.parquet(s"${graft.operators.ManifestFixtures.generation(spark, annIdx)}/cells")
      .join(live.select($"vec_id", $"ver"), Seq("vec_id", "ver"))
      .orderBy($"vec_id").select($"embedding")
      .head().getSeq[Long](0)
    val textLeg = TextAnalysis
      .bm25TopKViaCdcIndex(spark, txtIdx, CdcBinlog.cdcm4Terms, 50,
        nBuckets = lastNb.get())
      .select(lit("text").as("leg"), col("doc_id").cast("long").as("key_id"),
        col("bm25").as("score"), col("r_sparse").as("r"))
    val annLeg = Similarity
      .mipsTopKViaCdcAnnIndex(spark, annIdx, probeVec, 50)
      .select(lit("ann").as("leg"), col("vec_id").cast("long").as("key_id"),
        col("dot").cast("double").as("score"), col("r_dense").as("r"))
    val got = textLeg.unionAll(annLeg).orderBy("leg", "r")
      .collect().map(_.toString).toSeq
    assert(got === want,
      "policy-driven maintenance diverged from the never-maintained gate")
    // truth 2: fp groups == the append-only unmaintained twin
    val gotFp = CdcBinlog.cdcFpGroups(spark, fpIdx)
      .collect().map(_.toString).toSeq
    val wantFp = CdcBinlog.cdcFpGroups(spark, fpTwin)
      .collect().map(_.toString).toSeq
    assert(gotFp === wantFp,
      "the policy-compacted fp log diverged from its unmaintained twin")
    // truth 3: the near-dup report == the append-only unmaintained twin
    val gotBand = CdcBinlog.cdcNearDupPairs(spark, bandIdx)
      .collect().map(_.toString).toSeq
    val wantBand = CdcBinlog.cdcNearDupPairs(spark, bandTwin)
      .collect().map(_.toString).toSeq
    assert(gotBand === wantBand,
      "the policy-compacted band log diverged from its unmaintained twin")
    rmTree(work)
  }
}
