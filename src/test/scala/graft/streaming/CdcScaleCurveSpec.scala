package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** The EMPIRICAL SCALE CURVE for the CDC-maintained structure family —
  * the measured ground under the 100 TB O(batch) claims, across a real
  * 10x data step (sf0.01 vs sf0.1 driver fixtures), folds included.
  * CdcAppendCostSpec pins batching-invariance at ONE scale (5 vs 9
  * batches of the same corpus); this pins SCALE-invariance of the
  * per-admitted-row work: one bounded-admission pass per SF feeds the
  * text index, the ANN index and the band log off the same decoded
  * batches (the daemon fan-out shape), each folding mid-stream on the
  * cdcm7/8/15 recipe, and the measured units must stay flat:
  *
  *  - append rows per admitted change row: scale-free (<= 1.4x drift
  *    across the 10x step — an O(index-so-far) appender would grow
  *    superlinearly with the corpus and blow this immediately);
  *  - fold output rows == live keys at fold time (the fold's unit is
  *    the LIVE CORPUS by contract — it scales with data, linearly,
  *    and the equality pins the exponent at exactly 1);
  *  - per-batch appended rows bounded by that batch's admitted rows
  *    (CdcAppendCostSpec's battery, re-asserted at the bigger SF).
  *
  * Wall seconds per structure (append and fold separately, against
  * admitted bytes) are measured and reported via info() — the curve
  * BENCH_NOTES records; they are NOT asserted (host-noise would flake
  * the suite; the deterministic row units above carry the proof).
  */
class CdcScaleCurveSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[8]")
    .config("spark.sql.shuffle.partitions", "8")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private def rmTree(work: java.nio.file.Path): Unit = {
    val tw = java.nio.file.Files.walk(work)
    try tw.sorted(java.util.Comparator.reverseOrder())
      .forEach(p => java.nio.file.Files.deleteIfExists(p))
    finally tw.close()
  }

  /** One structure's measured run: appended rows per segment, fold
    * output rows, live keys at fold time, and wall seconds split
    * append vs fold.
    */
  // Atomics/TrieMap throughout: everything here mutates on the
  // microbatch thread and reads on the test thread. `appended` is
  // measured from each segment's PHYSICAL parquet right after its
  // append (a later fold deletes consumed segments, so post-hoc
  // listing would undercount pre-fold work)
  private case class Leg(appended: scala.collection.concurrent.TrieMap[Long, Long] =
                           scala.collection.concurrent.TrieMap.empty,
                         foldRows: java.util.concurrent.atomic.AtomicLong =
                           new java.util.concurrent.atomic.AtomicLong(-1L),
                         liveAtFold: java.util.concurrent.atomic.AtomicLong =
                           new java.util.concurrent.atomic.AtomicLong(-1L),
                         appendNanos: java.util.concurrent.atomic.AtomicLong =
                           new java.util.concurrent.atomic.AtomicLong(0),
                         foldNanos: java.util.concurrent.atomic.AtomicLong =
                           new java.util.concurrent.atomic.AtomicLong(0),
                         appends: java.util.concurrent.atomic.AtomicInteger =
                           new java.util.concurrent.atomic.AtomicInteger(0))

  private case class Curve(admittedRows: Map[Long, Long], admittedBytes: Long,
                           text: Leg, ann: Leg, band: Leg)

  /** Drain one SF's fixture through the three-structure fan-out, each
    * structure folding after its 3rd append (cdcm7/8/15's recipe), all
    * units measured from the physical segments and the stream's own
    * progress counters.
    */
  private def run(sfDir: String): Curve = {
    import graft.operators.{CdcBinlog, Similarity, TextAnalysis}
    import org.apache.spark.sql.functions.{col, max, struct}
    val fix = CdcBinlog.fixtureDir(sfDir)
    val totalBytes = new java.io.File(fix).listFiles()
      .filter(f => f.isFile && f.getName.startsWith("binlog.0"))
      .map(_.length).sum
    val cap = math.max(totalBytes / 6, 1L)
    val work = java.nio.file.Files.createTempDirectory("graft-scurve")
    val txtIdx = work.resolve("idx_text").toString
    val annIdx = work.resolve("idx_ann").toString
    val bandLog = work.resolve("bandlog").toString
    val (text, ann, band) = (Leg(), Leg(), Leg())

    def timed[T](acc: java.util.concurrent.atomic.AtomicLong)(body: => T): T = {
      val t0 = System.nanoTime()
      try body finally acc.addAndGet(System.nanoTime() - t0)
    }
    def liveKeys(dir: String, key: String): Long =
      spark.read.parquet(dir)
        .groupBy(col(key))
        .agg(max(struct(col("ver"), col("deleted"))).as("m"))
        .filter(!col("m.deleted")).count()

    def gen(root: String): String = graft.operators.ManifestFixtures.generation(spark, root)

    val q = spark.readStream.format("mysql-binlog")
      .option("payloadDdl", CdcBinlog.payloadDdl)
      .option("maxBytesPerTrigger", cap.toString)
      .load(fix)
      .writeStream
      .option("checkpointLocation", work.resolve("ckpt").toString)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val imgs = CdcBinlog.cdcm4BatchImages(batch, batchId).persist()
        try {
          if (!imgs.isEmpty) {
            if (timed(text.appendNanos)(TextAnalysis.appendCdcTextSegment(
                  imgs, txtIdx, f"b$batchId%06d", nBuckets = 16))) {
              text.appended(batchId) = spark.read
                .parquet(f"${gen(txtIdx)}/doclog/seg=b$batchId%06d").count()
            }
            if (text.appended.contains(batchId) &&
                text.appends.incrementAndGet() == 3) {
              text.liveAtFold.set(liveKeys(s"${gen(txtIdx)}/doclog", "doc_id"))
              timed(text.foldNanos)(TextAnalysis.compactCdcTextIndex(
                spark, txtIdx, nBuckets = 16))
              text.foldRows.set(spark.read
                .parquet(s"${gen(txtIdx)}/doclog/seg=base").count())
            }
            val bandImgs = CdcBinlog.cdcm15BandImages(imgs).coalesce(4)
            if (timed(band.appendNanos)(CdcBinlog.appendCdcFpSegment(
                  bandImgs, bandLog, f"b$batchId%06d"))) {
              band.appended(batchId) = spark.read
                .parquet(f"${gen(bandLog)}/seg=b$batchId%06d").count()
            }
            if (band.appended.contains(batchId) &&
                band.appends.incrementAndGet() == 3) {
              band.liveAtFold.set(liveKeys(gen(bandLog), "doc_id"))
              timed(band.foldNanos)(CdcBinlog.compactCdcBandLog(spark, bandLog))
              band.foldRows.set(spark.read
                .parquet(s"${gen(bandLog)}/seg=base").count())
            }
          }
          val v = CdcBinlog.cdcm5BatchImages(batch, batchId).persist()
          try {
            if (!v.isEmpty) {
              if (timed(ann.appendNanos)(Similarity.appendCdcAnnSegment(
                    v, annIdx, f"b$batchId%06d"))) {
                ann.appended(batchId) = spark.read
                  .parquet(f"${gen(annIdx)}/doclog/seg=b$batchId%06d").count()
              }
              if (ann.appended.contains(batchId) &&
                  ann.appends.incrementAndGet() == 3) {
                ann.liveAtFold.set(liveKeys(s"${gen(annIdx)}/doclog", "vec_id"))
                timed(ann.foldNanos)(Similarity.compactCdcAnnIndex(spark, annIdx))
                ann.foldRows.set(spark.read
                  .parquet(s"${gen(annIdx)}/doclog/seg=base").count())
              }
            }
          } finally v.unpersist()
        } finally imgs.unpersist()
        ()
      }
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val admitted = q.recentProgress.filter(_.numInputRows > 0)
      .map(p => p.batchId -> p.numInputRows).toMap

    val c = Curve(admitted, totalBytes, text, ann, band)
    rmTree(work)
    c
  }

  test("10x scale step: per-admitted-row append work flat, fold output == live keys, seconds recorded") {
    val small = run("/root/testdata/sf0.01")
    val big = run("/root/testdata/sf0.1")

    def ratio(c: Curve, leg: Curve => Leg): Double = {
      val appended = leg(c).appended.values.sum.toDouble
      val admitted = c.admittedRows.values.sum.toDouble
      assert(admitted > 0 && appended > 0)
      appended / admitted
    }
    for ((name, leg) <- Seq[(String, Curve => Leg)](
        "text" -> (_.text), "ann" -> (_.ann), "band" -> (_.band))) {
      // every structure saw its fold under ingest at BOTH scales
      assert(leg(small).foldRows.get >= 0 && leg(big).foldRows.get >= 0,
        s"$name: a fold never ran — thin batching, raise the cap divisor")
      // fold's unit is the live corpus, exactly (exponent pinned at 1)
      assert(leg(small).foldRows.get === leg(small).liveAtFold.get &&
        leg(big).foldRows.get === leg(big).liveAtFold.get,
        s"$name: fold output != live keys at fold time " +
          s"(${leg(big).foldRows.get} vs ${leg(big).liveAtFold.get})")
      // per-batch appended rows bounded by the batch's admitted rows
      // (the doc-log unit: <= 1 row per touched key) — at the BIG SF,
      // where an O(index) appender hurts most
      leg(big).appended.foreach { case (b, rows) =>
        val in = big.admittedRows.getOrElse(b,
          fail(s"$name: segment b$b has no progress entry"))
        assert(rows <= in,
          s"$name: segment b$b appended $rows rows from $in admitted")
      }
      // the curve itself: appended rows per admitted change row must
      // not grow with the corpus — 10x the data, same per-row work
      val (rs, rb) = (ratio(small, leg), ratio(big, leg))
      info(f"$name%s: rows/admitted-row ${rs}%.4f (sf0.01) vs ${rb}%.4f (sf0.1)")
      assert(rb <= rs * 1.4,
        f"$name: per-admitted-row append work grew ${rs}%.4f -> ${rb}%.4f " +
          "across the 10x step — superlinear term in the appender")
      // the seconds, for BENCH_NOTES (reported, never asserted)
      def mb(c: Curve) = c.admittedBytes / 1e6
      info(f"$name%s seconds: append ${leg(small).appendNanos.get / 1e9}%.2f s" +
        f" /${mb(small)}%.1f MB (sf0.01) vs ${leg(big).appendNanos.get / 1e9}%.2f s" +
        f" /${mb(big)}%.1f MB (sf0.1); fold ${leg(small).foldNanos.get / 1e9}%.2f s" +
        f" vs ${leg(big).foldNanos.get / 1e9}%.2f s")
    }
  }
}
