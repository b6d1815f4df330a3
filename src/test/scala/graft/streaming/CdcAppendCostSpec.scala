package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** EMPIRICAL O(batch) append-cost proof for the CDC-maintained index
  * family (cdcm4 text, cdcm5 ANN, cdcm6 dedup): the same corpus
  * ingested as ~5 batches (cap/4) vs ~9 batches (cap/8) must do the
  * same TOTAL append work, and each batch's appended rows must be
  * bounded by that batch's admitted input — never by the index built
  * so far. An O(index-so-far) implementation (re-reading or rewriting
  * accumulated state per batch) would show total appended rows growing
  * with batch count — sum over batches of O(index(b)) is ~(B+1)/2 x
  * corpus, i.e. the 9-batch run would append ~1.7x the 5-batch run's
  * rows — and per-segment rows exceeding per-batch input. Both are
  * measured from the segments and the stream's own progress counters,
  * not asserted from the code's shape. Content equality across the two
  * batchings (the probes match row-for-row) pins that the cost
  * difference is zero because the WORK is batching-invariant.
  */
class CdcAppendCostSpec extends AnyFunSuite with BeforeAndAfterAll {

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

  private lazy val totalBytes = {
    val fix = graft.operators.CdcBinlog.fixtureDir(dir)
    new java.io.File(fix).listFiles()
      .filter(f => f.isFile && f.getName.startsWith("binlog.0"))
      .map(_.length).sum
  }

  /** Drain the fixture through `body` at admission cap totalBytes/div;
    * returns per-batch admitted input rows keyed by batch id.
    */
  private def drain(work: java.nio.file.Path, div: Int,
                    body: (DataFrame, Long) => Unit): Map[Long, Long] = {
    import graft.operators.CdcBinlog
    val q = spark.readStream.format("mysql-binlog")
      .option("payloadDdl", CdcBinlog.payloadDdl)
      .option("maxBytesPerTrigger", math.max(totalBytes / div, 1L).toString)
      .load(CdcBinlog.fixtureDir(dir))
      .writeStream
      .option("checkpointLocation", work.resolve("ckpt").toString)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        body(batch, batchId); ()
      }
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    q.recentProgress.filter(_.numInputRows > 0)
      .map(p => p.batchId -> p.numInputRows).toMap
  }

  /** Per-segment appended (rows, bytes) for leg `leg` of the structure
    * at `root`, laid out as `<generation>/<leg>/seg=bNNNNNN`, keyed by
    * batch id.
    */
  private def segStats(root: java.nio.file.Path, leg: String = ""): Map[Long, (Long, Long)] =
    new java.io.File(s"${graft.operators.ManifestFixtures.generation(spark, root.toString)}/$leg")
      .listFiles()
      .filter(_.getName.startsWith("seg=b")).map { seg =>
        val rows = spark.read.parquet(seg.getPath).count()
        val bytes = java.nio.file.Files.walk(seg.toPath).filter(
            java.nio.file.Files.isRegularFile(_))
          .mapToLong(java.nio.file.Files.size(_)).sum()
        seg.getName.stripPrefix("seg=b").toLong -> (rows, bytes)
      }.toMap

  /** The shared assertion battery over one leg's two runs. `inputFactor`
    * bounds per-segment rows against the batch's admitted CHANGE rows
    * (text postings emit up to 2 term rows per doc; every other leg is
    * at most one row per touched key, itself <= admitted rows).
    */
  private def assertBatchBounded(leg: String,
      segs: Map[Long, (Long, Long)], inputRows: Map[Long, Long],
      inputFactor: Double): Unit =
    segs.foreach { case (b, (rows, _)) =>
      val in = inputRows.getOrElse(b,
        fail(s"$leg: segment b$b has no matching progress entry"))
      assert(rows <= (in * inputFactor).toLong,
        s"$leg: segment b$b appended $rows rows from a batch that " +
          s"admitted only $in change rows — append work exceeds the batch")
    }

  private def assertTotalFlat(leg: String,
      run4: Map[Long, (Long, Long)], run8: Map[Long, (Long, Long)]): Unit = {
    val (r4, b4) = (run4.values.map(_._1).sum, run4.values.map(_._2).sum)
    val (r8, b8) = (run8.values.map(_._1).sum, run8.values.map(_._2).sum)
    info(s"$leg: ${run4.size} segs = $r4 rows/$b4 B vs ${run8.size} segs = $r8 rows/$b8 B")
    assert(run8.size > run4.size, s"$leg: the two runs did not batch differently")
    // O(batch): total appended rows are batching-invariant up to the
    // keys that happen to be touched in two batches instead of one;
    // O(index-so-far) would put this ratio at ~(B8+1)/(B4+1) ~ 1.7
    assert(r8 <= (r4 * 1.4).toLong,
      s"$leg: doubling the batch count grew total appended rows $r4 -> $r8 " +
        "— append cost is scaling with accumulated index state, not batch size")
  }

  test("cdcm4 text index: append work is O(batch) — measured, 5 vs 9 batches") {
    import graft.operators.{CdcBinlog, TextAnalysis}

    def run(div: Int): (java.nio.file.Path, Map[Long, Long]) = {
      val work = java.nio.file.Files.createTempDirectory(s"graft-cost4-$div")
      val idx = work.resolve("index").toString
      val inputs = drain(work, div, { (batch, batchId) =>
        val imgs = CdcBinlog.cdcm4BatchImages(batch, batchId).persist()
        try {
          if (!imgs.isEmpty)
            TextAnalysis.appendCdcTextSegment(imgs, idx, f"b$batchId%06d",
              nBuckets = 16)
        } finally imgs.unpersist()
      })
      (work, inputs)
    }
    val (w4, in4) = run(4)
    val (w8, in8) = run(8)
    for (legName <- Seq("doclog", "postings")) {
      val s4 = segStats(w4.resolve("index"), legName)
      val s8 = segStats(w8.resolve("index"), legName)
      // postings: <= 2 distinct terms per touched doc; doclog: <= 1 row
      // per touched key — both bounded by the batch's admitted rows
      val f = if (legName == "postings") 2.0 else 1.0
      assertBatchBounded(s"text/$legName", s4, in4, f)
      assertBatchBounded(s"text/$legName", s8, in8, f)
      assertTotalFlat(s"text/$legName", s4, s8)
    }
    // content is batching-invariant: the probes match row-for-row
    def probe(w: java.nio.file.Path) = TextAnalysis
      .bm25TopKViaCdcIndex(spark, w.resolve("index").toString,
        CdcBinlog.cdcm4Terms, 100, nBuckets = 16)
      .orderBy("r_sparse").collect().map(_.toString).toSeq
    assert(probe(w8) === probe(w4))
    rmTree(w4); rmTree(w8)
  }

  test("cdcm5 ANN index: append work is O(batch) — measured, 5 vs 9 batches") {
    import graft.operators.{CdcBinlog, Similarity}

    def run(div: Int): (java.nio.file.Path, Map[Long, Long]) = {
      val work = java.nio.file.Files.createTempDirectory(s"graft-cost5-$div")
      val idx = work.resolve("annindex").toString
      val inputs = drain(work, div, { (batch, batchId) =>
        val imgs = CdcBinlog.cdcm5BatchImages(batch, batchId).persist()
        try {
          if (!imgs.isEmpty)
            Similarity.appendCdcAnnSegment(imgs, idx, f"b$batchId%06d")
        } finally imgs.unpersist()
      })
      (work, inputs)
    }
    val (w4, in4) = run(4)
    val (w8, in8) = run(8)
    for (legName <- Seq("doclog", "cells")) {
      val s4 = segStats(w4.resolve("annindex"), legName)
      val s8 = segStats(w8.resolve("annindex"), legName)
      assertBatchBounded(s"ann/$legName", s4, in4, 1.0)
      assertBatchBounded(s"ann/$legName", s8, in8, 1.0)
      assertTotalFlat(s"ann/$legName", s4, s8)
    }
    def probe(w: java.nio.file.Path): Seq[String] = {
      import spark.implicits._
      import org.apache.spark.sql.functions.{max, struct}
      val idx = w.resolve("annindex").toString
      val live = spark.read.parquet(s"${graft.operators.ManifestFixtures.generation(spark, idx)}/doclog")
        .groupBy($"vec_id").agg(max(struct($"ver", $"deleted")).as("m"))
        .select($"vec_id", $"m.ver".as("ver"), $"m.deleted".as("deleted"))
        .filter(!$"deleted")
      val probeVec = spark.read.parquet(s"${graft.operators.ManifestFixtures.generation(spark, idx)}/cells")
        .join(live.select($"vec_id", $"ver"), Seq("vec_id", "ver"))
        .orderBy($"vec_id").select($"embedding").head().getSeq[Long](0)
      Similarity.mipsTopKViaCdcAnnIndex(spark, idx, probeVec, 100)
        .orderBy("r_dense").collect().map(_.toString).toSeq
    }
    assert(probe(w8) === probe(w4))
    rmTree(w4); rmTree(w8)
  }

  test("cdcm6 fp log: append work is O(batch) — measured, 5 vs 9 batches") {
    import graft.operators.{CdcBinlog, TextAnalysis}
    import org.apache.spark.sql.functions.md5
    import spark.implicits._

    def run(div: Int): (java.nio.file.Path, Map[Long, Long]) = {
      val work = java.nio.file.Files.createTempDirectory(s"graft-cost6-$div")
      val log = work.resolve("fplog").toString
      val inputs = drain(work, div, { (batch, batchId) =>
        val imgs = CdcBinlog.cdcm4BatchImages(batch, batchId)
          .withColumn("fp", md5(TextAnalysis.normalize($"word")))
          .select($"doc_id", $"ver", $"deleted", $"fp")
          .coalesce(4).persist()
        try {
          if (!imgs.isEmpty)
            CdcBinlog.appendCdcFpSegment(imgs, log, f"b$batchId%06d")
        } finally imgs.unpersist()
      })
      (work, inputs)
    }
    val (w4, in4) = run(4)
    val (w8, in8) = run(8)
    val s4 = segStats(w4.resolve("fplog"))
    val s8 = segStats(w8.resolve("fplog"))
    assertBatchBounded("fplog", s4, in4, 1.0)
    assertBatchBounded("fplog", s8, in8, 1.0)
    assertTotalFlat("fplog", s4, s8)
    def groups(w: java.nio.file.Path) =
      CdcBinlog.cdcFpGroups(spark, w.resolve("fplog").toString)
        .collect().map(_.toString).toSeq
    assert(groups(w8) === groups(w4))
    rmTree(w4); rmTree(w8)
  }
}
