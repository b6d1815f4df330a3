package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** The CDC text index's merge-on-read contract, in miniature (the full
  * pipeline is gate cdcm4): updates supersede their stale postings,
  * deletes tombstone the doc out of results AND out of df/n/sumdl, the
  * probe equals a full rebuild over the latest images, and replaying a
  * segment (the streaming retry path) changes nothing.
  */
class CdcTextIndexSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private def images(rows: Seq[(Long, String, Long, Boolean)]): DataFrame = {
    import spark.implicits._
    rows.toDF("doc_id", "text", "ver", "deleted")
  }

  private val terms = Seq("alpha", "delta", "gamma", "shared")

  private def probeRows(df: DataFrame): Seq[(Long, Double, Long)] =
    df.collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2))).toSeq

  test("updates supersede, deletes tombstone, probe equals full rebuild, replay is idempotent") {
    val work = java.nio.file.Files.createTempDirectory("graft-cdcidx")
    val idx = work.resolve("cdc").toString
    val rebuilt = work.resolve("rebuilt").toString

    // batch 0: three docs; batch 1: A re-written (alpha -> delta),
    // B deleted, D born
    val b0 = Seq(
      (1L, "alpha shared alpha", 0L, false),
      (2L, "beta shared", 0L, false),
      (3L, "gamma shared gamma gamma", 0L, false))
    val b1 = Seq(
      (1L, "delta shared", 1L, false),
      (2L, null: String, 1L, true),
      (4L, "delta delta shared", 1L, false))
    TextAnalysis.appendCdcTextSegment(images(b0), idx, "b000000")
    TextAnalysis.appendCdcTextSegment(images(b1), idx, "b000001")

    val got = probeRows(
      TextAnalysis.bm25TopKViaCdcIndex(spark, idx, terms, 10).orderBy("r_sparse"))

    // staleness: doc 1 must NOT be reachable via its old term
    val alphaHits = probeRows(
      TextAnalysis.bm25TopKViaCdcIndex(spark, idx, Seq("alpha"), 10))
    assert(alphaHits.isEmpty, "doc 1's stale alpha postings survived the update")
    // tombstone: doc 2 gone entirely
    assert(!got.exists(_._1 == 2L), "deleted doc 2 still probeable")
    // live docs present
    assert(got.map(_._1).toSet === Set(1L, 3L, 4L))

    // equivalence: full rebuild over the LATEST images scores identically
    // (df/n/sumdl must count live docs only for this to hold)
    import spark.implicits._
    val latest = Seq((1L, "delta shared"), (3L, "gamma shared gamma gamma"),
      (4L, "delta delta shared")).toDF("doc_id", "text")
    TextAnalysis.buildTextIndex(latest, rebuilt)
    val want = probeRows(
      TextAnalysis.bm25TopKViaIndex(spark, rebuilt, terms, 10).orderBy("r_sparse"))
    assert(got === want, "CDC merge-on-read probe != full rebuild over latest images")

    // replay: re-appending batch 1's segment (streaming retry) is a no-op
    TextAnalysis.appendCdcTextSegment(images(b1), idx, "b000001")
    val replayed = probeRows(
      TextAnalysis.bm25TopKViaCdcIndex(spark, idx, terms, 10).orderBy("r_sparse"))
    assert(replayed === got, "segment replay changed the probe")

    // compaction: probe-invariant, folds to a single live-only base
    TextAnalysis.compactCdcTextIndex(spark, idx)
    val compacted = probeRows(
      TextAnalysis.bm25TopKViaCdcIndex(spark, idx, terms, 10).orderBy("r_sparse"))
    assert(compacted === got, "compaction changed the probe")
    val segDirs = new java.io.File(s"$idx/doclog").listFiles()
      .filter(_.getName.startsWith("seg=")).map(_.getName).toSeq
    assert(segDirs === Seq("seg=base"),
      s"compaction left segments: $segDirs")
    // superseded + deleted versions physically gone
    val remaining = spark.read.parquet(s"$idx/doclog")
    assert(remaining.count() === 3L) // live docs 1, 3, 4 only
    assert(remaining.filter(org.apache.spark.sql.functions.col("deleted")).count() === 0L)

    val tw = java.nio.file.Files.walk(work)
    try tw.sorted(java.util.Comparator.reverseOrder())
      .forEach(p => java.nio.file.Files.deleteIfExists(p))
    finally tw.close()
  }

  test("re-bucketing: bit-identical probe under the NEW count, replay fenced, drifted callers fail by name, ingest continues") {
    val work = java.nio.file.Files.createTempDirectory("graft-cdcidx-rb")
    val idx = work.resolve("cdc").toString
    val b0 = Seq(
      (1L, "alpha shared alpha", 0L, false),
      (2L, "beta shared", 0L, false),
      (3L, "gamma shared gamma gamma", 0L, false))
    val b1 = Seq(
      (1L, "delta shared", 1L, false),
      (2L, null: String, 1L, true),
      (4L, "delta delta shared", 1L, false))
    TextAnalysis.appendCdcTextSegment(images(b0), idx, "b000000", nBuckets = 4)
    TextAnalysis.appendCdcTextSegment(images(b1), idx, "b000001", nBuckets = 4)
    assert(TextAnalysis.textIndexBucketCount(spark, idx) === Some(4),
      "the first append must record the bucket count")
    def probe(nb: Int) = probeRows(
      TextAnalysis.bm25TopKViaCdcIndex(spark, idx, terms, 10, nBuckets = nb)
        .orderBy("r_sparse"))
    val got = probe(4)
    assert(got.nonEmpty)

    TextAnalysis.rebucketCdcTextIndex(spark, idx, newBuckets = 16)

    // physical contract: marker updated, folded to a live-only base
    // (a re-bucket subsumes a compact), fence at the last consumed batch
    assert(TextAnalysis.textIndexBucketCount(spark, idx) === Some(16))
    for (leg <- Seq("doclog", "postings")) {
      val segs = new java.io.File(s"$idx/$leg").listFiles()
        .filter(_.getName.startsWith("seg=")).map(_.getName).toSeq
      assert(segs === Seq("seg=base"), s"$leg not folded: $segs")
    }
    val root = new org.apache.hadoop.fs.Path(idx)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(Layout.foldedThrough(fs, root) === Some(1L))
    val tbs = new java.io.File(s"$idx/postings/seg=base").listFiles()
      .map(_.getName).filter(_.startsWith("tb="))
      .map(_.stripPrefix("tb=").toInt).toSeq
    assert(tbs.exists(_ >= 4),
      s"re-bucketing left every posting in the old bucket range: $tbs")

    // bit-identical under the new pruning; stale-count callers fail by name
    assert(probe(16) === got, "re-bucketing changed the probe")
    val e = intercept[IllegalArgumentException] { probe(4) }
    assert(e.getMessage.contains("records 16"), e.getMessage)
    val e2 = intercept[IllegalArgumentException] {
      TextAnalysis.appendCdcTextSegment(images(Seq(
        (5L, "omega shared", 2L, false))), idx, "b000002", nBuckets = 4)
    }
    assert(e2.getMessage.contains("records 16"), e2.getMessage)

    // a replayed pre-rebucket batch is fenced out (its live rows are in
    // the rebuilt base)
    assert(!TextAnalysis.appendCdcTextSegment(images(b1), idx, "b000001",
      nBuckets = 16), "a replay at the fence was not skipped")
    assert(probe(16) === got, "a fenced replay changed the probe")

    // ingest continues at the new count and still equals a full rebuild
    // over the latest images
    import spark.implicits._
    TextAnalysis.appendCdcTextSegment(images(Seq(
      (1L, "gamma shared", 2L, false),
      (5L, "delta shared delta", 2L, false))), idx, "b000002", nBuckets = 16)
    val latest = Seq((1L, "gamma shared"), (3L, "gamma shared gamma gamma"),
      (4L, "delta delta shared"), (5L, "delta shared delta"))
      .toDF("doc_id", "text")
    val rebuilt = work.resolve("rebuilt").toString
    TextAnalysis.buildTextIndex(latest, rebuilt, nBuckets = 16)
    val want = probeRows(
      TextAnalysis.bm25TopKViaIndex(spark, rebuilt, terms, 10, nBuckets = 16)
        .orderBy("r_sparse"))
    assert(probe(16) === want,
      "post-rebucket ingest diverged from a full rebuild over latest images")

    // the re-bucket TRIGGER measurement: per-bucket live posting
    // occupancy at the RECORDED count — one row per bucket (empties at
    // 0), totals matching the live postings
    val stats = TextAnalysis.cdcTextIndexStats(spark, idx)
      .collect().map(r => (r.getInt(0), r.getLong(1))).toSeq
    assert(stats.size === 16, s"stats must cover all recorded buckets: $stats")
    val livePostings = {
      import org.apache.spark.sql.functions.{col, max => smax, struct => sstruct}
      val doclog = spark.read.parquet(s"$idx/doclog")
      val live = doclog.groupBy(col("doc_id"))
        .agg(smax(sstruct(col("ver"), col("deleted"))).as("m"))
        .select(col("doc_id"), col("m.ver").as("ver"), col("m.deleted").as("deleted"))
        .filter(!col("deleted"))
      spark.read.parquet(s"$idx/postings")
        .join(live.select(col("doc_id"), col("ver")), Seq("doc_id", "ver"))
        .count()
    }
    assert(stats.map(_._2).sum === livePostings,
      "per-bucket occupancy does not sum to the live postings")
    assert(stats.exists(_._2 == 0L),
      "a 16-bucket layout over this tiny vocabulary must show empty buckets")

    val tw = java.nio.file.Files.walk(work)
    try tw.sorted(java.util.Comparator.reverseOrder())
      .forEach(p => java.nio.file.Files.deleteIfExists(p))
    finally tw.close()
  }

  /** The committed two-leg read contract (Layout.committedView):
    * an append writes doclog and postings as two non-atomic jobs, so a
    * probe or the policy's stats racing a writer (or surviving its
    * crash between the jobs) must not see a batch's doclog without its
    * postings — the segment intersect drops a HALF-COMMITTED batch
    * from both legs. An absent index throws the FileNotFoundException
    * retryOnceOnMissing retries (the publish-swap window), never an
    * empty answer.
    */
  test("probe and stats read committed doclog+postings pairs only; absent index throws FNF") {
    val work = java.nio.file.Files.createTempDirectory("graft-cdcidx-torn")
    val idx = work.resolve("cdc").toString
    intercept[java.io.FileNotFoundException] {
      TextAnalysis.bm25TopKViaCdcIndex(spark, idx, terms, 10)
    }
    TextAnalysis.appendCdcTextSegment(images(Seq(
      (1L, "alpha shared alpha", 0L, false),
      (3L, "gamma shared gamma gamma", 0L, false))), idx, "b000000")
    val before = probeRows(
      TextAnalysis.bm25TopKViaCdcIndex(spark, idx, terms, 10).orderBy("r_sparse"))
    val statsBefore = TextAnalysis.cdcTextIndexStats(spark, idx)
      .collect().map(_.toString).toSeq
    // half-committed batch: doclog leg committed, postings leg torn
    // (a crash between the two append jobs — doc 1's update to delta
    // must stay invisible to probe AND stats)
    TextAnalysis.appendCdcTextSegment(images(Seq(
      (1L, "delta shared", 1L, false))), idx, "b000001")
    assert(new java.io.File(s"$idx/postings/seg=b000001/_SUCCESS").delete())
    assert(probeRows(TextAnalysis.bm25TopKViaCdcIndex(spark, idx, terms, 10)
        .orderBy("r_sparse")) === before,
      "a half-committed append leaked into the probe")
    assert(TextAnalysis.cdcTextIndexStats(spark, idx)
        .collect().map(_.toString).toSeq === statsBefore,
      "a half-committed append leaked into the policy's stats")
    // the replayed batch (streaming retry after the crash) completes
    // the pair and becomes visible atomically
    TextAnalysis.appendCdcTextSegment(images(Seq(
      (1L, "delta shared", 1L, false))), idx, "b000001")
    val after = probeRows(
      TextAnalysis.bm25TopKViaCdcIndex(spark, idx, terms, 10).orderBy("r_sparse"))
    assert(after !== before, "the completed replay changed nothing")
    assert(!probeRows(TextAnalysis
        .bm25TopKViaCdcIndex(spark, idx, Seq("alpha"), 10)).exists(_._1 == 1L),
      "the completed replay did not supersede doc 1")

    val tw = java.nio.file.Files.walk(work)
    try tw.sorted(java.util.Comparator.reverseOrder())
      .forEach(p => java.nio.file.Files.deleteIfExists(p))
    finally tw.close()
  }

  test("a delete arriving in the same batch as the insert wins (tombstone only)") {
    val work = java.nio.file.Files.createTempDirectory("graft-cdcidx2")
    val idx = work.resolve("cdc").toString
    TextAnalysis.appendCdcTextSegment(images(Seq(
      (1L, "solo term", 0L, false),
      (2L, null, 0L, true))), idx, "b000000")
    val got = probeRows(TextAnalysis.bm25TopKViaCdcIndex(spark, idx, Seq("solo", "term"), 10))
    assert(got.map(_._1) === Seq(1L))
    val tw = java.nio.file.Files.walk(work)
    try tw.sorted(java.util.Comparator.reverseOrder())
      .forEach(p => java.nio.file.Files.deleteIfExists(p))
    finally tw.close()
  }
}
