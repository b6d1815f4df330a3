package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** The CDC band log's merge-on-read contract in miniature (the full
  * pipeline is gate cdcm15): updates move a doc between near-dup
  * neighborhoods, deletes tombstone it out of every pair, the report
  * equals dd02's batch answer over the latest images, replay is a
  * no-op, and the fold is report-invariant with the replay fence at
  * the highest consumed segment.
  */
class CdcBandLogSpec extends AnyFunSuite with BeforeAndAfterAll {

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

  private def bandRows(rows: Seq[(Long, String, Long, Boolean)]): DataFrame =
    CdcBinlog.cdcm15BandImages(images(rows))

  private def pairs(log: String): Seq[(Long, Long, Double)] =
    CdcBinlog.cdcNearDupPairs(spark, log)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq

  test("supersession, tombstones, dd02 equivalence, replay, fold invariance + fence") {
    val work = java.nio.file.Files.createTempDirectory("graft-bandlog")
    val log = work.resolve("bandlog").toString

    // an 8-token doc with a 7-token shared prefix has 5 of its 6
    // distinct trigram shingles shared — the shared shingles win every
    // minhash window for THESE strings (checked against the exact md5
    // arithmetic), so same-family docs deterministically band-collide
    // (Jaccard 5/7 ≈ 0.714) and cross-family docs never do
    val A = "red orange yellow green blue indigo violet"
    val B = "north south east west upward downward inward"
    val G = "mercury venus earth mars jupiter saturn neptune"
    val b0 = Seq(
      (1L, s"$A one", 0L, false),
      (2L, s"$A two", 0L, false),
      (3L, s"$B one", 0L, false),
      (4L, s"$A five", 0L, false))
    // batch 1: doc 4 MOVES to the B neighborhood (update), doc 2 is
    // deleted, doc 5 joins A
    val b1 = Seq(
      (4L, s"$B five", 1L, false),
      (2L, null: String, 1L, true),
      (5L, s"$A six", 1L, false))
    assert(CdcBinlog.appendCdcFpSegment(bandRows(b0), log, "b000000"))
    assert(CdcBinlog.appendCdcFpSegment(bandRows(b1), log, "b000001"))

    val got = pairs(log)
    // ground truth: dd02's batch engine over the LATEST images
    import spark.implicits._
    val latest = Seq(
      (1L, s"$A one"), (3L, s"$B one"),
      (4L, s"$B five"), (5L, s"$A six"))
    val want = Dedup.dd02PairsCollapsed(latest.toDF("doc_id", "text"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(want.nonEmpty, "the fixture must produce near-dup pairs")
    assert(got === want, "band-log report != dd02 over latest images")
    // the moved doc answers in its NEW neighborhood only; the deleted
    // one answers nowhere
    assert(got.exists(p => p._1 == 3L && p._2 == 4L),
      "doc 4 did not move to the B neighborhood")
    assert(got.exists(p => p._1 == 1L && p._2 == 5L),
      "the A neighborhood lost its surviving pair")
    assert(!got.exists(p => p._1 == 2L || p._2 == 2L), "deleted doc 2 still pairs")
    assert(!got.exists(p => (p._1 == 1L && p._2 == 4L) || (p._1 == 4L && p._2 == 5L)),
      "doc 4's STALE A-family bands survived its update")

    // replay of batch 1 changes nothing
    assert(CdcBinlog.appendCdcFpSegment(bandRows(b1), log, "b000001"))
    assert(pairs(log) === got, "segment replay changed the report")

    // fold: report-invariant, lone live-only base, fence at the highest
    // consumed segment; a replayed pre-fold batch is then skipped
    CdcBinlog.compactCdcBandLog(spark, log)
    assert(pairs(log) === got, "compaction changed the report")
    val segs = ManifestFixtures.segs(spark, log)
    assert(segs === Set("seg=base"), s"fold left segments: $segs")
    assert(spark.read.parquet(ManifestFixtures.generation(spark, log))
      .count() === 4L) // live docs only
    assert(Layout.fenceOf(spark, log) === Some(1L))
    assert(!CdcBinlog.appendCdcFpSegment(bandRows(b1), log, "b000001"),
      "a replay at the fence was not skipped")
    assert(pairs(log) === got, "a fenced replay changed the report")

    // ingest continues past the fold: doc 1 leaves A for the G family
    // (alone there — no pair), doc 6 joins A beside doc 5
    val b2 = Seq((1L, s"$G one", 2L, false),
      (6L, s"$A ten", 2L, false))
    assert(CdcBinlog.appendCdcFpSegment(bandRows(b2), log, "b000002"))
    val latest2 = Seq(
      (1L, s"$G one"), (3L, s"$B one"),
      (4L, s"$B five"), (5L, s"$A six"),
      (6L, s"$A ten"))
    val want2 = Dedup.dd02PairsCollapsed(latest2.toDF("doc_id", "text"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(pairs(log) === want2,
      "post-fold ingest diverged from dd02 over latest images")

    val tw = java.nio.file.Files.walk(work)
    try tw.sorted(java.util.Comparator.reverseOrder())
      .forEach(p => java.nio.file.Files.deleteIfExists(p))
    finally tw.close()
  }

  test("single-doc probe == report restricted to the doc, Jaccard for Jaccard; tombstoned doc probes empty") {
    val work = java.nio.file.Files.createTempDirectory("graft-bandprobe")
    val log = work.resolve("bandlog").toString
    val A = "red orange yellow green blue indigo violet"
    val B = "north south east west upward downward inward"
    val b0 = Seq(
      (1L, s"$A one", 0L, false),
      (2L, s"$A two", 0L, false),
      (3L, s"$B one", 0L, false),
      (4L, s"$A five", 0L, false),
      (5L, s"$B two", 0L, false))
    // doc 2 tombstoned; doc 4 MOVES A→B (its ver-0 A-family bands are
    // HISTORY: the two-phase band cut admits it into doc 1's candidate
    // scan and the live-image re-check must reject it — cdcFpProbe's
    // superseded-away contract, ported)
    val b1 = Seq((2L, null: String, 1L, true),
      (4L, s"$B five", 1L, false))
    assert(CdcBinlog.appendCdcFpSegment(bandRows(b0), log, "b000000"))
    assert(CdcBinlog.appendCdcFpSegment(bandRows(b1), log, "b000001"))

    val report = pairs(log)
    assert(report.nonEmpty)
    val docs = report.flatMap(p => Seq(p._1, p._2)).distinct
    docs.foreach { d =>
      val probed = CdcBinlog.cdcNearDupProbe(spark, log, d)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
      val want = report.filter(p => p._1 == d || p._2 == d)
      assert(probed === want,
        s"probe($d) diverged from the report's restriction: $probed vs $want")
    }
    // the history leg specifically: doc 1 is alone in A now (2 dead,
    // 4 moved) — a stale-band admission would pair it with doc 4
    assert(!report.exists(p => p._1 == 1L || p._2 == 1L),
      "fixture drift: doc 1 should be alone in the A family")
    assert(CdcBinlog.cdcNearDupProbe(spark, log, 1L).isEmpty,
      "doc 4's superseded A-family bands re-admitted it to doc 1's probe")
    // the tombstoned doc has no neighborhood; an unknown doc neither
    assert(CdcBinlog.cdcNearDupProbe(spark, log, 2L).isEmpty)
    assert(CdcBinlog.cdcNearDupProbe(spark, log, 99L).isEmpty)
    // an ABSENT log answers empty instead of throwing
    assert(CdcBinlog.cdcNearDupProbe(spark,
      work.resolve("nolog").toString, 1L).isEmpty)

    // plan pin — the two-phase shape's point: every aggregate in the
    // probe's plan is candidate-bounded (sits above a join), so the
    // corpus-wide liveness argmax the one-phase probe paid never runs
    val probePlan = CdcBinlog.cdcNearDupProbe(spark, log, 3L)
      .queryExecution.optimizedPlan
    val aggs = probePlan.collect {
      case a: org.apache.spark.sql.catalyst.plans.logical.Aggregate => a }
    assert(aggs.nonEmpty)
    aggs.foreach { a =>
      // bounded = the aggregate's input is either the candidate
      // restriction (a join below) or the pushed band-key cut itself
      // (a filter on literal band keys); the one-phase probe's
      // corpus-wide liveness argmax had neither
      val bounded = a.collectFirst {
        case j: org.apache.spark.sql.catalyst.plans.logical.Join => j
      }.isDefined || a.collectFirst {
        case f: org.apache.spark.sql.catalyst.plans.logical.Filter
            if f.condition.toString.contains(".band_id = ") => f
      }.isDefined
      assert(bounded,
        s"an aggregate escaped the candidate cut (log-proportional argmax):\n$a")
    }

    // torn in-flight segment (committed-read contract): a would-be
    // neighborhood change no manifest version lists is invisible to the probe
    val probe3 = CdcBinlog.cdcNearDupProbe(spark, log, 3L)
      .collect().map(_.toString).toSeq
    CdcBinlog.cdcm15BandImages(images(Seq((3L, null: String, 2L, true))))
      .write.parquet(s"${ManifestFixtures.generation(spark, log)}/seg=b000002")
    assert(CdcBinlog.cdcNearDupProbe(spark, log, 3L)
      .collect().map(_.toString).toSeq === probe3,
      "a torn in-flight segment leaked into the probe")
    assert(pairs(log).map(p => s"$p") === report.map(p => s"$p"),
      "a torn in-flight segment leaked into the report")

    val tw = java.nio.file.Files.walk(work)
    try tw.sorted(java.util.Comparator.reverseOrder())
      .forEach(p => java.nio.file.Files.deleteIfExists(p))
    finally tw.close()
  }

  /** The enforced candidate-broadcast bound, band twin of the fp leg:
    * an identical-payload flood shares every band, so one bucket's
    * candidate set is flood-sized — over the cap the doc_id-keyed
    * restriction join must plan a shuffle, with identical probe rows.
    */
  test("near-dup probe's candidate join: over-cap buckets take a shuffle join with identical rows") {
    val work = java.nio.file.Files.createTempDirectory("graft-bandbc")
    val log = work.resolve("bandlog").toString
    val A = "red orange yellow green blue indigo violet"
    assert(CdcBinlog.appendCdcFpSegment(
      bandRows((1L to 150L).map(i => (i, s"$A boiler", 0L, false))),
      log, "b000000"))
    def initial(df: org.apache.spark.sql.DataFrame) =
      (df.queryExecution.executedPlan match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          a.initialPlan
        case x => x
      }).toString
    val threshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val hinted = CdcBinlog.cdcNearDupProbe(spark, log, 1L)
      val fallback = CdcBinlog.cdcNearDupProbe(spark, log, 1L,
        maxBroadcastCandidates = 0L)
      assert(initial(hinted).contains("BroadcastHashJoin"),
        "the under-cap path lost its broadcast hint: " +
          initial(hinted).take(1200))
      // the candidate-RESTRICTION join must shuffle over the cap; the
      // one-row target crossJoin stays a broadcast by construction, so
      // pin the shuffle join's presence rather than broadcast's absence
      val fb = initial(fallback)
      assert(fb.contains("SortMergeJoin") || fb.contains("ShuffledHashJoin"),
        "the over-cap path still plans broadcast-only joins: " + fb.take(1200))
      val a = hinted.collect().map(_.toString).toSeq
      val b = fallback.collect().map(_.toString).toSeq
      assert(a === b && a.size === 149,
        s"path choice changed the probe's rows (${a.size} vs ${b.size})")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", threshold)

    val tw = java.nio.file.Files.walk(work)
    try tw.sorted(java.util.Comparator.reverseOrder())
      .forEach(p => java.nio.file.Files.deleteIfExists(p))
    finally tw.close()
  }
}
