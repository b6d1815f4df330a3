package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** The batched ingest-screening probes' contract: screening a
  * micro-batch of docs against the live fp/band state in ONE joined
  * pass ([[CdcBinlog.cdcFpProbeBatch]] / [[CdcBinlog.cdcNearDupProbeBatch]])
  * returns row-for-row what the per-doc probes return in a loop — for
  * every member kind (live-dup, unique, history-only, tombstoned,
  * unknown, band-less) and on BOTH join paths (hinted broadcast under
  * the cap, shuffle fallback over it) — while every aggregate in the
  * plan stays candidate- or target-bounded (sits above a restriction
  * join), so nothing re-acquires the corpus-proportional argmax the
  * two-phase shape exists to avoid.
  */
class CdcBatchScreenSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  override def beforeAll(): Unit = graft.functions.GraftFunctions.register(spark)

  // ---- fp log fixture (CdcFpLogCompactSpec's seed): live state
  // 1->"a", 2->"z", 3->"b", 5->"b"; doc 4 tombstoned; doc 2 carries
  // fp "a" in HISTORY only
  private def writeFpSeg(log: String, seg: String,
                         rows: Seq[(Long, Long, Boolean, String)]): Unit = {
    import spark.implicits._
    CdcBinlog.appendCdcFpSegment(rows.toDF("doc_id", "ver", "deleted", "fp")
      .coalesce(1), log, seg)
  }

  private def seedFpLog(log: String): Unit = {
    writeFpSeg(log, "b000000", Seq(
      (1L, 0L, false, "a"), (2L, 0L, false, "a"), (3L, 0L, false, "c"),
      (4L, 0L, false, "b"), (5L, 0L, false, "b")))
    writeFpSeg(log, "b000001", Seq(
      (2L, 1L, false, "z"), (3L, 1L, false, "b")))
    writeFpSeg(log, "b000002", Seq((4L, 2L, true, "b")))
  }

  private def idsDf(ids: Seq[Long]): DataFrame = {
    import spark.implicits._
    ids.toDF("doc_id")
  }

  test("fp batch == per-doc probes row-for-row across every member kind") {
    import spark.implicits._
    val work = java.nio.file.Files.createTempDirectory("graft-fpbatch").toString
    val log = s"$work/fplog"
    seedFpLog(log)
    // the batch mixes: dup (3, 5), unique (1), history-only fp (2),
    // tombstoned (4), unknown (99)
    val probeIds = Seq(1L, 2L, 3L, 4L, 5L, 99L)
    val batch = CdcBinlog.cdcFpProbeBatch(spark, log, idsDf(probeIds))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSeq
    probeIds.foreach { d =>
      val single = CdcBinlog.cdcFpProbe(spark, log, d)
        .collect().map(r => (d, r.getLong(0), r.getString(1))).toSeq
      assert(batch.filter(_._1 == d) === single,
        s"fp batch diverged from the per-doc probe at doc $d")
    }
    // the batch really screened something (3 <-> 5 via fp "b")
    assert(batch === Seq((3L, 5L, "b"), (5L, 3L, "b")))
    // an ABSENT log answers empty; a torn in-flight segment is invisible
    assert(CdcBinlog.cdcFpProbeBatch(spark, s"$work/nolog",
      idsDf(probeIds)).isEmpty)
    writeFpSeg(log, "b000003", Seq((3L, 3L, false, "q")))
    ManifestFixtures.uncommit(spark, log)
    assert(CdcBinlog.cdcFpProbeBatch(spark, log, idsDf(probeIds))
      .collect().map(_.toString).toSeq === batch.map(t =>
        s"[${t._1},${t._2},${t._3}]"),
      "a torn in-flight segment leaked into the batch screen")
  }

  test("fp batch: over-cap flood takes a shuffle join with identical rows; negative cap is a named error") {
    val work = java.nio.file.Files.createTempDirectory("graft-fpbbc").toString
    val log = s"$work/fplog"
    writeFpSeg(log, "b000000",
      (1L to 200L).map(i => (i, 0L, false, "boilerplate")))
    def initial(df: DataFrame) =
      (df.queryExecution.executedPlan match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          a.initialPlan
        case x => x
      }).toString
    val threshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val probe = idsDf(Seq(1L, 7L, 999L))
      val hinted = CdcBinlog.cdcFpProbeBatch(spark, log, probe)
      val fallback = CdcBinlog.cdcFpProbeBatch(spark, log, probe,
        maxBroadcastCandidates = 0L)
      assert(initial(hinted).contains("BroadcastHashJoin"),
        "the under-cap path lost its broadcast hints: " +
          initial(hinted).take(1200))
      val fb = initial(fallback)
      assert(!fb.contains("BroadcastHashJoin") &&
        (fb.contains("SortMergeJoin") || fb.contains("ShuffledHashJoin")),
        "the over-cap path still plans a broadcast: " + fb.take(1200))
      val a = hinted.collect().map(_.toString).toSeq
      val b = fallback.collect().map(_.toString).toSeq
      // 2 live probed docs x 199 partners each
      assert(a === b && a.size === 398,
        s"path choice changed the batch screen's rows (${a.size} vs ${b.size})")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", threshold)
    val err = intercept[IllegalArgumentException] {
      CdcBinlog.cdcFpProbeBatch(spark, log, idsDf(Seq(1L)),
        maxBroadcastCandidates = -1L)
    }
    assert(err.getMessage.contains("maxBroadcastCandidates"),
      s"the negative-cap error must name the knob: ${err.getMessage}")
  }

  // ---- band log fixture (CdcBandLogSpec's families) -------------------
  private val A = "red orange yellow green blue indigo violet"
  private val B = "north south east west upward downward inward"

  private def bandRows(rows: Seq[(Long, String, Long, Boolean)]): DataFrame = {
    import spark.implicits._
    CdcBinlog.cdcm15BandImages(rows.toDF("doc_id", "text", "ver", "deleted"))
  }

  private def seedBandLog(log: String): Unit = {
    // live state: A family {1, 5}, B family {3, 4}; doc 2 tombstoned;
    // doc 4 carries A-family bands in HISTORY only
    assert(CdcBinlog.appendCdcFpSegment(bandRows(Seq(
      (1L, s"$A one", 0L, false), (2L, s"$A two", 0L, false),
      (3L, s"$B one", 0L, false), (4L, s"$A five", 0L, false))),
      log, "b000000"))
    assert(CdcBinlog.appendCdcFpSegment(bandRows(Seq(
      (4L, s"$B five", 1L, false), (2L, null: String, 1L, true),
      (5L, s"$A six", 1L, false))), log, "b000001"))
  }

  test("band batch == per-doc probes row-for-row; band-less live rows screen empty, not crash") {
    import spark.implicits._
    val work = java.nio.file.Files.createTempDirectory("graft-bandbatch").toString
    val log = s"$work/bandlog"
    seedBandLog(log)
    // a live row with an EMPTY bands array (the append protocol is
    // column-agnostic, so a degenerate payload is representable even
    // though cdcm15BandImages never emits one)
    CdcBinlog.appendCdcFpSegment(Seq((7L, 0L, false,
        Seq.empty[Array[Byte]],
        Seq.empty[(Int, String)]))
      .toDF("doc_id", "ver", "deleted", "sh", "b0")
      .select($"doc_id", $"ver", $"deleted", $"sh",
        org.apache.spark.sql.functions.expr(
          "transform(b0, x -> named_struct('band_id', x._1, 'h', x._2))")
          .as("bands"))
      .coalesce(1), log, "b000002")
    val probeIds = Seq(1L, 2L, 3L, 4L, 5L, 7L, 99L)
    val batch = CdcBinlog.cdcNearDupProbeBatch(spark, log, idsDf(probeIds))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toSeq
    probeIds.foreach { d =>
      val single = CdcBinlog.cdcNearDupProbe(spark, log, d)
        .collect()
        .map(r => (d, r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
      assert(batch.filter(_._1 == d) === single,
        s"band batch diverged from the per-doc probe at doc $d")
    }
    // the single-doc probe itself must answer empty (not crash) for
    // the band-less live row — the guard the batch shape gets for free
    assert(CdcBinlog.cdcNearDupProbe(spark, log, 7L).isEmpty,
      "a band-less live target must probe empty, not crash the reduce")
    // both families actually screened: 1<->5 (A) and 3<->4 (B)
    assert(batch.map(t => (t._1, t._2, t._3)) ===
      Seq((1L, 1L, 5L), (3L, 3L, 4L), (4L, 3L, 4L), (5L, 1L, 5L)))
    // history leg: doc 4's superseded A bands must not pair it with 1
    assert(!batch.exists(t => t._1 == 1L && (t._2 == 4L || t._3 == 4L)),
      "a superseded-away band bucket re-admitted a moved doc")
    // absent log answers empty
    assert(CdcBinlog.cdcNearDupProbeBatch(spark, s"$work/nobandlog",
      idsDf(probeIds)).isEmpty)
  }

  test("band batch: over-cap flood takes a shuffle join with identical rows; aggregates stay candidate-bounded") {
    val work = java.nio.file.Files.createTempDirectory("graft-bandbbc").toString
    val log = s"$work/bandlog"
    assert(CdcBinlog.appendCdcFpSegment(
      bandRows((1L to 150L).map(i => (i, s"$A boiler", 0L, false))),
      log, "b000000"))
    def initial(df: DataFrame) =
      (df.queryExecution.executedPlan match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          a.initialPlan
        case x => x
      }).toString
    val threshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val probe = idsDf(Seq(1L, 2L))
      val hinted = CdcBinlog.cdcNearDupProbeBatch(spark, log, probe)
      val fallback = CdcBinlog.cdcNearDupProbeBatch(spark, log, probe,
        maxBroadcastCandidates = 0L)
      assert(initial(hinted).contains("BroadcastHashJoin"),
        "the under-cap path lost its broadcast hints: " +
          initial(hinted).take(1200))
      val fb = initial(fallback)
      assert(fb.contains("SortMergeJoin") || fb.contains("ShuffledHashJoin"),
        "the over-cap path still plans broadcast-only joins: " + fb.take(1200))
      val a = hinted.collect().map(_.toString).toSeq
      val b = fallback.collect().map(_.toString).toSeq
      // 2 probed docs x 149 partners each
      assert(a === b && a.size === 298,
        s"path choice changed the batch screen's rows (${a.size} vs ${b.size})")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", threshold)

    // plan pin (both batch probes): every aggregate that READS THE LOG
    // sits above a JOIN — the target restriction, the candidate
    // restriction, or the pair distinct — never over the raw
    // corpus-wide log scan alone (aggregates over the caller's batch
    // frame, like the target-id distinct, are batch-bounded and exempt)
    val fpLog = s"$work/fplog"
    seedFpLog(fpLog)
    Seq(
      CdcBinlog.cdcFpProbeBatch(spark, fpLog, idsDf(Seq(1L))),
      CdcBinlog.cdcNearDupProbeBatch(spark, log, idsDf(Seq(1L)))
    ).foreach { probed =>
      val aggs = probed.queryExecution.optimizedPlan.collect {
        case a: org.apache.spark.sql.catalyst.plans.logical.Aggregate => a }
      assert(aggs.nonEmpty)
      aggs.foreach { agg =>
        val scansLog = agg.collectFirst {
          case r: org.apache.spark.sql.execution.datasources.LogicalRelation => r
        }.isDefined
        val hasJoin = agg.collectFirst {
          case j: org.apache.spark.sql.catalyst.plans.logical.Join => j
        }.isDefined
        assert(!scansLog || hasJoin,
          s"a log-scanning aggregate escaped the restriction joins " +
            s"(corpus argmax):\n$agg")
      }
    }
  }
}
