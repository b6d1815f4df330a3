package graft.operators

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** compactCdcFpLog's contract: the dedup group report is INVARIANT
  * across the fold (the argmax already ignored superseded versions and
  * tombstoned docs — compaction merely stops paying to skip them), the
  * log physically collapses to one live-only base segment, and ingest
  * composes after a compaction exactly as it would have without it.
  */
class CdcFpLogCompactSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private def writeSeg(log: String, seg: String,
                       rows: Seq[(Long, Long, Boolean, String)]): Unit = {
    import spark.implicits._
    CdcBinlog.appendCdcFpSegment(rows.toDF("doc_id", "ver", "deleted", "fp")
      .coalesce(1), log, seg)
  }

  private def groups(log: String): Seq[(String, Long, Long)] = {
    import spark.implicits._
    CdcBinlog.cdcFpGroups(spark, log)
      .as[(String, Long, Long)].collect().toSeq
  }

  private def segDirs(log: String): Set[String] = ManifestFixtures.segs(spark, log)

  // three ingest segments: b0 inserts docs 1-5 (1,2 dups of fp "a";
  // 4,5 dups of "b"), b1 updates doc 2 away from "a" (group "a" dies)
  // and doc 3 onto "b" (group "b" grows), b2 deletes doc 4
  private def seedLog(log: String): Unit = {
    writeSeg(log, "b000000", Seq(
      (1L, 0L, false, "a"), (2L, 0L, false, "a"), (3L, 0L, false, "c"),
      (4L, 0L, false, "b"), (5L, 0L, false, "b")))
    writeSeg(log, "b000001", Seq(
      (2L, 1L, false, "z"), (3L, 1L, false, "b")))
    writeSeg(log, "b000002", Seq((4L, 2L, true, "b")))
  }

  test("group report is invariant across the fold; log collapses to seg=base") {
    val work = java.nio.file.Files.createTempDirectory("graft-fpc").toString
    val log = s"$work/fplog"
    seedLog(log)
    val before = groups(log)
    // sanity on the seed itself: group "b" = {3,5} after update+delete
    assert(before === Seq(("b", 3L, 2L)))
    CdcBinlog.compactCdcFpLog(spark, log)
    assert(segDirs(log) === Set("seg=base"))
    assert(groups(log) === before)
    // the fold dropped the superseded and tombstoned rows: 4 live docs
    assert(spark.read.parquet(ManifestFixtures.generation(spark, log)).count() === 4)
  }

  test("ingest after compaction supersedes compacted rows exactly as before") {
    val work = java.nio.file.Files.createTempDirectory("graft-fpc2").toString
    val compacted = s"$work/fplog"
    val straight = s"$work/fplog_straight"
    seedLog(compacted); seedLog(straight)
    CdcBinlog.compactCdcFpLog(spark, compacted)
    // b3: doc 1 deleted (the tombstone must mask its COMPACTED row),
    // doc 6 joins "b", doc 2 moves to "c" (supersedes its folded "z")
    val b3 = Seq((1L, 3L, true, "a"), (6L, 3L, false, "b"),
      (2L, 3L, false, "c"))
    writeSeg(compacted, "b000003", b3)
    writeSeg(straight, "b000003", b3)
    assert(groups(compacted) === groups(straight))
    assert(groups(compacted).nonEmpty)
  }

  test("a drifted append fails by name; the version and the answer are unchanged") {
    import spark.implicits._
    val log = java.nio.file.Files.createTempDirectory("graft-fpdrift").resolve("fplog").toString
    seedLog(log)
    val version = ManifestFixtures.version(log)
    val before = groups(log)
    // `fp` as a number, and a column more: either would commit a segment
    // that reads back as nulls or fails every later read
    val drifted = Seq(
      Seq((6L, 3L, false, 7L)).toDF("doc_id", "ver", "deleted", "fp"),
      Seq((6L, 3L, false, "b", 1)).toDF("doc_id", "ver", "deleted", "fp", "extra"))
    drifted.foreach { rows =>
      val e = intercept[IllegalStateException](CdcBinlog.appendCdcFpSegment(rows, log, "b000003"))
      assert(e.getMessage.contains("schema drift") && e.getMessage.contains("b000003"), e.getMessage)
      assert(ManifestFixtures.version(log) === version)
      assert(groups(log) === before)
    }
    // the same append with the log's schema commits
    writeSeg(log, "b000003", Seq((6L, 3L, false, "b")))
    assert(ManifestFixtures.version(log) === version.map(_ + 1))
  }

  /** cdcFpProbe — the single-doc exact-dup screen: probe == the doc's
    * cdcFpGroups group minus itself, and the two-phase fp pruning must
    * not be fooled by HISTORY (doc 2 carried fp "a" at ver 0 but lives
    * at "z": it enters the candidate scan for "a" and must be rejected
    * by its latest image, not admitted by its old row).
    */
  test("single-doc probe == report restricted; history, deleted, unknown and unique probe empty") {
    import spark.implicits._
    val work = java.nio.file.Files.createTempDirectory("graft-fpp").toString
    val log = s"$work/fplog"
    seedLog(log)
    def probe(id: Long): Seq[Long] =
      CdcBinlog.cdcFpProbe(spark, log, id).select("dup_doc_id")
        .as[Long].collect().toSeq
    // live state: 1->"a", 2->"z", 3->"b", 5->"b" (4 deleted)
    assert(probe(3L) === Seq(5L), "doc 3's partner in group b is doc 5")
    assert(probe(5L) === Seq(3L))
    // report restriction: group "b" = {3, 5} with keeper 3
    assert(groups(log) === Seq(("b", 3L, 2L)))
    // doc 1 is UNIQUE now — doc 2's ver-0 "a" row is history, and the
    // candidate argmax must reject it by its live "z" image
    assert(probe(1L) === Seq.empty, "a superseded-away fp re-admitted a doc")
    assert(probe(4L) === Seq.empty, "a tombstoned doc has no neighborhood")
    assert(probe(99L) === Seq.empty, "an unknown doc has no neighborhood")
    // invariant across the fold, like the report
    CdcBinlog.compactCdcFpLog(spark, log)
    assert(probe(3L) === Seq(5L) && probe(1L) === Seq.empty)
  }

  /** The committed-segments read contract (cdcLogStats' view, now the
    * probe's and the report's too): an ABSENT log answers empty instead
    * of throwing, and a torn in-flight append (a `seg=` dir no manifest
    * version lists) is invisible — a reader racing a writer never sees a
    * half-written segment change an answer.
    */
  test("probe and report read committed segments only; an absent log answers empty") {
    val work = java.nio.file.Files.createTempDirectory("graft-fpt").toString
    val log = s"$work/fplog"
    // absent: no directory at all
    assert(CdcBinlog.cdcFpProbe(spark, log, 1L).isEmpty,
      "an absent log must probe empty, not throw")
    assert(groups(log) === Seq.empty)
    seedLog(log)
    val before = groups(log)
    val probeBefore = CdcBinlog.cdcFpProbe(spark, log, 3L)
      .collect().map(_.toString).toSeq
    // torn append: docs 3 and 5 both "move away" from group b — but the
    // segment never committed (its manifest version is taken back)
    writeSeg(log, "b000003", Seq((3L, 3L, false, "q"), (5L, 3L, false, "r")))
    ManifestFixtures.uncommit(spark, log)
    assert(groups(log) === before,
      "a torn in-flight segment leaked into the group report")
    assert(CdcBinlog.cdcFpProbe(spark, log, 3L)
      .collect().map(_.toString).toSeq === probeBefore,
      "a torn in-flight segment leaked into the probe")
  }

  /** The enforced broadcast bound (sim10's maxBroadcastBatch contract
    * ported): a degenerate fingerprint shared by the whole corpus makes
    * the candidate set corpus-sized — the hinted broadcast must be
    * size-gated, the over-cap path must plan a SHUFFLE join for the
    * candidate restriction, and the rows must be identical on either
    * path.
    */
  test("fp probe's candidate join: over-cap groups take a shuffle join with identical rows") {
    val work = java.nio.file.Files.createTempDirectory("graft-fpb").toString
    val log = s"$work/fplog"
    // a 200-doc flood on one fingerprint (empty-string boilerplate)
    writeSeg(log, "b000000",
      (1L to 200L).map(i => (i, 0L, false, "boilerplate")))
    def initial(df: org.apache.spark.sql.DataFrame) =
      (df.queryExecution.executedPlan match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          a.initialPlan
        case x => x
      }).toString
    val threshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      // stats-based auto-broadcast off: the corpus-scale condition (a
      // real flood's stats blow the threshold) — the path choice must
      // come from the size probe, not from AQE seeing tiny test data
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val hinted = CdcBinlog.cdcFpProbe(spark, log, 1L)
      val fallback = CdcBinlog.cdcFpProbe(spark, log, 1L,
        maxBroadcastCandidates = 0L)
      assert(initial(hinted).contains("BroadcastHashJoin"),
        "the under-cap path lost its broadcast hint: " +
          initial(hinted).take(1200))
      val fb = initial(fallback)
      assert(!fb.contains("BroadcastHashJoin") &&
        (fb.contains("SortMergeJoin") || fb.contains("ShuffledHashJoin")),
        "the over-cap path still plans a broadcast: " + fb.take(1200))
      val a = hinted.collect().map(_.toString).toSeq
      val b = fallback.collect().map(_.toString).toSeq
      assert(a === b && a.size === 199,
        s"path choice changed the probe's rows (${a.size} vs ${b.size})")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", threshold)
  }
}
