package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Incremental aggregate-view maintenance
  * ([[CdcMaterializer.maintainAggregate]] /
  * [[CdcMaterializer.writeAggDeltas]] / [[CdcMaterializer.readAggregate]] /
  * [[CdcMaterializer.compactAggregate]]). Pinned on synthetic delta
  * batches (the fixture-stream path runs under the full DuckDB oracle as
  * gate `cdcm2_incremental_agg`):
  *  - signed-delta semantics: inserts add, deletes retract, an update
  *    whose before/after images straddle two groups MOVES the row's
  *    count and sum between them;
  *  - replay idempotence by addressing: re-writing the same batch id
  *    leaves the view unchanged (the foreachBatch at-least-once corner),
  *    and a replay at or below the fold's replay fence is skipped;
  *  - compaction: view identical before and after, every batch segment
  *    folded into `seg=base`;
  *  - a torn segment (one no manifest version lists) is invisible and
  *    left out of the fold;
  *  - a fully-retracted group (n=0) disappears from the view.
  */
class CdcAggregateSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "8")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private def batch(rows: (String, String, Long)*): DataFrame = {
    import spark.implicits._
    rows.toSeq.toDF("_delta_type", "word", "v")
  }

  /** The committed `seg=*` names of the view. */
  private def segs(path: String): Set[String] =
    graft.operators.ManifestFixtures.segs(spark, path)

  private def view(path: String): Map[String, (Long, Long)] =
    CdcMaterializer.readAggregate(spark, path).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap

  test("signed deltas, group moves, replay idempotence, compaction, full retraction") {
    val tmp = java.nio.file.Files.createTempDirectory("cdcagg")
    val path = s"$tmp/agg"
    try {
      CdcMaterializer.writeAggDeltas(batch(
        ("insert", "a", 10L), ("insert", "a", 5L), ("insert", "b", 7L)),
        "word", "v", path, 0L)
      assert(view(path) == Map("a" -> (2L, 15L), "b" -> (1L, 7L)))

      // an update moving a row a -> b retracts via its before image and
      // adds via its after image ("update" is the source's envelope name
      // for the after row; the expanded-pair alias is accepted too);
      // plus a plain delete in b
      val b2 = batch(
        ("update-before", "a", 10L), ("update", "b", 12L),
        ("delete", "b", 7L))
      CdcMaterializer.writeAggDeltas(b2, "word", "v", path, 1L)
      val afterB2 = Map("a" -> (1L, 5L), "b" -> (1L, 12L))
      assert(view(path) == afterB2)

      // foreachBatch replay: same batch id rewrites its own segment
      CdcMaterializer.writeAggDeltas(b2, "word", "v", path, 1L)
      assert(view(path) == afterB2)

      // compaction folds the batch segments into a base without
      // changing the view
      CdcMaterializer.compactAggregate(spark, path)
      assert(view(path) == afterB2)
      assert(segs(path) == Set("seg=base"))

      // deltas keep landing after a compaction; a fully-retracted group
      // folds to n=0 and leaves the view
      CdcMaterializer.writeAggDeltas(batch(("delete", "a", 5L)),
        "word", "v", path, 2L)
      assert(view(path) == Map("b" -> (1L, 12L)))
      CdcMaterializer.compactAggregate(spark, path)
      assert(view(path) == Map("b" -> (1L, 12L)))
    } finally {
      java.nio.file.Files.walk(tmp).sorted(java.util.Comparator.reverseOrder())
        .forEach(p => java.nio.file.Files.deleteIfExists(p))
    }
  }

  /** The replay seam: foreachBatch is at-least-once, so a batch the
    * fold already consumed into `seg=base` can be replayed after it.
    * SUM deltas are signed increments — re-summing them double-counts
    * silently — so the fold records a manifest replay fence and
    * [[graft.operators.Layout.append]] skips any batch at or below it.
    */
  test("stale already-folded deltas surviving a crashed cleanup never double-count") {
    val tmp = java.nio.file.Files.createTempDirectory("cdcagg-fence")
    val path = s"$tmp/agg"
    try {
      val b0 = batch(("insert", "a", 10L), ("insert", "b", 7L))
      val b1 = batch(("insert", "a", 5L))
      CdcMaterializer.writeAggDeltas(b0, "word", "v", path, 0L)
      CdcMaterializer.writeAggDeltas(b1, "word", "v", path, 1L)
      val want = Map("a" -> (2L, 15L), "b" -> (1L, 7L))
      assert(view(path) == want)
      CdcMaterializer.compactAggregate(spark, path)
      assert(view(path) == want)
      assert(graft.operators.Layout.fenceOf(spark, path) == Some(1L))
      // replaying both folded batches writes nothing and counts nothing
      CdcMaterializer.writeAggDeltas(b0, "word", "v", path, 0L)
      CdcMaterializer.writeAggDeltas(b1, "word", "v", path, 1L)
      assert(segs(path) == Set("seg=base"),
        "a replay at or below the fence re-created its segment")
      assert(view(path) == want,
        "replayed folded deltas were re-summed — the view double-counted")
      // a FRESH batch (id above the fence) still lands normally
      CdcMaterializer.writeAggDeltas(batch(("insert", "b", 3L)),
        "word", "v", path, 2L)
      val want2 = Map("a" -> (2L, 15L), "b" -> (2L, 10L))
      assert(view(path) == want2)
      // the next fold consumes it and moves the fence
      CdcMaterializer.compactAggregate(spark, path)
      assert(view(path) == want2)
      assert(segs(path) == Set("seg=base"))
      assert(graft.operators.Layout.fenceOf(spark, path) == Some(2L))
    } finally {
      java.nio.file.Files.walk(tmp).sorted(java.util.Comparator.reverseOrder())
        .forEach(p => java.nio.file.Files.deleteIfExists(p))
    }
  }

  /** A batch whose append crashed before its manifest commit leaves a
    * segment no version lists: it belongs to an uncommitted batch that
    * will replay, so the view must not count it and the fold must drop it.
    */
  test("a torn delta segment is invisible to the view and dropped by the fold") {
    val tmp = java.nio.file.Files.createTempDirectory("cdcagg-torn")
    val path = s"$tmp/agg"
    try {
      CdcMaterializer.writeAggDeltas(batch(("insert", "a", 10L)),
        "word", "v", path, 0L)
      CdcMaterializer.writeAggDeltas(batch(("insert", "a", 5L)),
        "word", "v", path, 1L)
      graft.operators.ManifestFixtures.uncommit(spark, path)
      assert(view(path) == Map("a" -> (1L, 10L)),
        "the view counted a torn segment")
      CdcMaterializer.compactAggregate(spark, path)
      assert(segs(path) == Set("seg=base"))
      assert(view(path) == Map("a" -> (1L, 10L)))
      // the torn batch is not fenced: its replay lands
      assert(graft.operators.Layout.fenceOf(spark, path) == Some(0L))
      CdcMaterializer.writeAggDeltas(batch(("insert", "a", 5L)),
        "word", "v", path, 1L)
      assert(view(path) == Map("a" -> (2L, 15L)))
    } finally {
      java.nio.file.Files.walk(tmp).sorted(java.util.Comparator.reverseOrder())
        .forEach(p => java.nio.file.Files.deleteIfExists(p))
    }
  }

  test("empty view after total retraction survives compaction and reads as zero rows") {
    val tmp = java.nio.file.Files.createTempDirectory("cdcagg0")
    val path = s"$tmp/agg"
    try {
      CdcMaterializer.writeAggDeltas(batch(("insert", "x", 3L)), "word", "v", path, 0L)
      CdcMaterializer.writeAggDeltas(batch(("delete", "x", 3L)), "word", "v", path, 1L)
      assert(view(path).isEmpty)
      CdcMaterializer.compactAggregate(spark, path)
      assert(view(path).isEmpty)
    } finally {
      java.nio.file.Files.walk(tmp).sorted(java.util.Comparator.reverseOrder())
        .forEach(p => java.nio.file.Files.deleteIfExists(p))
    }
  }
}
