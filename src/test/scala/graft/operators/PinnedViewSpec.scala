package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** A reader cannot see a torn or missing state: a [[Layout.SegmentView]]
  * pins one manifest version, a fold writes a NEW generation beside it,
  * and the pinned generation outlives that fold and the next one. So a
  * view taken before a fold reads exactly the rows it read before, after
  * the fold commits and after one more — deterministically, with no
  * retry.
  */
class PinnedViewSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[2]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private def images(rows: (Int, String, Int, Boolean)*): DataFrame = {
    import spark.implicits._
    rows.toSeq.toDF("doc_id", "text", "ver", "deleted")
      .select($"doc_id".cast("long").as("doc_id"), $"text",
        $"ver".cast("long").as("ver"), $"deleted")
  }

  private val batches = Seq(
    images((1, "alpha beta", 0, false), (2, "beta gamma", 0, false)),
    images((1, "alpha delta", 1, false), (3, "alpha beta", 1, false)),
    images((2, "", 2, true), (4, "gamma delta", 2, false)),
    images((5, "alpha alpha", 3, false)))

  /** Append batches 0–2, pin a view, fold, append batch 3, fold again:
    * `rows(view)` must not change across either fold.
    */
  private def pinnedAcrossTwoFolds(root: String)(append: (DataFrame, String) => Boolean,
                                                 fold: () => Unit,
                                                 rows: Layout.SegmentView => Seq[String]): Unit = {
    batches.take(3).zipWithIndex.foreach { case (b, i) => assert(append(b, Layout.segmentOf(i))) }
    val view = Layout.committedView(spark, root).get
    val before = rows(view)
    assert(before.nonEmpty)
    fold()
    assert(Layout.committedView(spark, root).get.dir !== view.dir, "the fold wrote no new generation")
    assert(rows(view) === before, "the pinned view changed after the fold committed")
    assert(append(batches(3), Layout.segmentOf(3)))
    fold()
    assert(rows(view) === before, "the pinned view changed after one more fold")
  }

  test("fp log: a view pinned before a fold reads the same rows after it and after one more") {
    import spark.implicits._
    val log = java.nio.file.Files.createTempDirectory("graft-pinned-fp").resolve("fplog").toString
    pinnedAcrossTwoFolds(log)(
      (b, seg) => CdcBinlog.appendCdcFpSegment(
        b.select($"doc_id", $"ver", $"deleted", $"text".as("fp")), log, seg),
      () => CdcBinlog.compactCdcFpLog(spark, log),
      v => v.read("").collect().map(_.toString).toSeq.sorted)
  }

  test("text index: a view pinned before a fold reads the same rows after it and after one more") {
    val idx = java.nio.file.Files.createTempDirectory("graft-pinned-text").resolve("index").toString
    pinnedAcrossTwoFolds(idx)(
      (b, seg) => TextAnalysis.appendCdcTextSegment(b, idx, seg, nBuckets = 4),
      () => TextAnalysis.compactCdcTextIndex(spark, idx, nBuckets = 4),
      v => Seq("doclog", "postings").flatMap(l =>
        v.read(l).collect().map(r => s"$l $r")).sorted)
  }
}
