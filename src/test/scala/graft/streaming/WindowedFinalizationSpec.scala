package graft.streaming

import java.nio.file.Files
import java.sql.Timestamp
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** The durable finalization path for windowed streaming aggregations
  * (update-mode foreachBatch → batch-addressed `seg=b<id>` segments →
  * latest-wins fold): proves the folded read equals the complete-mode
  * gate result on the staged events stream, that a replayed batch is a
  * no-op (idempotence by addressing), that compaction preserves the view
  * while folding the batch segments into `seg=base`, and that a torn
  * segment is invisible to the read and dropped by the fold.
  */
class WindowedFinalizationSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private def ts(s: String): Timestamp = Timestamp.valueOf(s)

  /** The committed `seg=*` names of the view. */
  private def segs(path: String): Set[String] =
    graft.operators.ManifestFixtures.segs(spark, path)

  test("folded read equals the complete-mode gate result on the staged events stream") {
    val dir = "/root/testdata/sf0.001"
    val complete = StreamOps.st01SlidingWindow(spark, dir)
      .collect().map(_.toString).toSeq
    val durable = StreamOps.st01bDurableWindow(spark, dir)
      .collect().map(_.toString).toSeq
    assert(durable.nonEmpty)
    assert(durable === complete)
  }

  test("multi-batch updates fold latest-wins; a replayed batch is a no-op") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val work = Files.createTempDirectory("graft-winfin")
    val view = work.resolve("view").toString
    val mem = MemoryStream[(String, Timestamp, Double)]
    val agg = mem.toDF().toDF("k", "ts", "v")
      .groupBy(window($"ts", "1 hour").as("w"), $"k")
      .agg(count(lit(1)).as("n"), sum($"v").as("s"))
      .select(date_format($"w.start", "yyyy-MM-dd HH:mm:ss").as("ws"),
        $"k", $"n", $"s")
    val q = StreamOps.maintainWindowedAgg(agg, view,
      work.resolve("ckpt").toString,
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0))
    try {
      // batch 0: two groups open
      mem.addData(("a", ts("2024-01-01 10:05:00"), 1.0),
        ("b", ts("2024-01-01 10:10:00"), 2.0))
      q.processAllAvailable()
      // batch 1: group (10:00, a) updated AGAIN (cross-batch window), one new
      mem.addData(("a", ts("2024-01-01 10:40:00"), 4.0),
        ("c", ts("2024-01-01 11:05:00"), 8.0))
      q.processAllAvailable()
    } finally q.stop()

    def folded = StreamOps.readWindowedAgg(spark, view, Seq("ws", "k"))
      .orderBy("ws", "k").collect().map(_.toString).toSeq
    val expected = Seq(
      "[2024-01-01 10:00:00,a,2,5.0]", // latest update wins: n=2, s=5
      "[2024-01-01 10:00:00,b,1,2.0]",
      "[2024-01-01 11:00:00,c,1,8.0]")
    assert(folded === expected)

    // replayed batch (at-least-once foreachBatch): rewriting batch 1's own
    // segment with the same rows changes nothing — idempotence by
    // addressing, not by sink transactionality
    // detach (eager localCheckpoint) — the overwrite below deletes the
    // very files a lazy plan would re-read
    val replay = spark.read.parquet(
      s"${graft.operators.ManifestFixtures.generation(spark, view)}/seg=b000001")
      .localCheckpoint(true)
    StreamOps.writeWindowedUpdates(replay, view, 1L)
    assert(folded === expected)

    // compaction: view unchanged, batch segments folded into seg=base
    StreamOps.compactWindowedAgg(spark, view, Seq("ws", "k"))
    assert(folded === expected)
    assert(segs(view) === Set("seg=base"))

    // post-compaction updates fold OVER the base (base orders first)
    val late = Seq(("2024-01-01 10:00:00", "a", 3L, 9.0)).toDF("ws", "k", "n", "s")
    StreamOps.writeWindowedUpdates(late, view, 2L)
    assert(folded === Seq(
      "[2024-01-01 10:00:00,a,3,9.0]",
      "[2024-01-01 10:00:00,b,1,2.0]",
      "[2024-01-01 11:00:00,c,1,8.0]"))
  }

  test("a torn update segment is invisible to the read and dropped by the fold") {
    import spark.implicits._
    val work = Files.createTempDirectory("graft-winfin-torn")
    val view = work.resolve("view").toString
    def folded = StreamOps.readWindowedAgg(spark, view, Seq("ws", "k"))
      .orderBy("ws", "k").collect().map(_.toString).toSeq
    StreamOps.writeWindowedUpdates(
      Seq(("2024-01-01 10:00:00", "a", 1L, 1.0)).toDF("ws", "k", "n", "s"), view, 0L)
    // batch 1's append crashed before its manifest commit
    StreamOps.writeWindowedUpdates(
      Seq(("2024-01-01 10:00:00", "a", 2L, 5.0)).toDF("ws", "k", "n", "s"), view, 1L)
    graft.operators.ManifestFixtures.uncommit(spark, view)
    assert(folded === Seq("[2024-01-01 10:00:00,a,1,1.0]"),
      "the read took its latest update from a torn segment")
    StreamOps.compactWindowedAgg(spark, view, Seq("ws", "k"))
    assert(segs(view) === Set("seg=base"))
    assert(folded === Seq("[2024-01-01 10:00:00,a,1,1.0]"))
  }
}
