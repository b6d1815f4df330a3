package graft.streaming

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

import graft.binlog.BinlogWriter._

/** Streaming semantics tests (SURVEY §2.9): each streaming job runs to
  * completion with AvailableNow and is checked against its batch
  * equivalent over the same data — the micro-batch plan must not change
  * the answer.
  */
class StreamOpsSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private val dir = "/root/testdata/sf0.001"

  private def runToMemory(df: org.apache.spark.sql.DataFrame, name: String,
                          mode: String = "append"): Unit = {
    val q = df.writeStream.format("memory").queryName(name)
      .outputMode(mode).trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
  }

  test("flatMapGroupsWithState running totals converge to batch totals") {
    runToMemory(StreamOps.runningTotals(StreamOps.eventsStream(spark, dir)).toDF(), "running")
    // last emitted state per user == batch per-user totals
    val finalState = spark.sql(
      """select user_id, max(n_events) as n, max(running_sum) as s
        |from running group by user_id""".stripMargin)
    import spark.implicits._
    val batch = graft.core.Tables.events(spark, dir)
      .groupBy($"user_id").agg(count(lit(1)).as("n"), sum($"value").as("s"))
    val joined = finalState.as("a").join(batch.as("b"), "user_id")
      .filter($"a.n" =!= $"b.n" || abs($"a.s" - $"b.s") > 1e-6)
    assert(joined.count() === 0L)
  }

  test("running totals evict idle users on timeout (bounded state)") {
    import org.apache.spark.api.java.Optional
    import org.apache.spark.sql.streaming.{GroupStateTimeout, TestGroupState}
    // timed-out group: state removed, nothing emitted
    val timedOut = TestGroupState.create[StreamOps.UserRunning](
      Optional.of(StreamOps.UserRunning(1L, 2L, 5.0)),
      GroupStateTimeout.ProcessingTimeTimeout,
      1000L, Optional.empty[Long], hasTimedOut = true)
    val emitted = StreamOps.runningUpdate("1 hour")(1L, Iterator.empty, timedOut)
    assert(emitted.isEmpty)
    assert(!timedOut.exists)
    // live group: totals accumulate AND the eviction clock is re-armed
    val live = TestGroupState.create[StreamOps.UserRunning](
      Optional.of(StreamOps.UserRunning(1L, 2L, 5.0)),
      GroupStateTimeout.ProcessingTimeTimeout,
      1000L, Optional.empty[Long], hasTimedOut = false)
    val out = StreamOps.runningUpdate("1 hour")(
      1L, Iterator(StreamOps.UserEvent(1L, "purchase", 2.0)), live).toSeq
    assert(out === Seq(StreamOps.UserRunning(1L, 3L, 7.0)))
    assert(live.getTimeoutTimestampMs.isPresent)
  }

  test("CDC stream aggregation over binlog source (running update sum)") {
    val tmp = java.nio.file.Files.createTempDirectory("cdc-stream")
    val cols = Seq(ColSpec.int, ColSpec.decimal(12, 4), ColSpec.varchar(10))
    new Writer()
      .writeFormatDescription()
      .writeTableMap(42, "bench", "big", cols)
      .writeUpdate(42, cols, Seq(
        (Seq(1, new java.math.BigDecimal("1.0000"), "a"), Seq(1, new java.math.BigDecimal("2.5000"), "a")),
        (Seq(2, new java.math.BigDecimal("2.0000"), "b"), Seq(2, new java.math.BigDecimal("3.5000"), "b"))))
      .writeXid(1)
      .save(tmp.resolve("binlog.000001").toString)
    runToMemory(
      StreamOps.cdcRunningSum(spark, tmp.toString, "id INT, val DECIMAL(12,4), word STRING"),
      "cdcsum", mode = "complete")
    val row = spark.sql("select n_updates, sum_val from cdcsum where table = 'big'").head
    assert(row.getLong(0) === 2L)
    assert(row.getDecimal(1).compareTo(new java.math.BigDecimal("6.0000")) === 0)
  }
}
