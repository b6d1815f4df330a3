package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.types.{ArrayType, BinaryType}
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** The band log's identical-payload collapse under a duplicate flood
  * (dd02's W5 lesson applied to the MAINTAINED path — VERDICT r17 #2):
  * a ~1000-copy identical-text group used to push g²/2 rows through
  * the band self-join (this corpus has a 347-copy name group that
  * broke dd12 the same way); collapsed, the join layer's output stays
  * bounded by DISTINCT payloads while the report still carries the
  * required all-pairs answer. Also pinned: the log's payload is
  * fixed-width 16-byte shingle digests, not raw 3-word strings
  * (VERDICT r17 #3).
  */
class CdcBandFloodSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "8")
    // static plans so per-node join metrics are collectable by a
    // plain tree traversal (the gate itself runs under AQE)
    .config("spark.sql.adaptive.enabled", "false")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def beforeAll(): Unit =
    graft.functions.GraftFunctions.register(spark)

  override def afterAll(): Unit = spark.stop()

  private val tA = "the quick brown fox jumps over the lazy dog near the river bank today"
  private val tB = "the quick brown fox jumps over the lazy dog near the river bank tonight"
  private val tC = "completely unrelated text about spark catalyst optimizer internals and shuffles"

  private def logOf(rows: Seq[(Long, String, Long, Boolean)], dir: String): Unit = {
    import spark.implicits._
    val imgs = CdcBinlog.cdcm15BandImages(
      rows.toDF("doc_id", "text", "ver", "deleted"))
    assert(CdcBinlog.appendCdcFpSegment(imgs, dir, "b000000"))
  }

  test("the log payload is fixed-width 16-byte shingle digests") {
    val work = java.nio.file.Files.createTempDirectory("graft-bandflood")
    val log = work.resolve("bandlog").toString
    logOf(Seq((1L, tA, 0L, false), (2L, tB, 0L, false)), log)
    val df = spark.read.parquet(ManifestFixtures.generation(spark, log))
    df.schema("sh").dataType match {
      case ArrayType(BinaryType, _) => ()
      case other => fail(s"sh is $other, not array<binary> digests")
    }
    import spark.implicits._
    val lens = df.select(org.apache.spark.sql.functions.explode($"sh").as("d"))
      .select(org.apache.spark.sql.functions.length($"d").as("n"))
      .distinct().as[Int].collect().toSeq
    assert(lens === Seq(16), s"digest widths: $lens")
  }

  test("1000-copy flood: report intact, join layer bounded by distinct payloads") {
    val work = java.nio.file.Files.createTempDirectory("graft-bandflood")
    val log = work.resolve("bandlog").toString
    val rows =
      (0L until 1000L).map(i => (i, tA, 0L, false)) ++
        Seq((2000L, tB, 0L, false), (2001L, tB, 0L, false),
          (3000L, tC, 0L, false))
    logOf(rows, log)
    // the lazy inner builders (the gate path wraps them in
    // cdcNearDupPairs, whose eager localCheckpoint would hide the
    // join metrics behind a checkpoint scan)
    val grouped = CdcBinlog.cdcNearDupGrouped(
      CdcBinlog.cdcNearDupLive(spark, log))
    val res = CdcBinlog.cdcNearDupReport(grouped, limit = 1000 * 999 / 2 + 100)
    val n = res.queryExecution.toRdd.count()
    // intra(1000) + intra(2) + any cross pairs the banding admits
    assert(n >= 1000L * 999 / 2 + 1)
    val joinOut = res.queryExecution.executedPlan.collect {
      case j: BaseJoinExec => j.metrics.get("numOutputRows").map(_.value).getOrElse(0L)
    }.sum
    // 3 distinct payloads -> rep-level band join + Jaccard joins + two
    // expansion joins + the live (doc_id, ver) argmax join emit a few
    // thousand rows (the argmax join is log-sized: ~1003); the old
    // formulation pushed >=499500 through here
    assert(joinOut < 5000,
      s"join layer emitted $joinOut rows — collapse is not bounding the pair join")
    // and the REAL gate path over the same log returns the same head
    val gate = CdcBinlog.cdcNearDupPairs(spark, log, limit = 50)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(gate.length === 50)
    assert(gate.forall(_._3 === 1.0)) // the flood's intra pairs lead the order
    val tw = java.nio.file.Files.walk(work)
    try tw.sorted(java.util.Comparator.reverseOrder())
      .forEach(p => java.nio.file.Files.deleteIfExists(p))
    finally tw.close()
  }
}
