package graft.operators

import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentLinkedQueue

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.lit
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import scala.jdk.CollectionConverters._

/** [[CdcBinlog.ingest]], the streaming cdcm gates' shared harness, over
  * the sf0.001 gate fixture: a batch whose frame is empty must neither
  * mint a `seg=` directory nor count as an append (an empty segment
  * would pass the gates' ">= N real segments" admission proof as a
  * degenerate one), and admission yielding fewer appends than a leg's
  * minimum must fail by the harness's degenerate-admission message,
  * naming exactly the legs that fell short.
  */
class CdcIngestHarnessSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  // the gate fixture is a function of the scale factor in the sf dir's name
  private lazy val fix = CdcBinlog.fixtureDir("sf0.001")

  private def withWork(body: Path => Unit): Unit = {
    val work = Files.createTempDirectory("graft-ingest-harness")
    try body(work)
    finally {
      val fs = new org.apache.hadoop.fs.Path(work.toString)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(work.toString), true)
    }
  }

  test("a batch with an empty frame writes no seg= directory and counts no append") {
    withWork { work =>
      val log = work.resolve("fplog").toString
      val batchIds = new ConcurrentLinkedQueue[Long]()
      val leg = new CdcBinlog.Leg("fp log", 1, CdcBinlog.appendCdcFpSegment(_, log, _))
      // the frame keeps its rows on odd batch ids only
      CdcBinlog.ingest(spark, work, fix, divisor = 4)(CdcBinlog.Route(
        (b, id) => {
          batchIds.add(id)
          CdcBinlog.cdcm4BatchImages(b, id).filter(lit(id % 2 == 1))
        }, leg))
      val ids = batchIds.asScala.toSeq
      val odd = ids.filter(_ % 2 == 1)
      assert(ids.size >= 3 && odd.nonEmpty && odd.size < ids.size,
        s"the fixture must admit empty and non-empty frames: batches $ids")
      val want = odd.map(id => f"seg=b$id%06d").toSet
      assert(CdcBinlog.segNames(spark, log) == want)
      assert(new java.io.File(ManifestFixtures.generation(spark, log)).list()
        .filter(_.startsWith("seg=")).toSet == want)
      assert(leg.appends == odd.size)
    }
  }

  test("admission short of a leg's minimum fails with the degenerate-admission message") {
    withWork { work =>
      val met = new CdcBinlog.Leg("met log", 1,
        CdcBinlog.appendCdcFpSegment(_, work.resolve("met").toString, _))
      val short = new CdcBinlog.Leg("short log", 1000,
        CdcBinlog.appendCdcFpSegment(_, work.resolve("short").toString, _))
      val e = intercept[IllegalArgumentException] {
        CdcBinlog.ingest(spark, work, fix, divisor = 4)(
          CdcBinlog.Route(CdcBinlog.cdcm4BatchImages, met, short))
      }
      val bytes = CdcBinlog.fixtureBinlogBytes(spark, fix)
      assert(short.appends >= 3 && short.appends == met.appends)
      assert(e.getMessage ==
        s"requirement failed: bounded admission degenerated (cap=${bytes / 4} of " +
          s"$bytes bytes): short log made ${short.appends} appends, needs >= 1000")
    }
  }
}
