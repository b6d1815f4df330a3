package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.md5
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** [[CdcBinlog.MaintenanceCadence]] — cdcLogStats' documented
  * deployment guidance ("the amplification trigger belongs at
  * fold-consideration cadence, the segment trigger is free every
  * append") as executable code: a daemon leg measuring its two log
  * structures every 3rd append (plus the one shutdown measure) must
  * end with the SAME reports, the same healthy advice and real folds —
  * only the measurement count moves. The gates (test-scale logs)
  * measure every append; this pins that the cadence knob changes cost,
  * never answers.
  */
class MaintenanceCadenceSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  // the daemon shape in miniature: ONE image set per batch feeds both
  // log routes. Docs rotate through batches ((d + v) % 4 == 0, ver = v)
  // so versions pile up (real read amplification), words form exact-dup
  // groups (d < 24 share 4 words), texts form two near-dup families
  // (7-token shared prefixes), and two docs tombstone at v = 8.
  private val fam = Seq(
    "red orange yellow green blue indigo violet",
    "north south east west upward downward inward")

  private def mkImages(v: Int): DataFrame = {
    import spark.implicits._
    (0 until 32).filter(d => (d + v) % 4 == 0).map { d =>
      val deleted = v >= 8 && d % 16 == 0
      val word = if (d < 24) s"dup_${d % 4}" else s"uniq_${d}_$v"
      val text = s"${fam(d % 2)} token$d"
      (d.toLong, word, text, v.toLong, deleted)
    }.toDF("doc_id", "word", "text", "ver", "deleted")
  }

  /** Run the two-structure daemon leg at the given cadence; returns
    * (fpLog, bandLog, amplification measures, folds fired).
    */
  private def runDaemon(work: java.nio.file.Path,
                        everyN: Int): (String, String, Int, Int) = {
    import spark.implicits._
    val fpLog = work.resolve(s"fp_$everyN").toString
    val bandLog = work.resolve(s"band_$everyN").toString
    val fpCad = new CdcBinlog.MaintenanceCadence(everyN)
    val bandCad = new CdcBinlog.MaintenanceCadence(everyN)
    var measures = 0
    var folds = 0
    def measureFp(): Unit = {
      measures += 1
      val a = CdcBinlog.logMaintenanceAdvice(
        CdcBinlog.cdcLogStats(spark, fpLog),
        ampFactor = 1.5, maxSegments = 100)
      if (a.compact) { folds += 1; CdcBinlog.compactCdcFpLog(spark, fpLog) }
    }
    def measureBand(): Unit = {
      measures += 1
      val a = CdcBinlog.logMaintenanceAdvice(
        CdcBinlog.cdcLogStats(spark, bandLog),
        ampFactor = 1.5, maxSegments = 100)
      if (a.compact) { folds += 1; CdcBinlog.compactCdcBandLog(spark, bandLog) }
    }
    (0 until 12).foreach { v =>
      val imgs = mkImages(v)
      val fp = imgs.select($"doc_id", $"ver", $"deleted",
        md5(TextAnalysis.normalize($"word")).as("fp"))
      assert(CdcBinlog.appendCdcFpSegment(fp, fpLog, f"b$v%06d"))
      if (fpCad.due()) measureFp()
      val band = CdcBinlog.cdcm15BandImages(
        imgs.select($"doc_id", $"text", $"ver", $"deleted"))
      assert(CdcBinlog.appendCdcFpSegment(band, bandLog, f"b$v%06d"))
      if (bandCad.due()) measureBand()
    }
    // shutdown hook: ONE final measure per structure regardless of
    // phase — owing debt must not outlive the stream mid-cadence
    measureFp(); measureBand()
    (fpLog, bandLog, measures, folds)
  }

  test("amplification checks at N=3 cadence: identical reports and healthy end state, fewer measures") {
    val work = java.nio.file.Files.createTempDirectory("graft-cadence")
    val (fp1, band1, m1, f1) = runDaemon(work, 1)
    val (fp3, band3, m3, f3) = runDaemon(work, 3)
    // identical end state: the reports are cadence-invariant
    val groups1 = CdcBinlog.cdcFpGroups(spark, fp1).collect().map(_.toString).toSeq
    val groups3 = CdcBinlog.cdcFpGroups(spark, fp3).collect().map(_.toString).toSeq
    assert(groups1.nonEmpty && groups1 === groups3,
      "the dup-group report moved with the measurement cadence")
    val pairs1 = CdcBinlog.cdcNearDupPairs(spark, band1)
      .collect().map(_.toString).toSeq
    val pairs3 = CdcBinlog.cdcNearDupPairs(spark, band3)
      .collect().map(_.toString).toSeq
    assert(pairs1.nonEmpty && pairs1 === pairs3,
      "the near-dup report moved with the measurement cadence")
    // both paths really folded, and neither owes maintenance at the end
    assert(f1 >= 1 && f3 >= 1, s"a cadence path never folded ($f1 / $f3)")
    Seq(fp1, fp3, band1, band3).foreach { log =>
      val a = CdcBinlog.logMaintenanceAdvice(
        CdcBinlog.cdcLogStats(spark, log), ampFactor = 1.5, maxSegments = 100)
      assert(!a.compact, s"$log owes maintenance at stream end: $a")
    }
    // the knob's point: the O(log) measurement ran ~1/3 as often
    // (12 appends -> 12+1 measures per structure at N=1, 4+1 at N=3)
    assert(m1 === 26 && m3 === 10,
      s"cadence arithmetic drifted (N=1: $m1 measures, N=3: $m3)")
    val tw = java.nio.file.Files.walk(work)
    try tw.sorted(java.util.Comparator.reverseOrder())
      .forEach(p => java.nio.file.Files.deleteIfExists(p))
    finally tw.close()
  }

  test("cadence of 0 or below is a named error; callCount tallies appends") {
    val err = intercept[IllegalArgumentException] {
      new CdcBinlog.MaintenanceCadence(0)
    }
    assert(err.getMessage.contains("cadence"),
      s"the error must name the knob: ${err.getMessage}")
    val c = new CdcBinlog.MaintenanceCadence(2)
    assert(!c.due() && c.due() && !c.due() && c.due() && c.callCount === 4L)
  }
}
