package graft.streaming

import java.math.{BigDecimal => JBigDecimal}
import java.nio.file.Files
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

import graft.binlog.BinlogWriter._
import graft.operators.ManifestFixtures

/** CDC → parquet table maintenance: latest image per key after every
  * trigger, deletes dropped from reads, idempotent re-merge, and — the
  * scale property — a batch appends exactly one new segment and leaves
  * every file a committed manifest version lists as it was.
  */
class CdcMaterializerSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private val cols = Seq(ColSpec.int, ColSpec.varchar(20))
  private val ddl = "id INT, word STRING"
  private val nBuckets = 8

  private def changes(rows: (String, String, Long, Int, Int, String)*): DataFrame = {
    import spark.implicits._
    rows.toDF("_delta_type", "log_file", "log_pos", "log_seq", "id", "word")
  }

  private def merge(batch: DataFrame, table: String, batchId: Long): Unit =
    CdcMaterializer.mergeBatch(batch, "id", table, nBuckets, batchId)

  private def state(table: String): Seq[(Int, String)] = rows(CdcMaterializer.readTable(spark, table))

  private def rows(t: DataFrame): Seq[(Int, String)] =
    t.select("id", "word").collect().map(r => (r.getInt(0), r.getString(1))).sortBy(_._1).toSeq

  /** The committed segments' rows as stored, tombstones included. */
  private def stored(table: String): DataFrame =
    graft.operators.Layout.committedView(spark, table).get.read("")

  /** Every data file the latest manifest version lists, with its size
    * and modification time.
    */
  private def committedFiles(table: String): Map[String, (Long, Long)] = {
    val gen = ManifestFixtures.generation(spark, table)
    ManifestFixtures.segs(spark, table).toSeq.flatMap { seg =>
      Option(new java.io.File(s"$gen/$seg").listFiles()).toSeq.flatten
        .filter(_.getName.startsWith("part-"))
        .map(f => f.getPath -> (f.length(), f.lastModified()))
    }.toMap
  }

  /** Run `batch` and check that it committed exactly one new segment and
    * left every previously listed file unchanged; returns the new
    * segment's data files.
    */
  private def appendsOneSegment(table: String)(batch: => Unit): Seq[String] = {
    val segs = ManifestFixtures.segs(spark, table)
    val files = committedFiles(table)
    batch
    val added = ManifestFixtures.segs(spark, table) -- segs
    assert(added.size === 1, s"the batch committed segments $added")
    val now = committedFiles(table)
    files.foreach { case (f, st) =>
      assert(now.get(f).contains(st), s"committed file $f was rewritten or removed")
    }
    now.keys.filter(_.contains(s"/${added.head}/")).toSeq
  }

  /** Ordinal of the latest committed batch segment. */
  private def lastBatch(table: String): Long =
    ManifestFixtures.segs(spark, table).filter(_ != "seg=base")
      .map(n => graft.operators.Layout.segmentOrdinal(n.stripPrefix("seg="))).max

  test("materialize: upserts, deletes, untouched buckets keep their files") {
    val dir = Files.createTempDirectory("mat-src")
    val f1 = dir.resolve("binlog.000001").toString
    val table = Files.createTempDirectory("mat-table").resolve("t").toString
    val ckpt = Files.createTempDirectory("mat-ckpt").toString

    val w = new Writer()
      .writeFormatDescription(ts = 1000)
      .writeTableMap(23, "foo", "auto", cols, ts = 1000)
      .writeInsert(23, cols, Seq(Seq(1, "one"), Seq(2, "two"), Seq(3, "three"), Seq(4, "four")), ts = 1000)
      .writeXid(1, ts = 1000)
      .writeTableMap(23, "foo", "auto", cols, ts = 1001)
      .writeUpdate(23, cols, Seq((Seq(1, "one"), Seq(1, "ONE"))), ts = 1001)
      .writeDelete(23, cols, Seq(Seq(2, "two")), ts = 1001)
      .writeXid(2, ts = 1001)
    w.save(f1)

    def run(): Unit = {
      val changes = spark.readStream.format("mysql-binlog")
        .option("payloadDdl", ddl).load(dir.toString)
      val q = CdcMaterializer.materialize(changes, "id", table, ckpt,
        nBuckets = nBuckets, trigger = Trigger.AvailableNow())
      q.awaitTermination(60000)
    }
    run()
    assert(state(table) === Seq((1, "ONE"), (3, "three"), (4, "four")))

    // fold into the bucketed base, whose files batch 2 must leave alone
    CdcMaterializer.compact(spark, table)
    assert(ManifestFixtures.segs(spark, table) === Set("seg=base"))
    assert(committedFiles(table).nonEmpty)

    // batch 2: new key 10, update key 3
    w.writeTableMap(23, "foo", "auto", cols, ts = 1002)
      .writeInsert(23, cols, Seq(Seq(10, "ten")), ts = 1002)
      .writeUpdate(23, cols, Seq((Seq(3, "three"), Seq(3, "THREE"))), ts = 1002)
      .writeXid(3, ts = 1002)
      .save(f1)
    appendsOneSegment(table)(run())
    val state2 = state(table)
    assert(state2 === Seq((1, "ONE"), (3, "THREE"), (4, "four"), (10, "ten")))

    // idempotence: the committed batch replays as a no-op, and the whole
    // log merged again under a new batch id changes no answer
    val replay = spark.read.format("mysql-binlog")
      .option("payloadDdl", ddl).load(dir.toString)
      .filter(col("log_pos") >= 0) // full log replay, worst case
    val version = ManifestFixtures.version(table)
    merge(replay, table, lastBatch(table))
    assert(ManifestFixtures.version(table) === version)
    appendsOneSegment(table)(merge(replay, table, lastBatch(table) + 1))
    assert(state(table) === state2)
  }

  test("merge latest-wins survives the 999999 -> 1000000 file rollover") {
    val table = Files.createTempDirectory("mat-rollover").resolve("t").toString
    // same key, one image per side of MySQL's 6->7 digit extension
    // rollover; string ordering would rank binlog.999999 ABOVE
    // binlog.1000000 and keep the stale image — inside one batch...
    merge(changes(
      ("insert", "binlog.999999", 900L, 0, 1, "stale"),
      ("update", "binlog.1000000", 500L, 0, 1, "fresh")), table, 0L)
    assert(state(table) === Seq((1, "fresh")))
    // ...and across segments: the stale image in a LATER batch still loses
    merge(changes(("insert", "binlog.999999", 900L, 0, 1, "stale")), table, 1L)
    assert(state(table) === Seq((1, "fresh")))
  }

  test("compact folds every delta into a tombstone-free base") {
    val table = Files.createTempDirectory("mat-compact").resolve("t").toString
    val b0 = changes(
      ("insert", "f", 1L, 0, 1, "one"),
      ("insert", "f", 1L, 1, 2, "two"),
      ("insert", "f", 1L, 2, 3, "three"),
      ("insert", "f", 1L, 3, 4, "four"),
      ("delete", "f", 2L, 0, 2, "two"))
    merge(b0, table, 0L)
    merge(changes(("update", "f", 3L, 0, 3, "THREE"), ("delete", "f", 3L, 1, 4, "four")),
      table, 1L)
    assert(stored(table).filter(col("_delta_type") === "delete").count() === 2)
    val answer = state(table)
    assert(answer === Seq((1, "one"), (3, "THREE")))

    CdcMaterializer.compact(spark, table)

    // one base segment, live rows only, at most nBuckets files
    assert(ManifestFixtures.segs(spark, table) === Set("seg=base"))
    assert(stored(table).filter(col("_delta_type") === "delete").count() === 0)
    assert(stored(table).count() === 2)
    assert(committedFiles(table).size <= nBuckets)
    assert(state(table) === answer)
    // a replay of a folded batch is fenced: nothing is written
    val version = ManifestFixtures.version(table)
    merge(b0, table, 0L)
    assert(ManifestFixtures.version(table) === version)
    assert(state(table) === answer)
    // compacting an already-folded table keeps the answer
    CdcMaterializer.compact(spark, table)
    assert(state(table) === answer)
  }

  test("compact of an all-dead table leaves a readable empty table") {
    val table = Files.createTempDirectory("mat-alldead").resolve("t").toString
    merge(changes(
      ("insert", "f", 1L, 0, 1, "one"),
      ("insert", "f", 1L, 1, 2, "two"),
      ("delete", "f", 2L, 0, 1, "one"),
      ("delete", "f", 2L, 1, 2, "two")), table, 0L)
    CdcMaterializer.compact(spark, table)
    // the base holds no row at all, and the table stays readable
    assert(ManifestFixtures.segs(spark, table) === Set("seg=base"))
    assert(stored(table).count() === 0)
    assert(CdcMaterializer.readTable(spark, table).count() === 0)
    // and a later insert revives it
    merge(changes(("insert", "g", 3L, 0, 1, "back")), table, 1L)
    assert(state(table) === Seq((1, "back")))
  }

  /** Jobs `body` launches, counted by a listener over this thread's job
    * group; a marker job closes the window, so every earlier job start
    * has reached the listener when the count is read.
    */
  private def jobsOf(body: => Unit): Int = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    val group = s"jobs-${java.util.UUID.randomUUID()}"
    val starts = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group))
          starts.add(Option(e.properties.getProperty("spark.job.description")).getOrElse(""))
    }
    sc.addSparkListener(l)
    try {
      sc.setJobGroup(group, "")
      try {
        body
        sc.setJobDescription("marker")
        sc.parallelize(Seq(1), 1).count()
      } finally sc.clearJobGroup()
      val deadline = System.nanoTime() + 30L * 1000000000L
      while (!starts.contains("marker") && System.nanoTime() < deadline) Thread.sleep(10)
      assert(starts.contains("marker"), "listener never saw the marker job")
      starts.size() - 1
    } finally sc.removeSparkListener(l)
  }

  test("column drift fails the merge before anything is written") {
    import spark.implicits._
    val table = Files.createTempDirectory("mat-drift").resolve("t").toString
    merge(changes(("insert", "f", 1L, 0, 1, "one"), ("insert", "f", 1L, 1, 2, "two")), table, 0L)
    val version = ManifestFixtures.version(table)
    val files = committedFiles(table)
    val answer = state(table)
    assert(answer === Seq((1, "one"), (2, "two")))

    // one column more than the table
    val extra = Seq(("update", "f", 2L, 0, 1, "ONE", 7L))
      .toDF("_delta_type", "log_file", "log_pos", "log_seq", "id", "word", "extra")
    // one column fewer: the table's `word` is missing
    val missing = Seq(("update", "f", 2L, 0, 2))
      .toDF("_delta_type", "log_file", "log_pos", "log_seq", "id")
    Seq(extra, missing).foreach { drifted =>
      val e = intercept[IllegalStateException](merge(drifted, table, 1L))
      assert(e.getMessage.contains("schema drift"), e.getMessage)
      assert(ManifestFixtures.version(table) === version)
      assert(committedFiles(table) === files)
      assert(state(table) === answer)
      assert(!new java.io.File(s"${ManifestFixtures.generation(spark, table)}/seg=b000001").exists(),
        "the drifted batch wrote its segment")
    }
  }

  test("a merge keeps untouched keys and runs at most 2 jobs") {
    val table = Files.createTempDirectory("mat-samekeys").resolve("t").toString
    merge(changes(("insert", "f", 1L, 0, 1, "a1"), ("insert", "f", 1L, 1, 2, "b1")), table, 0L)

    // the second merge writes key 1's new image without reading the table
    var files = Seq.empty[String]
    val jobs = jobsOf {
      files = appendsOneSegment(table)(
        merge(changes(("update", "f", 2L, 0, 1, "a2")), table, 1L))
    }
    assert(state(table) === Seq((1, "a2"), (2, "b1")))
    assert(jobs <= 2, s"a merge into an existing table launched $jobs jobs")
    assert(files.size === 1, s"the batch wrote $files")

    // a batch of only before-images changes no answer
    val beforeJobs = jobsOf(appendsOneSegment(table)(
      merge(changes(("update-before", "f", 3L, 0, 2, "b1")), table, 2L)))
    assert(state(table) === Seq((1, "a2"), (2, "b1")))
    assert(beforeJobs <= 2, s"an update-before-only batch launched $beforeJobs jobs")
  }

  test("readTable reads the manifest's schema: the read is one job") {
    val table = Files.createTempDirectory("mat-read").resolve("t").toString
    merge(changes(("insert", "f", 1L, 0, 1, "one"), ("insert", "f", 1L, 1, 2, "two"),
      ("delete", "f", 1L, 2, 2, "two"), ("insert", "f", 1L, 3, 3, "three")), table, 0L)
    var got = Seq.empty[(Int, String)]
    val jobs = jobsOf { got = state(table) }
    assert(got === Seq((1, "one"), (3, "three")))
    // a schema-inference job before the scan would make this 2
    assert(jobs <= 1, s"readTable(...).collect() launched $jobs jobs")
    // over several segments the frame is still planned without a job
    merge(changes(("update", "f", 2L, 0, 1, "ONE")), table, 1L)
    assert(jobsOf(CdcMaterializer.readTable(spark, table)) === 0)
    assert(state(table) === Seq((1, "ONE"), (3, "three")))
  }

  test("readTable pinned before compact reads the same rows after it") {
    val table = Files.createTempDirectory("mat-pinned").resolve("t").toString
    merge(changes(("insert", "f", 1L, 0, 1, "one"), ("insert", "f", 1L, 1, 2, "two")), table, 0L)
    merge(changes(("update", "f", 2L, 0, 1, "ONE"), ("delete", "f", 2L, 1, 2, "two"),
      ("insert", "f", 2L, 2, 3, "three")), table, 1L)
    val frame = CdcMaterializer.readTable(spark, table)
    val before = rows(frame)
    assert(before === Seq((1, "ONE"), (3, "three")))
    val generation = ManifestFixtures.generation(spark, table)
    CdcMaterializer.compact(spark, table)
    assert(ManifestFixtures.generation(spark, table) !== generation, "the fold wrote no new generation")
    assert(rows(frame) === before, "the pinned frame changed after the fold committed")
    merge(changes(("insert", "f", 3L, 0, 4, "four")), table, 2L)
    CdcMaterializer.compact(spark, table)
    assert(rows(frame) === before, "the pinned frame changed after one more fold")
    assert(state(table) === Seq((1, "ONE"), (3, "three"), (4, "four")))
  }

  test("materializeAll: one scan maintains several typed tables") {
    val dcols = Seq(ColSpec.int, ColSpec.decimal(12, 4))
    val dir = Files.createTempDirectory("matall-src")
    val f1 = dir.resolve("binlog.000001").toString
    val base = Files.createTempDirectory("matall-tables").toString
    val ckpt = Files.createTempDirectory("matall-ckpt").toString

    val w = new Writer()
      .writeFormatDescription(ts = 1000)
      .writeTableMap(23, "foo", "auto", cols, ts = 1000)
      .writeInsert(23, cols, Seq(Seq(1, "one"), Seq(2, "two")), ts = 1000)
      .writeXid(1, ts = 1000)
      .writeTableMap(24, "bar", "acct", dcols, ts = 1000)
      .writeInsert(24, dcols, Seq(Seq(7, new JBigDecimal("12.5000"))), ts = 1000)
      .writeXid(2, ts = 1000)
    w.save(f1)

    def run(): Unit = {
      val changes = spark.readStream.format("mysql-binlog").load(dir.toString)
      val q = CdcMaterializer.materializeAll(changes,
        Map("foo.auto" -> (ddl, "id"),
            "bar.acct" -> (("id INT, bal DECIMAL(12,4)", "id"))),
        base, ckpt, nBuckets = 4, trigger = Trigger.AvailableNow())
      q.awaitTermination(60000)
    }
    run()
    val auto1 = CdcMaterializer.readTable(spark, s"$base/foo.auto")
      .select("id", "word").collect().map(r => (r.getInt(0), r.getString(1))).sortBy(_._1)
    assert(auto1.toSeq === Seq((1, "one"), (2, "two")))
    val acct1 = CdcMaterializer.readTable(spark, s"$base/bar.acct")
      .select("id", "bal").collect()
      .map(r => (r.getInt(0), r.getDecimal(1).toPlainString)).sortBy(_._1)
    assert(acct1.toSeq === Seq((7, "12.5000")))

    // batch 2 touches both tables through the same single scan
    w.writeTableMap(23, "foo", "auto", cols, ts = 1001)
      .writeDelete(23, cols, Seq(Seq(1, "one")), ts = 1001)
      .writeXid(3, ts = 1001)
      .writeTableMap(24, "bar", "acct", dcols, ts = 1001)
      .writeUpdate(24, dcols, Seq((Seq(7, new JBigDecimal("12.5000")),
        Seq(7, new JBigDecimal("99.0000")))), ts = 1001)
      .writeXid(4, ts = 1001)
      .save(f1)
    run()
    val auto2 = CdcMaterializer.readTable(spark, s"$base/foo.auto")
      .select("id").collect().map(_.getInt(0)).sorted
    assert(auto2.toSeq === Seq(2))
    val acct2 = CdcMaterializer.readTable(spark, s"$base/bar.acct")
      .select("id", "bal").collect()
      .map(r => (r.getInt(0), r.getDecimal(1).toPlainString)).sortBy(_._1)
    assert(acct2.toSeq === Seq((7, "99.0000")))
  }

  test("cdcm1: a previously returned result survives the next invocation's rotation") {
    val d = "/root/testdata/sf0.001"
    val first = graft.operators.CdcBinlog.cdcm1MaterializedTable(spark, d)
    val before = first.count()
    assert(before > 0)
    // the second invocation rotates the first's workdir away...
    val second = graft.operators.CdcBinlog.cdcm1MaterializedTable(spark, d)
    assert(second.count() === before)
    // ...and RE-EXECUTING the first result's plan must still succeed: the
    // returned DataFrame is detached from the deleted directory (a lazy
    // plan over the rotated table would throw FileNotFound here)
    assert(first.count() === before)
    assert(first.collect().map(_.getInt(0)).toSeq === second.collect().map(_.getInt(0)).toSeq)
  }
}
