package graft.streaming

import java.math.{BigDecimal => JBigDecimal}
import java.nio.file.Files
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

import graft.binlog.BinlogWriter._

/** CDC → parquet table maintenance: latest image per key after every
  * trigger, deletes dropped from reads, idempotent re-merge, and — the
  * scale property — untouched hash-bucket partitions are NOT rewritten by
  * a batch that doesn't contain their keys.
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

  private def partFiles(table: String, bucket: Int): Set[String] = {
    val d = new java.io.File(s"$table/_bucket=$bucket")
    if (!d.exists()) Set.empty
    else d.listFiles().map(_.getName).filter(_.startsWith("part-")).toSet
  }

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
    val state1 = CdcMaterializer.readTable(spark, table)
      .select("id", "word").collect().map(r => (r.getInt(0), r.getString(1))).sortBy(_._1)
    assert(state1.toSeq === Seq((1, "ONE"), (3, "three"), (4, "four")))

    // pick a surviving key whose bucket batch 2 will NOT touch
    def bucketOf(id: Int): Int =
      spark.range(1).select(pmod(hash(lit(id)), lit(nBuckets))).head.getInt(0)
    val touched2 = Set(bucketOf(3), bucketOf(10))
    val untouchedId = Seq(1, 4).find(i => !touched2.contains(bucketOf(i)))
    val before = untouchedId.map(i => partFiles(table, bucketOf(i)))

    // batch 2: new key 10, update key 3
    w.writeTableMap(23, "foo", "auto", cols, ts = 1002)
      .writeInsert(23, cols, Seq(Seq(10, "ten")), ts = 1002)
      .writeUpdate(23, cols, Seq((Seq(3, "three"), Seq(3, "THREE"))), ts = 1002)
      .writeXid(3, ts = 1002)
      .save(f1)
    run()
    val state2 = CdcMaterializer.readTable(spark, table)
      .select("id", "word").collect().map(r => (r.getInt(0), r.getString(1))).sortBy(_._1)
    assert(state2.toSeq === Seq((1, "ONE"), (3, "THREE"), (4, "four"), (10, "ten")))

    // the scale property: a bucket batch 2 didn't touch still has the
    // exact same part files (dynamic partition overwrite left it alone)
    (untouchedId, before) match {
      case (Some(i), Some(files)) =>
        assert(files.nonEmpty)
        assert(partFiles(table, bucketOf(i)) === files,
          s"untouched bucket ${bucketOf(i)} was rewritten")
      case _ => // all buckets collided at nBuckets=8; property untestable here
    }

    // idempotence: re-merging the last batch's rows changes nothing
    val replay = spark.read.format("mysql-binlog")
      .option("payloadDdl", ddl).load(dir.toString)
      .filter(col("log_pos") >= 0) // full log replay, worst case
    CdcMaterializer.mergeBatch(replay, "id", table, nBuckets)
    val state3 = CdcMaterializer.readTable(spark, table)
      .select("id", "word").collect().map(r => (r.getInt(0), r.getString(1))).sortBy(_._1)
    assert(state3.toSeq === state2.toSeq)
  }

  test("merge latest-wins survives the 999999 -> 1000000 file rollover") {
    import spark.implicits._
    val table = Files.createTempDirectory("mat-rollover").resolve("t").toString
    // same key, one image per side of MySQL's 6->7 digit extension
    // rollover; string ordering would rank binlog.999999 ABOVE
    // binlog.1000000 and keep the stale image
    val batch = Seq(
      ("insert", "binlog.999999", 900L, 0, 1, "stale"),
      ("update", "binlog.1000000", 500L, 0, 1, "fresh"))
      .toDF("_delta_type", "log_file", "log_pos", "log_seq", "id", "word")
    CdcMaterializer.mergeBatch(batch, "id", table, nBuckets)
    val got = CdcMaterializer.readTable(spark, table)
      .select("id", "word").collect().map(r => (r.getInt(0), r.getString(1)))
    assert(got.toSeq === Seq((1, "fresh")))
  }

  test("compact physically drops tombstones; clean buckets keep their files") {
    import spark.implicits._
    val table = Files.createTempDirectory("mat-compact").resolve("t").toString
    def bucketOf(id: Int): Int =
      spark.range(1).select(pmod(hash(lit(id)), lit(nBuckets))).head.getInt(0)
    // keys 1..4 live, then 2 dies; pick key ids so at least one bucket has
    // no tombstone (bucketOf is deterministic, nBuckets=8)
    val batch = Seq(
      ("insert", "f", 1L, 0, 1, "one"),
      ("insert", "f", 1L, 1, 2, "two"),
      ("insert", "f", 1L, 2, 3, "three"),
      ("insert", "f", 1L, 3, 4, "four"),
      ("delete", "f", 2L, 0, 2, "two"))
      .toDF("_delta_type", "log_file", "log_pos", "log_seq", "id", "word")
    CdcMaterializer.mergeBatch(batch, "id", table, nBuckets)
    assert(spark.read.parquet(table).filter($"_delta_type" === "delete").count() === 1)

    val tombBucket = bucketOf(2)
    val cleanKey = Seq(1, 3, 4).find(i => bucketOf(i) != tombBucket)
    val cleanBefore = cleanKey.map(i => partFiles(table, bucketOf(i)))
    val tombBucketAlive = Seq(1, 3, 4).exists(i => bucketOf(i) == tombBucket)

    CdcMaterializer.compact(spark, table)

    // tombstones are physically gone; logical state unchanged
    assert(spark.read.parquet(table).filter($"_delta_type" === "delete").count() === 0)
    val state = CdcMaterializer.readTable(spark, table)
      .select("id", "word").collect().map(r => (r.getInt(0), r.getString(1))).sortBy(_._1)
    assert(state.toSeq === Seq((1, "one"), (3, "three"), (4, "four")))
    // a bucket with no tombstone was not rewritten
    (cleanKey, cleanBefore) match {
      case (Some(i), Some(files)) =>
        assert(files.nonEmpty)
        assert(partFiles(table, bucketOf(i)) === files,
          s"clean bucket ${bucketOf(i)} was rewritten by compact")
      case _ =>
    }
    // a bucket whose keys all died loses its partition directory outright
    if (!tombBucketAlive)
      assert(!new java.io.File(s"$table/_bucket=$tombBucket").exists(),
        "all-dead bucket directory should be removed")
    // compacting an already-clean table is a no-op
    val filesNow = (0 until nBuckets).map(partFiles(table, _))
    CdcMaterializer.compact(spark, table)
    assert((0 until nBuckets).map(partFiles(table, _)) === filesNow)
  }

  test("compact on an all-dead table is a safe no-op (never an unreadable root)") {
    import spark.implicits._
    val table = Files.createTempDirectory("mat-alldead").resolve("t").toString
    val batch = Seq(
      ("insert", "f", 1L, 0, 1, "one"),
      ("insert", "f", 1L, 1, 2, "two"),
      ("delete", "f", 2L, 0, 1, "one"),
      ("delete", "f", 2L, 1, 2, "two"))
      .toDF("_delta_type", "log_file", "log_pos", "log_seq", "id", "word")
    CdcMaterializer.mergeBatch(batch, "id", table, nBuckets)
    CdcMaterializer.compact(spark, table)
    // the table stays readable (tombstones retained rather than deleting
    // every partition directory) and logically empty
    assert(CdcMaterializer.readTable(spark, table).count() === 0)
    // and a later merge over it still works
    val revive = Seq(("insert", "g", 3L, 0, 1, "back"))
      .toDF("_delta_type", "log_file", "log_pos", "log_seq", "id", "word")
    CdcMaterializer.mergeBatch(revive, "id", table, nBuckets)
    assert(CdcMaterializer.readTable(spark, table)
      .select("word").collect().map(_.getString(0)).toSeq === Seq("back"))
  }

  private def allPartFiles(table: String): Set[String] =
    (0 until nBuckets).flatMap(b => partFiles(table, b).map(f => s"$b/$f")).toSet

  private def state(table: String): Seq[(Int, String)] =
    CdcMaterializer.readTable(spark, table)
      .select("id", "word").collect().map(r => (r.getInt(0), r.getString(1))).sortBy(_._1).toSeq

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
    val batch = Seq(("insert", "f", 1L, 0, 1, "one"), ("insert", "f", 1L, 1, 2, "two"))
      .toDF("_delta_type", "log_file", "log_pos", "log_seq", "id", "word")
    CdcMaterializer.mergeBatch(batch, "id", table, nBuckets)
    val files = allPartFiles(table)
    val answer = state(table)
    assert(answer === Seq((1, "one"), (2, "two")))

    // one column more than the table
    val extra = Seq(("update", "f", 2L, 0, 1, "ONE", 7L))
      .toDF("_delta_type", "log_file", "log_pos", "log_seq", "id", "word", "extra")
    val e1 = intercept[org.apache.spark.sql.AnalysisException](
      CdcMaterializer.mergeBatch(extra, "id", table, nBuckets))
    assert(e1.getCondition === "NUM_COLUMNS_MISMATCH", e1.getMessage)
    assert(allPartFiles(table) === files)
    assert(state(table) === answer)

    // one column fewer: the table's `word` cannot be resolved in the batch
    val missing = Seq(("update", "f", 2L, 0, 2))
      .toDF("_delta_type", "log_file", "log_pos", "log_seq", "id")
    val e2 = intercept[org.apache.spark.sql.AnalysisException](
      CdcMaterializer.mergeBatch(missing, "id", table, nBuckets))
    assert(e2.getMessage.contains("Cannot resolve column name \"word\""), e2.getMessage)
    assert(allPartFiles(table) === files)
    assert(state(table) === answer)
  }

  test("merge keeps untouched keys of a touched bucket, in at most 3 jobs") {
    import spark.implicits._
    val table = Files.createTempDirectory("mat-samebucket").resolve("t").toString
    // two keys sharing one bucket
    val ids = (1 to 64).map(i => i -> spark.range(1)
      .select(pmod(hash(lit(i)), lit(nBuckets))).head.getInt(0))
    val (a, bucket) = ids.head
    val b = ids.tail.collectFirst { case (i, bk) if bk == bucket => i }.get
    val both = Seq(("insert", "f", 1L, 0, a, "a1"), ("insert", "f", 1L, 1, b, "b1"))
      .toDF("_delta_type", "log_file", "log_pos", "log_seq", "id", "word")
    CdcMaterializer.mergeBatch(both, "id", table, nBuckets)

    // the second merge rewrites that bucket straight from a read of it
    val onlyA = Seq(("update", "f", 2L, 0, a, "a2"))
      .toDF("_delta_type", "log_file", "log_pos", "log_seq", "id", "word")
    val jobs = jobsOf(CdcMaterializer.mergeBatch(onlyA, "id", table, nBuckets))
    assert(state(table) === Seq((a, "a2"), (b, "b1")).sortBy(_._1))
    assert(jobs <= 3, s"a merge into an existing table launched $jobs jobs")
    // one file per touched bucket per batch
    assert(partFiles(table, bucket).size === 1)

    // a batch of only before-images touches no bucket and writes nothing
    val files = allPartFiles(table)
    val before = Seq(("update-before", "f", 3L, 0, b, "b1"))
      .toDF("_delta_type", "log_file", "log_pos", "log_seq", "id", "word")
    val beforeJobs = jobsOf(CdcMaterializer.mergeBatch(before, "id", table, nBuckets))
    assert(allPartFiles(table) === files)
    assert(state(table) === Seq((a, "a2"), (b, "b1")).sortBy(_._1))
    assert(beforeJobs <= 1, s"an update-before-only batch launched $beforeJobs jobs")
  }

  test("readTable of an existing table takes its schema from a footer: the read is one job") {
    import spark.implicits._
    val table = Files.createTempDirectory("mat-read").resolve("t").toString
    val batch = Seq(("insert", "f", 1L, 0, 1, "one"), ("insert", "f", 1L, 1, 2, "two"),
      ("delete", "f", 1L, 2, 2, "two"), ("insert", "f", 1L, 3, 3, "three"))
      .toDF("_delta_type", "log_file", "log_pos", "log_seq", "id", "word")
    CdcMaterializer.mergeBatch(batch, "id", table, nBuckets)
    var rows = Seq.empty[(Int, String)]
    val jobs = jobsOf {
      rows = CdcMaterializer.readTable(spark, table).select("id", "word")
        .collect().map(r => (r.getInt(0), r.getString(1))).sortBy(_._1).toSeq
    }
    assert(rows === Seq((1, "one"), (3, "three")))
    // a schema-inference job before the scan would make this 2
    assert(jobs <= 1, s"readTable(...).collect() launched $jobs jobs")
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
