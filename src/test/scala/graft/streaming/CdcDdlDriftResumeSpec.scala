package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

import graft.binlog.BinlogWriter._

/** DDL drift × maintained index, END-TO-END: a text index maintained
  * from a typed CDC stream hits a mid-log ALTER TABLE ADD COLUMN. The
  * typed decode fails LOUDLY at the width drift (R5's contract — never
  * silently truncate or pad), the operator updates `payloadDdl` to the
  * post-ALTER schema and resumes FROM THE SAME CHECKPOINT with
  * `ddlEvolution=addColumns` (the replayed batch spans the ALTER, so
  * pre-ALTER prefix images must null-pad under the one new ddl), and
  * the maintained index converges to the post-ALTER ground truth —
  * proven by probing it against a fresh single-append rebuild over the
  * full evolved log. cdcb19 proves dynamic-mode DRIFT DECODE for scans;
  * this proves the RECOVERY PATH for the typed maintained pipelines.
  */
class CdcDdlDriftResumeSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "8")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private def rmTree(work: java.nio.file.Path): Unit = {
    val tw = java.nio.file.Files.walk(work)
    try tw.sorted(java.util.Comparator.reverseOrder())
      .forEach(p => java.nio.file.Files.deleteIfExists(p))
    finally tw.close()
  }

  private val cols1 = Seq(ColSpec.int, ColSpec.varchar(20))
  private val cols2 = Seq(ColSpec.int, ColSpec.varchar(20), ColSpec.varchar(24))
  private val ddl1 = "id INT, word STRING"
  private val ddl2 = "id INT, word STRING, note STRING"

  private def vocab(i: Int): String = {
    val ws = Array("alpha", "beta", "gamma", "delta")
    s"${ws(i % 4)}_$i"
  }

  /** Evolved log: 30 two-row txns at (id, word), then ALTER ADD COLUMN,
    * then 30 more at (id, word, note) — updates rewording earlier ids on
    * both sides so latest images straddle the ALTER.
    */
  private def writeEvolvedFixture(dir: java.nio.file.Path): Unit = {
    val w = new Writer(checksum = true).writeFormatDescription(ts = 1)
    var id = 0
    for (t <- 0 until 30) {
      val ts = 1000L + t
      w.writeQuery("bench", "BEGIN", ts = ts)
        .writeTableMap(7, "bench", "doc", cols1, ts = ts)
        .writeInsert(7, cols1,
          Seq(Seq[Any](id, vocab(id)), Seq[Any](id + 1, vocab(id + 1))), ts = ts)
      if (t % 3 == 2)
        w.writeTableMap(7, "bench", "doc", cols1, ts = ts)
          .writeUpdate(7, cols1, Seq(
            (Seq[Any](id - 2, vocab(id - 2)), Seq[Any](id - 2, vocab(id - 1)))), ts = ts)
      w.writeXid(100L + t, ts = ts)
      id += 2
    }
    w.writeQuery("bench", "ALTER TABLE bench.doc ADD COLUMN note VARCHAR(24)",
      ts = 2000)
    for (t <- 0 until 30) {
      val ts = 3000L + t
      w.writeQuery("bench", "BEGIN", ts = ts)
        .writeTableMap(8, "bench", "doc", cols2, ts = ts)
        .writeInsert(8, cols2,
          Seq(Seq[Any](id, vocab(id), s"n$id"),
              Seq[Any](id + 1, vocab(id + 1), s"n${id + 1}")), ts = ts)
      if (t % 3 == 1)
        w.writeTableMap(8, "bench", "doc", cols2, ts = ts)
          .writeUpdate(8, cols2, Seq(
            // reword a GEN-1 id under the new schema: its latest image
            // crosses the ALTER, so a resume that dropped or doubled the
            // replayed batch moves this doc's text and fails the probe
            (Seq[Any](t, vocab(t), null), Seq[Any](t, vocab(t + 40), s"r$t"))),
            ts = ts)
      w.writeXid(200L + t, ts = ts)
      id += 2
    }
    w.save(dir.resolve("binlog.000001").toString)
  }

  test("typed pipeline dies at the ALTER, resumes with evolved ddl, index converges") {
    import graft.operators.{CdcBinlog, TextAnalysis}
    val work = java.nio.file.Files.createTempDirectory("graft-ddl-drift")
    val fix = work.resolve("log")
    java.nio.file.Files.createDirectories(fix)
    writeEvolvedFixture(fix)
    val cap = math.max(
      CdcBinlog.fixtureBinlogBytes(spark, fix.toString) / 6, 1L)
    val idx = work.resolve("index").toString

    def start(ddl: String, evolution: Boolean, trigger: Trigger) = {
      val r = spark.readStream.format("mysql-binlog")
        .option("payloadDdl", ddl)
        .option("maxBytesPerTrigger", cap.toString)
      val r2 = if (evolution) r.option("ddlEvolution", "addColumns") else r
      r2.load(fix.toString)
        .writeStream
        .option("checkpointLocation", work.resolve("ckpt").toString)
        .foreachBatch { (batch: DataFrame, batchId: Long) =>
          val imgs = CdcBinlog.cdcm4BatchImages(batch, batchId).persist()
          try {
            if (!imgs.isEmpty)
              TextAnalysis.appendCdcTextSegment(imgs, idx, f"b$batchId%06d",
                nBuckets = 4)
          } finally imgs.unpersist()
          ()
        }
        .trigger(trigger)
        .start()
    }

    // phase 1: the pre-ALTER ddl. The stream must die AT the drift, by
    // name — with several batches already committed before it.
    val q1 = start(ddl1, evolution = false, Trigger.ProcessingTime(0))
    val death = intercept[Throwable] {
      q1.processAllAvailable()
      q1.awaitTermination()
    }
    try q1.stop() catch { case _: Throwable => () }
    def messages(t: Throwable): Seq[String] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null).take(16)
        .map(e => Option(e.getMessage).getOrElse("")).toSeq
    assert(messages(death).exists(m =>
      m.contains("schema change") && m.contains("payloadDdl")),
      s"expected the named schema-change failure, got: $death")
    val segsAtDeath = graft.operators.ManifestFixtures.segs(spark, idx).size
    assert(segsAtDeath >= 2,
      s"only $segsAtDeath segments committed before the drift — cap too coarse " +
        "for the death to land mid-stream")

    // phase 2: the operator's documented move — payloadDdl updated to the
    // post-ALTER schema, ddlEvolution=addColumns (the replayed batch spans
    // the ALTER), SAME checkpoint. The drain must complete.
    val q2 = start(ddl2, evolution = true, Trigger.AvailableNow())
    q2.awaitTermination()
    val segsAfter = graft.operators.ManifestFixtures.segs(spark, idx).size
    assert(segsAfter > segsAtDeath,
      "the resumed stream appended nothing past the drift point")

    // ground truth: a fresh one-append index over the full evolved log's
    // latest images, batch-scanned under the evolved ddl
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val all = spark.read.format("mysql-binlog")
      .option("payloadDdl", ddl2)
      .option("ddlEvolution", "addColumns")
      .load(fix.toString)
    val wantImages = CdcBinlog.cdcm4BatchImages(all, 0L)
    val refIdx = work.resolve("refindex").toString
    assert(TextAnalysis.appendCdcTextSegment(wantImages, refIdx, "b000000",
      nBuckets = 4))
    def probe(path: String): Seq[String] =
      TextAnalysis.bm25TopKViaCdcIndex(spark, path, Seq("alpha", "beta"), 100,
          nBuckets = 4)
        .orderBy($"r_sparse").collect().map(_.toString).toSeq
    val got = probe(idx)
    val want = probe(refIdx)
    assert(want.nonEmpty)
    assert(got === want,
      "the resumed maintained index diverged from the post-ALTER ground " +
        "truth — the replayed ALTER-spanning batch dropped, doubled or " +
        "misdecoded rows")
    rmTree(work)
  }

  /** The fan-out multiplex: d1 AND d2 interleave in every span; d1 is
    * ALTERed mid-log, d2 never is. Asymmetric mutations (updates on d1,
    * deletes on d2, disjoint vocabularies) make any cross-route bleed a
    * probe failure rather than a plausible answer.
    */
  private def writeFanoutEvolvedFixture(dir: java.nio.file.Path): Unit = {
    val w = new Writer(checksum = true).writeFormatDescription(ts = 1)
    var id = 0
    for (t <- 0 until 30) {
      val ts = 1000L + t
      w.writeQuery("bench", "BEGIN", ts = ts)
        .writeTableMap(7, "bench", "d1", cols1, ts = ts)
        .writeInsert(7, cols1,
          Seq(Seq[Any](id, vocab(id)), Seq[Any](id + 1, vocab(id + 1))), ts = ts)
        .writeTableMap(9, "bench", "d2", cols1, ts = ts)
        .writeInsert(9, cols1,
          Seq(Seq[Any](id, vocab(id + 7)), Seq[Any](id + 1, vocab(id + 8))), ts = ts)
      if (t % 3 == 2)
        w.writeTableMap(7, "bench", "d1", cols1, ts = ts)
          .writeUpdate(7, cols1, Seq(
            (Seq[Any](id - 2, vocab(id - 2)), Seq[Any](id - 2, vocab(id - 1)))), ts = ts)
      if (t % 4 == 3)
        w.writeTableMap(9, "bench", "d2", cols1, ts = ts)
          .writeDelete(9, cols1, Seq(Seq[Any](id - 3, vocab(id + 4))), ts = ts)
      w.writeXid(100L + t, ts = ts)
      id += 2
    }
    w.writeQuery("bench", "ALTER TABLE bench.d1 ADD COLUMN note VARCHAR(24)",
      ts = 2000)
    for (t <- 0 until 30) {
      val ts = 3000L + t
      w.writeQuery("bench", "BEGIN", ts = ts)
        .writeTableMap(8, "bench", "d1", cols2, ts = ts)
        .writeInsert(8, cols2,
          Seq(Seq[Any](id, vocab(id), s"n$id"),
              Seq[Any](id + 1, vocab(id + 1), s"n${id + 1}")), ts = ts)
        .writeTableMap(9, "bench", "d2", cols1, ts = ts)
        .writeInsert(9, cols1,
          Seq(Seq[Any](id, vocab(id + 7)), Seq[Any](id + 1, vocab(id + 8))), ts = ts)
      if (t % 3 == 1)
        // reword a GEN-1 d1 id under the evolved schema: its latest
        // image crosses the ALTER on the altered route
        w.writeTableMap(8, "bench", "d1", cols2, ts = ts)
          .writeUpdate(8, cols2, Seq(
            (Seq[Any](t, vocab(t), null), Seq[Any](t, vocab(t + 40), s"r$t"))), ts = ts)
      if (t % 4 == 1)
        // rewire a GEN-1 d2 id: the UNALTERED route's latest images
        // must also straddle the ALTER, or a resume bug that only
        // disturbs d2 would go unseen
        w.writeTableMap(9, "bench", "d2", cols1, ts = ts)
          .writeUpdate(9, cols1, Seq(
            (Seq[Any](t, vocab(t + 7)), Seq[Any](t, vocab(t + 50)))), ts = ts)
      w.writeXid(200L + t, ts = ts)
      id += 2
    }
    w.save(dir.resolve("binlog.000001").toString)
  }

  test("fan-out: d1's ALTER kills the multiplex, the evolved resume converges BOTH routes; d2's quantizer is untouched") {
    import graft.operators.{CdcBinlog, Similarity, TextAnalysis}
    import org.apache.spark.sql.functions.{max, struct}
    import spark.implicits._
    val work = java.nio.file.Files.createTempDirectory("graft-ddl-fanout")
    val fix = work.resolve("log")
    java.nio.file.Files.createDirectories(fix)
    writeFanoutEvolvedFixture(fix)
    val cap = math.max(
      CdcBinlog.fixtureBinlogBytes(spark, fix.toString) / 6, 1L)
    val idx1 = work.resolve("textindex").toString
    val idx2 = work.resolve("annindex").toString

    def start(ddl: String, evolution: Boolean, trigger: Trigger) = {
      val r = spark.readStream.format("mysql-binlog")
        .option("payloadDdl", ddl)
        .option("maxBytesPerTrigger", cap.toString)
      val r2 = if (evolution) r.option("ddlEvolution", "addColumns") else r
      r2.load(fix.toString)
        .writeStream
        .option("checkpointLocation", work.resolve("ckpt").toString)
        .foreachBatch { (batch: DataFrame, batchId: Long) =>
          // decode once, route two ways (cdcm11's hetero shape)
          val b = batch.persist()
          try {
            val i1 = CdcBinlog.cdcm4BatchImages(
              b.filter(b("table") === "d1"), batchId).persist()
            try {
              if (!i1.isEmpty)
                TextAnalysis.appendCdcTextSegment(i1, idx1, f"b$batchId%06d",
                  nBuckets = 4)
            } finally i1.unpersist()
            val i2 = CdcBinlog.cdcm5BatchImages(
              b.filter(b("table") === "d2"), batchId).persist()
            try {
              if (!i2.isEmpty)
                Similarity.appendCdcAnnSegment(i2, idx2, f"b$batchId%06d", k = 4)
            } finally i2.unpersist()
          } finally b.unpersist()
          ()
        }
        .trigger(trigger)
        .start()
    }

    // phase 1: the shared pre-ALTER ddl. d1's ALTER must kill the WHOLE
    // multiplex by name — with committed segments in BOTH structures.
    val q1 = start(ddl1, evolution = false, Trigger.ProcessingTime(0))
    val death = intercept[Throwable] {
      q1.processAllAvailable()
      q1.awaitTermination()
    }
    try q1.stop() catch { case _: Throwable => () }
    def messages(t: Throwable): Seq[String] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null).take(16)
        .map(e => Option(e.getMessage).getOrElse("")).toSeq
    assert(messages(death).exists(m =>
      m.contains("schema change") && m.contains("bench.d1")),
      s"expected the named schema-change failure on d1, got: $death")
    def segsOf(root: String): Int = graft.operators.ManifestFixtures.segs(spark, root).size
    assert(segsOf(idx1) >= 2 && segsOf(idx2) >= 2,
      s"death landed too early (d1 ${segsOf(idx1)}, " +
        s"d2 ${segsOf(idx2)} segments) — cap too coarse")
    def centroids(): Seq[String] =
      spark.read.parquet(s"${graft.operators.ManifestFixtures.generation(spark, idx2)}/centroids")
        .orderBy($"cell").collect().map(_.toString).toSeq
    val centAtDeath = centroids()

    // phase 2: payloadDdl = the evolved UNION schema (d2's narrower
    // images null-pad under addColumns — the unaltered route is
    // "pre-ALTER forever"), SAME checkpoint. The drain must complete.
    val q2 = start(ddl2, evolution = true, Trigger.AvailableNow())
    q2.awaitTermination()
    assert(centroids() === centAtDeath,
      "the resumed multiplex disturbed d2's quantizer — an ALTER on d1 " +
        "must be invisible to the other route's index geometry")

    // convergence, per route, against fresh single-append rebuilds over
    // the full evolved log's latest images
    val all = spark.read.format("mysql-binlog")
      .option("payloadDdl", ddl2)
      .option("ddlEvolution", "addColumns")
      .load(fix.toString)
    val ref1 = work.resolve("ref1").toString
    assert(TextAnalysis.appendCdcTextSegment(
      CdcBinlog.cdcm4BatchImages(all.filter(all("table") === "d1"), 0L),
      ref1, "b000000", nBuckets = 4))
    def textProbe(path: String): Seq[String] =
      TextAnalysis.bm25TopKViaCdcIndex(spark, path, Seq("alpha", "beta"), 100,
          nBuckets = 4)
        .orderBy($"r_sparse").collect().map(_.toString).toSeq
    assert(textProbe(idx1) === textProbe(ref1),
      "d1's maintained text index diverged from the post-ALTER ground truth")

    val ref2 = work.resolve("ref2").toString
    assert(Similarity.appendCdcAnnSegment(
      CdcBinlog.cdcm5BatchImages(all.filter(all("table") === "d2"), 0L),
      ref2, "b000000", k = 4))
    def annProbe(path: String): Seq[String] = {
      val live = spark.read.parquet(s"${graft.operators.ManifestFixtures.generation(spark, path)}/doclog").groupBy($"vec_id")
        .agg(max(struct($"ver", $"deleted")).as("m"))
        .select($"vec_id", $"m.ver".as("ver"), $"m.deleted".as("deleted"))
        .filter(!$"deleted")
      val probeVec = spark.read.parquet(s"${graft.operators.ManifestFixtures.generation(spark, path)}/cells")
        .join(live.select($"vec_id", $"ver"), Seq("vec_id", "ver"))
        .orderBy($"vec_id").select($"embedding")
        .head().getSeq[Long](0)
      Similarity.mipsTopKViaCdcAnnIndex(spark, path, probeVec, 100)
        .orderBy($"r_dense").collect().map(_.toString).toSeq
    }
    assert(annProbe(idx2) === annProbe(ref2),
      "d2's maintained ANN index diverged — the unaltered route was " +
        "disturbed by d1's evolution")
    rmTree(work)
  }

  test("an unknown ddlEvolution value is rejected by name") {
    val work = java.nio.file.Files.createTempDirectory("graft-ddl-opt")
    val fix = work.resolve("log")
    java.nio.file.Files.createDirectories(fix)
    new Writer(checksum = true).writeFormatDescription(ts = 1)
      .writeQuery("bench", "BEGIN", ts = 2)
      .writeTableMap(7, "bench", "doc", cols1, ts = 2)
      .writeInsert(7, cols1, Seq(Seq[Any](1, "alpha_1")), ts = 2)
      .writeXid(1, ts = 2)
      .save(fix.resolve("binlog.000001").toString)
    val e = intercept[Throwable] {
      spark.read.format("mysql-binlog")
        .option("payloadDdl", ddl1)
        .option("ddlEvolution", "dropColumns")
        .load(fix.toString)
        .collect()
    }
    def messages(t: Throwable): Seq[String] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null).take(16)
        .map(e => Option(e.getMessage).getOrElse("")).toSeq
    assert(messages(e).exists(m =>
      m.contains("ddlEvolution") && m.contains("addColumns")), e.toString)
    rmTree(work)
  }

  test("a positioned ADD COLUMN (FIRST/AFTER) fails even under ddlEvolution=addColumns") {
    // `ADD COLUMN ... AFTER id` REORDERS the row image: the pre-ALTER
    // rows are no longer a column-for-column prefix of the post-ALTER
    // schema, so a null-pad decode would silently misalign every value.
    // The guard must fail BY NAME despite the option — for both
    // positioned forms and for a multi-clause ALTER whose extra clause
    // is row-format-changing.
    for (alter <- Seq(
        "ALTER TABLE bench.doc ADD COLUMN note VARCHAR(24) AFTER id",
        "ALTER TABLE bench.doc ADD COLUMN note VARCHAR(24) FIRST",
        "ALTER TABLE bench.doc ADD COLUMN note VARCHAR(24), DROP COLUMN word",
        "ALTER TABLE bench.doc ADD COLUMN note VARCHAR(24), " +
          "CONVERT TO CHARACTER SET utf8mb4")) {
      val work = java.nio.file.Files.createTempDirectory("graft-ddl-pos")
      val fix = work.resolve("log")
      java.nio.file.Files.createDirectories(fix)
      new Writer(checksum = true).writeFormatDescription(ts = 1)
        .writeQuery("bench", "BEGIN", ts = 2)
        .writeTableMap(7, "bench", "doc", cols1, ts = 2)
        .writeInsert(7, cols1, Seq(Seq[Any](1, "alpha_1")), ts = 2)
        .writeXid(1, ts = 2)
        .writeQuery("bench", alter, ts = 3)
        .save(fix.resolve("binlog.000001").toString)
      val e = intercept[Throwable] {
        spark.read.format("mysql-binlog")
          .option("payloadDdl", ddl2)
          .option("ddlEvolution", "addColumns")
          .load(fix.toString)
          .collect()
      }
      def messages(t: Throwable): Seq[String] =
        Iterator.iterate(t)(_.getCause).takeWhile(_ != null).take(16)
          .map(e => Option(e.getMessage).getOrElse("")).toSeq
      assert(messages(e).exists(m =>
        m.contains("schema change") && m.contains("payloadDdl")),
        s"$alter should have failed by name, got: $e")
      rmTree(work)
    }
  }

  test("wider images still fail loudly even under ddlEvolution=addColumns") {
    val work = java.nio.file.Files.createTempDirectory("graft-ddl-wider")
    val fix = work.resolve("log")
    java.nio.file.Files.createDirectories(fix)
    // a 3-column image read under a 2-column ddl: NOT expressible as
    // trailing ADD COLUMN evolution — must fail whatever the option says
    new Writer(checksum = true).writeFormatDescription(ts = 1)
      .writeQuery("bench", "BEGIN", ts = 2)
      .writeTableMap(7, "bench", "doc", cols2, ts = 2)
      .writeInsert(7, cols2, Seq(Seq[Any](1, "alpha_1", "n1")), ts = 2)
      .writeXid(1, ts = 2)
      .save(fix.resolve("binlog.000001").toString)
    val e = intercept[Throwable] {
      spark.read.format("mysql-binlog")
        .option("payloadDdl", ddl1)
        .option("ddlEvolution", "addColumns")
        .load(fix.toString)
        .collect()
    }
    def messages(t: Throwable): Seq[String] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null).take(16)
        .map(e => Option(e.getMessage).getOrElse("")).toSeq
    assert(messages(e).exists(_.contains("payloadDdl")), e.toString)
    rmTree(work)
  }
}
