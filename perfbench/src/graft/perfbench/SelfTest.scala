package graft.perfbench

import java.io.File
import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.streaming.CdcMaterializer

/** The benchmark's own checks: `SelfTest <scratch dir>`; exits non-zero
  * when one fails.
  */
object SelfTest {
  private var failures = 0

  private def expect(ok: Boolean, what: String): Unit = {
    System.err.println(s"[selftest] ${if (ok) "ok  " else "FAIL"} $what")
    if (!ok) failures += 1
  }

  /** The cdcb4 shape: latest image per key in (file ordinal, file, pos,
    * seq) order, deleted keys dropped.
    */
  private def latestImages(changes: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("id")).orderBy(
      CdcMaterializer.fileSeq(col("log_file")).desc, col("log_file").desc,
      col("log_pos").desc, col("log_seq").desc)
    changes.filter(col("_delta_type") =!= "update-before")
      .withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1 && col("_delta_type") =!= "delete")
      .select(col("id"), col("n"), col("txt"))
  }

  private def bytes(d: File): Seq[(String, Seq[Byte])] =
    d.listFiles().toSeq.sortBy(_.getName).map(f => f.getName -> Files.readAllBytes(f.toPath).toSeq)

  /** A closed log of `txns` transactions of 10 changes, rotating every 64 KiB. */
  private def closedLog(dir: File, seed: Long, txns: Int): ChangeGen = {
    val gen = new ChangeGen(seed, keys = 500, skew = 0.99, deleteShare = 0.1, TextModel.Plain)
    val bd = new BinlogDir(dir, maxBytes = 64L << 10, clock = () => 1700000000L)
    (0 until txns).foreach(_ => bd.append(1700000000L, gen.txn(10)))
    bd.close()
    gen
  }

  def main(args: Array[String]): Unit = {
    val tmp = new File(args(0))

    // the generator is deterministic per seed, down to the log bytes
    val a = new File(tmp, "a"); val b = new File(tmp, "b"); val c = new File(tmp, "c")
    closedLog(a, 11, 300); closedLog(b, 11, 300); closedLog(c, 12, 300)
    expect(bytes(a) == bytes(b), "same seed, same binlog bytes")
    expect(bytes(a) != bytes(c), "another seed, other binlog bytes")
    val s1 = new ChangeGen(5, 100, 0.99, 0.1, new TextModel.Screen(8, 0.2, 0.3, 5))
    val s2 = new ChangeGen(5, 100, 0.99, 0.1, new TextModel.Screen(8, 0.2, 0.3, 5))
    expect((0 until 200).map(_ => s1.txn(3)) == (0 until 200).map(_ => s2.txn(3)),
      "same seed, same screening documents")

    // percentiles (nearest rank) and interval coverage
    val xs = (1 to 100).map(_.toDouble).reverse
    expect(Stats.pct(xs, 50) == 50 && Stats.pct(xs, 99) == 99 && Stats.pct(xs, 100) == 100 &&
      Stats.pct(xs, 1) == 1, "percentiles of 1..100")
    expect(Stats.pct(Seq(7.0), 99) == 7 && Stats.pct(Nil, 50) == 0 &&
      Stats.pct(Seq(1.0, 2.0, 3.0, 4.0), 50) == 2, "percentiles of small samples")
    expect(Stats.covered(Seq((0.0, 2.0), (1.0, 3.0), (5.0, 6.0)), 0, 10) == 4 &&
      Stats.covered(Seq((0.0, 10.0)), 2, 4) == 2, "interval coverage")

    val s = SparkSession.builder().master("local[2]")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.local.dir", new File(tmp, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(tmp, "warehouse").getPath)
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .getOrCreate()
    try {
      // a closed generated log decodes strictly: no torn tail anywhere
      val gen = closedLog(new File(tmp, "strict"), 21, 400)
      val files = new File(tmp, "strict").listFiles().count(_.getName.matches("binlog\\.\\d+"))
      val rows = latestImages(s.read.format("mysql-binlog")
        .option("payloadDdl", Kv.PayloadDdl).option("onTornTail", "fail")
        .load(new File(tmp, "strict").getPath)).collect().toSeq
      expect(files >= 3, s"the log rotated ($files files)")
      expect(Workloads.diffState(gen.live, rows) == 0,
        s"onTornTail=fail decode equals the generator's final state (${rows.size} keys)")

      // a corrupted answer is reported as a failure
      val (k, (n, t)) = gen.live.head
      val corrupt = rows.map(r => if (r.getInt(0) == k) Row(k, n, t + "!") else r)
      expect(Workloads.diffState(gen.live, corrupt) == 1, "one wrong image is one mismatch")
      expect(Workloads.diffState(gen.live, rows :+ Row(-1, 0L, "x")) == 1, "an extra key is a mismatch")
      expect(Workloads.diffState(gen.live, rows.tail) == 1, "a missing key is a mismatch")
      val r = new Run(s, tmp, new Tracer(false, "selftest"), None, new ProgressLog, 0, 0)
      r.check(Workloads.diffState(gen.live, corrupt) == 0, "corrupted answer")
      expect(r.attempted == 1 && r.failed == 1, "the run counts the corrupted answer as failed")
    } finally s.stop()

    System.err.println(s"[selftest] ${if (failures == 0) "all passed" else s"$failures failed"}")
    sys.exit(if (failures == 0) 0 else 1)
  }
}
