package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** The probe-vs-fold race under REAL concurrency: a maintenance thread
  * repeatedly folds a CDC text index (each fold writes a new generation
  * and commits it by one manifest version — content constant, physical
  * layout replaced) while the main thread probes continuously. Every
  * completed probe must equal the reference result. A probe pins one
  * manifest version and nothing it pinned is renamed or deleted within
  * the next two folds, so the probes need no retry: the first test runs
  * them through [[Layout.retryOnceOnMissing]] (the benchmark's and the
  * gates' guard), the second runs them bare and counts every failure.
  */
class CdcProbeCompactRaceSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private def textImages(rows: (Int, String, Int, Boolean)*): DataFrame = {
    import spark.implicits._
    rows.toSeq.toDF("doc_id", "text", "ver", "deleted")
      .select($"doc_id".cast("long").as("doc_id"), $"text",
        $"ver".cast("long").as("ver"), $"deleted")
  }

  private val folds = 5

  /** A four-batch index, its probe, and the reference answer. */
  private def fixture(): (String, () => Seq[String]) = {
    graft.functions.GraftFunctions.register(spark)
    val work = java.nio.file.Files.createTempDirectory("graft-race")
    val idx = work.resolve("index").toString
    (0 until 4).foreach { b =>
      assert(TextAnalysis.appendCdcTextSegment(
        textImages((1 + 2 * b, s"alpha doc$b", b, false),
          (2 + 2 * b, s"alpha beta doc$b", b, false)),
        idx, f"b$b%06d", nBuckets = 4))
    }
    (idx, () => TextAnalysis.bm25TopKViaCdcIndex(spark, idx, Seq("alpha", "beta"), 10,
        nBuckets = 4)
      .orderBy("r_sparse").collect().map(_.toString).toSeq)
  }

  /** Run `probeOnce` until a maintenance thread has folded `idx` five
    * times; returns the number of probes.
    */
  private def raceFolds(idx: String)(probeOnce: Int => Unit): Int = {
    val failure = new java.util.concurrent.atomic.AtomicReference[Throwable]()
    val done = new java.util.concurrent.atomic.AtomicBoolean(false)
    val maintenance = new Thread(() => {
      try {
        (1 to folds).foreach { _ =>
          Thread.sleep(1000)
          TextAnalysis.compactCdcTextIndex(spark, idx, nBuckets = 4)
        }
      } catch { case t: Throwable => failure.set(t) }
      finally done.set(true)
    }, "graft-race-maintenance")
    maintenance.start()
    var probes = 0
    try {
      while (!done.get()) {
        probeOnce(probes)
        probes += 1
      }
    } finally maintenance.join()
    assert(failure.get() === null, s"maintenance thread failed: ${failure.get()}")
    assert(probes >= 3, s"only $probes probes completed — the race never ran")
    probes
  }

  test("continuous probes stay correct while a maintenance thread folds the index") {
    val (idx, bare) = fixture()
    def probe(): Seq[String] = Layout.retryOnceOnMissing(bare())
    val want = probe()
    assert(want.size === 8)
    val probes = raceFolds(idx) { n =>
      assert(probe() === want,
        s"probe $n observed a mixed or wrong version during a fold")
    }
    info(s"$probes probes raced $folds folds, all correct")
    assert(probe() === want)
  }

  test("probes without a retry guard never fail and never see a wrong version across 5 folds") {
    val (idx, probe) = fixture()
    val want = probe()
    assert(want.size === 8)
    val failures = scala.collection.mutable.ListBuffer.empty[String]
    val probes = raceFolds(idx) { n =>
      try {
        val got = probe()
        if (got != want) failures += s"probe $n answered $got"
      } catch {
        case scala.util.control.NonFatal(e) => failures += s"probe $n failed: $e"
      }
    }
    assert(failures.isEmpty,
      s"${failures.size} of $probes bare probes failed or mixed versions: " +
        failures.take(3).mkString("; "))
    info(s"$probes bare probes raced $folds folds, all correct")
    assert(ManifestFixtures.generations(idx).size <= 3,
      "the folds kept more than the current generation and the two before it")
  }
}
