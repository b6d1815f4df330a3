package graft.operators

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** The persisted text index's lifecycle gate and its bucket marker:
  *  - txt18's cached index ([[PersistedIndexes.textIndexLifecycle]])
  *    really is compacted — one `seg=base` per CDC leg, fenced at its
  *    last ingest batch — so the gate probes the folded layout;
  *  - the recorded term-bucket count (`_nbuckets`) fails by name when
  *    it is corrupt.
  * Compaction and re-bucketing of the CDC indexes are pinned in
  * [[CdcTextIndexSpec]] and [[CdcAnnIndexSpec]].
  */
class IndexCompactionSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "8")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  override def beforeAll(): Unit = graft.functions.GraftFunctions.register(spark)

  private val d = "/root/testdata/sf0.001"

  private def segDirs(path: String): Seq[String] = {
    val f = new java.io.File(path)
    f.listFiles().toSeq.map(_.getName).filter(_.startsWith("seg="))
  }

  private def withTmp(test: java.nio.file.Path => Unit): Unit = {
    val tmp = java.nio.file.Files.createTempDirectory("idxcompact")
    try test(tmp)
    finally java.nio.file.Files.walk(tmp)
      .sorted(java.util.Comparator.reverseOrder())
      .forEach(p => java.nio.file.Files.deleteIfExists(p))
  }

  test("txt18 lifecycle index: the gate probes a genuinely compacted layout") {
    // the cached gate index must end its three-batch ingest + compact
    // lifecycle as a single base segment in both CDC legs, fenced at the
    // last batch — otherwise the gate would be re-testing the
    // multi-segment merge-on-read path instead of compaction
    val dir = PersistedIndexes.textIndexLifecycle(spark, d)
    assert(segDirs(s"$dir/postings") == Seq("seg=base"))
    assert(segDirs(s"$dir/doclog") == Seq("seg=base"))
    val root = new org.apache.hadoop.fs.Path(dir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(Layout.foldedThrough(fs, root) === Some(2L))
  }

  test("a corrupt _nbuckets marker fails BY NAME; a missing one is None") {
    // an empty or garbled marker is a damaged layout claiming a
    // recorded count it cannot state — NumberFormatException escaping
    // through every probe/append/compact (ADVICE r17) told the caller
    // nothing; None would silently skip the verification the marker
    // exists for
    withTmp { tmp =>
      val dir = s"$tmp/idx"
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
      assert(TextAnalysis.textIndexBucketCount(spark, dir.toString).isEmpty)
      java.nio.file.Files.write(
        java.nio.file.Paths.get(dir, "_nbuckets"), Array.emptyByteArray)
      val e = intercept[IllegalStateException] {
        TextAnalysis.textIndexBucketCount(spark, dir)
      }
      assert(e.getMessage.contains("corrupt _nbuckets marker"))
      java.nio.file.Files.write(
        java.nio.file.Paths.get(dir, "_nbuckets"), "12x".getBytes("UTF-8"))
      val e2 = intercept[IllegalStateException] {
        TextAnalysis.textIndexBucketCount(spark, dir)
      }
      assert(e2.getMessage.contains("corrupt _nbuckets marker"))
      java.nio.file.Files.write(
        java.nio.file.Paths.get(dir, "_nbuckets"), "12".getBytes("UTF-8"))
      assert(TextAnalysis.textIndexBucketCount(spark, dir) === Some(12))
    }
  }
}
