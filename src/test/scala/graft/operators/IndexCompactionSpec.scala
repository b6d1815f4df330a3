package graft.operators

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** The persisted text index's lifecycle gate and its bucket marker:
  *  - txt18's cached index ([[PersistedIndexes.textIndexLifecycle]])
  *    really is compacted — one `seg=base` per CDC leg, fenced at its
  *    last ingest batch — so the gate probes the folded layout;
  *  - the recorded term-bucket count (`_nbuckets`) fails by name when
  *    it is corrupt;
  *  - building a cached index deletes the same fixture's trees under
  *    other cache keys, and no other fixture's.
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
    val gen = ManifestFixtures.generation(spark, dir)
    assert(segDirs(s"$gen/postings") == Seq("seg=base"))
    assert(segDirs(s"$gen/doclog") == Seq("seg=base"))
    assert(ManifestFixtures.segs(spark, dir) === Set("seg=base"))
    assert(Layout.fenceOf(spark, dir) === Some(2L))
  }

  test("a cached build deletes its fixture's trees under older keys, not other fixtures'") {
    val tmp = java.nio.file.Paths.get(sys.props("java.io.tmpdir"))
    val fixture = s"spec${System.nanoTime()}-sf0.001"
    def tree(name: String) = tmp.resolve(name)
    val stale = tree(s"graft-index-k1-$fixture")
    val other = tree(s"graft-index-k1-other$fixture")
    Seq(stale, other).foreach { t =>
      java.nio.file.Files.createDirectories(t)
      java.nio.file.Files.writeString(t.resolve("_COMPLETE"), "ok")
    }
    try {
      val built = PersistedIndexes.cached(s"graft-index-k2-$fixture") { dir =>
        java.nio.file.Files.writeString(java.nio.file.Paths.get(dir, "data"), "x")
      }
      assert(java.nio.file.Files.exists(java.nio.file.Paths.get(built, "data")))
      assert(!java.nio.file.Files.exists(stale), "the stale-key tree survived the build")
      assert(java.nio.file.Files.exists(other.resolve("_COMPLETE")),
        "another fixture's tree was deleted")
    } finally Seq(stale, other, tree(s"graft-index-k2-$fixture")).foreach { t =>
      if (java.nio.file.Files.exists(t)) java.nio.file.Files.walk(t)
        .sorted(java.util.Comparator.reverseOrder())
        .forEach(p => java.nio.file.Files.deleteIfExists(p))
    }
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
