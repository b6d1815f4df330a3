package graft.operators

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** The file-level swap's crash states, reconstructed and recovered:
  * [[Layout.fileLevelSwap]] commits through its `_PENDING` marker, and
  * recoverPublish turns that marker into an automated step — roll an
  * incomplete swap back, vacuum a committed one's trash. The
  * segment-protocol structures' crash states (a fold that dies before
  * or after its manifest commit) are pinned in CdcFoldCrashResumeSpec.
  */
class PublishRecoverySpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private def fs = new org.apache.hadoop.fs.Path("/tmp")
    .getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def write(p: java.nio.file.Path, name: String, bytes: Byte*): Unit =
    java.nio.file.Files.write(p.resolve(name),
      bytes.toArray)

  private def names(dir: org.apache.hadoop.fs.Path): Set[String] =
    fs.listStatus(dir).map(_.getPath.getName).toSet

  /** The round-13 data-loss shape: a FILE-LEVEL swap (incrementalZorder
    * / q41) crashed after displaced files moved to trash and ONE
    * replacement renamed in. The old recovery rule ("live present ⇒
    * vacuum residues") would have deleted the only copies of the
    * displaced rows; the `_PENDING` marker now routes this to a
    * rollback that restores the exact pre-swap state.
    */
  test("incomplete file-level swap (marker present): rolls back, originals restored") {
    val work = java.nio.file.Files.createTempDirectory("graft-recov4")
    val liveDir = work.resolve("t")
    java.nio.file.Files.createDirectories(liveDir)
    write(liveDir, "part-base.parquet", 1)       // untouched non-candidate
    write(liveDir, "part-new1.parquet", 9)       // partial swap-in (re-derivable)
    val trashDir = work.resolve("t.ftrash-777")
    java.nio.file.Files.createDirectories(trashDir)
    write(trashDir, "part-b.parquet", 2)         // displaced — the ONLY copies
    write(trashDir, "part-c.parquet", 3)
    java.nio.file.Files.write(trashDir.resolve("_PENDING"),
      "part-new1.parquet\npart-new2.parquet".getBytes("UTF-8"))
    val live = new org.apache.hadoop.fs.Path(liveDir.toString)
    val r = Layout.recoverPublish(fs, live)
    assert(r.startsWith("rolled back"))
    assert(names(live) === Set("part-base.parquet", "part-b.parquet", "part-c.parquet"))
    assert(fs.listStatus(new org.apache.hadoop.fs.Path(work.toString)).length === 1)
    assert(Layout.recoverPublish(fs, live) === "clean")
  }

  test("committed file-level swap (marker absent): trash is garbage, vacuumed") {
    val work = java.nio.file.Files.createTempDirectory("graft-recov5")
    val liveDir = work.resolve("t")
    java.nio.file.Files.createDirectories(liveDir)
    write(liveDir, "part-new1.parquet", 9)
    val trashDir = work.resolve("t.ftrash-777")
    java.nio.file.Files.createDirectories(trashDir)
    write(trashDir, "part-b.parquet", 2)
    val live = new org.apache.hadoop.fs.Path(liveDir.toString)
    Layout.recoverPublish(fs, live)
    assert(names(live) === Set("part-new1.parquet"))
    assert(fs.listStatus(new org.apache.hadoop.fs.Path(work.toString)).length === 1)
  }

  test("fileLevelSwap end-to-end: staged files in, displaced gone, no residue") {
    val work = java.nio.file.Files.createTempDirectory("graft-recov6")
    val liveDir = work.resolve("t")
    val stageDir = work.resolve("stage")
    java.nio.file.Files.createDirectories(liveDir)
    java.nio.file.Files.createDirectories(stageDir)
    write(liveDir, "part-base.parquet", 1)
    write(liveDir, "part-old.parquet", 2)
    write(stageDir, "part-new.parquet", 3)
    val live = new org.apache.hadoop.fs.Path(liveDir.toString)
    Layout.fileLevelSwap(fs, live,
      Seq(new org.apache.hadoop.fs.Path(stageDir.resolve("part-new.parquet").toString)),
      Seq(new org.apache.hadoop.fs.Path(liveDir.resolve("part-old.parquet").toString)))
    assert(names(live) === Set("part-base.parquet", "part-new.parquet"))
    // no ftrash residue survives a completed swap
    assert(fs.listStatus(new org.apache.hadoop.fs.Path(work.toString))
      .map(_.getPath.getName).toSet === Set("t", "stage"))
  }

  test("pre-existing ftrash residue for this pid: swap refuses, names recoverPublish") {
    val work = java.nio.file.Files.createTempDirectory("graft-recov9")
    val liveDir = work.resolve("t")
    val stageDir = work.resolve("stage")
    java.nio.file.Files.createDirectories(liveDir)
    java.nio.file.Files.createDirectories(stageDir)
    write(liveDir, "part-old.parquet", 2)
    write(stageDir, "part-new.parquet", 3)
    val residue = work.resolve(s"t.ftrash-${ProcessHandle.current().pid()}")
    java.nio.file.Files.createDirectories(residue)
    val live = new org.apache.hadoop.fs.Path(liveDir.toString)
    val e = intercept[IllegalStateException](Layout.fileLevelSwap(fs, live,
      Seq(new org.apache.hadoop.fs.Path(stageDir.resolve("part-new.parquet").toString)),
      Seq(new org.apache.hadoop.fs.Path(liveDir.resolve("part-old.parquet").toString))))
    assert(e.getMessage.contains("recoverPublish"))
    // nothing moved: live and staging are untouched by the refusal
    assert(names(live) === Set("part-old.parquet"))
    assert(names(new org.apache.hadoop.fs.Path(stageDir.toString)) ===
      Set("part-new.parquet"))
  }
}
