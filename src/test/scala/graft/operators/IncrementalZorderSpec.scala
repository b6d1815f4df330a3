package graft.operators

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Incremental OPTIMIZE's payoff and bookkeeping (the cost/idempotence
  * side is gate q44): the rewritten tail's per-file envelopes prune a
  * predicate box that the unsorted ingest files could not prune at all,
  * content survives bit-identically, and a manifest-less table treats
  * everything as tail (full optimize).
  */
class IncrementalZorderSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "8")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private def table() = spark.range(20000).select(
    col("id"),
    pmod(xxhash64(col("id")), lit(10000)).as("x"),
    pmod(xxhash64(col("id"), lit(7)), lit(10000)).as("y"))

  /** Files whose (x, y) envelope overlaps a small corner box. */
  private def overlapping(dir: String, names: Set[String]): Int =
    Layout.fileEnvelopes(spark, dir, Seq("x", "y")).collect()
      .filter(r => names(new org.apache.hadoop.fs.Path(
        r.getAs[String]("file")).getName))
      .count { r =>
        r.getAs[Long]("min_x") <= 1000 && r.getAs[Long]("max_x") >= 0 &&
          r.getAs[Long]("min_y") <= 1000 && r.getAs[Long]("max_y") >= 0
      }

  private def names(dir: String): Set[String] = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.listStatus(p).filter(f => f.isFile && !f.getPath.getName.startsWith("_"))
      .map(_.getPath.getName).toSet
  }

  test("rewritten tail prunes a corner box the unsorted ingest could not") {
    graft.functions.GraftFunctions.register(spark)
    val work = java.nio.file.Files.createTempDirectory("graft-izo")
    val out = work.resolve("t").toString
    val df = table()
    Layout.zorderCluster(df.filter(col("id") % 10 < 7), Seq("x", "y"), out, 4)
    Layout.recordClustered(spark, out)
    val baseNames = names(out)
    df.filter(col("id") % 10 >= 7).repartition(3)
      .write.mode("append").parquet(out)
    val ingestNames = names(out) -- baseNames
    // unsorted ingest: hash-split files all span the whole (x, y) space
    assert(overlapping(out, ingestNames) === ingestNames.size,
      "random ingest files should not prune (premise)")
    val before = spark.read.parquet(out).orderBy("id")
      .collect().map(_.toString).toSeq
    assert(Layout.incrementalZorder(spark, out, Seq("x", "y"), 4) === 3)
    val tailNames = names(out) -- baseNames
    assert(tailNames.size === 4)
    // the z-ordered tail run: a 1/100-area corner box misses most files
    assert(overlapping(out, tailNames) < tailNames.size,
      "optimized tail envelopes must prune the corner box")
    // content preserved exactly
    val after = spark.read.parquet(out).orderBy("id")
      .collect().map(_.toString).toSeq
    assert(after === before)
    val tw = java.nio.file.Files.walk(work)
    try tw.sorted(java.util.Comparator.reverseOrder())
      .forEach(p => java.nio.file.Files.deleteIfExists(p))
    finally tw.close()
  }

  test("no manifest -> everything is tail (full optimize), then idempotent") {
    graft.functions.GraftFunctions.register(spark)
    val work = java.nio.file.Files.createTempDirectory("graft-izo2")
    val out = work.resolve("t").toString
    table().repartition(5).write.mode("overwrite").parquet(out)
    assert(Layout.incrementalZorder(spark, out, Seq("x", "y"), 2) === 5)
    assert(Layout.incrementalZorder(spark, out, Seq("x", "y"), 2) === 0)
    val tw = java.nio.file.Files.walk(work)
    try tw.sorted(java.util.Comparator.reverseOrder())
      .forEach(p => java.nio.file.Files.deleteIfExists(p))
    finally tw.close()
  }

  test("a crashed run's staged tail is removed by the next run") {
    graft.functions.GraftFunctions.register(spark)
    val work = java.nio.file.Files.createTempDirectory("graft-izo3")
    val out = work.resolve("t").toString
    table().repartition(3).write.mode("overwrite").parquet(out)
    // a run that died after staging, before its swap: a full staged copy
    val stale = work.resolve("t.optimize-999999")
    table().write.parquet(stale.toString)
    // another table's staging beside it is not this table's to remove
    val other = work.resolve("t2.optimize-999999")
    java.nio.file.Files.createDirectories(other)
    val before = spark.read.parquet(out).orderBy("id").collect().toSeq
    assert(Layout.incrementalZorder(spark, out, Seq("x", "y"), 2) === 3)
    assert(!java.nio.file.Files.exists(stale), "stale staging survived the next run")
    assert(java.nio.file.Files.exists(other), "another table's staging was removed")
    assert(spark.read.parquet(out).orderBy("id").collect().toSeq === before)
    val left = Option(work.toFile.listFiles()).toSeq.flatten.map(_.getName).toSet
    assert(left === Set("t", "t.clustered-manifest", "t2.optimize-999999"), s"residues: $left")
    val tw = java.nio.file.Files.walk(work)
    try tw.sorted(java.util.Comparator.reverseOrder())
      .forEach(p => java.nio.file.Files.deleteIfExists(p))
    finally tw.close()
  }
}
