package graft.operators

import java.nio.file.Files
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Z-order layout: bit-level interleave correctness, locality of the key,
  * and the data-skipping payoff — per-file min/max envelopes from a
  * z-ordered write prune a trailing-dimension predicate box that a
  * linear layout cannot prune at all (that envelope comparison is
  * exactly what parquet file/row-group pruning evaluates).
  */
class ZOrderSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "8")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private def zorder(bits: Int, vals: Long*): java.lang.Long = {
    val cols = lit(bits) +: vals.map(v => lit(v))
    val r = spark.range(1)
      .select(call_function("graft_zorder", cols: _*).as("z")).head()
    if (r.isNullAt(0)) null else java.lang.Long.valueOf(r.getLong(0))
  }

  test("bit interleave: bit j of dim d lands at j*n + d") {
    assert(zorder(2, 3L, 0L) === 0x5L)   // dim0=11b -> bits 0 and 2
    assert(zorder(2, 0L, 3L) === 0xAL)   // dim1=11b -> bits 1 and 3
    assert(zorder(2, 3L, 3L) === 0xFL)
    assert(zorder(1, 1L, 0L, 1L) === 0x5L) // 3 dims, 1 bit each
    // worked pair under this convention (x=dim0 at even bits): x=5 (101),
    // y=3 (011) -> bits {0,4} from x, {1,3} from y -> 011011b = 27
    assert(zorder(3, 5L, 3L) === 27L)
  }

  test("null dimension nulls the key; SQL-path type errors are named") {
    val r = spark.range(1)
      .select(call_function("graft_zorder", lit(8),
        lit(null).cast("long"), lit(1L)).as("z")).head()
    assert(r.isNullAt(0))
    val e = intercept[Exception] {
      spark.range(1).select(call_function("graft_zorder", lit(8),
        lit("x"), lit(1L))).head()
    }
    assert(e.getMessage.toLowerCase.contains("bigint"))
  }

  test("the key is monotone in each dimension with the others fixed") {
    val ks = (0L to 15L).map(v => zorder(4, v, 7L).longValue())
    assert(ks === ks.sorted, "dim-0 sweep must be monotone")
    val ks2 = (0L to 15L).map(v => zorder(4, 7L, v).longValue())
    assert(ks2 === ks2.sorted, "dim-1 sweep must be monotone")
  }

  test("z-ordered envelopes prune a trailing-dim box linear layout cannot") {
    import spark.implicits._
    // a 100x100 grid: x is the linear sort key, y the trailing dimension
    val grid = spark.range(10000)
      .select(($"id" % 100).as("x"), ($"id" / 100).as("y"))
    val dir = Files.createTempDirectory("zorder-prune")
    val zDir = dir.resolve("z").toString
    val linDir = dir.resolve("lin").toString
    val nFiles = 16
    Layout.zorderCluster(grid, Seq("x", "y"), zDir, nFiles, bits = 8)
    Layout.linearCluster(grid, "x", linDir, nFiles)

    def overlapping(envDir: String, box: Map[String, (Long, Long)]): Long = {
      val env = Layout.fileEnvelopes(spark, envDir, Seq("x", "y"))
      val pred = box.map { case (c, (lo, hi)) =>
        col(s"max_$c") >= lo && col(s"min_$c") <= hi
      }.reduce(_ && _)
      env.filter(pred).count()
    }
    def files(envDir: String): Long =
      Layout.fileEnvelopes(spark, envDir, Seq("x", "y")).count()
    assert(files(zDir) === nFiles.toLong && files(linDir) === nFiles.toLong,
      "both layouts must actually produce the requested file count")

    // trailing-dim box (y only): linear files each span ALL of y — zero
    // pruning; z-ordered files are hyper-rectangles — most miss the box
    val yBox = Map("y" -> (40L, 49L))
    assert(overlapping(linDir, yBox) === nFiles.toLong,
      "a linear layout cannot prune on the trailing dimension")
    assert(overlapping(zDir, yBox) <= nFiles / 2,
      s"z-order must prune the trailing-dim box (got ${overlapping(zDir, yBox)} of $nFiles)")

    // both-dims box: z-order keeps pruning; the point is it prunes on ANY
    // subset of the clustered columns, not just the leading one
    val xyBox = Map("x" -> (40L, 49L), "y" -> (40L, 49L))
    assert(overlapping(zDir, xyBox) <= nFiles / 2)

    // losslessness of both writers on this frame
    assert(spark.read.parquet(zDir).count() === 10000L)
    assert(spark.read.parquet(linDir).count() === 10000L)
  }

  test("clustering is content-preserving on a real table slice") {
    import spark.implicits._
    val li = graft.core.Tables.lineitem(spark, "/root/testdata/sf0.001").toDF()
      .select($"l_orderkey", $"l_linenumber", $"l_partkey", $"l_suppkey")
    val dir = Files.createTempDirectory("zorder-content").resolve("z").toString
    Layout.zorderCluster(li, Seq("l_partkey", "l_suppkey"), dir, nFiles = 4)
    // multiset equality: the synthetic keys are duplicate-heavy, so no
    // prefix of columns is a total order — compare fully sorted rows
    val a = li.collect().map(_.toString).sorted
    val b = spark.read.parquet(dir).collect().map(_.toString).sorted
    assert(a.sameElements(b))
  }
}
