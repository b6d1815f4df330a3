package graft.operators

import java.nio.file.Files
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Dynamic partition pruning (DPP) — the partitioned-table counterpart of
  * the bloom runtime filter (`RuntimeFilterSpec`), and with the z-order
  * work the third leg of the 100 TB scan-reduction story: static pruning
  * needs the predicate on the partition column at plan time; DPP derives
  * it AT RUNTIME from the other side of a join, so "facts for the months
  * some filtered dimension selects" reads only those month directories
  * instead of the whole table.
  *
  * The engine's production tables are written partition-directory-per-key
  * where a dominant access dimension exists (the CdcMaterializer's base,
  * hashed on the key into files, is the file-level cousin); this spec stages orders partitioned
  * by month, joins on the partition column against a dimension filtered
  * OFF-join-key (so static pushdown cannot see it), and pins:
  *  - the optimized plan carries a `dynamicpruning` predicate on the
  *    fact's partition attribute, and
  *  - the join result equals the statically-filtered recomputation
  *    (pruning must be invisible in results).
  */
class PartitionPruningSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "8")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  test("a filtered dim joined on the partition column injects dynamicpruning and prunes correctly") {
    import spark.implicits._
    val d = "/root/testdata/sf0.001"
    val dir = Files.createTempDirectory("dpp").resolve("orders_by_month").toString
    val orders = graft.core.Tables.orders(spark, d).toDF()
      .withColumn("o_month", date_format($"o_orderdate", "yyyy-MM"))
    orders.write.partitionBy("o_month").mode("overwrite").parquet(dir)

    // month dimension with an attribute OFF the join key; the filter is
    // on the attribute, so only a runtime subquery can prune partitions
    val monthDim = orders.select($"o_month").distinct()
      .withColumn("quarter", substring($"o_month", 6, 2).cast("int"))
      .localCheckpoint(true) // freeze: the dim must not re-derive from the fact scan

    val fact = spark.read.parquet(dir)
    val joined = fact.join(monthDim.filter($"quarter" === 3), Seq("o_month"))
      .groupBy($"o_month")
      .agg(count(lit(1)).as("n"), sum($"o_totalprice").as("rev"))

    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.toLowerCase.contains("dynamicpruning"),
      s"expected a dynamic partition pruning filter on the fact scan, plan:\n$plan")

    val got = joined.orderBy($"o_month").collect().map(_.toString).toSeq
    val want = fact.filter(substring($"o_month", 6, 2).cast("int") === 3)
      .groupBy($"o_month")
      .agg(count(lit(1)).as("n"), sum($"o_totalprice").as("rev"))
      .orderBy($"o_month").collect().map(_.toString).toSeq
    assert(got.nonEmpty && got === want)
  }
}
