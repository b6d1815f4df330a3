package graft.operators

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.GraftPlanInfoBridge
import org.apache.spark.sql.execution.GraftPlanInfoBridge.Node
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import scala.jdk.CollectionConverters._

/** The EXECUTED-plan sweep — closes the lazy sweep's blind spot.
  *
  * `GlobalPlanSweepSpec` inspects gates whose invocation is lazy; the
  * execute-on-call gates (streaming jobs, index builds, write paths —
  * `GlobalPlanSweepSpec.executesOnCall`) return checkpoint scans with
  * nothing to inspect, and each new one used to join a growing
  * hand-pinned blind set. Here every one of them RUNS under a listener
  * that captures the AQE-FINAL `SparkPlanInfo` tree of every SQL
  * execution it triggers — micro-batches, index writes, read-backs,
  * driver-bounded folds — and the same two detectors run over the
  * captured trees: non-broadcast cartesian products, and single-task
  * shapes (unpartitioned Window / mid-plan global Sort over unreduced
  * input). No per-gate exclusions: a new gate added to executesOnCall
  * is swept automatically.
  */
class ExecutedPlanSweepSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "8")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private val d = "/root/testdata/sf0.001"

  // --- detectors over captured Node trees ------------------------------
  // Mirrors GlobalPlanSweepSpec's SparkPlan walkers, re-expressed over
  // the listener's string-bearing nodes. Formats pinned by the probes
  // below: an unpartitioned Window prints two top-level bracket groups
  // ("Window [exprs], [order]"), a partitioned one three; a global Sort
  // prints "Sort [order], true, 0".

  private def isAgg(n: String) = n.contains("Aggregate")
  private def isLimit(n: String) =
    n == "TakeOrderedAndProject" || n.endsWith("Limit")
  private def reduced(n: Node): Boolean =
    n.exists(c => isAgg(c.nodeName) || isLimit(c.nodeName))
  private def isCompute(n: String) =
    isAgg(n) || n.contains("Join") || n == "Window" || n == "Generate" ||
      n == "Expand"
  private def windowPartitioned(s: String): Boolean =
    s.split("\\], \\[").length >= 3
  private def sortGlobal(s: String): Boolean = s.contains("], true,")

  private def collectNodes(n: Node): Seq[Node] =
    n +: n.children.flatMap(collectNodes)

  private def offendersIn(n: Node, feeds: Boolean = false): Seq[String] = {
    val here = n.nodeName match {
      case "CartesianProduct" => Seq("CartesianProduct")
      case "Window"
          if !windowPartitioned(n.simpleString) &&
            !n.children.exists(reduced) =>
        Seq("unpartitioned Window over unreduced input")
      case "Sort"
          if sortGlobal(n.simpleString) && feeds &&
            !n.children.exists(reduced) =>
        Seq("mid-plan global Sort over unreduced input")
      case _ => Nil
    }
    val childFlag = feeds || isCompute(n.nodeName)
    here ++ n.children.flatMap(offendersIn(_, childFlag))
  }

  test("detector formats: probe plans trip / pass as designed") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.expressions.Window
    val cap = new GraftPlanInfoBridge.Capture
    spark.sparkContext.addSparkListener(cap)
    try {
      val df = spark.range(200).toDF("id")
        .withColumn("g", pmod(col("id"), lit(5)))
      def run(q: org.apache.spark.sql.DataFrame): Seq[String] = {
        val before = cap.plans.keySet().asScala.toSet
        q.write.mode("overwrite").format("noop").save()
        GraftPlanInfoBridge.drain(spark.sparkContext)
        cap.plans.asScala.toSeq.collect {
          case (id, tree) if !before(id) => offendersIn(tree)
        }.flatten.toSeq
      }
      // unpartitioned corpus rank: must trip through the live capture
      assert(run(df.withColumn("rn",
        row_number().over(Window.orderBy(col("id"))))).nonEmpty)
      // partitioned rank: must pass
      assert(run(df.withColumn("rn",
        row_number().over(Window.partitionBy(col("g")).orderBy(col("id"))))).isEmpty)
      // rank above an aggregation (|groups| rows): must pass
      assert(run(df.groupBy(col("g")).agg(count(lit(1)).as("n"))
        .withColumn("rn", row_number().over(Window.orderBy(col("n"))))).isEmpty)
      // Pin the GLOBAL-Sort string format from a live plan: a collect()
      // retains a user orderBy (write paths — noop AND parquet — let
      // Catalyst eliminate root sorts entirely, which is itself why a
      // global sort that SURVIVES into an executed plan is worth
      // flagging). The root-output sort must stay exempt (feeds no
      // computation).
      val before = cap.plans.keySet().asScala.toSet
      df.orderBy(col("g")).collect()
      GraftPlanInfoBridge.drain(spark.sparkContext)
      val sortTrees = cap.plans.asScala.toSeq
        .collect { case (id, tree) if !before(id) => tree }
      val globalSorts = sortTrees.flatMap(t => collectNodes(t).filter(n =>
        n.nodeName == "Sort" && sortGlobal(n.simpleString)))
      assert(globalSorts.nonEmpty,
        "expected the collect() to retain a global Sort — the " +
          "format probe has nothing to pin")
      assert(sortTrees.flatMap(t => offendersIn(t)).isEmpty,
        "a root-output sort (feeding only the sink) must stay exempt")
      // feeds-computation logic on the pinned format: the same Sort
      // node UNDER an aggregate must trip, and CartesianProduct by name
      val pinnedSort = globalSorts.head
      val under = Node("HashAggregate", "HashAggregate(keys=[g], functions=[collect_list(id)])",
        Seq(pinnedSort))
      assert(offendersIn(under).nonEmpty,
        "a global Sort feeding computation must be flagged")
      assert(offendersIn(Node("CartesianProduct", "CartesianProduct", Nil)).nonEmpty)
    } finally spark.sparkContext.removeSparkListener(cap)
  }

  test("every execute-on-call gate's executed plans avoid cartesian " +
      "products and single-task shapes") {
    val registered = graft.SparkEntry.queries
    val stale = GlobalPlanSweepSpec.executesOnCall -- registered.keySet
    assert(stale.isEmpty, s"executesOnCall names unknown gates: $stale")

    val cap = new GraftPlanInfoBridge.Capture
    spark.sparkContext.addSparkListener(cap)
    try {
      val offenders = registered.toSeq.sortBy(_._1)
        .filter { case (n, _) => GlobalPlanSweepSpec.executesOnCall(n) }
        .flatMap { case (name, fn) =>
          val before = cap.plans.keySet().asScala.toSet
          val res = fn(spark, d)
          // noop write: executes the returned frame with its full
          // column set (a count would let pruning collapse the plan)
          res.write.mode("overwrite").format("noop").save()
          GraftPlanInfoBridge.drain(spark.sparkContext)
          cap.plans.asScala.toSeq.collect {
            case (id, tree) if !before(id) =>
              offendersIn(tree).map(o => s"$name#$id ($o)")
          }.flatten
        }
      assert(offenders.isEmpty,
        s"executed-plan offenders:\n  ${offenders.mkString("\n  ")}")
    } finally spark.sparkContext.removeSparkListener(cap)
  }
}
