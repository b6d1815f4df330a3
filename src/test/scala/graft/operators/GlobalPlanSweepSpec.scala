package graft.operators

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Anti-pattern sweep over EVERY registered gate's physical plan: any
  * future gate that plans a non-broadcast cartesian product fails here by
  * name before it melts a cluster. (Broadcast-of-one-row / broadcast-LUT
  * crossJoins plan as BroadcastNestedLoopJoin, which is the accepted
  * bounded pattern; `CartesianProduct` is the unbounded product Spark
  * only emits when both sides are non-broadcast — never acceptable.)
  *
  * Gates that EXECUTE work on invocation (streaming jobs, index builds,
  * bounded-rerank collects) are excluded: their plan properties are
  * pinned individually (`PlanShapeSpec`, `BatchKnnSpec`, …) and running
  * them here would re-run half the engine per suite.
  */
class GlobalPlanSweepSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "8")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private val d = "/root/testdata/sf0.001"

  // invoking these RUNS a streaming query / builds a persisted index /
  // executes a bounded driver-side fold — their AQE-final EXECUTED plans
  // are swept by ExecutedPlanSweepSpec via listener capture, so a gate
  // added to this set is never silently unswept
  private val executesOnCall = GlobalPlanSweepSpec.executesOnCall

  test("no gate plans a non-broadcast cartesian product") {
    val offenders = graft.SparkEntry.queries.toSeq
      .filterNot { case (name, _) => executesOnCall(name) }
      .sortBy(_._1)
      .flatMap { case (name, fn) =>
        val plan = fn(spark, d).queryExecution.executedPlan.toString
        if (plan.contains("CartesianProduct")) Some(name) else None
      }
    assert(offenders.isEmpty,
      s"gates planning CartesianProduct: ${offenders.mkString(", ")}")
  }

  // --- the sim09 bug class, generalized into the sweep -----------------
  // A rank/row_number Window with NO partitionBy funnels its whole input
  // through ONE task; a global Sort feeding further computation shuffles
  // and totally orders its whole input before the real work. Both are
  // fine over BOUNDED or REDUCED input (below a limit / TakeOrdered, or
  // above an aggregation that collapsed the corpus to |groups|) and fatal
  // over corpus-sized input. The gate-output total ORDER BY (the oracle
  // contract: every gate ends deterministically ordered) is exempt — it
  // feeds no computation, only the sink.

  import org.apache.spark.sql.execution.{SparkPlan, SortExec,
    TakeOrderedAndProjectExec, GlobalLimitExec, CollectLimitExec,
    LocalLimitExec, GenerateExec, ExpandExec}
  import org.apache.spark.sql.execution.window.WindowExec
  import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
  import org.apache.spark.sql.execution.joins.BaseJoinExec

  /** Input no longer corpus-sized: an aggregation collapsed it (grouped →
    * |groups| rows, global → 1) or a limit bounded it (LocalLimit bounds
    * at k·P — the per-partition-top-k merge pattern, accepted).
    */
  private def reduced(p: SparkPlan): Boolean = p.exists {
    case _: BaseAggregateExec => true
    case _: TakeOrderedAndProjectExec | _: GlobalLimitExec |
         _: CollectLimitExec | _: LocalLimitExec => true
    case _ => false
  }

  /** Walks the pre-AQE physical plan; `feedsComputation` becomes true
    * below any node that does real work (agg/join/window/generate/expand),
    * which is what separates a mid-plan global sort from the gate-output
    * ORDER BY at the root.
    */
  private def unpartitionedOffenders(p: SparkPlan,
                                     feedsComputation: Boolean = false): Seq[String] = {
    val here = p match {
      case w: WindowExec if w.partitionSpec.isEmpty && !reduced(w.child) =>
        Seq("unpartitioned Window over unreduced input")
      case s: SortExec if s.global && feedsComputation && !reduced(s.child) =>
        Seq("mid-plan global Sort over unreduced input")
      case _ => Nil
    }
    val childFlag = feedsComputation || (p match {
      case _: BaseAggregateExec | _: WindowExec | _: BaseJoinExec |
           _: GenerateExec | _: ExpandExec => true
      case _ => false
    })
    here ++ p.children.flatMap(unpartitionedOffenders(_, childFlag))
  }

  test("no gate plans an unpartitioned Window or mid-plan global Sort over unreduced input") {
    val offenders = graft.SparkEntry.queries.toSeq
      .filterNot { case (name, _) => executesOnCall(name) }
      .sortBy(_._1)
      .flatMap { case (name, fn) =>
        val bad = unpartitionedOffenders(fn(spark, d).queryExecution.sparkPlan)
        if (bad.nonEmpty) Some(s"$name (${bad.mkString("; ")})") else None
      }
    assert(offenders.isEmpty,
      s"gates with single-task plan shapes: ${offenders.mkString(", ")}")
  }

  test("the detector goes red on a deliberately unpartitioned rank window, green on the bounded shapes") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.expressions.Window
    val events = graft.core.Tables.events(spark, d)

    // the sim09 bug, reconstructed: rank over the whole corpus, one task
    val broken = events.withColumn("rn",
      row_number().over(Window.orderBy(col("ts"))))
    assert(unpartitionedOffenders(broken.queryExecution.sparkPlan).nonEmpty,
      "an unpartitioned corpus-sized rank window must be flagged")

    // mid-plan global sort: totally ordered corpus feeding an
    // order-SENSITIVE aggregation (EliminateSorts strips the sort before
    // order-insensitive consumers — Catalyst already fixes those; the
    // surviving shape is exactly the one worth flagging)
    val midSort = events.orderBy(col("ts"))
      .groupBy(col("user_id")).agg(collect_list(col("event_type")))
    assert(unpartitionedOffenders(midSort.queryExecution.sparkPlan).nonEmpty,
      "a global sort feeding computation must be flagged")

    // rankedTopK's shape: rank over TakeOrdered-bounded survivors — fine
    val bounded = events.orderBy(col("ts")).limit(50)
      .withColumn("rn", row_number().over(Window.orderBy(col("ts"))))
    assert(unpartitionedOffenders(bounded.queryExecution.sparkPlan).isEmpty,
      "a rank window over limit-bounded input is the accepted pattern")

    // rank over an aggregated frame (|groups| rows) — fine
    val aggRank = events.groupBy(col("event_type")).agg(count(lit(1)).as("n"))
      .withColumn("rn", row_number().over(Window.orderBy(col("n"))))
    assert(unpartitionedOffenders(aggRank.queryExecution.sparkPlan).isEmpty,
      "a rank window over an aggregated frame is fine")

    // the gate-output ORDER BY at the root — exempt by construction
    val outputSort = events.groupBy(col("event_type")).agg(count(lit(1)).as("n"))
      .orderBy(col("event_type"))
    assert(unpartitionedOffenders(outputSort.queryExecution.sparkPlan).isEmpty,
      "the oracle-contract output sort must stay exempt")
  }
}

object GlobalPlanSweepSpec {
  /** Shared contract between the lazy sweep (every gate NOT listed
    * here) and ExecutedPlanSweepSpec (exactly this set): together they
    * cover every registered gate, with zero per-gate hand exclusions
    * for new gates — a new lazy gate is swept automatically, and a new
    * execute-on-call gate added here is swept by listener capture.
    */
  val executesOnCall: Set[String] = Set(
    "st01_sliding_window", "st01b_durable_window", "st02_stream_dedup",
    "st03_stream_enrich", "st04_session_window", "st05_running_state",
    "st06_stream_join",
    "cdcm1_materialized_table", "cdcm2_incremental_agg",
    "cdcm3_incremental_join", "cdcm4_index_freshness",
    "cdcm5_ann_freshness", "cdcm6_dedup_freshness",
    "cdcm15_neardup_freshness",
    "cdcm7_compacted_index_freshness", "cdcm8_compacted_ann_freshness",
    "cdcm9_compacted_fp_freshness", "cdcm13_requantized_ann_freshness",
    "cdcm14_rebucketed_text_freshness", "cdcm16_policy_rebucket_freshness",
    "cdcm17_policy_requantize_freshness", "cdcm18_policy_compact_freshness",
    "cdcm19_policy_daemon_freshness", "cdcm20_advice_report",
    "cdcm21_batch_screen",
    "cdcm10_multi_index_routing",
    "cdcm11_hetero_index_routing",
    "cdcb20_bounded_admission",
    "q35_zorder_layout", // writes + reads back a clustered copy on call
    "sim13_mmr_rerank",
    "sim14_kmeans_train", // iterates: collects bounded centroid scalars per round
    "q33_basket_lift", // persists + counts the basket frame up front
    "dd06b_via_index", "sim03b_via_index", "sim05b_via_index",
    "sim07b_via_index", "sim09b_hybrid_indexed", "sim11b_range_via_index",
    "txt18_index_lifecycle", "sim08_ivf_pq", // probes the PERSISTED index — building it is the execution
    "sim10_ivfpq_knn_join", "sim10b_knn_shuffle",
    "dd12_fuzzy_join", // localCheckpoints (cache-release contract); lazy twin pinned in PlanShapeSpec
    "dd06_incremental_dedup", "dd10_semantic_dedup", "dd09_dup_clusters",
    "mm09_media_canonical", // connected-components loop executes rounds
    "txt19_heavy_hitters",  // token total aggregates up front
    // wave-2/3 additions that run a full streaming job / write-path /
    // driver-bounded fold on call: their returned frames are checkpoint
    // scans (nothing for the sweep to inspect) and executing them twice
    // per suite is pure runtime
    "st03b_durable_enrich", "st04b_durable_session", "st05b_durable_state",
    "st07_stream_outer_join", "st08_backfill_union", "st09_denylist_filter",
    "q36_manifest_pruned_scan", "q40_bloom_pruned_scan",
    "q41_surgical_delete", "q43_shard_export", "q44_incremental_optimize", "cdcb21_asof_image",
    "sim15_trained_ivf",
    "dd13_bloom_decontaminate", "graph03_triangles", "txt23_bpe_merges")
}
