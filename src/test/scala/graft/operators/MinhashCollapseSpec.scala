package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** dd02's identical-text pre-collapse: the band join runs on one
  * representative per distinct raw text, so a g-copy duplicate group
  * (this corpus has a 347-copy name; the spec uses 1000) no longer
  * pushes g²/2 rows through the join — the required all-pairs OUTPUT
  * is reconstructed by local array expansion instead. Pinned here:
  * (1) output equality with the pre-collapse formulation on a mixed
  * corpus, (2) the 1000-copy group's intra pairs are exact, and
  * (3) the JOIN layer's total output rows stay bounded by the
  * distinct-text count while the result holds ~500k pairs.
  */
class MinhashCollapseSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "8")
    // static plans so per-node join metrics are collectable by a
    // plain tree traversal (the gate itself runs under AQE)
    .config("spark.sql.adaptive.enabled", "false")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private def corpus(rows: Seq[(String, String)]): DataFrame = {
    import spark.implicits._
    rows.toDF("doc_id", "text")
  }

  private val tA = "the quick brown fox jumps over the lazy dog near the river bank today"
  private val tB = "the quick brown fox jumps over the lazy dog near the river bank tonight"
  private val tC = "completely unrelated text about spark catalyst optimizer internals and shuffles"

  test("collapsed output equals the pre-collapse formulation on a mixed corpus") {
    val rows =
      (0 until 40).map(i => (f"dupA_$i%04d", tA)) ++
        (0 until 3).map(i => (f"dupB_$i%04d", tB)) ++
        Seq(("solo_c", tC))
    val docs = corpus(rows)
    val got = Dedup.dd02PairsCollapsed(docs).collect()
      .map(r => (r.getString(0), r.getString(1), r.getDouble(2))).sorted
    val want = Dedup.dd02PairsNaive(docs).collect()
      .map(r => (r.getString(0), r.getString(1), r.getDouble(2))).sorted
    assert(got.nonEmpty)
    assert(got === want)
    // intra pairs of the 40-copy group have Jaccard exactly 1.0
    val intraA = got.filter(p => p._1.startsWith("dupA") && p._2.startsWith("dupA"))
    assert(intraA.length === 40 * 39 / 2)
    assert(intraA.forall(_._3 === 1.0))
  }

  test("1000-copy group: ~500k output pairs, but the join layer stays " +
      "bounded by distinct-text count") {
    val rows =
      (0 until 1000).map(i => (f"dup_$i%06d", tA)) ++
        (0 until 2).map(i => (f"dupB_$i%04d", tB)) ++
        Seq(("solo_c", tC))
    val res = Dedup.dd02PairsCollapsed(corpus(rows))
    // execute res's OWN physical plan (res.count() would build a new
    // one and leave these metrics untouched)
    val n = res.queryExecution.toRdd.count()
    // intra(1000) + intra(2) + any cross pairs the banding admits
    assert(n >= 1000L * 999 / 2)
    val joinOut = res.queryExecution.executedPlan.collect {
      case j: BaseJoinExec => j.metrics.get("numOutputRows").map(_.value).getOrElse(0L)
    }.sum
    // 3 distinct texts -> rep-level band join + two expansion joins emit
    // a handful of rows; the old formulation pushed >=499500 through here
    assert(joinOut < 100,
      s"join layer emitted $joinOut rows — collapse is not bounding the pair join")
  }
}
