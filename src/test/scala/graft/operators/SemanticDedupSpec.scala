package graft.operators

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** [[Similarity.dd10SemanticDedup]] keep-rule semantics on a hand-built
  * corpus: identical vectors collapse to one survivor (the smallest id),
  * orthogonal vectors survive untouched, and the per-cell stats count
  * pairs vs removals distinctly (3 pairwise dups among 3 identical
  * vectors remove exactly 2 vectors).
  */
class SemanticDedupSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[2]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  test("identical vectors collapse to the smallest id; orthogonal survive") {
    import spark.implicits._
    // seeds (vec_id < k): two orthogonal directions -> two cells.
    // vec 2, 3, 4 are the SAME direction as seed 0 (identical after
    // normalization: cos = 1); vec 5 is seed 1's direction; vec 6 is a
    // mix closer to seed 1 but far from everything (no dup pair).
    val e = Seq(
      (0L, "a", Array(1f, 0f, 0f, 0f)),
      (1L, "a", Array(0f, 1f, 0f, 0f)),
      (2L, "a", Array(2f, 0f, 0f, 0f)),
      (3L, "a", Array(3f, 0f, 0f, 0f)),
      (4L, "a", Array(0.5f, 0f, 0f, 0f)),
      (5L, "a", Array(0f, 4f, 0f, 0f)),
      (6L, "a", Array(0f, 3f, 3f, 0f))
    ).toDF("vec_id", "label", "embedding")
    // call the pipeline pieces directly on the tiny frame (k = 2 seeds)
    val assigned = Similarity.assignCells(e, 2)
    val cells = assigned.collect().map(r => r.getLong(0) -> r.getInt(3)).toMap
    assert(Seq(0L, 2L, 3L, 4L).forall(cells(_) == 0), cells.toString)
    assert(Seq(1L, 5L, 6L).forall(cells(_) == 1), cells.toString)

    val a = assigned.select($"cell", $"vec_id".as("vec_a"), $"embedding".as("ea"))
    val b = assigned.select($"cell", $"vec_id".as("vec_b"), $"embedding".as("eb"))
    import org.apache.spark.sql.functions._
    val tau = 0.99
    val pairs = a.join(b, "cell").filter($"vec_a" < $"vec_b")
      .select($"cell", $"vec_b", VectorOps.cosine($"ea", $"eb").as("cos"))
    val stats = pairs.groupBy($"cell").agg(
      sum(($"cos" >= tau).cast("long")).as("n_dup_pairs"),
      countDistinct(when($"cos" >= tau, $"vec_b")).as("n_removed"))
      .collect().map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2))).toMap
    // cell 0: {0,2,3,4} all colinear -> C(4,2)=6 dup pairs, removed =
    // {2,3,4} (everything but the smallest id)
    assert(stats(0) === ((6L, 3L)), stats.toString)
    // cell 1: {1,5} colinear (1 pair, removes 5); 6 is 45 degrees off ->
    // no pair reaches tau
    assert(stats(1) === ((1L, 1L)), stats.toString)
  }

  test("capped pipeline matches the uncapped keep-rule when cells fit in reps") {
    import spark.implicits._
    val e = Seq(
      (0L, "a", Array(1f, 0f, 0f, 0f)),
      (1L, "a", Array(0f, 1f, 0f, 0f)),
      (2L, "a", Array(2f, 0f, 0f, 0f)),
      (3L, "a", Array(3f, 0f, 0f, 0f)),
      (4L, "a", Array(0.5f, 0f, 0f, 0f)),
      (5L, "a", Array(0f, 4f, 0f, 0f)),
      (6L, "a", Array(0f, 3f, 3f, 0f))
    ).toDF("vec_id", "label", "embedding")
    // every cell holds <= 4 vectors < reps = 8, so the representative cap
    // is inactive and the capped pipeline must equal the uncapped rule
    val out = Similarity.semanticDedup(e, tau = 0.99, kk = 2, reps = 8)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(out.toSeq === Seq((0, 4L, 6L, 3L), (1, 3L, 1L, 1L)), out.mkString(", "))
  }

  test("cellsFor scaling curve: ~N/64 cells, clamped to [16, 65536]") {
    assert(VectorOps.cellsFor(1) === 16)
    assert(VectorOps.cellsFor(500) === 16)       // the sf0.01 gate geometry
    assert(VectorOps.cellsFor(2000) === 32)      // sf0.1
    assert(VectorOps.cellsFor(1000000) === 15625)
    assert(VectorOps.cellsFor(100000000000L) === 65536)  // clamp ceiling
    // monotone non-decreasing across the family
    val pts = Seq(1L, 100L, 1000L, 100000L, 10000000L, 1000000000L)
      .map(VectorOps.cellsFor(_))
    assert(pts === pts.sorted, pts.toString)
  }

  test("graft_min_k: bounded k-smallest across partitions, sorted, null-safe") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // 100 values per group over 7 partitions forces partial-buffer merges
    val df = (0 until 200).map(i => (i % 2, (i / 2 + 37 * i) % 997))
      .toDF("g", "v").repartition(7)
      .select($"g", $"v".cast("long").as("v"))
    val got = df.groupBy($"g")
      .agg(call_function("graft_min_k", $"v", lit(5)).as("mk"))
      .collect().map(r => r.getInt(0) -> r.getSeq[Long](1)).toMap
    val exp = (0 until 200).groupBy(_ % 2).map { case (g, is) =>
      g -> is.map(i => ((i / 2 + 37 * i) % 997).toLong).sorted.take(5) }
    assert(got(0) === exp(0), got(0).toString)
    assert(got(1) === exp(1), got(1).toString)
    // k larger than the group: returns the whole group, still sorted
    val small = Seq((1, 9L), (1, 3L), (1, 7L)).toDF("g", "v")
      .groupBy($"g").agg(call_function("graft_min_k", $"v", lit(10)).as("mk"))
      .head().getSeq[Long](1)
    assert(small === Seq(3L, 7L, 9L))
  }

  test("pair-count bound: a degenerate all-one-cell corpus does N*reps work, not N^2") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val n = 200
    // identical embeddings -> one cell, the worst case the round-7 shape
    // was quadratic on
    val e = (0 until n).map(i => (i.toLong, "x", Array(1f, 0f, 0f, 0f)))
      .toDF("vec_id", "label", "embedding")
    val reps = 8
    val out = Similarity.semanticDedup(e, tau = 0.99, kk = 1, reps = reps)
      .collect()
    assert(out.length === 1)
    val r = out.head
    assert(r.getLong(1) === n.toLong)                 // n_vectors
    // candidate pairs = C(reps,2) rep-rep + (n-reps)*reps rep-other —
    // all within tau here, so n_dup_pairs IS the comparison count: the
    // bound the cap exists to enforce
    val expPairs = reps * (reps - 1) / 2 + (n - reps) * reps
    assert(r.getLong(2) === expPairs.toLong, r.toString)
    assert(expPairs <= n * reps, "cap must keep pair work linear in N")
    assert(n.toLong * (n - 1) / 2 > 4 * expPairs,
      "the bound must actually be far below all-pairs at this size")
    // keep-rule outcome unchanged by the cap on identical vectors:
    // everything but the smallest id is removed
    assert(r.getLong(3) === (n - 1).toLong, r.toString)
  }
}
