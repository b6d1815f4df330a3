package graft.operators

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** The sign-LSH bucket family must scale with corpus size: within-bucket
  * pairwise work is ~N²/2^nBits, so nBits fixed = quadratic at 100 TB.
  * [[VectorOps.nBitsFor]] sizes the family as ~log₂(N/targetBucket); this
  * spec pins the sizing curve and demonstrates that growing the family
  * shrinks the within-bucket pair count on real bucketed data.
  */
class SignBucketScalingSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  test("nBitsFor grows ~log2(N) between the [8, 24] clamps") {
    import VectorOps.nBitsFor
    assert(nBitsFor(500) === 8)         // gate scale: unchanged behavior
    assert(nBitsFor(2000) === 8)
    assert(nBitsFor(100000) === 11)     // ceil(log2(100000/64))
    assert(nBitsFor(10000000) === 18)
    assert(nBitsFor(1L << 40) === 24)   // capped: int bucket id, ~16M buckets
    // monotone non-decreasing and expected bucket load ~targetBucket:
    val ns = Seq(1000L, 10000L, 100000L, 1000000L, 100000000L, 10000000000L)
    val bits = ns.map(nBitsFor(_))
    assert(bits === bits.sorted)
    ns.zip(bits).filter { case (_, b) => b > 8 && b < 24 }.foreach { case (n, b) =>
      val expectedBucket = n.toDouble / (1L << b)
      assert(expectedBucket <= 64.0 && expectedBucket > 16.0,
        s"n=$n nBits=$b load=$expectedBucket")
    }
  }

  test("signBucket beyond the vector dimensionality degrades to 0-bits, never NULL") {
    import spark.implicits._
    // 4-dim vectors, 8-bit family: dims 5..8 contribute 0 bits (matching
    // the SQL rendering's CASE WHEN NULL -> ELSE 0), so the bucket stays
    // non-null and bucket-equality joins keep working
    val df = Seq((1, Array(1f, -1f, 1f, -1f)), (2, Array(1f, -1f, 1f, -1f)))
      .toDF("id", "embedding")
      .select($"id", VectorOps.signBucket($"embedding", 8).as("bucket"))
    val rows = df.collect()
    assert(rows.forall(!_.isNullAt(1)))
    assert(rows.map(_.getInt(1)).toSet === Set(1 + 4)) // bits 0 and 2 only
  }

  test("sim03 via the persisted IVF index equals the inline-centroid path") {
    val d = "/root/testdata/sf0.001"
    val idx = java.nio.file.Files.createTempDirectory("ivf-idx").toString
    Similarity.buildIvfIndex(graft.core.Tables.embeddings(spark, d), idx)
    val viaIndex = Similarity.sim03ViaIndex(spark, d, idx)
    assert(viaIndex.collect().toSeq === Similarity.sim03IvfTopK(spark, d).collect().toSeq)
    // the probe path reads centroids from parquet — no per-label
    // re-aggregation of the corpus anywhere in the plan
    assert(!viaIndex.queryExecution.executedPlan.toString.contains("posexplode"))
  }

  test("sim07 via the persisted PQ index: equal results, codes-only scan") {
    val d = "/root/testdata/sf0.001"
    val idx = java.nio.file.Files.createTempDirectory("pq-idx").toString
    Similarity.buildPqIndex(graft.core.Tables.embeddings(spark, d), idx)
    val viaIndex = Similarity.sim07ViaIndex(spark, d, idx)
    assert(viaIndex.collect().toSeq === Similarity.sim07PqAdc(spark, d).collect().toSeq)
    // the ADC pass scans the CODES table without the embedding column —
    // the 32x-smaller hot set is the whole point; exact vectors are
    // fetched only for the candidate join
    val unwrapped = viaIndex.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => a.initialPlan
      case p => p
    }
    val codesScan = unwrapped.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec
        if f.relation.location.rootPaths.mkString.contains("codes") => f
    }
    assert(codesScan.nonEmpty)
    codesScan.foreach { f =>
      assert(!f.schema.fieldNames.contains("embedding"),
        "codes scan must not read vectors: " + f.schema.fieldNames.mkString(","))
    }
  }

  test("sim05 via the persisted ANN index: equal results, cell-pruned scan") {
    val d = "/root/testdata/sf0.001"
    val idx = java.nio.file.Files.createTempDirectory("ann-idx").toString
    Similarity.buildAnnIndex(graft.core.Tables.embeddings(spark, d), idx)
    val viaIndex = Similarity.sim05ViaIndex(spark, d, idx)
    assert(viaIndex.collect().toSeq === Similarity.sim05KmeansIvf(spark, d).collect().toSeq)
    val plan = viaIndex.queryExecution.executedPlan.toString
    // probe path: no seed assignment or centroid build — both persisted
    assert(!plan.contains("posexplode"), plan.take(1500))
    // the inverted file is partition-pruned: the cells scan carries a
    // partition filter on the probed cell ids (dynamic pruning subquery
    // or pushed IN-list), never a full-corpus read
    val unwrapped = viaIndex.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => a.initialPlan
      case p => p
    }
    val cellScan = unwrapped.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec
        if f.relation.location.rootPaths.mkString.contains("cells") => f
    }
    assert(cellScan.nonEmpty, plan.take(1500))
    cellScan.foreach { f =>
      assert(f.partitionFilters.mkString.contains("dynamicpruning"),
        "cells scan must be DYNAMICALLY pruned to the probed cells " +
          "(isnotnull alone is not pruning): " + f.partitionFilters.mkString(" ; "))
    }
  }

  test("parquetRowCount sees a table regenerated at a different size (no stale cache)") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("rowcount").toString + "/t.parquet"
    (1 to 100).toDF("x").coalesce(1).write.mode("overwrite").parquet(dir)
    assert(VectorOps.parquetRowCount(dir) === 100L)
    // regenerate at a different size in the SAME JVM — the footer cache is
    // keyed by (path, length, mtime), so the new size must be observed
    (1 to 5000).toDF("x").coalesce(1).write.mode("overwrite").parquet(dir)
    assert(VectorOps.parquetRowCount(dir) === 5000L)
  }

  test("nBitsForDir falls back to the documented floor when the table is absent") {
    assert(VectorOps.nBitsForDir("/nonexistent/sfX") === VectorOps.FallbackNBits)
    // and SparkEntry's no-arg contract form renders without the gate data dir
    // present for every query (it must never throw at class-load or render time)
    assert(graft.SparkEntry.oracleSqlFor("/nonexistent/sfX").nonEmpty)
  }

  test("growing the bucket family bounds within-bucket pair counts") {
    import spark.implicits._
    // deterministic pseudo-random ±500 vectors, 24 dims (strong 64-bit
    // mixer so each dimension's sign is independent)
    def mix(x: Long): Long = {
      var h = x * 0x9E3779B97F4A7C15L
      h ^= h >>> 33; h *= 0xFF51AFD7ED558CCDL; h ^= h >>> 33
      h
    }
    val vecs = (0 until 4096).map { i =>
      (i, Array.tabulate(24) { j =>
        (java.lang.Math.floorMod(mix(i * 31L + j), 1000L) - 500L).toFloat
      })
    }.toDF("vec_id", "embedding")
    def pairStats(nBits: Int): (Long, Long) = {
      val byBucket = vecs
        .select(VectorOps.signBucket($"embedding", nBits).as("bucket"))
        .groupBy($"bucket").agg(count(lit(1)).as("k"))
        .select(count(lit(1)).as("n_buckets"),
          sum(($"k" * ($"k" - 1)) / 2).cast("long").as("n_pairs"))
        .head()
      (byBucket.getLong(0), byBucket.getLong(1))
    }
    val (buckets8, pairs8) = pairStats(8)
    val (buckets12, pairs12) = pairStats(12)
    assert(buckets12 > buckets8)
    assert(pairs12 < pairs8 / 4, // 16x more buckets should cut pairs far more than 4x
      s"pairs at nBits=12 ($pairs12) not « pairs at nBits=8 ($pairs8)")
  }
}
