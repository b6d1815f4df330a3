package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** The CDC ANN index's merge-on-read contract in miniature (the full
  * pipeline is gate cdcm5): the first batch defines the quantizer and
  * appends never change it, updates supersede their stale vectors,
  * deletes tombstone, the probe equals a brute-force pass over the
  * latest images, and segment replay is a no-op.
  */
class CdcAnnIndexSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private def images(rows: Seq[(Long, Seq[Long], Long, Boolean)]): DataFrame = {
    import spark.implicits._
    rows.toDF("vec_id", "embedding", "ver", "deleted")
  }

  private def vec(seed: Long): Seq[Long] =
    (1 to 8).map(i => (seed * 31 + i * 17) % 2001 - 1000)

  test("quantizer stability, supersession, tombstones, brute-force equivalence, replay") {
    graft.functions.GraftFunctions.register(spark)
    val work = java.nio.file.Files.createTempDirectory("graft-cdcann")
    val idx = work.resolve("ann").toString

    val b0 = (1L to 40L).map(i => (i, vec(i), 0L, false))
    // batch 1: vec 7 re-embedded (moved far away), vec 9 deleted, 41 born
    val b1 = Seq((7L, vec(7007), 1L, false), (9L, Seq.empty[Long], 1L, true),
      (41L, vec(41), 1L, false))
    Similarity.appendCdcAnnSegment(images(b0), idx, "b000000", k = 4)
    val centBefore = spark.read.parquet(s"${ManifestFixtures.generation(spark, idx)}/centroids")
      .orderBy("cell").collect().map(_.toString).toSeq
    Similarity.appendCdcAnnSegment(images(b1), idx, "b000001", k = 4)
    val centAfter = spark.read.parquet(s"${ManifestFixtures.generation(spark, idx)}/centroids")
      .orderBy("cell").collect().map(_.toString).toSeq
    assert(centAfter === centBefore,
      "appending must never move the coarse quantizer")
    // row level: batch 1's live rows sit in the cells an assignment
    // against the persisted centroids gives (on the appender's float view)
    val b1Live = images(b1).filter(!col("deleted"))
      .withColumn("embedding", col("embedding").cast("array<float>"))
    val wantCells = Similarity
      .assignToCentroids(b1Live, spark.read.parquet(s"${ManifestFixtures.generation(spark, idx)}/centroids"))
      .select(col("vec_id"), col("cell")).collect()
      .map(r => (r.getLong(0), r.getInt(1))).sorted.toSeq
    val diskCells = spark.read.parquet(s"${ManifestFixtures.generation(spark, idx)}/cells")
      .filter(col("seg") === "b000001")
      .select(col("vec_id"), col("cell").cast("int")).collect()
      .map(r => (r.getLong(0), r.getInt(1))).sorted.toSeq
    assert(diskCells === wantCells,
      "batch 1's cells differ from an assignment against the persisted centroids")

    // latest images the index should now represent
    val latest = (1L to 40L).filterNot(_ == 9L)
      .map(i => (i, if (i == 7L) vec(7007) else vec(i))) :+ ((41L, vec(41)))
    val qv = vec(7) // the SUPERSEDED vector — its old row must not answer
    def dot(a: Seq[Long]) = a.zip(qv).map { case (x, y) => x * y }.sum
    val want = latest.map { case (id, e) => (id, dot(e)) }
      .sortBy { case (id, s) => (-s, id) }.take(10)
      .zipWithIndex.map { case ((id, s), r) => (id, s, (r + 1).toLong) }

    val got = Similarity.mipsTopKViaCdcAnnIndex(spark, idx, qv, 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got === want, "CDC ANN probe != brute force over latest images")
    assert(!got.exists(_._1 == 9L), "deleted vec 9 still probeable")
    // the probe vector IS doc 7's old embedding: if the stale row
    // survived, doc 7 would rank first with the max self-dot — pin that
    // its score is the NEW embedding's dot instead
    got.find(_._1 == 7L).foreach { case (_, s, _) =>
      assert(s === dot(vec(7007)), "doc 7 answered with its stale vector")
    }

    // replay of batch 1 changes nothing
    Similarity.appendCdcAnnSegment(images(b1), idx, "b000001", k = 4)
    val replayed = Similarity.mipsTopKViaCdcAnnIndex(spark, idx, qv, 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(replayed === got, "segment replay changed the probe")

    // nprobe-pruned probe (the production shape): with all cells it IS
    // the exact probe; with one cell it returns a subset whose scores
    // match the exact map, and the scan is partition-pruned to that cell
    val prunedAll = Similarity
      .mipsTopKViaCdcAnnIndexPruned(spark, idx, qv, 10, nprobe = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(prunedAll === got, "nprobe = |cells| must equal the exact probe")
    val exactByDoc = latest.map { case (id, e) => id -> dot(e) }.toMap
    val pruned1 = Similarity
      .mipsTopKViaCdcAnnIndexPruned(spark, idx, qv, 10, nprobe = 1)
    pruned1.collect().foreach { r =>
      assert(exactByDoc(r.getLong(0)) === r.getLong(1),
        "pruning changed a score — it may only narrow the candidate set")
    }
    val plan1 = pruned1.queryExecution.executedPlan.toString
    assert(plan1.contains("PartitionFilters: [") && plan1.contains("cell#"),
      s"cell pruning did not reach the scan's partition filters:\n$plan1")

    // compaction: probe-invariant, single live-only base, quantizer kept
    Similarity.compactCdcAnnIndex(spark, idx)
    val compacted = Similarity.mipsTopKViaCdcAnnIndex(spark, idx, qv, 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(compacted === got, "compaction changed the probe")
    val segDirs = new java.io.File(s"${ManifestFixtures.generation(spark, idx)}/doclog")
      .listFiles().filter(_.getName.startsWith("seg=")).map(_.getName).toSeq
    assert(segDirs === Seq("seg=base"))
    assert(ManifestFixtures.segs(spark, idx) === Set("seg=base"))
    assert(spark.read.parquet(s"${ManifestFixtures.generation(spark, idx)}/doclog")
      .count() === 40L) // live only
    val centCompacted = spark.read.parquet(s"${ManifestFixtures.generation(spark, idx)}/centroids")
      .orderBy("cell").collect().map(_.toString).toSeq
    assert(centCompacted === centBefore, "compaction moved the quantizer")

    val tw = java.nio.file.Files.walk(work)
    try tw.sorted(java.util.Comparator.reverseOrder())
      .forEach(p => java.nio.file.Files.deleteIfExists(p))
    finally tw.close()
  }

  /** The committed two-leg read contract, ANN twin of the text leg
    * (Layout.committedView): a half-committed append — doclog
    * job done, cells job torn, no manifest version — is invisible to the
    * probe and to the policy's stats; an absent index throws
    * FileNotFoundException, never an empty answer.
    */
  test("ANN probe and stats read committed doclog+cells pairs only; absent index throws FNF") {
    graft.functions.GraftFunctions.register(spark)
    val work = java.nio.file.Files.createTempDirectory("graft-cdcann-torn")
    val idx = work.resolve("ann").toString
    intercept[java.io.FileNotFoundException] {
      Similarity.mipsTopKViaCdcAnnIndex(spark, idx, vec(1), 5)
    }
    Similarity.appendCdcAnnSegment(
      images((1L to 10L).map(i => (i, vec(i), 0L, false))), idx, "b000000", k = 4)
    val qv = vec(3)
    def probe(): Seq[String] = Similarity
      .mipsTopKViaCdcAnnIndex(spark, idx, qv, 5).collect().map(_.toString).toSeq
    def stats(): Seq[String] = Similarity.cdcAnnIndexStats(spark, idx)
      .orderBy("cell").collect().map(_.toString).toSeq
    val (before, statsBefore) = (probe(), stats())
    // half-committed batch: doclog committed, cells torn (crash
    // between the append's two jobs) — vec 3's re-embed must stay
    // invisible; were the doclog row read alone, it would
    // TOMBSTONE-SHADOW the old version while the new cells row is
    // unreadable, vanishing the doc entirely
    Similarity.appendCdcAnnSegment(
      images(Seq((3L, vec(9003), 1L, false))), idx, "b000001", k = 4)
    ManifestFixtures.uncommit(spark, idx)
    assert(new java.io.File(
      s"${ManifestFixtures.generation(spark, idx)}/cells/seg=b000001/_SUCCESS").delete())
    assert(probe() === before, "a half-committed append leaked into the probe")
    assert(stats() === statsBefore,
      "a half-committed append leaked into the policy's stats")
    // the streaming retry completes the pair atomically
    Similarity.appendCdcAnnSegment(
      images(Seq((3L, vec(9003), 1L, false))), idx, "b000001", k = 4)
    assert(probe() !== before, "the completed replay did not supersede vec 3")

    val tw = java.nio.file.Files.walk(work)
    try tw.sorted(java.util.Comparator.reverseOrder())
      .forEach(p => java.nio.file.Files.deleteIfExists(p))
    finally tw.close()
  }

  test("requantize: new quantizer over the live corpus, exact probe invariant, fence fenced, ingest continues") {
    graft.functions.GraftFunctions.register(spark)
    import spark.implicits._
    val work = java.nio.file.Files.createTempDirectory("graft-cdcann-rq")
    val idx = work.resolve("ann").toString

    val b0 = (1L to 40L).map(i => (i, vec(i), 0L, false))
    val b1 = Seq((7L, vec(7007), 1L, false), (9L, Seq.empty[Long], 1L, true),
      (41L, vec(41), 1L, false))
    Similarity.appendCdcAnnSegment(images(b0), idx, "b000000", k = 4)
    Similarity.appendCdcAnnSegment(images(b1), idx, "b000001", k = 4)
    val centOld = spark.read.parquet(s"${ManifestFixtures.generation(spark, idx)}/centroids")
      .orderBy("cell").collect().map(_.toString).toSeq
    val qv = vec(7)
    def probe(): Seq[(Long, Long, Long)] =
      Similarity.mipsTopKViaCdcAnnIndex(spark, idx, qv, 10)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val got = probe()

    Similarity.requantizeCdcAnnIndex(spark, idx, k = 4)

    // physical contract: full fold, fence at the last consumed batch,
    // a genuinely NEW quantizer (the old seeded from `vec_id < 4` — ids
    // 1..3 of the FIRST batch; the new seeds from the k smallest LIVE
    // ids and Lloyd-refines over the whole corpus)
    for (leg <- Seq("doclog", "cells")) {
      val segs = new java.io.File(s"${ManifestFixtures.generation(spark, idx)}/$leg")
        .listFiles().filter(_.getName.startsWith("seg=")).map(_.getName).toSeq
      assert(segs === Seq("seg=base"), s"$leg not folded: $segs")
    }
    assert(ManifestFixtures.segs(spark, idx) === Set("seg=base"))
    assert(Layout.fenceOf(spark, idx) === Some(1L),
      "requantize must fence the consumed segments")
    val centNew = spark.read.parquet(s"${ManifestFixtures.generation(spark, idx)}/centroids")
      .orderBy("cell").collect().map(_.toString).toSeq
    assert(centNew !== centOld, "requantize kept the stale quantizer")

    // the EXACT probe is invariant to the partition; pruned scores may
    // only narrow the candidate set, never change a score
    assert(probe() === got, "requantize changed the exact probe")
    val latest = (1L to 40L).filterNot(_ == 9L)
      .map(i => (i, if (i == 7L) vec(7007) else vec(i))) :+ ((41L, vec(41)))
    def dot(a: Seq[Long]) = a.zip(qv).map { case (x, y) => x * y }.sum
    val exactByDoc = latest.map { case (id, e) => id -> dot(e) }.toMap
    Similarity.mipsTopKViaCdcAnnIndexPruned(spark, idx, qv, 10, nprobe = 1)
      .collect().foreach { r =>
        assert(exactByDoc(r.getLong(0)) === r.getLong(1),
          "post-requantize pruning changed a score")
      }

    // a replayed pre-requantize batch is fenced out (its rows live in
    // the rebuilt base — re-adding them would double-score)
    assert(!Similarity.appendCdcAnnSegment(images(b1), idx, "b000001", k = 4),
      "a replay at the fence was not skipped")
    assert(probe() === got, "a fenced replay changed the probe")

    // ingest CONTINUES under the new quantizer: the next batch assigns
    // against the published (rebuilt) centroids and is immediately live
    val b2 = Seq((42L, vec(42), 2L, false), (7L, vec(7), 2L, false))
    assert(Similarity.appendCdcAnnSegment(images(b2), idx, "b000002", k = 4))
    val latest2 = latest.filterNot(_._1 == 7L) ++ Seq((42L, vec(42)), (7L, vec(7)))
    val want2 = latest2.map { case (id, e) => (id, dot(e)) }
      .sortBy { case (id, s) => (-s, id) }.take(10)
      .zipWithIndex.map { case ((id, s), r) => (id, s, (r + 1).toLong) }
    assert(probe() === want2,
      "post-requantize ingest diverged from brute force over latest images")

    // CELL-COUNT GROWTH — the ANN analog of text re-bucketing: a corpus
    // grown past its quantizer wants MORE cells, and requantize's k is
    // exactly that lever. The exact probe stays invariant whatever the
    // partition; the quantizer must really change again.
    val cent4 = spark.read.parquet(s"${ManifestFixtures.generation(spark, idx)}/centroids")
      .orderBy("cell").collect().map(_.toString).toSeq
    Similarity.requantizeCdcAnnIndex(spark, idx, k = 8)
    val cent8 = spark.read.parquet(s"${ManifestFixtures.generation(spark, idx)}/centroids")
      .orderBy("cell").collect().map(_.toString).toSeq
    assert(cent8 !== cent4, "growing k kept the old quantizer")
    assert(cent8.size > cent4.size,
      s"k=8 rebuild did not grow the cell count (${cent4.size} -> ${cent8.size})")
    assert(probe() === want2, "growing k changed the exact probe")

    // the requantize TRIGGER measurement: per-cell live occupancy, one
    // row per centroid cell (empty cells at 0), totals matching the
    // live corpus — the k-row fold an operator thresholds on
    val stats = Similarity.cdcAnnIndexStats(spark, idx)
      .collect().map(r => (r.getInt(0), r.getLong(1))).toSeq
    assert(stats.size === cent8.size,
      "stats must report one row per centroid cell")
    assert(stats.map(_._2).sum === latest2.size.toLong,
      "per-cell occupancy does not sum to the live corpus")
    assert(stats.forall(_._2 >= 0L))

    val tw = java.nio.file.Files.walk(work)
    try tw.sorted(java.util.Comparator.reverseOrder())
      .forEach(p => java.nio.file.Files.deleteIfExists(p))
    finally tw.close()
  }

  /** The SKEW trigger under real ingest — the one policy path the
    * oracle gates deliberately pin out (cdcm17/cdcm19 run
    * skewRatio=∞ because Lloyd skew on md5-pseudo-random embeddings
    * has no deterministic cross-SF bound; MaintenancePolicySpec fires
    * it only on planted STATS). Here a deterministic hot-cell
    * embedding stream exercises fire → (deferred by the must-grow
    * guard) → fold → clear → healthy ingest THROUGH the real
    * append/advice/requantize path, fence and replay skip included:
    * 8 orthogonal cold clusters (ids 1..8 — the `vec_id < k` seeding
    * contract) define the quantizer, then every subsequent batch
    * floods ONE cell (first-coordinate-dominant vectors all
    * cosine-assign to the u0 centroid), so maxCell/mean crosses the 4×
    * ratio on the first hot batch — with growth DISABLED
    * (growthFactor=∞) the reason can only be skew. Mid-stream churn
    * DELETES six of the cold low-ids, so when the must-grow guard
    * finally admits a fold (ceil(√live) > 8 at the fourth hot batch),
    * the requantize re-seeds from the k smallest LIVE ids — now mostly
    * hot docs spread across the flood's (p,q) grid — and Lloyd splits
    * the flooded cell: fire → clear, with real tombstones in between.
    * The exact probe must match brute force over the latest images
    * afterwards (requantizes never change exact results), and a
    * replayed pre-fold segment must be fence-skipped.
    */
  test("skew trigger fires under a deterministic hot-cell stream; requantize clears it; fence + probe hold") {
    graft.functions.GraftFunctions.register(spark)
    val work = java.nio.file.Files.createTempDirectory("graft-cdcann-skew")
    val idx = work.resolve("ann").toString

    def coldVec(c: Int): Seq[Long] =
      (0 until 8).map(i => if (i == c) 900L else 0L)
    def hotVec(i: Long): Seq[Long] = {
      // ids 100..108: a 3x3 grid over the (p,q) plane — the smallest
      // hot ids, i.e. the requantize's seeds once the cold low-ids are
      // tombstoned; later ids pseudo-uniform over the same grid
      val (p, q) =
        if (i <= 108) ((((i - 100) % 3) - 1) * 300L, (((i - 100) / 3) - 1) * 300L)
        else (((i * 7) % 61 - 30) * 10, ((i * 11) % 61 - 30) * 10)
      Seq(600L, p, q, 0L, 0L, 0L, 0L, 0L)
    }
    val cold = (1 to 8).map(c => (c.toLong, coldVec(c - 1), 0L, false))
    def hotBatch(ids: Seq[Long], ver: Long): Seq[(Long, Seq[Long], Long, Boolean)] =
      ids.map(i => (i, hotVec(i), ver, false))
    val batches: Seq[Seq[(Long, Seq[Long], Long, Boolean)]] = Seq(
      hotBatch(100L to 119L, 1L),
      // churn: six cold singletons tombstone out — their cells empty,
      // and the smallest LIVE ids shift into the hot grid
      hotBatch(120L to 139L, 2L) ++
        (1 to 6).map(c => (c.toLong, Seq.empty[Long], 2L, true)),
      hotBatch(140L to 159L, 3L),
      // keep CDC semantics live mid-skew: one delete, one re-embed
      hotBatch(160L to 179L, 4L) ++ Seq(
        (150L, Seq.empty[Long], 4L, true), (151L, hotVec(5151L), 4L, false)))

    // growth OFF: the only reason this policy can fire is skew
    def advice() = Similarity.annMaintenanceAdvice(
      Similarity.cdcAnnIndexStats(spark, idx),
      skewRatio = 4.0, growthFactor = Double.MaxValue, maxK = 32)

    Similarity.appendCdcAnnSegment(images(cold), idx, "b000000", k = 8)
    assert(!advice().requantize, "8 balanced cold singletons cannot be skewed")

    var lastK = 8
    var firstFire = -1
    val trace = scala.collection.mutable.ArrayBuffer.empty[String]
    val foldBatches = scala.collection.mutable.ArrayBuffer.empty[Int]
    batches.zipWithIndex.foreach { case (rows, bi) =>
      val batchId = bi + 1
      assert(Similarity.appendCdcAnnSegment(
        images(rows), idx, f"b$batchId%06d", k = 8))
      var a = advice()
      trace += s"b$batchId: $a"
      if (a.requantize && firstFire < 0) {
        firstFire = batchId
        assert(a.reason.contains("skew"),
          s"with growth disabled the reason must be skew: $a")
      }
      // the gates' loop verbatim: fold at the suggestion, only when the
      // suggestion can actually grow (re-seeding at the same k cannot
      // split a hot cell whose seeds sit elsewhere)
      while (a.requantize && a.suggestedK > lastK) {
        foldBatches += batchId
        lastK = a.suggestedK
        Similarity.requantizeCdcAnnIndex(spark, idx, k = a.suggestedK)
        a = advice()
      }
    }
    // fire ordinal: maxCell/mean = 21/3.5 = 6.0 crosses 4.0 on the
    // FIRST hot batch — exact integer arithmetic, fixture-derived
    assert(firstFire === 1,
      s"skew fired at batch $firstFire, expected 1; trace=${trace.mkString(" | ")}")
    // the must-grow guard defers the fold until ceil(sqrt(live)) > 8:
    // live = 8 + 80 - 6 - 1 = 81 at the FOURTH batch — then Lloyd over
    // the hot-grid seeds splits the flooded cell and the demand clears
    assert(foldBatches.headOption === Some(4),
      s"fold points $foldBatches, expected the first at batch 4; " +
        s"trace=${trace.mkString(" | ")}")
    val end = advice()
    assert(!end.requantize,
      s"the fold(s) did not clear the skew demand: $end")
    assert(lastK > 8 &&
      spark.read.parquet(s"${ManifestFixtures.generation(spark, idx)}/centroids").count() === lastK.toLong,
      s"the quantizer never grew (k=$lastK)")

    // fence at the LAST fold's batch; a replayed pre-fold segment skips
    assert(Layout.fenceOf(spark, idx) === Some(foldBatches.last.toLong),
      s"fence ${Layout.fenceOf(spark, idx)} != last fold batch ${foldBatches.last}")
    assert(!Similarity.appendCdcAnnSegment(
      images(batches(2)), idx, "b000003", k = 8),
      "a replay at or below the fence was not skipped")

    // exact probe == brute force over the latest images (integer dots):
    // requantizes repartition the corpus, they never change exact results
    val latest = ((100L to 179L).filterNot(_ == 150L)
      .map(i => (i, if (i == 151L) hotVec(5151L) else hotVec(i))) ++
      (7 to 8).map(c => (c.toLong, coldVec(c - 1))))
    val qv = hotVec(5151L)
    def dot(a: Seq[Long]) = a.zip(qv).map { case (x, y) => x * y }.sum
    val want = latest.map { case (id, e) => (id, dot(e)) }
      .sortBy { case (id, s) => (-s, id) }.take(10)
      .zipWithIndex.map { case ((id, s), r) => (id, s, (r + 1).toLong) }
    val got = Similarity.mipsTopKViaCdcAnnIndex(spark, idx, qv, 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got === want,
      "the skew-cleared index diverged from brute force over latest images")

    val tw = java.nio.file.Files.walk(work)
    try tw.sorted(java.util.Comparator.reverseOrder())
      .forEach(p => java.nio.file.Files.deleteIfExists(p))
    finally tw.close()
  }
}
