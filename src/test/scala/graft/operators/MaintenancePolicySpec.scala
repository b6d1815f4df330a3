package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** The maintenance policy is EXECUTABLE, not prose (VERDICT r17 #5):
  * [[Similarity.annMaintenanceAdvice]] and
  * [[TextAnalysis.textMaintenanceAdvice]] encode the AA8 stats'
  * Scaladoc thresholds. Pinned here: each threshold edge on synthetic
  * stats, and the full loop on PLANTED skewed layouts — a flooded ANN
  * cell fires the policy, requantizing at the suggested k clears it;
  * an over-budget text bucket fires it, re-bucketing at the suggested
  * count clears it.
  */
class MaintenancePolicySpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private def withTmp(test: java.nio.file.Path => Unit): Unit = {
    val tmp = java.nio.file.Files.createTempDirectory("graft-maint")
    try test(tmp)
    finally java.nio.file.Files.walk(tmp)
      .sorted(java.util.Comparator.reverseOrder())
      .forEach(p => java.nio.file.Files.deleteIfExists(p))
  }

  test("ann advice thresholds: balanced healthy, skew fires, growth fires, empty no-op") {
    import spark.implicits._
    val balanced = (0 until 8).map(c => (c, 10L)).toDF("cell", "n_live")
    val a = Similarity.annMaintenanceAdvice(balanced)
    assert(!a.requantize && a.reason === "healthy")
    assert(a.nLive === 80L && a.nCells === 8)

    // one cell holds 100 of 107 live rows: max/mean = 100/13.4 > 4
    val skewed = ((0 until 7).map(c => (c, 1L)) :+ (7 -> 100L))
      .toDF("cell", "n_live")
    val s = Similarity.annMaintenanceAdvice(skewed)
    assert(s.requantize && s.reason.contains("skew"))

    // balanced but outgrown: 400 live in 4 cells > 4*16
    val grown = (0 until 4).map(c => (c, 100L)).toDF("cell", "n_live")
    val g = Similarity.annMaintenanceAdvice(grown)
    assert(g.requantize && g.reason.contains("k^2"))
    assert(g.suggestedK === 20) // ceil(sqrt(400))

    val empty = Seq.empty[(Int, Long)].toDF("cell", "n_live")
    assert(!Similarity.annMaintenanceAdvice(empty).requantize)
  }

  test("ann advice maxK budget: suggestion capped below cap, healthy-at-cap above it") {
    import spark.implicits._
    // outgrown (400 live, 4 cells) with a budget of 10: fires, but at
    // the capped suggestion — never the uncapped ceil(sqrt(400)) = 20
    val grown = (0 until 4).map(c => (c, 100L)).toDF("cell", "n_live")
    val below = Similarity.annMaintenanceAdvice(grown, maxK = 10)
    assert(below.requantize && below.suggestedK === 10)
    assert(!below.atCap, s"a satisfiable (capped) suggestion is not atCap: $below")

    // the quantizer already AT the cap: the same growth pressure no
    // longer fires (requantizing at the same k cannot grow); the
    // suppressed demand surfaces as the TYPED atCap field (the shard
    // signal) and the reason names the ceiling instead of claiming
    // health it doesn't have
    val atCap = (0 until 10).map(c => (c, 50L)).toDF("cell", "n_live")
    val at = Similarity.annMaintenanceAdvice(atCap, maxK = 10)
    assert(!at.requantize, s"at-cap growth demand must not fire: $at")
    assert(at.atCap, s"the suppressed growth demand must be typed: $at")
    assert(at.reason.contains("maxK"), s"the ceiling must be visible: $at")
    assert(at.suggestedK === 10)

    // skew still fires at the cap — re-seeding at the same k fixes skew
    val skewAtCap = ((0 until 9).map(c => (c, 1L)) :+ (9 -> 200L))
      .toDF("cell", "n_live")
    val sk = Similarity.annMaintenanceAdvice(skewAtCap, maxK = 10)
    assert(sk.requantize && sk.reason.contains("skew"))

    // an UNCAPPED healthy layout never reads atCap (default budget)
    val balanced = (0 until 4).map(c => (c, 2L)).toDF("cell", "n_live")
    assert(!Similarity.annMaintenanceAdvice(balanced).atCap)
  }

  test("text advice thresholds: under budget healthy, over-budget bucket fires with >=1 growth step") {
    import spark.implicits._
    val under = Seq((0, 30L), (1, 10L)).toDF("tb", "n_postings")
    val u = TextAnalysis.textMaintenanceAdvice(under, probeReadBudget = 40L)
    assert(!u.rebucket && u.reason === "healthy" && u.suggestedBuckets === 2)

    val over = Seq((0, 100L), (1, 10L)).toDF("tb", "n_postings")
    val o = TextAnalysis.textMaintenanceAdvice(over, probeReadBudget = 40L)
    assert(o.rebucket && o.maxBucket === 100L)
    assert(o.suggestedBuckets === 8) // 110/8 = 13.75 fits the budget

    // hash skew with small volume: the advice still grows (same-count
    // re-bucketing can never split a bucket)
    val skew = Seq((0, 100L), (1, 0L)).toDF("tb", "n_postings")
    val k = TextAnalysis.textMaintenanceAdvice(skew, probeReadBudget = 90L)
    assert(k.rebucket && k.suggestedBuckets === 8)
  }

  test("planted skewed ANN layout: policy fires, requantize at the suggested k clears it") {
    import spark.implicits._
    withTmp { tmp =>
      val idx = tmp.resolve("annidx").toString
      // batch 0 defines the quantizer: 8 mutually-orthogonal one-hot
      // directions (cell assignment is by COSINE, so spread must be
      // directional, not magnitude; the first-batch seeds are the
      // vec_id < k rows, so the corners take ids 0..7)
      val corners = (0 until 8).map { j =>
        (j.toLong, Seq.tabulate(8)(d => if (d == j) 1000L else 0L), 0L, false)
      }.toDF("vec_id", "embedding", "ver", "deleted")
      assert(Similarity.appendCdcAnnSegment(corners, idx, "b000000", k = 8))
      // batch 1 floods ONE narrow cone around axis 0 — 250 directions
      // (1000, s, 0...) with s <= 792, every one nearer corner 0 than
      // any other centroid, so the whole flood lands in one cell (and
      // 258 live > 4*8² trips the growth threshold too). vec_ids
      // 100..349, so the requantizer's smallest-live-id seeds are the
      // 8 corners + the flood's first ids — whose (i*37)%100 shuffle
      // spreads them across the cone instead of clumping at its edge.
      val flood = (0 until 250).map { i =>
        val s = 8L * ((i * 37) % 100)
        (100L + i, 1000L +: s +: Seq.fill(6)(0L), 1L, false)
      }.toDF("vec_id", "embedding", "ver", "deleted")
      assert(Similarity.appendCdcAnnSegment(flood, idx, "b000001", k = 8))

      val before = Similarity.annMaintenanceAdvice(
        Similarity.cdcAnnIndexStats(spark, idx))
      assert(before.requantize, s"flooded cell did not fire the policy: $before")
      assert(before.reason.contains("skew"))
      assert(before.maxCell >= 250L, s"flood did not land in one cell: $before")

      Similarity.requantizeCdcAnnIndex(spark, idx, k = before.suggestedK,
        iterations = 3)
      val after = Similarity.annMaintenanceAdvice(
        Similarity.cdcAnnIndexStats(spark, idx))
      assert(!after.requantize,
        s"requantize at k=${before.suggestedK} did not clear the policy: $after")
      // k is a target, not a guarantee: duplicate-DIRECTION seeds (the
      // axis-0 corner and the flood's s=0 vector here) collapse into
      // one cell and the empty one drops from the published quantizer
      assert(after.nCells >= before.suggestedK - 2 &&
        after.nCells <= before.suggestedK, s"cells: $after")
      assert(after.nLive === before.nLive) // lifecycle op loses no rows
    }
  }

  test("log advice thresholds: healthy, amplification fires, segment budget fires, dead-only is infinite, empty no-op") {
    import spark.implicits._
    def stats(rows: Long, keys: Long, live: Long, segs: Int) =
      Seq((rows, keys, live, segs)).toDF("n_rows", "n_keys", "n_live", "n_segments")

    val h = CdcBinlog.logMaintenanceAdvice(stats(100L, 40L, 30L, 10))
    assert(!h.compact && h.reason === "healthy")
    assert(h.amplification === 100.0 / 30)

    val amp = CdcBinlog.logMaintenanceAdvice(stats(200L, 50L, 40L, 3))
    assert(amp.compact && amp.reason.contains("amplification"))

    val segs = CdcBinlog.logMaintenanceAdvice(stats(20L, 20L, 20L, 17))
    assert(segs.compact && segs.reason.contains("segments"))

    // every live key tombstoned: all bytes are waste, amplification ∞
    val dead = CdcBinlog.logMaintenanceAdvice(stats(50L, 50L, 0L, 2))
    assert(dead.compact && dead.amplification.isPosInfinity)

    val empty = CdcBinlog.logMaintenanceAdvice(stats(0L, 0L, 0L, 0))
    assert(!empty.compact && empty.amplification === 1.0)
  }

  test("planted churned fp log: amplification fires, ONE fold clears it, groups unchanged") {
    import spark.implicits._
    withTmp { tmp =>
      val log = tmp.resolve("fplog").toString
      // 4 versions of the same 50 docs; the last version tombstones 10.
      // fp = md5 of the word, two words → two duplicate groups among
      // the 40 survivors. n_rows=200, n_live=40 → amplification 5 > 4.
      (0 until 4).foreach { v =>
        val imgs = (0 until 50).map { i =>
          (i.toLong, v.toLong, v == 3 && i < 10,
            if (i % 2 == 0) "even" else "odd")
        }.toDF("doc_id", "ver", "deleted", "word")
          .select($"doc_id", $"ver", $"deleted",
            org.apache.spark.sql.functions.md5(
              TextAnalysis.normalize($"word")).as("fp"))
        assert(CdcBinlog.appendCdcFpSegment(imgs, log, f"b$v%06d"))
      }
      val before = CdcBinlog.logMaintenanceAdvice(CdcBinlog.cdcLogStats(spark, log))
      assert(before.compact, s"5× amplification did not fire: $before")
      assert(before.reason.contains("amplification"))
      assert(before.nRows === 200L && before.nLive === 40L)
      val groupsBefore = CdcBinlog.cdcFpGroups(spark, log).collect()

      CdcBinlog.compactCdcFpLog(spark, log)
      val after = CdcBinlog.logMaintenanceAdvice(CdcBinlog.cdcLogStats(spark, log))
      assert(!after.compact, s"one fold must retire the whole debt: $after")
      assert(after.nRows === 40L && after.nLive === 40L) // live-only base
      assert(after.amplification === 1.0 && after.nSegments === 0)
      assert(CdcBinlog.cdcFpGroups(spark, log).collect()
        .sameElements(groupsBefore), "the fold changed the report")
    }
  }

  test("planted many-segment band log: segment budget fires, ONE fold clears it, near-dup report unchanged") {
    import spark.implicits._
    withTmp { tmp =>
      val log = tmp.resolve("bandlog").toString
      // 4 single-batch segments, distinct docs each (amplification stays
      // 1.0 — only the segment budget is in violation); docs 0 and 200
      // carry byte-identical text, so the report holds their intra pair
      // at Jaccard 1.0 by construction
      (0 until 4).foreach { v =>
        val imgs = (0 until 10).map { i =>
          (v * 100L + i, "alpha beta gamma delta epsilon zeta eta " +
            (if (v % 2 == 0 && i == 0) "theta" else s"w$v$i"))
        }.toDF("doc_id", "text")
          .select($"doc_id", org.apache.spark.sql.functions.lit(v.toLong).as("ver"),
            org.apache.spark.sql.functions.lit(false).as("deleted"), $"text")
        assert(CdcBinlog.appendCdcFpSegment(
          CdcBinlog.cdcm15BandImages(imgs), log, f"b$v%06d"))
      }
      val budget = 3
      val before = CdcBinlog.logMaintenanceAdvice(
        CdcBinlog.cdcLogStats(spark, log), maxSegments = budget)
      assert(before.compact, s"4 segments vs a budget of 3 did not fire: $before")
      assert(before.reason.contains("segments") && before.nSegments === 4)
      val reportBefore = CdcBinlog.cdcNearDupPairs(spark, log).collect()
      assert(reportBefore.exists(r => r.getLong(0) === 0L && r.getLong(1) === 200L
        && r.getDouble(2) === 1.0), "the planted identical pair is missing")

      CdcBinlog.compactCdcBandLog(spark, log)
      val after = CdcBinlog.logMaintenanceAdvice(
        CdcBinlog.cdcLogStats(spark, log), maxSegments = budget)
      assert(!after.compact, s"one fold must retire the whole debt: $after")
      assert(after.nSegments === 0 && after.nLive === before.nLive)
      assert(CdcBinlog.cdcNearDupPairs(spark, log).collect()
        .sameElements(reportBefore), "the fold changed the report")
    }
  }

  test("cdcLogStats generalizes to the ANN doclog via keyCol = vec_id") {
    import spark.implicits._
    withTmp { tmp =>
      val idx = tmp.resolve("annidx").toString
      val b0 = (0 until 8).map { j =>
        (j.toLong, Seq.tabulate(8)(d => if (d == j) 1000L else 0L), 0L, false)
      }.toDF("vec_id", "embedding", "ver", "deleted")
      assert(Similarity.appendCdcAnnSegment(b0, idx, "b000000", k = 8))
      // batch 1 supersedes every vector: 16 rows / 8 live = 2.0
      val b1 = (0 until 8).map { j =>
        (j.toLong, Seq.tabulate(8)(d => if (d == j) 900L else 10L), 1L, false)
      }.toDF("vec_id", "embedding", "ver", "deleted")
      assert(Similarity.appendCdcAnnSegment(b1, idx, "b000001", k = 8))

      val stats = CdcBinlog.cdcLogStats(spark, s"$idx/doclog", keyCol = "vec_id")
      val a = CdcBinlog.logMaintenanceAdvice(stats, ampFactor = 1.5)
      assert(a.compact && a.nRows === 16L && a.nLive === 8L)
      assert(a.amplification === 2.0)

      Similarity.compactCdcAnnIndex(spark, idx)
      val after = CdcBinlog.logMaintenanceAdvice(
        CdcBinlog.cdcLogStats(spark, s"$idx/doclog", keyCol = "vec_id"),
        ampFactor = 1.5)
      assert(!after.compact && after.nRows === 8L && after.nLive === 8L)
      // a leg the index's manifest does not record answers all zeros
      assert(CdcBinlog.cdcLogStats(spark, s"$idx/nolog", keyCol = "vec_id")
        .as[(Long, Long, Long, Int)].collect().toSeq === Seq((0L, 0L, 0L, 0)))
    }
  }

  test("planted over-budget text layout: policy fires, re-bucket at the suggested count clears it") {
    import spark.implicits._
    withTmp { tmp =>
      val idx = tmp.resolve("textidx").toString
      // 160 single-term docs into 2 buckets: the bigger bucket holds
      // >= 80 postings against a 60-posting probe budget
      val docs = (0 until 160).map(i => (i.toLong, s"w$i", 0L, false))
        .toDF("doc_id", "text", "ver", "deleted")
      assert(TextAnalysis.appendCdcTextSegment(docs, idx, "b000000",
        nBuckets = 2))

      val budget = 60L
      val before = TextAnalysis.textMaintenanceAdvice(
        TextAnalysis.cdcTextIndexStats(spark, idx), probeReadBudget = budget)
      assert(before.rebucket, s"over-budget bucket did not fire: $before")
      assert(before.suggestedBuckets === 8) // 160/8 = 20 fits

      TextAnalysis.rebucketCdcTextIndex(spark, idx, before.suggestedBuckets)
      val after = TextAnalysis.textMaintenanceAdvice(
        TextAnalysis.cdcTextIndexStats(spark, idx), probeReadBudget = budget)
      assert(!after.rebucket,
        s"re-bucket to ${before.suggestedBuckets} did not clear the policy: $after")
      assert(after.nBuckets === before.suggestedBuckets)
      assert(after.totalPostings === before.totalPostings) // nothing lost
    }
  }

  /** The READ side (`maintenanceAdviceReport`): one row per structure,
    * each row EXACTLY the decision its own advice call takes on the
    * same planted layout — the ops-dashboard frame may never drift
    * from the policies the daemon folds on. Covers the two kinds the
    * cdcm20 oracle gate can't reach in SQL (text hash-bucketing, ANN
    * quantizer cells), the `log:keyCol` routing for the ANN doclog,
    * and the unknown-kind named error.
    */
  test("advice report rows == the individual policies on planted layouts, all four kinds") {
    import spark.implicits._
    withTmp { tmp =>
      // text: 160 single-term docs in 2 buckets (fires vs a quarter
      // budget); ANN: 8 one-hot corners, balanced (healthy)
      val txtIdx = tmp.resolve("textidx").toString
      assert(TextAnalysis.appendCdcTextSegment(
        (0 until 160).map(i => (i.toLong, s"w$i", 0L, false))
          .toDF("doc_id", "text", "ver", "deleted"), txtIdx, "b000000",
        nBuckets = 2))
      val annIdx = tmp.resolve("annidx").toString
      assert(Similarity.appendCdcAnnSegment(
        (0 until 8).map { j =>
          (j.toLong, Seq.tabulate(8)(d => if (d == j) 1000L else 0L), 0L, false)
        }.toDF("vec_id", "embedding", "ver", "deleted"), annIdx, "b000000",
        k = 8))
      // fp log: 17 single-version segments (fires the 16-segment budget)
      val fpLog = tmp.resolve("fplog").toString
      (0 until 17).foreach { g =>
        assert(CdcBinlog.appendCdcFpSegment(
          Seq((g.toLong, 0L, false, s"fp$g")).toDF("doc_id", "ver", "deleted", "fp"),
          fpLog, f"b$g%06d"))
      }

      val got = CdcBinlog.maintenanceAdviceReport(spark, Seq(
          ("t_text", "text", txtIdx),
          ("v_ann", "ann", annIdx),
          ("f_log", "log", fpLog),
          ("v_doclog", "log:vec_id", s"$annIdx/doclog")))
        .collect().map(r => (r.getString(0), r.getString(1), r.getBoolean(2),
          r.getLong(3), r.getLong(4), r.getDouble(5), r.getBoolean(6),
          r.getString(7))).toList

      // field-for-field against the individual policy calls
      val tStats = TextAnalysis.cdcTextIndexStats(spark, txtIdx)
      val tTotal = tStats.agg(org.apache.spark.sql.functions.sum($"n_postings"))
        .head().getLong(0)
      val tBudget = math.max(1L, tTotal / 4)
      val t = TextAnalysis.textMaintenanceAdvice(tStats, probeReadBudget = tBudget)
      val v = Similarity.annMaintenanceAdvice(
        Similarity.cdcAnnIndexStats(spark, annIdx))
      val f = CdcBinlog.logMaintenanceAdvice(CdcBinlog.cdcLogStats(spark, fpLog))
      val dl = CdcBinlog.logMaintenanceAdvice(
        CdcBinlog.cdcLogStats(spark, s"$annIdx/doclog", keyCol = "vec_id"))
      assert(t.rebucket && !v.requantize && f.compact && !dl.compact,
        s"planted pressure drifted: $t | $v | $f | $dl") // fixture sanity
      val want = List(
        ("f_log", "log", f.compact, -1L, f.nLive, f.amplification, false, f.reason),
        ("t_text", "text", t.rebucket, t.suggestedBuckets.toLong,
          t.totalPostings, t.maxBucket.toDouble / tBudget, false, t.reason),
        ("v_ann", "ann", v.requantize, v.suggestedK.toLong, v.nLive,
          v.maxCell / v.meanCell, v.atCap, v.reason),
        ("v_doclog", "log", dl.compact, -1L, dl.nLive, dl.amplification,
          false, dl.reason))
      assert(got === want,
        s"the report drifted from its own policies:\n$got\nvs\n$want")

      val e = intercept[IllegalArgumentException] {
        CdcBinlog.maintenanceAdviceReport(spark,
          Seq(("x", "bogus", fpLog))).collect()
      }
      assert(e.getMessage.contains("bogus") && e.getMessage.contains("x"))
    }
  }
}
