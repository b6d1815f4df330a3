package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{array, length, lit}
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** The replay-after-fold seam, reconstructed deterministically for all
  * six fold entry points of the four CDC-maintained structures.
  * foreachBatch is at-least-once: a crash between a batch's append and
  * its checkpoint commit replays the batch. Plain replay is an idempotent overwrite of the batch's own
  * segment — but if a MID-STREAM COMPACTION folded that segment into
  * seg=base before the crash, the replay would re-create rows base
  * already holds, and the probes' (doc_id|vec_id, ver) liveness joins
  * would double-count them (text: df and per-doc scores inflate; ANN:
  * duplicate vec_ids in the top-k). The `_folded_through` fence makes
  * the replay a SKIP instead; these tests pin the fence (replay after
  * fold changes nothing, physically and in the probe), that post-fence
  * ingest still lands, and that a TORN segment (no _SUCCESS — a crashed
  * append whose batch never committed) is dropped by the fold rather
  * than folded, leaving its replay free to rewrite it.
  */
class CdcReplayFenceSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[2]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private def fs = new org.apache.hadoop.fs.Path("/tmp")
    .getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def segNames(dir: String): Set[String] =
    Option(new java.io.File(dir).listFiles())
      .map(_.map(_.getName).filter(_.startsWith("seg=")).toSet)
      .getOrElse(Set.empty)

  private def collectStr(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq

  private def textImages(rows: (Int, String, Int, Boolean)*): DataFrame = {
    import spark.implicits._
    rows.toSeq.toDF("doc_id", "text", "ver", "deleted")
      .select($"doc_id".cast("long").as("doc_id"), $"text",
        $"ver".cast("long").as("ver"), $"deleted")
  }

  // ---- every fold entry point ---------------------------------------------

  /** One fold entry point over its structure. Every structure is fed the
    * same (doc_id, text, ver, deleted) batches, mapped to its own images:
    * the text index indexes the text, the ANN index embeds it as
    * (id, length, 1), the fp log fingerprints it as the text itself and
    * the band log shingles and bands it. `legs` are the directories that
    * carry `seg=` segments (`""` is the root of a log); `fencedClaim`
    * names what the structure's probe shows for a fenced replay;
    * `postFence` checks the probe before (`want`) and after the
    * post-fence batch that updates doc 1 and inserts doc 6 — exact
    * answers, so an update that lands but leaves doc 1's old version
    * live fails it.
    */
  private case class FoldEntry(label: String, fencedClaim: String,
                               legs: Seq[String],
                               append: (String, DataFrame, String) => Boolean,
                               fold: String => Unit,
                               probe: String => Seq[String],
                               postFence: (Seq[String], Seq[String]) => Unit)

  private def recordedBuckets(idx: String): Int =
    TextAnalysis.textIndexBucketCount(spark, idx).getOrElse(4)

  private def appendText(idx: String, b: DataFrame, seg: String): Boolean =
    TextAnalysis.appendCdcTextSegment(b, idx, seg, nBuckets = recordedBuckets(idx))

  private def probeText(idx: String): Seq[String] = collectStr(TextAnalysis
    .bm25TopKViaCdcIndex(spark, idx, Seq("beta"), 10,
      nBuckets = recordedBuckets(idx))
    .orderBy("r_sparse"))

  private def appendAnn(idx: String, b: DataFrame, seg: String): Boolean = {
    import spark.implicits._
    Similarity.appendCdcAnnSegment(b.select($"doc_id".as("vec_id"),
      array($"doc_id", length($"text").cast("long"), lit(1L)).as("embedding"),
      $"ver", $"deleted"), idx, seg, k = 2)
  }

  private def probeAnn(idx: String): Seq[String] = collectStr(Similarity
    .mipsTopKViaCdcAnnIndex(spark, idx, Seq(3L, 1L, 2L), 10).orderBy("r_dense"))

  private def appendFp(log: String, b: DataFrame, seg: String): Boolean = {
    import spark.implicits._
    CdcBinlog.appendCdcFpSegment(
      b.select($"doc_id", $"ver", $"deleted", $"text".as("fp")), log, seg)
  }

  // texts long enough to shingle; equal texts are exact and near dups;
  // the text probe's term "beta" is in t1 and t2, not in t3
  private val t1 = "alpha beta gamma delta"
  private val t2 = "beta epsilon zeta eta"
  private val t3 = "alpha alpha theta"

  private def rowsOf(id: Int, rows: Seq[String]) = rows.filter(_.startsWith(s"[$id,"))

  /** Text: doc 1 (t1 -> t3) no longer matches "beta"; doc 6 (t2) does. */
  private def textPostFence(want: Seq[String], after: Seq[String]): Unit = {
    assert(want.size === 4) // docs 1, 3 (t1) and 4, 5 (t2)
    assert(after.size === 4)
    assert(rowsOf(1, after).isEmpty, "doc 1 no longer matches the terms after its update")
    assert(rowsOf(6, after).size === 1)
  }

  /** ANN: doc 1 keeps one vector, re-embedded by its new text; doc 6 lands. */
  private def annPostFence(want: Seq[String], after: Seq[String]): Unit = {
    assert(want.size === 4) // vec_ids 1, 3, 4, 5; 2 is deleted
    assert(after.size === 5)
    assert(rowsOf(1, want).size === 1 && rowsOf(1, after).size === 1)
    assert(rowsOf(1, after) !== rowsOf(1, want), "doc 1's new vector must supersede the old")
  }

  private val entries = Seq(
    FoldEntry("text", " — no segment, no double counting",
      Seq("doclog", "postings"), appendText,
      idx => TextAnalysis.compactCdcTextIndex(spark, idx, nBuckets = 4), probeText,
      textPostFence),
    FoldEntry("text rebucket", " — no segment, no double counting",
      Seq("doclog", "postings"), appendText,
      idx => TextAnalysis.rebucketCdcTextIndex(spark, idx, 8), probeText,
      textPostFence),
    FoldEntry("ANN", " — no duplicate vec_ids in the top-k",
      Seq("doclog", "cells"), appendAnn,
      idx => Similarity.compactCdcAnnIndex(spark, idx), probeAnn, annPostFence),
    FoldEntry("ANN requantize", " — no duplicate vec_ids in the top-k",
      Seq("doclog", "cells"), appendAnn,
      idx => Similarity.requantizeCdcAnnIndex(spark, idx, k = 2), probeAnn,
      annPostFence),
    FoldEntry("fp log", "; groups unchanged", Seq(""), appendFp,
      log => CdcBinlog.compactCdcFpLog(spark, log),
      log => collectStr(CdcBinlog.cdcFpGroups(spark, log)),
      (want, after) => {
        // (fp, keeper_doc_id, n_docs): doc 1 moves off t1 — that group
        // dissolves — and doc 6 joins t2's
        assert(want === Seq(s"[$t1,1,2]", s"[$t2,4,2]"))
        assert(after === Seq(s"[$t2,4,3]"))
      }),
    FoldEntry("band log", "; pairs unchanged", Seq(""),
      (log, b, seg) => CdcBinlog.appendCdcFpSegment(
        CdcBinlog.cdcm15BandImages(b), log, seg),
      log => CdcBinlog.compactCdcBandLog(spark, log),
      log => collectStr(CdcBinlog.cdcNearDupPairs(spark, log)),
      (want, after) => {
        // (doc_a, doc_b, jaccard): doc 1 moves off t1 — its pair with 3
        // goes — and doc 6 pairs with 4 and 5
        assert(want === Seq("[1,3,1.0]", "[4,5,1.0]"))
        assert(after === Seq("[4,5,1.0]", "[4,6,1.0]", "[5,6,1.0]"))
      }))

  private def legDir(root: String, leg: String) =
    if (leg.isEmpty) root else s"$root/$leg"

  for (e <- entries) {
    test(s"${e.label}: a replayed folded batch is fenced${e.fencedClaim}") {
      graft.functions.GraftFunctions.register(spark)
      val root = java.nio.file.Files.createTempDirectory("graft-fence")
        .resolve("structure").toString
      // batch 2 updates doc 4, inserts doc 5 and deletes doc 2
      val b2 = textImages((4, t2, 2, false), (5, t2, 2, false), (2, "", 2, true))
      assert(e.append(root, textImages((1, t1, 0, false), (2, t2, 0, false)), "b000000"))
      assert(e.append(root, textImages((3, t1, 1, false), (4, t3, 1, false)), "b000001"))
      assert(e.append(root, b2, "b000002"))
      val want = e.probe(root)
      assert(want.nonEmpty)

      e.fold(root)
      e.legs.foreach(l => assert(segNames(legDir(root, l)) === Set("seg=base")))
      assert(Layout.foldedThrough(fs, new org.apache.hadoop.fs.Path(root)) === Some(2L))
      assert(e.probe(root) === want, "the fold alone must be probe-invariant")

      // the crash replay: batch 2 re-runs after its segment was folded
      assert(!e.append(root, b2, "b000002"),
        "replay of a folded batch must be fenced")
      e.legs.foreach(l => assert(segNames(legDir(root, l)) === Set("seg=base"),
        "the fenced replay must not re-create its segment"))
      assert(e.probe(root) === want,
        "a replayed folded batch double-counted rows through the probe")

      // post-fence ingest still lands and supersedes
      assert(e.append(root, textImages((1, t3, 3, false), (6, t2, 3, false)), "b000003"))
      e.legs.foreach(l =>
        assert(segNames(legDir(root, l)) === Set("seg=base", "seg=b000003")))
      e.postFence(want, e.probe(root))
    }

    test(s"${e.label}: a torn segment is dropped by the fold, not folded — its replay rewrites it") {
      graft.functions.GraftFunctions.register(spark)
      val root = java.nio.file.Files.createTempDirectory("graft-fence-torn")
        .resolve("structure").toString
      assert(e.append(root, textImages((1, t1, 0, false), (2, t2, 0, false)), "b000000"))
      val want = e.probe(root)

      // a crashed append: the segment is written but its first leg's
      // commit is torn
      val b1 = textImages((3, t1, 1, false))
      assert(e.append(root, b1, "b000001"))
      assert(fs.delete(new org.apache.hadoop.fs.Path(
        s"${legDir(root, e.legs.head)}/seg=b000001/_SUCCESS"), false))

      e.fold(root)
      // the torn segment is gone from the tree and NOT behind the fence
      e.legs.foreach(l => assert(segNames(legDir(root, l)) === Set("seg=base")))
      assert(Layout.foldedThrough(fs, new org.apache.hadoop.fs.Path(root)) === Some(0L))
      assert(e.probe(root) === want, "the torn (uncommitted) batch must not be folded")

      // the batch replays (it never committed) and lands normally now
      assert(e.append(root, b1, "b000001"))
      assert(e.probe(root).size === want.size + 1)
    }
  }

  test("text: the fence is monotone across successive folds") {
    graft.functions.GraftFunctions.register(spark)
    val work = java.nio.file.Files.createTempDirectory("graft-fence-2fold")
    val idx = work.resolve("index").toString
    val root = new org.apache.hadoop.fs.Path(idx)
    def probe() = collectStr(TextAnalysis
      .bm25TopKViaCdcIndex(spark, idx, Seq("alpha"), 10, nBuckets = 4)
      .orderBy("r_sparse"))

    assert(TextAnalysis.appendCdcTextSegment(
      textImages((1, "alpha a", 0, false)), idx, "b000000", nBuckets = 4))
    TextAnalysis.compactCdcTextIndex(spark, idx, nBuckets = 4)
    assert(Layout.foldedThrough(fs, root) === Some(0L))

    assert(TextAnalysis.appendCdcTextSegment(
      textImages((2, "alpha b", 2, false)), idx, "b000002", nBuckets = 4))
    TextAnalysis.compactCdcTextIndex(spark, idx, nBuckets = 4)
    // second fold: max(existing fence, newly folded) — never regresses
    assert(Layout.foldedThrough(fs, root) === Some(2L))
    val want = probe()
    assert(want.size === 2)

    // both folded batches replay fenced; a fresh one lands
    assert(!TextAnalysis.appendCdcTextSegment(
      textImages((1, "alpha a", 0, false)), idx, "b000000", nBuckets = 4))
    assert(!TextAnalysis.appendCdcTextSegment(
      textImages((2, "alpha b", 2, false)), idx, "b000002", nBuckets = 4))
    assert(probe() === want)
    assert(TextAnalysis.appendCdcTextSegment(
      textImages((3, "alpha c", 3, false)), idx, "b000003", nBuckets = 4))
    assert(probe().size === 3)

    // a base-only re-fold (nothing new) keeps the fence
    TextAnalysis.compactCdcTextIndex(spark, idx, nBuckets = 4)
    assert(Layout.foldedThrough(fs, root) === Some(3L))
    TextAnalysis.compactCdcTextIndex(spark, idx, nBuckets = 4)
    assert(Layout.foldedThrough(fs, root) === Some(3L))
    assert(probe().size === 3)
  }
}
