package graft.operators

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** BM25 keyword scoring ([[TextAnalysis.txt13Bm25]]) and RRF hybrid
  * retrieval ([[Similarity.sim09HybridRrf]]). Pinned:
  *  - a document containing none of the query terms scores exactly 0
  *    (every term's tf = 0 ⇒ every term contribution is 0);
  *  - scores grow with term frequency under identical length (the tf
  *    saturation curve is monotone);
  *  - RRF values live in (0, 2/61] and the fused ranking agrees with a
  *    hand-computed fusion of the two component rankings.
  */
class HybridRetrievalSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "8")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private val d = "/root/testdata/sf0.001"

  test("txt13: zero-term documents score exactly 0; tf is counted per term") {
    import spark.implicits._
    val rows = TextAnalysis.txt13Bm25(spark, d).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val tfs = TextAnalysis.bm25Terms.indices.map(i => r.getLong(2 + i))
      val bm25 = r.getDouble(2 + TextAnalysis.bm25Terms.size)
      if (tfs.forall(_ == 0L)) assert(bm25 == 0.0, s"doc ${r.getLong(0)}")
      else assert(bm25 > 0.0, s"doc ${r.getLong(0)}")
    }
  }

  test("txt13: score is monotone in tf at fixed doc length") {
    import spark.implicits._
    // synthetic corpus via temp view substitution is heavier than needed:
    // verify the saturation term directly on real rows sharing a length.
    val df = TextAnalysis.txt13Bm25(spark, d)
      .select($"n_tokens", $"tf_data", $"bm25", $"tf_fast", $"tf_table")
      .collect()
    val fixedLen = df.groupBy(_.getLong(0)).filter(_._2.length >= 2)
    // among docs of equal length where only tf_data differs (others 0),
    // higher tf_data ⇒ higher score
    fixedLen.values.foreach { rows =>
      val only = rows.filter(r => r.getLong(3) == 0 && r.getLong(4) == 0)
      val sorted = only.sortBy(_.getLong(1))
      sorted.sliding(2).foreach {
        case Array(a, b) if a.getLong(1) < b.getLong(1) =>
          assert(a.getDouble(2) < b.getDouble(2))
        case _ => ()
      }
    }
  }

  test("sim09: rrf bounds and agreement with hand-fused component ranks") {
    import spark.implicits._
    val fused = Similarity.sim09HybridRrf(spark, d).collect()
    assert(fused.length == 10)
    fused.foreach { r =>
      val rrf = r.getDouble(5)
      assert(rrf > 0.0 && rrf <= 2.0 / 61.0 + 1e-12)
      val expect = 1.0 / (60.0 + r.getLong(3).toDouble) +
        1.0 / (60.0 + r.getLong(4).toDouble)
      assert(rrf == expect, s"id ${r.getLong(0)}")
    }
    // fused order is by rrf desc then id
    val vals = fused.map(r => (r.getDouble(5), r.getLong(0)))
    assert(vals.sortBy { case (v, id) => (-v, id) }.sameElements(vals))
  }

  test("bm25TopKViaCdcIndex == inline bm25Scores on matching docs (bit-identical fold)") {
    import spark.implicits._
    val idx = PersistedIndexes.textIndexLifecycle(spark, d)
    val viaIndex = TextAnalysis
      .bm25TopKViaCdcIndex(spark, idx, TextAnalysis.bm25Terms, 10000)
      .select($"doc_id", $"bm25").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val inline = TextAnalysis.bm25Scores(spark, d)
      .filter($"bm25" > 0.0).select($"doc_id", $"bm25").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(inline.nonEmpty)
    // exactly the docs matching >= 1 term, each score EXACTLY equal (the
    // sorted-term fold is a permutation of the inline fixed-order sum that
    // IEEE addition commutativity keeps bit-identical for this term set)
    assert(viaIndex.keySet == inline.keySet)
    inline.foreach { case (id, v) => assert(viaIndex(id) == v, s"doc $id") }
  }

  test("sim09b: full-outer RRF over indexed streams — null sides contribute 0") {
    val fused = Similarity.sim09bHybridIndexed(spark, d).collect()
    assert(fused.length == 10)
    var sawOneSided = false
    fused.foreach { r =>
      val rd = if (r.isNullAt(3)) None else Some(r.getLong(3))
      val rs = if (r.isNullAt(4)) None else Some(r.getLong(4))
      assert(rd.isDefined || rs.isDefined)
      if (rd.isEmpty || rs.isEmpty) sawOneSided = true
      val expect = rd.map(x => 1.0 / (60.0 + x)).getOrElse(0.0) +
        rs.map(x => 1.0 / (60.0 + x)).getOrElse(0.0)
      assert(r.getDouble(5) == expect, s"id ${r.getLong(0)}")
      // a side that is present carries its score; an absent side is null
      assert(rd.isDefined == !r.isNullAt(1) && rs.isDefined == !r.isNullAt(2))
    }
  }
}
