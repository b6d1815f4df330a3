package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.core.Tables._
import VectorOps._

/** Deduplication operators for a training-data pipeline, each designed for
  * the 100 TB regime:
  *
  *  - exact dedup: one hash-shuffle on the content fingerprint;
  *  - MinHash + LSH banding: per-row signature (narrow) → explode bands →
  *    shuffle on (band, hash) buckets → pairwise verify only within buckets
  *    (candidate count is data-dependent, not O(n²));
  *  - n-gram Jaccard within cheap blocking keys;
  *  - embedding near-dup via sign-LSH buckets.
  *
  * MinHash uses md5-based hash families so the DuckDB oracle can compute the
  * identical signature (no engine-private hash functions in oracle-checked
  * paths).
  */
object Dedup {

  /** Distinct word-3-gram shingles of a text column — the single-pass
    * [[graft.functions.ShingleArray]] expression (register graft functions
    * on the session first; all dedup query entry points do). The HOF
    * formulation it replaces, kept as the reference semantics and used by
    * the equality spec:
    * `array_distinct(transform(sequence(1, size-2), i => concat_ws(" ",
    * slice(toks, i, 3))))` with an `array(text)` fallback below 3 tokens.
    */
  def shingles(text: Column): Column =
    call_function("graft_shingles", split(text, " "))

  /** The composable-HOF formulation of [[shingles]] (spec baseline). */
  def shinglesHof(text: Column): Column = {
    val toks = split(text, " ")
    when(size(toks) >= 3,
      array_distinct(transform(sequence(lit(1), size(toks) - 2),
        i => concat_ws(" ", slice(toks, i, lit(3))))))
      .otherwise(array_distinct(array(text)))
  }

  /** MinHash value j over a shingle set: lexicographic min of the j-th
    * 8-hex-char window of md5(s) — four independent hash values from one
    * md5 evaluation per shingle (4x less hashing than md5("j:"+s) per j).
    */
  def minhash(sh: Column, j: Int): Column =
    array_min(transform(sh, x => substring(md5(x), j * 8 + 1, 8)))

  /** Spread the compute-heavy narrow signature stage across the cluster —
    * but only when the scan arrives under-partitioned (small-SF local
    * parquet lands as one split). At 100 TB the split count already
    * exceeds core count and a round-robin shuffle of the full corpus text
    * would be pure waste, so this is the identity there.
    */
  private def spread(s: SparkSession, df: DataFrame): DataFrame = {
    val target = s.sparkContext.defaultParallelism
    // probe the physical RDD directly (no job runs); df.rdd would add a
    // row-deserialization stage on top just to ask for the partition count
    if (df.queryExecution.toRdd.getNumPartitions < math.max(target / 2, 1))
      df.repartition(target)
    else df
  }

  private[operators] val duckShingles: String =
    """CASE WHEN len(string_split(text, ' ')) >= 3 THEN
      |  list_distinct([array_to_string((string_split(text, ' '))[i:i+2], ' ')
      |                 for i in range(1, len(string_split(text, ' ')) - 1)])
      |ELSE list_distinct([text]) END""".stripMargin

  private[operators] def duckMinhash(j: Int): String =
    s"list_aggregate(list_transform(sh, x -> substring(md5(x), ${j * 8 + 1}, 8)), 'min')"

  // dd01 — exact dedup on the normalized-content fingerprint: keep the
  // smallest doc_id per group. One shuffle, map-side partial agg.
  def dd01Exact(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    documents(s, d)
      .groupBy(TextAnalysis.fingerprint($"text").as("fp"))
      .agg(min($"doc_id").as("keeper_doc_id"), count(lit(1)).as("n_copies"))
      .orderBy($"keeper_doc_id")
  }

  val dd01Sql: String =
    """SELECT md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp,
      |  MIN(doc_id) AS keeper_doc_id, COUNT(*) AS n_copies
      |FROM documents
      |GROUP BY 1
      |ORDER BY keeper_doc_id""".stripMargin

  // dd14 — DUPLICATION-IMPACT HISTOGRAM: the accounting report every
  // dedup decision is justified with — how much of the corpus sits in
  // duplicate groups of which size (group sizes bucketed by bit length =
  // floor(log2)+1, computed via the BINARY-STRING length on both engines
  // because floor(log2(double)) is not cross-engine-stable at power-of-
  // two boundaries). Per bucket: group count, doc count, and the ppm
  // share of all docs (truncating div — exact). Built on dd01's exact
  // fingerprint groups (shared code), so the report can never disagree
  // with the dedup pass it describes. Scale shape: the fingerprint
  // aggregate is dd01's one corpus shuffle; everything after is
  // group-count-sized with map-side partials; the one-row doc total
  // rides in as a literal.
  def dd14DupHistogram(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val groups = documents(s, d)
      .groupBy(TextAnalysis.fingerprint($"text").as("fp"))
      .agg(count(lit(1)).as("sz"))
    val nDocs = documents(s, d).count()
    groups
      .withColumn("bucket", length(expr("bin(sz)")).cast("long"))
      .groupBy($"bucket")
      .agg(count(lit(1)).as("n_groups"), sum($"sz").as("n_docs"))
      .withColumn("docs_ppm", expr(s"n_docs * 1000000L div ${nDocs}L"))
      .orderBy($"bucket")
  }

  val dd14Sql: String =
    """WITH g AS (
      |  SELECT md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp,
      |    COUNT(*) AS sz
      |  FROM documents GROUP BY 1),
      |t AS (SELECT COUNT(*) AS n FROM documents)
      |SELECT CAST(length(bin(sz)) AS BIGINT) AS bucket,
      |  COUNT(*) AS n_groups, CAST(SUM(sz) AS BIGINT) AS n_docs,
      |  CAST((SUM(sz) * 1000000) // t.n AS BIGINT) AS docs_ppm
      |FROM g, t
      |GROUP BY bucket, t.n
      |ORDER BY bucket""".stripMargin

  // dd02 — MinHash(4) + LSH (2 bands × 2 rows) near-dup candidate pairs,
  // verified with exact shingle Jaccard ≥ 0.2.
  def dd02MinhashLsh(s: SparkSession, d: String): DataFrame = {
    graft.functions.GraftFunctions.register(s)
    // signature computation is the compute-heavy narrow stage: the
    // single-pass graft_minhash expression (one md5 per shingle, all four
    // window minima in one traversal) spread over all cores. The banding
    // is the SAME bandsOf dd06's incremental path indexes — one
    // implementation, so the gate query and the index cannot drift.
    dd02PairsVia(spread(s, documents(s, d)), bandsOf)
  }

  /** Spec hook: the collapsed engine on an arbitrary docs frame. */
  private[operators] def dd02PairsCollapsed(docs: DataFrame): DataFrame =
    dd02PairsVia(docs, bandsOf)

  /** The PRE-collapse dd02 formulation (band self-join over ALL docs) —
    * reference semantics, kept as the spec equality baseline only: its
    * band join is quadratic in a duplicate group's size, which is
    * exactly what [[dd02PairsVia]] bounds away.
    */
  private[operators] def dd02PairsNaive(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    val bands = bandsOf(docs)
    val cands = bands.as("a").join(bands.as("b"),
        $"a.band_id" === $"b.band_id" && $"a.h" === $"b.h" &&
          $"a.doc_id" < $"b.doc_id")
      .select($"a.doc_id".as("doc_a"), $"b.doc_id".as("doc_b"))
      .distinct()
    verifyJaccard(cands, docs.select($"doc_id", shingles($"text").as("sh")), 0.2)
  }

  /** dd02's candidate-pair engine with identical-text PRE-COLLAPSE.
    *
    * The naive band self-join is quadratic in a duplicate group's size:
    * g identical docs share every band, so each band bucket holding the
    * group pairs g·(g−1)/2 rows through the JOIN and re-verifies the
    * same Jaccard g² times (this corpus has a 347-copy group; dd12
    * learned the same lesson). Fix — group arithmetic, mirroring dd12:
    * collapse identical RAW text (md5(text) — raw, not the normalized
    * dd01 fingerprint: bands hash the raw token stream, so only raw
    * equality guarantees identical bands) to ONE representative before
    * banding. The band join and the Jaccard verification then run on
    * representatives only — work bounded by DISTINCT-text count, not
    * doc count. Member pairs are reconstructed afterwards by local
    * array expansion: cross pairs inherit the representative pair's
    * Jaccard (members are byte-identical), intra-group pairs are
    * Jaccard 1.0 by construction. The expansion is output-sized — the
    * oracle's answer IS all-pairs — but it is a generator over small
    * per-group id arrays, not a shuffle join. (A group too large for
    * its id array in memory is a corpus whose pair LIST is infeasible
    * to emit at all — the bound is inherent to the query's shape.)
    */
  private def dd02PairsVia(docsIn: DataFrame,
                           bandsFn: DataFrame => DataFrame,
                           rawfpFn: Column => Column = md5(_)): DataFrame = {
    import docsIn.sparkSession.implicits._
    val grouped = docsIn
      .groupBy(rawfpFn($"text").as("rawfp"))
      .agg(min(struct($"doc_id", $"text")).as("rep"),
        sort_array(collect_list($"doc_id")).as("members"))
    val reps = grouped.select($"rep.doc_id".as("doc_id"),
      $"rep.text".as("text"), $"members")
    val bands = bandsFn(reps.select($"doc_id", $"text"))
    val candReps = bands.as("a").join(bands.as("b"),
        $"a.band_id" === $"b.band_id" && $"a.h" === $"b.h" &&
          $"a.doc_id" < $"b.doc_id")
      .select($"a.doc_id".as("doc_a"), $"b.doc_id".as("doc_b"))
      .distinct()
    val verified = verifyJaccardRaw(candReps,
      reps.select($"doc_id", shingles($"text").as("sh")), 0.2)
    // cross-group expansion: every member pair inherits the rep pair
    val cross = verified
      .join(reps.select($"doc_id".as("doc_a"), $"members".as("ms_a")), "doc_a")
      .join(reps.select($"doc_id".as("doc_b"), $"members".as("ms_b")), "doc_b")
      .select($"jaccard", explode($"ms_a").as("x"), $"ms_b")
      .select($"jaccard", $"x", explode($"ms_b").as("y"))
      .select(least($"x", $"y").as("doc_a"),
        greatest($"x", $"y").as("doc_b"), $"jaccard")
    // intra-group pairs: identical docs share all bands (always
    // candidates) and have Jaccard exactly 1.0
    val intra = grouped.select($"members")
      .where(size($"members") >= 2)
      .select(explode(expr(
        "flatten(transform(members, (x, i) -> " +
          "transform(slice(members, i + 2, size(members)), " +
          "y -> struct(x AS doc_a, y AS doc_b))))")).as("p"))
      .select($"p.doc_a", $"p.doc_b", lit(1.0).as("jaccard"))
    cross.unionByName(intra).orderBy($"doc_a", $"doc_b")
  }

  /** Exact shingle-Jaccard confirmation of candidate pairs: arrays are
    * re-joined only for survivors of the banding, never shuffled wholesale.
    */
  private def verifyJaccard(cands: DataFrame, shSets: DataFrame,
                            threshold: Double): DataFrame = {
    import cands.sparkSession.implicits._
    verifyJaccardRaw(cands, shSets, threshold).orderBy($"doc_a", $"doc_b")
  }

  /** [[verifyJaccard]] without the output ordering — for callers that
    * keep transforming the verified pairs (dd02's member expansion).
    */
  private def verifyJaccardRaw(cands: DataFrame, shSets: DataFrame,
                               threshold: Double): DataFrame = {
    import cands.sparkSession.implicits._
    cands
      .join(shSets.select($"doc_id".as("doc_a"), $"sh".as("sh_a")), "doc_a")
      .join(shSets.select($"doc_id".as("doc_b"), $"sh".as("sh_b")), "doc_b")
      .select($"doc_a", $"doc_b",
        (size(array_intersect($"sh_a", $"sh_b")).cast("double") /
          size(array_union($"sh_a", $"sh_b"))).as("jaccard"))
      .filter($"jaccard" >= threshold)
  }

  val dd02Sql: String =
    s"""WITH sh_t AS (SELECT doc_id, $duckShingles AS sh FROM documents),
       |sig AS (SELECT doc_id, sh,
       |  md5(${duckMinhash(0)} || '|' || ${duckMinhash(1)}) AS band0,
       |  md5(${duckMinhash(2)} || '|' || ${duckMinhash(3)}) AS band1 FROM sh_t),
       |bands AS (
       |  SELECT doc_id, sh, 0 AS band_id, band0 AS h FROM sig
       |  UNION ALL
       |  SELECT doc_id, sh, 1 AS band_id, band1 AS h FROM sig),
       |pairs AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |    CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
       |      / len(list_distinct(list_concat(a.sh, b.sh))) AS jaccard
       |  FROM bands a JOIN bands b ON a.band_id = b.band_id AND a.h = b.h AND a.doc_id < b.doc_id)
       |SELECT doc_a, doc_b, jaccard FROM pairs
       |WHERE jaccard >= 0.2
       |ORDER BY doc_a, doc_b""".stripMargin

  /** Bench-only twin of dd02 with xxhash64 EVERYWHERE md5 appears —
    * signatures, band hashes, AND the raw-text collapse fingerprint.
    * md5 is the ORACLE choice (DuckDB computes the identical digest);
    * xxhash64 is what a production deployment would use when cross-engine
    * determinism isn't required. Both tiers run the SAME collapsed
    * engine ([[dd02PairsVia]]), so the bench delta measures hash choice
    * alone — not hash-plus-collapse against a slim path (round-13 tier
    * drift, VERDICT r13 #2). The 64-bit collapse key is bench-only: a
    * cross-text collision would merge distinct docs (~n²/2⁶⁴), which the
    * md5 gate's 128-bit key makes negligible.
    */
  def dd02MinhashLshXx(s: SparkSession, d: String): DataFrame = {
    graft.functions.GraftFunctions.register(s)
    import s.implicits._
    def bandsXx(docs: DataFrame): DataFrame = {
      val shs = docs.select($"doc_id", shingles($"text").as("sh"))
      val sigs = shs.select(($"doc_id" +:
        (0 until 4).map(j =>
          array_min(transform($"sh", x => xxhash64(lit(j), x))).as(s"mh$j"))): _*)
      sigs.select($"doc_id",
          explode(array(
            struct(lit(0).as("band_id"), xxhash64($"mh0", $"mh1").as("h")),
            struct(lit(1).as("band_id"), xxhash64($"mh2", $"mh3").as("h")))).as("b"))
        .select($"doc_id", $"b.band_id", $"b.h")
    }
    dd02PairsVia(spread(s, documents(s, d)), bandsXx,
      rawfpFn = t => xxhash64(lit("rawfp"), t))
  }

  // dd03 — SimHash dedup. 32-bit signature: bit j is the sign of Σ over
  // distinct tokens of ±1, where +1 iff the j-th hex nibble of md5(token)
  // has its high bit set (nibble >= 8). Documents with identical
  // signatures form a duplicate cluster (keeper = min doc_id). Cluster
  // output is linear in input — pairwise expansion (hamming-LSH banding,
  // see dd02's shape) is intentionally avoided: on a self-similar corpus
  // pair output is quadratic and melts at 100 TB. md5-nibble hashing keeps
  // the DuckDB oracle bit-identical. Plan: explode + one 32-column codegen
  // aggregation + one group-by — no arrays in any shuffle.
  private def isHigh(c: Column): Column =
    c.isin("8", "9", "a", "b", "c", "d", "e", "f")

  def dd03Simhash(s: SparkSession, d: String): DataFrame = {
    graft.functions.GraftFunctions.register(s)
    import s.implicits._
    // signatures computed in one narrow pass (graft_simhash expression):
    // only (doc_id, sig) rows reach the cluster groupBy — no per-token
    // exchange. The explode+32-CASE-sum formulation lives on as the spec
    // baseline (dd03SigsHof) and the oracle SQL.
    spread(s, documents(s, d))
      .select($"doc_id", call_function("graft_simhash", split($"text", " ")).as("sig"))
      .groupBy($"sig")
      .agg(min($"doc_id").as("keeper_doc_id"), count(lit(1)).as("n_docs"))
      .orderBy($"keeper_doc_id")
  }

  /** Composable formulation of the per-doc simhash signature (spec baseline). */
  def dd03SigsHof(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val tok = documents(s, d)
      .select($"doc_id", explode(array_distinct(split($"text", " "))).as("t"))
      .select($"doc_id", md5($"t").as("h"))
    val bitSums = (1 to 32).map { j =>
      sum(when(isHigh(substring($"h", j, 1)), 1).otherwise(-1)).as(s"b$j")
    }
    tok.groupBy($"doc_id")
      .agg(bitSums.head, bitSums.tail: _*)
      .select($"doc_id",
        concat((1 to 32).map(j => when(col(s"b$j") > 0, "1").otherwise("0")): _*).as("sig"))
  }

  val dd03Sql: String = {
    val bitSums = (1 to 32).map { j =>
      s"SUM(CASE WHEN substring(h, $j, 1) IN ('8','9','a','b','c','d','e','f') THEN 1 ELSE -1 END) AS b$j"
    }.mkString(", ")
    val sigConcat = (1 to 32).map(j => s"CASE WHEN b$j > 0 THEN '1' ELSE '0' END").mkString(" || ")
    s"""WITH tok AS (
       |  SELECT doc_id, md5(unnest(list_distinct(string_split(text, ' ')))) AS h FROM documents),
       |bitsum AS (SELECT doc_id, $bitSums FROM tok GROUP BY doc_id),
       |sig_t AS (SELECT doc_id, $sigConcat AS sig FROM bitsum)
       |SELECT sig, MIN(doc_id) AS keeper_doc_id, COUNT(*) AS n_docs
       |FROM sig_t GROUP BY sig
       |ORDER BY keeper_doc_id""".stripMargin
  }

  // dd04 — blocked exact n-gram Jaccard: cheap blocking key (lang, source,
  // token-count bucket) bounds the pairwise work to within-block pairs.
  //
  // Scale shape: shingle ARRAYS never enter a shuffle. Shingles explode to
  // (block, shingle, doc) rows, the self-equi-join on (block, shingle)
  // counts |A∩B| per pair (codegen hash join + partial agg), and
  // |A∪B| = |A| + |B| − |A∩B|. Pairs sharing zero shingles never
  // materialize — at 100 TB that is the difference between "pairs that
  // might match" and "all pairs in the block".
  //
  // Hot-shingle guard: a shingle occurring in k docs of a block contributes
  // k² rows to the self-join — on a self-similar corpus (license headers,
  // "terms of service" boilerplate) single shingles reach k ≈ 10⁶ and the
  // join explodes. Standard document-frequency cut: shingles with block-DF
  // above max(50, 0.5% of block size) are dropped from BOTH the intersection
  // and the per-doc set sizes (Jaccard over the filtered sets) — stop-shingle
  // removal that barely moves Jaccard but caps per-shingle join fan-out at
  // threshold², making the shuffle skew-proof by construction.
  def dd04NgramJaccard(s: SparkSession, d: String): DataFrame = {
    graft.functions.GraftFunctions.register(s)
    import s.implicits._
    val base = spread(s, documents(s, d))
      .select(
        $"doc_id", $"lang", $"source",
        floor(size(split($"text", " ")) / 10.0).cast("long").as("len_bucket"),
        shingles($"text").as("sh"))
    val blockKeys = Seq("lang", "source", "len_bucket")
    val blockSizes = base.groupBy(blockKeys.map(col): _*)
      .agg(count(lit(1)).as("n_docs_blk"))
    val ex = base.select($"lang", $"source", $"len_bucket", $"doc_id",
      explode($"sh").as("shingle"))
    // DF cut as an ANTI-join against the HOT set (df above threshold) —
    // typically tiny (bounded by total-occurrences/threshold: the corpus
    // boilerplate), so it beats joining the keep-set (~every shingle). No
    // broadcast HINT on purpose: a hint is honored unconditionally and the
    // hot set's size is data-dependent — AQE promotes the shuffle anti-join
    // to broadcast at runtime when the measured size is small (the common
    // case) and keeps the safe shuffle plan when a pathological corpus
    // makes it big.
    val hot = ex.groupBy(blockKeys.map(col) :+ $"shingle": _*)
      .agg(count(lit(1)).as("df"))
      .join(blockSizes, blockKeys)
      .filter($"df" > greatest(lit(50.0), $"n_docs_blk" * 0.005))
      .select($"lang", $"source", $"len_bucket", $"shingle")
    val exK = ex.join(hot, blockKeys :+ "shingle", "left_anti")
    val sizes = exK.groupBy($"doc_id").agg(count(lit(1)).as("n_sh"))
    val inter = exK.as("a").join(exK.as("b"),
        $"a.lang" === $"b.lang" && $"a.source" === $"b.source" &&
          $"a.len_bucket" === $"b.len_bucket" && $"a.shingle" === $"b.shingle" &&
          $"a.doc_id" < $"b.doc_id")
      .groupBy($"a.doc_id".as("doc_a"), $"b.doc_id".as("doc_b"))
      .agg(count(lit(1)).as("n_inter"))
    inter
      .join(sizes.select($"doc_id".as("doc_a"), $"n_sh".as("n_a")), "doc_a")
      .join(sizes.select($"doc_id".as("doc_b"), $"n_sh".as("n_b")), "doc_b")
      .select($"doc_a", $"doc_b",
        ($"n_inter".cast("double") / ($"n_a" + $"n_b" - $"n_inter")).as("jaccard"))
      .filter($"jaccard" >= 0.15)
      .orderBy($"doc_a", $"doc_b")
  }

  val dd04Sql: String =
    s"""WITH base AS (SELECT doc_id, lang, source,
       |  CAST(floor(len(string_split(text, ' ')) / 10.0) AS BIGINT) AS len_bucket,
       |  $duckShingles AS sh FROM documents),
       |blk AS (SELECT lang, source, len_bucket, COUNT(*) AS n_docs_blk
       |        FROM base GROUP BY 1, 2, 3),
       |ex AS (SELECT lang, source, len_bucket, doc_id, unnest(sh) AS shingle FROM base),
       |hot AS (
       |  SELECT d.lang, d.source, d.len_bucket, d.shingle
       |  FROM (SELECT lang, source, len_bucket, shingle, COUNT(*) AS df
       |        FROM ex GROUP BY 1, 2, 3, 4) d
       |  JOIN blk USING (lang, source, len_bucket)
       |  WHERE d.df > greatest(50.0, blk.n_docs_blk * 0.005)),
       |exk AS (
       |  SELECT * FROM ex
       |  WHERE NOT EXISTS (SELECT 1 FROM hot h
       |    WHERE h.lang = ex.lang AND h.source = ex.source
       |    AND h.len_bucket = ex.len_bucket AND h.shingle = ex.shingle)),
       |sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM exk GROUP BY 1),
       |inter AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_inter
       |  FROM exk a JOIN exk b
       |    ON a.lang = b.lang AND a.source = b.source
       |    AND a.len_bucket = b.len_bucket AND a.shingle = b.shingle
       |    AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2)
       |SELECT doc_a, doc_b,
       |  CAST(n_inter AS DOUBLE) / (sa.n_sh + sb.n_sh - n_inter) AS jaccard
       |FROM inter
       |JOIN sizes sa ON sa.doc_id = doc_a
       |JOIN sizes sb ON sb.doc_id = doc_b
       |WHERE CAST(n_inter AS DOUBLE) / (sa.n_sh + sb.n_sh - n_inter) >= 0.15
       |ORDER BY doc_a, doc_b""".stripMargin

  // dd05 — embedding-cosine near-dup: sign-LSH buckets, pairwise exact
  // cosine only within buckets, threshold 0.9. The bucket family SCALES
  // with the corpus (nBitsFor: ~log₂(N/64), clamped [8, 24]) so
  // within-bucket pair work stays ~N·64/2 — linear in N — instead of
  // N²/2^const, which is quadratic at fixed resolution.
  def dd05EmbeddingDup(s: SparkSession, d: String): DataFrame = {
    graft.functions.GraftFunctions.register(s)
    import s.implicits._
    val nb = nBitsForDir(d)
    val base = embeddings(s, d)
      .select($"vec_id", $"embedding", signBucket($"embedding", nb).as("bucket"))
    val a = base.select($"bucket", $"vec_id".as("vec_a"), $"embedding".as("emb_a"))
    val b = base.select($"bucket", $"vec_id".as("vec_b"), $"embedding".as("emb_b"))
    a.join(b, Seq("bucket"))
      .filter($"vec_a" < $"vec_b")
      .select($"vec_a", $"vec_b", cosine($"emb_a", $"emb_b").as("cos"))
      .filter($"cos" >= 0.9)
      .orderBy($"vec_a", $"vec_b")
  }

  def dd05Sql(d: String): String =
    s"""WITH base AS (SELECT vec_id, embedding, ${duckSignBucket("embedding", nBitsForDir(d))} AS bucket FROM embeddings)
       |SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
       |  ${duckCosine("a.embedding", "b.embedding")} AS cos
       |FROM base a JOIN base b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
       |WHERE ${duckCosine("a.embedding", "b.embedding")} >= 0.9
       |ORDER BY vec_a, vec_b""".stripMargin

  // dd06 — INCREMENTAL dedup: a new batch (doc_id % 10 >= 8 stands in for
  // "today's crawl") deduplicates against the existing corpus (the other
  // 80%) without ever re-pairing the corpus with itself. This is the shape
  // that matters in production — the corpus is 100 TB and append-only; the
  // batch is small. Two stages, both anti-joins against corpus-derived
  // sets: (1) exact — md5 fingerprint; (2) near-dup — MinHash band buckets
  // propose corpus candidates for the surviving batch docs, exact shingle
  // Jaccard >= 0.5 within buckets confirms. Corpus-side cost is one
  // signature pass + shuffles keyed by fingerprint/band (both incremental-
  // izable as precomputed indexes at scale); nothing quadratic in corpus
  // size anywhere.
  /** MinHash band buckets as slim (doc_id, band_id, h) rows — shingle
    * arrays stay out of the band shuffle (dd02's banding).
    */
  /** dd02's LSH band keys as one ARRAY column — the derivation
    * [[bandsOf]] explodes for the batch gates and the CDC band log
    * stores per versioned row ([[CdcBinlog]]'s cdcm15 state). ONE
    * definition, so the batch path, the incremental index and the
    * CDC-maintained state can never band differently.
    */
  private[operators] def bandStructs(text: Column): Column = {
    val mh = call_function("graft_minhash", split(text, " "))
    array(
      struct(lit(0).as("band_id"),
        md5(concat_ws("|", element_at(mh, 1), element_at(mh, 2))).as("h")),
      struct(lit(1).as("band_id"),
        md5(concat_ws("|", element_at(mh, 3), element_at(mh, 4))).as("h")))
  }

  private def bandsOf(df: DataFrame): DataFrame = {
    import df.sparkSession.implicits._
    df.select($"doc_id", explode(bandStructs($"text")).as("b"))
      .select($"doc_id", $"b.band_id", $"b.h")
  }

  /** The incremental-dedup core: batch-vs-corpus, corpus never re-paired
    * with itself. `corpusFp`/`corpusBands`/`corpusShingles` are the three
    * corpus-derived sets — computed inline by the gate query, or read from
    * the persistent index by [[dd06ViaIndex]].
    */
  private def incrementalCore(fresh: DataFrame, corpusFp: DataFrame,
                              corpusBands: DataFrame, corpusShingles: DataFrame): DataFrame = {
    import fresh.sparkSession.implicits._
    val survivors = fresh
      .withColumn("fp", TextAnalysis.fingerprint($"text"))
      .join(corpusFp, Seq("fp"), "left_anti")
    // new_id =!= corpus_id: a doc is never its own duplicate — and under
    // streaming replay a crashed batch's own band rows may already sit in
    // the index, which without this exclusion would self-match every
    // replayed doc at jaccard 1.0 and permanently reject it
    val candPairs = bandsOf(survivors).as("n")
      .join(corpusBands.as("c"), Seq("band_id", "h"))
      .filter($"n.doc_id" =!= $"c.doc_id")
      .select($"n.doc_id".as("new_id"), $"c.doc_id".as("corpus_id"))
      .distinct()
    val nsh = survivors.select($"doc_id".as("new_id"), shingles($"text").as("nsh"))
    val nearDups = candPairs
      .join(nsh, "new_id")
      .join(corpusShingles, "corpus_id")
      .select($"new_id",
        (size(array_intersect($"nsh", $"csh")).cast("double") /
          size(array_union($"nsh", $"csh"))).as("j"))
      .filter($"j" >= 0.5)
      .select($"new_id".as("doc_id")).distinct()
    survivors.join(nearDups, Seq("doc_id"), "left_anti")
      .select($"doc_id")
      .orderBy($"doc_id")
  }

  /** Recompute path: corpus-derived sets built inline from corpus text. */
  def incrementalDedup(fresh: DataFrame, corpus: DataFrame): DataFrame = {
    import corpus.sparkSession.implicits._
    graft.functions.GraftFunctions.register(corpus.sparkSession)
    incrementalCore(fresh,
      corpus.select(TextAnalysis.fingerprint($"text").as("fp")).distinct(),
      bandsOf(corpus),
      corpus.select($"doc_id".as("corpus_id"), shingles($"text").as("csh")))
  }

  def dd06IncrementalDedup(s: SparkSession, d: String): DataFrame = {
    graft.functions.GraftFunctions.register(s)
    import s.implicits._
    val docs = spread(s, documents(s, d))
    incrementalDedup(docs.filter($"doc_id" % 10 >= 8), docs.filter($"doc_id" % 10 < 8))
  }

  /** Persist the corpus-derived dedup index: `fp/` (distinct fingerprints),
    * `bands/` (doc_id, band_id, h), `shingles/` (corpus_id, csh). The
    * index is SEGMENT-ADDRESSED: every build lands in `<table>/seg=<name>`
    * subdirectories with overwrite, so re-running a segment (a replayed
    * streaming batch, a re-ingested increment) rewrites exactly its own
    * rows — idempotent by construction, no append-duplication, no partial-
    * append ordering hazards. Successive dd06 runs never rescan corpus
    * text — the production shape for a 100 TB append-only corpus.
    * Band/fingerprint files are repartitioned on their probe keys; on a
    * cluster deployment use `bucketBy` + `saveAsTable` for the same layout
    * with co-located joins.
    */
  def buildDedupIndex(corpus: DataFrame, indexDir: String,
                      segment: String = "base"): Unit = {
    import corpus.sparkSession.implicits._
    graft.functions.GraftFunctions.register(corpus.sparkSession)
    bandsOf(corpus).repartition($"band_id", $"h")
      .write.mode("overwrite").parquet(s"$indexDir/bands/seg=$segment")
    corpus.select($"doc_id".as("corpus_id"), shingles($"text").as("csh"))
      .write.mode("overwrite").parquet(s"$indexDir/shingles/seg=$segment")
    corpus.select(TextAnalysis.fingerprint($"text").as("fp")).distinct()
      .write.mode("overwrite").parquet(s"$indexDir/fp/seg=$segment")
  }

  /** Full rebuild: wipe the index directory and build `seg=base` from the
    * given corpus — the only way stale segments (documents no longer in
    * the corpus) leave the index.
    */
  def rebuildDedupIndex(corpus: DataFrame, indexDir: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(indexDir)
    p.getFileSystem(corpus.sparkSession.sparkContext.hadoopConfiguration).delete(p, true)
    buildDedupIndex(corpus, indexDir)
  }

  /** dd06 against the persistent index: identical semantics to
    * [[dd06IncrementalDedup]]'s recompute path (spec-pinned), with the
    * corpus side read from parquet — no corpus text scan, no corpus
    * signature recompute. `excludeSegment` drops one segment from the
    * probe (partition-pruned): streaming replay uses it so a crashed
    * attempt's own partial rows can never influence the replayed
    * admission decision. Requires globally unique doc_ids across corpus
    * and batches (the pipeline invariant the self-pair exclusion and the
    * index itself are keyed on).
    */
  def dd06ViaIndex(s: SparkSession, fresh: DataFrame, indexDir: String,
                   excludeSegment: Option[String] = None): DataFrame = {
    graft.functions.GraftFunctions.register(s)
    // refuse the pre-segment flat layout outright: mixing it with seg=
    // subdirectories would fail partition discovery on every later read
    val bandsPath = new org.apache.hadoop.fs.Path(s"$indexDir/bands")
    val fs = bandsPath.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (fs.exists(bandsPath) &&
        fs.listStatus(bandsPath).exists(st => st.isFile && st.getPath.getName.endsWith(".parquet")))
      throw new IllegalStateException(
        s"dedup index at $indexDir uses the pre-segment flat layout — rebuild it " +
          "(Dedup.rebuildDedupIndex) before probing")
    def tbl(name: String): DataFrame = {
      val df = s.read.parquet(s"$indexDir/$name")
      excludeSegment.fold(df)(seg => df.filter(col("seg") =!= seg))
    }
    incrementalCore(fresh, tbl("fp"), tbl("bands"), tbl("shingles"))
  }

  val dd06Sql: String =
    s"""WITH corpus AS (SELECT doc_id, text FROM documents WHERE doc_id % 10 < 8),
       |fresh AS (SELECT doc_id, text FROM documents WHERE doc_id % 10 >= 8),
       |cfp AS (SELECT DISTINCT md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp FROM corpus),
       |survivors AS (
       |  SELECT doc_id, text FROM fresh
       |  WHERE md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) NOT IN (SELECT fp FROM cfp)),
       |nsh AS (SELECT doc_id, $duckShingles AS sh FROM survivors),
       |csh AS (SELECT doc_id, $duckShingles AS sh FROM corpus),
       |nb AS (
       |  SELECT doc_id, 0 AS band_id, md5(${duckMinhash(0)} || '|' || ${duckMinhash(1)}) AS h FROM nsh
       |  UNION ALL
       |  SELECT doc_id, 1 AS band_id, md5(${duckMinhash(2)} || '|' || ${duckMinhash(3)}) AS h FROM nsh),
       |cb AS (
       |  SELECT doc_id, 0 AS band_id, md5(${duckMinhash(0)} || '|' || ${duckMinhash(1)}) AS h FROM csh
       |  UNION ALL
       |  SELECT doc_id, 1 AS band_id, md5(${duckMinhash(2)} || '|' || ${duckMinhash(3)}) AS h FROM csh),
       |pairs AS (
       |  SELECT DISTINCT n.doc_id AS new_id, c.doc_id AS corpus_id
       |  FROM nb n JOIN cb c ON n.band_id = c.band_id AND n.h = c.h
       |    AND n.doc_id <> c.doc_id),
       |neardup AS (
       |  SELECT DISTINCT p.new_id AS doc_id
       |  FROM pairs p
       |  JOIN nsh ON nsh.doc_id = p.new_id
       |  JOIN csh ON csh.doc_id = p.corpus_id
       |  WHERE CAST(len(list_intersect(nsh.sh, csh.sh)) AS DOUBLE)
       |      / len(list_distinct(list_concat(nsh.sh, csh.sh))) >= 0.5)
       |SELECT doc_id FROM survivors
       |WHERE doc_id NOT IN (SELECT doc_id FROM neardup)
       |ORDER BY doc_id""".stripMargin

  // dd07 — the end-to-end curation pipeline a training-data run actually
  // executes, composed from the engine's own stages in ONE declarative
  // plan: quality gate (length + stopword + repetition-adjacent type-token
  // ratio) → exact dedup (keep smallest doc_id per fingerprint) → split
  // assignment (txt07's stable hash buckets) → per-(split, lang) corpus
  // stats. Catalyst pipelines the narrow stages into the dedup shuffle's
  // map side; the only exchanges are the dedup groupBy and the final tiny
  // agg — composition costs nothing over the stages run separately.
  def dd07Pipeline(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val toks = TextAnalysis.tokens($"text")
    val nTok = size(toks)
    val quality = documents(s, d)
      .filter(nTok >= 30 &&
        (size(filter(toks, t => t === "the" || t === "a")).cast("double") / nTok) < 0.2 &&
        (size(array_distinct(toks)).cast("double") / nTok) > 0.3)
    val keepers = quality
      .withColumn("fp", TextAnalysis.fingerprint($"text"))
      .withColumn("rn", row_number().over(
        Window.partitionBy($"fp").orderBy($"doc_id")))
      .filter($"rn" === 1)
    val bucket = conv(substring(md5($"doc_id".cast("string")), 1, 4), 16, 10)
      .cast("long") % 100
    keepers
      .withColumn("split",
        when(bucket < 5, "test").when(bucket < 15, "val").otherwise("train"))
      .groupBy($"split", $"lang")
      .agg(count(lit(1)).as("n_docs"),
        sum(size(TextAnalysis.tokens($"text")).cast("long")).as("n_tokens"))
      .orderBy($"split", $"lang")
  }

  val dd07Sql: String =
    """WITH toks_t AS (
      |  SELECT doc_id, lang, text, string_split(text, ' ') AS toks FROM documents),
      |quality AS (
      |  SELECT doc_id, lang, text FROM toks_t
      |  WHERE len(toks) >= 30
      |    AND CAST(len(list_filter(toks, t -> t = 'the' OR t = 'a')) AS DOUBLE) / len(toks) < 0.2
      |    AND CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks) > 0.3),
      |keepers AS (
      |  SELECT doc_id, lang, text FROM (
      |    SELECT doc_id, lang, text,
      |      row_number() OVER (
      |        PARTITION BY md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g')))
      |        ORDER BY doc_id) AS rn
      |    FROM quality) WHERE rn = 1),
      |assigned AS (
      |  SELECT lang, text,
      |    CASE WHEN ('0x' || md5(CAST(doc_id AS VARCHAR))[1:4])::BIGINT % 100 < 5 THEN 'test'
      |         WHEN ('0x' || md5(CAST(doc_id AS VARCHAR))[1:4])::BIGINT % 100 < 15 THEN 'val'
      |         ELSE 'train' END AS split
      |  FROM keepers)
      |SELECT split, lang, COUNT(*) AS n_docs,
      |  CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
      |FROM assigned
      |GROUP BY split, lang
      |ORDER BY split, lang""".stripMargin

  // dd08 — benchmark decontamination: flag training docs that share any
  // word-3-gram shingle with an eval/benchmark doc (here the txt07 "test"
  // split, so the gate stays self-contained; in production the benchmark
  // suite is an external table with the same shape). The eval side is
  // SMALL BY CONSTRUCTION — benchmarks have a fixed absolute size and do
  // not grow with the corpus — so its (shingle, eval_id) pairs broadcast
  // and the 100 TB train side stays a narrow explode feeding a
  // broadcast-hash join; only slim (doc_id, sh, eval_id) survivor rows
  // reach the final aggregation shuffle. This is the canonical
  // "n-gram overlap with eval" decontamination pass a training pipeline
  // runs after dedup.
  def dd08Decontaminate(s: SparkSession, d: String): DataFrame = {
    graft.functions.GraftFunctions.register(s)
    import s.implicits._
    val bucket = conv(substring(md5($"doc_id".cast("string")), 1, 4), 16, 10)
      .cast("long") % 100
    val docs = documents(s, d).withColumn("bkt", bucket)
    // graft_shingles is per-doc distinct, so (eval_id, sh) needs no
    // dedup stage before the broadcast
    val evalSh = docs.filter($"bkt" < 5)
      .select($"doc_id".as("eval_id"), explode(shingles($"text")).as("sh"))
    val trainSh = docs.filter($"bkt" >= 5)
      .select($"doc_id", explode(shingles($"text")).as("sh"))
    trainSh.join(broadcast(evalSh), "sh")
      .groupBy($"doc_id")
      .agg(
        countDistinct($"sh").as("n_shared_shingles"),
        countDistinct($"eval_id").as("n_eval_docs"))
      .orderBy($"doc_id")
  }

  val dd08Sql: String =
    s"""WITH b AS (
       |  SELECT doc_id, text,
       |    ('0x' || md5(CAST(doc_id AS VARCHAR))[1:4])::BIGINT % 100 AS bkt
       |  FROM documents),
       |esh AS (
       |  SELECT DISTINCT doc_id AS eval_id, unnest($duckShingles) AS sh
       |  FROM b WHERE bkt < 5),
       |tsh AS (
       |  SELECT doc_id, unnest($duckShingles) AS sh
       |  FROM b WHERE bkt >= 5)
       |SELECT t.doc_id,
       |  CAST(COUNT(DISTINCT t.sh) AS BIGINT) AS n_shared_shingles,
       |  CAST(COUNT(DISTINCT e.eval_id) AS BIGINT) AS n_eval_docs
       |FROM tsh t JOIN esh e ON t.sh = e.sh
       |GROUP BY t.doc_id
       |ORDER BY t.doc_id""".stripMargin

  // dd13 — dd08's decontamination behind a BLOOM SCREEN, same exact
  // answer (same oracle): at 100 TB the eval shingle set behind a
  // benchmark suite is itself large, and broadcasting string shingles to
  // every train task is the expensive part of the exact join. The screen
  // replaces that first contact with a fixed-m bloom (2×xxhash64
  // positions packed into 64-bit words, bit_or-aggregated — q40's
  // distributed build, global instead of per-file): train shingles probe
  // the broadcast word map with two integer lookups, and only candidates
  // (true matches + ~1.5 % false positives at 16 bits/shingle) proceed
  // to the exact string join that removes the FPs — txt19's
  // sketch-prune-then-exact-verify pattern applied to decontamination.
  // No false negatives → the final aggregates are bit-identical to
  // dd08's. The gate asserts the screen actually pruned; per-shingle
  // `need` counts distinct (word, bit) pairs so a position collision
  // cannot false-negative a true match (q40's lesson).
  def dd13BloomDecontaminate(s: SparkSession, d: String): DataFrame =
    dd13BloomDecontaminateWith(s, d)

  /** dd13 with the bloom parameters exposed (defaults are the gate's
    * values): `bitsPerKey` sizes m from the distinct eval-shingle count,
    * `kHashes` is the hash count. The screen is exact at ANY (k, m) —
    * no false negatives, so the decontamination report is identical;
    * only the candidate (pre-confirm) volume varies. BloomSkipSpec pins
    * the no-false-negative property over k in {1, 2, 4}.
    */
  private[operators] def dd13BloomDecontaminateWith(
      s: SparkSession, d: String,
      bitsPerKey: Long = 16L, kHashes: Int = 2): DataFrame = {
    graft.functions.GraftFunctions.register(s)
    import s.implicits._
    val bucket = conv(substring(md5($"doc_id".cast("string")), 1, 4), 16, 10)
      .cast("long") % 100
    val docs = documents(s, d).withColumn("bkt", bucket)
    val evalSh = docs.filter($"bkt" < 5)
      .select($"doc_id".as("eval_id"), explode(shingles($"text")).as("sh"))
    val trainSh = docs.filter($"bkt" >= 5)
      .select($"doc_id", explode(shingles($"text")).as("sh"))
    val nEval = evalSh.select($"sh").distinct().count() // stats at 100 TB
    val mBits = math.max(1024L, bitsPerKey * nEval)
    def positions(c: org.apache.spark.sql.Column) =
      Layout.bloomPositions(c, mBits, kHashes)
    val bloom = evalSh.select(explode(positions($"sh")).as("pos"))
      .groupBy(expr("pos div 64").as("word"))
      .agg(expr("bit_or(shiftleft(1L, int(pos % 64)))").as("bits"))
    val candidates = trainSh
      .withColumn("need", size(array_distinct(positions($"sh"))).cast("long"))
      .select($"doc_id", $"sh", $"need",
        explode(array_distinct(positions($"sh"))).as("pos"))
      .select($"doc_id", $"sh", $"need", expr("pos div 64").as("word"),
        expr("shiftleft(1L, int(pos % 64))").as("bit"))
      .join(broadcast(bloom), "word")
      .filter(($"bits".bitwiseAND($"bit")) =!= 0)
      .groupBy($"doc_id", $"sh", $"need").agg(count(lit(1)).as("hits"))
      .filter($"hits" === $"need")
      .select($"doc_id", $"sh")
    val nTrain = trainSh.count()
    val nCand = candidates.count()
    require(nCand < nTrain, s"bloom screen pruned nothing " +
      s"($nCand of $nTrain train shingle instances) — sizing regression")
    candidates.join(broadcast(evalSh), "sh")
      .groupBy($"doc_id")
      .agg(
        countDistinct($"sh").as("n_shared_shingles"),
        countDistinct($"eval_id").as("n_eval_docs"))
      .orderBy($"doc_id")
  }

  /** Connected components over a near-dup pair graph — the step that turns
    * LSH pairs into DEDUP GROUPS (keep one representative per component).
    * Iterative hash-to-min: each node's label converges to its component's
    * minimum doc_id; one slim (id, comp) shuffle per round, lineage
    * truncated per iteration, never a materialized transitive closure.
    * Rounds = graph diameter — LSH dup graphs are near-cliques (diameter
    * 2-3 in practice), so a handful of rounds suffice even at 100 TB; the
    * published alternating large-star/small-star algorithm (Kiveris et
    * al., "Connected Components in MapReduce and Beyond") is the
    * O(log n)-round upgrade if adversarial chain graphs ever appear, and
    * the iteration guard fails loudly rather than spinning.
    *
    * Input: (doc_a, doc_b) pairs. Output: (id, comp) — comp = the
    * component's minimum member id. Nodes are the pair endpoints
    * (singletons never enter the graph). The result is backed by a
    * truncated-lineage cache (each intermediate round is unpersisted
    * eagerly); consume it promptly and drop the reference — Spark's
    * ContextCleaner reclaims the final cache once unreachable, or call
    * `.unpersist()` explicitly in long-lived sessions.
    *
    * Fault tolerance: the default per-round truncation is
    * `localCheckpoint` — executor-block storage, fastest, but an executor
    * loss mid-loop kills the query (truncated lineage cannot recompute).
    * Fine on a single machine; on a real cluster pass
    * `reliableCheckpointDir` (HDFS/object-store path) and each round
    * checkpoints THERE instead — any executor can die and the loop
    * resumes from files. Superseded rounds' files are deleted EXPLICITLY
    * as the loop advances (the context cleaner never reclaims them); only
    * the final round's files remain, backing the returned DataFrame for
    * the caller's lifetime. `SparkContext.setCheckpointDir` is a
    * context-GLOBAL knob, so reliable-mode invocations serialize on a
    * JVM-wide lock and run under a per-invocation subdirectory — two
    * concurrent calls would otherwise checkpoint into whichever dir was
    * set last and the per-round deletion could destroy the other run's
    * live files. Code that independently checkpoints into its own dir
    * concurrently is still racy by the global knob's nature.
    */
  private val reliableCkptLock = new Object
  def connectedComponents(pairs: DataFrame, maxIter: Int = 25,
                          reliableCheckpointDir: Option[String] = None): DataFrame =
    reliableCheckpointDir match {
      case Some(dir) => reliableCkptLock.synchronized {
        val sc = pairs.sparkSession.sparkContext
        // setCheckpointDir is context-global: restore the caller's prior
        // dir on exit, or every later checkpoint() in the session would
        // silently land inside this invocation's UUID subdir
        val prior = sc.getCheckpointDir
        val sub = s"$dir/cc-${java.util.UUID.randomUUID()}"
        sc.setCheckpointDir(sub)
        try connectedComponentsImpl(pairs, maxIter, reliable = true)
        finally prior.foreach(sc.setCheckpointDir)
      }
      case None => connectedComponentsImpl(pairs, maxIter, reliable = false)
    }

  private def connectedComponentsImpl(pairs: DataFrame, maxIter: Int,
                                      reliable: Boolean): DataFrame = {
    import pairs.sparkSession.implicits._
    val sc = pairs.sparkSession.sparkContext
    def ckpt(df: DataFrame): DataFrame =
      if (reliable) df.checkpoint(true) else df.localCheckpoint(true)
    // Reliable mode: a round's checkpoint files are dead the moment the
    // NEXT round materializes, but unpersist() never reclaims them and the
    // context cleaner's cleanCheckpoints policy defaults to off — without
    // explicit deletion the loop leaks O(rounds × labels) storage. The
    // per-invocation subdir (plus setCheckpointDir's own UUID layer) means
    // listing it sees only THIS run's rdd-* dirs; snapshot-diff attributes
    // each round's dirs, and they are deleted when that round's labels are
    // dropped (the FINAL round's files back the returned DataFrame and
    // stay — they follow the caller's lifecycle).
    def rddDirs(): Set[String] =
      if (!reliable) Set.empty
      else {
        val root = new org.apache.hadoop.fs.Path(sc.getCheckpointDir.get)
        val fs = root.getFileSystem(sc.hadoopConfiguration)
        if (fs.exists(root)) fs.listStatus(root).map(_.getPath.toString).toSet
        else Set.empty
      }
    def dropDirs(dirs: Set[String]): Unit =
      if (reliable && dirs.nonEmpty) {
        val root = new org.apache.hadoop.fs.Path(sc.getCheckpointDir.get)
        val fs = root.getFileSystem(sc.hadoopConfiguration)
        dirs.foreach(d => fs.delete(new org.apache.hadoop.fs.Path(d), true))
      }
    val edges = pairs.select($"doc_a".as("src"), $"doc_b".as("dst"))
      .union(pairs.select($"doc_b".as("src"), $"doc_a".as("dst")))
      .distinct()
      .persist()
    try {
      var before = rddDirs()
      // labelsCkpt is the DataFrame the checkpoint/cache blocks actually
      // back (unpersist must hit IT); labels is the slim (id, comp) view
      // the next round consumes
      var labelsCkpt = ckpt(edges.select($"src".as("id")).distinct()
        .select($"id", $"id".as("comp")))
      var labels = labelsCkpt
      var labelsDirs = rddDirs() -- before
      var converged = false
      var i = 0
      while (!converged) {
        if (i >= maxIter) {
          labelsCkpt.unpersist() // abandon the last round's cache before failing
          dropDirs(labelsDirs)
          throw new IllegalStateException(
            s"connectedComponents did not converge in $maxIter rounds — " +
              "graph diameter exceeds the dup-cluster assumption; use a " +
              "large-star/small-star implementation for this input")
        }
        val nbrMin = edges
          .join(labels.select($"id".as("dst"), $"comp".as("ncomp")), "dst")
          .groupBy($"src")
          .agg(min($"ncomp").as("nmin"))
          .select($"src".as("id"), $"nmin")
        before = rddDirs()
        // the convergence signal rides the update join itself (comp only
        // shrinks, so "changed" is exactly nmin < comp) — probing it needs
        // one filter over the checkpointed rows, not a second full
        // updated-vs-previous shuffle join per round
        val updated = ckpt(labels.join(nbrMin, Seq("id"), "left")
          .select($"id", least($"comp", coalesce($"nmin", $"comp")).as("comp"),
            coalesce($"nmin" < $"comp", lit(false)).as("_changed")))
        val updatedDirs = rddDirs() -- before
        converged = updated.filter($"_changed").isEmpty
        labelsCkpt.unpersist()
        dropDirs(labelsDirs)
        labelsCkpt = updated
        labels = updated.select($"id", $"comp")
        labelsDirs = updatedDirs
        i += 1
      }
      labels
    } finally edges.unpersist()
  }

  // dd09 — near-dup CLUSTER assembly: dd02's verified pair graph folded
  // into components (cluster_id = the component's minimum doc_id — the
  // keeper a dedup pass retains), with per-cluster membership stats. The
  // oracle computes the same components via a recursive transitive
  // closure, which is exact on the gate-scale graph; the Spark side never
  // materializes the closure (see connectedComponents).
  def dd09DupClusters(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    connectedComponents(dd02MinhashLsh(s, d))
      .groupBy($"comp".as("cluster_id"))
      .agg(count(lit(1)).as("n_members"), max($"id").as("max_member"))
      .orderBy($"cluster_id")
  }

  val dd09Sql: String =
    s"""WITH RECURSIVE sh_t AS (SELECT doc_id, $duckShingles AS sh FROM documents),
       |sig AS (SELECT doc_id, sh,
       |  md5(${duckMinhash(0)} || '|' || ${duckMinhash(1)}) AS band0,
       |  md5(${duckMinhash(2)} || '|' || ${duckMinhash(3)}) AS band1 FROM sh_t),
       |bands AS (
       |  SELECT doc_id, sh, 0 AS band_id, band0 AS h FROM sig
       |  UNION ALL
       |  SELECT doc_id, sh, 1 AS band_id, band1 AS h FROM sig),
       |goodpairs AS (
       |  SELECT doc_a, doc_b FROM (
       |    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |      CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
       |        / len(list_distinct(list_concat(a.sh, b.sh))) AS jaccard
       |    FROM bands a JOIN bands b ON a.band_id = b.band_id AND a.h = b.h
       |      AND a.doc_id < b.doc_id)
       |  WHERE jaccard >= 0.2),
       |edges AS (SELECT doc_a AS a, doc_b AS b FROM goodpairs
       |          UNION SELECT doc_b, doc_a FROM goodpairs),
       |reach(a, b) AS (
       |  SELECT a, b FROM edges
       |  UNION
       |  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
       |nodes AS (SELECT DISTINCT a AS id FROM edges),
       |comp AS (
       |  SELECT n.id, LEAST(n.id, MIN(r.b)) AS comp
       |  FROM nodes n JOIN reach r ON r.a = n.id
       |  GROUP BY n.id)
       |SELECT comp AS cluster_id, COUNT(*) AS n_members, MAX(id) AS max_member
       |FROM comp
       |GROUP BY comp
       |ORDER BY cluster_id""".stripMargin

  // ---- dd11: corpus-level exact span dedup -------------------------------
  //
  // The span-level exact-substring technique from the dedup literature
  // (C4's duplicate-line removal; Lee et al.'s "Deduplicating Training
  // Data" at fixed granularity): chunk every document into non-overlapping
  // W-word spans, keep only the FIRST occurrence of each distinct span
  // corpus-wide (first = smallest (doc_id, chunk)), and reassemble each
  // document from its surviving spans. Unlike dd01 (whole-document) this
  // removes boilerplate repeated INSIDE otherwise-distinct documents —
  // the dominant duplication mode in crawled corpora.
  //
  // Scale shape (100 TB): chunking is NARROW — W-word spans are sliced
  // straight out of the split array (an earlier draft posexploded to
  // per-word rows and re-grouped on (doc_id, chunk), shuffling the whole
  // corpus for what a per-row transform computes in place). Two content
  // shuffles remain, both irreducible for a lossless result — the
  // span-content meeting point (the cost of ANY exact span dedup; a
  // hash-only key would save bytes but a collision silently deletes real
  // content, so the span text rides along) and the doc-keyed reassembly
  // of survivors. First-occurrence is a groupBy(ctext).min(struct): the
  // partial aggregation collapses every map task's occurrences of a hot
  // span to ONE row BEFORE the shuffle — a row_number window partitioned
  // by ctext (the earlier shape) pins all 10⁸ occurrences of a
  // boilerplate span on a single task, and window partitions are
  // AQE-unsplittable. Per-doc chunk totals come from a second narrow
  // pass over the corpus: at scale, re-scanning columnar parquet is far
  // cheaper than shuffling the full chunk stream a third time (write
  // amplification + spill vs a compressed columnar read), and docs whose
  // every chunk lost (zero survivors) still need their output row, so
  // the universe of doc_ids cannot come from the survivor stream.
  def dd11SpanDedup(s: SparkSession, d: String, w: Int = 6): DataFrame =
    spanDedup(documents(s, d), w)

  /** [[dd11SpanDedup]] on any (doc_id, text) frame — the spec entry. */
  def spanDedup(docs: DataFrame, w: Int): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    val sp = split($"text", " ")
    // chunk i = words [i*w, i*w+w) joined back — 1-based slice; split of
    // any string yields >= 1 element so every doc has >= 1 chunk (the
    // empty doc's single empty chunk participates in dedup like any span)
    val chunkArr = transform(
      sequence(lit(0), ceil(size(sp) / lit(w.toDouble)).cast("int") - 1),
      i => array_join(slice(sp, i * w + 1, lit(w)), " "))
    val chunks = docs.select($"doc_id", posexplode(chunkArr).as(Seq("chunk", "ctext")))
    // first occurrence of each distinct span = min (doc_id, chunk) —
    // map-side partial agg, then a slim survivor stream
    val firsts = chunks.groupBy($"ctext")
      .agg(min(struct($"doc_id", $"chunk")).as("f"))
      .select($"f.doc_id".as("doc_id"), $"f.chunk".as("chunk"), $"ctext")
    val reassembled = firsts.groupBy($"doc_id").agg(
      array_join(transform(array_sort(collect_list(struct($"chunk", $"ctext"))),
        p => p.getField("ctext")), " ").as("new_text"),
      count(lit(1)).as("kept_chunks"))
    docs.select($"doc_id", size(chunkArr).cast("long").as("n_chunks"))
      .join(reassembled, Seq("doc_id"), "left")
      .select($"doc_id",
        coalesce($"new_text", lit("")).as("new_text"),
        coalesce($"kept_chunks", lit(0L)).as("kept_chunks"),
        ($"n_chunks" - coalesce($"kept_chunks", lit(0L))).as("dropped_chunks"))
      .orderBy($"doc_id")
  }

  // Same chunking in DuckDB: 1-based generate_subscripts vs Spark's
  // 0-based posexplode → (pos-1)/W; aggregates skip the CASE NULLs just
  // like collect_list/count skip Spark's when() nulls.
  val dd11Sql: String =
    """WITH words AS (
      |  SELECT doc_id, generate_subscripts(string_split(text, ' '), 1) AS pos,
      |         unnest(string_split(text, ' ')) AS w
      |  FROM documents),
      |chunks AS (
      |  SELECT doc_id, CAST(floor((pos - 1) / 6) AS INTEGER) AS chunk,
      |         string_agg(w, ' ' ORDER BY pos) AS ctext
      |  FROM words GROUP BY 1, 2),
      |ranked AS (
      |  SELECT *, row_number() OVER (PARTITION BY ctext ORDER BY doc_id, chunk) AS rn
      |  FROM chunks)
      |SELECT doc_id,
      |  coalesce(string_agg(CASE WHEN rn = 1 THEN ctext END, ' ' ORDER BY chunk), '') AS new_text,
      |  CAST(count(CASE WHEN rn = 1 THEN 1 END) AS BIGINT) AS kept_chunks,
      |  CAST(count(CASE WHEN rn > 1 THEN 1 END) AS BIGINT) AS dropped_chunks
      |FROM ranked
      |GROUP BY doc_id
      |ORDER BY doc_id""".stripMargin

  // dd06b — the persisted-index path as a first-class gate query: the
  // corpus index is built ONCE per sf (cached on disk, like production
  // build-on-drift), the query itself only probes parquet — and must
  // produce the same admissions as the inline recompute twin (same oracle).
  def dd06bViaIndex(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val idx = PersistedIndexes.dedupIndex(s, d)
    dd06ViaIndex(s, documents(s, d).filter($"doc_id" % 10 >= 8), idx)
      .orderBy($"doc_id")
  }

  // dd12 — EXACT edit-distance-1 fuzzy matching via deletion-neighborhood
  // join (FastSS, Bocek et al. 2007): two strings are within edit
  // distance 1 iff they share a member of {s} ∪ single-deletions(s) —
  // equality shares s itself, a substitution shares the deletion at the
  // substituted position, an insertion/deletion makes one string a
  // deletion variant of the other. So each name explodes into ≤ len+1
  // slim (variant, pos, key) rows, candidates come from ONE equi-join on
  // the variant key (never an n² cross-compare; AQE's skew-join splits
  // hot variant buckets — both sides are ordinary shuffled relations)
  // refined by FastSS's POSITION test (a substitution's two deletions
  // happen at the SAME index; pos 0 marks the undeleted string for the
  // insert/delete/equal cases) — on this corpus the positional test cuts
  // candidates ~8× (32 M → 3.9 M at sf0.1) — and a per-candidate
  // `levenshtein` confirms, which makes the result EXACT: the
  // neighborhood is a superset of the true pairs by the theorem, and the
  // verify discards the rest. Output folds the symmetric pair graph into
  // per-item neighbor stats, so output stays linear in items.
  // The oracle brute-forces the quadratic self-join — affordable at gate
  // scale, the very thing the deletion-neighborhood join avoids at 100 TB.
  def dd12FuzzyJoin(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    fuzzyKeyNeighbors(
      graft.core.Tables.part(s, d).toDF().select($"p_partkey", $"p_name"))
  }

  /** [[dd12FuzzyJoin]] on any (p_partkey, p_name) frame — the spec entry
    * for crafted substitution/insertion/deletion/duplicate cases.
    * `detach = true` (the gate path) persists the distinct-name stats for
    * their three consumers, eagerly localCheckpoints the result, and
    * RELEASES the cache before returning — no session-lifetime pin;
    * `detach = false` builds the fully lazy plan (what the plan-shape
    * specs must see — a checkpointed result would show only its scan).
    */
  private[operators] def fuzzyKeyNeighbors(p: DataFrame,
                                           detach: Boolean = true): DataFrame = {
    val s = p.sparkSession
    graft.functions.GraftFunctions.register(s)
    import s.implicits._
    // Duplicate-heavy corpora make KEY-level neighborhood joins
    // quadratic in the duplicate groups (an equal-name group of size g
    // shares ALL its positional variants pairwise → g²·(len+1) candidate
    // rows; this corpus has a 347-copy name). So the join runs over
    // DISTINCT names only; equal-name neighbors are pure group
    // arithmetic (cnt − 1), and each name carries its two smallest keys
    // (bounded graft_min_k state) so the per-key nearest same-name
    // neighbor needs no second pass.
    val nm0 = p.groupBy($"p_name")
      .agg(count(lit(1)).as("cnt"),
        call_function("graft_min_k", $"p_partkey", lit(2)).as("ks"))
      .select($"p_name", $"cnt",
        // try_element_at: singleton groups have no second key — NULL, not
        // the ANSI out-of-bounds error element_at raises
        element_at($"ks", 1).as("k1"), try_element_at($"ks", lit(2)).as("k2nd"))
    val nm = if (detach) nm0.persist() else nm0
    try {
    val vars = nm.select($"p_name",
      explode(concat(
        array(struct(lit(0).as("pos"), $"p_name".as("v"))),
        // guard: sequence(1, 0) is DESCENDING in Spark ([1, 0]) — an
        // empty/null name would emit a spurious i=0 variant shadowing the
        // reserved pos-0 row instead of producing no deletion variants
        expr("""transform(
               |  CASE WHEN length(p_name) >= 1 THEN sequence(1, length(p_name))
               |       ELSE CAST(array() AS array<int>) END,
               |  i -> struct(i AS pos,
               |              concat(substring(p_name, 1, i-1),
               |                     substring(p_name, i+1)) AS v))"""
          .stripMargin))).as("pv"))
      .select($"p_name", $"pv.pos".as("pos"), $"pv.v".as("v"))
    val npairs = vars.as("a").join(vars.as("b"),
        $"a.v" === $"b.v" && $"a.p_name" < $"b.p_name" &&
          ($"a.pos" === $"b.pos" || $"a.pos" === 0 || $"b.pos" === 0))
      .select($"a.p_name".as("na"), $"b.p_name".as("nb"))
      .distinct()
      .filter(levenshtein($"na", $"nb") <= 1)
    val sym = npairs.select($"na".as("p_name"), $"nb".as("nbr_name"))
      .union(npairs.select($"nb", $"na"))
    // cross-name neighbor mass + smallest cross-name neighbor key, per name
    val xn = sym
      .join(nm.select($"p_name".as("nbr_name"), $"cnt".as("bcnt"),
        $"k1".as("bk1")), "nbr_name")
      .groupBy($"p_name")
      .agg(sum($"bcnt").as("xcnt"), min($"bk1").as("xmin"))
    // NO broadcast hints on nm/xn: both are one-row-per-distinct-name —
    // data-proportional, not bounded — so the hint would be exactly the
    // opaque broadcast-OOM contract ivfPqKnnJoin guards against. AQE
    // broadcasts them from MEASURED size when they're actually small
    // (they are at gate scale) and plans a shuffle join when they're not.
    val out = p.join(nm, "p_name")
      .join(xn, Seq("p_name"), "left")
      .select($"p_partkey",
        ($"cnt" - 1 + coalesce($"xcnt", lit(0L))).as("n_neighbors"),
        // least() skips nulls: same-name nearest (k1, or k2nd when this
        // key IS k1) folded with the smallest cross-name neighbor key
        least(
          when($"cnt" > 1,
            when($"p_partkey" === $"k1", $"k2nd").otherwise($"k1")),
          $"xmin").as("nearest_neighbor"))
      .filter($"n_neighbors" > 0)
    if (detach) out.localCheckpoint(true).orderBy($"p_partkey")
    else out.orderBy($"p_partkey")
    } finally { if (detach) nm.unpersist() }
  }

  val dd12Sql: String =
    """WITH pairs AS (
      |  SELECT a.p_partkey AS ka, b.p_partkey AS kb
      |  FROM part a JOIN part b
      |    ON a.p_partkey < b.p_partkey
      |    AND levenshtein(a.p_name, b.p_name) <= 1),
      |sym AS (SELECT ka AS id, kb AS nb FROM pairs
      |        UNION ALL SELECT kb, ka FROM pairs)
      |SELECT id AS p_partkey, CAST(COUNT(*) AS BIGINT) AS n_neighbors,
      |  MIN(nb) AS nearest_neighbor
      |FROM sym GROUP BY id ORDER BY p_partkey""".stripMargin

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "dd13_bloom_decontaminate" -> dd13BloomDecontaminate _,
    "dd14_dup_histogram" -> dd14DupHistogram _,
    "dd12_fuzzy_join" -> dd12FuzzyJoin _,
    "dd09_dup_clusters" -> dd09DupClusters _,
    "dd06b_via_index" -> dd06bViaIndex _,
    "dd08_decontaminate" -> dd08Decontaminate _,
    "dd07_pipeline" -> dd07Pipeline _,
    "dd01_exact_dedup" -> dd01Exact _,
    "dd02_minhash_lsh" -> dd02MinhashLsh _,
    "dd03_simhash" -> dd03Simhash _,
    "dd04_ngram_jaccard" -> dd04NgramJaccard _,
    "dd05_embedding_dup" -> dd05EmbeddingDup _,
    "dd06_incremental_dedup" -> dd06IncrementalDedup _,
    "dd11_span_dedup" -> ((s: SparkSession, d: String) => dd11SpanDedup(s, d)))

  def oracles(sfDir: String): Map[String, String] = Map(
    "dd13_bloom_decontaminate" -> dd08Sql, // bloom screen is exact → same oracle
    "dd14_dup_histogram" -> dd14Sql,
    "dd12_fuzzy_join" -> dd12Sql,
    "dd09_dup_clusters" -> dd09Sql,
    "dd06b_via_index" -> dd06Sql,
    "dd08_decontaminate" -> dd08Sql,
    "dd07_pipeline" -> dd07Sql,
    "dd01_exact_dedup" -> dd01Sql,
    "dd02_minhash_lsh" -> dd02Sql,
    "dd03_simhash" -> dd03Sql,
    "dd04_ngram_jaccard" -> dd04Sql,
    "dd05_embedding_dup" -> dd05Sql(sfDir),
    "dd06_incremental_dedup" -> dd06Sql,
    "dd11_span_dedup" -> dd11Sql)
}
