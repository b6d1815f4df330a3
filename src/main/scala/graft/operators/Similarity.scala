package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Tables._
import VectorOps._

/** Approximate-nearest-neighbor search over an embedding column.
  *
  *  - sim01: brute-force exact cosine top-k — the correctness baseline; a
  *    single broadcast of the query vector + narrow scan, so it scales as a
  *    full pass (fine as ground truth / small-query path).
  *  - sim02: sign-LSH bucketed top-k — the scale path: candidates are only
  *    the query's hash bucket, so work per query is |bucket|, not |table|.
  *  - sim03: IVF-style probe — coarse centroids (per label) computed once,
  *    query probes the nearest `nprobe` cells and searches only those.
  */
object Similarity {

  // sim01 — brute-force cosine top-10 for the query vector vec_id = 0.
  def sim01BruteTopK(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val e = embeddings(s, d)
    val q = e.filter($"vec_id" === 0).select($"embedding".as("qv"))
    e.filter($"vec_id" =!= 0)
      .crossJoin(broadcast(q))
      .select($"vec_id", $"label", cosine($"embedding", $"qv").as("cos"))
      .orderBy($"cos".desc, $"vec_id")
      .limit(10)
  }

  val sim01Sql: String =
    s"""WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0)
       |SELECT e.vec_id, e.label, ${duckCosine("e.embedding", "q.qv")} AS cos
       |FROM embeddings e, q
       |WHERE e.vec_id <> 0
       |ORDER BY cos DESC, vec_id
       |LIMIT 10""".stripMargin

  // sim11 — exact cosine RANGE search: every corpus vector within cosine
  // >= tau of the query. The radius contract complements top-k (sim01):
  // dedup-threshold sweeps, "find every near-copy", and contamination
  // screens need ALL matches, and the answer size is data-dependent, so a
  // fixed k is the wrong API. Exact range search is irreducibly a full
  // pass (any unscanned vector could lie inside the radius), but the pass
  // is one NARROW broadcast+map+filter stage — the corpus never shuffles;
  // only the (typically tiny) inside-radius survivors reach the output
  // sort. At 100 TB this is the same plan at parquet-scan speed, and an
  // approximate pre-screen composes by swapping the scan input for the
  // IVF-PQ probe's cell union (same downstream filter). Threshold and
  // score are bit-identical cross-engine (sim01's cosine contract), so
  // boundary rows cannot flip between Spark and the oracle.
  val sim11Tau = 0.2
  def sim11RangeSearch(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val e = embeddings(s, d)
    val q = e.filter($"vec_id" === 0).select($"embedding".as("qv"))
    e.filter($"vec_id" =!= 0)
      .crossJoin(broadcast(q))
      .select($"vec_id", $"label", cosine($"embedding", $"qv").as("cos"))
      .filter($"cos" >= lit(sim11Tau))
      .orderBy($"cos".desc, $"vec_id")
  }

  val sim11Sql: String =
    s"""WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0)
       |SELECT e.vec_id, e.label, ${duckCosine("e.embedding", "q.qv")} AS cos
       |FROM embeddings e, q
       |WHERE e.vec_id <> 0 AND ${duckCosine("e.embedding", "q.qv")} >= 0.2
       |ORDER BY cos DESC, vec_id""".stripMargin

  // sim11b — range search over the persisted IVF index: the approximate
  // pre-screen sim11's scaladoc promises, as a first-class gate. The
  // top-nprobe cells by centroid·query are the only partitions read
  // (cell-pruned scan, like sim05b); exact cosines are computed for
  // those cells' rows alone and the radius filter runs on them — recall
  // is bounded by the probe (the standard IVF range contract; sim11 is
  // the exact full-pass twin), and the oracle reproduces the SAME cell
  // selection so the approximation itself is hash-checked. At 100 TB the
  // scan is nprobe/k of the corpus and nothing corpus-sized moves.
  def sim11bRangeViaIndex(s: SparkSession, d: String,
                          tau: Double = sim11Tau): DataFrame = {
    import s.implicits._
    val e = embeddings(s, d)
    val q = e.filter($"vec_id" === 0).select($"embedding".as("qv"))
    val idx = PersistedIndexes.annIndex(s, d)
    cellCandidates(s.read.parquet(s"$idx/cells"),
      s.read.parquet(s"$idx/centroids"), q)
      .filter($"cos" >= lit(tau))
      .orderBy($"cos".desc, $"vec_id")
  }

  val sim11bSql: String =
    s"""WITH $annProbeCtes
       |SELECT a.vec_id, a.label, a.cell, ${duckCosine("a.embedding", "q.qv")} AS cos
       |FROM assigned a JOIN probed p ON a.cell = p.cell, q
       |WHERE a.vec_id <> 0 AND ${duckCosine("a.embedding", "q.qv")} >= $sim11Tau
       |ORDER BY cos DESC, vec_id""".stripMargin

  // sim12 — truncated-dimension prefilter + exact rerank (the Matryoshka/
  // progressive-refinement pattern): a cheap cosine over the first 8 of 64
  // dimensions ranks the corpus, the top-30 survivors pay the full-width
  // exact cosine, and the final top-10 is reported with both scores. This
  // is the third refinement family next to sim06 (scalar quantization)
  // and sim07 (product quantization): it needs NO trained codebook — the
  // prefix of the vector IS the coarse representation — which is exactly
  // the property Matryoshka-style embedding models train for. Scale
  // shape: the prefix scoring is the same narrow broadcast-map pass as
  // sim01 but touching 8/64 of the bytes (with column-projected storage,
  // 1/8th the scan I/O); the top-30 cut is a TakeOrdered per-partition
  // top-k (never a global sort); only 30 rows pay the full-width cosine.
  // Both scores are IEEE-exact in a fixed association order, so ranks and
  // values are bit-identical to the oracle.
  val sim12PrefixDims = 8
  def sim12TruncatedPrefilter(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val e = embeddings(s, d)
    val q = e.filter($"vec_id" === 0).select($"embedding".as("qv"))
    val pre = e.filter($"vec_id" =!= 0)
      .crossJoin(broadcast(q))
      .select($"vec_id", $"label", $"embedding", $"qv",
        cosine(slice($"embedding", 1, sim12PrefixDims),
          slice($"qv", 1, sim12PrefixDims)).as("pre_cos"))
    pre.orderBy($"pre_cos".desc, $"vec_id").limit(30)
      .select($"vec_id", $"label", $"pre_cos",
        cosine($"embedding", $"qv").as("cos"))
      .orderBy($"cos".desc, $"vec_id")
      .limit(10)
  }

  val sim12Sql: String =
    s"""WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
       |pre AS (
       |  SELECT e.vec_id, e.label, e.embedding, q.qv,
       |    ${duckCosine("e.embedding[1:8]", "q.qv[1:8]")} AS pre_cos
       |  FROM embeddings e, q
       |  WHERE e.vec_id <> 0),
       |top AS (SELECT * FROM pre ORDER BY pre_cos DESC, vec_id LIMIT 30)
       |SELECT vec_id, label, pre_cos, ${duckCosine("embedding", "qv")} AS cos
       |FROM top
       |ORDER BY cos DESC, vec_id
       |LIMIT 10""".stripMargin

  // sim02 — LSH-bucketed ANN with Hamming-1 multi-probe: candidates are the
  // query's sign bucket plus the nBits buckets one flipped hyperplane away
  // — the standard recall repair for a bucket family that GROWS with the
  // corpus (nBitsFor ~ log₂(N/64)): more buckets = fewer candidates per
  // bucket, multi-probe wins back the neighbors that land just across a
  // plane. At 100 TB the bucket id is the shuffle/partition key and
  // per-query cost is (nBits+1)·bucket-size, not |table|.
  def sim02LshTopK(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val nb = nBitsForDir(d)
    val e = embeddings(s, d).withColumn("bucket", signBucket($"embedding", nb))
    val probes = e.filter($"vec_id" === 0)
      .select($"embedding".as("qv"), explode(array(
        ($"bucket" +: (0 until nb).map(i => $"bucket".bitwiseXOR(lit(1 << i)))): _*
      )).as("qbucket"))
    e.join(broadcast(probes), $"bucket" === $"qbucket")
      .filter($"vec_id" =!= 0)
      .select($"vec_id", $"label", cosine($"embedding", $"qv").as("cos"))
      .orderBy($"cos".desc, $"vec_id")
      .limit(10)
  }

  def sim02Sql(d: String): String = {
    val nb = nBitsForDir(d)
    val probeList = ("q0.bucket" +: (0 until nb).map(i => s"xor(q0.bucket, ${1 << i})")).mkString(", ")
    s"""WITH e AS (SELECT vec_id, label, embedding, ${duckSignBucket("embedding", nb)} AS bucket FROM embeddings),
       |q AS (SELECT q0.embedding AS qv, unnest([$probeList]) AS qbucket
       |      FROM e q0 WHERE q0.vec_id = 0)
       |SELECT e.vec_id, e.label, ${duckCosine("e.embedding", "q.qv")} AS cos
       |FROM e JOIN q ON e.bucket = q.qbucket
       |WHERE e.vec_id <> 0
       |ORDER BY cos DESC, vec_id
       |LIMIT 10""".stripMargin
  }

  /** Exact decimal-mean centroid per dimension of each `key` group's
    * embeddings: sim03's per-label coarse quantizer, and the per-cell
    * centroids of every seeded or persisted IVF index. One tiny
    * aggregation; at 100 TB it is computed once (or k-means-refined),
    * PERSISTED, and broadcast per query — see [[buildIvfIndex]] /
    * [[sim03ViaIndex]].
    */
  private[operators] def meanCentroids(rows: DataFrame, key: String): DataFrame =
    rows.select(col(key), posexplode(col("embedding")).as(Seq("pos", "v")))
      .groupBy(col(key), col("pos"))
      .agg((sum(col("v").cast("decimal(38,10)")).cast("double") / count(lit(1))).as("c"))
      .groupBy(col(key))
      .agg(array_sort(collect_list(struct(col("pos"), col("c")))).as("pc"))
      .select(col(key), transform(col("pc"), p => p.getField("c")).as("centroid"))

  /** Persist the IVF coarse-quantizer (per-cell centroid arrays) so query
    * time never re-aggregates the corpus. Rebuild on corpus drift (or
    * maintain incrementally — means compose from per-cell sums/counts).
    */
  def buildIvfIndex(e: DataFrame, indexDir: String): Unit =
    meanCentroids(e, "label").write.mode("overwrite").parquet(s"$indexDir/centroids")

  private def ivfProbe(e: DataFrame, cent: DataFrame, q: DataFrame,
                       preFilter: Column = lit(true)): DataFrame = {
    import e.sparkSession.implicits._
    val probed = cent.crossJoin(broadcast(q))
      .select($"label", aggregate( // centroid is array<double>: HOF fold here
        zip_with($"centroid", $"qv", (x, y) => x * y.cast("double")),
        lit(0.0), (acc, v) => acc + v).as("cdot"))
      .orderBy($"cdot".desc, $"label")
      .limit(3)
      .select($"label")
    e.join(broadcast(probed), Seq("label"))
      .filter($"vec_id" =!= 0 && preFilter)
      .crossJoin(broadcast(q))
      .select($"vec_id", $"label", cosine($"embedding", $"qv").as("cos"))
      .orderBy($"cos".desc, $"vec_id")
      .limit(10)
  }

  // sim18 — FILTERED vector search, the production retrieval pattern
  // (metadata predicate + ANN in one query). The predicate applies
  // INSIDE the cell-pruned scan, BEFORE scoring and the top-k cut:
  // post-filtering a plain top-k under-fills k whenever the filter is
  // selective (the classic filtered-search bug — k results that
  // satisfy the filter, not k results minus casualties), and because
  // the predicate is a plain Catalyst filter it pushes into the
  // parquet scan of the probed cells, so selectivity makes the probe
  // CHEAPER rather than wasted. Cell ranking stays corpus-wide (the
  // quantizer doesn't know the filter — the standard engine contract);
  // the oracle replays the same probed-cells + WHERE logic.
  def sim18FilteredSearch(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val e = embeddings(s, d)
    val q = e.filter($"vec_id" === 0).select($"embedding".as("qv"))
    ivfProbe(e, meanCentroids(e, "label"), q, preFilter = $"vec_id" % 7 === 3)
  }

  val sim18Sql: String = {
    val dotCQ = "list_reduce(list_prepend(CAST(0.0 AS DOUBLE), " +
      "list_transform(list_zip(c.centroid, q.qv), p -> p[1] * CAST(p[2] AS DOUBLE))), (x, y) -> x + y)"
    s"""WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
       |cd AS (SELECT label, generate_subscripts(embedding, 1) AS pos, unnest(embedding) AS v FROM embeddings),
       |cm AS (SELECT label, pos, CAST(SUM(CAST(v AS DECIMAL(38,10))) AS DOUBLE) / COUNT(*) AS c
       |       FROM cd GROUP BY label, pos),
       |cent AS (SELECT label, list(c ORDER BY pos) AS centroid FROM cm GROUP BY label),
       |probed AS (SELECT c.label FROM cent c, q ORDER BY $dotCQ DESC, c.label LIMIT 3)
       |SELECT e.vec_id, e.label, ${duckCosine("e.embedding", "q.qv")} AS cos
       |FROM embeddings e JOIN probed p ON e.label = p.label, q
       |WHERE e.vec_id <> 0 AND e.vec_id % 7 = 3
       |ORDER BY cos DESC, vec_id
       |LIMIT 10""".stripMargin
  }

  // sim03 — IVF probe: rank cells by centroid distance to the query,
  // search the top-3 cells exhaustively.
  def sim03IvfTopK(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val e = embeddings(s, d)
    val q = e.filter($"vec_id" === 0).select($"embedding".as("qv"))
    ivfProbe(e, meanCentroids(e, "label"), q)
  }

  /** sim03 against the persisted index: identical semantics (spec-pinned),
    * centroids read from parquet — the query path aggregates nothing.
    */
  def sim03ViaIndex(s: SparkSession, d: String, indexDir: String): DataFrame = {
    import s.implicits._
    val e = embeddings(s, d)
    val q = e.filter($"vec_id" === 0).select($"embedding".as("qv"))
    ivfProbe(e, s.read.parquet(s"$indexDir/centroids"), q)
  }

  val sim03Sql: String = {
    val dotCQ = "list_reduce(list_prepend(CAST(0.0 AS DOUBLE), " +
      "list_transform(list_zip(c.centroid, q.qv), p -> p[1] * CAST(p[2] AS DOUBLE))), (x, y) -> x + y)"
    s"""WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
       |cd AS (SELECT label, generate_subscripts(embedding, 1) AS pos, unnest(embedding) AS v FROM embeddings),
       |cm AS (SELECT label, pos, CAST(SUM(CAST(v AS DECIMAL(38,10))) AS DOUBLE) / COUNT(*) AS c
       |       FROM cd GROUP BY label, pos),
       |cent AS (SELECT label, list(c ORDER BY pos) AS centroid FROM cm GROUP BY label),
       |probed AS (SELECT c.label FROM cent c, q ORDER BY $dotCQ DESC, c.label LIMIT 3)
       |SELECT e.vec_id, e.label, ${duckCosine("e.embedding", "q.qv")} AS cos
       |FROM embeddings e JOIN probed p ON e.label = p.label, q
       |WHERE e.vec_id <> 0
       |ORDER BY cos DESC, vec_id
       |LIMIT 10""".stripMargin
  }

  // sim04 — LSH-bucketed k-NN JOIN: every 50th vector is a query; top-3
  // neighbors within its sign bucket by exact cosine. The batch (many-query)
  // version of sim02 and the cross-dataset dedup/enrichment shape: at scale
  // the bucket is the shuffle key, per-query work is bucket-sized, and the
  // query side is a peer dataset (NOT broadcast — it grows with the data).
  def sim04KnnJoin(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val base = embeddings(s, d).withColumn("bucket", signBucket($"embedding", nBitsForDir(d)))
    val q = base.filter($"vec_id" % 50 === 0)
      .select($"bucket", $"vec_id".as("qid"), $"embedding".as("qv"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy($"qid")
      .orderBy($"cos".desc, $"cid")
    base.join(q, "bucket")
      .filter($"vec_id" =!= $"qid")
      .select($"qid", $"vec_id".as("cid"), cosine($"embedding", $"qv").as("cos"))
      .withColumn("rnk", row_number().over(w))
      .filter($"rnk" <= 3)
      .orderBy($"qid", $"rnk")
  }

  def sim04Sql(d: String): String =
    s"""WITH e AS (SELECT vec_id, embedding, ${duckSignBucket("embedding", nBitsForDir(d))} AS bucket FROM embeddings),
       |q AS (SELECT bucket, vec_id AS qid, embedding AS qv FROM e WHERE vec_id % 50 = 0),
       |pairs AS (
       |  SELECT q.qid, e.vec_id AS cid, ${duckCosine("e.embedding", "q.qv")} AS cos
       |  FROM e JOIN q USING (bucket) WHERE e.vec_id <> q.qid),
       |ranked AS (
       |  SELECT qid, cid, cos,
       |    row_number() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS rnk
       |  FROM pairs)
       |SELECT qid, cid, cos, rnk FROM ranked WHERE rnk <= 3
       |ORDER BY qid, rnk""".stripMargin

  // ---- sim05: label-free k-means-style IVF -------------------------------
  //
  // sim03's cells are the label column — a quantizer the data happened to
  // ship. sim05 derives cells from the GEOMETRY alone: k deterministic seed
  // vectors (vec_id < k), every vector assigned to its max-cosine seed, cell
  // centroids as exact decimal means, query probes the top-`nprobe` cells.
  // Scale shape: assignment is a broadcast of k seeds + a per-row argmax
  // fold (NO corpus shuffle); the one shuffle is the slim (cell, pos, v)
  // centroid build, which happens at INDEX BUILD time — see buildAnnIndex,
  // where the assignment is persisted cell-partitioned so a query's probe
  // is a partition-pruned read of 3 of k directories.

  /** One-row DataFrame holding the k seed vectors sorted by seed id. */
  private def seedArray(e: DataFrame, k: Int): DataFrame = {
    import e.sparkSession.implicits._
    e.filter($"vec_id" < k)
      .agg(array_sort(collect_list(struct($"vec_id".as("sid"), $"embedding".as("sv"))))
        .as("seeds"))
  }

  /** Assign every vector to its nearest (max-cosine) seed: broadcast the
    * one-row seed array, argmax per row via array_max over (sim, -sid)
    * structs — lexicographic struct order makes ties pick the SMALLEST
    * seed id, mirroring the oracle's ORDER BY sim DESC, sid. Narrow: the
    * corpus is never shuffled or exploded.
    */
  private[operators] def assignCells(e: DataFrame, k: Int): DataFrame = {
    import e.sparkSession.implicits._
    e.crossJoin(broadcast(seedArray(e, k)))
      .withColumn("best", array_max(transform($"seeds",
        s => struct(cosine($"embedding", s.getField("sv")).as("sim"),
          (-s.getField("sid")).as("nsid")))))
      // passthrough: every input column survives (the CDC path rides its
      // version/tombstone columns through the assignment)
      .select(e.columns.map(col) :+
        (-$"best".getField("nsid")).cast("int").as("cell"): _*)
  }

  /** The IVF candidate stage shared by top-k probe and range probe:
    * exact cosines over the top-nprobe cells' rows only (cell-pruned
    * scan, broadcast query — nothing corpus-sized moves).
    */
  private def cellCandidates(assigned: DataFrame, cent: DataFrame, q: DataFrame,
                             nprobe: Int = 3): DataFrame = {
    import assigned.sparkSession.implicits._
    val probed = cent.crossJoin(broadcast(q))
      .select($"cell", aggregate(
        zip_with($"centroid", $"qv", (x, y) => x * y.cast("double")),
        lit(0.0), (acc, v) => acc + v).as("cdot"))
      .orderBy($"cdot".desc, $"cell")
      .limit(nprobe)
      .select($"cell")
    assigned.join(broadcast(probed), Seq("cell"))
      .filter($"vec_id" =!= 0)
      .crossJoin(broadcast(q))
      .select($"vec_id", $"label", $"cell", cosine($"embedding", $"qv").as("cos"))
  }

  private def cellProbe(assigned: DataFrame, cent: DataFrame, q: DataFrame,
                        nprobe: Int = 3): DataFrame = {
    import assigned.sparkSession.implicits._
    cellCandidates(assigned, cent, q, nprobe)
      .orderBy($"cos".desc, $"vec_id")
      .limit(10)
  }

  def sim05KmeansIvf(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val e = embeddings(s, d)
    val q = e.filter($"vec_id" === 0).select($"embedding".as("qv"))
    val assigned = assignCells(e, 16)
    cellProbe(assigned, meanCentroids(assigned, "cell"), q)
  }

  /** Persist the full IVF index: the corpus CELL-PARTITIONED (the inverted
    * file — probing reads only the probed cells' directories) plus the
    * centroid table. Build cost: one broadcast-assign pass + the slim
    * centroid shuffle; run on corpus drift, not per query.
    */
  def buildAnnIndex(e: DataFrame, indexDir: String, k: Int = 16): Unit = {
    // a (re)build defines a NEW quantizer: every earlier segment (appended
    // increments, or a pre-segment flat layout) was assigned under the old
    // one and must go — wiping only seg=base would leave stale segments in
    // the probed union (wrong cells, duplicate vec_ids)
    val cellsPath = new org.apache.hadoop.fs.Path(s"$indexDir/cells")
    cellsPath.getFileSystem(e.sparkSession.sparkContext.hadoopConfiguration)
      .delete(cellsPath, true)
    val assigned = assignCells(e, k).localCheckpoint(true)
    try {
      // segment-addressed (seg=base), the layout the CDC ANN index shares
      assigned.write.mode("overwrite").partitionBy("cell")
        .parquet(s"$indexDir/cells/seg=base")
      meanCentroids(assigned, "cell").write.mode("overwrite")
        .parquet(s"$indexDir/centroids")
    } finally assigned.unpersist()
  }

  /** Assignment against PERSISTED centroids — the incremental-ingest twin
    * of [[assignCells]]: a new batch lands in an existing index without
    * recomputing the coarse quantizer (the standard IVF contract; the
    * quantizer only changes on a rebuild). Same broadcast-argmax shape —
    * the batch is never shuffled; ties pick the smallest cell id. HOF
    * arithmetic with explicit double casts (centroids are double arrays,
    * embeddings float).
    */
  private[operators] def assignToCentroids(batch: DataFrame, cent: DataFrame): DataFrame = {
    import batch.sparkSession.implicits._
    // the per-row k·dims inner loop of every append/requantize: the
    // codegen'd graft_dot (double widen before multiply, left-to-right
    // fold — bit-identical to the HOF form it replaced, which ran
    // INTERPRETED per element and was the whole pass at requantize scale).
    // `batch`'s embedding is the callers' float view (`cast("array<float>")`)
    // of the index's long embeddings: that cast is what makes graft_dot
    // type-check against the double centroids — long×floating fails
    // analysis by design (FloatDotProduct.checkInputDataTypes)
    def dotd(a: Column, b: Column): Column = call_function("graft_dot", a, b)
    // ranking drops the row's own norm: it scales every seed's cosine by
    // the same positive constant, so the argmax is unchanged and the
    // per-seed HOF work halves (dot(a,a) would otherwise recompute k times).
    // The SEED's norm is likewise constant per seed — precomputed once on
    // the k centroid rows (not once per row per seed: HOFs run
    // interpreted, and at requantize-scale k the per-row k·dims work is
    // the whole pass), exact same double arithmetic so assignments are
    // bit-identical.
    // nanvl: a zero-norm centroid yields 0/0 = NaN, and Spark orders NaN
    // GREATEST — such a seed would silently win every argmax and absorb
    // the whole batch; -Inf makes it lose to any real seed instead
    def rank(a: Column, sv: Column, nrm: Column): Column =
      nanvl(dotd(a, sv) / nrm, lit(Double.NegativeInfinity))
    val centArr = cent
      .select($"cell", $"centroid", sqrt(dotd($"centroid", $"centroid")).as("nrm"))
      .agg(array_sort(collect_list(
        struct($"cell".as("sid"), $"centroid".as("sv"), $"nrm"))).as("seeds"))
    batch.crossJoin(broadcast(centArr))
      .withColumn("best", array_max(transform($"seeds",
        s => struct(rank($"embedding", s.getField("sv"), s.getField("nrm")).as("sim"),
          (-s.getField("sid")).as("nsid")))))
      // passthrough, like assignCells: extra batch columns (CDC version,
      // tombstone flag) ride through the assignment untouched
      .select(batch.columns.map(col) :+
        (-$"best".getField("nsid")).cast("int").as("cell"): _*)
  }

  // ---- CDC-maintained ANN index (cdcm5) --------------------------------
  //
  // The ANN twin of the CDC text index (cdcm4): a change stream's vectors
  // land in an IVF layout with MERGE-ON-READ versioning. Each batch's
  // per-key latest images are assigned to the PERSISTED coarse quantizer
  // (the IVF contract — the quantizer changes only on a rebuild; the
  // FIRST batch defines it) and appended as one cell-partitioned segment
  // whose rows carry the writing version; a slim doc log records
  // (vec_id, ver, deleted) per touched key. Ingest is O(batch); the
  // probe reconstructs liveness exactly like the text twin, so search
  // results equal a brute-force pass over the latest images.

  /** Append one CDC batch's latest images (vec_id, embedding, ver,
    * deleted) to the ANN index; the first batch also writes the
    * centroids it was quantized under. Segment replay is idempotent
    * (a replayed segment overwrites exactly its own rows) — unless a
    * fold already consumed the segment: [[Layout.append]] then skips it
    * (false). Returns true iff written.
    */
  def appendCdcAnnSegment(images: DataFrame, indexDir: String,
                          segment: String, k: Int = 16): Boolean = {
    val s = images.sparkSession
    import s.implicits._
    Layout.append(s, indexDir, segment) { out =>
      // the quantizer runs on a float view (the assigners' native-dot
      // path); the STORED embedding stays the exact long array the
      // integer-dot probe scores — cell choice may be float-rounded,
      // scores never are
      val live = images.filter(!$"deleted")
        .withColumn("emb_exact", $"embedding")
        .withColumn("embedding", $"embedding".cast("array<float>"))
      val centPath = new org.apache.hadoop.fs.Path(s"${out.dir}/centroids")
      val fs = centPath.getFileSystem(s.sparkContext.hadoopConfiguration)
      val assigned =
        if (!fs.exists(centPath)) {
          // checkpoint: the assignment feeds the centroid aggregate AND
          // the segment write — and must not replay the source batch
          val a = assignCells(live, k).localCheckpoint(true)
          meanCentroids(a, "cell").write.mode("overwrite").parquet(centPath.toString)
          a
        } else assignToCentroids(live, s.read.parquet(centPath.toString))
      Seq(
        () => out.write("cells", assigned
          .withColumn("embedding", $"emb_exact").drop("emb_exact")
          // cluster by cell before the partitionBy write (tasks x cells
          // small files per segment otherwise — see appendCdcTextSegment)
          .repartition($"cell"), "cell"),
        () => out.write("doclog", images.select($"vec_id", $"ver", $"deleted")
          .coalesce(4)))
    }
  }

  /** Fold the CDC ANN index to a live-only base segment — the ANN twin
    * of [[TextAnalysis.compactCdcTextIndex]]: superseded and deleted
    * versions' rows are dropped (cell assignments are kept — they were
    * made under the persisted quantizer, which only a rebuild
    * replaces), the doc log collapses to live rows, tombstones vanish.
    * Probe-invariant by construction (spec-pinned); restores O(live)
    * doc-log scans and O(1) seg fan-out per cell. Committed through
    * [[Layout.fold]].
    */
  def compactCdcAnnIndex(s: SparkSession, indexDir: String): Unit = {
    import s.implicits._
    Layout.fold(s, indexDir) { (view, out) =>
      val live = Layout.latestLive(view.read("doclog"), "vec_id")
        .persist() // feeds the cell filter AND the folded doc log
      try {
        val cells = view.read("cells").drop("seg")
        // three independent staging legs off the pinned `live` frame,
        // committed with the fold (guide §2.6)
        Layout.inParallelLegs(Seq(
          () => out.write("cells", cells
            .join(live.select($"vec_id", $"ver"), Seq("vec_id", "ver"))
            .select(cells.columns.map(col): _*)
            .repartition($"cell"), "cell"),
          () => out.write("doclog", live.coalesce(4)),
          // centroids carry over unchanged (the quantizer is rebuild-only)
          () => s.read.parquet(s"${view.dir}/centroids")
            .coalesce(1).write.mode("overwrite").parquet(s"${out.dir}/centroids")))
      } finally live.unpersist()
    }
  }

  /** REQUANTIZE the CDC ANN index: re-derive the coarse quantizer from
    * the CURRENT live corpus and re-assign every live vector to it —
    * the lifecycle op [[compactCdcAnnIndex]] deliberately is not. The
    * fold keeps assignments because the IVF contract scopes the
    * quantizer to a rebuild; this IS that rebuild, run in place: the
    * first batch's centroids go stale as the corpus grows and churns
    * (cells unbalance, pruned-probe recall decays), and the only cure
    * is new centroids + new assignments. Exact-probe results are
    * UNCHANGED by construction (any partition of the live rows unions
    * back to the same corpus); pruned-probe recall changes BY DESIGN —
    * so the proof obligation is the oracle gate (cdcm13: exact probe
    * hash-matches brute force over latest images) plus the restart
    * spec's centroid byte-compare, not probe-invariance.
    *
    * Quantizer: seed with the k smallest live vec_ids' vectors, then
    * `iterations` Lloyd rounds of the index's own arithmetic
    * (assign-to-centroids argmax, exact decimal-mean centroids) — all
    * DataFrame-native; per round the corpus sees one narrow broadcast
    * assignment pass and one slim (k·dims rows) centroid shuffle,
    * nothing corpus-sized is collected or broadcast. Superseded and
    * tombstoned versions are dropped and the doc log collapses (a
    * requantize subsumes a compact). Committed through [[Layout.fold]].
    */
  def requantizeCdcAnnIndex(s: SparkSession, indexDir: String, k: Int = 16,
                            iterations: Int = 2): Unit = {
    import s.implicits._
    Layout.fold(s, indexDir) { (view, out) =>
    val live = Layout.latestLive(view.read("doclog"), "vec_id")
      .persist()
    try {
      val cells = view.read("cells").drop("seg")
      // live rows, OLD cell dropped; the Lloyd loop re-reads these, so
      // pin them once (live-corpus-sized, same footprint as a compact)
      val rows = cells
        .join(live.select($"vec_id", $"ver"), Seq("vec_id", "ver"))
        .select(cells.columns.filterNot(_ == "cell").map(col): _*)
        .persist()
      try {
        require(!rows.isEmpty, s"requantize: no live vectors under $indexDir")
        // the appenders' float-view dance: quantize on floats, store
        // the exact long arrays the integer-dot probe scores
        val floatView = rows
          .withColumn("emb_exact", $"embedding")
          .withColumn("embedding", $"embedding".cast("array<float>"))
        // seeds: k smallest LIVE vec_ids (not `vec_id < k` — those ids
        // may be deleted by now); the window runs over k rows, not the
        // corpus (limit first), so the single task is bounded by k·dims
        val seeds = floatView.orderBy($"vec_id").limit(k)
          .select($"vec_id", $"embedding".cast("array<double>").as("centroid"))
          .withColumn("cell",
            (org.apache.spark.sql.functions.row_number().over(
              org.apache.spark.sql.expressions.Window.orderBy($"vec_id")) - 1))
          .select($"cell", $"centroid")
        var cent = seeds.localCheckpoint(true) // k rows, eager — truncates lineage per round
        for (_ <- 1 to iterations)
          // a cell that loses every member in a round (duplicate seed
          // VECTORS tie-break to the smallest cell id) keeps its previous
          // centroid instead of vanishing: the published quantizer always
          // has exactly the seeded cell count (= the requested k whenever
          // the live corpus has at least k vectors — seeds are limit(k)),
          // so the maintenance policy's "k" is the k that was asked for —
          // [[annMaintenanceAdvice]]'s at-cap arithmetic relies on that,
          // and standard IVF keeps k fixed across Lloyd rounds anyway.
          // A k-row left join per round.
          cent = cent.select($"cell", $"centroid".as("prev"))
            .join(meanCentroids(assignToCentroids(floatView, cent), "cell"), Seq("cell"), "left")
            .select($"cell", coalesce($"centroid", $"prev").as("centroid"))
            .localCheckpoint(true)
        val assigned = assignToCentroids(floatView, cent)
          .withColumn("embedding", $"emb_exact").drop("emb_exact")
        // three independent staging legs (assigned reads the pinned
        // rows, cent is a k-row checkpoint) — run concurrently
        // (guide §2.6); the fold commits them together
        Layout.inParallelLegs(Seq(
          () => out.write("cells", assigned.repartition($"cell"), "cell"),
          () => out.write("doclog", live.coalesce(4)),
          () => cent.coalesce(1).write.mode("overwrite")
            .parquet(s"${out.dir}/centroids")))
      } finally rows.unpersist()
    } finally live.unpersist()
    }
  }

  /** Per-cell LIVE occupancy of the CDC ANN index — the measurement
    * that decides WHEN to run [[requantizeCdcAnnIndex]]. The first
    * batch's quantizer decays as the corpus churns, and the decay is
    * visible here long before recall complaints: cells drift apart in
    * size (a probe's cost is the cells it scans, so the worst cell IS
    * the tail latency) and empty cells waste nprobe budget. Returns one
    * row per centroid cell — (cell, n_live), empty cells included with
    * 0 — so the caller's trigger is a one-line fold over k rows (e.g.
    * requantize when max/mean exceeds ~4, or when live count has grown
    * ~4× past k² for the √n-cells rule of thumb). Cost: the doc-log
    * argmax + one slim count shuffle; the embeddings themselves are
    * never read — cheap enough to run after every fold.
    */
  def cdcAnnIndexStats(s: SparkSession, indexDir: String): DataFrame = {
    import s.implicits._
    // committed view, like the probe: the policy must never threshold
    // on a torn in-flight append's half-written batch
    val view = Layout.committedView(s, indexDir)
      .getOrElse(Layout.missingIndex(indexDir))
    val live = Layout.latestLive(view.read("doclog"), "vec_id")
    val occupancy = view.read("cells")
      .join(live.select($"vec_id", $"ver"), Seq("vec_id", "ver"))
      .groupBy($"cell").agg(count(lit(1)).as("n_live"))
    s.read.parquet(s"${view.dir}/centroids").select($"cell")
      .join(occupancy, Seq("cell"), "left")
      .select($"cell", coalesce($"n_live", lit(0L)).as("n_live"))
  }

  /** The executable form of [[cdcAnnIndexStats]]'s trigger prose:
    * `requantize` is true when the quantizer has decayed past the
    * Scaladoc thresholds — cell skew (max/mean live occupancy >
    * `skewRatio`, default ~4: the worst cell is a probe's tail
    * latency) or corpus growth (live > `growthFactor`·k², default 4:
    * the √n-cells rule says k should track √n, so 4k² live rows means
    * cells should have doubled). `suggestedK` is the √n target capped
    * by `maxK` (never below the current k): the quantizer-size BUDGET
    * is a real production knob — every per-batch cost (append
    * assignment, stats, the Lloyd rebuild itself) scales with k, so √n
    * is the target and maxK is what the deployment can afford; past the
    * cap you shard the index, not grow the quantizer. A growth demand
    * the cap cannot satisfy (suggested == current k) does NOT fire —
    * the advice never demands a requantize that can't change anything
    * (requantizing at the same k re-seeds but cannot grow) — instead
    * `atCap` is true, the TYPED form of that suppressed demand (a
    * caller sharding past the budget branches on the field, not on a
    * reason-string substring), and the reason says "at maxK cap" so
    * the ceiling is visible to humans too.
    * [[requantizeCdcAnnIndex]] publishes exactly the requested k rows,
    * so fired advice always converges to at-cap-healthy. The stats
    * frame is k rows by construction, so the fold is a bounded
    * driver-side collect.
    */
  final case class AnnMaintenanceAdvice(requantize: Boolean,
                                        suggestedK: Int, nCells: Int,
                                        nLive: Long, maxCell: Long,
                                        meanCell: Double, reason: String,
                                        atCap: Boolean = false)

  def annMaintenanceAdvice(stats: DataFrame, skewRatio: Double = 4.0,
                           growthFactor: Double = 4.0,
                           maxK: Int = 1 << 12): AnnMaintenanceAdvice = {
    val rows = stats.select("cell", "n_live").collect()
    val k = rows.length
    val nLive = rows.map(_.getLong(1)).sum
    val maxCell = if (k == 0) 0L else rows.map(_.getLong(1)).max
    val mean = if (k == 0) 0.0 else nLive.toDouble / k
    val skewed = mean > 0 && maxCell / mean > skewRatio
    val target = math.max(k, math.ceil(math.sqrt(nLive.toDouble)).toInt)
    val suggested = math.max(k, math.min(maxK, target))
    val rawOutgrown = k > 0 && nLive > growthFactor * k.toLong * k
    val outgrown = rawOutgrown && suggested > k
    val reason =
      if (skewed && outgrown)
        f"cell skew max/mean=${maxCell / mean}%.1f > $skewRatio%.1f AND live $nLive > $growthFactor%.0f*k^2"
      else if (skewed) f"cell skew max/mean=${maxCell / mean}%.1f > $skewRatio%.1f"
      else if (outgrown) f"live $nLive > $growthFactor%.0f*k^2 (k=$k)"
      else if (rawOutgrown)
        s"healthy (live $nLive outgrew k=$k but the quantizer is at the maxK=$maxK cap)"
      else "healthy"
    AnnMaintenanceAdvice(skewed || outgrown, suggested, k, nLive, maxCell,
      mean, reason, atCap = rawOutgrown && !outgrown)
  }

  /** Exact inner-product top-k over the CDC ANN index, as fresh as the
    * last batch: doc-log argmax → liveness join on (vec_id, ver) → one
    * integer dot per live row → rankedTopK. Integer embeddings keep the
    * score exact cross-engine (no FP fold order). The gate probes ALL
    * cells so the DuckDB brute-force oracle is bit-identical; the
    * production caller is [[mipsTopKViaCdcAnnIndexPruned]], which runs
    * the same liveness join under nprobe cell pruning.
    */
  def mipsTopKViaCdcAnnIndex(s: SparkSession, indexDir: String,
                             qVec: Seq[Long], kTop: Int): DataFrame =
    mipsTopKViaCdcAnnIndexPruned(s, indexDir, qVec, kTop, nprobe = Int.MaxValue)

  /** The PRODUCTION probe shape: rank cells by centroid inner product
    * (the centroid table is bounded by the quantizer's k — a slim
    * driver-side cut, the sim03 contract), then scan ONLY the top
    * `nprobe` cells' partitions — the `cell IN (...)` literals prune
    * the parquet read statically, so probe cost is cells-touched, not
    * corpus. The liveness join is unchanged: approximation comes only
    * from cell pruning, never from staleness. `nprobe >= |cells|` is
    * the exact probe (what gate cdcm5 runs against the brute-force
    * oracle); CdcAnnIndexSpec pins pruned ⊆ exact with identical
    * scores.
    */
  def mipsTopKViaCdcAnnIndexPruned(s: SparkSession, indexDir: String,
                                   qVec: Seq[Long], kTop: Int,
                                   nprobe: Int): DataFrame = {
    import s.implicits._
    // one pinned manifest version (Layout.committedView): a torn
    // in-flight append is invisible and a fold renames nothing away
    val view = Layout.committedView(s, indexDir)
      .getOrElse(Layout.missingIndex(indexDir))
    val live = Layout.latestLive(view.read("doclog"), "vec_id")
    val q = lit(qVec.toArray)
    val cellsBase = view.read("cells")
    val pruned =
      if (nprobe == Int.MaxValue) cellsBase
      else {
        val probed = s.read.parquet(s"${view.dir}/centroids")
          .select($"cell",
            aggregate(zip_with($"centroid", q, (x, y) => x * y.cast("double")),
              lit(0.0), (acc, v) => acc + v).as("cdot"))
          .orderBy($"cdot".desc, $"cell")
          .limit(nprobe)
          .select($"cell").as[Int].collect() // bounded by the quantizer's k
        cellsBase.filter($"cell".isin(probed.toIndexedSeq: _*))
      }
    val scored = pruned
      .join(live.select($"vec_id", $"ver"), Seq("vec_id", "ver"))
      // codegen'd long dot (wrap-around accumulate from 0L — bit-identical
      // to the interpreted HOF fold it replaced), one per live row
      .select($"vec_id", call_function("graft_dot", $"embedding", q).as("dot"))
    rankedTopK(scored, $"dot", $"vec_id", kTop, "r_dense")
  }

  /** sim05 against the persisted index: centroids are read (tiny), the
    * cell scan is partition-pruned to the probed cells — the corpus table
    * itself is touched only for the query vector.
    */
  def sim05ViaIndex(s: SparkSession, d: String, indexDir: String): DataFrame = {
    import s.implicits._
    val e = embeddings(s, d)
    val q = e.filter($"vec_id" === 0).select($"embedding".as("qv"))
    cellProbe(s.read.parquet(s"$indexDir/cells"),
      s.read.parquet(s"$indexDir/centroids"), q)
  }

  /** The IVF probe's oracle CTE chain (no leading WITH): recompute seed
    * assignment, per-cell centroids, and the top-3 probed cells — ONE
    * definition shared by sim05's top-k oracle and sim11b's range oracle.
    */
  // lazy: referenced by sim11bSql, which is declared earlier in the file
  // (object vals initialize in declaration order)
  private lazy val annProbeCtes: String = {
    val dotCQ = "list_reduce(list_prepend(CAST(0.0 AS DOUBLE), " +
      "list_transform(list_zip(c.centroid, q.qv), p -> p[1] * CAST(p[2] AS DOUBLE)))," +
      " (x, y) -> x + y)"
    s"""q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
       |seeds AS (SELECT vec_id AS sid, embedding AS sv FROM embeddings WHERE vec_id < 16),
       |scored AS (SELECT e.vec_id, e.label, e.embedding, s.sid,
       |             ${duckCosine("e.embedding", "s.sv")} AS sim
       |           FROM embeddings e CROSS JOIN seeds s),
       |assigned AS (
       |  SELECT vec_id, label, embedding, CAST(sid AS INTEGER) AS cell FROM (
       |    SELECT vec_id, label, embedding, sid,
       |      row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, sid) AS rn
       |    FROM scored) WHERE rn = 1),
       |cd AS (SELECT cell, generate_subscripts(embedding, 1) AS pos, unnest(embedding) AS v FROM assigned),
       |cm AS (SELECT cell, pos, CAST(SUM(CAST(v AS DECIMAL(38,10))) AS DOUBLE) / COUNT(*) AS c
       |       FROM cd GROUP BY cell, pos),
       |cent AS (SELECT cell, list(c ORDER BY pos) AS centroid FROM cm GROUP BY cell),
       |probed AS (SELECT c.cell FROM cent c, q ORDER BY $dotCQ DESC, c.cell LIMIT 3)""".stripMargin
  }

  val sim05Sql: String =
    s"""WITH $annProbeCtes
       |SELECT a.vec_id, a.label, a.cell, ${duckCosine("a.embedding", "q.qv")} AS cos
       |FROM assigned a JOIN probed p ON a.cell = p.cell, q
       |WHERE a.vec_id <> 0
       |ORDER BY cos DESC, vec_id
       |LIMIT 10""".stripMargin

  // sim16 — ANN RECALL@K measured in-engine: the exact top-10 (sim01's
  // brute-force contract) flagged row-by-row with membership in the IVF
  // probe's top-10 (sim05's contract) — the quality metric every index
  // deployment tunes nprobe/codebooks against, as an oracle-checked
  // operator instead of an offline notebook. "Measure, don't guess"
  // applied to the index itself: a probe-parameter regression (fewer
  // cells, broken centroid fold) flips a flag and breaks the hash. Both
  // sides are existing shared code (a recall gate that re-derived either
  // ranking could silently diverge from the thing it claims to measure);
  // the comparison is a 10-row broadcast join, and the flags are exact
  // integers. At 100 TB the same shape runs over a query SAMPLE via the
  // batch kNN join (sim10) — this pins the single-query form both build
  // from.
  def sim16RecallAtK(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    // rank window over the 10 surviving rows only (bounded, single task)
    val exact = sim01BruteTopK(s, d)
      .withColumn("rank",
        row_number().over(Window.orderBy($"cos".desc, $"vec_id")).cast("long"))
    val probeIds = sim05KmeansIvf(s, d).select($"vec_id".as("p_vid"))
    exact.join(broadcast(probeIds), $"vec_id" === $"p_vid", "left")
      .select($"rank", $"vec_id",
        when($"p_vid".isNotNull, 1L).otherwise(0L).as("in_probe"))
      .orderBy($"rank")
  }

  val sim16Sql: String =
    s"""WITH $annProbeCtes,
       |exact AS (
       |  SELECT e.vec_id, ${duckCosine("e.embedding", "q.qv")} AS cos
       |  FROM embeddings e, q WHERE e.vec_id <> 0
       |  ORDER BY cos DESC, vec_id LIMIT 10),
       |exactr AS (
       |  SELECT vec_id, row_number() OVER (ORDER BY cos DESC, vec_id) AS rank
       |  FROM exact),
       |probe AS (
       |  SELECT a.vec_id, ${duckCosine("a.embedding", "q.qv")} AS cos
       |  FROM assigned a JOIN probed p ON a.cell = p.cell, q
       |  WHERE a.vec_id <> 0
       |  ORDER BY cos DESC, vec_id LIMIT 10)
       |SELECT CAST(r.rank AS BIGINT) AS rank, r.vec_id,
       |  CASE WHEN pr.vec_id IS NULL THEN 0 ELSE 1 END::BIGINT AS in_probe
       |FROM exactr r LEFT JOIN probe pr ON r.vec_id = pr.vec_id
       |ORDER BY rank""".stripMargin

  // sim17 — EMBEDDING-SPACE HEALTH AUDIT: per-dimension statistics over
  // the corpus — count, mean, min/max, spread, and a dead-dimension flag
  // (spread below 1 % of the value range) — the diagnostic every
  // embedding pipeline runs before trusting an index (collapsed or dead
  // dimensions silently degrade cosine/L2 contrast; a model regression
  // shows up here first). Arithmetic is the sim family's fixed-point e6
  // convention (floor((x+2)·10⁶) — exact cross-engine), so mean is a
  // truncating integer division and the flag is an integer compare: no
  // variance/stddev floats to disagree on. Scale shape: one narrow
  // posexplode feeding a |dims|-group aggregate — partial aggregation
  // collapses per-dimension sums map-side, the corpus never shuffles
  // (the exchange carries ≤ dims rows per map task).
  def sim17EmbeddingHealth(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    embeddings(s, d)
      .select(posexplode(expr(
        "transform(embedding, x -> cast(floor((cast(x as double) + 2.0d)" +
          " * 1000000.0d) as bigint))")).as(Seq("dim", "v")))
      .groupBy($"dim".cast("long").as("dim"))
      .agg(count(lit(1)).as("n"),
        expr("sum(v) div count(1)").as("mean_e6"),
        min($"v").as("lo_e6"), max($"v").as("hi_e6"))
      .select($"dim", $"n", $"mean_e6", $"lo_e6", $"hi_e6",
        ($"hi_e6" - $"lo_e6").as("spread_e6"),
        // dead if the dimension moves < 1 % of the scaled [-2, 2] range
        when($"hi_e6" - $"lo_e6" < 40000L, 1L).otherwise(0L).as("is_dead"))
      .orderBy($"dim")
  }

  val sim17Sql: String =
    """WITH v AS (
      |  SELECT generate_subscripts(embedding, 1) - 1 AS dim,
      |    CAST(floor((CAST(unnest(embedding) AS DOUBLE) + 2.0) * 1000000.0)
      |      AS BIGINT) AS v
      |  FROM embeddings)
      |SELECT CAST(dim AS BIGINT) AS dim, COUNT(*) AS n,
      |  CAST(SUM(v) // COUNT(*) AS BIGINT) AS mean_e6,
      |  MIN(v) AS lo_e6, MAX(v) AS hi_e6,
      |  MAX(v) - MIN(v) AS spread_e6,
      |  CAST(CASE WHEN MAX(v) - MIN(v) < 40000 THEN 1 ELSE 0 END AS BIGINT)
      |    AS is_dead
      |FROM v
      |GROUP BY dim
      |ORDER BY dim""".stripMargin

  // ---- sim06: int8 scalar quantization + exact rerank --------------------
  //
  // The memory-bandwidth lever every large ANN deployment pulls: store a
  // 4x-smaller int8 view of each vector (per-vector symmetric scale =
  // max|v|/127), scan CANDIDATES with the cheap integer dot (exact long
  // arithmetic — engine-portable, unlike float SIMD accumulation order),
  // then rerank only the top-50 with the exact float cosine. Quantization
  // uses floor(), not round(): floor is bit-identical across engines,
  // round's half-case tie rules are not. At 100 TB the quantized columns
  // are what lives hot (16 GB/B vectors instead of 64), and the rerank
  // touches 50 rows.
  def sim06QuantRerank(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val amax = array_max(transform($"embedding", x => abs(x.cast("double"))))
    val qz = embeddings(s, d)
      .withColumn("scale", greatest(amax / 127.0, lit(1e-30)))
      .withColumn("q", transform($"embedding",
        x => least(greatest(floor(x.cast("double") / $"scale"), lit(-127L)), lit(127L))))
    val q = qz.filter($"vec_id" === 0)
      .select($"q".as("qq"), $"scale".as("qscale"), $"embedding".as("qv"))
    val cand = qz.filter($"vec_id" =!= 0)
      .crossJoin(broadcast(q))
      .withColumn("approx",
        aggregate(zip_with($"q", $"qq", (x, y) => x * y), lit(0L), (acc, v) => acc + v)
          * $"scale" * $"qscale")
      .orderBy($"approx".desc, $"vec_id")
      .limit(50)
    cand.select($"vec_id", $"label", $"approx", cosine($"embedding", $"qv").as("cos"))
      .orderBy($"cos".desc, $"vec_id")
      .limit(10)
  }

  val sim06Sql: String =
    s"""WITH base AS (
       |  SELECT vec_id, label, embedding,
       |    greatest(list_aggregate(list_transform(embedding, x -> abs(CAST(x AS DOUBLE))), 'max')
       |             / 127.0, 1e-30) AS scale
       |  FROM embeddings),
       |qz AS (
       |  SELECT vec_id, label, embedding, scale,
       |    list_transform(embedding,
       |      x -> CAST(least(greatest(floor(CAST(x AS DOUBLE) / scale), -127.0), 127.0) AS BIGINT)) AS q
       |  FROM base),
       |qry AS (SELECT q AS qq, scale AS qscale, embedding AS qv FROM qz WHERE vec_id = 0),
       |cand AS (
       |  SELECT z.vec_id, z.label, z.embedding, qry.qv,
       |    list_reduce(list_prepend(CAST(0 AS BIGINT),
       |      list_transform(list_zip(z.q, qry.qq), p -> p[1] * p[2])), (x, y) -> x + y)
       |      * z.scale * qry.qscale AS approx
       |  FROM qz z, qry WHERE z.vec_id <> 0
       |  ORDER BY approx DESC, z.vec_id LIMIT 50)
       |SELECT vec_id, label, approx, ${duckCosine("embedding", "qv")} AS cos
       |FROM cand
       |ORDER BY cos DESC, vec_id
       |LIMIT 10""".stripMargin

  // ---- sim07: product quantization + ADC ---------------------------------
  //
  // The FAISS-style PQ memory path: split each dim-64 vector into M = 8
  // subspaces of 8 dims; per subspace, a K = 16-entry codebook (here the
  // seed vectors' subvectors — the same deterministic fixed-quantizer
  // contract as sim05's coarse cells; production trains per-subspace
  // k-means on a sample and persists, exactly like [[buildAnnIndex]]).
  // Each vector is ENCODED as M argmin-L2 code bytes — 8 bytes instead of
  // 256 (float32×64), a 32× hot-set shrink. Query time builds one tiny
  // LUT (M×K inner products of the query's subvectors against the
  // codebook, broadcast), scores every vector with M array lookups + M
  // adds (asymmetric distance), cuts to the top-50, and reranks only
  // those with the exact float cosine.
  //
  // Scale shape (100 TB): the corpus-side work per vector is O(M) lookups
  // against a broadcast LUT — no shuffle, no per-row codebook math beyond
  // the one-time encoding pass (which production persists next to the IVF
  // cells; compose with sim05's probe for IVF-PQ). Ordered double folds
  // everywhere so the oracle's list_reduce reproduces the scores bit-for-
  // bit; argmin ties break to the smallest code on both engines.
  private def l2Hof(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) =>
      (x.cast("double") - y.cast("double")) * (x.cast("double") - y.cast("double"))),
      lit(0.0), (acc, v) => acc + v)

  private def pqSubsOf(c: Column, m: Int, sub: Int): Column =
    array((0 until m).map(i => slice(c, i * sub + 1, sub)): _*)

  /** Reassemble a flat (m, code, cw) codebook into the ONE-row broadcast
    * shape cb[m][code] — shared by the inline build and the persisted-
    * index read so both twins use the same load-bearing ordering.
    */
  private def pqAssemble(cbFlat: DataFrame): DataFrame = {
    import cbFlat.sparkSession.implicits._
    cbFlat
      .groupBy($"m").agg(array_sort(collect_list(struct($"code", $"cw"))).as("cs"))
      .agg(array_sort(collect_list(struct($"m", $"cs"))).as("ms"))
      .select(transform($"ms", r =>
        transform(r.getField("cs"), c => c.getField("cw"))).as("cb"))
  }

  /** The PQ codebook as ONE broadcast row: cb[m][code] = the code-th seed
    * vector's m-th subvector (seeds = vec_id < k).
    */
  private[operators] def pqCodebookRow(e: DataFrame, m: Int, sub: Int, k: Int): DataFrame = {
    import e.sparkSession.implicits._
    pqAssemble(e.filter($"vec_id" < k)
      .select($"vec_id".cast("int").as("code"),
        posexplode(pqSubsOf($"embedding", m, sub)).as(Seq("m", "cw"))))
  }

  /** Query row: exact vector + the M×K LUT of subvector·codeword inner
    * products, computed ONCE and broadcast ([[VectorOps.dot]] — the same
    * codegen'd ordered fold the oracle's duckDot mirrors).
    */
  private def pqQueryRow(e: DataFrame, cbRow: DataFrame, m: Int, sub: Int): DataFrame = {
    import e.sparkSession.implicits._
    e.filter($"vec_id" === 0)
      .select($"embedding".as("qv"), pqSubsOf($"embedding", m, sub).as("qsubs"))
      .crossJoin(broadcast(cbRow))
      .select($"qv", zip_with($"cb", $"qsubs",
        (cws, qs) => transform(cws, cw => dot(qs, cw))).as("lut"))
  }

  /** ADC score = ordered fold of the M LUT lookups for a row's codes. */
  private def adcCol: Column = aggregate(
    zip_with(col("codes"), col("lut"), (c, row) => element_at(row, c + 1)),
    lit(0.0), (acc, v) => acc + v)

  /** Encode: codes[m] = argmin-L2 codeword (ties -> smallest code, via max
    * of struct(-dist, -code) like sim05's argmax). Adds a `codes` column.
    */
  private[operators] def pqEncode(corpus: DataFrame, cbRow: DataFrame,
                                  m: Int, sub: Int, k: Int): DataFrame = {
    import corpus.sparkSession.implicits._
    corpus
      .withColumn("subs", pqSubsOf($"embedding", m, sub))
      .crossJoin(broadcast(cbRow))
      .withColumn("codes", zip_with($"subs", $"cb", (sv, cws) =>
        -array_max(zip_with(cws, sequence(lit(0), lit(k - 1)), (cw, c) =>
          struct((-l2Hof(sv, cw)).as("nd"), (-c).as("nc")))).getField("nc")))
      .drop("subs", "cb")
  }

  def sim07PqAdc(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val M = 8; val sub = 8; val K = 16
    val e = embeddings(s, d)
    val cbRow = pqCodebookRow(e, M, sub, K)
    val qRow = pqQueryRow(e, cbRow, M, sub)
    val enc = pqEncode(e.filter($"vec_id" =!= 0), cbRow, M, sub, K)
      .select($"vec_id", $"label", $"embedding", $"codes")
    // top-50 by ADC, exact rerank on just those
    val cand = enc.crossJoin(broadcast(qRow))
      .withColumn("adc", adcCol)
      .orderBy($"adc".desc, $"vec_id")
      .limit(50)
    cand.select($"vec_id", $"label", cosine($"embedding", $"qv").as("cos"))
      .orderBy($"cos".desc, $"vec_id")
      .limit(10)
  }

  /** Persist the PQ index: the tiny codebook plus the M-bytes-per-vector
    * code table. A query then scans ONLY (vec_id, label, codes) — the 32×
    * smaller hot set that is the whole point of PQ at 100 TB — and fetches
    * exact vectors for the top candidates alone. Rebuild on codebook
    * drift, exactly like [[buildAnnIndex]]'s quantizer contract.
    */
  def buildPqIndex(e: DataFrame, indexDir: String, m: Int = 8, sub: Int = 8,
                   k: Int = 16): Unit = {
    import e.sparkSession.implicits._
    val cbRow = pqCodebookRow(e, m, sub, k)
    persistCodebook(cbRow, indexDir)
    pqEncode(e, cbRow, m, sub, k)
      .select($"vec_id", $"label", $"codes")
      .write.mode("overwrite").parquet(s"$indexDir/codes")
  }

  /** The shared PQ probe tail (sim07b and sim08 differ only in WHICH code
    * rows arrive here — the full table vs the probed cells): broadcast
    * LUT over the slim `codes` rows, top-50 by ADC, then a 50-row
    * fetch-join back to the vector table for the exact rerank (the
    * candidate-fetch a production store serves point-wise). The index
    * DEFINES the geometry — deriving (M, sub) from the persisted codebook
    * instead of assuming defaults means a non-default build can never be
    * probed with mismatched slicing (one driver-side row on a K×M-row
    * table).
    */
  private def pqProbe(e: DataFrame, cbFlat: DataFrame, codes: DataFrame,
                      kAdc: Int = 50, kOut: Int = 10): DataFrame = {
    import e.sparkSession.implicits._
    val dims = cbFlat.agg((max($"m") + 1).as("mc"), max(size($"cw")).as("sl")).head()
    val (mCnt, subLen) = (dims.getInt(0), dims.getInt(1))
    val qRow = pqQueryRow(e, pqAssemble(cbFlat), mCnt, subLen)
    val cand = codes
      .crossJoin(broadcast(qRow))
      .withColumn("adc", adcCol)
      .orderBy($"adc".desc, $"vec_id")
      .limit(kAdc)
      .select($"vec_id", $"qv")
    broadcast(cand).join(e.select($"vec_id", $"label", $"embedding"), "vec_id")
      .select($"vec_id", $"label", cosine($"embedding", $"qv").as("cos"))
      .orderBy($"cos".desc, $"vec_id")
      .limit(kOut)
  }

  /** Flatten + persist the one-row codebook as a (m, code, cw) table. */
  private def persistCodebook(cbRow: DataFrame, indexDir: String): Unit = {
    import cbRow.sparkSession.implicits._
    cbRow.select(posexplode($"cb").as(Seq("m", "cws")))
      .select($"m", posexplode($"cws").as(Seq("code", "cw")))
      .write.mode("overwrite").parquet(s"$indexDir/codebook")
  }

  def sim07ViaIndex(s: SparkSession, d: String, indexDir: String): DataFrame = {
    import s.implicits._
    pqProbe(embeddings(s, d), s.read.parquet(s"$indexDir/codebook"),
      s.read.parquet(s"$indexDir/codes").filter($"vec_id" =!= 0))
  }

  def sim07bViaIndex(s: SparkSession, d: String): DataFrame =
    sim07ViaIndex(s, d, PersistedIndexes.pqIndex(s, d))

  val sim07Sql: String = {
    def dl2(a: String, b: String): String =
      s"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list_transform(list_zip($a, $b), " +
        s"p -> (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE)) * " +
        s"(CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE)))), (x, y) -> x + y)"
    s"""WITH ms AS (SELECT unnest(range(8)) AS m),
       |subs AS (SELECT e.vec_id, e.label, ms.m,
       |           list_slice(e.embedding, ms.m * 8 + 1, ms.m * 8 + 8) AS sv
       |         FROM embeddings e CROSS JOIN ms),
       |cb AS (SELECT m, CAST(vec_id AS INTEGER) AS code, sv AS cw
       |       FROM subs WHERE vec_id < 16),
       |q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
       |enc AS (
       |  SELECT vec_id, m, code FROM (
       |    SELECT s.vec_id, s.m, c.code,
       |      row_number() OVER (PARTITION BY s.vec_id, s.m
       |                         ORDER BY ${dl2("s.sv", "c.cw")}, c.code) AS rn
       |    FROM subs s JOIN cb c ON s.m = c.m
       |    WHERE s.vec_id <> 0) WHERE rn = 1),
       |lut AS (SELECT c.m, c.code,
       |          ${duckDot(s"list_slice(q.qv, c.m * 8 + 1, c.m * 8 + 8)", "c.cw")} AS part
       |        FROM cb c, q),
       |adc AS (
       |  SELECT enc.vec_id,
       |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list(l.part ORDER BY enc.m)),
       |                (x, y) -> x + y) AS adc
       |  FROM enc JOIN lut l ON enc.m = l.m AND enc.code = l.code
       |  GROUP BY enc.vec_id),
       |cand AS (SELECT vec_id FROM adc ORDER BY adc DESC, vec_id LIMIT 50)
       |SELECT e.vec_id, e.label, ${duckCosine("e.embedding", "q.qv")} AS cos
       |FROM embeddings e JOIN cand USING (vec_id), q
       |ORDER BY cos DESC, vec_id
       |LIMIT 10""".stripMargin
  }

  // ---- sim08: IVF-PQ — the production ANN composition ---------------------
  //
  // sim05's coarse cells prune WHICH vectors are scored; sim07's product
  // quantization shrinks WHAT is scored per vector. Composed (the FAISS
  // IVFPQ index shape): PQ codes are persisted CELL-PARTITIONED, a query
  // probes the top-nprobe cells by centroid score, reads ONLY those
  // cells' code partitions (partition-pruned — at 100 TB this is the
  // difference between scanning 3/k directories of 8-byte codes and the
  // corpus), ADC-scores them against the broadcast LUT, and reranks the
  // top-50 with exact cosines via a 50-row fetch-join. No corpus shuffle
  // anywhere: assignment + encode are broadcast maps at BUILD time, the
  // probe is a pruned scan + broadcast joins.
  def buildIvfPqIndex(e: DataFrame, indexDir: String, k: Int = 16,
                      m: Int = 8, sub: Int = 8, kpq: Int = 16): Unit = {
    import e.sparkSession.implicits._
    // a (re)build defines a NEW quantizer AND codebook: wipe every
    // earlier segment (the buildAnnIndex contract — stale segments were
    // assigned/encoded under the old geometry)
    val codesPath = new org.apache.hadoop.fs.Path(s"$indexDir/codes")
    codesPath.getFileSystem(e.sparkSession.sparkContext.hadoopConfiguration)
      .delete(codesPath, true)
    val assigned = assignCells(e, k)
    meanCentroids(assigned, "cell").write.mode("overwrite")
      .parquet(s"$indexDir/centroids")
    val cbRow = pqCodebookRow(e, m, sub, kpq)
    persistCodebook(cbRow, indexDir)
    pqEncode(assigned, cbRow, m, sub, kpq)
      .select($"vec_id", $"label", $"codes", $"cell")
      .write.mode("overwrite").partitionBy("cell")
      .parquet(s"$indexDir/codes/seg=base")
  }

  def sim08ViaIndex(s: SparkSession, d: String, indexDir: String,
                    nprobe: Int = 3, kAdc: Int = 50, kOut: Int = 10): DataFrame = {
    import s.implicits._
    val e = embeddings(s, d)
    val q = e.filter($"vec_id" === 0).select($"embedding".as("qv"))
    // top-nprobe cells by centroid·query (the sim05 probe ordering)
    val probed = s.read.parquet(s"$indexDir/centroids")
      .crossJoin(broadcast(q))
      .select($"cell", aggregate(
        zip_with($"centroid", $"qv", (x, y) => x * y.cast("double")),
        lit(0.0), (acc, v) => acc + v).as("cdot"))
      .orderBy($"cdot".desc, $"cell")
      .limit(nprobe)
      .select($"cell")
    pqProbe(e, s.read.parquet(s"$indexDir/codebook"),
      s.read.parquet(s"$indexDir/codes")
        .join(broadcast(probed), Seq("cell"))
        .filter($"vec_id" =!= 0), kAdc, kOut)
  }

  def sim08IvfPq(s: SparkSession, d: String): DataFrame =
    sim08ViaIndex(s, d, PersistedIndexes.ivfPqIndex(s, d))

  // ---- sim10: batch k-NN join over the IVF-PQ index -----------------------
  //
  // The production retrieval shape: MANY queries probe the persisted index
  // at once (sim04's batch framing composed with sim08's index). Every
  // per-query structure stays slim — (qid, LUT) rows and (qid, cell) probe
  // pairs broadcast; the code table is read ONCE restricted to the union
  // of probed cells (partition-pruned, like sim08) and each code row joins
  // only the queries that probed its cell. Candidate scoring is ADC
  // against the per-query LUT; per-query top-50 / final top-3 run on slim
  // (qid, vec_id, score) rows via bounded windows. At 100 TB: queries ×
  // nprobe cells of 8-byte codes scanned, zero corpus shuffle, exact
  // fetch-join rerank on 50 rows per query.
  def sim10IvfPqKnnJoin(s: SparkSession, d: String, nprobe: Int = 3,
                        maxBroadcastBatch: Long = 1L << 20): DataFrame = {
    import s.implicits._
    val e = embeddings(s, d)
    ivfPqKnnJoin(s, d, e.filter($"vec_id" % 50 === 0), nprobe, maxBroadcastBatch)
  }

  /** sim10's corpus-scale twin gate: the SAME query batch forced down the
    * above-cap SHUFFLE path (maxBroadcastBatch = 0 — every per-query
    * structure exchanges on cell/qid/vec_id instead of broadcasting).
    * Result identity across paths is spec-pinned (`BatchKnnSpec`); this
    * gate additionally runs the shuffle path end-to-end under the DuckDB
    * oracle (same SQL as sim10 — the contract is that the path choice is
    * invisible), so the kNN-self-join framing a 100 TB graph build needs
    * is hash-checked, not just plan-checked.
    */
  def sim10bKnnShuffle(s: SparkSession, d: String): DataFrame =
    sim10IvfPqKnnJoin(s, d, maxBroadcastBatch = 0L)

  /** Batch k-NN join over the persisted IVF-PQ index for an arbitrary
    * query frame (vec_id, embedding, ...). The per-query structures (LUTs,
    * probe pairs, candidate ids) are BROADCAST only while the batch is
    * small enough to be one — `maxBroadcastBatch` is the enforced contract
    * (the round-10 shape assumed it silently; an oversized batch died in
    * an opaque broadcast OOM). A batch larger than the cap takes the same
    * pipeline with the broadcast hints dropped: every join keys on
    * cell/qid/vec_id, so Spark plans shuffle joins — AQE-splittable, skew
    * -safe, corpus-scale — and the two-phase salted top-k already bounds
    * every window partition. Results are identical on either path (spec-
    * pinned); only the join strategy changes.
    */
  def ivfPqKnnJoin(s: SparkSession, d: String, queries: DataFrame,
                   nprobe: Int = 3,
                   maxBroadcastBatch: Long = 1L << 20): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    // bounded probe, not a full count: one slim scan stops at cap+1 rows
    val small = queries.select($"vec_id")
      .limit(math.min(maxBroadcastBatch, Int.MaxValue - 1L).toInt + 1)
      .count() <= maxBroadcastBatch
    def side(df: DataFrame): DataFrame = if (small) broadcast(df) else df
    val indexDir = PersistedIndexes.ivfPqIndex(s, d)
    val e = embeddings(s, d)
    val cbFlat = s.read.parquet(s"$indexDir/codebook")
    val dims = cbFlat.agg((max($"m") + 1).as("mc"), max(size($"cw")).as("sl")).head()
    val (mCnt, subLen) = (dims.getInt(0), dims.getInt(1))
    // query batch with per-query ADC LUTs (the codebook row is tiny and
    // always broadcast; the per-QUERY structures follow `side`)
    val qs = queries
      .select($"vec_id".as("qid"), $"embedding".as("qv"),
        pqSubsOf($"embedding", mCnt, subLen).as("qsubs"))
      .crossJoin(broadcast(pqAssemble(cbFlat)))
      .select($"qid", $"qv", zip_with($"cb", $"qsubs",
        (cws, qsv) => transform(cws, cw => dot(qsv, cw))).as("lut"))
    // per-query top-nprobe cells by centroid score (slim: queries × cells)
    val probes = qs.select($"qid", $"qv")
      .crossJoin(broadcast(s.read.parquet(s"$indexDir/centroids")))
      .select($"qid", $"cell", aggregate(
        zip_with($"centroid", $"qv", (x, y) => x * y.cast("double")),
        lit(0.0), (acc, v) => acc + v).as("cdot"))
      .withColumn("rn",
        row_number().over(Window.partitionBy($"qid").orderBy($"cdot".desc, $"cell")))
      .filter($"rn" <= nprobe)
      .select($"qid", $"cell")
    // codes restricted to probed cells, fanned out per probing query.
    // Per-query top-50 runs in TWO phases (dd11's lesson — a window
    // partitioned by qid alone would put every candidate of a query's
    // probed cells on ONE task, and window partitions are
    // AQE-unsplittable): phase 1 takes top-50 per (qid, salt) — a
    // superset of the per-qid top-50, since any globally-kept row is in
    // its own salt's top-50 — phase 2 finishes exactly on <= 50·nSalt
    // slim rows per query.
    val nSalt = 32
    val wLocal = Window.partitionBy($"qid", $"salt").orderBy($"adc".desc, $"vec_id")
    val wTop = Window.partitionBy($"qid").orderBy($"adc".desc, $"vec_id")
    val cand = s.read.parquet(s"$indexDir/codes")
      .join(side(probes), Seq("cell"))
      .filter($"vec_id" =!= $"qid")
      .join(side(qs.select($"qid", $"lut")), Seq("qid"))
      .select($"qid", $"vec_id", adcCol.as("adc")) // slim BEFORE the window shuffle
      .withColumn("salt", pmod(hash($"vec_id"), lit(nSalt)))
      .withColumn("rn", row_number().over(wLocal))
      .filter($"rn" <= 50).drop("rn", "salt")
      .withColumn("rn", row_number().over(wTop))
      .filter($"rn" <= 50)
      .select($"qid", $"vec_id")
    // exact rerank: fetch the candidates' vectors, top-3 per query
    val wFinal = Window.partitionBy($"qid").orderBy($"cos".desc, $"vec_id")
    side(cand)
      .join(e.select($"vec_id", $"label", $"embedding"), "vec_id")
      .join(side(qs.select($"qid", $"qv")), Seq("qid"))
      .select($"qid", $"vec_id", $"label", cosine($"embedding", $"qv").as("cos"))
      .withColumn("rank", row_number().over(wFinal).cast("long"))
      .filter($"rank" <= 3)
      .select($"qid", $"rank", $"vec_id", $"label", $"cos")
      .orderBy($"qid", $"rank")
  }

  /** The batch IVF-PQ probe in DuckDB: sim08's index recomputation with a
    * query SET — per-qid probed cells, per-(qid, m, code) LUT, per-(qid,
    * vec) ADC, per-qid top-50 and exact top-3. Encoding stays per-vector
    * (computed once over the distinct candidates).
    */
  val sim10Sql: String = {
    val dotCQ = "list_reduce(list_prepend(CAST(0.0 AS DOUBLE), " +
      "list_transform(list_zip(c.centroid, qs.qv), p -> p[1] * CAST(p[2] AS DOUBLE)))," +
      " (x, y) -> x + y)"
    def dl2(a: String, b: String): String =
      s"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list_transform(list_zip($a, $b), " +
        s"p -> (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE)) * " +
        s"(CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE)))), (x, y) -> x + y)"
    s"""WITH qs AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings WHERE vec_id % 50 = 0),
       |seeds AS (SELECT vec_id AS sid, embedding AS sv FROM embeddings WHERE vec_id < 16),
       |scored AS (SELECT e.vec_id, e.label, e.embedding, s.sid,
       |             ${duckCosine("e.embedding", "s.sv")} AS sim
       |           FROM embeddings e CROSS JOIN seeds s),
       |assigned AS (
       |  SELECT vec_id, label, embedding, CAST(sid AS INTEGER) AS cell FROM (
       |    SELECT vec_id, label, embedding, sid,
       |      row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, sid) AS rn
       |    FROM scored) WHERE rn = 1),
       |cd AS (SELECT cell, generate_subscripts(embedding, 1) AS pos, unnest(embedding) AS v FROM assigned),
       |cm AS (SELECT cell, pos, CAST(SUM(CAST(v AS DECIMAL(38,10))) AS DOUBLE) / COUNT(*) AS c
       |       FROM cd GROUP BY cell, pos),
       |cent AS (SELECT cell, list(c ORDER BY pos) AS centroid FROM cm GROUP BY cell),
       |probed AS (SELECT qid, cell FROM (
       |  SELECT qs.qid, c.cell,
       |    row_number() OVER (PARTITION BY qs.qid ORDER BY $dotCQ DESC, c.cell) AS rn
       |  FROM cent c, qs) WHERE rn <= 3),
       |cand0 AS (SELECT p.qid, a.vec_id FROM assigned a JOIN probed p USING (cell)
       |          WHERE a.vec_id <> p.qid),
       |ms AS (SELECT unnest(range(8)) AS m),
       |subs AS (SELECT dv.vec_id, ms.m,
       |           list_slice(e.embedding, ms.m * 8 + 1, ms.m * 8 + 8) AS sv
       |         FROM (SELECT DISTINCT vec_id FROM cand0) dv
       |         JOIN embeddings e USING (vec_id) CROSS JOIN ms),
       |cb AS (SELECT m, CAST(vec_id AS INTEGER) AS code, sv AS cw FROM (
       |         SELECT e.vec_id, ms.m,
       |           list_slice(e.embedding, ms.m * 8 + 1, ms.m * 8 + 8) AS sv
       |         FROM embeddings e CROSS JOIN ms WHERE e.vec_id < 16)),
       |enc AS (
       |  SELECT vec_id, m, code FROM (
       |    SELECT s.vec_id, s.m, c.code,
       |      row_number() OVER (PARTITION BY s.vec_id, s.m
       |                         ORDER BY ${dl2("s.sv", "c.cw")}, c.code) AS rn
       |    FROM subs s JOIN cb c ON s.m = c.m) WHERE rn = 1),
       |lut AS (SELECT qs.qid, c.m, c.code,
       |          ${duckDot(s"list_slice(qs.qv, c.m * 8 + 1, c.m * 8 + 8)", "c.cw")} AS part
       |        FROM cb c, qs),
       |adc AS (
       |  SELECT c0.qid, c0.vec_id,
       |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list(l.part ORDER BY enc.m)),
       |                (x, y) -> x + y) AS adc
       |  FROM cand0 c0
       |  JOIN enc ON enc.vec_id = c0.vec_id
       |  JOIN lut l ON l.qid = c0.qid AND l.m = enc.m AND l.code = enc.code
       |  GROUP BY c0.qid, c0.vec_id),
       |top50 AS (SELECT qid, vec_id FROM (
       |  SELECT qid, vec_id, row_number() OVER (PARTITION BY qid ORDER BY adc DESC, vec_id) AS rn
       |  FROM adc) WHERE rn <= 50),
       |rr AS (
       |  SELECT t.qid, t.vec_id, e.label, ${duckCosine("e.embedding", "q2.qv")} AS cos
       |  FROM top50 t JOIN embeddings e ON e.vec_id = t.vec_id
       |  JOIN qs q2 ON q2.qid = t.qid)
       |SELECT qid, CAST(rank AS BIGINT) AS rank, vec_id, label, cos FROM (
       |  SELECT qid, vec_id, label, cos,
       |    row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id) AS rank
       |  FROM rr) WHERE rank <= 3
       |ORDER BY qid, rank""".stripMargin
  }

  /** The exact IVF-PQ probe path as DuckDB CTEs (the WITH body, ending at
    * `cand` = the ADC top-50 vec_ids): sim05's cell/centroid/probe CTEs
    * compose with sim07's encode/LUT/ADC, restricted to the probed cells —
    * shared by [[sim08Sql]] and [[sim09bSql]] so the two oracles can never
    * drift on the index recomputation.
    */
  private val ivfPqCandCtes: String = {
    val dotCQ = "list_reduce(list_prepend(CAST(0.0 AS DOUBLE), " +
      "list_transform(list_zip(c.centroid, q.qv), p -> p[1] * CAST(p[2] AS DOUBLE)))," +
      " (x, y) -> x + y)"
    def dl2(a: String, b: String): String =
      s"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list_transform(list_zip($a, $b), " +
        s"p -> (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE)) * " +
        s"(CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE)))), (x, y) -> x + y)"
    s"""q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
       |seeds AS (SELECT vec_id AS sid, embedding AS sv FROM embeddings WHERE vec_id < 16),
       |scored AS (SELECT e.vec_id, e.label, e.embedding, s.sid,
       |             ${duckCosine("e.embedding", "s.sv")} AS sim
       |           FROM embeddings e CROSS JOIN seeds s),
       |assigned AS (
       |  SELECT vec_id, label, embedding, CAST(sid AS INTEGER) AS cell FROM (
       |    SELECT vec_id, label, embedding, sid,
       |      row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, sid) AS rn
       |    FROM scored) WHERE rn = 1),
       |cd AS (SELECT cell, generate_subscripts(embedding, 1) AS pos, unnest(embedding) AS v FROM assigned),
       |cm AS (SELECT cell, pos, CAST(SUM(CAST(v AS DECIMAL(38,10))) AS DOUBLE) / COUNT(*) AS c
       |       FROM cd GROUP BY cell, pos),
       |cent AS (SELECT cell, list(c ORDER BY pos) AS centroid FROM cm GROUP BY cell),
       |probed AS (SELECT c.cell FROM cent c, q ORDER BY $dotCQ DESC, c.cell LIMIT 3),
       |cand0 AS (SELECT a.vec_id, a.embedding FROM assigned a JOIN probed USING (cell)
       |          WHERE a.vec_id <> 0),
       |ms AS (SELECT unnest(range(8)) AS m),
       |subs AS (SELECT c0.vec_id, ms.m,
       |           list_slice(c0.embedding, ms.m * 8 + 1, ms.m * 8 + 8) AS sv
       |         FROM cand0 c0 CROSS JOIN ms),
       |cb AS (SELECT m, CAST(vec_id AS INTEGER) AS code, sv AS cw FROM (
       |         SELECT e.vec_id, ms.m,
       |           list_slice(e.embedding, ms.m * 8 + 1, ms.m * 8 + 8) AS sv
       |         FROM embeddings e CROSS JOIN ms WHERE e.vec_id < 16)),
       |enc AS (
       |  SELECT vec_id, m, code FROM (
       |    SELECT s.vec_id, s.m, c.code,
       |      row_number() OVER (PARTITION BY s.vec_id, s.m
       |                         ORDER BY ${dl2("s.sv", "c.cw")}, c.code) AS rn
       |    FROM subs s JOIN cb c ON s.m = c.m) WHERE rn = 1),
       |lut AS (SELECT c.m, c.code,
       |          ${duckDot(s"list_slice(q.qv, c.m * 8 + 1, c.m * 8 + 8)", "c.cw")} AS part
       |        FROM cb c, q),
       |adc AS (
       |  SELECT enc.vec_id,
       |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list(l.part ORDER BY enc.m)),
       |                (x, y) -> x + y) AS adc
       |  FROM enc JOIN lut l ON enc.m = l.m AND enc.code = l.code
       |  GROUP BY enc.vec_id),
       |cand AS (SELECT vec_id FROM adc ORDER BY adc DESC, vec_id LIMIT 50)""".stripMargin
  }

  /** The exact IVF-PQ pipeline in DuckDB — the oracle recomputes the whole
    * index-and-probe path, so a wrong cell assignment, a mispruned
    * partition, or an ADC fold in a different order all hash-fail.
    */
  val sim08Sql: String =
    s"""WITH $ivfPqCandCtes
       |SELECT e.vec_id, e.label, ${duckCosine("e.embedding", "q.qv")} AS cos
       |FROM embeddings e JOIN cand USING (vec_id), q
       |ORDER BY cos DESC, vec_id
       |LIMIT 10""".stripMargin

  // ---- dd10: semantic dedup (SemDeDup-style) -----------------------------
  //
  // The embedding-space dedup used in web-scale curation (Abbas et al.
  // 2023, "SemDeDup"): cluster the corpus, then prune near-duplicate
  // PAIRS WITHIN each cluster only — pairwise work drops from O(N²) to
  // O(Σ|cell|²), with k grown ∝ N so cells stay bounded (same scaling
  // contract as dd05's bucket family). Clustering reuses sim05's
  // deterministic seed quantizer: a broadcast argmax per row, NO corpus
  // shuffle; the one shuffle is the within-cell self-join on `cell`
  // (hot cells ride AQE skew splitting). Keep-rule: within a cell, a
  // vector with cosine >= tau to any LOWER-id vector is removed (the
  // smallest id of an equivalence group survives) — deterministic, no
  // float tie ambiguity. Output is per-cell observability (vector count,
  // dup pairs, removals, max cosine) rather than the removal list, so
  // the gate pins assignment + pairwise math + keep-rule in one row per
  // cell. tau = 0.40 at gate scale: the synthetic embeddings carry no
  // true near-dups (max within-cell cos ≈ 0.49), and a vacuous
  // threshold would leave the removal path untested; production callers
  // pass the usual 0.9+.
  //
  // TWO scale guards, both load-bearing (the round-7 shape had neither —
  // fixed k=16 made pair work O(N²/16) with a 16-key shuffle):
  //  1. the cell family GROWS with the corpus — k = cellsFor(N) from
  //     parquet footer counts (dd05's nBitsFor contract), targeting ~64
  //     vectors per expected cell, so the cell join fans out over
  //     N/64 keys instead of 16;
  //  2. per-cell comparisons are CAPPED by representatives: each vector
  //     compares only against its cell's `reps` smallest vec_ids (mm05's
  //     candidate bounding), picked by the bounded graft_min_k aggregate
  //     — map-side partial agg with O(reps) state per cell, so even a
  //     degenerate all-one-cell distribution does N·reps comparisons,
  //     never N². The rep side is ≤ k·reps slim rows — broadcast, so the
  //     corpus is NEVER shuffled: assignment is a broadcast argmax and
  //     pair generation is a broadcast hash join on `cell`.
  // Keep-rule under the cap: a vector is removed if it is within tau of
  // any LOWER-id representative — deterministic, and identical to the
  // uncapped rule whenever a cell holds ≤ reps+1 vectors.
  def dd10SemanticDedup(s: SparkSession, d: String, tau: Double = 0.40,
                        k: Int = 0, reps: Int = 8): DataFrame = {
    val kk = if (k > 0) k else cellsForDir(d)
    semanticDedup(embeddings(s, d), tau, kk, reps)
  }

  /** [[dd10SemanticDedup]] on any (vec_id, label, embedding) frame — the
    * spec entry (pair-count bound, degenerate-distribution behavior).
    */
  private[operators] def semanticDedup(e: DataFrame, tau: Double,
                                       kk: Int, reps: Int): DataFrame = {
    val s = e.sparkSession
    import s.implicits._
    val assigned = assignCells(e, kk)
    // ONE aggregation pass yields both the per-cell counts and the rep
    // ids (bounded graft_min_k state) — slim cell-keyed shuffle only
    val cellStats = assigned.groupBy($"cell").agg(
      count(lit(1)).as("n_vectors"),
      call_function("graft_min_k", $"vec_id", lit(reps)).as("rep_ids"))
    val repIds = cellStats.select($"cell".as("rcell"), explode($"rep_ids").as("vec_a"))
    // fetch rep embeddings with a broadcast semi-side join — the corpus
    // side stays un-shuffled and the output is ≤ k·reps rows
    val repVecs = assigned.select($"vec_id".as("vec_a"), $"embedding".as("ea"))
      .join(broadcast(repIds), "vec_a")
      .select($"rcell".as("cell"), $"vec_a", $"ea")
    val pairs = assigned.select($"cell", $"vec_id".as("vec_b"), $"embedding".as("eb"))
      .join(broadcast(repVecs), "cell")
      .filter($"vec_a" < $"vec_b")
      .select($"cell", $"vec_b", cosine($"ea", $"eb").as("cos"))
    val pairStats = pairs.groupBy($"cell").agg(
      sum(($"cos" >= tau).cast("long")).as("n_dup_pairs"),
      countDistinct(when($"cos" >= tau, $"vec_b")).as("n_removed"),
      max($"cos").as("max_cos"))
    cellStats.select($"cell", $"n_vectors")
      .join(pairStats, Seq("cell"), "left")
      .select($"cell", $"n_vectors",
        coalesce($"n_dup_pairs", lit(0L)).as("n_dup_pairs"),
        coalesce($"n_removed", lit(0L)).as("n_removed"),
        $"max_cos")
      .orderBy($"cell")
  }

  def dd10Sql(d: String, reps: Int = 8): String = {
    val k = cellsForDir(d)
    s"""WITH seeds AS (SELECT vec_id AS sid, embedding AS sv FROM embeddings WHERE vec_id < $k),
       |scored AS (SELECT e.vec_id, e.embedding, s.sid,
       |             ${duckCosine("e.embedding", "s.sv")} AS sim
       |           FROM embeddings e CROSS JOIN seeds s),
       |assigned AS (
       |  SELECT vec_id, embedding, CAST(sid AS INTEGER) AS cell FROM (
       |    SELECT vec_id, embedding, sid,
       |      row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, sid) AS rn
       |    FROM scored) WHERE rn = 1),
       |reps AS (
       |  SELECT cell, vec_id, embedding FROM (
       |    SELECT cell, vec_id, embedding,
       |      row_number() OVER (PARTITION BY cell ORDER BY vec_id) AS rr
       |    FROM assigned) WHERE rr <= $reps),
       |p AS (SELECT a.cell, b.vec_id AS vec_b,
       |        ${duckCosine("a.embedding", "b.embedding")} AS cos
       |      FROM reps a JOIN assigned b
       |        ON a.cell = b.cell AND a.vec_id < b.vec_id),
       |ps AS (SELECT cell,
       |         CAST(SUM(CASE WHEN cos >= 0.40 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_pairs,
       |         COUNT(DISTINCT CASE WHEN cos >= 0.40 THEN vec_b END) AS n_removed,
       |         MAX(cos) AS max_cos
       |       FROM p GROUP BY cell),
       |cs AS (SELECT cell, CAST(COUNT(*) AS BIGINT) AS n_vectors FROM assigned GROUP BY cell)
       |SELECT cs.cell, cs.n_vectors,
       |  COALESCE(ps.n_dup_pairs, 0) AS n_dup_pairs,
       |  COALESCE(ps.n_removed, 0) AS n_removed, ps.max_cos
       |FROM cs LEFT JOIN ps USING (cell)
       |ORDER BY cs.cell""".stripMargin
  }

  // sim03b/sim05b — the persisted-index probes as first-class gate
  // queries: centroids (sim03) / the cell-partitioned inverted file
  // (sim05) are read from parquet built once per sf; the query path
  // aggregates nothing and must match the inline twin's oracle.
  def sim03bViaIndex(s: SparkSession, d: String): DataFrame =
    sim03ViaIndex(s, d, PersistedIndexes.ivfIndex(s, d))

  def sim05bViaIndex(s: SparkSession, d: String): DataFrame =
    sim05ViaIndex(s, d, PersistedIndexes.annIndex(s, d))

  /** Exact top-k by (score desc, id asc) with global ranks, shaped so no
    * single-partition Exchange/Sort ever sees corpus-sized input: the cut
    * is `orderBy.limit(k)` — planned as TakeOrderedAndProject, i.e. a
    * bounded per-partition selection feeding a k·P-row single-task merge,
    * NO corpus shuffle and no global SortExec — and the rank window then
    * runs on the ≤ k surviving slim rows (already one partition, so it
    * adds no exchange at all). Rank = true global rank for every surviving
    * row: any row in the global top-k is in its own partition's top-k.
    */
  private[operators] def rankedTopK(df: DataFrame, score: Column, id: Column, k: Int,
                                    rankName: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    df.orderBy(score.desc, id).limit(k)
      .withColumn(rankName,
        row_number().over(Window.orderBy(score.desc, id)).cast("long"))
  }

  // sim09 — hybrid retrieval: a dense (cosine) and a sparse (BM25-RSJ,
  // txt13) top-kCand candidate stream fused by Reciprocal Rank Fusion,
  // rrf = 1/(60 + r_dense) + 1/(60 + r_sparse). Each side is an exact
  // rankedTopK cut — per-partition top-k + a k·P-row merge, never a
  // global sort of the corpus — and the fusion join touches ≤ kCand rows
  // per side (inner join: RRF over the docs BOTH streams surface; the
  // full-corpus configuration makes that every doc). The gate runs with
  // kCand = 0 → "rank everything" (k := footer row count, same source of
  // truth the oracle's corpus-wide ranking uses), so the DuckDB oracle
  // stays exact; production callers pass a bounded kCand and get the
  // candidate-stream plan the 100 TB story needs — same plan shape either
  // way, only the TakeOrdered bound changes. For index-accelerated
  // candidate generation instead of exact scans, see [[sim09bHybridIndexed]].
  // Ranks are integers and the fused score is a fixed two-term sum of
  // IEEE-exact divisions — bit-identical cross-engine (txt13's
  // determinism notes).
  def sim09HybridRrf(s: SparkSession, d: String, kCand: Int = 0): DataFrame = {
    import s.implicits._
    val k = if (kCand > 0) kCand
      else math.max(parquetRowCount(s"$d/embeddings.parquet"),
        parquetRowCount(s"$d/documents.parquet")).toInt
    val e = embeddings(s, d)
    val q = e.filter($"vec_id" === 0).select($"embedding".as("qv"))
    val dense = rankedTopK(
      e.filter($"vec_id" =!= 0).crossJoin(broadcast(q))
        .select($"vec_id".as("id"), cosine($"embedding", $"qv").as("cos")),
      $"cos", $"id", k, "r_dense")
    val sparse = rankedTopK(
      TextAnalysis.bm25Scores(s, d)
        .filter($"doc_id" =!= 0)
        .select($"doc_id".as("id"), $"bm25"),
      $"bm25", $"id", k, "r_sparse")
    dense.join(sparse, "id")
      .select($"id", $"cos", $"bm25", $"r_dense", $"r_sparse",
        ((lit(1.0) / (lit(60.0) + $"r_dense".cast("double"))) +
          (lit(1.0) / (lit(60.0) + $"r_sparse".cast("double")))).as("rrf"))
      .orderBy($"rrf".desc, $"id")
      .limit(10)
  }

  // sim09b — the INDEXED hybrid composition sim09's scaladoc promises: the
  // dense candidate stream comes from the persisted IVF-PQ index (sim08's
  // partition-pruned probe, generalized to top-kCand with ranks) and the
  // sparse stream from the persisted inverted keyword index
  // ([[TextAnalysis.bm25TopKViaIndex]] — reads only the query terms'
  // posting buckets). Fusion is a FULL OUTER RRF over the two ≤ kCand-row
  // streams (a doc missing from one stream contributes nothing for that
  // side — the standard RRF treatment; sim09's inner join is the
  // rank-everything special case where nothing is ever missing). Per query
  // at 100 TB this touches nprobe code directories + |terms| posting
  // buckets and fuses ≤ 2·kCand slim rows — the corpus appears nowhere.
  def sim09bHybridIndexed(s: SparkSession, d: String, kCand: Int = 50): DataFrame = {
    import s.implicits._
    val denseRaw = sim08ViaIndex(s, d, PersistedIndexes.ivfPqIndex(s, d),
      kOut = kCand)
    val dense = rankedTopK(denseRaw.select($"vec_id".as("id"), $"cos"),
      $"cos", $"id", kCand, "r_dense")
    val sparse = TextAnalysis.bm25TopKViaIndex(s, PersistedIndexes.textIndex(s, d),
      TextAnalysis.bm25Terms, kCand, excludeDocId = 0L)
      .select($"doc_id".as("id"), $"bm25", $"r_sparse")
    dense.join(sparse, Seq("id"), "full_outer")
      .select($"id", $"cos", $"bm25", $"r_dense", $"r_sparse",
        (coalesce(lit(1.0) / (lit(60.0) + $"r_dense".cast("double")), lit(0.0)) +
          coalesce(lit(1.0) / (lit(60.0) + $"r_sparse".cast("double")), lit(0.0)))
          .as("rrf"))
      .orderBy($"rrf".desc, $"id")
      .limit(10)
  }

  /** sim09b's oracle: the shared IVF-PQ CTE chain ([[ivfPqCandCtes]])
    * ranks the dense candidates; the sparse side recomputes the inverted
    * index's per-(term, doc) postings, per-term df and corpus stats from
    * the documents table, scores with the txt13 BM25-RSJ formula, and
    * folds per-doc term scores in sorted term order — exactly the
    * bm25TopKViaIndex fold contract. FULL OUTER RRF fusion, top 10.
    */
  def sim09bSql(kCand: Int = 50): String = {
    val terms = TextAnalysis.bm25Terms
    s"""WITH $ivfPqCandCtes,
       |dcos AS (SELECT e.vec_id AS id, ${duckCosine("e.embedding", "q.qv")} AS cos
       |         FROM embeddings e JOIN cand USING (vec_id), q),
       |dr AS (SELECT id, cos,
       |         CAST(row_number() OVER (ORDER BY cos DESC, id) AS BIGINT) AS r_dense
       |       FROM dcos QUALIFY r_dense <= $kCand),
       |${TextAnalysis.bm25IndexOracleCtes(terms, "pt.doc_id <> 0")},
       |kr AS (SELECT doc_id AS id, bm25,
       |         CAST(row_number() OVER (ORDER BY bm25 DESC, doc_id) AS BIGINT) AS r_sparse
       |       FROM sagg QUALIFY r_sparse <= $kCand)
       |SELECT COALESCE(dr.id, kr.id) AS id, dr.cos, kr.bm25, dr.r_dense, kr.r_sparse,
       |  COALESCE(CAST(1 AS DOUBLE) / (CAST(60 AS DOUBLE) + CAST(r_dense AS DOUBLE)), CAST(0 AS DOUBLE))
       |  + COALESCE(CAST(1 AS DOUBLE) / (CAST(60 AS DOUBLE) + CAST(r_sparse AS DOUBLE)), CAST(0 AS DOUBLE)) AS rrf
       |FROM dr FULL OUTER JOIN kr ON dr.id = kr.id
       |ORDER BY rrf DESC, id
       |LIMIT 10""".stripMargin
  }

  val sim09Sql: String = {
    // the sparse side re-derives txt13's per-doc BM25 (same fixed
    // association order — see txt13Sql) before ranking
    val t = TextAnalysis.bm25Terms
    val tfCols = t.map(x =>
      s"CAST(len(list_filter(string_split(text, ' '), w -> w = '$x')) AS BIGINT) AS tf_$x")
      .mkString(", ")
    val dfCols = t.map(x => s"SUM(CASE WHEN tf_$x > 0 THEN 1 ELSE 0 END) AS df_$x")
      .mkString(", ")
    val scores = t.map(x =>
      s"(((CAST(n AS DOUBLE) - CAST(df_$x AS DOUBLE) + 0.5) / (CAST(df_$x AS DOUBLE) + 0.5)) * ((CAST(tf_$x AS DOUBLE) * 2.2) / (CAST(tf_$x AS DOUBLE) + 1.2 * (0.25 + 0.75 * (CAST(dl AS DOUBLE) / (CAST(sumdl AS DOUBLE) / CAST(n AS DOUBLE)))))))")
      .mkString(" + ")
    s"""WITH t AS (
       |  SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS dl, $tfCols
       |  FROM documents),
       |stats AS (SELECT COUNT(*) AS n, SUM(dl) AS sumdl, $dfCols FROM t),
       |kw AS (SELECT doc_id AS id, $scores AS bm25 FROM t, stats WHERE doc_id <> 0),
       |kr AS (SELECT id, bm25,
       |         CAST(ROW_NUMBER() OVER (ORDER BY bm25 DESC, id) AS BIGINT) AS r_sparse
       |       FROM kw),
       |q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
       |dense AS (SELECT e.vec_id AS id, ${duckCosine("e.embedding", "q.qv")} AS cos
       |          FROM embeddings e, q WHERE e.vec_id <> 0),
       |dr AS (SELECT id, cos,
       |         CAST(ROW_NUMBER() OVER (ORDER BY cos DESC, id) AS BIGINT) AS r_dense
       |       FROM dense)
       |SELECT dr.id, dr.cos, kr.bm25, dr.r_dense, kr.r_sparse,
       |  (CAST(1 AS DOUBLE) / (CAST(60 AS DOUBLE) + CAST(r_dense AS DOUBLE)))
       |  + (CAST(1 AS DOUBLE) / (CAST(60 AS DOUBLE) + CAST(r_sparse AS DOUBLE))) AS rrf
       |FROM dr JOIN kr ON dr.id = kr.id
       |ORDER BY rrf DESC, dr.id
       |LIMIT 10""".stripMargin
  }

  // ---- sim14: Lloyd k-means codebook training ---------------------------
  //
  // The trainer sim05's comment defers to ("production trains per-subspace
  // codebooks"): true ITERATIVE Lloyd k-means as distributed Spark jobs,
  // under an exact oracle — the piece sim05's one-shot seeded assignment
  // deliberately skips. Exactness across engines comes from fixed-point
  // arithmetic: floats floor-scale to non-negative longs
  // (floor((x + 2) * 10^6) — identical IEEE double ops both sides), so
  // squared distances, member sums, and the truncating-division centroid
  // update are INTEGER math with no order dependence, and two unrolled
  // Lloyd iterations replay bit-identically in DuckDB.
  //
  // Distribution of work per iteration: assignment is a NARROW per-row
  // argmin — the k centroids travel as broadcast literals and each vector
  // folds k zip_with distances inside codegen (no join, no corpus
  // shuffle, no k-fold explosion); the only shuffle is the centroid
  // update's slim (cid, dim, x) aggregate, map-side combined — at 100 TB
  // that is |corpus|·dims slim longs reduced to k·dims rows, the minimum
  // any exact mean needs. Driver holds only the k·dims centroid scalars
  // between iterations (512 longs here — the bounded-coordinator
  // contract, sim13 precedent). Ties in assignment break to the smallest
  // centroid id via struct ordering on BOTH engines; an emptied centroid
  // drops out of the stats on both engines identically.
  private[operators] def kmeansAssign(scaled: DataFrame,
                           cents: Seq[(Int, Array[Long])]): DataFrame = {
    import scaled.sparkSession.implicits._
    val dists = cents.map { case (cid, arr) =>
      struct(
        aggregate(zip_with($"sv", typedLit(arr.toSeq), (x, c) => (x - c) * (x - c)),
          lit(0L), (acc, v) => acc + v).as("d2"),
        lit(cid).as("cid"))
    }
    scaled.withColumn("cid", array_min(array(dists: _*)).getField("cid"))
  }

  /** Per-(centroid, dim) member sum, truncating-mean and member count —
    * the Lloyd update, and (after the last iteration) the gate output.
    */
  private[operators] def kmeansStats(assigned: DataFrame): DataFrame = {
    import assigned.sparkSession.implicits._
    assigned.select($"cid", posexplode($"sv").as(Seq("dim", "x")))
      .groupBy($"cid", $"dim")
      .agg(sum($"x").as("sx"), count(lit(1)).as("n"))
      .select($"cid", $"dim", expr("sx div n").as("cval"), $"n")
  }

  def sim14KmeansTrain(s: SparkSession, d: String, k: Int = 8,
                       iterations: Int = 2): DataFrame = {
    import s.implicits._
    val scaled = graft.core.Tables.embeddings(s, d)
      .selectExpr("vec_id",
        "transform(embedding, x -> cast(floor((cast(x as double) + 2.0d) * 1000000.0d) as bigint)) as sv")
      .persist()
    // the last Lloyd update's stats are the gate output
    try kmeansStats(kmeansAssign(scaled, lloydCentroids(scaled, k, iterations - 1)))
      .select($"cid".cast("int").as("cid"), $"dim".cast("int").as("dim"), $"cval", $"n")
      .orderBy($"cid", $"dim")
      .localCheckpoint(true) // detach before the cache below releases
      .orderBy($"cid", $"dim")
    finally scaled.unpersist()
  }

  /** The two-iteration Lloyd training replay (el → init/c0 → assign a1 →
    * update c1 → assign a2), shared verbatim by sim14's output query and
    * sim15's trained-search continuation. (Defined before both dependent
    * SQL vals — object vals initialize in declaration order.)
    */
  private val kmeansTrainCtes: String =
    """el AS (
      |  SELECT vec_id,
      |    CAST(generate_subscripts(embedding, 1) - 1 AS BIGINT) AS dim,
      |    CAST(floor((CAST(unnest(embedding) AS DOUBLE) + 2.0) * 1000000.0) AS BIGINT) AS x
      |  FROM embeddings),
      |init AS (
      |  SELECT vec_id, CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS cid
      |  FROM embeddings ORDER BY vec_id LIMIT 8),
      |c0 AS (SELECT i.cid, el.dim, el.x AS c FROM init i JOIN el USING (vec_id)),
      |d1 AS (
      |  SELECT el.vec_id, c.cid, SUM((el.x - c.c) * (el.x - c.c)) AS d2
      |  FROM el JOIN c0 c USING (dim) GROUP BY el.vec_id, c.cid),
      |a1 AS (
      |  SELECT vec_id, cid FROM (
      |    SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn
      |    FROM d1) WHERE rn = 1),
      |c1 AS (
      |  SELECT a.cid, el.dim, CAST(SUM(el.x) // COUNT(*) AS BIGINT) AS c
      |  FROM a1 a JOIN el USING (vec_id) GROUP BY a.cid, el.dim),
      |d2s AS (
      |  SELECT el.vec_id, c.cid, SUM((el.x - c.c) * (el.x - c.c)) AS d2
      |  FROM el JOIN c1 c USING (dim) GROUP BY el.vec_id, c.cid),
      |a2 AS (
      |  SELECT vec_id, cid FROM (
      |    SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn
      |    FROM d2s) WHERE rn = 1)""".stripMargin

  /** Train centroids with `iterations` full Lloyd updates from the k
    * smallest vec_ids (centroid id = rank in that order) and return the
    * final k·dims scalars — the bounded-coordinator handoff sim15
    * searches with, and sim14's input to its last update.
    */
  private[operators] def lloydCentroids(scaled: DataFrame, k: Int,
                                        iterations: Int): Seq[(Int, Array[Long])] = {
    var cents: Seq[(Int, Array[Long])] =
      scaled.orderBy(col("vec_id")).limit(k).collect().zipWithIndex.map {
        case (r, i) => (i, r.getSeq[Long](r.fieldIndex("sv")).toArray)
      }.toSeq
    for (_ <- 1 to iterations)
      cents = kmeansStats(kmeansAssign(scaled, cents)).collect()
        .groupBy(_.getInt(0)).toSeq.sortBy(_._1)
        .map { case (cid, rows) =>
          (cid, rows.sortBy(_.getInt(1)).map(_.getLong(2)).toArray)
        }
    cents
  }

  // sim15 — the TRAINED-quantizer ANN lifecycle end-to-end under one
  // exact oracle: train (two Lloyd updates, sim14's arithmetic), index
  // (assign every vector to its trained centroid — a narrow broadcast-
  // literal argmin, no join), probe (query→centroid distances folded on
  // the driver over the k·dims scalars it already holds), search (exact
  // fixed-point L2 within the nprobe=2 probed cells only, TakeOrdered
  // top-10). sim05 searches a one-shot seeded quantizer and sim14 proves
  // the trainer in isolation; this gate closes the loop — the cells
  // being probed are the cells the trainer actually produced, and the
  // DuckDB replay re-derives training, assignment, probe selection AND
  // distances, so a drift anywhere in the lifecycle breaks the hash.
  // Scale shape: the corpus is touched by narrow per-row argmin/distance
  // passes and one slim stats shuffle per training iteration; the search
  // scans only probed cells (nprobe/k of the corpus with balanced
  // cells); nothing corpus-sized is collected or broadcast.
  def sim15TrainedIvf(s: SparkSession, d: String, k: Int = 8,
                      nprobe: Int = 2, topK: Int = 10): DataFrame = {
    import s.implicits._
    val scaled = embeddings(s, d)
      .selectExpr("vec_id",
        "transform(embedding, x -> cast(floor((cast(x as double) + 2.0d) * 1000000.0d) as bigint)) as sv")
      .persist()
    try {
      val cents = lloydCentroids(scaled, k, iterations = 2)
      val assigned = kmeansAssign(scaled, cents)
      val qv = scaled.filter($"vec_id" === 0).head()
        .getSeq[Long](1).toArray
      val probed = cents.map { case (cid, arr) =>
        (cid, arr.zip(qv).map { case (c, q) => (c - q) * (c - q) }.sum)
      }.sortBy { case (cid, d2) => (d2, cid) }.take(nprobe).map(_._1)
      val qLit = typedLit(qv.toSeq)
      assigned
        .filter($"cid".isin(probed: _*) && $"vec_id" =!= 0)
        .withColumn("d2",
          aggregate(zip_with($"sv", qLit, (x, q) => (x - q) * (x - q)),
            lit(0L), (acc, v) => acc + v))
        .select($"vec_id", $"d2", $"cid".as("cell"))
        .orderBy($"d2", $"vec_id").limit(topK) // TakeOrderedAndProject
        .localCheckpoint(true) // detach before the cache releases
        .orderBy($"d2", $"vec_id")
    } finally scaled.unpersist()
  }

  val sim15Sql: String =
    s"""WITH $kmeansTrainCtes,
      |c2 AS (
      |  SELECT a.cid, el.dim, CAST(SUM(el.x) // COUNT(*) AS BIGINT) AS c
      |  FROM a2 a JOIN el USING (vec_id) GROUP BY a.cid, el.dim),
      |d3 AS (
      |  SELECT el.vec_id, c.cid, SUM((el.x - c.c) * (el.x - c.c)) AS d2
      |  FROM el JOIN c2 c USING (dim) GROUP BY el.vec_id, c.cid),
      |a3 AS (
      |  SELECT vec_id, cid FROM (
      |    SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn
      |    FROM d3) WHERE rn = 1),
      |probed AS (
      |  SELECT cid FROM (
      |    SELECT cid, row_number() OVER (ORDER BY d2, cid) AS rn
      |    FROM d3 WHERE vec_id = 0) WHERE rn <= 2),
      |qv AS (SELECT dim, x FROM el WHERE vec_id = 0),
      |cand AS (
      |  SELECT a.vec_id, a.cid FROM a3 a JOIN probed p USING (cid)
      |  WHERE a.vec_id <> 0),
      |dist AS (
      |  SELECT e.vec_id, CAST(SUM((e.x - q.x) * (e.x - q.x)) AS BIGINT) AS d2
      |  FROM el e JOIN qv q USING (dim) JOIN cand c ON c.vec_id = e.vec_id
      |  GROUP BY e.vec_id)
      |SELECT d.vec_id, d.d2, CAST(c.cid AS INTEGER) AS cell
      |FROM dist d JOIN cand c USING (vec_id)
      |ORDER BY d.d2, d.vec_id LIMIT 10""".stripMargin

  val sim14Sql: String =
    s"""WITH $kmeansTrainCtes
      |SELECT CAST(a.cid AS INTEGER) AS cid, CAST(el.dim AS INTEGER) AS dim,
      |  CAST(SUM(el.x) // COUNT(*) AS BIGINT) AS cval,
      |  COUNT(*) AS n
      |FROM a2 a JOIN el USING (vec_id)
      |GROUP BY a.cid, el.dim
      |ORDER BY cid, dim""".stripMargin

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "sim14_kmeans_train" -> ((s: SparkSession, d: String) => sim14KmeansTrain(s, d)),
    "sim15_trained_ivf" -> ((s: SparkSession, d: String) => sim15TrainedIvf(s, d)),
    "sim10_ivfpq_knn_join" -> ((s: SparkSession, d: String) => sim10IvfPqKnnJoin(s, d)),
    "sim10b_knn_shuffle" -> sim10bKnnShuffle _,
    "sim09_hybrid_rrf" -> ((s: SparkSession, d: String) => sim09HybridRrf(s, d)),
    "sim09b_hybrid_indexed" -> ((s: SparkSession, d: String) => sim09bHybridIndexed(s, d)),
    "dd10_semantic_dedup" -> ((s: SparkSession, d: String) => dd10SemanticDedup(s, d)),
    "sim03b_via_index" -> sim03bViaIndex _,
    "sim05b_via_index" -> sim05bViaIndex _,
    "sim06_quant_rerank" -> sim06QuantRerank _,
    "sim01_brute_topk" -> sim01BruteTopK _,
    "sim16_recall_at_k" -> sim16RecallAtK _,
    "sim17_embedding_health" -> sim17EmbeddingHealth _,
    "sim11_range_search" -> sim11RangeSearch _,
    "sim11b_range_via_index" -> ((s: SparkSession, d: String) => sim11bRangeViaIndex(s, d)),
    "sim12_truncated_prefilter" -> sim12TruncatedPrefilter _,
    "sim13_mmr_rerank" -> sim13MmrRerank _,
    "sim02_lsh_topk" -> sim02LshTopK _,
    "sim03_ivf_topk" -> sim03IvfTopK _,
    "sim18_filtered_search" -> sim18FilteredSearch _,
    "sim04_knn_join" -> sim04KnnJoin _,
    "sim05_kmeans_ivf" -> sim05KmeansIvf _,
    "sim07_pq_adc" -> sim07PqAdc _,
    "sim07b_via_index" -> sim07bViaIndex _,
    "sim08_ivf_pq" -> sim08IvfPq _)

  // sim13 — MMR (maximal marginal relevance) diversity rerank: top-kCand
  // by query cosine, then greedily pick kOut maximizing
  // λ·rel(c) − (1−λ)·max_{s∈S} sim(c, s) — the standard redundancy-
  // penalized selection a curation pipeline uses to avoid returning five
  // copies of the same document. Distribution of work: the corpus-scale
  // stages (query scoring, the top-kCand cut via TakeOrdered, the
  // kCand² pairwise sims) are all Spark plans; the greedy fold itself is
  // inherently sequential (each pick depends on the previous) and runs
  // on the coordinator over the BOUNDED kCand rel scalars + kCand² sim
  // scalars — k is the API contract, exactly like collecting any top-k
  // result. Determinism: λ and (1−λ) are the LITERALS 0.7 / 0.3 on both
  // engines (1−0.7 ≠ 0.3 in IEEE doubles — deriving one from the other
  // would flip near-tie argmaxes); rel/sim reuse the bit-exact cosine
  // contract; ties break on vec_id. The oracle replays the same greedy
  // as a recursive CTE carrying the selected set as a list.
  def sim13MmrRerank(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val kCand = 20
    val kOut = 5
    val lamRel = 0.7
    val lamDiv = 0.3
    val e = embeddings(s, d)
    val q = e.filter($"vec_id" === 0).select($"embedding".as("qv"))
    val cand = e.filter($"vec_id" =!= 0)
      .crossJoin(broadcast(q))
      .select($"vec_id", $"embedding", cosine($"embedding", $"qv").as("rel"))
      .orderBy($"rel".desc, $"vec_id").limit(kCand)
      .persist()
    try {
      val rels: Array[(Long, Double)] =
        cand.select($"vec_id", $"rel").as[(Long, Double)].collect()
      val simMap: Map[(Long, Long), Double] = cand
        .select($"vec_id".as("ia"), $"embedding".as("ea"))
        .crossJoin(cand.select($"vec_id".as("ib"), $"embedding".as("eb")))
        .filter($"ia" =!= $"ib")
        .select($"ia", $"ib", cosine($"ea", $"eb").as("sim"))
        .as[(Long, Long, Double)].collect()
        .map { case (a, b, v) => ((a, b), v) }.toMap
      val relMap = rels.toMap
      var selected = Vector.empty[Long]
      for (_ <- 1 to math.min(kOut, rels.length)) {
        val best = rels.iterator
          .filterNot { case (id, _) => selected.contains(id) }
          .map { case (id, r) =>
            val maxSim =
              if (selected.isEmpty) 0.0
              else selected.iterator.map(sid => simMap((id, sid))).max
            (id, lamRel * r - lamDiv * maxSim)
          }
          .reduceLeft { (a, b) =>
            if (b._2 > a._2 || (b._2 == a._2 && b._1 < a._1)) b else a
          }
        selected :+= best._1
      }
      val out = selected.zipWithIndex
        .map { case (id, i) => ((i + 1).toLong, id, relMap(id)) }
      s.createDataFrame(out).toDF("step", "vec_id", "cos").orderBy($"step")
    } finally cand.unpersist()
  }

  val sim13Sql: String = {
    import VectorOps.duckCosine
    s"""WITH RECURSIVE
       |q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
       |cand AS (
       |  SELECT e.vec_id, e.embedding, ${duckCosine("e.embedding", "q.qv")} AS rel
       |  FROM embeddings e, q WHERE e.vec_id <> 0
       |  ORDER BY rel DESC, vec_id LIMIT 20),
       |sims AS (
       |  SELECT a.vec_id AS ia, b.vec_id AS ib,
       |    ${duckCosine("a.embedding", "b.embedding")} AS sim
       |  FROM cand a JOIN cand b ON a.vec_id <> b.vec_id),
       |sel(step, ids) AS (
       |  SELECT 0, CAST([] AS BIGINT[])
       |  UNION ALL
       |  SELECT step + 1, list_append(ids, (
       |    SELECT c.vec_id FROM cand c
       |    WHERE NOT list_contains(ids, c.vec_id)
       |    ORDER BY 0.7 * c.rel - 0.3 * COALESCE((
       |        SELECT MAX(s.sim) FROM sims s
       |        WHERE s.ia = c.vec_id AND list_contains(ids, s.ib)), 0.0) DESC,
       |      c.vec_id
       |    LIMIT 1))
       |  FROM sel WHERE step < 5),
       |fin AS (SELECT ids FROM sel WHERE step = 5),
       |steps AS (SELECT unnest(range(1, 6)) AS step),
       |out AS (SELECT s.step, fin.ids[s.step] AS vec_id FROM fin, steps s)
       |SELECT CAST(o.step AS BIGINT) AS step, o.vec_id, c.rel AS cos
       |FROM out o JOIN cand c ON c.vec_id = o.vec_id
       |ORDER BY step""".stripMargin
  }

  def oracles(sfDir: String): Map[String, String] = Map(
    "sim14_kmeans_train" -> sim14Sql,
    "sim15_trained_ivf" -> sim15Sql,
    "sim13_mmr_rerank" -> sim13Sql,
    "sim10_ivfpq_knn_join" -> sim10Sql,
    "sim10b_knn_shuffle" -> sim10Sql,
    "sim09_hybrid_rrf" -> sim09Sql,
    "sim09b_hybrid_indexed" -> sim09bSql(),
    "dd10_semantic_dedup" -> dd10Sql(sfDir),
    "sim03b_via_index" -> sim03Sql,
    "sim05b_via_index" -> sim05Sql,
    "sim06_quant_rerank" -> sim06Sql,
    "sim01_brute_topk" -> sim01Sql,
    "sim16_recall_at_k" -> sim16Sql,
    "sim17_embedding_health" -> sim17Sql,
    "sim11_range_search" -> sim11Sql,
    "sim11b_range_via_index" -> sim11bSql,
    "sim12_truncated_prefilter" -> sim12Sql,
    "sim02_lsh_topk" -> sim02Sql(sfDir),
    "sim03_ivf_topk" -> sim03Sql,
    "sim18_filtered_search" -> sim18Sql,
    "sim04_knn_join" -> sim04Sql(sfDir),
    "sim05_kmeans_ivf" -> sim05Sql,
    "sim07_pq_adc" -> sim07Sql,
    "sim07b_via_index" -> sim07Sql,
    "sim08_ivf_pq" -> sim08Sql)
}
