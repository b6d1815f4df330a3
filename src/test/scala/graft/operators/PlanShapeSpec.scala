package graft.operators

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SparkPlan
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Physical-plan audits: the scale-critical plan properties are asserted,
  * not just eyeballed — a regression that re-introduces a second lineitem
  * scan, drops a broadcast, or turns the hot-shingle cut into a shuffle
  * join fails here long before it melts a large cluster.
  */
class PlanShapeSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "8")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.autoBroadcastJoinThreshold", (10 * 1024 * 1024).toString)
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private val d = "/root/testdata/sf0.001"

  private def plan(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  /** AQE wraps everything in AdaptiveSparkPlan — unwrap to the initial
    * physical plan so scan nodes are reachable.
    */
  private def physical(df: org.apache.spark.sql.DataFrame): SparkPlan =
    df.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => a.initialPlan
      case p => p
    }

  private def fileScans(df: org.apache.spark.sql.DataFrame) =
    physical(df).collect { case f: org.apache.spark.sql.execution.FileSourceScanExec => f }

  test("q18: exactly one lineitem scan (window decorrelation, no threshold re-scan)") {
    val p = Relational.q18AvgThreshold(spark, d)
    val lineitemScans = fileScans(p)
      .count(_.relation.location.rootPaths.mkString.contains("lineitem"))
    assert(lineitemScans === 1, plan(p).take(2000))
    assert(plan(p).contains("BroadcastHashJoin"), "part side must broadcast")
    assert(plan(p).contains("Window"), "threshold must come from a window, not a join")
  }

  test("dd04: hot-shingle cut is a LEFT ANTI join that AQE promotes to broadcast") {
    val p = Dedup.dd04NgramJaccard(spark, d)
    val s = plan(p)
    assert(s.contains("LeftAnti"), s.take(1500))
    assert(!s.contains("BroadcastNestedLoopJoin"), "no BNL anywhere in dd04")
    // no unconditional hint: the promotion must come from AQE's measured
    // runtime size (small hot set → broadcast), visible in the final plan
    // (collect() executes THIS dataset's QueryExecution, finalizing it)
    p.collect()
    val fin = p.queryExecution.executedPlan.toString
    assert(fin.matches("(?s).*BroadcastHashJoin.*LeftAnti.*") ||
      fin.matches("(?s).*LeftAnti.*BroadcastHashJoin.*"),
      "AQE did not promote the anti-join to broadcast: " + fin.take(1500))
  }

  test("q02: filter and projection push into the parquet scan") {
    val p = Relational.q02FilterProject(spark, d)
    val scans = fileScans(p)
    assert(scans.nonEmpty, plan(p).take(1000))
    val scan = scans.head
    val pushed = scan.metadata.getOrElse("PushedFilters", "")
    assert(pushed.contains("EqualTo(event_type,purchase)"),
      s"equality filter must reach the scan: $pushed")
    // pruned read schema: the 3-column projection (+2 filter columns) must
    // not drag the full events row through the scan
    assert(scan.requiredSchema.fields.length <= 4,
      s"scan reads too many columns: ${scan.requiredSchema.fieldNames.mkString(",")}")
  }

  test("q03: dimension side broadcasts; no shuffle of customer") {
    val p = Relational.q03TopRevenue(spark, d)
    val s = plan(p)
    assert(s.contains("BroadcastHashJoin"), s.take(1500))
    assert(s.contains("TakeOrderedAndProject"), "top-k must not global-sort")
  }

  test("sim02 multi-probe: probe side broadcasts, base never cartesians") {
    val p = Similarity.sim02LshTopK(spark, d)
    val s = plan(p)
    assert(s.contains("BroadcastHashJoin"), s.take(1500))
    assert(!s.contains("CartesianProduct") && !s.contains("BroadcastNestedLoopJoin"),
      "probe join must stay an equi-join: " + s.take(1500))
    assert(s.contains("TakeOrderedAndProject"), "top-k must not global-sort")
  }

  test("mm05: band join is an equi-join (no cartesian/BNL), top-k via window") {
    val p = Multimodal.mm05PhashNearDup(spark, d)
    val s = plan(p)
    assert(!s.contains("CartesianProduct") && !s.contains("BroadcastNestedLoopJoin"),
      "banded hamming join degenerated: " + s.take(1500))
    assert(s.contains("Window"), "per-item top-k must be a window, not a global sort")
  }

  test("dd06ViaIndex: no corpus text scan, band probe stays an equi-join") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("plan-idx")
    val corpusPath = dir.resolve("corpus.parquet").toString
    (0L until 20L).map(i => (i, s"some corpus text number $i about topic ${i % 5}"))
      .toDF("doc_id", "text").write.parquet(corpusPath)
    val idx = dir.resolve("index").toString
    Dedup.buildDedupIndex(spark.read.parquet(corpusPath), idx)
    val fresh = Seq((100L, "a fresh doc"), (101L, "some corpus text number 3 about topic 3"))
      .toDF("doc_id", "text")
    val p = Dedup.dd06ViaIndex(spark, fresh, idx)
    val s = plan(p)
    assert(!s.contains("corpus.parquet"), "index path must not rescan corpus text")
    assert(!s.contains("CartesianProduct") && !s.contains("BroadcastNestedLoopJoin"),
      s.take(1500))
  }

  test("sim05ViaIndex: probe is partition-pruned (DPP on the cell directories)") {
    val idx = PersistedIndexes.annIndex(spark, d)
    val s = plan(Similarity.sim05ViaIndex(spark, d, idx))
    // the inverted-file scan must carry a dynamic-pruning partition filter
    // on `cell` — without it the "probe reads 3/k directories" claim is
    // a full corpus scan at 100 TB
    assert(s.contains("dynamicpruningexpression(cell"),
      "cells scan lost its partition pruning: " + s.take(2000))
  }

  test("txt08: repetition metrics are a narrow map — only the output sort exchanges") {
    val p = TextAnalysis.txt08Repetition(spark, d)
    val exchanges = physical(p).collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }
    // one rangepartitioning exchange for the gate's ORDER BY doc_id;
    // the repetition statistics themselves must not shuffle (doc, gram)
    assert(exchanges.size === 1, plan(p).take(2000))
    assert(exchanges.head.outputPartitioning.toString.toLowerCase.contains("range"),
      "the only exchange must be the output sort: " + exchanges.head.outputPartitioning)
    assert(!plan(p).contains("HashAggregate"),
      "per-doc gram counting must fold inside the row, not aggregate: " + plan(p).take(1500))
  }

  test("txt14: quality gate is a narrow map — only the output sort exchanges") {
    val p = TextAnalysis.txt14QualityGate(spark, d)
    val exchanges = physical(p).collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }
    assert(exchanges.size === 1, plan(p).take(2000))
    assert(exchanges.head.outputPartitioning.toString.toLowerCase.contains("range"),
      "the only exchange must be the output sort: " + exchanges.head.outputPartitioning)
    // verdicts and reasons fold inside the row (runStats), never aggregate
    assert(!plan(p).contains("HashAggregate"), plan(p).take(1500))
    // every drop must carry a reason; keeps carry none (cheap end-to-end pin)
    import org.apache.spark.sql.functions.col
    val bad = p.filter(
      (col("verdict") === "drop" && col("reject_reasons") === "") ||
        (col("verdict") === "keep" && col("reject_reasons") =!= "")).count()
    assert(bad === 0L)
  }

  test("txt15: pipeline shuffles are slim — text stays out, survivor pick is partial-agg") {
    val p = TextAnalysis.txt15CurationPipeline(spark, d)
    val exchanges = physical(p).collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }
    // fp survivor agg + (split, source) agg + output sort — nothing else
    assert(exchanges.size <= 3, plan(p).take(2000))
    exchanges.foreach { e =>
      assert(!e.child.output.map(_.name.toLowerCase).exists(_.contains("text")),
        "corpus text in a txt15 shuffle: " + e.child.output.map(_.name).mkString(","))
    }
    // hot duplicate content must collapse before the fp exchange
    assert(plan(p).contains("partial_min"), plan(p).take(2000))
  }

  test("txt13: corpus never shuffles — one broadcast stats row, narrow scoring map") {
    val p = TextAnalysis.txt13Bm25(spark, d)
    val s = plan(p)
    val exchanges = physical(p).collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }
    // the only shuffles allowed are the stats aggregation's single-row
    // final (SinglePartition) and the gate output sort — the corpus-sized
    // scoring side must stay a broadcast-joined narrow map
    assert(exchanges.size <= 2, s.take(2000))
    exchanges.foreach { e =>
      val part = e.outputPartitioning.toString.toLowerCase
      assert(part.contains("single") || part.contains("range"),
        "corpus-keyed hash shuffle in txt13: " + part)
    }
    assert(s.contains("BroadcastNestedLoopJoin") || s.contains("BroadcastExchange"),
      "stats row must broadcast back over the corpus: " + s.take(1500))
  }

  test("sim09: every shuffle carries slim rank rows — embedding/text payloads never exchange") {
    val p = Similarity.sim09HybridRrf(spark, d)
    val exchanges = physical(p).collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }
    assert(exchanges.nonEmpty) // the broadcast stats row's final agg does exchange
    exchanges.foreach { e =>
      val cols = e.child.output.map(_.name.toLowerCase)
      assert(!cols.exists(c => c.contains("embedding") || c.contains("text") || c == "qv"),
        "heavy payload column in a sim09 shuffle: " + cols.mkString(","))
    }
  }

  test("sim09: no single-partition exchange or global sort over corpus-sized input") {
    import org.apache.spark.sql.execution.{ProjectExec, SortExec, SparkPlan, TakeOrderedAndProjectExec}
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    // the production configuration: bounded candidate streams (kCand=50) —
    // the SAME plan shape the gate's exhaustive run has, only the bound
    // differs, so pinning here pins the gate too
    val p = Similarity.sim09HybridRrf(spark, d, 50)
    val phys = physical(p)
    val s = plan(p)
    // both candidate cuts and the final top-10 are TakeOrderedAndProject:
    // per-partition top-k feeding a k·P-row bounded merge — the corpus is
    // never globally sorted and never shuffled
    assert(s.split("TakeOrderedAndProject").length - 1 >= 3, s.take(2000))
    assert(phys.collect { case so: SortExec => so }.isEmpty,
      "global/local SortExec over the corpus reappeared: " + s.take(2000))
    // the ONLY single-partition exchange allowed is the stats row's final
    // aggregation, whose input is one partial-agg row per task — a
    // regression to an unpartitioned rank window would put a corpus-sized
    // Project/Scan under a SinglePartition exchange and fail here
    val singles = phys.collect {
      case e: ShuffleExchangeExec
        if e.outputPartitioning.toString.toLowerCase.contains("single") => e
    }
    singles.foreach { e =>
      assert(e.child.isInstanceOf[
        org.apache.spark.sql.execution.aggregate.HashAggregateExec],
        "single-partition exchange over non-aggregated input: " +
          e.child.getClass.getName + "\n" + s.take(2000))
    }
    // each rank window sits DIRECTLY on its TakeOrdered stream (modulo
    // projections) — ranks are computed on <= kCand rows, nothing more
    @annotation.tailrec
    def unwrapProjects(pl: SparkPlan): SparkPlan = pl match {
      case pr: ProjectExec => unwrapProjects(pr.child)
      case other => other
    }
    val windows = phys.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }
    assert(windows.size === 2, s.take(2000))
    windows.foreach { w =>
      assert(unwrapProjects(w.child).isInstanceOf[TakeOrderedAndProjectExec],
        "rank window input must be the rank-bounded TakeOrdered stream: " +
          w.child.getClass.getName + "\n" + s.take(2000))
    }
  }

  test("sim09b sparse probe: postings scan is bucket-pruned, corpus text never scanned") {
    val idx = PersistedIndexes.textIndexLifecycle(spark, d)
    val p = TextAnalysis.bm25TopKViaCdcIndex(spark, idx, TextAnalysis.bm25Terms, 50,
      excludeDocId = Some(0L))
    val scans = fileScans(p)
    val postScans = scans.filter(_.relation.location.rootPaths.mkString.contains("postings"))
    assert(postScans.nonEmpty, plan(p).take(1500))
    // the probe's `tb IN (...)` literals must land as STATIC partition
    // filters — without them "read only the query terms' buckets" is a
    // full posting scan
    postScans.foreach { sc =>
      assert(sc.partitionFilters.nonEmpty,
        "postings scan lost its static bucket pruning: " + plan(p).take(1500))
    }
    assert(!scans.exists(_.relation.location.rootPaths.mkString.contains("documents")),
      "sparse probe must not touch the corpus text: " + plan(p).take(1500))
    // the fused sim09b plan never reads documents.parquet either — both
    // candidate streams come from persisted indexes
    val pb = Similarity.sim09bHybridIndexed(spark, d)
    assert(!fileScans(pb).exists(
      _.relation.location.rootPaths.mkString.contains("documents.parquet")),
      plan(pb).take(2000))
  }

  test("dd08: eval side broadcasts; train side never cartesians") {
    val p = Dedup.dd08Decontaminate(spark, d)
    val s = plan(p)
    assert(s.contains("BroadcastHashJoin"), s.take(1500))
    assert(!s.contains("CartesianProduct") && !s.contains("BroadcastNestedLoopJoin"),
      "shingle-overlap join must stay a broadcast equi-join: " + s.take(1500))
  }

  test("txt11: packing window + per-sequence agg share ONE bucket shuffle") {
    val p = TextAnalysis.txt11SeqPack(spark, d)
    val exchanges = physical(p).collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }
    // one hash exchange on pack_bucket feeds BOTH the running-sum window
    // and the (pack_bucket, seq_id) aggregation (subset co-partitioning);
    // the second exchange is the gate's output ORDER BY only
    assert(exchanges.size === 2, plan(p).take(2000))
    assert(exchanges.count(_.outputPartitioning.toString.toLowerCase.contains("range")) === 1,
      "exactly one range exchange (output sort): " + plan(p).take(1500))
  }

  test("dd11: two irreducible content shuffles, no window, hot spans collapse map-side") {
    val p = Dedup.dd11SpanDedup(spark, d)
    val exchanges = physical(p).collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }
    // chunking is narrow (slice over the split array — NO per-word
    // shuffle); content shuffles are the span-content meeting point and
    // the doc-keyed survivor reassembly. The remaining exchanges are the
    // slim (doc_id, n_chunks) totals join and the gate's ORDER BY.
    val parts = exchanges.map(_.outputPartitioning.toString.toLowerCase)
    assert(parts.count(_.contains("ctext")) === 1,
      "exactly one span-content shuffle: " + plan(p).take(2000))
    assert(exchanges.size <= 4, plan(p).take(2000))
    assert(parts.count(_.contains("range")) === 1,
      "exactly one range exchange (output sort): " + plan(p).take(1500))
    // first-occurrence must be an aggregation (map-side partial collapse
    // of hot spans, AQE-splittable join back) — a window partitioned by
    // ctext would pin every occurrence of a boilerplate span on one task
    assert(!plan(p).contains("Window"), plan(p).take(1500))
    // two narrow corpus passes (chunk stream + per-doc totals): a scan is
    // deliberate — cheaper than shuffling the full chunk stream a third time
    val docScans = fileScans(p)
      .count(_.relation.location.rootPaths.mkString.contains("documents"))
    assert(docScans === 2, plan(p).take(1500))
  }

  test("mm07: both manifest windows share ONE bucket shuffle; blobs absent") {
    val p = Multimodal.mm07ShardManifest(spark, d)
    val exchanges = physical(p).collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }
    // the (media_type, bucket) hash exchange feeds BOTH the running-start
    // window and the shard-relative rebase (subset co-partitioning: the
    // second window's keys extend the first's); the other exchange is the
    // gate's output ORDER BY only
    assert(exchanges.size === 2, plan(p).take(2000))
    assert(exchanges.count(_.outputPartitioning.toString.toLowerCase.contains("range")) === 1,
      "exactly one range exchange (output sort): " + plan(p).take(1500))
    // the payload blob column must be projected away before any exchange
    assert(!plan(p).contains("payload"), plan(p).take(1500))
  }

  test("dd10: corpus never shuffles — broadcast rep joins, bounded agg, no window") {
    val p = Similarity.dd10SemanticDedup(spark, d)
    val s = plan(p)
    // rep fetch + pair generation are broadcast hash joins (the rep side
    // is <= k*reps slim rows); the only nested-loop shape allowed is
    // assignCells' broadcast of the ONE-ROW seed array
    assert(s.contains("BroadcastHashJoin"), s.take(1500))
    assert(!s.contains("CartesianProduct"), s.take(1500))
    // one BNL per assignCells lineage: cell-stats (consumed twice — AQE
    // stage reuse dedupes it, asserted below), rep fetch, pair corpus
    // side — each a one-row build; a 5th would mean a new lineage
    assert(s.split("BroadcastNestedLoopJoin").length - 1 <= 4,
      "only the seed-array one-row broadcasts may nested-loop: " + s.take(1500))
    // rep selection is the bounded graft_min_k AGGREGATE (map-side
    // partial, O(reps) state) — a window partitioned by cell would pin a
    // hot cell's every vector on one task
    assert(!s.contains("Window"), s.take(1500))
    assert(s.contains("ObjectHashAggregate"), "graft_min_k must aggregate: " + s.take(1500))
    // no exchange may partition on the corpus identity column — every
    // shuffle is slim cell-keyed stats
    val exchanges = physical(p).collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }
    assert(!exchanges.exists(_.outputPartitioning.toString.toLowerCase.contains("vec_id")),
      exchanges.map(_.outputPartitioning.toString).mkString(" ;; "))
    // the cell-stats aggregation feeds both the rep-id explode and the
    // final stats join from ONE lineage at runtime: AQE must reuse the
    // exchange, not recompute the corpus aggregation
    p.collect()
    val fin = p.queryExecution.executedPlan.toString
    assert(fin.contains("ReusedExchange"),
      "cell-stats stage must be reused, not recomputed: " + fin.take(1500))
  }

  test("sim07: corpus never shuffles — only codebook-sized aggregations exchange") {
    val p = Similarity.sim07PqAdc(spark, d)
    val s = plan(p)
    // every join is a broadcast (the codebook row, the query row, the
    // 50-candidate rerank); the corpus-sized side must never sort-merge
    // or hash-exchange — ADC is a map + TakeOrdered
    assert(!s.contains("SortMergeJoin") && !s.contains("CartesianProduct"), s.take(1500))
    assert(s.contains("TakeOrderedAndProject"), s.take(1500))
    val exchanges = physical(p).collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }
    // the only allowed exchanges are the tiny codebook/LUT reassembly
    // aggregations (M- and 1-row groupings); none may partition on the
    // corpus identity column
    assert(exchanges.size <= 4, s.take(2000))
    assert(!exchanges.exists(_.outputPartitioning.toString.toLowerCase.contains("vec_id")),
      exchanges.map(_.outputPartitioning.toString).mkString(" ;; "))
  }

  test("sim08: codes scan is partition-pruned to the probed cells, corpus never shuffles") {
    val idx = PersistedIndexes.ivfPqIndex(spark, d)
    val p = Similarity.sim08ViaIndex(spark, d, idx)
    val s = plan(p)
    // the cell-partitioned codes scan must carry dynamic partition pruning
    // — without it "probe reads nprobe/k code directories" is a full scan
    assert(s.contains("dynamicpruningexpression(cell"),
      "codes scan lost its partition pruning: " + s.take(2000))
    // the probe never reads the embedding column from the codes table
    val codeScans = fileScans(p)
      .filter(_.relation.location.rootPaths.mkString.contains("codes"))
    assert(codeScans.nonEmpty &&
      !codeScans.exists(_.requiredSchema.fieldNames.contains("embedding")),
      codeScans.map(_.requiredSchema.fieldNames.mkString(",")).mkString(" ;; "))
    // every corpus-sized join is broadcast; exchanges are codebook-sized
    assert(!s.contains("SortMergeJoin") && !s.contains("CartesianProduct"), s.take(1500))
    val exchanges = physical(p).collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }
    assert(!exchanges.exists(_.outputPartitioning.toString.toLowerCase.contains("vec_id")),
      exchanges.map(_.outputPartitioning.toString).mkString(" ;; "))
  }

  test("txt12: bounded pair shuffles, skew-safe score join") {
    val p = TextAnalysis.txt12LmQuality(spark, d)
    val phys = physical(p)
    val exchanges = phys.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }.map(_.outputPartitioning.toString.toLowerCase)
    // the corpus-sized pair-instance stream hash-shuffles on (w1, w2) at
    // most twice (the probe-side c2 and c1's recomputed lineage — see the
    // operator's comment for why recompute measured FASTER than sharing);
    // a regression adding a per-instance pair shuffle (e.g. joining
    // instances before aggregating) fails here
    assert(exchanges.count(s => s.contains("w1") && s.contains("w2")) <= 2,
      plan(p).take(2000))
    // the corpus explodes at most three times (probe + two count-agg
    // lineages), and the pair stream itself never hits a sort
    val docScans = fileScans(p)
      .count(_.relation.location.rootPaths.mkString.contains("documents"))
    assert(docScans <= 3, plan(p).take(2000))
    // hot bigrams ("the ...") on the score join: either the table
    // broadcasts (skew-immune) or it's a sort-merge join AQE can split —
    // never a nested-loop shape
    val s = plan(p)
    assert(s.contains("BroadcastHashJoin") || s.contains("SortMergeJoin"), s.take(1500))
    assert(!s.contains("CartesianProduct") && !s.contains("BroadcastNestedLoopJoin"),
      s.take(1500))
    assert(spark.conf.get("spark.sql.adaptive.enabled") == "true" &&
      spark.conf.get("spark.sql.adaptive.skewJoin.enabled") == "true",
      "AQE skew-join handling must be on — txt12's hot-key story rests on it")
  }

  test("txt16: chunking is one narrow pass — no join, no aggregate, only the output sort exchanges") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val p = TextAnalysis.txt16Chunking(spark, d)
    val s = plan(p)
    assert(!s.contains("Join"), "chunking must not join: " + s.take(1500))
    assert(!s.contains("Aggregate"), "chunking must not aggregate: " + s.take(1500))
    val exchanges = physical(p).collect { case e: ShuffleExchangeExec => e }
    assert(exchanges.size <= 1, "only the gate's output sort may exchange")
    exchanges.foreach(e => assert(
      e.outputPartitioning.toString.toLowerCase.contains("range"),
      "the sole exchange is the output ordering: " + e.outputPartitioning))
  }

  test("txt17: top-3 window partitions by doc, and no shuffle carries the corpus text") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val p = TextAnalysis.txt17TfidfKeywords(spark, d)
    val phys = physical(p)
    val s = plan(p)
    assert(s.contains("Window"), s.take(1500))
    // the keyword window must partition by doc_id — an unpartitioned
    // window here is sim09's round-10 scale-killer reborn
    assert(s.matches("(?s).*Window \\[[^\\]]*windowspecdefinition\\(doc_id[^\\)]*\\).*"),
      "per-doc window lost its partitioning: " + s.take(2000))
    val exchanges = phys.collect { case e: ShuffleExchangeExec => e }
    exchanges.foreach { e =>
      val cols = e.child.output.map(_.name.toLowerCase)
      assert(!cols.contains("text"), "corpus text in a txt17 shuffle: " + cols.mkString(","))
      assert(!e.outputPartitioning.toString.toLowerCase.contains("single") ||
        e.child.isInstanceOf[org.apache.spark.sql.execution.aggregate.HashAggregateExec],
        "single-partition exchange over non-aggregated input")
    }
  }

  test("sim11: range search never shuffles the corpus — scan-stage filter, broadcast query") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val p = Similarity.sim11RangeSearch(spark, d)
    val s = plan(p)
    assert(s.contains("BroadcastNestedLoopJoin") || s.contains("BroadcastExchange"),
      "query vector must broadcast: " + s.take(1500))
    assert(!s.contains("SortMergeJoin") && !s.contains("ShuffledHashJoin"),
      "corpus-side shuffle join in sim11: " + s.take(1500))
    val exchanges = physical(p).collect { case e: ShuffleExchangeExec => e }
    // the only shuffle is the output sort over the inside-radius survivors
    assert(exchanges.size <= 1, "corpus shuffled before the radius filter")
    exchanges.foreach(e => assert(
      e.outputPartitioning.toString.toLowerCase.contains("range"),
      "the sole exchange is the output ordering: " + e.outputPartitioning))
  }

  test("q30: funnel shuffles the event log ONCE — windows and aggregate share the user hash") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val p = Relational.q30Funnel(spark, d)
    val exchanges = physical(p).collect { case e: ShuffleExchangeExec => e }
    val hashes = exchanges.filter(_.outputPartitioning.toString.toLowerCase.contains("hash"))
    assert(hashes.size == 1, "event log must shuffle exactly once (user_id): " +
      exchanges.map(_.outputPartitioning).mkString("; "))
    assert(hashes.head.outputPartitioning.toString.contains("user_id"))
    // only the gate's output ordering may add a second (range) exchange
    assert(exchanges.size <= 2)
  }

  test("q31: retention shuffles slim pairs twice — user hash (set-dedup map-side) then cohort") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val p = Relational.q31Retention(spark, d)
    val exchanges = physical(p).collect { case e: ShuffleExchangeExec => e }
    val hashes = exchanges.filter(_.outputPartitioning.toString.toLowerCase.contains("hash"))
    assert(hashes.size == 2, "exactly two hash exchanges (user_id; cohort,k): " +
      exchanges.map(_.outputPartitioning).mkString("; "))
    assert(hashes.exists(_.outputPartitioning.toString.contains("user_id")))
    assert(hashes.exists(_.outputPartitioning.toString.contains("cohort")))
    // map-side partial set aggregation must precede the user_id exchange:
    // the (user, month) pairs dedup before anything moves
    assert(plan(p).toLowerCase.contains("partial_collect_set") ||
      plan(p).contains("partial_collect_set") || plan(p).contains("ObjectHashAggregate"),
      plan(p).take(1500))
    assert(exchanges.size <= 3) // + the gate's output range sort only
  }

  test("q32: in-basket pair generation — one orderkey shuffle, one support shuffle, no join") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val p = Relational.q32Copurchase(spark, d)
    val s = plan(p)
    assert(!s.contains("Join"), "pairs must come from the basket array, not a self-join: " +
      s.take(1500))
    val exchanges = physical(p).collect { case e: ShuffleExchangeExec => e }
    val hashes = exchanges.filter(_.outputPartitioning.toString.toLowerCase.contains("hash"))
    assert(hashes.size == 2, "exactly two hash exchanges (l_orderkey; a,b): " +
      exchanges.map(_.outputPartitioning).mkString("; "))
    assert(hashes.exists(_.outputPartitioning.toString.contains("l_orderkey")))
    assert(exchanges.size <= 3)
  }

  test("sim12: both cuts are TakeOrdered — the corpus is never globally sorted or shuffled") {
    import org.apache.spark.sql.execution.SortExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val p = Similarity.sim12TruncatedPrefilter(spark, d)
    val s = plan(p)
    assert(s.split("TakeOrderedAndProject").length - 1 >= 2,
      "prefix cut and rerank must both be per-partition top-k: " + s.take(1500))
    assert(physical(p).collect { case so: SortExec => so }.isEmpty,
      "global sort over the corpus: " + s.take(1500))
    assert(physical(p).collect { case e: ShuffleExchangeExec => e }.isEmpty,
      "sim12 must not shuffle the corpus at all")
  }

  test("txt19: exact phase only counts sketch candidates — broadcast semi-join, no full-vocab shuffle") {
    val p = TextAnalysis.txt19HeavyHitters(spark, d)
    val s = plan(p)
    // the candidate cut must reach the token stream as a BROADCAST semi
    // join (sketch output is <= capacity rows); a shuffled semi join here
    // means the full token stream — and with it the corpus's whole
    // distinct vocabulary — pays an exchange before the cut
    assert(s.contains("BroadcastHashJoin") && s.contains("LeftSemi"),
      s.take(1500))
    assert(!s.contains("SortMergeJoin"), "candidate cut must not sort-merge: " + s.take(1500))
  }

  test("cdcm3: per-batch view-delta enrichment is a broadcast join of the dimension") {
    // the batch twin of cdcm3's stream-side join: same dimension, same key
    // derivation — the stream's micro-batches execute this exact shape
    import org.apache.spark.sql.functions._
    val dim = graft.core.Tables.nation(spark, d).toDF()
      .select(col("n_nationkey"), col("n_name"))
    val changes = spark.read.format("mysql-binlog")
      .option("payloadDdl", CdcBinlog.payloadDdl).load(CdcBinlog.fixtureDir(d))
      .join(broadcast(dim), pmod(col("id"), lit(25)) === col("n_nationkey"))
    val s = plan(changes)
    assert(s.contains("BroadcastHashJoin"), s.take(1500))
    assert(!s.contains("SortMergeJoin"),
      "dimension enrichment must never shuffle the change stream: " + s.take(1500))
  }

  test("dd12: candidate generation is one equi-join on the variant key — no cartesian, no BNL") {
    // detach = false: the gate path checkpoints (cache-release contract),
    // which would leave only the checkpoint scan visible here
    import org.apache.spark.sql.functions.col
    val p = Dedup.fuzzyKeyNeighbors(
      graft.core.Tables.part(spark, d).toDF()
        .select(col("p_partkey"), col("p_name")), detach = false)
    val s = plan(p)
    // the deletion-neighborhood join must plan as a hash/merge equi-join
    // keyed on the variant (the position test and key inequality ride as
    // residual conditions); a BroadcastNestedLoopJoin or cartesian here
    // means the n² compare the neighborhood exists to avoid
    assert(!s.contains("BroadcastNestedLoopJoin"), s.take(1500))
    assert(!s.contains("CartesianProduct"), s.take(1500))
  }

  test("q39: window reuses the span-agg's user hash — no dedicated window exchange") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val p = Relational.q39GapFill(spark, d)
    val phys = physical(p)
    val exchanges = phys.collect { case e: ShuffleExchangeExec => e }
    val hashes = exchanges.filter(_.outputPartitioning.toString.toLowerCase.contains("hash"))
    // exactly two hash exchanges: the (user_id, day) daily rollup (which
    // AQE then broadcasts at gate scale — unhinted, so it degrades to a
    // shuffle join when daily outgrows the threshold at 100 TB) and the
    // user_id span agg; the carry-forward Window consumes the span agg's
    // user_id partitioning directly — a third, window-dedicated exchange
    // means the reuse broke
    assert(hashes.size == 2, "daily (user_id, day) + span (user_id) only: " +
      exchanges.map(_.outputPartitioning).mkString("; "))
    assert(hashes.exists(e => e.outputPartitioning.toString.contains("user_id") &&
      e.outputPartitioning.toString.contains("day")))
    assert(hashes.exists(e => e.outputPartitioning.toString.contains("user_id") &&
      !e.outputPartitioning.toString.contains("day")))
    assert(exchanges.size <= 3) // + the gate's output range sort only
    val windows = phys.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w }
    assert(windows.size == 1, "exactly one carry-forward window")
  }

  test("graph03: wedge stage is one src aggregation, confirm is an equi-join — no self-join blowup") {
    // the gate's returned frame is checkpointed (cache contract), so pin
    // the lazy inner composition (orient → wedges → confirm → counts)
    import org.apache.spark.sql.functions.col
    val e = Relational.pairSupport(Relational.baskets(spark, d))
      .select(col("a"), col("b"))
    val deg = e.select(col("a").as("n")).unionAll(e.select(col("b").as("n")))
      .groupBy(col("n")).agg(org.apache.spark.sql.functions.count(
        org.apache.spark.sql.functions.lit(1)).as("deg"))
    val p = Graph.graph03TriCounts(Graph.graph03Orient(e, deg), deg)
    val s = plan(p)
    assert(!s.contains("CartesianProduct"), s.take(1200))
    assert(!s.contains("BroadcastNestedLoop"), s.take(1200))
    // wedges come from ONE collect_list aggregation keyed by src — a
    // src-keyed o ⋈ o self-join (the d² hub-blowup formulation) would
    // show a second corpus-pair join instead
    assert(s.split("ObjectHashAggregate").length - 1 >= 1 ||
      s.contains("collect_list"), s.take(1200))
  }

  test("q33: AQE promotes both support enrichments to broadcast from measured size") {
    // the gate's returned frame is checkpointed (cache-release contract),
    // so pin the inner lazy plan; collect() finalizes AQE — the promotion
    // must come from measured runtime size, not a data-proportional hint
    import org.apache.spark.sql.functions.{array_sort, collect_set, col}
    val b = graft.core.Tables.lineitem(spark, d)
      .select(col("l_orderkey"), col("l_partkey"))
      .groupBy(col("l_orderkey"))
      .agg(array_sort(collect_set(col("l_partkey"))).as("parts"))
    val p = Relational.q33LiftPlan(b, 42L)
    p.collect()
    val s = plan(p)
    assert(s.split("BroadcastHashJoin").length - 1 >= 2,
      "supp_a and supp_b must both end up broadcast at gate scale: " + s.take(1500))
    assert(!s.contains("CartesianProduct"), s.take(1500))
  }

  test("rank-filter gates get WindowGroupLimit — hot window partitions ship <= k rows per map task") {
    // Spark inserts a per-partition group limit BELOW the window's
    // exchange for rank()/row_number() <= k filters: each map task cuts
    // its slice of every window partition to k rows before anything
    // shuffles, so a hot key costs k·numMapTasks rows, not its full
    // cardinality. This pin keeps future edits from breaking the
    // rewrite's preconditions (e.g. wrapping the rank in an expression
    // the optimizer can't see through).
    for ((n, p) <- Seq(
      "q07" -> Relational.q07WindowRank(spark, d),
      "txt17" -> TextAnalysis.txt17TfidfKeywords(spark, d),
      "mm05" -> Multimodal.mm05PhashNearDup(spark, d))) {
      assert(plan(p).contains("WindowGroupLimit"),
        s"$n lost its WindowGroupLimit: " + plan(p).take(1200))
    }
  }

  test("binlog scan: pushed (db, table, _delta_type) filters appear in the DSv2 scan") {
    val dir = CdcBinlog.fixtureDir(d)
    import org.apache.spark.sql.functions.col
    val df = spark.read.format("mysql-binlog")
      .option("payloadDdl", CdcBinlog.payloadDdl).load(dir)
      .filter(col("db") === "bench" && col("table") === "big" && col("_delta_type") === "insert")
    val scan = physical(df)
      .collect { case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b }
      .map(_.scan.description()).mkString
    assert(scan.contains("db=Some(bench)") && scan.contains("table=Some(big)") &&
      scan.contains("delta=Some(insert)"), scan.take(500))
  }
}
