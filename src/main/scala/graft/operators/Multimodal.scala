package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Tables._

/** Multimodal (image/audio/video) column handling: media travel as opaque
  * `binary` columns plus typed metadata structs; decode / feature-extract /
  * frame-sample run as distributed per-partition transforms.
  *
  * The container has no image/audio codecs, so the byte-level decode is a
  * clearly-marked deterministic STUB ([[FakeCodec]]); everything Spark-side
  * — schema, batching, partition-parallel execution, metadata extraction —
  * is real and is what carries over to a production codec. The plumbing is
  * `Dataset[MediaRecord].mapPartitions`, the Scala-native equivalent of a
  * `mapInPandas` batch UDF: one codec instance per partition, streamed rows.
  */
object Multimodal {

  /** A media row: opaque payload + envelope metadata. */
  case class MediaRecord(doc_id: Long, media_type: String, payload: Array[Byte])

  /** Extracted features per media item. */
  case class MediaFeatures(doc_id: Long, media_type: String, n_bytes: Long,
                           width: Int, height: Int, n_frames: Int,
                           checksum: Long)

  /** STUB codec: a real implementation would wrap an image/audio library
    * here (one instance per partition, reused across rows). The fake is
    * deterministic so tests and reruns are stable.
    */
  object FakeCodec {
    /** ??? in spirit — stands in for e.g. an ImageIO/ffmpeg decode. */
    def decodeDims(payload: Array[Byte]): (Int, Int) = {
      val n = payload.length
      (n % 640 + 1, n % 480 + 1)
    }
    def frameCount(payload: Array[Byte], mediaType: String): Int =
      if (mediaType == "video") payload.length % 30 + 1 else 1
    def checksum(payload: Array[Byte]): Long =
      payload.foldLeft(1469598103934665603L)((h, b) => (h ^ (b & 0xffL)) * 1099511628211L)
  }

  /** Synthesize a deterministic media table from documents (utf-8 bytes as
    * the opaque payload) — the binary-column plumbing under test.
    */
  def mediaTable(s: SparkSession, d: String): Dataset[MediaRecord] = {
    import s.implicits._
    documents(s, d).select(
      $"doc_id",
      element_at(array(lit("image"), lit("audio"), lit("video")),
        ($"doc_id" % 3 + 1).cast("int")).as("media_type"),
      encode($"text", "UTF-8").as("payload"))
      .as[MediaRecord]
  }

  /** Distributed feature extraction: partition-parallel, codec per
    * partition, no shuffle. This is the operator shape that scales — at
    * 100 TB each partition streams its blobs through the codec once.
    */
  def extractFeatures(media: Dataset[MediaRecord]): Dataset[MediaFeatures] = {
    import media.sparkSession.implicits._
    media.mapPartitions { it =>
      // (real codec would be instantiated here, once per partition)
      it.map { r =>
        val (w, h) = FakeCodec.decodeDims(r.payload)
        MediaFeatures(r.doc_id, r.media_type, r.payload.length.toLong, w, h,
          FakeCodec.frameCount(r.payload, r.media_type),
          FakeCodec.checksum(r.payload))
      }
    }
  }

  /** A sampled frame: one row per kept frame (one-to-many media op). */
  case class Frame(doc_id: Long, frame_idx: Int, frame_bytes: Array[Byte])

  /** Frame sampling: keep every `step`-th frame of each video. The frame
    * "decode" is the stub codec (deterministic byte slices); the Spark
    * shape — a typed flatMap producing multiple rows per blob, partition-
    * parallel, no shuffle — is the real thing.
    */
  def sampleFrames(media: Dataset[MediaRecord], step: Int): Dataset[Frame] = {
    import media.sparkSession.implicits._
    media.filter(_.media_type == "video").flatMap { r =>
      val n = FakeCodec.frameCount(r.payload, r.media_type)
      (0 until n by step).map { i =>
        // stub frame extraction: a deterministic slice per frame index
        val start = (i * 7) % math.max(r.payload.length, 1)
        val len = math.min(16, r.payload.length - start)
        Frame(r.doc_id, i, java.util.Arrays.copyOfRange(r.payload, start, start + len))
      }
    }
  }

  // mm03 — frame sampling stats: sampled-frame counts per video doc
  // (sampled = ceil(n_frames / step)); byte accounting over the kept
  // frames. Stub semantics mirrored exactly in SQL.
  def mm03FrameSample(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    sampleFrames(mediaTable(s, d), step = 4)
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_sampled"),
        sum(length($"frame_bytes").cast("long")).as("sampled_bytes"))
      .orderBy($"doc_id")
  }

  val mm03Sql: String =
    """WITH v AS (
      |  SELECT doc_id, octet_length(encode(text)) AS n_bytes,
      |    octet_length(encode(text)) % 30 + 1 AS n_frames
      |  FROM documents WHERE doc_id % 3 + 1 = 3),
      |frames AS (
      |  SELECT doc_id, n_bytes, unnest(range(0, n_frames, 4)) AS frame_idx FROM v)
      |SELECT doc_id, COUNT(*) AS n_sampled,
      |  CAST(SUM(LEAST(16, n_bytes - ((frame_idx * 7) % GREATEST(n_bytes, 1)))) AS BIGINT) AS sampled_bytes
      |FROM frames
      |GROUP BY doc_id
      |ORDER BY doc_id""".stripMargin

  // mm01 — metadata extraction over binary media columns; the byte-length /
  // type plumbing is SQL-expressible so the oracle checks the envelope even
  // though dims come from the stub codec (dims = pure function of length,
  // mirrored in SQL below).
  def mm01MediaMeta(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    extractFeatures(mediaTable(s, d))
      .select($"doc_id", $"media_type", $"n_bytes", $"width", $"height", $"n_frames")
      .orderBy($"doc_id")
  }

  val mm01Sql: String =
    """SELECT doc_id,
      |  ['image','audio','video'][CAST(doc_id % 3 + 1 AS INT)] AS media_type,
      |  CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
      |  CAST(octet_length(encode(text)) % 640 + 1 AS INT) AS width,
      |  CAST(octet_length(encode(text)) % 480 + 1 AS INT) AS height,
      |  CAST(CASE WHEN doc_id % 3 + 1 = 3 THEN octet_length(encode(text)) % 30 + 1 ELSE 1 END AS INT) AS n_frames
      |FROM documents
      |ORDER BY doc_id""".stripMargin

  // mm02 — modality-level stats over the media table (group on the typed
  // metadata, not the blob — blobs never shuffle).
  def mm02MediaStats(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    extractFeatures(mediaTable(s, d))
      .groupBy($"media_type")
      .agg(count(lit(1)).as("n_items"), sum($"n_bytes").as("total_bytes"),
        sum($"n_frames".cast("long")).as("total_frames"))
      .orderBy($"media_type")
  }

  val mm02Sql: String =
    """SELECT ['image','audio','video'][CAST(doc_id % 3 + 1 AS INT)] AS media_type,
      |  COUNT(*) AS n_items,
      |  CAST(SUM(octet_length(encode(text))) AS BIGINT) AS total_bytes,
      |  CAST(SUM(CASE WHEN doc_id % 3 + 1 = 3 THEN octet_length(encode(text)) % 30 + 1 ELSE 1 END) AS BIGINT) AS total_frames
      |FROM documents
      |GROUP BY 1
      |ORDER BY media_type""".stripMargin

  // mm04 — exact media dedup on the content hash: md5 computed in the scan
  // projection, so only slim (media_type, md5) rows reach the shuffle — the
  // blobs themselves never move. Duplicate groups keep the smallest doc_id
  // (the canonical copy a pipeline would retain).
  def mm04MediaDedup(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    mediaTable(s, d).toDF()
      .groupBy($"media_type", md5($"payload").as("content_md5"))
      .agg(min($"doc_id").as("keeper_doc_id"), count(lit(1)).as("n_copies"))
      .orderBy($"media_type", $"keeper_doc_id")
  }

  // payload = the text's UTF-8 bytes, and DuckDB's md5(VARCHAR) hashes the
  // string's UTF-8 bytes — identical digests by construction
  val mm04Sql: String =
    """SELECT ['image','audio','video'][CAST(doc_id % 3 + 1 AS INT)] AS media_type,
      |  md5(text) AS content_md5,
      |  MIN(doc_id) AS keeper_doc_id, COUNT(*) AS n_copies
      |FROM documents
      |GROUP BY 1, 2
      |ORDER BY media_type, keeper_doc_id""".stripMargin

  // mm05 — banded perceptual-hash nearest-neighbors: "each media item's 3
  // most visually similar peers". The 32-bit phash is the SimHash of the
  // decoded content (the stub codec's stand-in for dHash —
  // locality-sensitive, so near-identical media land a few bits apart;
  // computed by the same codegen'd graft_simhash the dd03 oracle already
  // pins). It splits into 4 8-bit bands; a shared band within a modality
  // proposes a candidate (pigeonhole: hamming <= 3 bits guarantees >= 1
  // identical band), exact bit-hamming <= 3 confirms, and a per-item
  // row_number keeps the top 3.
  //
  // Scale guards, BOTH load-bearing on a self-similar corpus: (1) the
  // peer side of the band join is capped to the 8 smallest doc_ids per
  // band bucket ("representatives" — standard ANN candidate bounding), so
  // an identical-signature cluster of size k proposes k·8 candidates, not
  // k²; the cap aligns with the (hamming, peer) tiebreak, so dense
  // clusters still fill their top 3. (2) per-item top-3 output stays
  // LINEAR in corpus size where raw pair output is quadratic (the dd03
  // lesson transplanted to hamming space). Only slim (type, band) rows
  // shuffle; bounded candidates — never all pairs — pay the verify.
  /** mm05's confirmed near-dup pair stream — banded candidate generation
    * + exact bit-hamming <= 3 verify, BEFORE any per-item cut: the shared
    * edge stage for mm05's top-3 ranking and mm09's cluster fold (one
    * definition, so the two gates can never disagree on what "near-dup"
    * means). Columns: (media_type, item, peer, hamming).
    */
  private[operators] def phashPairs(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    // phash travels twice: as the bit STRING (band extraction — the LSH
    // key) and as the 32-bit INTEGER (verify — one xor + popcount per
    // candidate instead of 32 substring compares; computed once per doc,
    // never per pair)
    val ph = mediaTable(s, d).toDF()
      .select($"doc_id", $"media_type",
        call_function("graft_simhash",
          split(decode($"payload", "UTF-8"), " ")).as("phash"))
      .withColumn("phi", conv($"phash", 2, 10).cast("long"))
    val bands = ph.select($"doc_id", $"media_type", $"phi",
      explode(array((0 until 4).map(k =>
        struct(lit(k).as("band_id"), substring($"phash", k * 8 + 1, 8).as("band"))): _*)).as("b"))
      .select($"doc_id", $"media_type", $"phi", $"b.band_id", $"b.band")
    val wb = org.apache.spark.sql.expressions.Window
      .partitionBy($"media_type", $"band_id", $"band").orderBy($"doc_id")
    val reps = bands.withColumn("_r", row_number().over(wb))
      .filter($"_r" <= 8).drop("_r")
    val cand = bands.as("a").join(reps.as("b"),
        $"a.media_type" === $"b.media_type" && $"a.band_id" === $"b.band_id" &&
          $"a.band" === $"b.band" && $"a.doc_id" =!= $"b.doc_id")
      .select($"a.media_type".as("media_type"), $"a.doc_id".as("item"),
        $"b.doc_id".as("peer"), $"a.phi".as("ph_a"), $"b.phi".as("ph_b"))
      .distinct()
    val hamming = bit_count($"ph_a".bitwiseXOR($"ph_b"))
    cand.select($"media_type", $"item", $"peer", hamming.as("hamming"))
      .filter($"hamming" <= 3)
  }

  def mm05PhashNearDup(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"item").orderBy($"hamming", $"peer")
    phashPairs(s, d)
      .withColumn("rnk", row_number().over(w))
      .filter($"rnk" <= 3)
      .orderBy($"item", $"rnk")
  }

  /** The CTE chain computing [[phashPairs]]'s confirmed pair stream in
    * DuckDB (ends at `scored` = (media_type, item, peer, hamming <= 3)) —
    * shared by the mm05 and mm09 oracles exactly as the Spark stage is.
    */
  private def phashPairsSqlCtes: String = {
    // per-doc 32-bit simhash — identical formulation to the dd03 oracle
    val bitSums = (1 to 32).map { j =>
      s"SUM(CASE WHEN substring(h, $j, 1) IN ('8','9','a','b','c','d','e','f') THEN 1 ELSE -1 END) AS b$j"
    }.mkString(", ")
    val sigConcat = (1 to 32).map(j => s"CASE WHEN b$j > 0 THEN '1' ELSE '0' END").mkString(" || ")
    // same popcount-of-xor the Spark side computes (int phash)
    val ham = "bit_count(xor(CAST(ph_a AS BIT), CAST(ph_b AS BIT)))"
    s"""tok AS (
       |  SELECT doc_id, md5(unnest(list_distinct(string_split(text, ' ')))) AS h FROM documents),
       |bitsum AS (SELECT doc_id, $bitSums FROM tok GROUP BY doc_id),
       |ph AS (
       |  SELECT s.doc_id,
       |    ['image','audio','video'][CAST(s.doc_id % 3 + 1 AS INT)] AS media_type,
       |    $sigConcat AS phash
       |  FROM bitsum s),
       |bands AS (
       |  SELECT doc_id, media_type, phash, k AS band_id,
       |    substring(phash, k * 8 + 1, 8) AS band
       |  FROM ph, (SELECT unnest([0, 1, 2, 3]) AS k)),
       |reps AS (
       |  SELECT * FROM (
       |    SELECT doc_id, media_type, phash, band_id, band,
       |      row_number() OVER (PARTITION BY media_type, band_id, band
       |                         ORDER BY doc_id) AS _r
       |    FROM bands) WHERE _r <= 8),
       |cand AS (
       |  SELECT DISTINCT a.media_type, a.doc_id AS item, b.doc_id AS peer,
       |    a.phash AS ph_a, b.phash AS ph_b
       |  FROM bands a JOIN reps b ON a.media_type = b.media_type
       |    AND a.band_id = b.band_id AND a.band = b.band AND a.doc_id <> b.doc_id),
       |scored AS (
       |  SELECT media_type, item, peer, CAST($ham AS INT) AS hamming
       |  FROM cand WHERE $ham <= 3)""".stripMargin
  }

  val mm05Sql: String =
    s"""WITH $phashPairsSqlCtes,
       |ranked AS (
       |  SELECT media_type, item, peer, hamming,
       |    row_number() OVER (PARTITION BY item ORDER BY hamming, peer) AS rnk
       |  FROM scored)
       |SELECT media_type, item, peer, hamming, CAST(rnk AS INT) AS rnk
       |FROM ranked WHERE rnk <= 3
       |ORDER BY item, rnk""".stripMargin

  // mm09 — duplicate-cluster CANONICAL selection: the curation decision
  // mm05's pair list only implies. The verified pair graph folds into
  // connected components (Dedup.connectedComponents — alternating large-
  // star/small-star label propagation, O(log diameter) rounds over slim
  // (id, comp) rows; the transitive closure is never materialized), and
  // each cluster keeps the copy a pipeline would retain: the LARGEST
  // payload (highest-fidelity copy), smallest doc_id on ties. The
  // canonical pick is an argmax folded INSIDE the cluster aggregate
  // (max of a (n_bytes, -doc_id) struct — map-side partial, no window),
  // and the blobs never move: the fold runs on slim (id, comp, n_bytes)
  // rows, payload length having been projected in the scan stage. The
  // oracle recomputes the same components by recursive transitive
  // closure, exact at gate scale (dd09's pattern).
  def mm09MediaCanonical(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val pairs = phashPairs(s, d)
      .select($"item".as("doc_a"), $"peer".as("doc_b"))
    val bytes = mediaTable(s, d).toDF()
      .select($"doc_id", $"media_type", length($"payload").cast("long").as("n_bytes"))
    Dedup.connectedComponents(pairs)
      .join(bytes, $"id" === bytes("doc_id"))
      .groupBy($"comp".as("cluster_id"))
      .agg(min($"media_type").as("media_type"),
        count(lit(1)).as("n_members"),
        max(struct($"n_bytes".as("nb"), (-$"doc_id").as("nid"))).as("c"))
      .select($"cluster_id", $"media_type", $"n_members",
        (-$"c.nid").as("canonical_id"), $"c.nb".as("canonical_bytes"))
      .orderBy($"cluster_id")
  }

  val mm09Sql: String =
    s"""WITH RECURSIVE $phashPairsSqlCtes,
       |edges AS (SELECT item AS a, peer AS b FROM scored
       |          UNION SELECT peer, item FROM scored),
       |reach(a, b) AS (
       |  SELECT a, b FROM edges
       |  UNION
       |  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
       |nodes AS (SELECT DISTINCT a AS id FROM edges),
       |comp AS (
       |  SELECT n.id, LEAST(n.id, MIN(r.b)) AS comp
       |  FROM nodes n JOIN reach r ON r.a = n.id
       |  GROUP BY n.id),
       |m AS (
       |  SELECT c.comp, c.id,
       |    ['image','audio','video'][CAST(c.id % 3 + 1 AS INT)] AS media_type,
       |    CAST(octet_length(encode(dd.text)) AS BIGINT) AS n_bytes
       |  FROM comp c JOIN documents dd ON dd.doc_id = c.id),
       |sel AS (
       |  SELECT comp, id, media_type, n_bytes,
       |    row_number() OVER (PARTITION BY comp ORDER BY n_bytes DESC, id) AS r
       |  FROM m)
       |SELECT comp AS cluster_id, MIN(media_type) AS media_type,
       |  COUNT(*) AS n_members,
       |  MAX(CASE WHEN r = 1 THEN id END) AS canonical_id,
       |  MAX(CASE WHEN r = 1 THEN n_bytes END) AS canonical_bytes
       |FROM sel
       |GROUP BY comp
       |ORDER BY cluster_id""".stripMargin

  // mm06 — paired-sample manifest assembly: the join that builds a
  // (caption, media, embedding) training set from three modalities. The
  // media side is projected to (doc_id, media_type, n_bytes) BEFORE the
  // join — blobs never enter a shuffle; a production run joins manifests
  // and fetches payloads partition-locally at write time. Caption side is
  // quality-gated (>= 30 tokens); embedding side simulates encoder
  // failures (label 0) with a left join so coverage is measurable. All
  // three joins are slim id-equi joins — co-partitionable / bucketable on
  // doc_id at 100 TB.
  def mm06PairManifest(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val media = mediaTable(s, d)
      .select($"doc_id", $"media_type", length($"payload").cast("long").as("n_bytes"))
    val caps = documents(s, d)
      .filter(size(split($"text", " ")) >= 30)
      .select($"doc_id", $"lang", size(split($"text", " ")).as("n_cap_tokens"))
    val emb = embeddings(s, d).filter($"label" =!= 0)
      .select($"vec_id".as("doc_id"), lit(1L).as("has_emb"))
    media.join(caps, "doc_id")
      .join(emb, Seq("doc_id"), "left")
      .groupBy($"media_type", $"lang")
      .agg(
        count(lit(1)).as("n_pairs"),
        sum(coalesce($"has_emb", lit(0L))).as("n_with_embedding"),
        sum($"n_bytes").as("total_payload_bytes"),
        avg($"n_cap_tokens".cast("double")).as("avg_caption_tokens"))
      .orderBy($"media_type", $"lang")
  }

  val mm06Sql: String =
    """WITH m AS (
      |  SELECT doc_id, ['image','audio','video'][CAST(doc_id % 3 + 1 AS INT)] AS media_type,
      |    CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes
      |  FROM documents),
      |caps AS (
      |  SELECT doc_id, lang, len(string_split(text, ' ')) AS n_cap_tokens
      |  FROM documents WHERE len(string_split(text, ' ')) >= 30),
      |e AS (
      |  SELECT vec_id AS doc_id, 1 AS has_emb FROM embeddings WHERE label <> 0)
      |SELECT m.media_type, c.lang, COUNT(*) AS n_pairs,
      |  CAST(SUM(COALESCE(e.has_emb, 0)) AS BIGINT) AS n_with_embedding,
      |  CAST(SUM(m.n_bytes) AS BIGINT) AS total_payload_bytes,
      |  AVG(CAST(c.n_cap_tokens AS DOUBLE)) AS avg_caption_tokens
      |FROM m JOIN caps c USING (doc_id) LEFT JOIN e USING (doc_id)
      |GROUP BY m.media_type, c.lang
      |ORDER BY m.media_type, c.lang""".stripMargin

  // mm07 — WebDataset-style shard manifest: place every media record into
  // a fixed-capacity shard and compute its byte offset inside that shard —
  // the (shard, offset, length) index a training dataloader seeks by. The
  // stream is bucketed FIRST (doc_id % nBuckets within modality): each
  // bucket packs its own independent shard sequence, so the inherently
  // sequential running-sum never serializes more than one bucket —
  // nBuckets grows with the corpus (same parallelism contract as txt11's
  // pack_bucket) and both windows (running start + shard-relative
  // rebase) share ONE (media_type, bucket) shuffle. Records are placed
  // whole (never split): shards are cut where the bucket's running byte
  // stream crosses a capacity boundary, and the straddling record stays
  // in its shard — so a shard overflows by at most one record's tail.
  // Blobs never shuffle: the manifest is built from (id, type, n_bytes)
  // and payloads stream into shards partition-locally at write time.
  def mm07ShardManifest(s: SparkSession, d: String,
                        capBytes: Long = 4096L, nBuckets: Int = 4): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val recs = mediaTable(s, d).select($"doc_id", $"media_type",
      length($"payload").cast("long").as("n_bytes"),
      ($"doc_id" % nBuckets).cast("int").as("bucket"))
    val seq = Window.partitionBy($"media_type", $"bucket").orderBy($"doc_id")
    val run = recs.withColumn("start",
      coalesce(sum($"n_bytes").over(seq.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .withColumn("shard_idx", floor($"start" / capBytes))
    val shard = Window.partitionBy($"media_type", $"bucket", $"shard_idx")
    run.withColumn("byte_offset", $"start" - min($"start").over(shard))
      .select($"media_type",
        format_string("%s-%d-%05d", $"media_type", $"bucket", $"shard_idx").as("shard"),
        $"doc_id", $"byte_offset", $"n_bytes")
      .orderBy($"media_type", $"shard", $"byte_offset")
  }

  val mm07Sql: String =
    """WITH m AS (
      |  SELECT doc_id, ['image','audio','video'][CAST(doc_id % 3 + 1 AS INT)] AS media_type,
      |    CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
      |    CAST(doc_id % 4 AS INTEGER) AS bucket
      |  FROM documents),
      |run AS (
      |  SELECT *, CAST(COALESCE(SUM(n_bytes) OVER (PARTITION BY media_type, bucket
      |      ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS start
      |  FROM m),
      |sh AS (SELECT *, CAST(floor(start / 4096) AS BIGINT) AS shard_idx FROM run)
      |SELECT media_type,
      |  printf('%s-%d-%05d', media_type, bucket, shard_idx) AS shard,
      |  doc_id,
      |  start - MIN(start) OVER (PARTITION BY media_type, bucket, shard_idx) AS byte_offset,
      |  n_bytes
      |FROM sh
      |ORDER BY media_type, shard, byte_offset""".stripMargin

  // mm08 — media quality gate (txt14's accept/reject stage for the
  // multimodal side): every item is tested against a fixed rule set over
  // the EXTRACTED metadata (byte size, decoded dims, frame count) — never
  // the payload — and leaves with a keep/drop verdict plus the
  // comma-joined failed rules. The shape that matters at 100 TB: the gate
  // runs on the slim feature rows the partition-parallel codec pass
  // already produced, so blobs are read once and never shuffled, and the
  // verdict column is what the downstream curation join filters on.
  // Aspect-ratio compares are single IEEE divisions — cross-engine exact.
  def mm08MediaGate(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val ar = $"width".cast("double") / $"height".cast("double")
    val rules = Seq(
      ($"n_bytes" < 64, "tiny"),
      ($"media_type" =!= "audio" && (ar > 4.0 || ar < 0.25), "extreme_aspect"),
      ($"media_type" === "video" && $"n_frames" < 8, "short_video"),
      ($"n_bytes" > 100000, "oversize"))
    extractFeatures(mediaTable(s, d)).toDF()
      .select(
        $"doc_id", $"media_type",
        when(rules.map(_._1).reduce(_ || _), lit("drop")).otherwise(lit("keep"))
          .as("verdict"),
        concat_ws(",", rules.map { case (c, n) => when(c, lit(n)) }: _*)
          .as("reject_reasons"))
      .orderBy($"doc_id")
  }

  val mm08Sql: String =
    """WITH f AS (
      |  SELECT doc_id,
      |    ['image','audio','video'][CAST(doc_id % 3 + 1 AS INT)] AS media_type,
      |    CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
      |    CAST(octet_length(encode(text)) % 640 + 1 AS INT) AS width,
      |    CAST(octet_length(encode(text)) % 480 + 1 AS INT) AS height,
      |    CAST(CASE WHEN doc_id % 3 + 1 = 3 THEN octet_length(encode(text)) % 30 + 1 ELSE 1 END AS INT) AS n_frames
      |  FROM documents),
      |r AS (
      |  SELECT doc_id, media_type,
      |    n_bytes < 64 AS r_tiny,
      |    media_type <> 'audio' AND (CAST(width AS DOUBLE) / CAST(height AS DOUBLE) > 4.0
      |      OR CAST(width AS DOUBLE) / CAST(height AS DOUBLE) < 0.25) AS r_aspect,
      |    media_type = 'video' AND n_frames < 8 AS r_short,
      |    n_bytes > 100000 AS r_oversize
      |  FROM f)
      |SELECT doc_id, media_type,
      |  CASE WHEN r_tiny OR r_aspect OR r_short OR r_oversize
      |       THEN 'drop' ELSE 'keep' END AS verdict,
      |  concat_ws(',',
      |    CASE WHEN r_tiny THEN 'tiny' END,
      |    CASE WHEN r_aspect THEN 'extreme_aspect' END,
      |    CASE WHEN r_short THEN 'short_video' END,
      |    CASE WHEN r_oversize THEN 'oversize' END) AS reject_reasons
      |FROM r
      |ORDER BY doc_id""".stripMargin

  /** One media item's stub feature embedding. */
  case class MediaEmbedding(doc_id: Long, media_type: String,
                            emb: Array[Long])

  // mm10 — media → embedding → similarity search, end-to-end: the
  // multimodal retrieval capstone connecting the mm plumbing to the sim
  // search surface. Feature extraction runs partition-parallel over the
  // opaque payloads (one "model" instance per partition via
  // mapPartitions — the Scala-native mapInPandas batch shape; the stub
  // extractor stands in for a CLIP-style encoder and is DETERMINISTIC:
  // component i = md5(payload ‖ ':' ‖ i) first-4-bytes mod 2001, shifted
  // to [-1000, 1000] — so DuckDB replays it bit-for-bit from the text
  // the payload encodes). Search is the exact integer-dot top-10 against
  // the probe item's embedding: one broadcast row, a narrow map over the
  // corpus, TakeOrdered cut — no shuffle anywhere (blobs included); at
  // 100 TB the extraction pass persists its embeddings next to the media
  // and the search side composes with the IVF/PQ indexes (sim05/sim07)
  // unchanged.
  /** Partition-parallel stub encoder (one "model" per partition — the
    * batch-UDF shape). mapPartitions is OPAQUE to Catalyst, so callers
    * must filter BEFORE encoding: a doc_id predicate above this call
    * cannot push below it, and the probe side would otherwise re-encode
    * the whole corpus to extract one row (measured: 4 full encode passes
    * in mm10's first plan).
    */
  private def encodeMedia(media: Dataset[MediaRecord],
                          dim: Int): Dataset[MediaEmbedding] = {
    import media.sparkSession.implicits._
    media.mapPartitions { it =>
      val md = java.security.MessageDigest.getInstance("MD5") // per partition
      it.map { r =>
        val text = new String(r.payload, java.nio.charset.StandardCharsets.UTF_8)
        val e = Array.tabulate(dim) { i0 =>
          val i = i0 + 1
          val h = md.digest(s"$text:$i".getBytes(
            java.nio.charset.StandardCharsets.UTF_8))
          val u = ((h(0) & 0xffL) << 24) | ((h(1) & 0xffL) << 16) |
            ((h(2) & 0xffL) << 8) | (h(3) & 0xffL)
          u % 2001L - 1000L
        }
        MediaEmbedding(r.doc_id, r.media_type, e)
      }
    }
  }

  def mm10MediaEmbedSearch(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val dim = 8
    // probe and corpus are SEPARATE pipelines, each filtered before the
    // opaque encoder: the doc_id predicates push into the parquet scans,
    // so the probe side encodes one row and the corpus encodes once
    val q = encodeMedia(mediaTable(s, d).filter($"doc_id" === 0), dim)
      .toDF().select($"emb".as("qe"))
    encodeMedia(mediaTable(s, d).filter($"doc_id" =!= 0), dim).toDF()
      .crossJoin(broadcast(q))
      // codegen'd long dot — bit-identical to the interpreted HOF fold
      .select($"doc_id", $"media_type",
        call_function("graft_dot", $"emb", $"qe").as("dot"))
      .orderBy($"dot".desc, $"doc_id")
      .limit(10)
  }

  val mm10Sql: String =
    """WITH e AS (
      |  SELECT doc_id,
      |    CASE doc_id % 3 + 1 WHEN 1 THEN 'image' WHEN 2 THEN 'audio'
      |      ELSE 'video' END AS media_type,
      |    list_transform(generate_series(1, 8), i ->
      |      (('0x' || substr(md5(text || ':' || CAST(i AS VARCHAR)), 1, 8))::BIGINT
      |        % 2001) - 1000) AS emb
      |  FROM documents),
      |q AS (SELECT emb AS qe FROM e WHERE doc_id = 0)
      |SELECT e.doc_id, e.media_type,
      |  CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
      |    list_transform(list_zip(e.emb, q.qe), p -> p[1] * p[2])),
      |    (x, y) -> x + y) AS BIGINT) AS dot
      |FROM e, q
      |WHERE e.doc_id <> 0
      |ORDER BY dot DESC, doc_id
      |LIMIT 10""".stripMargin

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "mm10_media_embed_search" -> mm10MediaEmbedSearch _,
    "mm08_media_gate" -> mm08MediaGate _,
    "mm07_shard_manifest" -> ((s: SparkSession, d: String) => mm07ShardManifest(s, d)),
    "mm06_pair_manifest" -> mm06PairManifest _,
    "mm01_media_meta" -> mm01MediaMeta _,
    "mm02_media_stats" -> mm02MediaStats _,
    "mm03_frame_sample" -> mm03FrameSample _,
    "mm04_media_dedup" -> mm04MediaDedup _,
    "mm05_phash_neardup" -> mm05PhashNearDup _,
    "mm09_media_canonical" -> mm09MediaCanonical _)

  def oracles: Map[String, String] = Map(
    "mm10_media_embed_search" -> mm10Sql,
    "mm08_media_gate" -> mm08Sql,
    "mm07_shard_manifest" -> mm07Sql,
    "mm06_pair_manifest" -> mm06Sql,
    "mm01_media_meta" -> mm01Sql,
    "mm02_media_stats" -> mm02Sql,
    "mm03_frame_sample" -> mm03Sql,
    "mm04_media_dedup" -> mm04Sql,
    "mm05_phash_neardup" -> mm05Sql,
    "mm09_media_canonical" -> mm09Sql)
}
