package graft.operators

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Vector math over `array<float>` embedding columns, built from codegen'd
  * higher-order functions (no UDF, no driver-side collect). Floats are
  * widened to double BEFORE multiplying and the fold is a sequential
  * left-to-right double accumulation — bit-identical to the DuckDB oracle
  * expression in [[duckDot]].
  */
object VectorOps {

  /** Exact sequential dot product of two float-array columns, as double.
    * Resolves to the codegen'd [[graft.functions.FloatDotProduct]]
    * expression (installed in every session by
    * [[graft.functions.GraftExtensions]]). Numerically identical to the
    * HOF form `aggregate(zip_with(a, b, _*_), 0.0, _+_)` it replaced.
    */
  def dot(a: Column, b: Column): Column =
    call_function("graft_dot", a, b)

  /** Cosine similarity (deterministic: dot + sqrt on doubles). */
  def cosine(a: Column, b: Column): Column =
    dot(a, b) / (sqrt(dot(a, a)) * sqrt(dot(b, b)))

  /** Sign-bit LSH bucket from the first `nBits` dimensions: a crude but
    * deterministic random-hyperplane sketch (axis-aligned planes). At scale
    * this is the shuffle key that keeps candidate generation linear.
    *
    * `nBits` is the scale knob: within-bucket pairwise work is ~N²/2^nBits,
    * so the family must GROW with the corpus — callers size it via
    * [[nBitsFor]] (≈ log₂(N/targetBucket)) rather than a fixed constant,
    * which would be quadratic at fixed resolution. Bounded by the vector
    * dimensionality (axis-aligned planes use one leading dim per bit).
    */
  def signBucket(v: Column, nBits: Int): Column =
    (0 until nBits).map { i =>
      // try_element_at + coalesce: a dim beyond the vector length
      // contributes a 0 bit — identical to the SQL rendering's CASE WHEN
      // NULL -> ELSE 0 — instead of an ANSI out-of-bounds error (or, with
      // errors off, a NULL that would poison the bucket and silently empty
      // every bucket-equality join when nBits exceeds the dimensionality)
      coalesce(try_element_at(v, lit(i + 1)) > lit(0f), lit(false)).cast("int") * lit(1 << i)
    }.reduce(_ + _)

  /** Bucket-family size for corpus size `n`: smallest nBits giving an
    * expected bucket of ~`targetBucket` vectors, clamped to [8, 24]
    * (2⁸ = min useful spread; 2²⁴ ≈ 16M buckets ≫ any executor count, and
    * an int bucket id). Expected within-bucket pair work stays
    * ~N·targetBucket/2 — linear in N — instead of N²/2^const.
    */
  def nBitsFor(n: Long, targetBucket: Long = 64L): Int = {
    val raw = math.ceil(
      math.log(math.max(n, 1L).toDouble / targetBucket) / math.log(2.0)).toInt
    math.min(24, math.max(8, raw))
  }

  /** Cell-family size for a SemDeDup-style clustered dedup over `n`
    * vectors: enough cells that the EXPECTED cell holds ~`targetCell`
    * vectors, clamped to [16, 65536]. 16 = the historical gate floor
    * (sf0.01's 500-vector corpus stays on the round-7 geometry); 65536
    * seeds × 32 float dims ≈ 8 MB — still a comfortable broadcast. Within-
    * cell pair work is ~N·targetCell/2 — linear in N — instead of N²/k
    * with k constant. Past the clamp ceiling cells grow linearly again,
    * which is why [[graft.operators.Similarity.dd10SemanticDedup]] ALSO
    * caps per-cell comparisons with representatives: the two guards
    * together bound pair work at N·reps regardless of distribution.
    */
  def cellsFor(n: Long, targetCell: Long = 64L): Int = {
    val raw = math.ceil(math.max(n, 1L).toDouble / targetCell).toLong
    math.min(65536L, math.max(16L, raw)).toInt
  }

  /** Cell count for the embeddings table under `sfDir` — derived from
    * parquet footer counts so the query builder and the oracle SQL
    * renderer land on the SAME k (the [[nBitsForDir]] contract). Clamp
    * floor when the table cannot be inspected.
    */
  def cellsForDir(sfDir: String): Int =
    embeddingsRowCount(sfDir).map(cellsFor(_)).getOrElse(16)

  // Footer counts cached per FILE, keyed by (path, length, mtime): a table
  // regenerated at a different size in the same JVM (test/bench harnesses do
  // this) invalidates naturally instead of yielding a stale bucket family.
  // The directory listing itself is re-done per call — metadata-only, cheap.
  private val countCache = scala.collection.concurrent.TrieMap.empty[(String, Long, Long), Long]

  /** Exact row count from parquet footers (file or directory of parts) —
    * no Spark job, usable identically by the query builders and the oracle
    * SQL renderers so both sides derive the SAME nBits. At production
    * scale this is the table-stats lookup.
    */
  def parquetRowCount(path: String): Long = {
    import org.apache.hadoop.conf.Configuration
    import org.apache.hadoop.fs.Path
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    // resolve through Hadoop FileSystem, not java.io.File — a remote table
    // URI (s3a://, hdfs://) would look like a non-directory locally and
    // produce a silently wrong bucket family
    val conf = new Configuration()
    val p = new Path(path)
    val fs = p.getFileSystem(conf)
    val files =
      if (fs.getFileStatus(p).isDirectory)
        fs.listStatus(p).toSeq
          .filter(st => st.isFile && st.getPath.getName.endsWith(".parquet"))
      else Seq(fs.getFileStatus(p))
    files.map { st =>
      countCache.getOrElseUpdate(
        (st.getPath.toString, st.getLen, st.getModificationTime), {
          val r = ParquetFileReader.open(HadoopInputFile.fromPath(st.getPath, conf))
          try r.getRecordCount finally r.close()
        })
    }.sum
  }

  /** nBits when the backing table cannot be inspected — the clamp floor of
    * [[nBitsFor]] (256 buckets). Only reachable when oracle SQL is rendered
    * outside the gate environment (the sf dir absent); inside the gate both
    * sides always derive nBits from the real footer counts.
    */
  val FallbackNBits: Int = 8

  /** Footer row count of `sfDir`'s embeddings table, None when absent —
    * the ONE existence-probe both family derivations ([[nBitsForDir]],
    * [[cellsForDir]]) share, so the query builders and the oracle SQL
    * renderers can never drift onto different probes.
    */
  private def embeddingsRowCount(sfDir: String): Option[Long] = {
    import org.apache.hadoop.conf.Configuration
    import org.apache.hadoop.fs.Path
    val p = new Path(s"$sfDir/embeddings.parquet")
    val exists =
      try p.getFileSystem(new Configuration()).exists(p)
      catch { case _: java.io.IOException => false }
    if (exists) Some(parquetRowCount(p.toString)) else None
  }

  /** nBits for the embeddings table under `sfDir`; [[FallbackNBits]] when
    * the table is absent so oracle rendering stays total.
    */
  def nBitsForDir(sfDir: String): Int =
    embeddingsRowCount(sfDir).map(nBitsFor(_)).getOrElse(FallbackNBits)

  // ---- DuckDB oracle SQL fragments (kept adjacent so the two stay in sync)

  def duckDot(a: String, b: String): String =
    s"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list_transform(list_zip($a, $b), " +
      s"p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE))), (x, y) -> x + y)"

  def duckCosine(a: String, b: String): String =
    s"(${duckDot(a, b)} / (sqrt(${duckDot(a, a)}) * sqrt(${duckDot(b, b)})))"

  def duckSignBucket(v: String, nBits: Int): String =
    (0 until nBits).map { i =>
      s"(CASE WHEN $v[${i + 1}] > 0 THEN ${1 << i} ELSE 0 END)"
    }.mkString("(", " + ", ")")
}
