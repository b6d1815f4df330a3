package graft.operators

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.lit

import graft.core.Tables._

/** Cached on-disk index builds backing the `*_via_index` gate queries.
  *
  * The index-probe operators ([[Dedup.dd06ViaIndex]],
  * [[Similarity.sim03ViaIndex]], [[Similarity.sim05ViaIndex]]) are the
  * production shape — build on corpus drift, probe per query — and were
  * previously only spec-pinned equal to their inline twins. Registering
  * them as gate queries needs a deterministic index location per sf dir
  * plus build-once semantics, which this provides with the same
  * cross-JVM-safe staging + atomic-move + `_COMPLETE`-marker protocol as
  * the binlog fixture cache (parallel test/bench/verify JVMs share /tmp;
  * the loser of a race discards its copy). A tree is named
  * `graft-index-<key>-<fixture>-<sf>`; the key changes with the tree's
  * layout, and building a tree deletes the same fixture's trees under
  * other keys.
  */
object PersistedIndexes {

  private def sfKey(sfDir: String): String = new java.io.File(sfDir).getName

  private val TreeName = "graft-index-([^-]+)-(.+)".r

  private[operators] def cached(dirName: String)(build: String => Unit): String = synchronized {
    val dir = Paths.get(sys.props("java.io.tmpdir"), dirName)
    val marker = dir.resolve("_COMPLETE")
    if (!Files.exists(marker)) {
      dirName match {
        case TreeName(key, fixture) =>
          scala.util.Using.resource(Files.list(dir.getParent)) { st =>
            st.forEach(p => p.getFileName.toString match {
              case TreeName(other, `fixture`) if other != key => deleteRecursively(p)
              case _ => ()
            })
          }
        case _ => ()
      }
      val staging = dir.resolveSibling(
        s"${dir.getFileName}.tmp-${ProcessHandle.current().pid()}")
      deleteRecursively(staging)
      Files.createDirectories(staging)
      build(staging.toString)
      Files.writeString(staging.resolve("_COMPLETE"), "ok")
      try Files.move(staging, dir, java.nio.file.StandardCopyOption.ATOMIC_MOVE)
      catch {
        case _: Exception =>
          val deadline = System.nanoTime() + 300L * 1000000000L
          while (!Files.exists(marker) && System.nanoTime() < deadline) Thread.sleep(100)
          deleteRecursively(staging)
          if (!Files.exists(marker))
            throw new IllegalStateException(s"index at $dir incomplete after wait")
      }
    }
    dir.toString
  }

  private def deleteRecursively(p: java.nio.file.Path): Unit =
    if (Files.exists(p)) {
      // Files.walk documents the stream must be closed (it holds a
      // directory handle); sorted() materializes first, so deletion while
      // iterating is safe — the close is about the handle, not ordering
      scala.util.Using.resource(Files.walk(p)) { st =>
        st.sorted(java.util.Comparator.reverseOrder())
          .forEach(f => Files.deleteIfExists(f))
      }
    }

  /** dd06's persisted LSH/fingerprint index over the corpus 80% split. */
  def dedupIndex(s: SparkSession, sfDir: String): String =
    cached(s"graft-index-r6-dd06-${sfKey(sfDir)}") { dir =>
      import s.implicits._
      Dedup.buildDedupIndex(documents(s, sfDir).filter($"doc_id" % 10 < 8), dir)
    }

  /** sim03's persisted per-label centroid table. */
  def ivfIndex(s: SparkSession, sfDir: String): String =
    cached(s"graft-index-r6-sim03-${sfKey(sfDir)}") { dir =>
      Similarity.buildIvfIndex(embeddings(s, sfDir), dir)
    }

  /** sim05's persisted cell-partitioned inverted file + centroids. */
  def annIndex(s: SparkSession, sfDir: String): String =
    cached(s"graft-index-r6b-sim05-${sfKey(sfDir)}") { dir =>
      Similarity.buildAnnIndex(embeddings(s, sfDir), dir)
    }

  /** sim07's persisted PQ codebook + M-bytes-per-vector code table. */
  def pqIndex(s: SparkSession, sfDir: String): String =
    cached(s"graft-index-r7-sim07-${sfKey(sfDir)}") { dir =>
      Similarity.buildPqIndex(embeddings(s, sfDir), dir)
    }

  /** sim08's persisted IVF-PQ composition: cell-partitioned PQ codes +
    * centroids + codebook.
    */
  def ivfPqIndex(s: SparkSession, sfDir: String): String =
    cached(s"graft-index-r8b-sim08-${sfKey(sfDir)}") { dir =>
      Similarity.buildIvfPqIndex(embeddings(s, sfDir), dir)
    }

  /** sim09b's persisted inverted keyword index: term-bucketed postings
    * (dl denormalized), per-term df, corpus stats.
    */
  def textIndex(s: SparkSession, sfDir: String): String =
    cached(s"graft-index-r11b-text-${sfKey(sfDir)}") { dir =>
      TextAnalysis.buildTextIndex(documents(s, sfDir), dir)
    }

  /** txt18's maintenance-lifecycle index: the CDC text index fed the
    * corpus as three insert-only batches (70%, 20%, 10% — segments
    * `b000000`–`b000002`, `ver` the batch ordinal), then compacted back
    * to one base segment — the steady-state shape of an index that has
    * lived through ingest. Covers the same full corpus as [[textIndex]]
    * by construction, so the probe oracle is the one-shot build's.
    */
  def textIndexLifecycle(s: SparkSession, sfDir: String): String =
    cached(s"graft-index-r11f-textlc-${sfKey(sfDir)}") { dir =>
      import s.implicits._
      val docs = documents(s, sfDir)
      val slices = Seq($"doc_id" % 10 < 7,
        $"doc_id" % 10 === 7 || $"doc_id" % 10 === 8, $"doc_id" % 10 === 9)
      slices.zipWithIndex.foreach { case (slice, b) =>
        TextAnalysis.appendCdcTextSegment(
          docs.filter(slice).select($"doc_id", $"text",
            lit(b.toLong).as("ver"), lit(false).as("deleted")),
          dir, Layout.segmentOf(b.toLong))
      }
      TextAnalysis.compactCdcTextIndex(s, dir)
    }
}
