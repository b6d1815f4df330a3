package graft.operators

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.lit

import graft.core.Tables._

/** Cached on-disk index builds backing the index-probing gate queries:
  * dd06b's dedup index ([[dedupIndex]]), sim03b's centroids
  * ([[ivfIndex]]), sim05b's and sim11b's ANN index ([[annIndex]]),
  * sim07b's PQ codes ([[pqIndex]]), the IVF-PQ index of sim08, sim09b and
  * sim10 ([[ivfPqIndex]]) and the text index of txt18 and sim09b
  * ([[textIndexLifecycle]]), one tree per fixture and sf dir.
  *
  * The index-probe operators are the production shape — build on corpus
  * drift, probe per query. Registering them as gate queries needs a
  * deterministic index location per sf dir plus build-once semantics,
  * which this provides with the same
  * cross-JVM-safe staging + atomic-move + `_COMPLETE`-marker protocol as
  * the binlog fixture cache (parallel test/bench/verify JVMs share /tmp;
  * the loser of a race discards its copy). A tree is named
  * `graft-index-<key>-<fixture>-<sf>`; the key changes with the tree's
  * layout, and building a tree deletes the same fixture's trees under
  * other keys. `_COMPLETE` holds [[Layout.ManifestFormat]], and a tree
  * whose marker holds another format is rebuilt in place, so a change
  * to the maintained structures' on-disk format needs no key bump.
  */
object PersistedIndexes {

  private def sfKey(sfDir: String): String = new java.io.File(sfDir).getName

  private val TreeName = "graft-index-([^-]+)-(.+)".r

  private[operators] def cached(dirName: String)(build: String => Unit): String = synchronized {
    val dir = Paths.get(sys.props("java.io.tmpdir"), dirName)
    val marker = dir.resolve("_COMPLETE")
    def current = Files.exists(marker) && Files.readString(marker) == Layout.ManifestFormat
    if (!current) {
      deleteRecursively(dir) // absent, or built in another format
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
      Files.writeString(staging.resolve("_COMPLETE"), Layout.ManifestFormat)
      try Files.move(staging, dir, java.nio.file.StandardCopyOption.ATOMIC_MOVE)
      catch {
        case _: Exception =>
          val deadline = System.nanoTime() + 300L * 1000000000L
          while (!current && System.nanoTime() < deadline) Thread.sleep(100)
          deleteRecursively(staging)
          if (!current)
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

  /** The corpus's text index, probed by txt18 and sim09b: the CDC text
    * index fed the corpus as three insert-only batches (70%, 20%, 10% —
    * segments `b000000`–`b000002`, `ver` the batch ordinal), then
    * compacted back to one base segment at [[TextAnalysis.textIndexBuckets]]
    * term buckets — the steady-state shape of an index that has lived
    * through ingest. Every doc is live, so its probe scores the full
    * corpus ([[TextAnalysis.bm25IndexOracleCtes]]).
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
