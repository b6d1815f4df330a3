package graft.operators

import org.apache.spark.sql.SparkSession

/** Spec helpers over a segment-protocol structure's manifest
  * ([[Layout.committedView]]): what the latest version lists, where its
  * generation lives, and a crash reconstructed by taking a version back.
  */
object ManifestFixtures {

  /** The committed `seg=` names of the structure at `root`. */
  def segs(s: SparkSession, root: String): Set[String] =
    Layout.committedView(s, root).map(_.segs.toSet).getOrElse(Set.empty)

  /** The committed generation directory of the structure at `root`. */
  def generation(s: SparkSession, root: String): String =
    Layout.committedView(s, root).get.dir

  /** The generation directories under `root`, committed or not. */
  def generations(root: String): Set[String] =
    Option(new java.io.File(root).listFiles()).toSeq.flatten
      .map(_.getName).filter(_.matches("g[0-9]+")).toSet

  /** The latest manifest version of the structure at `root`, if any. */
  def version(root: String): Option[Long] =
    Option(new java.io.File(root, "_manifest").listFiles()).toSeq.flatten
      .map(_.getName).filter(n => n.nonEmpty && n.forall(_.isDigit)).map(_.toLong).maxOption

  /** Delete the latest manifest version: the state a writer leaves when
    * it crashes after writing its files and before its commit.
    */
  def uncommit(s: SparkSession, root: String): Unit = {
    val dir = new org.apache.hadoop.fs.Path(root, "_manifest")
    val fs = dir.getFileSystem(s.sparkContext.hadoopConfiguration)
    val last = fs.listStatus(dir).map(_.getPath.getName)
      .filter(_.forall(_.isDigit)).maxBy(_.toLong)
    assert(fs.delete(new org.apache.hadoop.fs.Path(dir, last), false))
  }
}
