package graft.tools

/** Dev harness: print the CDC ANN probe's formatted plan over a small
  * planted index — the committable evidence for plan-shape claims about
  * [[graft.operators.Similarity.mipsTopKViaCdcAnnIndex]] (its gates —
  * cdcm5/8/10/11/12/13/17/19/21 — detach results through localCheckpoint,
  * so the gates' own explains show only scans of checkpointed RDDs).
  * The per-row scoring expression should read `graft_dot(embedding, ...)`
  * (one codegen'd primitive loop per live row), not an interpreted
  * `aggregate(zip_with(...))` lambda chain. Usage:
  *   sbt "runMain graft.tools.ExplainAnnProbe"
  */
object ExplainAnnProbe {
  def main(args: Array[String]): Unit = {
    val spark = graft.core.GraftConf.local("graft-explain-ann-probe", 8)
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-explain-ann")
    val idx = dir.resolve("annindex").toString
    try {
      // plant a tiny committed index through the real appender so the
      // probe reads the exact two-leg layout the gates maintain
      val imgs = (1L to 40L).map { i =>
        (i, Array.tabulate(8)(j => (i * 7 + j) % 2001 - 1000), 0L, false)
      }.toDF("vec_id", "embedding", "ver", "deleted")
      require(graft.operators.Similarity.appendCdcAnnSegment(
        imgs, idx, "b000000", k = 4))
      val probeVec = Seq.tabulate(8)(j => (7L + j) % 2001 - 1000)

      println("===== mipsTopKViaCdcAnnIndex (exact probe, all cells) =====")
      graft.operators.Similarity.mipsTopKViaCdcAnnIndex(spark, idx, probeVec, 10)
        .explain("formatted")
      println("===== mipsTopKViaCdcAnnIndexPruned (nprobe=2) =====")
      graft.operators.Similarity
        .mipsTopKViaCdcAnnIndexPruned(spark, idx, probeVec, 10, nprobe = 2)
        .explain("formatted")
    } finally {
      spark.stop()
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(dir).sorted(java.util.Comparator.reverseOrder())
        .iterator().asScala.foreach(p => java.nio.file.Files.deleteIfExists(p))
    }
  }
}
