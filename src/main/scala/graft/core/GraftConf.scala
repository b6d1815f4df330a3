package graft.core

import org.apache.spark.sql.SparkSession

/** One place for the engine's session tuning, with the local-bench vs
  * cluster rationale spelled out.
  *
  * Local (`local[N]`, small files): shuffle partitions = N (default 200
  * would fragment tiny datasets), 16 MB `maxPartitionBytes` so single-file
  * test tables still split across cores.
  *
  * Cluster at 100 TB: shuffle partitions sized so a partition fits in
  * executor memory (AQE coalesces the rest), default 128 MB scan splits,
  * AQE skew-join handles stragglers, broadcast threshold left to planner +
  * explicit `broadcast()` hints on known-small dims in the operators.
  */
object GraftConf {

  def builder(cpus: Int): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.files.maxPartitionBytes", "16m")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")

  def local(appName: String, cpus: Int): SparkSession = {
    val spark = builder(cpus).appName(appName).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
