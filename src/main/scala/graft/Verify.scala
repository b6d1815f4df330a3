package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = core.GraftConf.local("graft-verify", cpus.toInt)
    new java.io.File(outDir).mkdirs()
    val failures = scala.collection.mutable.LinkedHashMap.empty[String, String]
    // dev loop only (driver never sets it): restrict to a comma-separated
    // gate subset so a new gate iterates in seconds, not a full sweep
    val only = sys.env.get("SPARK_GRAFT_VERIFY_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val selected = only match {
      case Some(names) =>
        val unknown = names.diff(SparkEntry.queries.keySet)
        require(unknown.isEmpty, s"SPARK_GRAFT_VERIFY_ONLY unknown gates: $unknown")
        SparkEntry.queries.view.filterKeys(names).toMap
      case None => SparkEntry.queries
    }
    selected.foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        failures(name) = String.valueOf(e.getMessage).take(500)
        // a failed query must leave NO output: stale parquet from a prior
        // run in the same outDir would make the DuckDB compare silently
        // validate results the current code cannot produce
        val stale = Paths.get(s"$outDir/$name")
        if (Files.exists(stale)) {
          Files.walk(stale).sorted(java.util.Comparator.reverseOrder())
            .forEach(p => Files.deleteIfExists(p))
        }
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSqlFor(sfDir)
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // Dropped gates must be loud IN THE ARTIFACT, not only on stderr: the
    // round-9 events-schema regression silently excluded 14 queries
    // (stderr was discarded; the compare just saw fewer result dirs).
    // A query that ran in a previous round and is absent now shows up here
    // by name with its error, next to the results it should have joined.
    val failedJson = failures
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/_failed.json"), failedJson)
    System.err.println(s"[verify] ${selected.size - failures.size}/" +
      s"${selected.size} queries produced results" +
      (if (failures.isEmpty) "" else s"; FAILED: ${failures.keys.mkString(", ")}"))
    spark.stop()
    // The artifact (_failed.json) is loud, and so is the process: a run
    // that drops previously-passing gates must not hand the driver rc=0
    // (round 9's 14-gate drop rode a green exit code).
    if (failures.nonEmpty) sys.exit(1)
  }
}
