package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Front door: register the engine's tables and change streams as temp
  * views so `spark.sql(...)` is the query surface — the Spark-native
  * replacement for the reference's SQL-over-JDBC entry point (SURVEY
  * §2.8/§2.10: Spark's parser/analyzer/optimizer supplant the hand-rolled
  * tokenizer; any number of concurrent statements instead of the JDBC
  * singleton).
  */
object GraftSession {

  val tableNames: Seq[String] = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "events", "documents", "embeddings")

  /** Register every parquet test table for SQL access. */
  def registerTables(spark: SparkSession, dir: String): Unit = {
    tableNames.filterNot(_ == "events").foreach { t =>
      Tables.table(spark, dir, t).createOrReplaceTempView(t)
    }
    // events needs the nano-timestamp handling of Tables.events
    Tables.events(spark, dir).createOrReplaceTempView("events")
  }

  /** Run `body` with every Spark job it launches attributed to `name`:
    * sets this thread's `callSite.short`/`callSite.long` and restores the
    * previous values afterwards. Inside a `foreachBatch` Spark otherwise
    * reports every job at the stream's `start()` line.
    */
  def withCallSite[T](spark: SparkSession, name: String)(body: => T): T = {
    val sc = spark.sparkContext
    val keys = Seq("callSite.short", "callSite.long")
    val prev = keys.map(sc.getLocalProperty)
    keys.foreach(sc.setLocalProperty(_, name))
    try body
    finally keys.zip(prev).foreach { case (k, v) => sc.setLocalProperty(k, v) }
  }

  /** Split a "db.table" key, with a named error instead of a MatchError
    * when the dot is missing.
    */
  def splitQualified(qualified: String): (String, String) =
    qualified.split("\\.", 2) match {
      case Array(db, table) if db.nonEmpty && table.nonEmpty => (db, table)
      case _ => throw new IllegalArgumentException(
        s"table key must be 'db.table', got '$qualified'")
    }

  /** Register typed change views for many tables of one binlog stream —
    * `<db>_<table>_changes` each with its own pushed-down scan. The
    * reference serves any table from a single connection
    * (`jdbc.clj:170-178`); this is the multi-table typed equivalent.
    *
    * @param schemas "db.table" -> payload DDL (names come from outside the
    *                log, as in the reference: `mysql_binlog.clj:505-508`)
    * @param streaming readStream (micro-batch) instead of batch
    */
  def registerChangeViews(spark: SparkSession, binlogPath: String,
                          schemas: Map[String, String],
                          streaming: Boolean = false): Map[String, DataFrame] = {
    import org.apache.spark.sql.functions.col
    // toSeq first: mapping the Map directly would collapse colliding view
    // names BEFORE the collision check, making the guard dead code
    val views = schemas.toSeq.map { case (qualified, ddl) =>
      val (db, table) = splitQualified(qualified)
      val loaded =
        if (streaming)
          spark.readStream.format("mysql-binlog").option("payloadDdl", ddl).load(binlogPath)
        else
          spark.read.format("mysql-binlog").option("payloadDdl", ddl).load(binlogPath)
      val df = loaded.filter(col("db") === db && col("table") === table)
      s"${db}_${table}_changes" -> df
    }
    // "a.b_c" and "a_b.c" would both map to a_b_c_changes — registering
    // the second would silently shadow the first's filter
    val dup = views.groupBy(_._1).collect { case (v, m) if m.size > 1 => v }
    require(dup.isEmpty,
      s"view name collision for ${dup.mkString(", ")} — rename the underlying tables")
    views.foreach { case (view, df) => df.createOrReplaceTempView(view) }
    views.toMap
  }
}
