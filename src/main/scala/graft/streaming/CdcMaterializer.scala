package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.core.GraftSession.withCallSite
import graft.operators.Layout

/** CDC → queryable table maintenance: the sink-side counterpart of the
  * latest-image *query* (cdcb4). The reference leaves materialization to
  * its callers (each JDBC consumer folds the change stream by hand,
  * `jdbc.clj:205-331`); here one streaming job keeps a parquet table
  * current — no lakehouse format needed.
  *
  * Scale design: merge-on-read on `Layout`'s segment protocol. Each
  * micro-batch keeps its latest image per key and appends it as its own
  * segment `seg=b<batchId>` ([[Layout.append]]); nothing already
  * committed is read or rewritten, so per-trigger cost is O(batch), not
  * O(table): one shuffle for the dedup and one small file (two jobs
  * under AQE), whether the table holds a thousand keys or a billion.
  *
  * Latest-wins is on the envelope's total order (`fileSeq(log_file)`,
  * `log_file`, `log_pos`, `log_seq`), inside a batch and across
  * segments alike, which makes the merge idempotent: a replayed batch
  * (foreachBatch's at-least-once corner) writes nothing once its
  * segment is committed or folded, and rows merged again under another
  * batch id change no answer. Deletes persist as tombstone rows;
  * [[readTable]] reads one pinned manifest version, applies latest-wins
  * per key over `seg=base` ∪ the committed deltas and filters the
  * tombstones. Reads pay for the deltas since the last [[compact]],
  * which folds them into a tombstone-free base ([[Layout.fold]]); the
  * fold is explicit, like [[compactAggregate]]. The table records its
  * key column and base bucket count in the side file `_table` of its
  * generation (the first append writes it, every fold carries it), so
  * the read and the fold take no key. A table belongs to one stream
  * checkpoint: segments are named by batch id.
  */
object CdcMaterializer {

  /** Start maintaining `tablePath` from a CDC change stream (the
    * mysql-binlog source's envelope: `_delta_type`, `log_file`, `log_pos`,
    * `log_seq`, payload incl. `keyCol`). `nBuckets` sizes the base that
    * [[compact]] writes.
    */
  def materialize(changes: DataFrame, keyCol: String, tablePath: String,
                  checkpoint: String, nBuckets: Int = 64,
                  trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    changes.writeStream
      .outputMode("append")
      .trigger(trigger)
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        mergeBatch(batch, keyCol, tablePath, nBuckets, batchId)
      }
      .start()

  /** Numeric binlog extension for latest-wins ordering. MySQL extends the
    * suffix past 6 digits at binlog.999999 → binlog.1000000, where STRING
    * ordering inverts ("1000000" < "999999" lexicographically) and a stale
    * image would win the merge. Non-numeric extensions order first (-1)
    * with the raw name as tiebreak.
    */
  private[graft] def fileSeq(c: Column): Column = {
    val ext = regexp_extract(c, "\\.([0-9]+)$", 1)
    when(ext === "", lit(-1L)).otherwise(ext.cast("long"))
  }

  /** Per `keyCol`, the row latest on the envelope's total order. */
  private def latestPerKey(rows: DataFrame, keyCol: String): DataFrame = {
    val w = Window.partitionBy(col(keyCol))
      .orderBy(fileSeq(col("log_file")).desc, col("log_file").desc,
        col("log_pos").desc, col("log_seq").desc)
    rows.withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1).drop("_rn")
  }

  /** Append batch `batchId` as segment [[Layout.segmentOf]]`(batchId)`:
    * its latest image per key, tombstones included, update-before rows
    * dropped. The first append records `keyCol` and `nBuckets`; a later
    * one keyed otherwise fails by name, and one whose columns differ from
    * the table's fails in [[Layout.append]]'s schema check — both before
    * anything is written.
    */
  private[streaming] def mergeBatch(batch: DataFrame, keyCol: String,
                                    tablePath: String, nBuckets: Int,
                                    batchId: Long): Unit =
    withCallSite(batch.sparkSession, "CdcMaterializer.mergeBatch") {
      val s = batch.sparkSession
      Layout.append(s, tablePath, Layout.segmentOf(batchId)) { out =>
        recorded(s, out.dir) match {
          case Some((key, _)) => require(key == keyCol,
            s"merge keyed by $keyCol but the table at $tablePath is keyed by $key")
          case None => record(s, out.dir, keyCol, nBuckets)
        }
        Seq(() => out.write("", latestPerKey(
          batch.filter(col("_delta_type") =!= "update-before"), keyCol)))
      }
      ()
    }

  private def sideFile(dir: String) = new org.apache.hadoop.fs.Path(dir, "_table")

  /** The key column and base bucket count recorded in generation `dir`. */
  private def recorded(s: SparkSession, dir: String): Option[(String, Int)] = {
    val f = sideFile(dir)
    val fs = f.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (!fs.exists(f)) None
    else {
      val in = fs.open(f)
      val Array(key, n) = try new String(in.readAllBytes(), "UTF-8").split("\n")
        finally in.close()
      Some(key -> n.toInt)
    }
  }

  private def record(s: SparkSession, dir: String, keyCol: String, nBuckets: Int): Unit = {
    val f = sideFile(dir)
    val out = f.getFileSystem(s.sparkContext.hadoopConfiguration).create(f, true)
    try out.write(s"$keyCol\n$nBuckets".getBytes("UTF-8")) finally out.close()
  }

  /** Current state of the materialized table (tombstones filtered), read
    * from one pinned manifest version with the schema it records (no
    * schema-inference job).
    */
  def readTable(s: SparkSession, tablePath: String): DataFrame = {
    val view = Layout.committedView(s, tablePath)
    require(view.isDefined, s"no materialized table under $tablePath")
    val rows = view.get.read("").drop("seg")
    // one segment, a delta or the base, already holds one row per key
    val merged =
      if (view.get.segs.size == 1) rows
      else latestPerKey(rows, recorded(s, view.get.dir).get._1)
    merged.filter(col("_delta_type") =!= "delete")
  }

  /** Fold the committed deltas into a fresh `seg=base` through
    * [[Layout.fold]]: latest-wins per key, tombstones dropped, written as
    * the recorded `nBuckets` files hashed on the key; the fold fences the
    * batches it consumed. A table whose keys all died folds to an empty,
    * readable base. Run between triggers or from a maintenance job, never
    * concurrently with the maintaining stream ([[Layout.fold]]'s lease
    * fails a second maintenance process by name).
    */
  def compact(s: SparkSession, tablePath: String): Unit =
    withCallSite(s, "CdcMaterializer.compact") {
      Layout.fold(s, tablePath) { (view, out) =>
        val (key, nBuckets) = recorded(s, view.dir).get
        // the window reuses the bucket shuffle: one exchange in all
        out.write("", latestPerKey(
          view.read("").drop("seg").repartition(nBuckets, col(key)), key)
          .filter(col("_delta_type") =!= "delete"))
        record(s, out.dir, key, nBuckets)
      }
    }

  // ---- incremental aggregate-view maintenance (IVM) ----------------------
  //
  // The other classic CDC consumer: keep `SELECT group, COUNT(*), SUM(v)`
  // current from the change stream ALONE — the base table is never
  // rescanned. Each change row contributes a signed delta (+1/+v for
  // insert and update-after, -1/-v for delete and update-before; an
  // update that moves a row between groups retracts from the old group
  // and adds to the new one through its before/after pair), and because
  // COUNT/SUM are abelian-group aggregates the view is the exact fold of
  // all deltas — order-independent, so `v` must be integer-typed (scale
  // decimals to fixed-point first; double addition would reintroduce
  // order dependence).
  //
  // Exactly-once without a transactional sink: foreachBatch is
  // at-least-once, and a SUM-merge (unlike the latest-wins merge above)
  // is NOT replay-idempotent — so a batch never merges into shared state.
  // The view is a structure on `Layout`'s segment protocol (one leg, like
  // the fp and band logs): each batch appends its pre-aggregated deltas
  // as its OWN segment `seg=b<id>`, so a replayed batch rewrites exactly
  // that segment, or is skipped once a fold consumed it (the replay
  // fence — re-summing a folded batch would double-count, since SUM
  // deltas are signed increments, not idempotent images). The view read
  // sums the committed segments (exact long sums); a periodic
  // [[compactAggregate]] folds them into `seg=base`, bounding read
  // fan-out at O(batches since last compaction).
  //
  // At 100 TB: per trigger this moves |touched groups| slim rows (the
  // batch pre-aggregation is the only shuffle, map-side combined); the
  // base is |groups| rows. Nothing is ever O(table).

  /** Start maintaining an aggregate view of the change stream: per
    * `groupCol`, a live-row count `n` and the exact sum `s` of the
    * integer-typed `valCol`. Groups whose rows all died fold to n=0 and
    * are dropped by [[readAggregate]].
    */
  def maintainAggregate(changes: DataFrame, groupCol: String, valCol: String,
                        tablePath: String, checkpoint: String,
                        trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    changes.writeStream
      .outputMode("append")
      .trigger(trigger)
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        writeAggDeltas(batch, groupCol, valCol, tablePath, batchId)
      }
      .start()

  /** One batch's pre-aggregated deltas, appended as the batch's own
    * segment (skipped when a fold already consumed it).
    */
  private[streaming] def writeAggDeltas(batch: DataFrame, groupCol: String,
                                        valCol: String, tablePath: String,
                                        batchId: Long): Unit = {
    // after-image rows are "update" in this source's envelope (the
    // expanded-pair naming some CDC sources use is "update-after" —
    // accepted too so a re-encoded stream folds identically)
    val sign = when(col("_delta_type").isin("insert", "update", "update-after"), 1L)
      .when(col("_delta_type").isin("delete", "update-before"), -1L)
    val deltas = batch.select(col(groupCol), sign.as("_sign"), col(valCol).as("_v"))
      .filter(col("_sign").isNotNull)
      .groupBy(col(groupCol))
      .agg(sum(col("_sign")).as("n"), sum(col("_sign") * col("_v")).as("s"))
    val segment = Layout.segmentOf(batchId)
    Layout.append(batch.sparkSession, tablePath, segment)(out =>
      Seq(() => out.write("", deltas)))
  }

  /** Per group, the sums of `n` and `s` over the committed segments read
    * as `segs`, before any liveness filter.
    */
  private def summed(segs: DataFrame): DataFrame = {
    val all = segs.drop("seg")
    val gcols = all.columns.filterNot(Set("n", "s")).toSeq
    all.groupBy(gcols.map(col): _*)
      .agg(sum(col("n")).as("n"), sum(col("s")).as("s"))
  }

  /** Current view: per group, live-row count `n` and exact sum `s`. */
  def readAggregate(s: SparkSession, tablePath: String): DataFrame = {
    val view = Layout.committedView(s, tablePath)
    require(view.isDefined, s"no aggregate state under $tablePath")
    summed(view.get.read("")).filter(col("n") =!= 0)
  }

  /** Fold the committed segments into a fresh `seg=base` through
    * [[Layout.fold]] — the read-fan-out bound. A complete row lifecycle
    * telescopes to (0, 0) and is dropped; a group at n=0 with s<>0 (a
    * stream started mid-log retracting rows it never saw inserted) is
    * KEPT so the anomaly stays visible instead of silently vanishing.
    * Run between triggers, never concurrently with the maintaining
    * stream ([[compact]] contract).
    */
  def compactAggregate(s: SparkSession, tablePath: String): Unit =
    Layout.fold(s, tablePath) { (view, out) =>
      out.write("", summed(view.read(""))
        .filter(col("n") =!= 0 || col("s") =!= 0))
    }

  /** Maintain MANY tables from ONE binlog scan: the stream is the source's
    * dynamic-payload mode (no `payloadDdl` — `row` is the positional
    * string image), each trigger decodes the log exactly once, and the
    * cached batch demultiplexes into per-table typed merges under
    * `basePath/<db>.<table>`. This is the multi-table serving shape of the
    * reference's single connection (`jdbc.clj:170-178`) as a materializer:
    * N tables never cost N decodes.
    *
    * `schemas`: "db.table" -> (payload DDL, primary-key column). Payload
    * types must stringify losslessly (numeric/decimal/text/temporal);
    * binary columns need a dedicated typed scan instead.
    */
  def materializeAll(changes: DataFrame, schemas: Map[String, (String, String)],
                     basePath: String, checkpoint: String, nBuckets: Int = 64,
                     trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    changes.writeStream
      .outputMode("append")
      .trigger(trigger)
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val cached = batch.persist() // one decode serves every table below
        try schemas.foreach { case (qualified, (ddl, keyCol)) =>
          val (db, table) = graft.core.GraftSession.splitQualified(qualified)
          val fields = org.apache.spark.sql.types.StructType.fromDDL(ddl).fields
          val typed = cached
            .filter(col("db") === db && col("table") === table)
            .select(
              (batch.columns.filterNot(_ == "row").map(col).toSeq ++
                fields.zipWithIndex.map { case (f, i) =>
                  col("row").getItem(i).cast(f.dataType).as(f.name)
                }): _*)
          mergeBatch(typed, keyCol, s"$basePath/$qualified", nBuckets, batchId)
        } finally cached.unpersist()
      }
      .start()
}
