package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.{DataType, IntegerType, StructType}

import graft.core.GraftSession.withCallSite

/** CDC → queryable table maintenance: the sink-side counterpart of the
  * latest-image *query* (cdcb4). The reference leaves materialization to
  * its callers (each JDBC consumer folds the change stream by hand,
  * `jdbc.clj:205-331`); here one streaming job keeps a parquet table
  * current — no lakehouse format needed.
  *
  * Scale design: the table is hash-partitioned on the primary key into
  * `nBuckets` directories, and each micro-batch rewrites ONLY the buckets
  * it touches (`partitionOverwriteMode=dynamic` + static bucket-id
  * pruning on the read side). Per-trigger cost is
  * O(touched buckets ÷ nBuckets × table), not O(table): a trickle of
  * changes against a 100 TB table rewrites a few buckets, a bulk load
  * rewrites them all — both the plan you'd want. A trigger runs one
  * shuffle-free job to find its touched buckets and one write (two jobs
  * under AQE) that shuffles once, on the bucket, and writes each touched
  * bucket as one file; the table's schema comes from a parquet footer
  * read on the driver, not from a schema-inference job.
  *
  * Merge is latest-wins on the envelope's total order
  * (log_file, log_pos, log_seq), which makes it idempotent: a replayed
  * batch (foreachBatch's at-least-once corner) re-merges to the same
  * table. Deletes persist as tombstone rows inside the table (so a
  * bucket whose keys all die still produces output rows and its
  * partition gets rewritten — dynamic overwrite skips partitions absent
  * from the output); [[readTable]] filters them and a periodic compact
  * (plain rewrite) can drop them.
  */
object CdcMaterializer {

  /** Start maintaining `tablePath` from a CDC change stream (the
    * mysql-binlog source's envelope: `_delta_type`, `log_file`, `log_pos`,
    * `log_seq`, payload incl. `keyCol`).
    */
  def materialize(changes: DataFrame, keyCol: String, tablePath: String,
                  checkpoint: String, nBuckets: Int = 64,
                  trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    changes.writeStream
      .outputMode("append")
      .trigger(trigger)
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, _: Long) => mergeBatch(batch, keyCol, tablePath, nBuckets) }
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

  /** One idempotent merge of a batch of change rows into the table: one
    * job finds the touched buckets, one shuffled write (two jobs under
    * AQE) rewrites them.
    */
  private[streaming] def mergeBatch(batch: DataFrame, keyCol: String,
                                    tablePath: String, nBuckets: Int): Unit =
    withCallSite(batch.sparkSession, "CdcMaterializer.mergeBatch") {
      val s = batch.sparkSession
      // persist: the touched-bucket scan and the merge would otherwise each
      // re-decode the batch's binlog span from the source (materializeAll
      // already persists for the same reason)
      val b = batch.filter(col("_delta_type") =!= "update-before")
        .withColumn("_bucket", pmod(hash(col(keyCol)), lit(nBuckets)))
        .persist()
      try {
        // touched bucket ids: bounded by nBuckets, safe to collect — and as
        // literals they prune the existing-table read to those partitions.
        // None touched means nothing to write.
        val touched = bucketSet(b)
        if (touched.nonEmpty) {
          // the existing table, read with its footer's schema (no inference
          // job); a batch whose columns differ fails in unionByName, before
          // anything is written
          val all = readExisting(s, tablePath)
            .fold(b)(_.where(col("_bucket").isin(touched: _*)).unionByName(b))
          // one shuffle, on the bucket: the window's (bucket, key) partitions
          // need no second one, and each touched bucket is written by one
          // task as one file
          val w = org.apache.spark.sql.expressions.Window
            .partitionBy(col("_bucket"), col(keyCol))
            .orderBy(fileSeq(col("log_file")).desc, col("log_file").desc,
              col("log_pos").desc, col("log_seq").desc)
          // the merge streams straight into the partitions it reads: dynamic
          // overwrite stages every task's output and replaces the touched
          // `_bucket=N` directories only at job commit, after every task has
          // read them. Writer-scoped — never mutate the shared session conf
          // (a sibling job's full-table overwrite must stay STATIC).
          all.repartition(col("_bucket"))
            .withColumn("_rn", row_number().over(w))
            .filter(col("_rn") === 1).drop("_rn")
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("_bucket").parquet(tablePath)
        }
      } finally b.unpersist()
    }

  /** The distinct `_bucket` ids of `df` in one shuffle-free job: a set per
    * partition, merged on the driver.
    */
  private def bucketSet(df: DataFrame): Seq[Int] =
    df.select(col("_bucket")).queryExecution.toRdd
      .mapPartitions { rows =>
        val seen = scala.collection.mutable.BitSet.empty
        rows.foreach(r => seen += r.getInt(0))
        Iterator.single(seen.toArray)
      }
      .collect().flatten.distinct.sorted.toSeq

  /** The table at `tablePath`, read with the schema in one data file's
    * parquet footer (read on the driver: no schema-inference job), or
    * None while it has no data file.
    */
  private def readExisting(s: SparkSession, tablePath: String): Option[DataFrame] = {
    val root = new org.apache.hadoop.fs.Path(tablePath)
    val conf = s.sparkContext.hadoopConfiguration
    // the table's own filesystem (HDFS/S3/local alike — java.io.File would
    // answer "no" for every non-local URI and silently drop the previously
    // materialized rows of touched buckets)
    val fs = root.getFileSystem(conf)
    def visible(p: org.apache.hadoop.fs.Path) =
      !p.getName.startsWith("_") && !p.getName.startsWith(".")
    val file =
      if (!fs.exists(root)) None
      else fs.listStatus(root).iterator
        .filter(d => d.isDirectory && d.getPath.getName.startsWith("_bucket="))
        .flatMap(d => fs.listStatus(d.getPath).iterator
          .filter(f => f.isFile && visible(f.getPath)))
        .nextOption()
    file.map { f =>
      // options from the session's conf: the no-options overload parses a
      // fresh Hadoop conf from its XML resources on every call
      val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(f, conf),
        org.apache.parquet.HadoopReadOptions.builder(conf)
          .withMetadataFilter(org.apache.parquet.format.converter
            .ParquetMetadataConverter.SKIP_ROW_GROUPS)
          .build())
      // Spark writes its schema into every file's key-value metadata
      val sparkSchema =
        try Option(reader.getFileMetaData.getKeyValueMetaData
          .get("org.apache.spark.sql.parquet.row.metadata"))
        finally reader.close()
      sparkSchema match {
        case Some(json) =>
          val data = DataType.fromJson(json).asInstanceOf[StructType]
          val schema = StructType(data.fields.map(_.copy(nullable = true)))
            .add("_bucket", IntegerType)
          s.read.schema(schema).parquet(tablePath)
        case None => s.read.parquet(tablePath)
      }
    }
  }

  /** Current state of the materialized table (tombstones filtered). */
  def readTable(s: SparkSession, tablePath: String): DataFrame =
    readExisting(s, tablePath).getOrElse(s.read.parquet(tablePath))
      .filter(col("_delta_type") =!= "delete")

  /** Periodic tombstone compaction: physically drops delete rows. Only
    * buckets that CONTAIN a tombstone are rewritten (bucket-id pruning on
    * the read, dynamic overwrite on the write — same O(touched) profile
    * as the merge); a bucket whose keys all died gets its partition
    * directory removed outright, since dynamic overwrite cannot express
    * "rewrite to empty". Run between triggers (or from a maintenance
    * job), not concurrently with the maintaining stream's own writes.
    */
  def compact(s: SparkSession, tablePath: String): Unit =
    withCallSite(s, "CdcMaterializer.compact") {
      val hPath = new org.apache.hadoop.fs.Path(tablePath)
      val fs = hPath.getFileSystem(s.sparkContext.hadoopConfiguration)
      // cross-process fold lease (the structure compactors' contract): two
      // concurrent tombstone compactions of the same table would race the
      // dynamic bucket overwrites — the loser fails by name instead
      graft.operators.Layout.withFoldLease(fs, hPath) {
        val t = readExisting(s, tablePath).getOrElse(s.read.parquet(tablePath))
        val tombBuckets = bucketSet(t.filter(col("_delta_type") === "delete"))
        if (tombBuckets.nonEmpty) {
          // only needed for the degenerate-case guard below — keep the
          // common tombstone-free call to a single scan
          val allBuckets = bucketSet(t).toSet
          val live = t.where(col("_bucket").isin(tombBuckets: _*))
            .filter(col("_delta_type") =!= "delete")
            .localCheckpoint(true)
          val liveBuckets = bucketSet(live).toSet
          // Degenerate case: EVERY key in the table is dead. Deleting all
          // partition directories would leave a parquet root with no data
          // files — unreadable by every subsequent read/merge. Tombstones are
          // logically invisible anyway (readTable filters them), so skip:
          // compaction is an optimization and must never break the table.
          if (liveBuckets.isEmpty && tombBuckets.toSet == allBuckets) live.unpersist()
          else {
            if (liveBuckets.nonEmpty)
              live.write.mode("overwrite")
                .option("partitionOverwriteMode", "dynamic")
                .partitionBy("_bucket").parquet(tablePath)
            live.unpersist()
            tombBuckets.filterNot(liveBuckets).foreach { bId =>
              fs.delete(new org.apache.hadoop.fs.Path(hPath, s"_bucket=$bId"), true)
            }
          }
        }
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
  // It writes its pre-aggregated deltas to its OWN `batch=<id>` partition
  // (overwrite), and a replayed batch id rewrites exactly that partition:
  // idempotence by addressing, the same protocol as the index segment
  // writes. The view read folds base + delta partitions (exact long
  // sums); a periodic [[compactAggregate]] collapses them into a new
  // base, bounding read fan-out at O(batches since last compaction).
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

  /** One batch's pre-aggregated deltas, written to its own partition. */
  private[streaming] def writeAggDeltas(batch: DataFrame, groupCol: String,
                                        valCol: String, tablePath: String,
                                        batchId: Long): Unit = {
    // after-image rows are "update" in this source's envelope (the
    // expanded-pair naming some CDC sources use is "update-after" —
    // accepted too so a re-encoded stream folds identically)
    val sign = when(col("_delta_type").isin("insert", "update", "update-after"), 1L)
      .when(col("_delta_type").isin("delete", "update-before"), -1L)
    batch.select(col(groupCol), sign.as("_sign"), col(valCol).as("_v"))
      .filter(col("_sign").isNotNull)
      .groupBy(col(groupCol))
      .agg(sum(col("_sign")).as("n"), sum(col("_sign") * col("_v")).as("s"))
      .write.mode("overwrite").parquet(s"$tablePath/deltas/batch=$batchId")
  }

  /** The folded state of base + all delta partitions, before the
    * liveness filter (compaction keeps n=0 anomalies visible; the view
    * read drops them).
    */
  private def aggState(s: SparkSession, tablePath: String): DataFrame = {
    val conf = s.sparkContext.hadoopConfiguration
    def existing(p: String) = {
      val hp = new org.apache.hadoop.fs.Path(p)
      if (hp.getFileSystem(conf).exists(hp)) Some(s.read.parquet(p)) else None
    }
    // delta partitions at or below the base's fold fence are ALREADY IN
    // base: they survive only when a crash hit [[compactAggregate]]
    // between its publish and its delta cleanup, and summing them again
    // would silently double-count (SUM deltas are signed increments, not
    // idempotent full images — the one structure here where a stale
    // leftover corrupts instead of merely repeating)
    val basePath = new org.apache.hadoop.fs.Path(s"$tablePath/base")
    val fence = graft.operators.Layout.foldedThrough(
      basePath.getFileSystem(conf), basePath)
    val parts = Seq(existing(s"$tablePath/base"),
      existing(s"$tablePath/deltas").map { d =>
        fence.fold(d)(f => d.filter(col("batch") > f)).drop("batch")
      }).flatten
    require(parts.nonEmpty, s"no aggregate state under $tablePath")
    val all = parts.reduce(_.unionByName(_))
    val gcols = all.columns.filterNot(Set("n", "s")).toSeq
    all.groupBy(gcols.map(col): _*)
      .agg(sum(col("n")).as("n"), sum(col("s")).as("s"))
  }

  /** Current view: per group, live-row count `n` and exact sum `s`. */
  def readAggregate(s: SparkSession, tablePath: String): DataFrame =
    aggState(s, tablePath).filter(col("n") =!= 0)

  /** Fold base + deltas into a fresh base and drop the delta partitions —
    * the read-fan-out bound. A complete row lifecycle telescopes to
    * (0, 0) and is dropped; a group at n=0 with s<>0 (a stream started
    * mid-log retracting rows it never saw inserted) is KEPT so the
    * anomaly stays visible instead of silently vanishing. Run between
    * triggers, never concurrently with the maintaining stream ([[compact]]
    * contract), under the cross-process fold lease.
    *
    * Crash-safe in BOTH windows (this used to be delete-then-rename,
    * which had a window with NO base, and recovery via the staged fold
    * would then double-count any deltas the cleanup hadn't deleted yet):
    * the new base carries a `_folded_through` fence at the highest delta
    * batch it consumed, published atomically with it by the two-rename
    * [[graft.operators.Layout.publishDir]] swap, and the delta cleanup
    * runs AFTER the publish — a crash in between leaves the new base
    * plus stale fenced deltas, which [[aggState]] excludes and the next
    * fold's cleanup removes. The stream's replayed batch, if any, has an
    * id above the fence (batch ids are monotone), so its rewrite is
    * never masked.
    */
  def compactAggregate(s: SparkSession, tablePath: String): Unit = {
    val base = new org.apache.hadoop.fs.Path(s"$tablePath/base")
    val fs = base.getFileSystem(s.sparkContext.hadoopConfiguration)
    graft.operators.Layout.withFoldLease(fs, base) {
      val deltasPath = new org.apache.hadoop.fs.Path(s"$tablePath/deltas")
      val upTo = (graft.operators.Layout.foldedThrough(fs, base).toSeq ++
        (if (!fs.exists(deltasPath)) Seq.empty[Long]
         else fs.listStatus(deltasPath).map(_.getPath.getName)
           .filter(_.startsWith("batch="))
           .map(_.stripPrefix("batch=").toLong).toSeq)).maxOption
      val folded = aggState(s, tablePath)
        .filter(col("n") =!= 0 || col("s") =!= 0)
      val staging = s"$tablePath/base.compact-${ProcessHandle.current().pid()}"
      folded.write.mode("overwrite").parquet(staging)
      upTo.foreach(u => graft.operators.Layout.writeFoldedThrough(fs,
        new org.apache.hadoop.fs.Path(staging), u))
      graft.operators.Layout.publishDir(fs,
        new org.apache.hadoop.fs.Path(staging), base)
      fs.delete(deltasPath, true)
    }
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
      .foreachBatch { (batch: DataFrame, _: Long) =>
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
          mergeBatch(typed, keyCol, s"$basePath/$qualified", nBuckets)
        } finally cached.unpersist()
      }
      .start()
}
