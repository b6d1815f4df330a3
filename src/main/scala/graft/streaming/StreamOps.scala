package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured Streaming operator layer (SURVEY §2.9).
  *
  * The reference's streaming surface is a callback on decoded change events
  * plus a hand-rolled running sum demo (`mysql_bench.clj:315-334`); the
  * stream is totally ordered and there is no watermark/window machinery.
  * Here the same consumption patterns are expressed as Structured Streaming
  * jobs — watermarked tumbling/sliding windows, session windows, and
  * arbitrary keyed state — which all scale horizontally because state is
  * partitioned by key in the state store.
  */
object StreamOps {

  /** Streaming view of the events table (nanos → micros, like
    * `graft.core.Tables.events`).
    */
  def eventsStream(spark: SparkSession, dir: String): DataFrame = {
    // session-wide by necessity: nanosAsLong has no per-read option (it
    // changes schema INFERENCE, which runs under the session conf), same
    // trade-off as graft.core.Tables.events. It is additive — nanos
    // columns surface as longs instead of failing — and this engine's
    // sessions read TIMESTAMP(NANOS) only through these two entry points,
    // which both expect it.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val schema = spark.read.parquet(s"$dir/events.parquet").schema
    // FileStreamSource wants a directory; stage the table file into one.
    // Key by a content hash of the PATH (hashCode collides across dirs ->
    // silently streaming the wrong table) and re-link when the existing
    // symlink dangles or points elsewhere (deleted temp fixtures).
    val dirKey = graft.binlog.BinlogReader.toHex(
      java.security.MessageDigest.getInstance("MD5").digest(dir.getBytes("UTF-8"))).take(16)
    val staged = java.nio.file.Paths.get(
      sys.props("java.io.tmpdir"), s"graft-events-stream-$dirKey")
    val link = staged.resolve("events.parquet")
    val target = java.nio.file.Paths.get(s"$dir/events.parquet")
    val linkOk = java.nio.file.Files.isSymbolicLink(link) &&
      java.nio.file.Files.readSymbolicLink(link) == target &&
      java.nio.file.Files.exists(target)
    if (!linkOk) {
      java.nio.file.Files.createDirectories(staged)
      java.nio.file.Files.deleteIfExists(link)
      try java.nio.file.Files.createSymbolicLink(link, target)
      catch {
        // two JVMs racing the same staging dir: the loser re-validates the
        // winner's link (same target by construction of dirKey)
        case _: java.nio.file.FileAlreadyExistsException =>
          require(java.nio.file.Files.readSymbolicLink(link) == target,
            s"staging link $link points elsewhere")
      }
    }
    graft.core.Tables.normalizeEventTs( // nanos-long OR native timestamp
      spark.readStream.schema(schema).parquet(staged.toString))
  }

  // st01 — streaming SLIDING-window aggregation under the DuckDB oracle:
  // 2-hour windows sliding hourly (each event lands in exactly two
  // windows), run as a REAL Structured Streaming job over the staged
  // events table (AvailableNow, complete-mode memory sink) and read back
  // once the stream drains. This puts the streaming engine's window
  // assignment, state merge, and sink path under the same hash compare
  // the batch operators get — q15 is the tumbling batch twin; the oracle
  // reproduces the two-window assignment by unioning each event at its
  // own hour bucket and the preceding one. The value sum follows the
  // decimal-accumulate convention so the streaming state fold's order
  // cannot leak into the output. Complete mode (not append): with
  // AvailableNow the final watermark never passes the last windows, so
  // append would silently drop them — the classic finalization pitfall;
  // state stays bounded here because the run is finite by construction.
  def st01SlidingWindow(s: SparkSession, d: String): DataFrame = synchronized {
    import s.implicits._
    import org.apache.spark.sql.types.DecimalType
    val agg = eventsStream(s, d)
      .groupBy(window($"ts", "2 hours", "1 hour"), $"event_type")
      .agg(count(lit(1)).as("n_events"),
        round(sum($"value".cast(DecimalType(38, 10))), 2).cast("double")
          .as("sum_value"))
      .select(
        date_format($"window.start", "yyyy-MM-dd HH:mm:ss").as("window_start"),
        $"event_type", $"n_events", $"sum_value")
    val q = agg.writeStream.format("memory").queryName("graft_st01_sink")
      .outputMode(OutputMode.Complete)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    // the memory sink table outlives the (stopped) query; a later
    // invocation re-registers the same name over fresh state
    s.table("graft_st01_sink").orderBy($"window_start", $"event_type")
  }

  val st01Sql: String =
    """WITH e2 AS (
      |  SELECT date_trunc('hour', ts) AS ws, event_type, value FROM events
      |  UNION ALL
      |  SELECT date_trunc('hour', ts) - INTERVAL 1 HOUR, event_type, value FROM events)
      |SELECT strftime(ws, '%Y-%m-%d %H:%M:%S') AS window_start, event_type,
      |  COUNT(*) AS n_events,
      |  CAST(ROUND(SUM(CAST(value AS DECIMAL(38,10))), 2) AS DOUBLE) AS sum_value
      |FROM e2
      |GROUP BY ws, event_type
      |ORDER BY window_start, event_type""".stripMargin

  // st02 — streaming exact dedup under the DuckDB oracle: the events
  // stream unioned with itself (every event arrives twice, possibly in
  // different micro-batches) deduped by state-store dropDuplicates. The
  // oracle is simply the events table: the gate hash-matches only if the
  // state path emits each key exactly once with its own row's columns.
  // Append mode is correct HERE (unlike st01): dedup emits on first
  // arrival, so nothing is held back at stream end. Duplicate copies are
  // identical rows, so whichever copy wins the state race carries the
  // same columns — deterministic by construction.
  //
  // State eviction: dropDuplicatesWithinWatermark, NOT plain
  // dropDuplicates. With keys = {event_id} (event-time column outside
  // the key set) plain dropDuplicates never evicts state — Spark only
  // cleans dedup state when the event-time column is among the dedup
  // keys — so state grows with every key ever seen, unbounded on an
  // infinite stream. The WithinWatermark variant keys state on event_id
  // but expires each entry once the watermark passes its event time +
  // delay, which is exactly the bounded-state contract a 100 TB stream
  // needs. Semantics are unchanged for this gate: each duplicate pair
  // carries an identical ts (0 s apart), far inside the 1 h gap the API
  // guarantees dedup within. StreamingStateSpec pins the eviction
  // contract (late re-arrival past the watermark is re-emitted, proving
  // the entry was dropped from the store rather than retained forever).
  def st02StreamDedup(s: SparkSession, d: String): DataFrame = synchronized {
    import s.implicits._
    val doubled = eventsStream(s, d).union(eventsStream(s, d))
      .withWatermark("ts", "1 hour")
      .dropDuplicatesWithinWatermark("event_id")
      .select($"event_id", $"event_type", $"user_id")
    val q = doubled.writeStream.format("memory").queryName("graft_st02_sink")
      .outputMode(OutputMode.Append)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    s.table("graft_st02_sink").orderBy($"event_id")
  }

  val st02Sql: String =
    """SELECT event_id, event_type, user_id
      |FROM events
      |ORDER BY event_id""".stripMargin

  // st03 — streaming DIMENSION ENRICHMENT under the DuckDB oracle: the
  // canonical production shape (fact stream ⋈ slowly-changing dimension →
  // windowed rollup) run as a real Structured Streaming job. The static
  // customer side is explicitly broadcast — a stream-static join must
  // never shuffle the stream per micro-batch; with the dimension
  // broadcast, each micro-batch is a map-side hash join and the only
  // stateful exchange is the windowed aggregation itself, partitioned by
  // (window, segment) in the state store. At 100 TB the dimension is the
  // small side by construction (dimensions are ~10^6 rows; facts are the
  // 100 TB), so the broadcast is the scale plan, not a local[32]
  // convenience. Complete mode for the same finalization reason as st01.
  def st03StreamEnrich(s: SparkSession, d: String): DataFrame = synchronized {
    import s.implicits._
    import org.apache.spark.sql.types.DecimalType
    val dim = graft.core.Tables.customer(s, d).toDF()
      .select($"c_custkey", $"c_mktsegment")
    val agg = eventsStream(s, d)
      .join(broadcast(dim), $"user_id" === $"c_custkey")
      .groupBy(window($"ts", "1 day"), $"c_mktsegment")
      .agg(count(lit(1)).as("n_events"),
        round(sum($"value".cast(DecimalType(38, 10))), 2).cast("double")
          .as("sum_value"))
      .select(
        date_format($"window.start", "yyyy-MM-dd HH:mm:ss").as("window_start"),
        $"c_mktsegment", $"n_events", $"sum_value")
    val q = agg.writeStream.format("memory").queryName("graft_st03_sink")
      .outputMode(OutputMode.Complete)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    s.table("graft_st03_sink").orderBy($"window_start", $"c_mktsegment")
  }

  val st03Sql: String =
    """SELECT strftime(date_trunc('day', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
      |  c_mktsegment,
      |  COUNT(*) AS n_events,
      |  CAST(ROUND(SUM(CAST(value AS DECIMAL(38,10))), 2) AS DOUBLE) AS sum_value
      |FROM events JOIN customer ON user_id = c_custkey
      |GROUP BY 1, 2
      |ORDER BY window_start, c_mktsegment""".stripMargin

  // st04 — streaming SESSION windows under the DuckDB oracle: per-user
  // sessions closed by a 30-minute inactivity gap, computed by the
  // streaming engine's session_window state merge (sessions split/merge
  // as events arrive across micro-batches) and hash-matched against a
  // batch lag/cumsum sessionization. Boundary semantics: session_window
  // is end-exclusive — an event exactly gap after its predecessor starts
  // a NEW session — so the oracle's split condition is >= gap (q29's
  // batch twin uses > gap; the conventions differ only on an exact-
  // microsecond tie, absent by measure in any real event stream, but the
  // oracle must encode the engine's rule, not almost-encode it).
  // Complete mode: session windows need no watermark there, and with
  // AvailableNow the final sessions would be dropped by append's
  // unfinalized-watermark rule (st01's pitfall, same fix).
  def st04SessionWindow(s: SparkSession, d: String): DataFrame = synchronized {
    import s.implicits._
    val agg = eventsStream(s, d)
      .groupBy(session_window($"ts", "30 minutes").as("sw"), $"user_id")
      .agg(count(lit(1)).as("n_events"))
      .select(unix_micros($"sw.start").as("sess_start_us"), $"user_id",
        $"n_events")
    val q = agg.writeStream.format("memory").queryName("graft_st04_sink")
      .outputMode(OutputMode.Complete)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    s.table("graft_st04_sink").orderBy($"user_id", $"sess_start_us")
  }

  val st04Sql: String =
    """WITH e AS (SELECT user_id, epoch_us(ts) AS ts_us FROM events),
      |f AS (
      |  SELECT user_id, ts_us,
      |    CASE WHEN lag(ts_us) OVER w IS NULL
      |           OR ts_us - lag(ts_us) OVER w >= 1800000000 THEN 1 ELSE 0 END AS ns
      |  FROM e
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts_us)),
      |s AS (
      |  SELECT user_id, ts_us,
      |    SUM(ns) OVER (PARTITION BY user_id ORDER BY ts_us
      |                  ROWS UNBOUNDED PRECEDING) AS seq
      |  FROM f)
      |SELECT CAST(MIN(ts_us) AS BIGINT) AS sess_start_us, user_id,
      |  COUNT(*) AS n_events
      |FROM s
      |GROUP BY user_id, seq
      |ORDER BY user_id, sess_start_us""".stripMargin

  // st05 — ARBITRARY keyed state under the DuckDB oracle: per-user
  // running (count, total) maintained by flatMapGroupsWithState — the
  // custom-state API the built-in windows can't express — emitting the
  // cumulative figures every micro-batch. Determinism comes from two
  // choices: totals accumulate as fixed-point longs (value × 100 — the
  // cdcm2 trick), so the stream-order fold equals the oracle's batch sum
  // exactly; and both emitted figures are strictly MONOTONE per user
  // (positive values by data contract, counts by construction), so the
  // final state is recoverable from the append-mode sink as the max
  // emission per key — no reliance on sink row order or a "latest"
  // marker. NoTimeout: the run is finite (AvailableNow), state eviction
  // is not the thing under test; a production deployment would use an
  // idle TTL like [[runningTotals]].
  def st05RunningState(s: SparkSession, d: String): DataFrame = synchronized {
    import s.implicits._
    val src = eventsStream(s, d)
      .select($"user_id", round($"value" * 100).cast("long").as("v100"))
      .as[(Long, Long)]
    val updated = src.groupByKey(_._1)
      .flatMapGroupsWithState[(Long, Long), (Long, Long, Long)](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (uid: Long, rows: Iterator[(Long, Long)],
         state: GroupState[(Long, Long)]) =>
          val (n0, t0) = state.getOption.getOrElse((0L, 0L))
          var n = n0
          var t = t0
          rows.foreach { r => n += 1; t += r._2 }
          state.update((n, t))
          Iterator((uid, n, t))
      }
    val q = updated.toDF("user_id", "n_events", "total_e2")
      .writeStream.format("memory").queryName("graft_st05_sink")
      .outputMode(OutputMode.Append)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    s.table("graft_st05_sink")
      .groupBy($"user_id")
      // field order load-bearing: n_events (strictly increasing per
      // user) must lead so the lexicographic max picks the LAST
      // emission — total_e2 alone is not monotone for negative values
      .agg(max(struct($"n_events", $"total_e2")).as("m"))
      .select($"user_id", $"m.n_events".as("n_events"),
        $"m.total_e2".as("total_e2"))
      .orderBy($"user_id")
  }

  val st05Sql: String =
    """SELECT user_id, COUNT(*) AS n_events,
      |  CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS total_e2
      |FROM events
      |GROUP BY user_id
      |ORDER BY user_id""".stripMargin

  // st05b — st05's arbitrary keyed state through a DURABLE sink: the
  // flatMapGroupsWithState running totals run over a 3-file staging
  // (cumulative figures emitted per touched user per micro-batch, out of
  // event-time order within batches) into the native exactly-once
  // parquet file sink. No sentinel needed: flatMapGroupsWithState in
  // append mode emits eagerly every trigger — nothing is held back by a
  // watermark — so AvailableNow drains completely; durability comes
  // from the sink's commit log alone. The read-back fold is the same
  // max(struct(n_events, total_e2)) per user st05 uses. The invariant
  // that makes it correct is NOT that both fields grow (total_e2 is
  // not monotone when value is negative): it is that n_events — the
  // FIRST struct field, which dominates the lexicographic max — is
  // strictly increasing across a user's emissions, so the max selects
  // the chronologically last emission and total_e2 merely rides along.
  // Field order in that struct is load-bearing. The final state is
  // thus recoverable from ANY emission set containing the last one —
  // the property that makes this sink shape restart-safe without
  // coordination. Completes the durable-twin
  // matrix: windows (st01b), enrich rollup (st03b), sessions (st04b),
  // arbitrary keyed state (here).
  def st05bDurableState(s: SparkSession, d: String): DataFrame =
    graft.operators.CdcBinlog.withRotatingWorkdir("graft-st05b") { work =>
      import s.implicits._
      val src = eventsStreamMultiFile(s, d, 3)
        .select($"user_id", round($"value" * 100).cast("long").as("v100"))
        .as[(Long, Long)]
      val updated = src.groupByKey(_._1)
        .flatMapGroupsWithState[(Long, Long), (Long, Long, Long)](
          OutputMode.Append, GroupStateTimeout.NoTimeout) {
          (uid: Long, rows: Iterator[(Long, Long)],
           state: GroupState[(Long, Long)]) =>
            val (n0, t0) = state.getOption.getOrElse((0L, 0L))
            var n = n0
            var t = t0
            rows.foreach { r => n += 1; t += r._2 }
            state.update((n, t))
            Iterator((uid, n, t))
        }
      val out = work.resolve("totals").toString
      val q = updated.toDF("user_id", "n_events", "total_e2")
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", work.resolve("ckpt").toString)
        .outputMode(OutputMode.Append)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      s.read.parquet(out)
        .groupBy($"user_id")
        // field order load-bearing: n_events (strictly increasing per
      // user) must lead so the lexicographic max picks the LAST
      // emission — total_e2 alone is not monotone for negative values
      .agg(max(struct($"n_events", $"total_e2")).as("m"))
        .select($"user_id", $"m.n_events".as("n_events"),
          $"m.total_e2".as("total_e2"))
        .orderBy($"user_id")
        .localCheckpoint(true) // detach from the rotating workdir
        .orderBy($"user_id")
    }

  // st08 — BACKFILL ∪ LIVE with seam dedup (the lambda-architecture
  // merge): a historical slice (oldest 70 % by event time) and a live
  // slice (newest 50 %) of the SAME log are read as two independent
  // file streams, unioned, and deduplicated on event_id with
  // `dropDuplicatesWithinWatermark` — every row in the [50 %, 70 %]
  // overlap arrives TWICE, from different sources in different
  // micro-batches, and must survive exactly once. This is the topology
  // every cutover/backfill runs (replay history next to the live feed
  // and fence the seam), and the state story is the honest one: the
  // dedup retention must cover the seam's event-time span — the
  // watermark delay is sized to the overlap, so state is bounded by the
  // seam width, not the stream length (st02's eviction lesson, applied
  // to a union). Deduped rows append eagerly (nothing watermark-held)
  // through the native exactly-once parquet sink; the read-back is a
  // plain batch rollup hash-matched against the WHOLE undivided log —
  // it can only match if the union covered everything and the seam
  // deduped exactly. The gate requires a non-empty overlap up front (an
  // empty seam would prove nothing).
  /** The st08 streaming pipeline (two overlapping staged sources →
    * union → seam dedup → slim (user_id, v100) rows), factored so the
    * gate and `StreamRestartSpec`'s union-restart proof run the SAME
    * code. `filesPerSide` sizes the staging (more files → more
    * micro-batches — the restart proof needs room to kill mid-stream).
    */
  private[graft] def st08Deduped(s: SparkSession, d: String,
                                 filesPerSide: Int = 2): DataFrame = {
    import s.implicits._
    val ev = graft.core.Tables.events(s, d).toDF()
    // data-derived seam cuts (epoch seconds; regeneration-proof)
    val mm = ev.agg(min($"ts".cast("long")), max($"ts".cast("long"))).head()
    val (lo, hi) = (mm.getLong(0), mm.getLong(1))
    val t50 = lo + (hi - lo) / 2
    val t70 = lo + (hi - lo) * 7 / 10
    val nOverlap = ev.filter($"ts".cast("long").between(t50, t70)).count()
    require(nOverlap > 0, "empty backfill/live seam — dedup would be vacuous")
    val dirKey = graft.binlog.BinlogReader.toHex(
      java.security.MessageDigest.getInstance("MD5")
        .digest(d.getBytes("UTF-8"))).take(16)
    val staged = java.nio.file.Paths.get(
      sys.props("java.io.tmpdir"), s"graft-events-union-$dirKey-$filesPerSide")
    StreamOps.synchronized {
      if (!java.nio.file.Files.exists(staged.resolve("a/_SUCCESS")) ||
          !java.nio.file.Files.exists(staged.resolve("b/_SUCCESS"))) {
        ev.filter($"ts".cast("long") <= t70).repartition(filesPerSide)
          .write.mode("overwrite").parquet(staged.resolve("a").toString)
        ev.filter($"ts".cast("long") >= t50).repartition(filesPerSide)
          .write.mode("overwrite").parquet(staged.resolve("b").toString)
      }
    }
    val schema = s.read.parquet(staged.resolve("a").toString).schema
    def src(sub: String) = s.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(staged.resolve(sub).toString)
    src("a").unionByName(src("b"))
      // retention sized to the REPLAY HORIZON, not the seam: the live
      // source runs ahead of the historical replay by up to the whole
      // backfill, so the watermark can pass a seam row's expiry before
      // its second copy arrives from the slower source — a seam-sized
      // delay risks re-admitting that duplicate. Rows are never LOST
      // either way (DedupLateRowSpec pins that this operator passes
      // late input through); the horizon-sized delay additionally
      // guarantees no state expires mid-replay, so the seam dedups
      // under ANY admission interleaving. State is then bounded by the
      // replay's distinct keys — the honest cost of a bounded
      // backfill; a continuous pipeline would coordinate admission
      // (fence the seam) instead of holding state forever.
      .withWatermark("ts", s"${hi - lo + 60} seconds")
      .dropDuplicatesWithinWatermark("event_id")
      .select($"user_id", round($"value" * 100).cast("long").as("v100"))
  }

  def st08BackfillUnion(s: SparkSession, d: String): DataFrame =
    graft.operators.CdcBinlog.withRotatingWorkdir("graft-st08") { work =>
      import s.implicits._
      val out = work.resolve("rows").toString
      val q = st08Deduped(s, d).writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", work.resolve("ckpt").toString)
        .outputMode(OutputMode.Append)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      s.read.parquet(out)
        .groupBy($"user_id")
        .agg(count(lit(1)).as("n_events"), sum($"v100").as("total_e2"))
        .orderBy($"user_id")
        .localCheckpoint(true) // detach from the rotating workdir
        .orderBy($"user_id")
    }

  // st09 — STREAM-STATIC ANTI JOIN (denylist scrubbing): the ingest-side
  // curation filter — drop every event from a denylisted user before it
  // reaches storage. st03 proves the stream-static INNER (enrichment)
  // path; anti is its own join path with its own planning (broadcast
  // null-aware semantics don't arise here — equi-anti on a non-null key
  // plans as a per-batch broadcast hash anti join, the stream never
  // shuffles). The denylist is computed from the SAME log (users whose
  // error count is strictly above the per-user average — data-derived,
  // regeneration-proof, never empty when errors exist and never
  // everyone), which also makes the oracle a pure-SQL replay. Filtered
  // rows append eagerly (stateless — no watermark, no finalization
  // concerns) through the exactly-once parquet sink; read-back rollup
  // hash-matches the batch anti-filter.
  def st09DenylistFilter(s: SparkSession, d: String): DataFrame =
    graft.operators.CdcBinlog.withRotatingWorkdir("graft-st09") { work =>
      import s.implicits._
      val ev = graft.core.Tables.events(s, d).toDF()
      // denylist: error counts strictly above the mean (integer
      // cross-multiplied compare — no FP threshold to disagree on)
      val errs = ev.filter($"event_type" === "error")
        .groupBy($"user_id").agg(count(lit(1)).as("n_err"))
      val tot = errs.agg(sum($"n_err").as("t"), count(lit(1)).as("u")).head()
      val (t, u) = (tot.getLong(0), tot.getLong(1))
      val deny = errs.filter($"n_err" * u > t).select($"user_id")
      val kept = eventsStreamMultiFile(s, d, 2)
        .join(broadcast(deny), Seq("user_id"), "left_anti")
        .select($"event_type", round($"value" * 100).cast("long").as("v100"))
      val out = work.resolve("rows").toString
      val q = kept.writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", work.resolve("ckpt").toString)
        .outputMode(OutputMode.Append)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      s.read.parquet(out)
        .groupBy($"event_type")
        .agg(count(lit(1)).as("n_events"), sum($"v100").as("total_e2"))
        .orderBy($"event_type")
        .localCheckpoint(true) // detach from the rotating workdir
        .orderBy($"event_type")
    }

  val st09Sql: String =
    """WITH errs AS (
      |  SELECT user_id, COUNT(*) AS n_err FROM events
      |  WHERE event_type = 'error' GROUP BY user_id),
      |tot AS (SELECT SUM(n_err) AS t, COUNT(*) AS u FROM errs),
      |deny AS (SELECT user_id FROM errs, tot WHERE n_err * u > t)
      |SELECT event_type, COUNT(*) AS n_events,
      |  CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS total_e2
      |FROM events
      |WHERE user_id NOT IN (SELECT user_id FROM deny)
      |GROUP BY event_type
      |ORDER BY event_type""".stripMargin

  // st06 — STREAM-STREAM interval join under the DuckDB oracle: view
  // events joined to purchase events by the same user within the
  // following hour — the attribution shape, and Structured Streaming's
  // hardest primitive (both sides buffer keyed state; the watermark plus
  // the explicit time-range condition bound how long a view waits for
  // its purchases, so state is evicted as event time advances instead of
  // growing with the stream). INNER join emits eagerly on match — no
  // final-watermark loss for the last rows (the outer-join finalization
  // pitfall does not apply), so AvailableNow + append drains completely.
  // The delay rides out as exact integer microseconds; inclusive bounds
  // are written identically on both engines so boundary-equal timestamps
  // cannot flip.
  def st06StreamJoin(s: SparkSession, d: String): DataFrame = synchronized {
    import s.implicits._
    val views = eventsStream(s, d).filter($"event_type" === "view")
      .select($"user_id".as("v_user"), $"event_id".as("view_id"),
        $"ts".as("vt"))
      .withWatermark("vt", "1 hour")
    val purchases = eventsStream(s, d).filter($"event_type" === "purchase")
      .select($"user_id".as("p_user"), $"event_id".as("purchase_id"),
        $"ts".as("pt"))
      .withWatermark("pt", "1 hour")
    val joined = views.join(purchases,
        $"v_user" === $"p_user" &&
          $"pt" >= $"vt" && $"pt" <= $"vt" + expr("INTERVAL 1 HOUR"))
      .select($"v_user".as("user_id"), $"view_id", $"purchase_id",
        (unix_micros($"pt") - unix_micros($"vt")).as("delay_us"))
    val q = joined.writeStream.format("memory").queryName("graft_st06_sink")
      .outputMode(OutputMode.Append)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    s.table("graft_st06_sink").orderBy($"user_id", $"view_id", $"purchase_id")
  }

  val st06Sql: String =
    """SELECT v.user_id AS user_id, v.event_id AS view_id,
      |  p.event_id AS purchase_id,
      |  epoch_us(p.ts) - epoch_us(v.ts) AS delay_us
      |FROM events v JOIN events p
      |  ON v.user_id = p.user_id
      | AND v.event_type = 'view' AND p.event_type = 'purchase'
      | AND p.ts >= v.ts AND p.ts <= v.ts + INTERVAL 1 HOUR
      |ORDER BY v.user_id, view_id, purchase_id""".stripMargin

  // ---------------------------------------------------------------------
  // Durable finalization for windowed streaming aggregations.
  //
  // The st01/st03/st04 gates read back through COMPLETE-mode memory sinks
  // — driver-resident and whole-result-per-trigger, a gate-harness device,
  // not a production sink (complete mode re-emits EVERY group every
  // trigger, O(|groups|) per batch forever). Append mode is not the
  // answer either: with AvailableNow the final watermark never passes the
  // last windows, so their rows are silently dropped (st01's pitfall).
  //
  // The production shape is UPDATE mode + foreachBatch into a
  // structure on `Layout`'s segment protocol — cdcm2's replay-idempotent
  // protocol applied to windowed aggregates. Each trigger emits only the
  // groups it touched (O(|updated|), not O(|groups|)), each batch appends
  // its OWN `seg=b<id>` segment (a replayed batch rewrites exactly that
  // segment, or is skipped once a fold consumed it — idempotence by
  // addressing, no transactional sink needed), and the read folds
  // LATEST-WINS per group by segment ordinal (update mode emits full
  // current aggregates, so unlike cdcm2's signed deltas the fold is
  // argmax-by-batch, not a sum). Nothing is ever dropped by
  // finalization: every window's last update is durable the moment its
  // batch commits, whether or not the watermark ever passed it.
  //
  // At 100 TB: per trigger this moves |touched groups| slim rows; the
  // state store holds open windows only (bound it with a watermark in a
  // continuous deployment); [[compactWindowedAgg]] bounds read fan-out at
  // O(batches since last compaction), same contract as cdcm2's compactor.
  // ---------------------------------------------------------------------

  /** Start maintaining a durable view of a streaming aggregation.
    * `agg` must be a streaming aggregate whose rows are keyed by
    * `keyCols` (one row per key per trigger in update mode).
    */
  def maintainWindowedAgg(agg: DataFrame, tablePath: String, checkpoint: String,
                          trigger: org.apache.spark.sql.streaming.Trigger =
                            org.apache.spark.sql.streaming.Trigger.AvailableNow())
      : org.apache.spark.sql.streaming.StreamingQuery =
    agg.writeStream
      .outputMode(OutputMode.Update)
      .trigger(trigger)
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        writeWindowedUpdates(batch, tablePath, batchId)
      }
      .start()

  /** One batch's updated groups, appended as the batch's own segment
    * (an at-least-once replay rewrites exactly its rows, or is skipped
    * once a fold consumed them).
    */
  private[streaming] def writeWindowedUpdates(batch: DataFrame, tablePath: String,
                                              batchId: Long): Unit = {
    val segment = graft.operators.Layout.segmentOf(batchId)
    graft.operators.Layout.append(batch.sparkSession, tablePath, segment)(out =>
      Seq(() => out.write("", batch)))
  }

  /** Per `keyCols` group of the committed segments read as `segs`, the
    * aggregate columns from the group's LATEST update: argmax by segment
    * ordinal, with `seg=base` — a pre-folded snapshot, older than every
    * segment by the fold contract — ordered first.
    */
  private def latestWins(segs: DataFrame, keyCols: Seq[String]): DataFrame = {
    val all = segs.withColumn("_b", graft.operators.Layout.segmentOrder).drop("seg")
    val valCols = all.columns.filterNot((keyCols :+ "_b").toSet).toSeq
    all.groupBy(keyCols.map(col): _*)
      .agg(max(struct((col("_b") +: valCols.map(col)): _*)).as("_m"))
      .select(keyCols.map(col) ++ valCols.map(c => col(s"_m.$c").as(c)): _*)
  }

  /** Current view: per `keyCols` group, the aggregate columns from that
    * group's LATEST update (update mode emits full current aggregates, so
    * the newest row IS the group's value).
    */
  def readWindowedAgg(s: SparkSession, tablePath: String,
                      keyCols: Seq[String]): DataFrame = {
    val view = graft.operators.Layout.committedView(s, tablePath)
    require(view.isDefined, s"no windowed-agg state under $tablePath")
    latestWins(view.get.read(""), keyCols)
  }

  /** Fold the committed segments into a fresh `seg=base` through
    * [[graft.operators.Layout.fold]] — the read-fan-out bound, under
    * cdcm2's [[CdcMaterializer.compactAggregate]] contract: run between
    * triggers, never concurrently with the maintaining stream.
    */
  def compactWindowedAgg(s: SparkSession, tablePath: String,
                         keyCols: Seq[String]): Unit =
    graft.operators.Layout.fold(s, tablePath) { (view, out) =>
      out.write("", latestWins(view.read(""), keyCols))
    }

  /** Streaming view of the events table staged as `nFiles` parquet files,
    * so `maxFilesPerTrigger=1` yields `nFiles` real micro-batches (the
    * single-file staging of [[eventsStream]] always runs as one batch —
    * useless for exercising cross-batch update folds). Files are split by
    * repartition, so windows SPAN batches and arrive out of event-time
    * order — the adversarial case for the latest-wins fold. Staged once
    * per (dir, nFiles) — the table is immutable per dir.
    */
  def eventsStreamMultiFile(spark: SparkSession, dir: String,
                            nFiles: Int): DataFrame = synchronized {
    val dirKey = graft.binlog.BinlogReader.toHex(
      java.security.MessageDigest.getInstance("MD5").digest(dir.getBytes("UTF-8"))).take(16)
    val staged = java.nio.file.Paths.get(
      sys.props("java.io.tmpdir"), s"graft-events-multi-$dirKey-$nFiles")
    if (!java.nio.file.Files.exists(staged.resolve("_SUCCESS")))
      graft.core.Tables.events(spark, dir).toDF()
        .repartition(nFiles)
        .write.mode("overwrite").parquet(staged.toString)
    val schema = spark.read.parquet(staged.toString).schema
    spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(staged.toString)
  }

  // st01b — st01's aggregation through the DURABLE finalization path,
  // under the same DuckDB oracle: the sliding-window rollup runs in
  // UPDATE mode over a 4-file staging (maxFilesPerTrigger=1 → 4 real
  // micro-batches; repartition splits windows ACROSS batches and out of
  // event-time order), each batch lands as its own `seg=b<id>`
  // segment, and the result is the latest-wins fold — which
  // hash-matches the batch oracle only if every window's final update
  // survives finalization and the fold picks exactly the newest row per
  // group. The memory-sink gates prove the aggregation; this one proves
  // the production sink protocol end-to-end.
  def st01bDurableWindow(s: SparkSession, d: String): DataFrame =
    graft.operators.CdcBinlog.withRotatingWorkdir("graft-st01b") { work =>
      import s.implicits._
      import org.apache.spark.sql.types.DecimalType
      val agg = eventsStreamMultiFile(s, d, 4)
        .groupBy(window($"ts", "2 hours", "1 hour"), $"event_type")
        .agg(count(lit(1)).as("n_events"),
          round(sum($"value".cast(DecimalType(38, 10))), 2).cast("double")
            .as("sum_value"))
        .select(
          date_format($"window.start", "yyyy-MM-dd HH:mm:ss").as("window_start"),
          $"event_type", $"n_events", $"sum_value")
      val view = work.resolve("view").toString
      val q = maintainWindowedAgg(agg, view, work.resolve("ckpt").toString)
      q.awaitTermination()
      readWindowedAgg(s, view, Seq("window_start", "event_type"))
        .orderBy($"window_start", $"event_type")
        .localCheckpoint(true)
        .orderBy($"window_start", $"event_type")
    }

  // st03b — st03's enrichment rollup through the DURABLE finalization
  // path: the same fact-stream ⋈ broadcast-dimension → windowed rollup
  // runs in UPDATE mode over a 2-file staging (windows span micro-batches
  // and arrive out of event-time order), appends batch-addressed update
  // segments via [[maintainWindowedAgg]], and the latest-wins fold is
  // hash-matched against st03's batch oracle. Together with st01b this
  // retires the complete-mode memory sink as anything but a gate-harness
  // device for the windowed-aggregation family: both the plain and the
  // join-upstream shapes now have a proven production sink protocol.
  def st03bDurableEnrich(s: SparkSession, d: String): DataFrame =
    graft.operators.CdcBinlog.withRotatingWorkdir("graft-st03b") { work =>
      import s.implicits._
      import org.apache.spark.sql.types.DecimalType
      val dim = graft.core.Tables.customer(s, d).toDF()
        .select($"c_custkey", $"c_mktsegment")
      val agg = eventsStreamMultiFile(s, d, 2)
        .join(broadcast(dim), $"user_id" === $"c_custkey")
        .groupBy(window($"ts", "1 day"), $"c_mktsegment")
        .agg(count(lit(1)).as("n_events"),
          round(sum($"value".cast(DecimalType(38, 10))), 2).cast("double")
            .as("sum_value"))
        .select(
          date_format($"window.start", "yyyy-MM-dd HH:mm:ss").as("window_start"),
          $"c_mktsegment", $"n_events", $"sum_value")
      val view = work.resolve("view").toString
      val q = maintainWindowedAgg(agg, view, work.resolve("ckpt").toString)
      q.awaitTermination()
      readWindowedAgg(s, view, Seq("window_start", "c_mktsegment"))
        .orderBy($"window_start", $"c_mktsegment")
        .localCheckpoint(true)
        .orderBy($"window_start", $"c_mktsegment")
    }

  /** [[eventsStreamMultiFile]] plus a FINAL sentinel file: two rows for a
    * reserved user (−1) — one 'view', one 'purchase', so both branches of
    * a two-sided consumer see it — stamped 30 days past the table's max
    * event time and admitted LAST (file-source admission is oldest-mtime
    * first; the staging pins mtimes explicitly). Purpose: watermark
    * advancement for FINITE replays. With AvailableNow the watermark
    * derived from real data never passes the last windows/sessions, so
    * append-mode results are silently dropped at stream end (st01's
    * pitfall); the sentinel drives the watermark past everything real,
    * and the engine's closing no-data micro-batch finalizes and emits all
    * remaining state to the sink. This is the standard production
    * technique for draining a bounded backfill through a streaming
    * pipeline — a heartbeat event, not an engine hook — and consumers
    * filter the reserved user out. At 100 TB nothing changes: the
    * sentinel is one row per source partition's tail.
    *
    * Unlike [[eventsStreamMultiFile]] (random split — fine for
    * watermark-free consumers), the data files are RANGE-SPLIT BY EVENT
    * TIME and admitted in time order, so no row ever arrives behind the
    * watermark, at any `nFiles`. A random split only survives a
    * watermarked consumer by a one-batch lag in the engine's late-event
    * filter (Spark filters late rows with the PREVIOUS batch's watermark
    * and evicts with the current one — measured here: a batch whose rows
    * all trailed the reported watermark by hours had
    * numRowsDroppedByWatermark=0), which runs out at 3+ files. Time-
    * ordered admission is also what a real backfill replay does. Windows
    * and sessions still span batches: range boundaries cut through them,
    * and rows WITHIN a file stay unordered.
    */
  def eventsStreamWithSentinel(spark: SparkSession, dir: String,
                               nFiles: Int): DataFrame = synchronized {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    import java.nio.file.attribute.FileTime
    import scala.jdk.CollectionConverters._
    val dirKey = graft.binlog.BinlogReader.toHex(
      java.security.MessageDigest.getInstance("MD5").digest(dir.getBytes("UTF-8"))).take(16)
    val staged = Paths.get(
      sys.props("java.io.tmpdir"), s"graft-events-sent2-$dirKey-$nFiles")
    val marker = staged.resolve("_SENTINEL_STAGED")
    if (!Files.exists(marker)) {
      import spark.implicits._
      val ev = graft.core.Tables.events(spark, dir).toDF()
      ev.repartitionByRange(nFiles, $"ts")
        .write.mode("overwrite").parquet(staged.toString)
      val maxTs = ev.agg(max($"ts")).head().getTimestamp(0)
      val sentTs = new java.sql.Timestamp(maxTs.getTime + 30L * 24 * 3600 * 1000)
      val sentinel = Seq(
        (-1L, sentTs, -1L, "view", 0.0, Option.empty[String]),
        (-2L, sentTs, -1L, "purchase", 0.0, Option.empty[String]))
        .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .select(ev.columns.map(col): _*) // loud on testdata schema drift
      val tmpOut = staged.resolve("sentinel-tmp")
      sentinel.coalesce(1).write.mode("overwrite").parquet(tmpOut.toString)
      val part = {
        val s0 = Files.list(tmpOut)
        try s0.filter(p => p.getFileName.toString.startsWith("part-"))
          .findFirst().orElseThrow()
        finally s0.close()
      }
      val dest = staged.resolve("zzz-sentinel.parquet")
      Files.move(part, dest, StandardCopyOption.REPLACE_EXISTING)
      val tw = Files.walk(tmpOut)
      try tw.sorted(java.util.Comparator.reverseOrder())
        .forEach(p => Files.delete(p))
      finally tw.close()
      // admission order = mtime, ascending: range partition k writes as
      // part-0000k (lowest ts range first), so name order IS time order;
      // stamp it explicitly rather than trusting tie-breaks, sentinel last
      val t0 = System.currentTimeMillis() - 3600000L
      val ls = Files.list(staged)
      val dataFiles =
        try ls.iterator().asScala
          .filter(p => p.getFileName.toString.startsWith("part-") &&
            p.getFileName.toString.endsWith(".parquet"))
          .toSeq.sortBy(_.getFileName.toString)
        finally ls.close()
      dataFiles.zipWithIndex.foreach { case (p, i) =>
        Files.setLastModifiedTime(p, FileTime.fromMillis(t0 + i * 1000L))
      }
      Files.setLastModifiedTime(dest, FileTime.fromMillis(t0 + 1800000L))
      Files.createFile(marker) // underscore-prefixed: invisible to listings
    }
    val schema = spark.read.parquet(staged.toString).schema
    spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(staged.toString)
  }

  // st04b — st04's session windows through a DURABLE sink. Session
  // windows reject update mode (state merges can re-key a session, so
  // "latest row per key" is not a fold — Spark disallows it), which rules
  // out the st01b protocol; the production finalization shape for
  // sessions is APPEND mode into the native exactly-once parquet file
  // sink, with the watermark advanced past all real data by a sentinel
  // heartbeat ([[eventsStreamWithSentinel]]) so the engine's closing
  // no-data batch finalizes every session. Each emitted row is final by
  // the append contract — durable the moment its batch commits, readable
  // atomically through the sink's _spark_metadata log. Hash-matching
  // st04's oracle proves no session was dropped or double-emitted across
  // the multi-batch, out-of-order staging.
  def st04bDurableSession(s: SparkSession, d: String): DataFrame =
    graft.operators.CdcBinlog.withRotatingWorkdir("graft-st04b") { work =>
      import s.implicits._
      val agg = eventsStreamWithSentinel(s, d, 3)
        .withWatermark("ts", "10 minutes")
        .groupBy(session_window($"ts", "30 minutes").as("sw"), $"user_id")
        .agg(count(lit(1)).as("n_events"))
        .select(unix_micros($"sw.start").as("sess_start_us"), $"user_id",
          $"n_events")
      val out = work.resolve("sessions").toString
      val q = agg.writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", work.resolve("ckpt").toString)
        .outputMode(OutputMode.Append)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      s.read.parquet(out).filter($"user_id" =!= -1L)
        .orderBy($"user_id", $"sess_start_us")
        .localCheckpoint(true) // detach from the rotating workdir
        .orderBy($"user_id", $"sess_start_us")
    }

  // st07 — stream-stream LEFT OUTER interval join under the DuckDB
  // oracle: every view, matched to same-user purchases in the following
  // hour OR emitted once with nulls if none arrive. The outer side is
  // Structured Streaming's hardest finalization problem — an unmatched
  // row may only emit once the watermark proves no match can still
  // arrive (past view-time + 1 h + delay), which with AvailableNow never
  // happens for the stream's tail; the sentinel heartbeat drives the
  // watermark past everything, and the closing no-data batch emits the
  // null-padded remainder. Both branches filter a sentinel row of their
  // own event type so BOTH watermark operators advance (the global
  // watermark is the min across them). State on each side is evicted by
  // the same watermark + time-range bound as st06 — O(active hour), not
  // O(stream).
  def st07StreamOuterJoin(s: SparkSession, d: String): DataFrame = synchronized {
    import s.implicits._
    val views = eventsStreamWithSentinel(s, d, 2)
      .filter($"event_type" === "view")
      .select($"user_id".as("v_user"), $"event_id".as("view_id"),
        $"ts".as("vt"))
      .withWatermark("vt", "1 hour")
    val purchases = eventsStreamWithSentinel(s, d, 2)
      .filter($"event_type" === "purchase")
      .select($"user_id".as("p_user"), $"event_id".as("purchase_id"),
        $"ts".as("pt"))
      .withWatermark("pt", "1 hour")
    val joined = views.join(purchases,
        $"v_user" === $"p_user" &&
          $"pt" >= $"vt" && $"pt" <= $"vt" + expr("INTERVAL 1 HOUR"),
        "left_outer")
      // The sentinel is NOT filtered here: a `v_user =!= -1` predicate
      // would be pushed below the left branch's EventTimeWatermark
      // operator (legal — it doesn't touch the event-time column), the
      // heartbeat would never reach the watermark node, and the last
      // real unmatched view would silently never finalize (observed:
      // exactly the stream-tail view dropped). Heartbeats flow through
      // the join; consumers filter the reserved user downstream.
      .select($"v_user".as("user_id"), $"view_id", $"purchase_id",
        (unix_micros($"pt") - unix_micros($"vt")).as("delay_us"))
    val q = joined.writeStream.format("memory").queryName("graft_st07_sink")
      .outputMode(OutputMode.Append)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    // null purchase_ids order FIRST on both engines (Spark asc default;
    // oracle says NULLS FIRST explicitly — DuckDB defaults NULLS LAST)
    s.table("graft_st07_sink")
      .filter($"user_id" =!= -1L) // drop the sentinel heartbeat pair
      .orderBy($"user_id", $"view_id", asc_nulls_first("purchase_id"))
  }

  val st07Sql: String =
    """SELECT v.user_id AS user_id, v.event_id AS view_id,
      |  p.event_id AS purchase_id,
      |  epoch_us(p.ts) - epoch_us(v.ts) AS delay_us
      |FROM (SELECT * FROM events WHERE event_type = 'view') v
      |LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
      |  ON v.user_id = p.user_id
      | AND p.ts >= v.ts AND p.ts <= v.ts + INTERVAL 1 HOUR
      |ORDER BY user_id, view_id, purchase_id NULLS FIRST""".stripMargin

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "st03b_durable_enrich" -> st03bDurableEnrich _,
    "st04b_durable_session" -> st04bDurableSession _,
    "st05b_durable_state" -> st05bDurableState _,
    "st08_backfill_union" -> st08BackfillUnion _,
    "st09_denylist_filter" -> st09DenylistFilter _,
    "st07_stream_outer_join" -> st07StreamOuterJoin _,
    "st01b_durable_window" -> st01bDurableWindow _,
    "st01_sliding_window" -> st01SlidingWindow _,
    "st02_stream_dedup" -> st02StreamDedup _,
    "st03_stream_enrich" -> st03StreamEnrich _,
    "st04_session_window" -> st04SessionWindow _,
    "st05_running_state" -> st05RunningState _,
    "st06_stream_join" -> st06StreamJoin _)

  def oracles: Map[String, String] = Map(
    "st03b_durable_enrich" -> st03Sql,
    "st04b_durable_session" -> st04Sql,
    "st05b_durable_state" -> st05Sql,
    "st08_backfill_union" -> st05Sql,
    "st09_denylist_filter" -> st09Sql,
    "st07_stream_outer_join" -> st07Sql,
    "st01b_durable_window" -> st01Sql,
    "st01_sliding_window" -> st01Sql,
    "st02_stream_dedup" -> st02Sql,
    "st03_stream_enrich" -> st03Sql,
    "st04_session_window" -> st04Sql,
    "st05_running_state" -> st05Sql,
    "st06_stream_join" -> st06Sql)

  case class UserEvent(user_id: Long, event_type: String, value: Double)
  case class UserRunning(user_id: Long, n_events: Long, running_sum: Double)

  /** Arbitrary keyed state — the Spark-native form of the reference's
    * running-sum callback demo (`mysql_bench.clj:315-334`): per-user event
    * count + running value sum, emitted on every update.
    *
    * State is BOUNDED: a user idle for `idleTtl` is evicted
    * (processing-time timeout) — without it, state grows with every
    * user_id ever seen, which is unbounded on a churning id space. The
    * cost is inherent to evicting a cumulative aggregate: an evicted user
    * who returns restarts from zero (a production pipeline that needs
    * exact forever-totals keeps them in a durable sink and treats this
    * state as a cache).
    */
  private[streaming] def runningUpdate(idleTtl: String)(
      userId: Long, rows: Iterator[UserEvent],
      state: GroupState[UserRunning]): Iterator[UserRunning] =
    if (state.hasTimedOut) { state.remove(); Iterator.empty }
    else {
      val prev = state.getOption.getOrElse(UserRunning(userId, 0L, 0.0))
      var n = prev.n_events
      var s = prev.running_sum
      rows.foreach { e => n += 1; s += e.value }
      val next = UserRunning(userId, n, s)
      state.update(next)
      state.setTimeoutDuration(idleTtl)
      Iterator(next)
    }

  def runningTotals(events: DataFrame,
                    idleTtl: String = "7 days"): Dataset[UserRunning] = {
    val spark = events.sparkSession
    import spark.implicits._
    events.select($"user_id", $"event_type", $"value").as[UserEvent]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[UserRunning, UserRunning](
        OutputMode.Append, GroupStateTimeout.ProcessingTimeTimeout)(
        runningUpdate(idleTtl))
  }

  /** CDC change stream from binlog files → cumulative running aggregate
    * over the update stream (per table: update count + sum of after-image
    * `val`) — the Spark-native form of the reference's callback
    * running-sum demo (`mysql_bench.clj:315-334`), which likewise folds
    * EVERY arriving after-image (superseded images included) into the
    * running figure. State is one aggregate row per table — bounded by
    * table count, not row count, so no watermark is needed. For
    * latest-image-per-KEY semantics use [[CdcMaterializer]] instead.
    */
  def cdcRunningSum(spark: SparkSession, binlogDir: String, payloadDdl: String): DataFrame = {
    import spark.implicits._
    spark.readStream.format("mysql-binlog")
      .option("payloadDdl", payloadDdl)
      .load(binlogDir)
      .filter($"_delta_type" === "update")
      .groupBy($"table")
      .agg(count(lit(1)).as("n_updates"), sum($"val").as("sum_val"))
  }
}
