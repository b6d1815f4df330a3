package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Storage-layout optimization: Z-order clustering for multi-dimensional
  * data skipping (SURVEY §2.18).
  *
  * The reference serves scans straight off the binlog; at 100 TB the
  * table a pipeline actually queries is the materialized parquet, and
  * the scan cost there is decided by LAYOUT: parquet pruning compares a
  * predicate against per-file (and per-row-group) column min/max, so a
  * file is skipped only if its envelope misses the predicate box. A
  * linear sort gives tight envelopes on the leading column ONLY — every
  * file spans the full range of every other column, and any query not
  * filtering on the sort key reads the whole table. Z-order interleaves
  * the bits of all clustered columns ([[graft.functions.ZOrderLong]]),
  * so sorted-adjacent rows are close in EVERY dimension and each file's
  * envelope is a small hyper-rectangle: queries filtering on any subset
  * of the clustered columns skip most files. This is the technique
  * behind Delta/Iceberg OPTIMIZE ZORDER, built here from Spark
  * primitives: scale each dimension into [0, 2^bits), Morton-interleave
  * (native codegen'd expression), `repartitionByRange` on the key (range
  * boundaries from Spark's reservoir sample — one extra slim pass), sort
  * within partitions, write.
  *
  * Cost model at scale: one min/max agg over the clustered columns (at
  * 100 TB these come equally well from table statistics — recomputing
  * keeps the op self-contained), the range sampler's scan, and ONE full
  * shuffle of the table — the same shuffle any re-partitioning write
  * pays; the z-key computation itself is a per-row bit shuffle inside
  * whole-stage codegen. `ZOrderSpec` proves the payoff mechanically:
  * per-file envelopes from a z-ordered write prune a trailing-dimension
  * box that a linear layout cannot prune at all.
  */
object Layout {

  /** Per-dimension linear min-max scaling into [0, 2^bits) as LONG
    * columns, from one slim agg over `df`. Degenerate dimensions
    * (min == max) scale to bucket 0.
    */
  private def scaledDims(df: DataFrame, cols: Seq[String], bits: Int) = {
    val aggs = cols.flatMap(c => Seq(
      min(col(c)).cast("double").as(s"min_$c"),
      max(col(c)).cast("double").as(s"max_$c")))
    val st = df.agg(aggs.head, aggs.tail: _*).head()
    val top = (1L << bits) - 1
    cols.zipWithIndex.map { case (c, i) =>
      // empty table / all-null column -> null stats -> degenerate dim
      val lo = if (st.isNullAt(2 * i)) 0.0 else st.getDouble(2 * i)
      val hi = if (st.isNullAt(2 * i + 1)) 0.0 else st.getDouble(2 * i + 1)
      if (hi > lo)
        least(lit(top), greatest(lit(0L),
          (((col(c).cast("double") - lit(lo)) / lit(hi - lo)) * lit(top.toDouble))
            .cast("long")))
      else lit(0L)
    }
  }

  /** Rewrite `df` under `outDir` as `nFiles` parquet files z-order
    * clustered on `cols`. Content-preserving by construction (no
    * filter, no projection change — the gate hash-proves it).
    */
  def zorderCluster(df: DataFrame, cols: Seq[String], outDir: String,
                    nFiles: Int, bits: Int = 16): Unit = {
    val s = df.sparkSession
    graft.functions.GraftFunctions.register(s)
    val dims = scaledDims(df, cols, bits)
    df.withColumn("_zkey",
        call_function("graft_zorder", lit(bits) +: dims: _*))
      .repartitionByRange(nFiles, col("_zkey"))
      .sortWithinPartitions("_zkey")
      .drop("_zkey")
      .write.mode("overwrite").parquet(outDir)
  }

  /** Linear twin (sort by the leading column only) — the baseline layout
    * `ZOrderSpec` compares envelopes against.
    */
  def linearCluster(df: DataFrame, leadCol: String, outDir: String,
                    nFiles: Int): Unit =
    df.repartitionByRange(nFiles, col(leadCol))
      .sortWithinPartitions(leadCol)
      .write.mode("overwrite").parquet(outDir)

  /** Publish a staged directory at `live` via TWO RENAMES of complete
    * directories — never delete-then-rename (a crash between a delete
    * of the live dir and the rename of staging would leave NOTHING at
    * the published path, with the data surviving only under a
    * PID-suffixed staging name). Here the live dir is first renamed
    * aside to a trash name, then staging renamed in, then trash
    * deleted: a crash leaves either the old directory, or a brief
    * window where the path is absent but BOTH complete directories
    * exist under adjacent names (trash + live, or trash + staging) —
    * recovery is renaming one back, never reconstructing data. If the
    * staging rename fails the set-aside is rolled back so the
    * published path does not stay absent on a clean error path.
    */
  private[graft] def publishDir(fs: org.apache.hadoop.fs.FileSystem,
                                staging: org.apache.hadoop.fs.Path,
                                live: org.apache.hadoop.fs.Path): Unit = {
    val trash = new org.apache.hadoop.fs.Path(live.getParent,
      s"${live.getName}.trash-${ProcessHandle.current().pid()}")
    if (fs.exists(live))
      require(fs.rename(live, trash), s"publish: set-aside of $live failed")
    if (!fs.rename(staging, live)) {
      // roll the set-aside back so the published path does not stay
      // absent on a clean error path — and if THAT also fails, say so:
      // the old state then survives only under the PID-suffixed trash
      // name, and a caller reading just "publish failed" would not know
      // to go looking for it
      val rollback =
        if (!fs.exists(trash)) " (no prior state existed; nothing to roll back)"
        else if (fs.rename(trash, live)) " (old state rolled back to live)"
        else s"; ROLLBACK ALSO FAILED — old state survives only at $trash"
      throw new IllegalStateException(
        s"publish of $staging at $live failed$rollback")
    }
    fs.delete(trash, true)
  }

  /** FILE-LEVEL two-rename swap (the q41 / incrementalZorder protocol):
    * `displaced` files move into a `.ftrash-PID` sibling of `liveDir`,
    * then `stagedFiles` (complete replacement files, written anywhere)
    * are renamed into `liveDir`, then the trash is dropped. The live
    * directory EXISTS THROUGHOUT — which is exactly why this protocol
    * must not share [[publishDir]]'s `.trash-*` namespace: that
    * protocol's recovery rule "live present ⇒ residues are garbage"
    * would delete the only copies of the displaced rows if a crash hit
    * between set-aside and swap-in. Instead the distinct `ftrash`
    * namespace carries its own commit marker: a `_PENDING` file listing
    * the replacement file names is written FIRST and deleted only after
    * every replacement is in, so [[recoverPublish]] can tell the two
    * crash families apart — marker present = swap incomplete, roll back
    * (drop any listed replacements already in live, restore the
    * originals); marker absent = swap committed, the trash is garbage.
    */
  private[graft] def fileLevelSwap(fs: org.apache.hadoop.fs.FileSystem,
                                   liveDir: org.apache.hadoop.fs.Path,
                                   stagedFiles: Seq[org.apache.hadoop.fs.Path],
                                   displaced: Seq[org.apache.hadoop.fs.Path])
      : Unit = {
    val trash = new org.apache.hadoop.fs.Path(liveDir.getParent,
      s"${liveDir.getName}.ftrash-${ProcessHandle.current().pid()}")
    // a surviving residue under OUR pid means an earlier swap in this
    // process failed (or its trash delete did) and was never recovered;
    // proceeding would hit the marker create with an unrelated-looking
    // FileAlreadyExistsException — name the real remedy instead
    if (fs.exists(trash))
      throw new IllegalStateException(
        s"file-level swap: residue $trash already exists from an earlier " +
          s"failed swap in this process; run Layout.recoverPublish on " +
          s"$liveDir first")
    fs.mkdirs(trash)
    // the marker's staged-file list must be durably COMPLETE before the
    // first displaced rename: renames are metadata ops that can persist
    // across a power loss while unsynced file data does not, and a
    // truncated list would make recovery restore originals while
    // leaving un-listed replacements in live (duplicate rows). So:
    // write to a temp name, sync, rename into place — the marker either
    // exists with its full content or not at all.
    val marker = new org.apache.hadoop.fs.Path(trash, "_PENDING")
    val markerTmp = new org.apache.hadoop.fs.Path(trash, "_PENDING.tmp")
    val out = fs.create(markerTmp, false)
    try {
      out.write(stagedFiles.map(_.getName).mkString("\n")
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      try out.hsync()
      catch { case _: UnsupportedOperationException => out.hflush() }
    } finally out.close()
    require(fs.rename(markerTmp, marker),
      s"file-level swap: marker commit rename of $markerTmp failed")
    displaced.foreach { f =>
      require(fs.rename(f, new org.apache.hadoop.fs.Path(trash, f.getName)),
        s"set-aside $f")
    }
    stagedFiles.foreach { f =>
      require(fs.rename(f, new org.apache.hadoop.fs.Path(liveDir, f.getName)),
        s"swap-in $f")
    }
    require(fs.delete(marker, false),
      s"file-level swap commit (marker delete) of $marker failed")
    fs.delete(trash, true)
  }

  /** Run independent legs CONCURRENTLY (guide §2.6: actions are only
    * sequential because the driver calls them sequentially — overlapping
    * independent jobs back-fills executor capacity freed by each job's
    * tail). Used two ways: across STRUCTURES (a fan-out gate's per-index
    * append→measure→fold routes — each leg keeps its own structure's
    * maintenance serialized on its thread, so the
    * never-concurrent-with-ingest contract still holds per structure)
    * and across LEGS OF ONE WRITE (an append/fold's postings and doclog
    * jobs, whose commit contract is already intersection-of-_SUCCESS —
    * order-free by construction). All legs run to completion even if one
    * fails — an interrupted sibling mid-write would be replay-safe
    * anyway (a torn uncommitted segment is invisible to readers), but
    * letting it finish keeps the failure the only abnormality — then the
    * first failure rethrows on the calling thread. Spark's scheduler
    * properties (job group, description) are InheritableThreadLocals, so
    * jobs submitted from these short-lived threads stay attributed to
    * the caller's job group.
    */
  private[graft] def inParallelLegs[T](legs: Seq[() => T]): Seq[T] = {
    if (legs.sizeIs <= 1) return legs.map(_())
    import java.util.concurrent.{Callable, Executors, ExecutionException, TimeUnit}
    val pool = Executors.newFixedThreadPool(legs.size)
    try {
      val futs = legs.map(l => pool.submit(new Callable[T] { def call(): T = l() }))
      val settled =
        try futs.map { f =>
          try Right(f.get())
          catch { case e: ExecutionException =>
            // an ExecutionException with no cause still carries the failure
            Left(Option(e.getCause).getOrElse(e): Throwable)
          }
        } catch {
          case ie: InterruptedException =>
            // caller (stream/query shutdown) interrupted the wait: cancel
            // the remaining legs, restore the flag, and get out — the
            // "all legs settle" contract yields to shutdown
            pool.shutdownNow()
            Thread.currentThread().interrupt()
            throw ie
        }
      settled.collectFirst { case Left(e) => e }.foreach(e => throw e)
      settled.collect { case Right(v) => v }
    } finally {
      pool.shutdown()
      // normal path: every future already settled, so this returns at
      // once and merely reaps the idle threads; interrupt path already
      // ran shutdownNow. The bound only guards a leg that ignores
      // cancellation — it must not outlive the call unobserved.
      try {
        if (!pool.awaitTermination(10, TimeUnit.SECONDS)) pool.shutdownNow()
      } catch {
        case _: InterruptedException =>
          pool.shutdownNow()
          Thread.currentThread().interrupt()
      }
    }
  }

  /** Run a probe body that may race [[publishDir]] two-rename swaps,
    * retrying (bounded, with backoff) while it fails on a missing path.
    * The swap's invariant makes a retry always safe: every rename moves
    * a COMPLETE directory, so a racing reader either (a) lists one
    * consistent version — old or new — and succeeds, (b) hits the
    * one-rename window where the live path is absent (`PATH_NOT_FOUND`
    * at plan time), or (c) lists the old version and then scans after
    * the trash delete has removed those files (`FileNotFoundException`
    * mid-scan — or `java.nio.file.NoSuchFileException` where a local
    * read goes through NIO). There is NO outcome that silently mixes
    * versions: stale listings point at renamed-away paths, which fail
    * loudly rather than resolve to new content. Each retry re-runs `body` from
    * scratch — it must REBUILD its DataFrames (a by-name block calling
    * `spark.read` again, so every attempt re-lists) and MATERIALIZE
    * them (a lazy frame returned unexecuted would defeat the guard).
    * One retry is NOT always enough: under dense fold churn (overlapped
    * maintenance legs shorten each fold cycle) a slow probe's attempt
    * can straddle swap N and its retry straddle swap N+1, so the guard
    * retries up to [[retryAttempts]] times with a short growing backoff
    * — a missing path that persists past every attempt is not a
    * transient window, the state needs [[recoverPublish]], and the
    * rethrown error says so.
    */
  private[graft] def retryOnceOnMissing[T](body: => T): T = {
    // cause-chain walk is BOUNDED (depth cap + identity cycle guard —
    // a cyclic cause chain must not hang the probe) and the catch
    // matches NonFatal only, so an Error wrapping a FNF propagates
    // instead of being silently retried
    def missing(e: Throwable): Boolean = {
      val seen = java.util.Collections.newSetFromMap(
        new java.util.IdentityHashMap[Throwable, java.lang.Boolean]())
      var t = e
      var depth = 0
      while (t != null && depth < 16 && seen.add(t)) {
        if (t.isInstanceOf[java.io.FileNotFoundException] ||
            t.isInstanceOf[java.nio.file.NoSuchFileException] ||
            (t.isInstanceOf[org.apache.spark.sql.AnalysisException] &&
              t.getMessage != null && t.getMessage.contains("PATH_NOT_FOUND")))
          return true
        t = t.getCause
        depth += 1
      }
      false
    }
    import scala.util.control.NonFatal
    var attempt = 1
    var first: Throwable = null
    while (true) {
      try return body
      catch {
        case NonFatal(e) if missing(e) =>
          if (first == null) first = e
          if (attempt >= retryAttempts)
            throw new IllegalStateException(
              s"probe failed on a missing path $retryAttempts times — not " +
                "a transient publish window; run Layout.recoverPublish on " +
                s"the index path (first failure: ${first.getMessage})", e)
          // backoff rides out back-to-back swaps (50/100/200 ms); sleep is
          // interruptible, so shutdown still breaks the loop promptly
          Thread.sleep(50L << (attempt - 1))
          attempt += 1
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** Missing-path probe attempts before giving up ([[retryOnceOnMissing]]). */
  private[graft] val retryAttempts = 4

  // ---- cross-process fold lease ----------------------------------------
  //
  // The never-concurrent-folds contract was only ENFORCED in-process
  // (foreachBatch bodies serialize on the driver; CdcProbeCompactRaceSpec's
  // maintenance thread folds sequentially) — across processes nothing
  // stopped two maintenance jobs from staging competing folds of the
  // same structure, whose interleaved two-rename swaps could publish one
  // fold and leak the other's staging as a residue recoverPublish would
  // later mistake for a crash. The lease closes that: every compactor
  // create-exclusives `<live>.foldlock` (atomic on HDFS; best-effort on
  // raw local FS, which is fine — local contention is same-host and the
  // PID rule below adjudicates it) BEFORE staging and deletes it after
  // publish. A lease left by a holder that died between acquire and
  // release is taken over when the holder's PID is provably dead on this
  // host, or — the cross-host rule, where PID liveness is unknowable —
  // when the lease file is older than `staleMs`. The holder HEARTBEATS
  // the lease mtime while folding ([[withFoldLease]]), so age-past-
  // window means "stopped heartbeating" (dead), never "fold is slow";
  // and takeover itself is a single-winner atomic rename claim
  // ([[claimStaleLease]]), never delete-then-create. [[recoverPublish]]
  // clears dead holders' leases as part of crash recovery, so the
  // documented remedy for a crashed fold also unblocks the next one.

  private[graft] def foldLeasePath(live: org.apache.hadoop.fs.Path): org.apache.hadoop.fs.Path =
    new org.apache.hadoop.fs.Path(live.getParent, s"${live.getName}.foldlock")

  private def leaseHostName: String =
    try java.net.InetAddress.getLocalHost.getHostName
    catch { case _: java.net.UnknownHostException => "unknown" }

  private def readLease(fs: org.apache.hadoop.fs.FileSystem,
                        lease: org.apache.hadoop.fs.Path): Option[String] =
    try {
      val in = fs.open(lease)
      try Some(scala.io.Source.fromInputStream(in, "UTF-8").mkString)
      finally in.close()
    } catch { case _: java.io.IOException => None }

  /** True iff the lease's holder is provably unable to release it. */
  private def leaseStale(fs: org.apache.hadoop.fs.FileSystem,
                         lease: org.apache.hadoop.fs.Path,
                         content: Option[String], staleMs: Long): Boolean = {
    val fields = content.getOrElse("").split(';')
      .flatMap(_.split('=') match { case Array(k, v) => Some(k -> v); case _ => None })
      .toMap
    val deadHere = fields.get("host").contains(leaseHostName) &&
      fields.get("pid").exists(p => p.nonEmpty && p.forall(_.isDigit) &&
        p.length <= 18 &&
        !ProcessHandle.of(p.toLong).map[Boolean](_.isAlive).orElse(false))
    def olderThanWindow = (try {
      val mod = fs.getFileStatus(lease).getModificationTime
      mod > 0 && System.currentTimeMillis() - mod > staleMs
    } catch { case _: java.io.IOException => false })
    deadHere || olderThanWindow
  }

  /** Claim a lease judged stale — SINGLE-WINNER. The old delete-then-
    * create takeover had a TOCTOU: two contenders that both judged the
    * lease stale could interleave so the second's delete removed the
    * first's freshly created lease, leaving BOTH folding. The claim is
    * now an atomic RENAME of the stale file to a contender-nonce
    * tombstone: rename of an existing source succeeds for exactly one
    * contender (rename(2) on POSIX, atomic on HDFS), so exactly one
    * claimant proceeds. After winning the rename we re-verify the
    * displaced CONTENT equals what was judged stale — between the
    * judgment and our rename the dead lease may have been claimed and
    * REPLACED by a fresh holder's file, and keeping that steal would
    * put two folds under one structure; on mismatch we restore it
    * (rename back — the path is free because OUR rename emptied it)
    * and report the claim lost. Residual: restoring can itself lose to
    * a THIRD contender's create in the microsecond window, which
    * orphans the displaced fresh holder's lease (its release no-ops on
    * the content check); that needs three contenders racing inside one
    * claim window at an already-dead lease — strictly narrower than
    * the delete race this replaces, and the path itself stays held
    * throughout.
    *
    * Returns true iff the stale file was displaced and verified — the
    * lease path is now free for the caller's create-exclusive.
    */
  private[graft] def claimStaleLease(fs: org.apache.hadoop.fs.FileSystem,
                                     lease: org.apache.hadoop.fs.Path,
                                     judgedContent: Option[String]): Boolean = {
    val tomb = new org.apache.hadoop.fs.Path(lease.getParent,
      s"${lease.getName}.claim-${ProcessHandle.current().pid()}-${System.nanoTime()}")
    val renamed =
      if (fs.getScheme == "file") {
        // NIO ATOMIC_MOVE for the same reason tryCreate uses NIO
        // createFile: RawLocal/ChecksumFileSystem rename is not a
        // single syscall (crc sibling bookkeeping), and same-host is
        // where contention is real
        try {
          java.nio.file.Files.move(
            java.nio.file.Paths.get(lease.toUri.getPath),
            java.nio.file.Paths.get(tomb.toUri.getPath),
            java.nio.file.StandardCopyOption.ATOMIC_MOVE)
          // ChecksumFileSystem keeps a `.<name>.crc` sidecar the NIO
          // move does not carry — left behind, it records the OLD
          // content's checksum and poisons every read of the NEXT
          // holder's lease (readLease would see ChecksumException →
          // None → release never matches → the lock wedges)
          try java.nio.file.Files.deleteIfExists(
            java.nio.file.Paths.get(lease.toUri.getPath)
              .resolveSibling(s".${lease.getName}.crc"))
          catch { case _: java.io.IOException => () }
          true
        } catch { case _: java.io.IOException => false }
      } else
        (try fs.rename(lease, tomb)
         catch { case _: java.io.IOException => false })
    if (!renamed) return false // another claimant won the rename
    val displaced = readLease(fs, tomb)
    if (displaced == judgedContent) { fs.delete(tomb, false); true }
    else {
      // we displaced a FRESH lease (claimed+recreated between our
      // judgment and our rename) — put it back. A plain move fails if
      // a third contender created at the path meanwhile (dest exists);
      // that contender may itself vanish (its own mismatch-restore, a
      // crash), so RETRY once before giving up. If both attempts fail
      // the tombstone STAYS: deleting it would destroy the displaced
      // holder's token and foreclose any reconciliation (its release
      // no-ops on the content check either way, but the surviving
      // tombstone records who was displaced). recoverPublish vacuums
      // tombstones of DEAD claimants, so the leak is bounded by this
      // process's lifetime.
      def restore(): Boolean =
        try {
          if (fs.getScheme == "file") {
            java.nio.file.Files.move(
              java.nio.file.Paths.get(tomb.toUri.getPath),
              java.nio.file.Paths.get(lease.toUri.getPath))
            true
          } else fs.rename(tomb, lease)
        } catch { case _: java.io.IOException => false }
      if (!restore()) restore()
      false
    }
  }

  /** Acquire the fold lease on `live` or fail BY NAME. Returns the lease
    * token to pass to [[releaseFoldLease]].
    */
  private[graft] def acquireFoldLease(fs: org.apache.hadoop.fs.FileSystem,
                                      live: org.apache.hadoop.fs.Path,
                                      staleMs: Long = 30L * 60 * 1000): String = {
    val lease = foldLeasePath(live)
    val token = s"pid=${ProcessHandle.current().pid()};host=$leaseHostName;" +
      s"ts=${System.currentTimeMillis()};nonce=${System.nanoTime()}"
    def tryCreate(): Boolean =
      if (fs.getScheme == "file") {
        // RawLocalFileSystem's create(overwrite=false) is exists-then-
        // create — two same-host contenders could both pass the check.
        // NIO createFile is O_EXCL-atomic; same-host is exactly where
        // the contention is real (cross-host goes through HDFS/S3A,
        // whose create IS atomic).
        val local = java.nio.file.Paths.get(lease.toUri.getPath)
        try {
          java.nio.file.Files.createFile(local)
          java.nio.file.Files.write(local,
            token.getBytes(java.nio.charset.StandardCharsets.UTF_8))
          true
        } catch { case _: java.nio.file.FileAlreadyExistsException => false }
      } else try {
        val out = fs.create(lease, false)
        try out.write(token.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        finally out.close()
        true
      } catch {
        // the holder's file beat us — any create failure with the lease
        // present is a lost race, not an error
        case e: java.io.IOException => if (fs.exists(lease)) false else throw e
      }
    if (tryCreate()) return token
    val holder = readLease(fs, lease)
    if (leaseStale(fs, lease, holder, staleMs) &&
        claimStaleLease(fs, lease, holder)) {
      // the stale file is displaced and the path free — but a parallel
      // claimant that lost the rename may race this create; losing it
      // still leaves exactly one holder, so a miss falls through to
      // the held error
      if (tryCreate()) return token
    }
    throw new IllegalStateException(
      s"fold lease on $live is held (${holder.getOrElse("unreadable")}) — " +
        "concurrent folds of the same structure are forbidden; if the " +
        "holder crashed, Layout.recoverPublish clears dead holders' " +
        s"leases, and a lease idle past ${staleMs} ms is taken over")
  }

  /** Release only OUR OWN lease: if the content is not `token`, a stale
    * takeover stole it while we ran (we were judged dead — pathological
    * but possible under a long GC pause past the stale window), and
    * deleting the thief's lease would let a THIRD fold in; leave it.
    */
  private[graft] def releaseFoldLease(fs: org.apache.hadoop.fs.FileSystem,
                                      live: org.apache.hadoop.fs.Path,
                                      token: String): Unit = {
    val lease = foldLeasePath(live)
    if (readLease(fs, lease).contains(token)) fs.delete(lease, false)
  }

  /** The compactors' wrapper: lease held across staging AND publish,
    * HEARTBEATED while held. Without the heartbeat the cross-host
    * stale window conflated "holder is dead" with "fold is slow" — at
    * 100 TB a base fold legitimately exceeds 30 minutes, and a
    * maintenance job arriving mid-fold would steal the lease from a
    * perfectly alive holder. A daemon thread refreshes the lease
    * mtime every `staleMs`/6 (touch only while the content is still
    * OUR token — touching a stolen lease would extend the thief's),
    * so a lease older than the window now means the holder stopped
    * heartbeating: dead, not slow. The touch is best-effort; a
    * transient FS error skips one beat and the window is 6 beats deep.
    * setTimes efficacy is probed once at acquire (touch + re-stat);
    * where mtime updates don't stick (object stores) the beat rewrites
    * the lease with the identical token bytes instead.
    */
  private[graft] def withFoldLease[T](fs: org.apache.hadoop.fs.FileSystem,
                                      live: org.apache.hadoop.fs.Path,
                                      staleMs: Long = 30L * 60 * 1000)
                                     (body: => T): T = {
    val token = acquireFoldLease(fs, live, staleMs)
    val lease = foldLeasePath(live)
    val stop = new java.util.concurrent.CountDownLatch(1)
    val beatMs = math.max(staleMs / 6, 50L)
    // Probe setTimes efficacy ONCE at acquire: object-store FileSystems
    // (s3a et al) no-op or reject setTimes, and with every beat
    // silently swallowed "older than window" would again conflate slow
    // with dead — the exact conflation the heartbeat exists to remove.
    // Touch then re-stat; if the mtime didn't move, each beat instead
    // REWRITES the lease with the identical token bytes (a PUT
    // refreshes the object timestamp, and object-store PUTs are atomic
    // — the non-atomic-overwrite risk lives on local/HDFS, exactly
    // where setTimes DOES work and the rewrite path never runs).
    val mtimeBeats = try {
      val before = fs.getFileStatus(lease).getModificationTime
      fs.setTimes(lease, math.max(System.currentTimeMillis(), before + 1), -1)
      fs.getFileStatus(lease).getModificationTime > before
    } catch { case _: Exception => false }
    val beat = new Thread(() => {
      try {
        while (!stop.await(beatMs, java.util.concurrent.TimeUnit.MILLISECONDS)) {
          try {
            if (readLease(fs, lease).contains(token)) {
              if (mtimeBeats) fs.setTimes(lease, System.currentTimeMillis(), -1)
              else {
                val out = fs.create(lease, true)
                try out.write(token.getBytes(java.nio.charset.StandardCharsets.UTF_8))
                finally out.close()
              }
            }
          } catch { case _: Exception => () } // skip one beat; window is 6 deep
        }
      } catch { case _: InterruptedException => () }
    }, s"graft-fold-lease-heartbeat-${live.getName}")
    beat.setDaemon(true)
    beat.start()
    try body finally {
      stop.countDown()
      try beat.join(2000L) catch { case _: InterruptedException => () }
      releaseFoldLease(fs, live, token)
    }
  }

  // ---- replay fence for CDC-maintained structures -----------------------
  //
  // foreachBatch is AT-LEAST-ONCE: a crash between a batch's side effects
  // and its checkpoint commit replays the batch on resume. Segment writes
  // are batch-id-addressed overwrites, so a plain replay is idempotent —
  // EXCEPT across a mid-stream compaction: if the fold consumed the
  // batch's segment into seg=base before the crash, the replay would
  // re-create rows base already holds, and the merge-on-read probes
  // (which join postings/cells on (doc_id|vec_id, ver)) would double-
  // count them. The fence closes that seam: every fold records the
  // highest segment ordinal it consumed in a `_folded_through` marker at
  // the structure root (written into staging, published atomically with
  // the fold), and appends SKIP any segment at or below it — the skipped
  // replay's content is already in base, byte-for-byte, because batch
  // offsets come from the checkpoint WAL and the image derivation is
  // deterministic. Folds consume only segments whose write COMMITTED
  // (`_SUCCESS` present): a torn segment from a crashed append belongs
  // to an uncommitted batch, so it is dropped from the published tree —
  // never folded, never fenced — and the batch's replay rewrites it.

  /** Ordinal of a `bNNNNNN` segment name (zero-padding-independent). */
  private[graft] def segmentOrdinal(segment: String): Long =
    segment.stripPrefix("b").toLong

  /** The structure's replay fence, if any fold has run.
    *
    * Concurrency contract: appends and folds on the SAME structure must
    * serialize (every maintained-structure driver here runs both inside
    * one foreachBatch, and cross-process folds take [[withFoldLease]]).
    * The guard below is for the one hole that contract can't close: a
    * fence PROBE landing inside [[publishDir]]'s two-rename window sees
    * the root momentarily absent and would read "no fence ever" — so a
    * miss with a missing root (or a marker that vanishes between exists
    * and open) re-checks once after the swap settles, mirroring
    * [[retryOnceOnMissing]].
    */
  private[graft] def foldedThrough(fs: org.apache.hadoop.fs.FileSystem,
                                   root: org.apache.hadoop.fs.Path): Option[Long] = {
    val marker = new org.apache.hadoop.fs.Path(root, "_folded_through")
    def readMarker(): Option[Long] =
      if (!fs.exists(marker)) None
      else {
        val in = fs.open(marker)
        try Some(scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim.toLong)
        finally in.close()
      }
    // the retry read sits in its own handler: a SECOND concurrent swap
    // can vanish the marker again between the retry's exists and open,
    // and that race must be absorbed (as "no fence yet"), not escape —
    // the caller re-probes on its next batch anyway
    def readMarkerAbsorbed(): Option[Long] =
      try readMarker()
      catch { case _: java.io.FileNotFoundException => None }
    try {
      val r = readMarker()
      if (r.isEmpty && !fs.exists(root)) { Thread.sleep(50L); readMarkerAbsorbed() }
      else r
    } catch {
      case _: java.io.FileNotFoundException =>
        Thread.sleep(50L); readMarkerAbsorbed()
    }
  }

  /** True iff `segment` is at or below the fence — the append must skip. */
  private[graft] def replayFenced(fs: org.apache.hadoop.fs.FileSystem,
                                  root: org.apache.hadoop.fs.Path,
                                  segment: String): Boolean =
    foldedThrough(fs, root).exists(segmentOrdinal(segment) <= _)

  /** Record the fence in a staging tree about to be published. */
  private[graft] def writeFoldedThrough(fs: org.apache.hadoop.fs.FileSystem,
                                        stagingRoot: org.apache.hadoop.fs.Path,
                                        upTo: Long): Unit = {
    val out = fs.create(new org.apache.hadoop.fs.Path(stagingRoot, "_folded_through"), false)
    try out.write(upTo.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }

  /** The COMMITTED `seg=*` directory names under a leg (those whose
    * write finished — `_SUCCESS` present); [[committedView]] lists each
    * leg through here.
    */
  private[graft] def committedSegs(fs: org.apache.hadoop.fs.FileSystem,
                                   legDir: org.apache.hadoop.fs.Path): Seq[String] =
    if (!fs.exists(legDir)) Seq.empty
    else fs.listStatus(legDir).map(_.getPath)
      .filter(p => p.getName.startsWith("seg=") &&
        fs.exists(new org.apache.hadoop.fs.Path(p, "_SUCCESS")))
      .map(_.getName).toSeq.sorted

  // ---- the segment protocol of the CDC-maintained structures -------------
  //
  // The text index, the ANN index, the fp log and the band log all store
  // versioned `seg=` segments under one protocol: [[append]] writes a
  // batch's segment past the replay fence, [[committedView]] is what every
  // probe, stats call and fold reads, and [[fold]] publishes a new base.
  // A structure supplies only its leg names and its staging writes.

  /** A structure's leg directory; a state log is its own single leg `""`. */
  private def legDir(root: String, leg: String): String =
    if (leg.isEmpty) root else s"$root/$leg"

  /** One committed snapshot of a structure: the segment names committed
    * in every leg, and their reads.
    */
  private[graft] final class SegmentView(s: SparkSession, root: String,
                                         val segs: Seq[String]) {
    /** `leg`'s committed segments, `seg` read as a partition column. */
    def read(leg: String): DataFrame = {
      val dir = legDir(root, leg)
      s.read.option("basePath", dir).parquet(segs.map(n => s"$dir/$n"): _*)
    }
  }

  /** The committed view of a CDC-maintained structure — the one read of
    * every probe, stats call and fold. Each leg (`doclog` + `postings`
    * for the text index, `doclog` + `cells` for the ANN index, `""` for
    * a state log) is listed once through [[committedSegs]], and the legs
    * are intersected: an append writes its legs as separate non-atomic
    * jobs, so a reader racing a writer (or surviving its crash) could
    * otherwise see one leg of a batch without the other, or a leg's torn
    * `_temporary` remains. None when nothing is committed — an absent
    * structure, one before its first committed batch, or a root briefly
    * absent inside [[publishDir]]'s two-rename window. The log probes
    * answer None empty (the ingest-screening contract); the index probes
    * turn it into [[missingIndex]].
    */
  private[graft] def committedView(s: SparkSession, root: String,
                                   legs: Seq[String]): Option[SegmentView] = {
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    val segs = legs
      .map(l => committedSegs(fs, new org.apache.hadoop.fs.Path(legDir(root, l))))
      .reduce(_ intersect _)
    if (segs.isEmpty) None else Some(new SegmentView(s, root, segs))
  }

  /** An index probe's answer to an empty [[committedView]]: an absent
    * maintained INDEX is a caller error or a transient publish swap,
    * never a valid empty answer, so it throws the FileNotFoundException
    * [[retryOnceOnMissing]] retries.
    */
  private[graft] def missingIndex(root: String): Nothing =
    throw new java.io.FileNotFoundException(
      s"no committed segments under $root (absent index, or a publish " +
        "swap in flight — probes retry via Layout.retryOnceOnMissing)")

  /** Append one batch's `segment` to the structure at `root`. A segment
    * at or below the replay fence was already folded into `seg=base`, so
    * its replay is SKIPPED (false) — re-created rows would double against
    * base through the probes' (key, ver) liveness joins. Otherwise the
    * structure's leg writes run concurrently through [[inParallelLegs]]
    * (their commit contract is [[committedView]]'s intersect, so order is
    * free) and the answer is true. `legWrites` is evaluated only past the
    * fence: a structure's own checks and first-batch setup never run for
    * a fenced replay.
    */
  private[graft] def append(s: SparkSession, root: String, segment: String)
                           (legWrites: => Seq[() => Unit]): Boolean = {
    val p = new org.apache.hadoop.fs.Path(root)
    if (replayFenced(p.getFileSystem(s.sparkContext.hadoopConfiguration), p, segment))
      false
    else { inParallelLegs(legWrites); true }
  }

  /** The one fold protocol of the CDC-maintained structures:
    *  1. take the cross-process fold lease ([[withFoldLease]]);
    *  2. read the [[committedView]] of `legs` — a torn segment belongs
    *     to an uncommitted batch that will replay, so it is dropped from
    *     the published tree, never folded and never fenced;
    *  3. compute the replay fence: the highest ordinal consumed, never
    *     below the fence already recorded (a base-only re-fold keeps it);
    *  4. `stage(view, staging)` writes the structure's whole new tree
    *     under `<root>.<tag>-<pid>`;
    *  5. write `_folded_through` into the staged tree and publish it with
    *     [[publishDir]]'s two-rename swap, so the fence lands atomically
    *     with the fold and a crash leaves the old tree or the new one for
    *     [[recoverPublish]], never neither.
    * Never run concurrently with an append to the same structure: the
    * stream's foreachBatch serializes them in-process, and the lease
    * makes a second maintenance process fail by name.
    */
  private[graft] def fold(s: SparkSession, root: String, legs: Seq[String],
                          tag: String)(stage: (SegmentView, String) => Unit): Unit = {
    val p = new org.apache.hadoop.fs.Path(root)
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    withFoldLease(fs, p) {
      val view = committedView(s, root, legs)
      require(view.isDefined, s"$tag: no committed segments under $root")
      val upTo = (foldedThrough(fs, p).toSeq ++ view.get.segs
        .filter(_ != "seg=base")
        .map(n => segmentOrdinal(n.stripPrefix("seg=")))).maxOption
      val staging = new org.apache.hadoop.fs.Path(
        s"$root.$tag-${ProcessHandle.current().pid()}")
      stage(view.get, staging.toString)
      upTo.foreach(writeFoldedThrough(fs, staging, _))
      publishDir(fs, staging, p)
    }
  }

  /** Automate [[publishDir]]'s documented crash recovery. For a
    * published path `live`, inspect its sibling `.trash-*` /
    * `.compact-*` / `.optimize-*` residues:
    *
    *  - `live` missing + a trash sibling present → the crash hit
    *    between the two renames; rename the trash back (the OLD state —
    *    the staged result, if also present, is re-derivable and
    *    dropped).
    *  - `live` missing + only a staging sibling present → the crash hit
    *    after the old dir was consumed (or first publish); rename the
    *    staging in (the NEW state — it is complete by the publish
    *    protocol: staging is only ever a fully-written directory).
    *  - `live` present → every `.trash-*`/`.compact-*`/`.optimize-*`
    *    residue is a leftover from a completed or abandoned
    *    maintenance run; delete them.
    *  - `.ftrash-*` residues ([[fileLevelSwap]]'s namespace, where live
    *    exists throughout) are handled FIRST by their own `_PENDING`
    *    commit marker: present → roll the incomplete swap back (drop
    *    re-derivable replacements, restore displaced originals);
    *    absent → the swap committed, the trash is garbage.
    *
    * Returns what it did as a small report string (callers log it).
    * Run from the same maintenance context as the compactors — never
    * concurrently with a publish in flight (a LIVE publisher's staging
    * dir is indistinguishable from a crashed one's).
    */
  private[graft] def recoverPublish(fs: org.apache.hadoop.fs.FileSystem,
                                    live: org.apache.hadoop.fs.Path): String = {
    val parent = live.getParent
    def siblings(tag: String) =
      if (!fs.exists(parent)) Array.empty[org.apache.hadoop.fs.Path]
      else fs.listStatus(parent).map(_.getPath)
        .filter(p => p.getName.startsWith(s"${live.getName}.$tag-"))
    val report = scala.collection.mutable.ListBuffer.empty[String]
    // DIRECTORY-LEVEL restore first when live itself is gone: a
    // publishDir crash between its two renames leaves the only complete
    // copy under `.trash-*`. The ftrash rollback below mkdirs(live) —
    // running IT first would fabricate a live dir holding only the
    // displaced files, and the NEXT recovery call, seeing live present,
    // would vacuum the `.trash-*` residue holding the real old state.
    val dirTrash = siblings("trash")
    if (!fs.exists(live) && dirTrash.nonEmpty) {
      // with residues from TWO crashed maintenance runs the right old
      // state is ambiguous — refuse rather than restore an arbitrary one
      require(dirTrash.length == 1,
        s"recover: ${dirTrash.length} trash residues for ${live.getName} " +
          s"(${dirTrash.map(_.getName).mkString(", ")}) — which old state to " +
          "restore is ambiguous; resolve manually")
      require(fs.rename(dirTrash.head, live), s"recover: restore ${dirTrash.head}")
      report += s"restored ${live.getName} from trash"
    }
    // FILE-LEVEL swap residues next ([[fileLevelSwap]]'s `.ftrash-*`
    // namespace — live exists throughout that protocol, so these must
    // NOT fall through to the "live present ⇒ vacuum" rule below): the
    // `_PENDING` commit marker decides. Present → the swap never
    // committed; undo any replacements already renamed in (their names
    // are the marker's content; they are re-derivable) and restore the
    // displaced originals — the only copies. Absent → the swap
    // committed and the trash is garbage.
    val fRolledBack = siblings("ftrash").map { t =>
      val marker = new org.apache.hadoop.fs.Path(t, "_PENDING")
      if (fs.exists(marker)) {
        val in = fs.open(marker)
        val stagedNames =
          try scala.io.Source.fromInputStream(in, "UTF-8").getLines()
            .filter(_.nonEmpty).toList
          finally in.close()
        fs.mkdirs(live)
        stagedNames.foreach { n =>
          fs.delete(new org.apache.hadoop.fs.Path(live, n), false)
        }
        fs.listStatus(t).map(_.getPath)
          .filterNot(_.getName.startsWith("_PENDING")).foreach { f =>
            require(fs.rename(f, new org.apache.hadoop.fs.Path(live, f.getName)),
              s"recover: restore displaced $f")
          }
        fs.delete(t, true)
        true
      } else { fs.delete(t, true); false }
    }
    if (fRolledBack.contains(true))
      report += s"rolled back incomplete file-level swap of ${live.getName}"
    val staged = siblings("compact") ++ siblings("optimize")
    if (!fs.exists(live) && staged.nonEmpty) {
      require(fs.rename(staged.head, live), s"recover: publish ${staged.head}")
      staged.tail.foreach(fs.delete(_, true))
      report += s"published staged ${live.getName}"
    } else {
      val residues = siblings("trash") ++ staged
      residues.foreach(fs.delete(_, true))
      if (residues.nonEmpty) report += s"vacuumed ${residues.length} residues"
    }
    // a fold that died between lease acquire and release left its
    // `.foldlock` behind — clear it iff the holder is provably dead
    // (same-host PID check / stale window), never a live holder's
    // a claimant that crashed between its takeover rename and the
    // tombstone delete leaks one `.foldlock.claim-<pid>-<nonce>` file;
    // nothing else cleans those (the claim path deletes only its OWN
    // nonce), so vacuum dead claimants' here — pid liveness, same rule
    // as the writer's .wtmp sweep
    siblings("foldlock.claim").foreach { t =>
      val pid = t.getName.split("\\.claim-").last.takeWhile(_.isDigit)
      val dead = pid.nonEmpty && pid.length <= 18 &&
        !ProcessHandle.of(pid.toLong).map[Boolean](_.isAlive).orElse(false)
      if (dead) {
        fs.delete(t, false)
        report += s"vacuumed dead claimant's lease tombstone ${t.getName}"
      }
    }
    val lease = foldLeasePath(live)
    if (fs.exists(lease)) {
      val holder = readLease(fs, lease)
      // same single-winner claim as acquireFoldLease's takeover — a
      // plain read-then-delete here could delete a lease that was
      // cleared and re-acquired by a live fold between our read and
      // our delete
      if (leaseStale(fs, lease, holder, 30L * 60 * 1000)) {
        if (claimStaleLease(fs, lease, holder))
          report += s"cleared dead holder's fold lease (${holder.getOrElse("unreadable")})"
        else
          report += "fold lease was re-claimed while clearing — left to its new holder"
      } else
        report += s"fold lease held by a LIVE holder (${holder.getOrElse("unreadable")}) — left in place"
    }
    if (report.isEmpty) "clean" else report.mkString("; ")
  }

  /** Bin-pack a parquet directory toward `targetBytes` per output file —
    * small-file compaction, the OPTIMIZE half that [[zorderCluster]]'s
    * re-sort doesn't cover. Streaming ingest (foreachBatch deltas, index
    * segment appends) accretes many small files; at 100 TB the scan cost
    * of a million 1 MB files is dominated by per-file open/footer
    * overhead and task scheduling, so periodic repacking into
    * ceil(total/target) files is table maintenance, run per partition
    * directory. Content-preserving rewrite (round-robin repartition — no
    * sort, no column change), staged and published via [[publishDir]]'s
    * two-rename swap: a crash leaves a complete directory recoverable
    * by a single rename, never a half-compacted table. Returns the
    * output file count.
    */
  def compactFiles(s: SparkSession, dir: String, targetBytes: Long): Int = {
    require(targetBytes > 0, s"targetBytes must be positive, got $targetBytes")
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    withFoldLease(fs, p) {
    val total = fs.listStatus(p).filter(f =>
      f.isFile && !f.getPath.getName.startsWith("_")).map(_.getLen).sum
    val n = math.max(1L, (total + targetBytes - 1) / targetBytes).toInt
    // the staging write executes the lazy plan against the ORIGINAL
    // directory (which still exists — the swap below comes after), so no
    // detach is needed; checkpointing here would transiently materialize
    // the whole table in block storage, a non-starter at 100 TB
    val staging = new org.apache.hadoop.fs.Path(
      s"$dir.compact-${ProcessHandle.current().pid()}")
    s.read.parquet(dir).repartition(n)
      .write.mode("overwrite").parquet(staging.toString)
    publishDir(fs, staging, p)
    n
    }
  }

  /** Per-file min/max envelope of `cols` for a written parquet dir — the
    * exact statistic parquet pruning consults, materialized as rows so a
    * spec (or an operator planner) can count which files a predicate box
    * overlaps.
    */
  def fileEnvelopes(s: SparkSession, dir: String, cols: Seq[String]): DataFrame = {
    val aggs = cols.flatMap(c =>
      Seq(min(col(c)).as(s"min_$c"), max(col(c)).as(s"max_$c")))
    s.read.parquet(dir)
      .groupBy(input_file_name().as("file"))
      .agg(aggs.head, aggs.tail: _*)
  }

  // q35 — Z-order layout under the DuckDB oracle: lineitem's join columns
  // (l_partkey, l_suppkey) are z-order clustered into 8 files through the
  // full write path, read back, and emitted in key order. The oracle is
  // the straight projection of the source table — the gate hash-matches
  // only if the scale → interleave → range-shuffle → sort → write →
  // read-back pipeline preserved every row and every value exactly (a
  // layout op that loses, duplicates or mutates rows is corruption, not
  // optimization). The pruning PAYOFF is pinned in ZOrderSpec, which
  // builds linear and z-ordered twins of the same data and compares
  // per-file envelopes against predicate boxes.
  def q35ZorderLayout(s: SparkSession, d: String): DataFrame =
    CdcBinlog.withRotatingWorkdir("graft-q35") { work =>
      import s.implicits._
      val li = graft.core.Tables.lineitem(s, d).toDF()
        .select($"l_orderkey", $"l_linenumber", $"l_partkey", $"l_suppkey",
          $"l_quantity".cast("double").as("l_quantity"))
      val out = work.resolve("zordered").toString
      zorderCluster(li, Seq("l_partkey", "l_suppkey"), out, nFiles = 8)
      // total order over ALL columns: (l_orderkey, l_linenumber) is NOT
      // unique in this synthetic data (duplicate-heavy by design), and a
      // partial sort would leave tie order to shuffle nondeterminism
      s.read.parquet(out)
        .orderBy($"l_orderkey", $"l_linenumber", $"l_partkey", $"l_suppkey",
          $"l_quantity")
        .localCheckpoint(true)
        .orderBy($"l_orderkey", $"l_linenumber", $"l_partkey", $"l_suppkey",
          $"l_quantity")
    }

  val q35Sql: String =
    """SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey,
      |  CAST(l_quantity AS DOUBLE) AS l_quantity
      |FROM lineitem
      |ORDER BY l_orderkey, l_linenumber, l_partkey, l_suppkey, l_quantity""".stripMargin

  // ---- incremental OPTIMIZE (q44) --------------------------------------
  //
  // A 100 TB table cannot re-sort on every ingest batch: the steady
  // state is a large z-clustered BASE plus a small unclustered tail of
  // freshly appended files, and OPTIMIZE must cost O(tail), never
  // O(table). The clustered set is tracked in a manifest BESIDE the
  // table (data-file names only — the Delta/Iceberg "which files are
  // already clustered" bit, on raw parquet); incremental optimize
  // rewrites exactly the files the manifest doesn't know, z-orders them
  // into their own sorted run next to the base, and folds them into the
  // manifest. Base files are physically untouched (the gate
  // mtime-proves it); scan-side pruning sees tight envelopes from BOTH
  // runs (per-run hyper-rectangles — IncrementalZorderSpec measures the
  // payoff on the tail).

  private def clusteredManifestPath(dir: String) = s"$dir.clustered-manifest"

  private def dataFiles(fs: org.apache.hadoop.fs.FileSystem,
                        p: org.apache.hadoop.fs.Path) =
    fs.listStatus(p).filter(f => f.isFile && !f.getPath.getName.startsWith("_"))

  /** Record the table's CURRENT data files as clustered — run once after
    * a full [[zorderCluster]] (or full rewrite) to initialize the
    * incremental-optimize state.
    */
  def recordClustered(s: SparkSession, dir: String): Unit = {
    import s.implicits._
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    dataFiles(fs, p).map(_.getPath.getName).toSeq.toDF("file")
      .coalesce(1).write.mode("overwrite")
      .parquet(clusteredManifestPath(dir))
  }

  /** Z-order ONLY the table's unclustered tail (files absent from the
    * clustered manifest) into `nFiles` sorted files, swap them in
    * file-level (two-rename protocol — candidates move to a trash dir
    * before replacements land), and fold the result into the manifest.
    * Returns the number of tail files rewritten (0 = already optimal,
    * nothing touched — idempotence). The z-scaling is computed from the
    * tail alone: the tail run's envelopes are tight in every clustered
    * dimension regardless of the base's value range.
    */
  def incrementalZorder(s: SparkSession, dir: String, cols: Seq[String],
                        nFiles: Int, bits: Int = 16): Int = {
    import s.implicits._
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    val manifest = clusteredManifestPath(dir)
    val clustered: Set[String] =
      if (fs.exists(new org.apache.hadoop.fs.Path(manifest)))
        s.read.parquet(manifest).as[String].collect().toSet
      else Set.empty
    val tail = dataFiles(fs, p)
      .filterNot(f => clustered(f.getPath.getName))
    if (tail.isEmpty) return 0
    val staging = s"$dir.optimize-${ProcessHandle.current().pid()}"
    zorderCluster(
      s.read.parquet(tail.map(_.getPath.toString).toIndexedSeq: _*),
      cols, staging, nFiles, bits)
    // file-level two-rename swap ([[fileLevelSwap]] — marker-committed
    // `.ftrash-*` protocol): displaced tail files survive under the
    // trash name until the staged run is in, and a crash mid-swap is
    // rolled back deterministically by [[recoverPublish]]
    val sp = new org.apache.hadoop.fs.Path(staging)
    val stagedFiles = fs.listStatus(sp)
      .filter(f => f.isFile && !f.getPath.getName.startsWith("_"))
      .map(_.getPath).toIndexedSeq
    fileLevelSwap(fs, p, stagedFiles, tail.map(_.getPath).toIndexedSeq)
    fs.delete(sp, true)
    // the manifest now covers everything in the directory
    recordClustered(s, dir)
    tail.length
  }

  // q44 — INCREMENTAL OPTIMIZE under the DuckDB oracle: a z-ordered base
  // (70% of orders), five appended unsorted ingest files (the steady
  // ingest state), one incrementalZorder pass. The gate proves the
  // three-sided contract in one hash compare plus in-gate requires:
  // content preservation (read-back equals the straight-projection
  // oracle), O(tail) cost (every BASE file's mtime unchanged — only the
  // ingest tail was rewritten), and idempotence (a second pass rewrites
  // nothing). This is Delta/Iceberg OPTIMIZE's incremental mode built
  // on raw parquet + a file manifest.
  def q44IncrementalOptimize(s: SparkSession, d: String): DataFrame =
    CdcBinlog.withRotatingWorkdir("graft-q44") { work =>
      import s.implicits._
      val o = graft.core.Tables.orders(s, d).toDF()
        .select($"o_orderkey", $"o_custkey", $"o_totalprice",
          date_format($"o_orderdate", "yyyy-MM-dd HH:mm:ss").as("odate"))
      val out = work.resolve("table").toString
      val zcols = Seq("o_custkey", "o_totalprice")
      zorderCluster(o.filter($"o_orderkey" % 10 < 7), zcols, out, nFiles = 6)
      recordClustered(s, out)
      o.filter($"o_orderkey" % 10 >= 7).repartition(5)
        .write.mode("append").parquet(out)
      val p = new org.apache.hadoop.fs.Path(out)
      val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
      val baseMtimes = s.read.parquet(clusteredManifestPath(out)).as[String]
        .collect().map { n =>
          n -> fs.getFileStatus(new org.apache.hadoop.fs.Path(p, n))
            .getModificationTime
        }.toMap
      val rewritten = incrementalZorder(s, out, zcols, nFiles = 2)
      require(rewritten == 5,
        s"expected the 5 ingest files rewritten, got $rewritten")
      baseMtimes.foreach { case (n, t) =>
        require(fs.getFileStatus(
          new org.apache.hadoop.fs.Path(p, n)).getModificationTime == t,
          s"base file $n was rewritten — optimize was not incremental")
      }
      require(incrementalZorder(s, out, zcols, nFiles = 2) == 0,
        "second optimize pass rewrote files — not idempotent")
      s.read.parquet(out)
        .orderBy($"o_orderkey", $"o_custkey", $"o_totalprice", $"odate")
        .localCheckpoint(true)
        .orderBy($"o_orderkey", $"o_custkey", $"o_totalprice", $"odate")
    }

  val q44Sql: String =
    """SELECT o_orderkey, o_custkey, o_totalprice,
      |  strftime(o_orderdate, '%Y-%m-%d %H:%M:%S') AS odate
      |FROM orders
      |ORDER BY o_orderkey, o_custkey, o_totalprice, odate""".stripMargin

  // q36 — MANIFEST-DRIVEN data skipping under the DuckDB oracle: the
  // Iceberg/Delta pattern of planning a scan from file-level statistics,
  // built from Spark primitives and proven exact. The z-ordered table's
  // per-file envelopes ([[fileEnvelopes]] — the manifest) are consulted
  // for a predicate box (the bottom-quarter corner on both clustered
  // dims, bounds derived from the data so testdata regeneration cannot
  // break the gate); only overlapping files are read, the residual
  // filter is re-applied (envelope overlap is necessary, not
  // sufficient), and the result hash-matches the full-scan filter — the
  // skipping-correctness contract. The gate FAILS LOUDLY if nothing was
  // actually skipped: a quarter-box on a z-ordered 2-dim layout that
  // prunes zero of 8 files is a layout regression, not a pass. At 100 TB
  // the manifest is one slim row per file (collected: bounded by file
  // count, the same size any table-format planner holds), and the pruned
  // read never opens a skipped file's footer.
  def q36ManifestPrunedScan(s: SparkSession, d: String): DataFrame =
    CdcBinlog.withRotatingWorkdir("graft-q36") { work =>
      import s.implicits._
      val li = graft.core.Tables.lineitem(s, d).toDF()
        .select($"l_orderkey", $"l_linenumber", $"l_partkey", $"l_suppkey",
          $"l_quantity".cast("double").as("l_quantity"))
      val out = work.resolve("zordered").toString
      zorderCluster(li, Seq("l_partkey", "l_suppkey"), out, nFiles = 8)
      // predicate box: keys <= min + (max - min)/4 on both dims,
      // truncating long division — mirrored with // in the oracle SQL
      val b = li.agg(min($"l_partkey"), max($"l_partkey"),
        min($"l_suppkey"), max($"l_suppkey")).head()
      val pCut = b.getLong(0) + (b.getLong(1) - b.getLong(0)) / 4
      val sCut = b.getLong(2) + (b.getLong(3) - b.getLong(2)) / 4
      val env = fileEnvelopes(s, out, Seq("l_partkey", "l_suppkey")).collect()
      val keep = env.filter { r =>
        r.getAs[Long]("min_l_partkey") <= pCut &&
          r.getAs[Long]("min_l_suppkey") <= sCut
      }.map(_.getAs[String]("file"))
      require(keep.nonEmpty, "manifest pruning eliminated every file " +
        "(the box corner must live in some file)")
      require(keep.length < env.length, s"manifest pruning skipped nothing " +
        s"(${env.length} files, box l_partkey<=$pCut l_suppkey<=$sCut) — " +
        "z-order layout regression")
      s.read.parquet(keep.toIndexedSeq: _*)
        .filter($"l_partkey" <= pCut && $"l_suppkey" <= sCut)
        .orderBy($"l_orderkey", $"l_linenumber", $"l_partkey", $"l_suppkey",
          $"l_quantity")
        .localCheckpoint(true)
        .orderBy($"l_orderkey", $"l_linenumber", $"l_partkey", $"l_suppkey",
          $"l_quantity")
    }

  val q36Sql: String =
    """WITH b AS (
      |  SELECT MIN(l_partkey) + (MAX(l_partkey) - MIN(l_partkey)) // 4 AS pcut,
      |    MIN(l_suppkey) + (MAX(l_suppkey) - MIN(l_suppkey)) // 4 AS scut
      |  FROM lineitem)
      |SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey,
      |  CAST(l_quantity AS DOUBLE) AS l_quantity
      |FROM lineitem, b
      |WHERE l_partkey <= pcut AND l_suppkey <= scut
      |ORDER BY l_orderkey, l_linenumber, l_partkey, l_suppkey, l_quantity""".stripMargin

  /** Build a per-file Bloom-filter manifest over `keyCol` for a written
    * parquet dir: each row sets k=2 bit positions (xxhash64 under two
    * seeds, mod `mBits`), positions pack into 64-bit words, and a
    * `bit_or` aggregate per (file, word) ORs them together — bounded
    * state (≤ mBits/64 words per file regardless of row count) with
    * map-side partial combine, i.e. a genuinely distributed bloom build.
    * Returns sparse (file, word, bits) rows; an absent word is all-zero.
    * This is the statistic behind parquet column bloom filters and
    * Delta/Iceberg key-skipping: min/max envelopes cannot prune a point
    * lookup on a column uncorrelated with the layout order (every file
    * spans the whole keyspace); a bloom answers "definitely not in this
    * file" with no false negatives, so dropping non-matching files is
    * exact.
    */
  /** The k hash positions of `key` in an m-bit bloom — one definition
    * shared by every build and probe site (a build/probe seed mismatch
    * is a silent full-false-negative bloom).
    */
  def bloomPositions(key: Column, mBits: Long, k: Int): Column =
    array((1 to k).map(seed => pmod(xxhash64(key, lit(seed)), lit(mBits))): _*)

  /** Probe rows for one literal key: DISTINCT (word, bit) pairs (two
    * positions can collide into one pair — requiring k hits there would
    * false-negative the true file), eagerly detached so callers can
    * count them.
    */
  private[operators] def probeRows(s: SparkSession, key: Long, mBits: Long,
                                   k: Int): DataFrame = {
    import s.implicits._
    s.range(1).select(explode(bloomPositions(lit(key), mBits, k)).as("pos"))
      .select(expr("pos div 64").as("word"),
        expr("shiftleft(1L, int(pos % 64))").as("bit"))
      .distinct().localCheckpoint(true)
  }

  def bloomManifest(s: SparkSession, dir: String, keyCol: String,
                    mBits: Long, k: Int = 2): DataFrame = {
    import s.implicits._
    s.read.parquet(dir)
      .select(input_file_name().as("file"), col(keyCol).as("k"))
      .select($"file", explode(bloomPositions($"k", mBits, k)).as("pos"))
      .groupBy($"file", expr("pos div 64").as("word"))
      .agg(expr("bit_or(shiftleft(1L, int(pos % 64)))").as("bits"))
  }

  // q40 — BLOOM-FILTER file skipping under the DuckDB oracle: the
  // complement of q36's min/max manifest. Orders are laid out by
  // o_orderdate (the natural ingest order); o_orderkey is uncorrelated
  // with date (measured |corr| ≈ 0.03 on this data), so for a key point
  // lookup every file's min/max envelope spans the probe and skips
  // NOTHING — the gate asserts exactly that, then prunes with the bloom
  // manifest instead. The probe (the latest order's key — derived from
  // the data, regeneration-proof) keeps only files whose bloom matches
  // on BOTH hash positions; no false negatives means every file that
  // holds the key survives, so re-reading the kept files with the
  // residual filter is hash-exact vs the full-scan oracle. The gate
  // fails loudly if the bloom skipped no files (sizing regression: m is
  // 16 bits/key, k=2 → ~1.5 % false-positive files). At 100 TB the
  // manifest is mBits/64 words per file — the same order as the bloom
  // pages a parquet footer already carries — and membership is probed
  // HERE via a 2-row broadcast join so the per-file word map never
  // leaves the cluster; only kept file names are collected.
  def q40BloomPrunedScan(s: SparkSession, d: String): DataFrame =
    q40BloomPrunedScanWith(s, d)

  /** q40 with the bloom parameters exposed: `bitsPerKey` sizes m from
    * the per-file key count, `kHashes` is the hash-function count. The
    * defaults (16, 2) are the gate's values (~1.5 % false-positive
    * files); ANY (k, m) yields the same query RESULT — the bloom has no
    * false negatives at any parameterization, only a different
    * files-kept count — which BloomSkipSpec pins over k in {1, 2, 4}.
    */
  private[operators] def q40BloomPrunedScanWith(
      s: SparkSession, d: String,
      bitsPerKey: Long = 16L, kHashes: Int = 2): DataFrame =
    CdcBinlog.withRotatingWorkdir("graft-q40") { work =>
      import s.implicits._
      val o = graft.core.Tables.orders(s, d).toDF()
        .select($"o_orderkey", $"o_custkey", $"o_orderstatus",
          $"o_totalprice", $"o_orderdate")
      val out = work.resolve("bydate").toString
      val nFiles = 8
      linearCluster(o, "o_orderdate", out, nFiles)
      val total = s.read.parquet(out).count()
      val mBits = math.max(1024L, bitsPerKey * (total / nFiles + 1))
      val probe = o.orderBy($"o_orderdate".desc, $"o_orderkey".desc)
        .select($"o_orderkey").head().getLong(0)
      // layout-stats null result: every file's key envelope spans the probe
      val env = fileEnvelopes(s, out, Seq("o_orderkey")).collect()
      val minmaxKeep = env.count(r => r.getAs[Long]("min_o_orderkey") <= probe &&
        probe <= r.getAs[Long]("max_o_orderkey"))
      require(minmaxKeep == env.length, s"min/max pruned a key lookup on a " +
        "date layout — key/date correlation appeared in testdata; q40's " +
        "premise needs re-checking")
      val man = bloomManifest(s, out, "o_orderkey", mBits, kHashes)
      val pp = probeRows(s, probe, mBits, kHashes)
      val need = pp.count()
      val keep = man.join(broadcast(pp), "word")
        .filter(($"bits".bitwiseAND($"bit")) =!= 0)
        .groupBy($"file").agg(count(lit(1)).as("hits"))
        .filter($"hits" === need)
        .select($"file").as[String].collect()
      require(keep.nonEmpty, "bloom pruning eliminated every file — the " +
        "probe key was just read from the table, so some file holds it")
      require(keep.length < env.length, s"bloom pruning skipped nothing " +
        s"(${env.length} files, mBits=$mBits) — sizing regression")
      s.read.parquet(keep.toIndexedSeq: _*)
        .filter($"o_orderkey" === probe)
        .select($"o_orderkey", $"o_custkey", $"o_orderstatus",
          $"o_totalprice",
          date_format($"o_orderdate", "yyyy-MM-dd HH:mm:ss").as("odate"))
        .orderBy($"o_orderkey", $"o_custkey", $"odate")
        .localCheckpoint(true)
        .orderBy($"o_orderkey", $"o_custkey", $"odate")
    }

  val q40Sql: String =
    """WITH probe AS (
      |  SELECT o_orderkey AS k FROM orders
      |  ORDER BY o_orderdate DESC, o_orderkey DESC LIMIT 1)
      |SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
      |  strftime(o_orderdate, '%Y-%m-%d %H:%M:%S') AS odate
      |FROM orders, probe
      |WHERE o_orderkey = probe.k
      |ORDER BY o_orderkey, o_custkey, odate""".stripMargin

  // q41 — SURGICAL DELETE under the DuckDB oracle: the
  // right-to-be-forgotten / targeted-retention write path. Deleting one
  // key from a 100 TB table must not rewrite the table; the deletion
  // cost should scale with the files that HOLD the key. The bloom
  // manifest (q40's, over o_custkey) names the candidate files — no
  // false negatives, so every file holding the victim is a candidate
  // and dropping the rest from the rewrite set is exact; candidates are
  // re-written without the victim's rows into a staging dir and swapped
  // in file-by-file (Delta/Iceberg's rewrite-files commit, on raw
  // parquet), while every non-candidate file is left PHYSICALLY
  // untouched — the gate asserts both that some files were untouched
  // (surgical, not a table rewrite) and that untouched files' modify
  // times didn't change (actually untouched, not rewritten-identical).
  // The victim (the key with the fewest rows, ties to the smallest —
  // derived from data, regeneration-proof) spans few files of the
  // date-ordered layout; the read-back of untouched + rewritten files
  // hash-matches the full-table anti-filter oracle.
  def q41SurgicalDelete(s: SparkSession, d: String): DataFrame =
    q41SurgicalDeleteWith(s, d)

  /** q41 with (bitsPerKey, kHashes) exposed — same contract as
    * [[q40BloomPrunedScanWith]]: the rewrite set varies with the
    * parameters, the surviving table content never does.
    */
  private[operators] def q41SurgicalDeleteWith(
      s: SparkSession, d: String,
      bitsPerKey: Long = 16L, kHashes: Int = 2): DataFrame =
    CdcBinlog.withRotatingWorkdir("graft-q41") { work =>
      import s.implicits._
      val o = graft.core.Tables.orders(s, d).toDF()
        .select($"o_orderkey", $"o_custkey", $"o_orderstatus",
          $"o_totalprice", $"o_orderdate")
      val out = work.resolve("bydate").toString
      val nFiles = 8
      linearCluster(o, "o_orderdate", out, nFiles)
      val total = s.read.parquet(out).count()
      val mBits = math.max(1024L, bitsPerKey * (total / nFiles + 1))
      val victim = o.groupBy($"o_custkey").agg(count(lit(1)).as("n"))
        .orderBy($"n", $"o_custkey").select($"o_custkey").head().getLong(0)
      val man = bloomManifest(s, out, "o_custkey", mBits, kHashes)
      val pp = probeRows(s, victim, mBits, kHashes)
      val need = pp.count()
      val candidates = man.join(broadcast(pp), "word")
        .filter(($"bits".bitwiseAND($"bit")) =!= 0)
        .groupBy($"file").agg(count(lit(1)).as("hits"))
        .filter($"hits" === need)
        .select($"file").as[String].collect()
      val p = new org.apache.hadoop.fs.Path(out)
      val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
      val allFiles = fs.listStatus(p).filter(f =>
        f.isFile && !f.getPath.getName.startsWith("_"))
      require(candidates.nonEmpty && candidates.length < allFiles.length,
        s"bloom targeting degenerated (${candidates.length} of " +
          s"${allFiles.length} files) — delete would not be surgical")
      // compare by NAME: input_file_name() URIs (file:///…) don't
      // string-match Hadoop Path.toString (file:/…)
      val candidateNames = candidates
        .map(c => new org.apache.hadoop.fs.Path(c).getName).toSet
      val untouchedMtimes = allFiles
        .filterNot(f => candidateNames.contains(f.getPath.getName))
        .map(f => f.getPath.getName -> f.getModificationTime).toMap
      // rewrite ONLY the candidate files, minus the victim's rows
      val staging = work.resolve("staging").toString
      s.read.parquet(candidates.toIndexedSeq: _*)
        .filter($"o_custkey" =!= victim)
        .repartition(candidates.length)
        .write.mode("overwrite").parquet(staging)
      // file-level two-rename swap ([[fileLevelSwap]]): candidates are
      // renamed ASIDE into the marker-committed `.ftrash-*` dir (a
      // metadata op — never deleted before replacements are in), staged
      // replacements renamed in, trash dropped last. A crash mid-swap
      // leaves every displaced file intact under the trash name and is
      // rolled back deterministically by [[recoverPublish]]. (The
      // whole-directory set-aside of [[publishDir]] doesn't apply here:
      // non-candidate files must stay physically untouched in place.)
      val sp = new org.apache.hadoop.fs.Path(staging)
      val stagedFiles = fs.listStatus(sp)
        .filter(f => f.isFile && !f.getPath.getName.startsWith("_"))
        .map(_.getPath).toIndexedSeq
      fileLevelSwap(fs, p, stagedFiles,
        candidates.toIndexedSeq.map(c => new org.apache.hadoop.fs.Path(c)))
      // untouched files must be PHYSICALLY untouched
      fs.listStatus(p).filter(f => f.isFile && !f.getPath.getName.startsWith("_"))
        .foreach { f =>
          untouchedMtimes.get(f.getPath.getName).foreach { t =>
            require(f.getModificationTime == t,
              s"non-candidate file ${f.getPath.getName} was rewritten")
          }
        }
      s.read.parquet(out)
        .select($"o_orderkey", $"o_custkey", $"o_orderstatus",
          $"o_totalprice",
          date_format($"o_orderdate", "yyyy-MM-dd HH:mm:ss").as("odate"))
        .orderBy($"o_orderkey", $"o_custkey", $"odate", $"o_totalprice")
        .localCheckpoint(true)
        .orderBy($"o_orderkey", $"o_custkey", $"odate", $"o_totalprice")
    }

  val q41Sql: String =
    """WITH v AS (
      |  SELECT o_custkey AS vk FROM orders
      |  GROUP BY o_custkey ORDER BY COUNT(*), o_custkey LIMIT 1)
      |SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
      |  strftime(o_orderdate, '%Y-%m-%d %H:%M:%S') AS odate
      |FROM orders, v
      |WHERE o_custkey <> vk
      |ORDER BY o_orderkey, o_custkey, odate, o_totalprice""".stripMargin

  // q43 — SHARD EXPORT: the curation pipeline's last step — write the
  // corpus as size-budgeted shards in a deterministic order (training
  // readers address shards, so assignment must be reproducible). Shard
  // id = exclusive running character total div budget, over doc_id
  // order. The running total is NOT a global window (an unpartitioned
  // running sum funnels 100 TB through one task — the sweep's
  // anti-pattern): it is the classic TWO-PASS DISTRIBUTED PREFIX SUM —
  // range-partition by doc_id, per-partition running sums from a
  // partition-local window, per-partition TOTALS collected (bounded by
  // partition count) and turned into driver-side cumulative offsets
  // that join back as a tiny broadcast. The assignment depends only on
  // doc_id order, so the result is identical at any partition count —
  // which is exactly what the oracle's single global window computes.
  // The write is partitionBy(shard) parquet; the gate re-reads the
  // shards and hash-matches content + assignment against the oracle —
  // content-preserving AND reproducibly addressed.
  /** Range partition count for a prefix-sum pass over `path`, derived
    * from the input's on-disk size (metadata only — no data pass):
    * one range partition per ~`targetBytes` of input, floor 8. At the
    * gate's scale factors this resolves to 8 (matching earlier rounds'
    * literal); at 100 TB it resolves to ~10⁵ partitions, which is
    * exactly why the offsets rejoin below must be a broadcast JOIN and
    * not a per-partition expression chain.
    */
  private[graft] def prefixSumPartitions(
      s: SparkSession, path: String,
      targetBytes: Long = 64L << 20): Int = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    val bytes = fs.getContentSummary(p).getLength
    math.max(8L, (bytes + targetBytes - 1) / targetBytes).toInt
  }

  /** TWO-PASS DISTRIBUTED PREFIX SUM over `docs0` (doc_id, …, n_chars),
    * yielding the exclusive global running-char total bucketed by
    * `budget` as a `shard` column — identical to a single global
    * window's assignment at ANY partition count, without funneling the
    * table through one task. Pass 1: range-partition by doc_id,
    * partition-local running sums. Pass 2: per-partition totals
    * (bounded by partition count) → driver-side exclusive offsets →
    * rejoined as a TINY BROADCAST equi-join on the partition id. The
    * join is O(1) plan depth at any partition count — a per-partition
    * CASE chain would break codegen/analysis at the 10³–10⁵ partitions
    * 100 TB implies long before data volume matters.
    *
    * Correctness precondition: doc_id must be UNIQUE. Equal keys land
    * in one range partition (RangePartitioner maps a key value
    * deterministically), so duplicates would make tie order — and thus
    * the shard split point inside a tied run — partition-count-
    * dependent. The totals pass piggybacks a per-partition
    * count vs distinct-count check (no extra job) and fails fast.
    *
    * The assignment frame is handed to `use` while its persisted
    * intermediate is live, then released (the gate cache contract).
    */
  private[graft] def withShardAssignment[A](
      s: SparkSession, docs0: DataFrame, budget: Long, nPart: Int)(
      use: DataFrame => A): A = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val docs = docs0
      .repartitionByRange(nPart, $"doc_id")
      .withColumn("_pid", spark_partition_id())
    val wIn = Window.partitionBy($"_pid").orderBy($"doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val local = docs.withColumn("_cum_in", sum($"n_chars").over(wIn))
      .persist() // feeds the totals pass AND the assignment
    try {
      val totals = local.groupBy($"_pid")
        .agg(max($"_cum_in").as("t"), count(lit(1)).as("n"),
          countDistinct($"doc_id").as("nd"))
        .orderBy($"_pid").collect() // bounded by partition count
      totals.foreach { r =>
        require(r.getLong(2) == r.getLong(3),
          s"duplicate doc_id in partition ${r.getInt(0)}: shard " +
            "assignment of tied rows would depend on partition count")
      }
      var acc = 0L
      val offRows = totals.map { r =>
        val o = (r.getInt(0), acc); acc += r.getLong(1); o
      }.toSeq
      val offs = offRows.toDF("_pid", "_off")
      val assigned = local
        .join(broadcast(offs), Seq("_pid"))
        // exclusive global running total div budget — all operands
        // non-negative, truncating div matches DuckDB's //
        .withColumn("shard",
          expr(s"(_cum_in + _off - n_chars) div ${budget}L"))
      use(assigned)
    } finally local.unpersist()
  }

  def q43ShardExport(s: SparkSession, d: String): DataFrame =
    CdcBinlog.withRotatingWorkdir("graft-q43") { work =>
      import s.implicits._
      val budget = 20000L // chars per shard
      val nPart = prefixSumPartitions(s, s"$d/documents.parquet")
      val docs = graft.core.Tables.documents(s, d).toDF()
        .select($"doc_id", $"lang", $"source", $"n_chars")
      val out = work.resolve("shards").toString
      withShardAssignment(s, docs, budget, nPart) { assigned =>
        assigned
          .select($"doc_id", $"lang", $"source", $"n_chars", $"shard")
          .write.mode("overwrite").partitionBy("shard").parquet(out)
      }
      s.read.parquet(out)
        .select($"doc_id", $"lang", $"source", $"n_chars",
          $"shard".cast("long").as("shard"))
        .orderBy($"doc_id")
        .localCheckpoint(true)
        .orderBy($"doc_id")
    }

  val q43Sql: String =
    """WITH a AS (
      |  SELECT doc_id, lang, source, n_chars,
      |    SUM(n_chars) OVER (ORDER BY doc_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_chars
      |      AS cum_ex
      |  FROM documents)
      |SELECT doc_id, lang, source, n_chars,
      |  CAST(cum_ex // 20000 AS BIGINT) AS shard
      |FROM a
      |ORDER BY doc_id""".stripMargin

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q43_shard_export" -> q43ShardExport _,
    "q44_incremental_optimize" -> q44IncrementalOptimize _,
    "q35_zorder_layout" -> q35ZorderLayout _,
    "q36_manifest_pruned_scan" -> q36ManifestPrunedScan _,
    "q40_bloom_pruned_scan" -> q40BloomPrunedScan _,
    "q41_surgical_delete" -> q41SurgicalDelete _)

  def oracles: Map[String, String] = Map(
    "q43_shard_export" -> q43Sql,
    "q44_incremental_optimize" -> q44Sql,
    "q35_zorder_layout" -> q35Sql,
    "q36_manifest_pruned_scan" -> q36Sql,
    "q40_bloom_pruned_scan" -> q40Sql,
    "q41_surgical_delete" -> q41Sql)
}
