package graft.operators

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** The cross-process fold lease ([[Layout.withFoldLease]]): the
  * never-concurrent-folds contract was only enforced in-process (the
  * serialized foreachBatch driver) — the lease extends it across
  * processes. Pinned here: a contending fold FAILS BY NAME while the
  * lease is held; a dead holder's lease is taken over on acquire and
  * cleared by [[Layout.recoverPublish]]; a live holder's is neither;
  * release only removes the owner's own lease; and a real compactor
  * under contention loses loudly without corrupting the structure.
  */
class FoldLeaseSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private def fs = new org.apache.hadoop.fs.Path("/tmp")
    .getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def livePath(): org.apache.hadoop.fs.Path = {
    val work = java.nio.file.Files.createTempDirectory("graft-lease")
    new org.apache.hadoop.fs.Path(work.resolve("structure").toString)
  }

  test("second acquirer fails by name while the lease is held; acquire works after release") {
    val live = livePath()
    val token = Layout.acquireFoldLease(fs, live)
    val e = intercept[IllegalStateException] {
      Layout.acquireFoldLease(fs, live)
    }
    assert(e.getMessage.contains("fold lease") &&
      e.getMessage.contains("concurrent folds"), e.getMessage)
    // the loser's failure names the holder (pid is our own here)
    assert(e.getMessage.contains(s"pid=${ProcessHandle.current().pid()}"))
    Layout.releaseFoldLease(fs, live, token)
    val token2 = Layout.acquireFoldLease(fs, live)
    Layout.releaseFoldLease(fs, live, token2)
    assert(!fs.exists(Layout.foldLeasePath(live)))
  }

  test("two threads race one structure: exactly one wins, the loser fails by name") {
    val live = livePath()
    val results = new java.util.concurrent.ConcurrentLinkedQueue[Either[Throwable, String]]()
    val barrier = new java.util.concurrent.CyclicBarrier(2)
    val hold = new java.util.concurrent.CountDownLatch(1)
    def contender() = new Thread(() => {
      barrier.await()
      try {
        val t = Layout.acquireFoldLease(fs, live)
        results.add(Right(t))
        hold.await(30, java.util.concurrent.TimeUnit.SECONDS)
        Layout.releaseFoldLease(fs, live, t)
      } catch { case e: Throwable => results.add(Left(e)) }
    })
    val a = contender(); val b = contender()
    a.start(); b.start()
    // wait until both attempted
    val deadline = System.nanoTime() + 30000000000L
    while (results.size < 2 && System.nanoTime() < deadline) Thread.sleep(5)
    hold.countDown()
    a.join(30000); b.join(30000)
    val (losers, winners) = results.toArray.toVector
      .map(_.asInstanceOf[Either[Throwable, String]])
      .partition(_.isLeft)
    assert(winners.size == 1 && losers.size == 1,
      s"expected exactly one winner and one named loser, got $results")
    val err = losers.head.left.toOption.get
    assert(err.isInstanceOf[IllegalStateException] &&
      err.getMessage.contains("fold lease"), err.toString)
  }

  test("a dead holder's lease is taken over on acquire") {
    val live = livePath()
    val lease = Layout.foldLeasePath(live)
    // a PID that cannot exist (pid_max is far below this) = a dead holder
    val out = fs.create(lease, false)
    try out.write(
      ("pid=999999999;host=" + java.net.InetAddress.getLocalHost.getHostName +
        ";ts=0;nonce=0").getBytes("UTF-8"))
    finally out.close()
    val token = Layout.acquireFoldLease(fs, live)
    assert(token.contains(s"pid=${ProcessHandle.current().pid()}"))
    Layout.releaseFoldLease(fs, live, token)
    assert(!fs.exists(lease))
  }

  test("cross-host rule: a foreign host's lease is taken over only past the stale window") {
    val live = livePath()
    val lease = Layout.foldLeasePath(live)
    // pid 1 IS alive on this host — but the recorded host differs, so
    // PID liveness must not be consulted; only the age rule applies
    def plant(): Unit = {
      val out = fs.create(lease, false)
      try out.write("pid=1;host=elsewhere;ts=0;nonce=0".getBytes("UTF-8"))
      finally out.close()
    }
    plant()
    // fresh file: within the stale window → the acquire must FAIL
    val e = intercept[IllegalStateException] {
      Layout.acquireFoldLease(fs, live)
    }
    assert(e.getMessage.contains("host=elsewhere"), e.getMessage)
    // age the file past the window → takeover succeeds
    java.nio.file.Files.setLastModifiedTime(
      java.nio.file.Paths.get(lease.toUri.getPath),
      java.nio.file.attribute.FileTime.fromMillis(
        System.currentTimeMillis() - 31L * 60 * 1000))
    val token = Layout.acquireFoldLease(fs, live)
    assert(token.contains(s"pid=${ProcessHandle.current().pid()}"))
    Layout.releaseFoldLease(fs, live, token)
  }

  test("recoverPublish clears a dead holder's lease but never a live one") {
    val live = livePath()
    fs.mkdirs(live) // recoverPublish wants a live structure to inspect
    val lease = Layout.foldLeasePath(live)
    val out = fs.create(lease, false)
    try out.write(
      ("pid=999999999;host=" + java.net.InetAddress.getLocalHost.getHostName +
        ";ts=0;nonce=0").getBytes("UTF-8"))
    finally out.close()
    val report = Layout.recoverPublish(fs, live)
    assert(report.contains("cleared dead holder's fold lease"), report)
    assert(!fs.exists(lease))
    // a LIVE holder (this process) must be left alone
    val token = Layout.acquireFoldLease(fs, live)
    val report2 = Layout.recoverPublish(fs, live)
    assert(report2.contains("LIVE holder"), report2)
    assert(fs.exists(lease))
    Layout.releaseFoldLease(fs, live, token)
  }

  test("release removes only the owner's own lease") {
    val live = livePath()
    val token = Layout.acquireFoldLease(fs, live)
    // a takeover stole the lease while we ran (simulated): content differs
    fs.delete(Layout.foldLeasePath(live), false)
    val thief = Layout.acquireFoldLease(fs, live)
    Layout.releaseFoldLease(fs, live, token) // must NOT delete the thief's
    assert(fs.exists(Layout.foldLeasePath(live)),
      "releasing a stolen lease deleted the new holder's lock")
    Layout.releaseFoldLease(fs, live, thief)
    assert(!fs.exists(Layout.foldLeasePath(live)))
  }

  test("takeover race: two contenders at the same stale lease — exactly one wins") {
    // the round-16 delete-then-create takeover could let BOTH in when
    // the second contender's delete landed after the first's fresh
    // create; the rename-to-nonce claim is single-winner. Race it
    // repeatedly to shake interleavings.
    for (rep <- 0 until 20) {
      val live = livePath()
      val lease = Layout.foldLeasePath(live)
      val out = fs.create(lease, false)
      try out.write("pid=1;host=elsewhere;ts=0;nonce=0".getBytes("UTF-8"))
      finally out.close()
      java.nio.file.Files.setLastModifiedTime(
        java.nio.file.Paths.get(lease.toUri.getPath),
        java.nio.file.attribute.FileTime.fromMillis(
          System.currentTimeMillis() - 31L * 60 * 1000))
      val results = new java.util.concurrent.ConcurrentLinkedQueue[Either[Throwable, String]]()
      val barrier = new java.util.concurrent.CyclicBarrier(2)
      def contender() = new Thread(() => {
        barrier.await()
        try results.add(Right(Layout.acquireFoldLease(fs, live)))
        catch { case e: Throwable => results.add(Left(e)) }
      })
      val a = contender(); val b = contender()
      a.start(); b.start(); a.join(30000); b.join(30000)
      val (losers, winners) = results.toArray.toVector
        .map(_.asInstanceOf[Either[Throwable, String]])
        .partition(_.isLeft)
      assert(winners.size == 1,
        s"rep $rep: expected exactly one stale-takeover winner, got: $results")
      assert(winners.size + losers.size == 2, s"rep $rep: lost a contender")
      // whoever won is the recorded holder; losers failed by name
      winners.headOption.foreach { w =>
        val content = {
          val in = fs.open(lease)
          try scala.io.Source.fromInputStream(in, "UTF-8").mkString
          finally in.close()
        }
        assert(content == w.toOption.get,
          s"rep $rep: lease content is not the winner's token")
      }
      losers.foreach(l => assert(
        l.left.toOption.get.getMessage.contains("fold lease"), s"rep $rep: $l"))
      // no claim tombstone leaked (winner deletes its own; loser never
      // renamed)
      val leaked = fs.listStatus(live.getParent).map(_.getPath.getName)
        .filter(_.contains(".claim-"))
      assert(leaked.isEmpty, s"rep $rep: leaked claim tombstones: ${leaked.toSeq}")
    }
  }

  test("claim verify: an outdated staleness judgment restores a fresh lease, never steals it") {
    // between contender B's staleness judgment and its rename, the dead
    // lease can be claimed AND replaced by a fresh holder A — B's claim
    // must detect the content mismatch, put A's lease back, and lose
    val live = livePath()
    val lease = Layout.foldLeasePath(live)
    val fresh = Layout.acquireFoldLease(fs, live) // A's live lease
    val claimed = Layout.claimStaleLease(fs, lease,
      Some("pid=1;host=elsewhere;ts=0;nonce=0")) // B judged the OLD content stale
    assert(!claimed, "claim won against a lease whose content changed after the judgment")
    assert(fs.exists(lease), "the fresh holder's lease was not restored")
    val content = {
      val in = fs.open(lease)
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close()
    }
    assert(content == fresh, "restored lease is not the fresh holder's")
    val leaked = fs.listStatus(live.getParent).map(_.getPath.getName)
      .filter(_.contains(".claim-"))
    assert(leaked.isEmpty, s"leaked claim tombstones: ${leaked.toSeq}")
    Layout.releaseFoldLease(fs, live, fresh)
  }

  test("heartbeat: a slow-but-ALIVE holder past the stale window is not stolen; a non-beating stale one is") {
    // pre-heartbeat, olderThanWindow alone judged a lease stale — so a
    // fold legitimately slower than the window was stolen from a live
    // holder. The heartbeat refreshes mtime every staleMs/6; age past
    // the window now means the holder stopped beating.
    val live = livePath()
    val staleMs = 900L
    val holderDone = new java.util.concurrent.CountDownLatch(1)
    val bodyEntered = new java.util.concurrent.CountDownLatch(1)
    val holder = new Thread(() => {
      Layout.withFoldLease(fs, live, staleMs) {
        bodyEntered.countDown()
        // hold WELL past the stale window while the heartbeat beats
        Thread.sleep(3 * staleMs)
      }
      holderDone.countDown()
    })
    holder.start()
    assert(bodyEntered.await(30, java.util.concurrent.TimeUnit.SECONDS))
    Thread.sleep(2 * staleMs) // deep past the window; ~12 beats have fired
    val e = intercept[IllegalStateException] {
      Layout.acquireFoldLease(fs, live, staleMs)
    }
    assert(e.getMessage.contains("fold lease"),
      s"a heartbeating live holder was stolen from: $e")
    assert(holderDone.await(30, java.util.concurrent.TimeUnit.SECONDS))
    assert(!fs.exists(Layout.foldLeasePath(live)), "holder did not release")
    // contrast: the same age WITHOUT a heartbeat (a planted foreign
    // lease) is taken over — slow≠dead, but silent-for-the-window=dead
    val lease = Layout.foldLeasePath(live)
    val out = fs.create(lease, false)
    try out.write("pid=1;host=elsewhere;ts=0;nonce=0".getBytes("UTF-8"))
    finally out.close()
    java.nio.file.Files.setLastModifiedTime(
      java.nio.file.Paths.get(lease.toUri.getPath),
      java.nio.file.attribute.FileTime.fromMillis(
        System.currentTimeMillis() - 2 * staleMs))
    val token = Layout.acquireFoldLease(fs, live, staleMs)
    assert(token.contains(s"pid=${ProcessHandle.current().pid()}"))
    Layout.releaseFoldLease(fs, live, token)
  }

  test("heartbeat fallback: where setTimes does not stick, the beat rewrites the token — slow-alive is still not stolen") {
    // object-store FileSystems no-op or reject setTimes; there every
    // mtime beat silently failed and "older than window" again
    // conflated slow with dead (ADVICE r17). The acquire-time probe
    // (touch + re-stat) must detect the no-op and fall back to
    // rewriting the identical token bytes — a PUT refreshes the
    // object timestamp where a touch cannot.
    val noTouch = new org.apache.hadoop.fs.RawLocalFileSystem() {
      override def getScheme: String = "file" // raw local leaves it abstract
      override def setTimes(p: org.apache.hadoop.fs.Path,
                            mtime: Long, atime: Long): Unit = ()
    }
    noTouch.initialize(new java.net.URI("file:///"),
      spark.sparkContext.hadoopConfiguration)
    val live = livePath()
    val staleMs = 900L
    val lease = Layout.foldLeasePath(live)
    val holderDone = new java.util.concurrent.CountDownLatch(1)
    val bodyEntered = new java.util.concurrent.CountDownLatch(1)
    val holderErr = new java.util.concurrent.atomic.AtomicReference[Throwable]()
    val holder = new Thread(() => {
      try {
        Layout.withFoldLease(noTouch, live, staleMs) {
          bodyEntered.countDown()
          Thread.sleep(3 * staleMs) // well past the window; beats must rewrite
        }
        holderDone.countDown()
      } catch { case t: Throwable => holderErr.set(t) }
    })
    holder.start()
    assert(bodyEntered.await(30, java.util.concurrent.TimeUnit.SECONDS),
      s"holder failed to acquire: ${holderErr.get()}")
    Thread.sleep(2 * staleMs)
    // the on-disk mtime really moved (the rewrite carried it, since
    // setTimes is a no-op on this FS) ...
    val age = System.currentTimeMillis() -
      noTouch.getFileStatus(lease).getModificationTime
    assert(age < staleMs, s"beat never refreshed the lease (age ${age}ms)")
    // ... so a contender — even one judging through the same no-op FS —
    // sees a fresh lease and fails by name
    val e = intercept[IllegalStateException] {
      Layout.acquireFoldLease(noTouch, live, staleMs)
    }
    assert(e.getMessage.contains("fold lease"),
      s"a rewrite-heartbeating live holder was stolen from: $e")
    assert(holderDone.await(30, java.util.concurrent.TimeUnit.SECONDS))
    assert(!noTouch.exists(lease), "holder did not release its own lease")
  }

  test("two JVMs: loser names the foreign holder; a KILLED holder is taken over") {
    val live = livePath()
    val javaBin = System.getProperty("java.home") + "/bin/java"
    val cp = System.getProperty("java.class.path")
    val proc = new ProcessBuilder(javaBin, "-cp", cp,
        "graft.operators.LeaseHolderMain", live.toString, "120000")
      .redirectErrorStream(true).start()
    try {
      val reader = new java.io.BufferedReader(
        new java.io.InputStreamReader(proc.getInputStream))
      // skip log noise until the child's HELD marker
      val deadline = System.nanoTime() + 60000000000L
      var line = reader.readLine()
      while (line != null && line.trim != "HELD" &&
        System.nanoTime() < deadline) line = reader.readLine()
      assert(line != null && line.trim == "HELD",
        "child JVM never acquired the lease")
      // a REAL second process holds the lock: this JVM must lose by
      // name, and the name must be the child's pid, not ours
      val e = intercept[IllegalStateException] {
        Layout.acquireFoldLease(fs, live)
      }
      assert(e.getMessage.contains(s"pid=${proc.pid()}"), e.getMessage)
      // the holder dies without releasing (kill -9 shape): the next
      // acquire must take the lease over via the dead-PID rule
      proc.destroyForcibly()
      proc.waitFor(30, java.util.concurrent.TimeUnit.SECONDS)
      val token = Layout.acquireFoldLease(fs, live)
      assert(token.contains(s"pid=${ProcessHandle.current().pid()}"))
      Layout.releaseFoldLease(fs, live, token)
      assert(!fs.exists(Layout.foldLeasePath(live)))
    } finally { proc.destroyForcibly(); () }
  }

  test("a real compactor loses by name under a held lease; the structure is intact") {
    import spark.implicits._
    graft.functions.GraftFunctions.register(spark)
    val work = java.nio.file.Files.createTempDirectory("graft-lease-cdc")
    val idx = work.resolve("index").toString
    (0 until 3).foreach { b =>
      val imgs = Seq((1L + b, s"alpha doc$b", b.toLong, false))
        .toDF("doc_id", "text", "ver", "deleted")
      assert(TextAnalysis.appendCdcTextSegment(imgs, idx, f"b$b%06d", nBuckets = 4))
    }
    val live = new org.apache.hadoop.fs.Path(idx)
    val before = ManifestFixtures.segs(spark, idx)
    val gensBefore = ManifestFixtures.generations(idx)
    val token = Layout.acquireFoldLease(fs, live)
    val e = intercept[IllegalStateException] {
      TextAnalysis.compactCdcTextIndex(spark, idx, nBuckets = 4)
    }
    assert(e.getMessage.contains("fold lease"), e.getMessage)
    // the loser failed BEFORE staging: no new generation, segments untouched
    assert(ManifestFixtures.segs(spark, idx) === before)
    assert(ManifestFixtures.generations(idx) === gensBefore)
    Layout.releaseFoldLease(fs, live, token)
    // and with the lease gone the same fold succeeds
    TextAnalysis.compactCdcTextIndex(spark, idx, nBuckets = 4)
    assert(ManifestFixtures.segs(spark, idx) === Set("seg=base"))
  }
}
